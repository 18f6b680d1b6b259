"""Seeded input generation for the benchmark.

Every run derives its inputs from the fixture committed beside this file
(`fixture/<scale>/`, the library's test-data star schema plus the text,
embedding and event tables) with seeded transforms in the style of the
library's `graft.GenSf1`:

- row permutation: every table is written in a seeded row order, which
  moves rows between files, partitions and summation orders;
- key offsets: the relational and event surrogate keys are shifted by
  seeded multiples of 10^6, consistently on both sides of every join;
- id permutation: `doc_id` and `vec_id` are permuted within their own id
  set, which changes the seeded split of the append delta (the queries
  treat the highest tenth of ids as late arrivals) and the ANN query
  set (`vec_id < 10`);
- isometric embedding rotation: the dimensions are rotated cyclically by
  a seeded amount, which keeps every cosine but moves the vectors across
  the product-quantizer subspaces.

The same seed gives the same tables. The generator runs single-threaded
so the written files are byte-identical across runs.
"""

import hashlib
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# column -> key space; one offset per key space keeps joins intact
KEY_SPACES = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
}


def _seeded(seed: int, label: str, mod: int) -> int:
    h = hashlib.sha256(f"{seed}:{label}".encode()).digest()
    return int.from_bytes(h[:8], "big") % mod


def key_offset(seed: int, space: str) -> int:
    return (1 + _seeded(seed, space, 500)) * 1_000_000


def rotation(seed: int) -> int:
    return 1 + _seeded(seed, "rotation", 63)


def _id_permuted(table: str, key: str, seed: int) -> str:
    """`table` with `key` remapped by a seeded permutation of its ids."""
    return f"""
      WITH ids AS (
        SELECT {key} AS k,
               row_number() OVER (ORDER BY {key}) AS r_sorted,
               row_number() OVER (ORDER BY md5({key}::VARCHAR || ':{seed}'), {key}) AS r_perm
        FROM src)
      SELECT src.* REPLACE (m.k AS {key})
      FROM src JOIN ids a ON src.{key} = a.k JOIN ids m ON m.r_sorted = a.r_perm"""


def generate(fixture: str, out: str, seed: int) -> dict:
    """Write the seeded tables to `out`; return {table: {rows, bytes}}."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    rot = rotation(seed)
    info = {}
    for t in TABLES:
        src = os.path.join(fixture, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE TEMP VIEW src AS SELECT * FROM read_parquet('{src}')")
        body = "SELECT * FROM src"
        if t == "documents":
            body = _id_permuted(t, "doc_id", seed)
        elif t == "embeddings":
            body = f"""
              SELECT * REPLACE (
                CAST(list_transform(range(0, len(embedding)),
                  j -> embedding[((j + {rot}) % len(embedding)) + 1]) AS FLOAT[]) AS embedding)
              FROM ({_id_permuted(t, "vec_id", seed)})"""
        offsets = ", ".join(
            f"{c} + {key_offset(seed, s)} AS {c}"
            for c, s in KEY_SPACES.get(t, {}).items())
        sel = f"SELECT * REPLACE ({offsets}) FROM ({body})" if offsets else body
        dst = os.path.join(out, f"{t}.parquet")
        con.execute(f"""
          COPY (SELECT * FROM ({sel}) r ORDER BY md5(CAST(r AS VARCHAR) || ':{seed}'))
          TO '{dst}' (FORMAT PARQUET)""")
        rows = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        info[t] = {"rows": rows, "bytes": os.path.getsize(dst)}
    con.close()
    return info


def fingerprint(out: str) -> str:
    """sha256 over the generated files, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()[:16]
