"""Output checks of a benchmark run.

The JVM hashes every call's output and fails any call whose output differs
from the first output of the same query in the run. That first output is
dumped to parquet and checked here against DuckDB replaying
`SparkEntry.oracleSql` on the same generated input, with the compare of the
repo's `tools/check.py`: column names sorted, then rows compared as an
order-independent multiset. The multiset is reduced to one hash per side,
so an expected hash can be computed once per seed and compared (and, in the
benchmark's own test, replaced by a wrong one). ANN results are checked by
recall against the exact search.
"""

import glob
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def _value(v) -> str:
    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (float, np.floating)):
        return "∅" if math.isnan(v) else format(float(v), ".9g")
    return str(v)


def _strings(s: pd.Series) -> list:
    """A column as check.py compares it: floats by value, the rest as str."""
    if pd.api.types.is_float_dtype(s):
        return [_value(v) for v in s]
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return list(s.dt.tz_convert(None).astype(str))
    if s.dtype == object and any(isinstance(v, (list, tuple, np.ndarray, dict)) for v in s):
        return [_value(v) for v in s]
    return list(s.astype(str))


def frame_hash(df: pd.DataFrame) -> str:
    """Order-independent hash of a result: sorted columns, sorted rows."""
    cols = sorted(df.columns)
    rows = sorted("\x01".join(r) for r in zip(*(_strings(df[c]) for c in cols))) if len(df) else []
    h = hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode())
    return h.hexdigest()[:16]


def _read_dump(dumps: str, query: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(dumps, query, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no dumped output for {query}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def expected_hashes(data: str, sqls: dict) -> dict:
    con = duckdb.connect()
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for q, sql in sorted(sqls.items()):
        try:
            df = con.sql(sql).df()
            out[q] = {"hash": frame_hash(df), "rows": len(df)}
        except duckdb.Error as e:
            out[q] = {"hash": f"oracle failed: {e}", "rows": -1}
    con.close()
    return out


def recall_at_10(ann: pd.DataFrame, exact: pd.DataFrame) -> float:
    got = ann.groupby("qid")["vec_id"].apply(set).to_dict()
    recalls = [len(got.get(q, set()) & set(ids)) / len(ids)
               for q, ids in exact.groupby("qid")["vec_id"].apply(set).items() if ids]
    return sum(recalls) / len(recalls) if recalls else 0.0


def check(data: str, dumps: str, res: dict, w: dict, overrides: dict) -> dict:
    failures, checked = [], {}
    # the ANN query is checked by recall; its oracle replays the index
    # build in SQL and costs more than the whole timed phase
    sqls = {q: s for q, s in res["oracle_sql"].items() if q != w.get("ann")}
    expected = expected_hashes(data, sqls)
    for q, exp in expected.items():
        want = overrides.get(q, exp["hash"])
        try:
            got = _read_dump(dumps, q)
        except FileNotFoundError as e:
            failures.append(f"{q}: {e}")
            continue
        h = frame_hash(got)
        checked[q] = {"expected": want, "actual": h, "rows": len(got)}
        if h != want:
            failures.append(f"{q}: output hash {h} != expected {want} "
                            f"(rows spark={len(got)} oracle={exp['rows']})")
    unchecked = sorted(set(res["expected"]) - set(expected) - {w.get("ann")})
    out = {"failures": failures, "oracle": checked, "no_oracle": unchecked}
    if w.get("ann"):
        r = recall_at_10(_read_dump(dumps, w["ann"]), _read_dump(dumps, w["exact"]))
        out["recall_at_10"] = r
        if r < w["min_recall_at_10"]:
            failures.append(f"{w['ann']}: recall@10 {r:.3f} below {w['min_recall_at_10']}")
    return out
