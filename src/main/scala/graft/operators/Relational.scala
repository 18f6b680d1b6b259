package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Relational core (SURVEY §2 B1–B2, B4–B6, B13–B14).
  *
  * Reference grounding: the reference's programming model is arbitrary
  * Map/Reduce over keyed data (`/root/reference/mp/worker.go:14-17`);
  * every operator here is the declarative Spark form of a classic
  * MapReduce composition (scan = map over splits `test.go:16-25`,
  * group-aggregate = in-mapper combine + reduce merge `test.go:15,51`,
  * set-union = the reducer's n-way merge `test.go:52-65`).
  *
  * Scale notes (100 TB design point):
  *  - Projections/filters are plain Catalyst exprs so they reach the
  *    parquet scan (PushedFilters / ReadSchema pruning) — at 100 TB the
  *    scan is the dominant cost and pushdown is the biggest lever.
  *  - Aggregations rely on the planner's partial/final HashAggregate
  *    split (map-side combine) — shuffled bytes are per-group, not
  *    per-row.
  *  - Top-k goes through TakeOrderedAndProject (per-partition heap +
  *    driver merge of k·P rows), never a global sort.
  *  - Float aggregates are rounded so results are stable across
  *    summation orders (AQE may change partition counts run-to-run).
  */
object Relational {

  /** B1 q_scan_project: columnar scan + narrow projection. */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** B2 q_filter: conjunctive predicate, both legs parquet-pushable. */
  def filterQuery(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .where(col("l_quantity") > 30 && col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))

  /** B4 q_group_sum: TPC-H Q1-shaped hash aggregation (partial+final). */
  def groupSum(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("cnt"))

  /** B5 q_distinct: exact distinct count per group. At 100 TB the scale
    * path is `approx_count_distinct` (HLL sketch, no per-key shuffle);
    * kept exact here because the oracle is exact. */
  def distinctCount(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("uniq_custs"),
        count(lit(1)).as("cnt"))

  /** Scale path for B5 (q_approx_distinct): HyperLogLog++ sketch
    * (Flajolet et al., "HyperLogLog", AofA 2007; Heule-Nunkesser-Hall,
    * EDBT 2013) — one pass, no per-key shuffle, constant memory per
    * group; the 100 TB form of COUNT(DISTINCT). No oracle (DuckDB's
    * approx algorithm differs); ScalaTest bounds it vs the exact count. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        approx_count_distinct(col("o_custkey"), rsd = 0.02).as("approx_custs"),
        count(lit(1)).as("cnt"))

  /** q_approx_distinct_det: the same HLL idea as q_approx_distinct, but
    * ENGINE-INDEPENDENTLY deterministic — so the whole sketch pipeline
    * (hash → bucket → rank → register merge → estimator) is replayed
    * bit-for-bit by the DuckDB oracle. Every step is integer-domain:
    *
    *  - hash: FNV-1a 32-bit of the key's decimal string (the codegen
    *    `Fnv32a` Expression, same byte loop as q_udf_fnv's oracle),
    *    then the `Fnv32a.mix32` avalanche finalizer — raw FNV's low
    *    bits are near-linear in the input and bias the trailing-zero
    *    rank ~20% low (measured at sf0.01);
    *  - bucket: low [[HllP]] bits; remaining word w gets the classic
    *    Flajolet rank rho = (trailing zeros of w) + 1, computed with the
    *    bit trick popcount(w XOR (w-1)) — no floats, no loops;
    *  - registers: per-(group, bucket) MAX(rho) — a partial/final
    *    aggregate whose state is m small ints per group (the mergeable
    *    sketch property that makes HLL the 100 TB COUNT(DISTINCT));
    *  - estimator: raw HLL alpha_m·m²/Σ2^(−Mj), evaluated EXACTLY as
    *    one BIGINT floor division by scaling registers to 2^(K+1−Mj)
    *    and alpha_m = 0.7213/(1+1.079/m) to the rational
    *    7213m/(10·(1000m+1079)).
    *
    * m = 256 keeps the raw estimator out of its small-range bias zone
    * (n per group ≥ 2.5m at every test SF) with ~1.04/√m ≈ 6.5% σ; the
    * spec bounds it against the exact count. */
  def approxDistinctDet(spark: SparkSession, dir: String): DataFrame =
    hllEstimate(hllRegisters(Tables(spark, dir, "lineitem")))

  /** HLL register table over `li`: per-(l_returnflag, bucket) MAX(rho).
    * This IS the sketch state, and max is associative + commutative +
    * idempotent — registers built over any partition of the rows
    * max-merge to the full-corpus registers bit-for-bit, which is what
    * makes the sketch maintainable incrementally (q_incr_distinct)
    * and mergeable across 100 TB of partial scans. */
  private[graft] def hllRegisters(li: DataFrame): DataFrame =
    li.select(col("l_returnflag"),
        graft.functions.Fnv32a.mix32(
          graft.functions.Fnv32a.fnv32a(col("l_orderkey").cast("string"))).as("h"))
      .select(col("l_returnflag"),
        col("h").bitwiseAND(HllM - 1).cast("int").as("bucket"),
        shiftright(col("h"), HllP).as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(HllRhoMax))
          .otherwise(bit_count(col("w").bitwiseXOR(col("w") - 1))))
      .groupBy("l_returnflag", "bucket")
      .agg(max("rho").as("mj"))

  /** Raw-HLL estimator over a register table, single-pass: an absent
    * (group, bucket) register is Mj = 0 and carries the full 2^(K+1)
    * weight in the harmonic sum — rather than materializing a dense
    * m-bucket grid and outer-joining (a second consumption of `regs`
    * plus an explode), fold the absent buckets in arithmetically:
    * zero_buckets = m − |present| and their scaled weight is
    * zero_buckets·2^rhoMax (present registers always have Mj ≥ 1, so
    * none are conflated). One aggregation, `regs` consumed once —
    * which also keeps the incremental form (q_incr_distinct) at
    * exactly one delta scan. */
  private[graft] def hllEstimate(regs: DataFrame): DataFrame = {
    val sMax = HllRhoMax           // rho of w == 0 (all-zero word)
    regs.groupBy("l_returnflag")
      .agg(
        (lit(HllM.toLong) - count(lit(1))).as("zero_buckets"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $sMax - mj)")).as("present_scaled"))
      .select(col("l_returnflag"), col("zero_buckets"),
        (col("present_scaled") + col("zero_buckets") * (1L << sMax)).as("s_scaled"))
      .withColumn("hll_est", expr(s"$HllEstNum div ($HllEstDen * s_scaled)"))
  }

  /** HLL bucket-bit count / register count for [[approxDistinctDet]]. */
  val HllP = 8
  val HllM: Int = 1 << HllP
  /** Max rank: rho of an all-zero remaining hash word (32-p bits + 1). */
  val HllRhoMax: Int = 32 - HllP + 1
  /** Raw-estimator alpha_m·m²·2^(rhoMax) numerator and denominator as
    * exact BIGINTs (alpha_m = 0.7213/(1+1.079/m) = 7213m/(10(1000m+1079)));
    * shared verbatim with the DuckDB oracle so both engines evaluate
    * ONE integer floor division. 7213·256³·2^25 ≈ 4.1e18 fits a Long. */
  val HllEstNum: Long = 7213L * HllM * HllM * HllM * (1L << HllRhoMax)
  val HllEstDen: Long = 10L * (1000L * HllM + 1079L)

  /** B6 q_rollup: hierarchical subtotals; rolled-up levels surfaced as
    * 'ALL' instead of NULL (str-compare-safe for the oracle). */
  def rollupSales(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"))

  /** B6b q_cube: full cross-dimensional subtotals (rollup's superset —
    * all 2^d grouping sets in one pass via spark_grouping_id). */
  def cubeSales(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
        col("sum_price"), col("cnt"))

  /** B6c q_grouping_sets: NON-hierarchical grouping sets — per-flag and
    * per-status marginals in one pass (inexpressible as rollup/cube;
    * Spark 4's `Dataset.groupingSets` API). One scan feeds both
    * aggregations via the expand operator, the declarative form of the
    * classic MR "tag each record with its grouping" trick. */
  def groupingSetsSales(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"))

  /** q_sql_revenue: the SQL front door end-to-end — a TPC-H-Q5-shaped
    * 5-table analytic join written as plain `spark.sql` over the
    * registered catalog views (the exact text a SQL user would run).
    * Catalyst handles join ordering, broadcasts the three dimension
    * tables, pushes the region filter below the joins, and splits the
    * aggregate — nothing is hand-planned. */
  def sqlRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS cnt
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin)
  }

  /** q_subquery: correlated scalar subquery — lineitems above their own
    * order's average quantity. Catalyst DECORRELATES this into an
    * aggregate + join (no per-row re-execution — the classic optimizer
    * rewrite the reference's model would hand-build as two MR passes).
    * `l_quantity` is integer-valued, so avg = exact-sum/count is the
    * same double in both engines and the threshold comparison is
    * knife-edge-free. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
        |FROM lineitem l
        |WHERE l_quantity > (SELECT avg(l2.l_quantity) FROM lineitem l2
        |                    WHERE l2.l_orderkey = l.l_orderkey)""".stripMargin)
  }

  /** q_recursive: recursive CTE (Spark 4's `WITH RECURSIVE`) building a
    * 60-day date spine from the first order date, left-joined to daily
    * order counts — the canonical gap-filling shape (time series with
    * explicit zero days). Recursion depth is 60, under Spark's default
    * `cteRecursionLevelLimit` of 100; at production spans, generate the
    * spine with `sequence()`/`explode` instead (constant depth).
    *
    * The step's termination test is a RECURSION-LOCAL counter, not a
    * predicate against the orders table: a scalar subquery in the step
    * clause is re-evaluated on EVERY iteration (60 full min() scans of
    * the fact table — measured 11.7 s at sf0.1, 0.6 s with the
    * counter; at 100 TB each rescan would be a full table pass). The
    * anchor still derives its start from the data, executed once. */
  def recursiveSpine(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """WITH RECURSIVE cal(d, i) AS (
        |  SELECT (SELECT min(datediff(o_orderdate, DATE '1970-01-01')) FROM orders), 0
        |  UNION ALL
        |  SELECT d + 1, i + 1 FROM cal
        |  WHERE i < 59
        |), daily AS (
        |  SELECT datediff(o_orderdate, DATE '1970-01-01') AS d, count(*) AS n
        |  FROM orders GROUP BY 1
        |)
        |SELECT CAST(cal.d - (SELECT min(datediff(o_orderdate, DATE '1970-01-01')) FROM orders) AS BIGINT) AS day_idx,
        |       CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders
        |FROM cal LEFT JOIN daily ON cal.d = daily.d""".stripMargin)
  }

  /** q_pivot: long→wide reshape — order counts per priority pivoted on
    * status. Pivot values are enumerated explicitly (no dry-run scan to
    * discover them — at 100 TB the discovery pass is the cost). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").as("n_f"),
        col("O").as("n_o"), col("P").as("n_p"))

  /** q_quantiles: exact interpolated percentiles per group, computed
    * by RANK (r15) instead of the builtin `percentile` aggregate. The
    * builtin is a TypedImperativeAggregate whose partial buffers
    * collect EVERY group value into an in-memory map shipped through
    * the exchange — per-group state linear in group size, exactly the
    * unbounded-buffer shape the rest of this engine avoids (at 100 TB
    * a single returnflag group's buffer is the corpus). The rank form
    * is the `groupedRanks` discipline: global value slices, exclusive
    * offsets via a distributed running-sum window, local windows per
    * (grp, slice) — shuffles carry (grp, id, x) triples only and no
    * group ever funnels into one task. The interpolation replays the
    * builtin's own formula on the two bracketing order statistics
    * (pos = p·(n−1); (higher−pos)·v_lo + (pos−lower)·v_hi — the
    * two-sided weighting Spark's Percentile.getPercentile uses), and
    * the published result is round(…, 4), so the replay is
    * hash-identical to the builtin (spec-asserted on seeded random
    * frames + the fixture). Same-window A/B at sf0.1: 2.6 → ~1.2 s,
    * plan ObjectHashAggregate(full-value buffers) → two windowed rank
    * passes + plain HashAggregates. `percentile_approx`
    * (q_quantiles_approx) remains the bounded-sketch one-pass path. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesByRank(
      Tables(spark, dir, "lineitem").select(
        col("l_returnflag").as("grp"),
        (col("l_orderkey") * 8 + col("l_linenumber")).cast("long").as("id"),
        col("l_extendedprice").as("x")),
      Seq(0.5 -> "p50", 0.95 -> "p95"), 64)
      .withColumnRenamed("grp", "l_returnflag")

  /** Exact interpolated per-group percentiles by rank: (grp, id
    * unique, x: Double non-null) → (grp, <names…>, cnt), each
    * percentile = round(builtin-equivalent interpolation, 4). */
  private[graft] def quantilesByRank(rows: DataFrame,
      ps: Seq[(Double, String)], slices: Int): DataFrame = {
    val ranked = groupedRanksDouble(rows, slices)
    // group sizes from the RAW rows (not from `ranked` — that would
    // re-run the whole windowed rank pipeline just to count)
    val nDf = rows.groupBy("grp").agg(count(lit(1)).as("n"))
    val j = ranked.join(broadcast(nDf), "grp")
    // bracketing order statistics per percentile: 0-based pos =
    // p·(n−1); keep the rows at ranks floor(pos)+1 and ceil(pos)+1
    val aggs = ps.flatMap { case (p, name) =>
      val pos = lit(p) * (col("n") - 1L).cast("double")
      Seq(
        max(when(col("rk") === floor(pos).cast("long") + 1L, col("x")))
          .as(s"lo_$name"),
        max(when(col("rk") === ceil(pos).cast("long") + 1L, col("x")))
          .as(s"hi_$name"))
    } :+ max(col("n")).as("cnt")
    val picked = j.groupBy("grp").agg(aggs.head, aggs.tail: _*)
    val outCols = col("grp") +: ps.map { case (p, name) =>
      val pos = lit(p) * (col("cnt") - 1L).cast("double")
      val lower = floor(pos)
      val higher = ceil(pos)
      round(when(lower === higher, col(s"lo_$name"))
        .otherwise((higher - pos) * col(s"lo_$name") +
          (pos - lower) * col(s"hi_$name")), 4).as(name)
    } :+ col("cnt")
    picked.select(outCols: _*)
  }

  /** [[groupedRanks]] for DOUBLE-valued x — same skew-hardened
    * quantile-sliced shape (see [[skewSliced]]). */
  private[graft] def groupedRanksDouble(rows: DataFrame,
      slices: Int): DataFrame = rankSliced(rows, slices)

  /** Skew-hardened slice keys for the grouped-rank machinery (r16;
    * VERDICT r15 #7 / ADVICE r15). The r15 slicing cut the VALUE RANGE
    * linearly, so a heavily-duplicated value — the hi == lo degenerate
    * included — collapsed into ONE window task: exactly the unbounded
    * per-group funnel this design exists to avoid (§2.5). The linear
    * spans STAY (the no-skew path is plan-identical to r15 and costs
    * one arithmetic op per row); what r16 adds is HEAVY-VALUE
    * protection: a sampled quantile sketch riding the same probe
    * aggregate detects values owning ≳ 2/slices of the mass, each such
    * value gets its own window key (hg) and is sub-split by id ranges
    * (sub) — within a pure-tie block the (x, id) order IS the id
    * order, so id-range buckets stay contiguous and rank additivity is
    * exact. Driver state: the probe row + ≤ 16 heavy rows (the
    * globalRowIds ledger discipline). Ranks are IDENTICAL whatever the
    * split, so callers' oracle hashes cannot move. Returns None on
    * empty input. */
  /** Inputs below this row count keep a single window task per group —
    * slicing overhead (boundary probe, 3-key offsets join) buys nothing
    * at a size one task sorts instantly. */
  private val MinSliceRows = 5000L

  private[graft] def skewSliced(rows: DataFrame, slices: Int): Option[DataFrame] = {
    require(slices >= 2, s"need >= 2 slices, got $slices")
    val fracs = (1 until slices).map(i => i.toDouble / slices)
    val isDouble = rows.schema("x").dataType ==
      org.apache.spark.sql.types.DoubleType
    // ONE probe job (replaces r15's min/max head 1-for-1): exact
    // min/max + row count for the linear spans, plus an approx-quantile
    // sketch over a DETERMINISTIC 2% hash-sample (xxhash64(id) — the
    // guide's derive-synthetic-keys-deterministically rule) used ONLY
    // to DETECT heavy duplicate values. Boundaries steer nothing else,
    // so the sketch can be coarse and sampled.
    val bRow = rows.agg(min("x").as("lo"), max("x").as("hi"),
      count(lit(1)).as("n"),
      expr("approx_percentile(if(pmod(xxhash64(id), 50) = 0, x, null), " +
        s"array(${fracs.mkString(", ")}), 200)").as("bs")).head()
    if (bRow.isNullAt(0)) return None
    val n = bRow.getLong(2)
    // below MinSliceRows a single window task per group is trivially
    // fine — skip slicing entirely (and tiny samples are noise anyway)
    val raw: Seq[Any] =
      if (n < MinSliceRows || bRow.isNullAt(3)) Nil else bRow.getSeq[Any](3)
    // heavy duplicate values: a value holding >= 2 of the sampled
    // sketch slots owns >= ~2/slices of the mass — the one shape the
    // value-range slices can NEVER split (ADVICE r15: hi == lo and
    // 99%-duplicate columns collapsed into one window task). Cap at the
    // 16 heaviest: protection targets the dominant values, and the
    // per-row key work stays a couple of binary searches.
    val mult = raw.groupBy(identity).view.mapValues(_.size).toMap
    val heaviest = raw.distinct.filter(v => mult(v) >= 2)
      .sortBy(v => -mult(v)).take(16)
    // approx_percentile sketches in doubles, so past 2^53 a BIGINT
    // candidate is its double rounding, not necessarily a value of x:
    // each candidate resolves to the most frequent exact x in its
    // double bucket, plus any other x there holding >= 2/slices of the
    // rows (below 2^53 the bucket is the value itself). The keys
    // binary-search the heavies, so they sort in x's own order.
    val (heavies, idBounds): (Seq[Any], Map[Any, Seq[Long]]) =
      if (heaviest.isEmpty) (Nil, Map.empty)
      else {
        val tmax = heaviest.map(mult).max
        val sf = (1 to tmax).map(i => i.toDouble / (tmax + 1))
        val bucket = if (isDouble) col("x") else col("x").cast("double")
        val cands = heaviest.map {
          case l: Long => l.toDouble
          case d => d
        }
        val picked = rows.where(bucket.isin(cands: _*))
          .groupBy("x")
          .agg(count(lit(1)).as("c"), expr(
            s"approx_percentile(id, array(${sf.mkString(", ")}), 200)").as("ib"))
          .collect()
          .groupBy(r => if (isDouble) r.get(0) else r.getLong(0).toDouble)
          .values.flatMap { b =>
            val byMass = b.sortBy(r => (-r.getLong(1), if (isDouble) 0L else r.getLong(0)))
            byMass.head +: byMass.tail.filter(_.getLong(1) * slices >= 2 * n)
          }
          .toSeq.sortBy(-_.getLong(1)).take(16)
        val hs: Seq[Any] =
          if (isDouble) picked.map(_.getDouble(0)).sorted
          else picked.map(_.getLong(0)).sorted
        // distinct per heavy: binary search needs duplicate-free
        // sorted bounds (duplicates only merge adjacent buckets)
        (hs, picked.map(r => r.get(0) -> r.getSeq[Long](2).distinct).toMap)
      }
    // slc: r15's exact linear value-range slice (cheap codegen'd
    // arithmetic — the common no-skew path is byte-identical to the
    // pre-r16 plan). hg/sub: COMPILED binary searches over the heavy
    // set ([[graft.functions.QuantileSliceKey]]/[[HeavySubKey]] — a
    // when-chain form overflowed Janino's 64 KB method limit and
    // dropped the projection to interpreted mode, measured 4-10x).
    // Ordering stays exact: within a linear slice, hg = 2*|{h < x}| +
    // [x in H] is monotone in x, and sub > 0 only where x equals one
    // heavy value (pure-tie block, so id-range buckets are contiguous
    // under the (x, id) order).
    val slc =
      if (n < MinSliceRows) lit(0L)
      else if (isDouble) {
        val (lo, hi) = (bRow.getDouble(0), bRow.getDouble(1))
        val span = math.max(java.lang.Double.MIN_NORMAL, (hi - lo) / slices)
        floor((col("x") - lit(lo)) / lit(span)).cast("long")
      } else {
        val (lo, hi) = (bRow.getLong(0), bRow.getLong(1))
        val span = math.max(1L, (hi - lo) / slices + 1)
        expr(s"(x - ${lo}L) div ${span}L")
      }
    val (hg, sub) =
      if (heavies.isEmpty) (lit(0L), lit(0L))
      else {
        val flat = heavies.map(v => idBounds.getOrElse(v, Nil))
        val offs = flat.map(_.length).scanLeft(0)(_ + _).toArray
        val bounds = flat.flatten.toArray
        if (isDouble) {
          val hs = heavies.map(_.asInstanceOf[Double]).toArray
          (graft.functions.VectorExprs.sliceKeyDouble(col("x"), hs),
            graft.functions.VectorExprs.heavySubDouble(col("x"), col("id"),
              hs, bounds, offs))
        } else {
          val hs = heavies.map(_.asInstanceOf[Long]).toArray
          (graft.functions.VectorExprs.sliceKeyLong(col("x"), hs),
            graft.functions.VectorExprs.heavySubLong(col("x"), col("id"),
              hs, bounds, offs))
        }
      }
    Some(rows.withColumn("slc", slc).withColumn("hg", hg)
      .withColumn("sub", sub))
  }

  /** Shared rank assembly over [[skewSliced]] keys: exclusive prefix
    * offsets via a distributed running-sum window over the (grp, slc,
    * sub) count table (≤ ~2·slices + heavy sub-buckets rows per grp
    * partition), local (x, id) windows per (grp, slc, sub). */
  private def rankSliced(rows: DataFrame, slices: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    skewSliced(rows, slices) match {
      case None => rows.withColumn("rk", lit(0L)).where(lit(false))
      case Some(sliced) =>
        val wOff = Window.partitionBy("grp").orderBy("slc", "hg", "sub")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offDf = sliced.groupBy("grp", "slc", "hg", "sub")
          .agg(count(lit(1)).as("c"))
          .withColumn("off", coalesce(sum("c").over(wOff), lit(0L)))
          .drop("c")
        val w = Window.partitionBy("grp", "slc", "hg", "sub")
          .orderBy(col("x"), col("id"))
        sliced.join(offDf, Seq("grp", "slc", "hg", "sub"))
          .withColumn("rk", row_number().over(w).cast("long") + col("off"))
          .drop("slc", "hg", "sub", "off")
    }
  }

  /** B13b q_quantiles_approx: the 100 TB quantile path — t-digest-style
    * `percentile_approx` (bounded sketch state, partial/final mergeable)
    * next to the exact `percentile` of q_quantiles (which buffers each
    * group's values). Rows-only at the driver gate (sketch output is
    * engine-specific); the error bound vs exact is spec-checked. */
  def quantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile_approx(l_extendedprice, 0.5, 10000)"), 4).as("p50"),
        round(expr("percentile_approx(l_extendedprice, 0.95, 10000)"), 4).as("p95"),
        count(lit(1)).as("cnt"))

  /** q_quantiles_sample: deterministic-sample quantiles — the
    * oracle-replayable cousin of q_quantiles_approx. A fixed hash
    * predicate (FNV-1a + the mix32 avalanche finalizer — h mod 10
    * reads bit 0, which in RAW FNV is a parity chain of the key bytes,
    * a structured linear function, not a fair coin; keep h ≡ 0 mod 10)
    * selects the same ~10% of rows in ANY engine; per group the type-1
    * (no-interpolation) quantile is then an exact rank selection over a
    * total order (price, orderkey, linenumber), so the result is an
    * ORIGINAL datum — bit-identical in Spark and DuckDB, hash-green at
    * the driver gate. Rank error of a uniform 10% sample is
    * ~1/√(n/10) per group (spec-bounded vs the exact percentile).
    *
    * Scale shape: the only sorted set is the SAMPLE (10× smaller than
    * the corpus; the rate is the knob — 100 TB pipelines run 0.1-1%),
    * partitioned by group. A single group whose sample still exceeds a
    * task would move to the two-pass range-partitioned rank machinery
    * (see Pipeline.packTokens / rowIds); at every test SF the per-group
    * window is the right plan. */
  def quantilesSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
      .where(graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")))) % 10 === 0)
    val byG = Window.partitionBy("l_returnflag")
    val ord = byG.orderBy(col("l_extendedprice"), col("l_orderkey"),
      col("l_linenumber"))
    keyed
      .withColumn("rn", row_number().over(ord).cast("long"))
      .withColumn("n", count(lit(1)).over(byG))
      // type-1 quantile indices, integer-only: ceil(q·n) via
      // ceil(a/b) = (a + b - 1) div b
      .withColumn("i50", expr("(n + 1) div 2"))
      .withColumn("i95", expr("(19 * n + 19) div 20"))
      .groupBy("l_returnflag")
      .agg(
        max(when(col("rn") === col("i50"), col("l_extendedprice"))).as("p50_s"),
        max(when(col("rn") === col("i95"), col("l_extendedprice"))).as("p95_s"),
        max("n").as("n_sample"))
  }

  /** B13 q_sort_limit: global top-10 with full tie-break; plans as
    * TakeOrderedAndProject, not a total sort. */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(desc("price"), asc("l_orderkey"), asc("l_linenumber"))
      .limit(10)

  /** q_cdc_compact: changelog compaction — materialize the LATEST
    * record per key from an event log (Kafka log-compaction / CDC
    * upsert-view semantics; the batch form of `Streams`' stateful
    * last-value). One `max_by` aggregation keyed on the lexicographic
    * (ts, event_id) struct: unlike the window `row_number`-then-filter
    * form, `max_by` splits into partial/final — each input partition
    * reduces to ONE candidate row per key map-side before the shuffle,
    * so a key with a billion versions shuffles a handful of rows, not a
    * billion (the window form would sort them all in one task). Ties
    * are impossible: event_id is unique, so the struct order is total.
    * Oracle: DuckDB `row_number` over the same total order — both pick
    * the identical row, only the plans differ. */
  def cdcCompact(spark: SparkSession, dir: String): DataFrame =
    cdcCompact(Tables(spark, dir, "events"))

  /** df form: expects (user_id: Long, ts: Timestamp, event_id: Long,
    * event_type: String, value: Double). */
  def cdcCompact(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_versions"),
        max_by(struct(col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"), col("n_versions"),
        col("last.event_type").as("last_type"),
        col("last.value").as("last_value"))

  /** q_scd2: slowly-changing-dimension (type 2) history build — the
    * companion of `cdcCompact`: instead of keeping only the LATEST
    * record per key, every version becomes a validity interval
    * [valid_from, valid_to), closed by the next version's timestamp
    * (NULL = current) — the dimension-history table that lets a fact
    * row join "the customer AS OF the order date" (via `Joins.asofJoin`
    * semantics). One user-keyed window (`lead` over the total
    * (ts, event_id) order): per-key history sorts inside its own hash
    * partition, nothing global. Interval bounds surface as epoch
    * MICROSECONDS (integer cross-engine parity, like `sessionize`). */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables(spark, dir, "events"))

  /** df form: expects (user_id: Long, event_id: Long, ts: Timestamp,
    * event_type: String). */
  def scd2(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("microsecond", col("ts")).as("ts"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us", unix_micros(lead(col("ts"), 1).over(w)))
      .select("user_id", "event_id", "event_type",
        "valid_from_us", "valid_to_us")
  }

  /** q_histogram: fixed-width value histogram of order totals — the
    * data-profiling primitive (distribution sketch before choosing
    * partition counts, salt factors, or clamp thresholds at 100 TB).
    * One partial/final count aggregation over a per-row codegen'd
    * bucket expression. The bucket arithmetic is spelled with explicit
    * ops (`floor(x · n / span)`) rather than `width_bucket` so the
    * oracle can run the BIT-IDENTICAL expression (DuckDB has no
    * width_bucket; re-deriving its boundary semantics by hand invites
    * off-by-one-ulp edge disagreements). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(expr("cast(floor(o_totalprice * 20.0D / 600000.0D) as bigint)")
        .as("bucket"))
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("sum_price"))

  /** q_histogram2d: JOINT distribution heat-map of two lineitem
    * measures (quantity × extended price, 10×10 fixed-width grid) —
    * the profiling primitive behind correlation eyeballing, skew-cell
    * detection, and 2-D clamp thresholds, where two 1-D histograms
    * can't distinguish independent from coupled skew. Same explicit
    * bucket arithmetic as q_histogram (bit-identical in the oracle);
    * one partial/final count over a codegen'd (bx, by) pair — at most
    * 100 cells shuffle regardless of corpus size. */
  def histogram2d(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(
        expr("cast(floor((l_quantity - 1.0D) * 10.0D / 50.0D) as bigint)").as("bx"),
        expr("cast(floor(l_extendedprice * 10.0D / 120000.0D) as bigint)").as("by"))
      .agg(count(lit(1)).as("cnt"), round(sum("l_discount"), 2).as("sum_disc"))

  /** q_profile: per-column data profiling — row count, null count,
    * exact distinct count, min/max — for a declared column set, in ONE
    * scan. The schema-audit primitive a pipeline runs before trusting a
    * new 100 TB drop (null explosions and cardinality collapses are the
    * classic upstream-breakage signals). All stats for all columns are
    * computed in a single aggregation (multiple exact DISTINCTs plan via
    * the Expand operator — rows × (#distinct-columns + 1), the standard
    * one-pass trade; at extreme widths the scale path swaps in
    * `approx_count_distinct`, same shape, no Expand), then the one
    * result row unpivots via `stack` into a row per column. Numeric
    * min/max surface as double, strings as string — raw data values,
    * no arithmetic, so cross-engine parity is exact. */
  def profile(spark: SparkSession, dir: String): DataFrame =
    profile(Tables(spark, dir, "orders"), Seq(
      "o_orderkey" -> true, "o_custkey" -> true, "o_orderstatus" -> false,
      "o_totalprice" -> true, "o_orderpriority" -> false))

  /** df form: `cols` = (column name, isNumeric).
    *
    * The counts/countDistinct/numeric-min-max aggregate and the STRING
    * min/max aggregate are computed in two jobs on purpose (r15):
    * min/max over StringType is not a mutable fixed-width buffer, so
    * ONE combined aggregate forces the whole multi-countDistinct
    * Expand (cols+1 rows per input row) down the SortAggregate path —
    * a full sort of the expanded corpus. With the string legs split
    * out, the expanded aggregate is a plain HashAggregate and the
    * string pass is a tiny no-Expand partial/final agg; the two 1-row
    * results cross-join back. Same rows/values bit-for-bit (same
    * aggregate semantics, projection-only reshuffle). Same-window A/B
    * at sf0.1: 2.4 → ~1.1 s, plan SortAggregate×3+Expand →
    * HashAggregate+Expand ∥ SortAggregate(no Expand). */
  def profile(df: DataFrame, cols: Seq[(String, Boolean)]): DataFrame = {
    val hashAggs = count(lit(1)).as("n_rows") +: cols.flatMap { case (c, num) =>
      Seq(
        count(col(c)).as(s"nn_$c"),
        countDistinct(col(c)).as(s"nd_$c")) ++
        (if (num) Seq(
          min(col(c)).cast("double").as(s"mn_num_$c"),
          max(col(c)).cast("double").as(s"mx_num_$c"))
         else Nil)
    }
    val strAggs = cols.filter(!_._2).map(_._1).flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"mn_str_$c"),
        max(col(c)).cast("string").as(s"mx_str_$c"))
    }
    val base = df.agg(hashAggs.head, hashAggs.tail: _*)
    val merged =
      if (strAggs.isEmpty) base
      else base.crossJoin(broadcast(df.agg(strAggs.head, strAggs.tail: _*)))
    val stackArgs = cols.map { case (c, num) =>
      val mnN = if (num) s"mn_num_$c" else "CAST(NULL AS DOUBLE)"
      val mxN = if (num) s"mx_num_$c" else "CAST(NULL AS DOUBLE)"
      val mnS = if (num) "CAST(NULL AS STRING)" else s"mn_str_$c"
      val mxS = if (num) "CAST(NULL AS STRING)" else s"mx_str_$c"
      s"'$c', n_rows, n_rows - nn_$c, nd_$c, $mnN, $mxN, $mnS, $mxS"
    }.mkString(", ")
    merged.selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
      "(col_name, n_rows, n_nulls, n_distinct, min_num, max_num, min_str, max_str)")
  }

  /** q_stats_moments: grouped two-variable moment statistics — mean,
    * population variance/stddev, covariance, Pearson correlation — from
    * exact integer POWER SUMS (n, Σx, Σx², Σy, Σy², Σxy). The
    * shuffle-safe distributed form: integer sums are exact under any
    * partial/final split and any reassociation (no Welford/streaming
    * update needed — that machinery exists to fight float cancellation,
    * which integer moments simply don't have), and the final double
    * formulas are fixed-order correctly-rounded IEEE ops, so results are
    * BIT-identical across engines, partition counts, and AQE replans —
    * no rounding in the oracle. Both profiled columns (`l_quantity`,
    * `l_linenumber`) are integer-valued. Long sums bound the domain:
    * n·Σx² here peaks ≪ 2⁶³; at genuinely 100 TB row counts the same
    * shape runs on DECIMAL(38,0) sums — one cast, same plan. A spec
    * cross-checks Pearson r against Spark's built-in `corr`. */
  def momentStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      col("l_linenumber").cast("long").as("y"))
    val nD = col("n").cast("double")
    val covNum = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val varNumX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val varNumY = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(
        col("l_returnflag"), col("n"),
        (col("sx").cast("double") / nD).as("mean_x"),
        (varNumX / nD / nD).as("var_x"),
        sqrt(varNumX / nD / nD).as("std_x"),
        (covNum / nD / nD).as("cov_xy"),
        (covNum / sqrt(varNumX) / sqrt(varNumY)).as("corr_xy"))
  }

  /** q_outliers: statistical outlier detection — lineitems whose
    * quantity deviates from their group mean by more than `k·σ`
    * (1.5σ here: the fixture quantities are uniform, so a 2σ gate on a
    * distribution with no 2σ tail would select nothing)
    * (z-score gating, the standard anomaly screen before training-data
    * ingestion). Composes `momentStats`'s exact-integer derivation:
    * μ and σ come from BIGINT power sums, so the per-row threshold
    * comparison is against a bit-identical double in both engines —
    * no knife-edge rows. Two passes over the group key: the tiny
    * per-group stats frame broadcasts back onto the scan (never a
    * window sort); at 100 TB this is a scan + broadcast-join + scan,
    * the cheapest possible shape for "filter by a group statistic". */
  def outliers(spark: SparkSession, dir: String, k: Double = 1.5): DataFrame = {
    val nD = col("n").cast("double")
    val varNumX = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val stats = Tables(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("x"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("l_returnflag"),
        (col("sx").cast("double") / nD).as("mu"),
        sqrt(varNumX / nD / nD).as("sigma"))
    Tables(spark, dir, "lineitem")
      .join(broadcast(stats), "l_returnflag")
      .where(abs(col("l_quantity") - col("mu")) > lit(k) * col("sigma"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_outliers"),
        round(min("l_quantity"), 2).as("min_q"),
        round(max("l_quantity"), 2).as("max_q"))
  }

  /** B14 q_setops: UNION / INTERSECT / EXCEPT cardinalities between
    * "custkeys that ordered" and "custkeys in segment BUILDING". */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables(spark, dir, "orders")
      .select(col("o_custkey").as("custkey")).distinct()
    val b = Tables(spark, dir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    def tag(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("cnt")).select(lit(name).as("op"), col("cnt"))
    tag("union", a.union(b).distinct())
      .unionAll(tag("intersect", a.intersect(b)))
      .unionAll(tag("except", a.except(b)))
  }

  /** q_unpivot: wide→long reshaping (melt) — four lineitem measure
    * columns rotated into (measure, val) rows keyed by the line id.
    * The inverse of q_pivot, and the normalization step feeding
    * "one metric per row" sinks (metric stores, long-format exports).
    * `Dataset.unpivot` plans a single Expand over ONE scan — the naive
    * UNION ALL of four projections (what the oracle runs) scans the
    * table four times, a 4× read at 100 TB. Values are raw column data
    * (no arithmetic) → exact cross-engine parity. */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure",
        valueColumnName = "val")

  /** q_winsorize: per-group outlier CLIPPING at the exact rank P5/P95
    * — the winsorization step of feature cleaning (clip, don't drop:
    * q_outliers/q_mad DETECT tail rows, this REWRITES them to the
    * fence so downstream statistics keep the row count). Quantiles are
    * the [[groupQuantiles]] rank discipline exactly (value at rank
    * ⌈p·n/100⌉ of the (x, id) total order — integer cents, engine-
    * exact), so the fences replay in DuckDB verbatim. Emitted per row:
    * original, clipped value, and the clipped flag (the audit a
    * curation run keeps).
    *
    * Shape at scale: the fences are ≤ |groups| rows (the sliced
    * two-pass ranks never funnel a group into one task — see
    * [[groupedRanks]]); the clip itself is a broadcast join of the
    * fence table back onto the scan. */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorize(Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("x")), 64)

  /** df form: expects (grp: String, id: Long unique, x: Long). */
  def winsorize(rows: DataFrame, slices: Int): DataFrame = {
    val ranked = groupedRanks(rows, slices)
    val nDf = ranked.groupBy("grp").agg(count(lit(1)).as("n"))
    def at(p: Int) =
      max(when(col("rk") === expr(s"cast(ceil($p * n / 100.0) as bigint)"),
        col("x"))).as(s"p$p")
    val fences = ranked.join(broadcast(nDf), "grp")
      .groupBy("grp").agg(at(5), at(95))
    rows.join(broadcast(fences), "grp")
      .select(col("id"), col("grp"), col("x"),
        least(greatest(col("x"), col("p5")), col("p95")).as("x_wins"),
        (col("x") < col("p5") || col("x") > col("p95")).as("clipped"))
  }

  /** q_kanon: k-anonymity suppression — each customer's quasi-identifier
    * pair (market segment, nation) is published only when at least `k`
    * customers share it; rarer combinations are suppressed to '*' so no
    * published row isolates fewer than k people (Sweeney 2002's
    * suppression model — the release-gate transform of a privacy-aware
    * curation pipeline, beside q_redact's masking).
    *
    * Shape at scale: group sizes come from a partial/final count over
    * the quasi-identifier columns — a FEW rows per distinct QI combo —
    * broadcast back onto the scan. Never a window over the QI partition
    * (the biggest segment would funnel into one task; the group-count
    * table stays tiny no matter how many billions of rows feed it). */
  def kanonymize(spark: SparkSession, dir: String, k: Long = 10L): DataFrame = {
    val cust = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
    val groups = cust.groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("grp_n"))
    cust.join(broadcast(groups), Seq("c_mktsegment", "c_nationkey"))
      .select(
        col("c_custkey"),
        when(col("grp_n") >= k, col("c_mktsegment")).otherwise("*").as("seg_anon"),
        when(col("grp_n") >= k, col("c_nationkey").cast("string"))
          .otherwise("*").as("nation_anon"),
        (col("grp_n") >= k).as("published"))
  }

  /** q_snapshot_diff: table-snapshot reconciliation — the drift/audit
    * primitive of a lakehouse (did the republish change what it
    * shouldn't? what did the upstream feed add/drop/mutate?): two
    * snapshots full-outer-joined on the key, every key classified
    * added / removed / modified / unchanged. The fixture derives both
    * snapshots deterministically from orders (v1 drops key%89==0,
    * v2 drops key%97==0 and rewrites the priority of key%13==0), so
    * the oracle reproduces them exactly; a real deployment passes two
    * table reads. Comparison columns are pruned to the audited set
    * BEFORE the join (at 100 TB: ship the key + a hash of the audited
    * columns, not the rows); the join shuffles on the key — the same
    * exchanges as any fact⋈fact equi-join, no window, no collect. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderpriority").as("prio"))
    val v1 = o.where(col("key") % 89 =!= 0L)
      .select(col("key"), col("prio").as("p1"))
    val v2 = o.where(col("key") % 97 =!= 0L)
      .select(col("key"),
        when(col("key") % 13 === 0L, concat(lit("CHANGED-"), col("prio")))
          .otherwise(col("prio")).as("p2"))
    snapshotDiff(v1, v2)
  }

  /** df form: v1 = (key, p1), v2 = (key, p2); keys unique per side,
    * p1/p2 the audited value (hash several columns upstream). Presence
    * is tracked with explicit marker columns — a key legitimately
    * present with a NULL audited value classifies by PRESENCE, and
    * NULL-vs-value compares as modified via null-safe equality (value
    * nullness alone would misreport both). */
  def snapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.withColumn("_in1", lit(true))
      .join(v2.withColumn("_in2", lit(true)), Seq("key"), "full_outer")
      .select(col("key"),
        when(col("_in1").isNull, "added")
          .when(col("_in2").isNull, "removed")
          .when(!(col("p1") <=> col("p2")), "modified")
          .otherwise("unchanged").as("change"),
        col("p1"), col("p2"))

  /** q_merge: the batch three-clause MERGE (WHEN MATCHED UPDATE /
    * WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) — the lakehouse
    * primitive Delta/Iceberg expose as `MERGE INTO`, expressed as its
    * underlying relational plan since those table formats aren't in
    * this environment (SURVEY §4.0): ONE full-outer join on the key
    * plus a row-wise CASE, which is exactly the shuffle shape a Delta
    * MERGE plans. Completes the lakehouse family next to `cdcCompact`
    * (latest-value view), `scd2` (history), `snapshotDiff` (audit) and
    * `Streams.upsert` (the streaming twin).
    *
    * Fixture wiring: the target is an earlier customer snapshot
    * (missing the `% 13 == 5` slice — customers registered since the
    * snapshot); the source feed is the last-[[Incremental.DeltaDays]]-
    * days orders rolled up per customer (n_orders + exact cent spend —
    * partial/final agg, so a customer's billion order rows shuffle as
    * partials). The feed's op column (a real feed carries it from
    * upstream CDC; here the `% 11 == 0` slice stands in for an
    * erasure-request list) drives the clauses: matched 'U' rows add
    * the period spend to the balance, matched 'D' rows drop, unmatched
    * feed rows insert (a delete for an absent key is a no-op), target
    * rows the feed doesn't touch pass through.
    *
    * 100 TB story: a full-outer join must keep both sides, so there is
    * no broadcast variant — the plan is the shuffle-on-key merge every
    * table format runs; with a bucketed target it degrades to a
    * co-partitioned zipper with only the (much smaller) feed shuffled,
    * and AQE's skew split covers hot keys. The source side enters as
    * per-key partials, never raw facts. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cut = ordersDeltaCut(spark, dir)
    val feed = Tables(spark, dir, "orders")
      .where(col("o_orderdate") >= lit(cut))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"))
      .withColumn("op",
        when(col("c_custkey") % 11 === 0L, lit("D")).otherwise(lit("U")))
    val base = Tables(spark, dir, "customer")
      .where(col("c_custkey") % 13 =!= 5L)
      .select(col("c_custkey"), col("c_name"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
    mergeUpsert(base, feed)
  }

  /** The shared recent-orders event-time cut (max(o_orderdate) −
    * [[Incremental.DeltaDays]]) — the same arrival convention the
    * incremental-state operators use, so "the append window" means one
    * thing across the lakehouse/incremental families. One driver row. */
  private[operators] def ordersDeltaCut(spark: SparkSession, dir: String): java.sql.Timestamp = {
    val maxD = Tables(spark, dir, "orders")
      .agg(max("o_orderdate")).head().getTimestamp(0) // 1 driver row
    java.sql.Timestamp.valueOf(
      maxD.toLocalDateTime.minusDays(Incremental.DeltaDays.toLong))
  }

  /** df form: target = (c_custkey, c_name, acctbal_cents), source =
    * (c_custkey, n_orders, spend_cents, op ∈ {'U','D'}); keys unique
    * per side. Presence is tracked with explicit marker columns (the
    * [[snapshotDiff]] convention) so a legitimate NULL value can never
    * masquerade as absence. */
  def mergeUpsert(target: DataFrame, source: DataFrame): DataFrame =
    target.withColumn("_int", lit(true))
      .join(source.withColumn("_ins", lit(true)), Seq("c_custkey"), "full_outer")
      .where(
        // WHEN MATCHED AND op = 'D' THEN DELETE (and absent-key deletes
        // are no-ops) — everything else survives to the CASE below.
        // Spelled null-first: on source-absent rows op is NULL, and
        // !(NULL && …) is NULL, which WHERE would silently drop
        col("_ins").isNull || col("op") =!= "D")
      .select(
        col("c_custkey"),
        when(col("_int").isNull, concat(lit("new:"), col("c_custkey").cast("string")))
          .otherwise(col("c_name")).as("c_name"),
        when(col("_int").isNull, col("spend_cents"))            // INSERT
          .when(col("_ins").isNull, col("acctbal_cents"))       // no-touch
          .otherwise(col("acctbal_cents") + col("spend_cents")) // UPDATE
          .as("acctbal_cents"),
        when(col("_int").isNull, lit("insert"))
          .when(col("_ins").isNull, lit("keep"))
          .otherwise(lit("update")).as("action"))

  /** q_histogram_eq: EQUI-DEPTH histogram (deciles of o_totalprice) —
    * the profiling complement of q_histogram's fixed-width buckets:
    * every bucket holds the same row count, so bucket boundaries ARE
    * the distribution (this is the histogram query optimizers keep in
    * their statistics catalogs). Exact RANK-BASED equi-depth buckets
    * (`((rank−1)·k) div n`, which spreads the remainder across the
    * range — SQL `ntile()` front-loads the larger buckets instead; the
    * oracle uses this same formula) without a global sort: the
    * `globalRowIds` two-pass shape applied
    * to a VALUE ranking — (1) min/max to the driver, value range cut
    * into contiguous slices; (2) per-slice cardinalities (≤ `slices`
    * rows to the driver) → exclusive prefix offsets; (3) per-slice
    * local rank + offset = exact global rank over the total order
    * (value, id); bucket = `((rank−1)·k) div n`. No single-partition
    * sort anywhere — the plan's only full-data exchanges are the slice
    * hash partition and the final k-group aggregate. Value slices are
    * contiguous, so cross-slice ordering is free (floor is monotone);
    * ties across slice boundaries can't happen (equal values share a
    * slice), and within a slice the unique id breaks them — the same
    * total order the oracle's row_number uses. */
  def equiDepth(spark: SparkSession, dir: String): DataFrame =
    equiDepth(Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("v")), 10, 64)

  /** df form: expects (id — unique tie-break, v: Double); `k` buckets,
    * `slices` range slices for the two-pass rank. */
  def equiDepth(rows: DataFrame, k: Int, slices: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mm = rows.agg(min("v"), max("v"), count(lit(1))).head()
    val n = mm.getLong(2)
    if (n == 0L) return rows.select(lit(0L).as("bucket"),
      lit(0L).as("cnt"), col("v").as("lo_v"), col("v").as("hi_v"),
      lit(0.0).as("sum_v")).where(lit(false))
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    val span = (hi - lo) / slices
    val slc =
      if (span <= 0.0) lit(0L) // degenerate: all values equal
      else least(lit(slices - 1L), floor((col("v") - lo) / span).cast("long"))
    val sliced = rows.withColumn("slc", slc)
    val counts = sliced.groupBy("slc").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (b, c) => val r = (b, acc); acc += c; r }.toSeq
    val offDf = rows.sparkSession.createDataFrame(offsets).toDF("slc", "off")
    val w = Window.partitionBy("slc").orderBy(col("v"), col("id"))
    sliced.join(broadcast(offDf), "slc")
      .withColumn("rank", row_number().over(w).cast("long") + col("off"))
      .withColumn("bucket", expr(s"((rank - 1) * $k) div ${n}L"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), min("v").as("lo_v"), max("v").as("hi_v"),
        round(sum("v"), 2).as("sum_v"))
  }

  /** q_corr_matrix: pairwise Pearson correlations of THREE lineitem
    * measures in ONE scan — the profiling step that decides which
    * features are redundant before training. Extends `momentStats`'s
    * exact-integer technique to the documented 100 TB form: measures
    * with 2-decimal values are scaled ×100 to integers and summed as
    * DECIMAL (power sums stay EXACT where Long would overflow —
    * Σ(price·100)² at sf0.1 already exceeds 2⁶³), so every power sum
    * is reassociation-proof; correlation is scale-invariant, so the
    * ×100 changes nothing. The final formula casts the exact decimal
    * sums to double and applies fixed-order correctly-rounded ops
    * (sqrt IS correctly rounded — IEEE 754) — bit-identical to the
    * oracle, no rounding. One aggregate node computes all 9 power
    * sums; the unpivot to (x_col, y_col, corr) rows touches 1 row. */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select(
      round(col("l_quantity") * 100).cast("decimal(14,0)").as("a"),
      round(col("l_extendedprice") * 100).cast("decimal(14,0)").as("b"),
      round(col("l_discount") * 100).cast("decimal(14,0)").as("c"))
    val sums = li.agg(
      count(lit(1)).cast("decimal(14,0)").as("n"),
      sum("a").as("sa"), sum("b").as("sb"), sum("c").as("sc"),
      sum(col("a") * col("a")).as("saa"), sum(col("b") * col("b")).as("sbb"),
      sum(col("c") * col("c")).as("scc"), sum(col("a") * col("b")).as("sab"),
      sum(col("a") * col("c")).as("sac"), sum(col("b") * col("c")).as("sbc"))
    def corr(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      ((col("n") * col(sxy) - col(sx) * col(sy)).cast("double") /
        sqrt((col("n") * col(sxx) - col(sx) * col(sx)).cast("double")) /
        sqrt((col("n") * col(syy) - col(sy) * col(sy)).cast("double")))
    sums.select(
      corr("sa", "sb", "saa", "sbb", "sab").as("corr_qty_price"),
      corr("sa", "sc", "saa", "scc", "sac").as("corr_qty_disc"),
      corr("sb", "sc", "sbb", "scc", "sbc").as("corr_price_disc"))
      .select(expr(
        """stack(3,
          |  'l_quantity', 'l_extendedprice', corr_qty_price,
          |  'l_quantity', 'l_discount', corr_qty_disc,
          |  'l_extendedprice', 'l_discount', corr_price_disc)
          |  AS (x_col, y_col, corr)""".stripMargin))
  }

  /** q_gini: per-group Gini concentration of order revenue — the
    * inequality/concentration profile (is priority-class revenue
    * spread evenly or carried by a few whale orders?), the same
    * statistic data curators use for source/dedup-cluster share
    * audits. Uses the rank formula `G = (2·Σrᵢxᵢ − (n+1)·Σxᵢ) /
    * (n·Σxᵢ)` over EXACT integer cents with a deterministic total
    * order (value, then key) — both engines compute identical ranks,
    * exact DECIMAL power sums (Σ r·x overflows Long at TB scale), and
    * the same fixed-order double division at the end: bit-identical,
    * no rounding.
    *
    * The within-group rank is the GROUPED form of the two-pass
    * range-sliced rank (`equiDepth`/`globalRowIds`): global value
    * slices, a distributed running-sum window over the (group, slice)
    * count table for exclusive offsets, local windows per (group,
    * slice) — the dominant group never funnels into one task, which
    * a plain `Window.partitionBy(group)` would force. */
  def giniByGroup(spark: SparkSession, dir: String): DataFrame =
    giniByGroup(Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("x")), 64)

  /** Grouped two-pass range-sliced rank (shared by `giniByGroup` and
    * `madOutliers`): adds `rk`, the 1-based within-group rank under the
    * total order (x, id), WITHOUT ever partitioning a window by grp
    * alone — global value slices, exclusive offsets via a distributed
    * running-sum window over the (grp, slice) counts (≤ slices rows per
    * grp partition, so the offset stage parallelizes across groups and
    * never visits the driver), local windows per (grp, slice). The
    * dominant group never funnels into one task; 10⁶+ groups never
    * funnel through a driver collect. Expects (grp: String, id: Long
    * unique, x: Long); empty in → empty out, schema intact. */
  private[graft] def groupedRanks(rows: DataFrame, slices: Int): DataFrame =
    // exclusive prefix offsets computed DISTRIBUTIVELY: a running sum
    // over the (grp, slc, sub) count table, partitioned by grp (a few
    // rows per partition — tiny windows spread across all groups). No
    // driver round-trip, so 10⁶+ distinct groups never funnel through
    // a collect. The offsets join is left to AQE: it broadcasts when
    // the table is small and shuffle-joins at high group cardinality,
    // where a forced broadcast of groups×slices rows would not fit.
    // Slice keys are the skew-hardened quantile boundaries of
    // [[skewSliced]] (r16) — heavy duplicate values sub-split by id.
    rankSliced(rows, slices)

  /** df form: expects (grp: String, id: Long unique, x: Long ≥ 0). */
  def giniByGroup(rows: DataFrame, slices: Int): DataFrame =
    groupedRanks(rows, slices)
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(20,0)")).as("s"),
        sum((col("rk").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))).as("t"))
      .select(col("grp"), col("n"),
        col("s").cast("long").as("total_cents"),
        ((lit(2).cast("decimal(2,0)") * col("t")
          - (col("n") + 1).cast("decimal(20,0)") * col("s")).cast("double")
          / col("n").cast("double") / col("s").cast("double")).as("gini"))

  /** q_mad: per-group ROBUST outlier audit — median / MAD (median
    * absolute deviation) and the count of |x − med| > 3·MAD points,
    * the heavy-tail-safe complement of q_outliers' z-score gate (mean
    * and σ are themselves dragged by the outliers they are supposed to
    * find; the median/MAD pair has a 50% breakdown point — Hampel's
    * rule). Medians are the EXACT lower median (rank (n+1) div 2 under
    * the total (x, id) order — no interpolation, so integer-cent
    * parity with the oracle is trivial), computed by TWO passes of the
    * grouped two-pass range-sliced rank: no group ever funnels into a
    * single task, shuffles carry (grp, id, value) triples only, and
    * the per-group median/MAD ledgers broadcast back onto the scan. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliers(Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("x")), 64)

  /** df form: expects (grp: String, id: Long unique, x: Long). */
  def madOutliers(rows: DataFrame, slices: Int): DataFrame = {
    def lowerMedian(in: DataFrame, as: String): DataFrame = {
      val ranked = groupedRanks(in, slices)
      val nDf = ranked.groupBy("grp").agg(count(lit(1)).as("n"))
      ranked.join(broadcast(nDf), "grp")
        .where(col("rk") === expr("(n + 1) div 2"))
        .select(col("grp"), col("n"), col("x").as(as))
    }
    // med is |groups|-grain but has THREE consumers (the dev projection
    // and the final join twice-removed through mad): uncut, every
    // consumer re-ran the full first rank pass (the r15 baseline plan
    // repeated the orders scan ~8×). Cut the tiny per-group ledgers and
    // the |rows|-grain dev frame (groupedRanks reads its input three
    // times: the min/max probe, the slice counts, and the offsets
    // join); free dev once mad is materialized. Same-window min-of-3
    // A/B at sf0.1: 3.6 → 2.9 s.
    val med = graft.Engine.cut(lowerMedian(rows, "med"))
    val dev = graft.Engine.cut(
      rows.join(broadcast(med.select("grp", "med")), "grp")
        .select(col("grp"), col("id"), abs(col("x") - col("med")).as("x")))
    val mad = graft.Engine.cut(lowerMedian(dev, "mad").select("grp", "mad"))
    graft.Engine.free(dev) // dead: mad is the only consumer
    rows.join(broadcast(med), "grp").join(broadcast(mad), "grp")
      .groupBy("grp")
      .agg(max("n").as("n"), max("med").as("med_cents"),
        max("mad").as("mad_cents"),
        sum(when(abs(col("x") - col("med")) > lit(3L) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** q_group_quantiles: per-group EXACT quartiles (p25/p50/p75) by
    * rank — the grouped counterpart of the global q_quantiles: each
    * quartile is the element at rank ⌈p·n⌉ of the total (x, id) order
    * (the inverted-CDF definition — an actual corpus value, no
    * interpolation, so integer-cent cross-engine parity is trivial).
    * One `groupedRanks` pass + one aggregate; the dominant group never
    * funnels into a single task. */
  def groupQuantiles(spark: SparkSession, dir: String): DataFrame =
    groupQuantiles(Tables(spark, dir, "orders")
      .select(col("o_orderpriority").as("grp"), col("o_orderkey").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("x")), 64)

  /** df form: expects (grp: String, id: Long unique, x: Long). */
  def groupQuantiles(rows: DataFrame, slices: Int): DataFrame = {
    val ranked = groupedRanks(rows, slices)
    val nDf = ranked.groupBy("grp").agg(count(lit(1)).as("n"))
    def at(p: Int) = // rank ⌈p·n/100⌉, computed in exact integers
      max(when(col("rk") === expr(s"cast(ceil($p * n / 100.0) as bigint)"),
        col("x"))).as(s"p$p")
    ranked.join(broadcast(nDf), "grp")
      .groupBy("grp")
      .agg(max(col("n")).as("n"), at(25), at(50), at(75))
  }

  /** q_skyline: the 2-D Pareto frontier (skyline operator — Börzsönyi,
    * Kossmann & Stocker, "The Skyline Operator", ICDE 2001) — orders
    * that are not dominated on (maximize o_totalprice, minimize
    * o_orderdate): no other order is at least as good on both axes and
    * strictly better on one. Exact duplicates of a point dominate
    * nothing and are never dominated, so points are deduplicated first
    * (carrying a multiplicity) and the skyline test runs on DISTINCT
    * points, where the sweep below is exact.
    *
    * TWO-PHASE distributed sweep (the MR-style decomposition —
    * domination restricted to a subset only shrinks, so every global
    * skyline point survives its partition's local skyline): phase 1
    * computes each partition's skyline with a per-(pid) window — sorted
    * by (price desc, date asc), a point is dominated iff the running
    * min of date over STRICTLY PRECEDING rows is ≤ its own date; phase
    * 2 repeats the identical sweep globally over the surviving
    * candidates only. The global sort touches candidates, not the
    * corpus (the `groupSample` two-phase contract). Worst case
    * (perfectly anti-correlated axes) every point is a candidate — the
    * honest bound of any skyline algorithm; real scale-out for that
    * regime grid-partitions the plane so phase-1 partitions can prune
    * each other, the same shape with one extra repartition. */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skyline(Tables(spark, dir, "orders")
      .select(col("o_totalprice").as("price"), col("o_orderdate").as("odate")))

  /** df form: expects (price: Double — maximize, odate: Date —
    * minimize); returns distinct frontier points with multiplicity. */
  def skyline(pts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val distinctPts = pts.groupBy("price", "odate")
      .agg(count(lit(1)).as("n_dups"))
    def sweep(df: DataFrame, part: Seq[String]): DataFrame = {
      val w = Window.partitionBy(part.map(col): _*)
        .orderBy(col("price").desc, col("odate").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      df.withColumn("run_min", min(col("odate")).over(w))
        .where(col("run_min").isNull || col("run_min") > col("odate"))
        .drop("run_min")
    }
    val local = sweep(distinctPts.withColumn("pid", spark_partition_id()),
      Seq("pid")).drop("pid")
    sweep(local, Seq.empty)
  }

  /** q_expectations: declarative data-quality audit — the dbt-test /
    * Great-Expectations-style gate a pipeline runs before publishing a
    * snapshot: one row per named constraint with its violation count
    * (0 = the expectation holds). Covers the three standard families:
    * column constraints (range, non-null, positivity — evaluated as
    * conditional sums, so ALL of a table's column checks share ONE
    * scan), uniqueness (count minus distinct count), and referential
    * integrity (anti-join orphan counts, the dim side broadcast).
    * Output grain is |checks| rows at any corpus scale; nothing wide
    * ever shuffles — each check moves either per-partition partial
    * sums or the anti-join's key column only. */
  private def chk(name: String, v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    struct(lit(name).as("check"), v.cast("long").as("violations"))

  /** df form of the column-constraint family: one scan, every check a
    * conditional sum; rows = (check, violations). */
  def checkViolations(df: DataFrame,
                      checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    // coalesce: an EMPTY table has zero violations, not NULL ones
    df.agg(array(checks.map { case (n, cond) =>
        chk(n, coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))) }: _*).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.check"), col("c.violations"))

  /** df form of a referential-integrity check: NON-NULL rows of `fk`
    * whose key has no match in `pk` (anti-join orphan count). NULL
    * foreign keys are excluded on purpose — SQL's NOT EXISTS/NOT IN
    * skip them too, so both engines share one NULL semantics; audit
    * nullability separately with a checkViolations isNull check.
    * Sides are aliased so fk and pk columns MAY share a name (the
    * common FK shape). */
  def orphanCount(name: String, fk: DataFrame, fkCol: String,
                  pk: DataFrame, pkCol: String): DataFrame =
    fk.select(col(fkCol)).where(col(fkCol).isNotNull).alias("fks")
      .join(pk.select(col(pkCol)).alias("pks"),
        col(s"fks.$fkCol") === col(s"pks.$pkCol"), "left_anti")
      .agg(array(chk(name, count(lit(1)))).as("cs"))
      .select(explode(col("cs")).as("c"))
      .select(col("c.check"), col("c.violations"))

  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val e = Tables(spark, dir, "events")
    Seq(
      // per-table column checks: one scan each, conditional sums
      checkViolations(li, Seq(
        "lineitem.quantity_in_1_50" ->
          (col("l_quantity") < 1 || col("l_quantity") > 50),
        "lineitem.price_positive" -> (col("l_extendedprice") <= 0),
        "lineitem.discount_in_0_1" ->
          (col("l_discount") < 0 || col("l_discount") > 1))),
      checkViolations(o, Seq(
        "orders.priority_not_null" -> col("o_orderpriority").isNull,
        "orders.totalprice_positive" -> (col("o_totalprice") <= 0))),
      // uniqueness
      e.agg(array(chk("events.event_id_unique",
          count(lit(1)) - countDistinct(col("event_id")))).as("cs"))
        .select(explode(col("cs")).as("c"))
        .select(col("c.check"), col("c.violations")),
      // referential integrity
      orphanCount("lineitem.orderkey_in_orders", li, "l_orderkey", o, "o_orderkey"),
      orphanCount("orders.custkey_in_customer", o, "o_custkey", c, "c_custkey"))
      .reduce(_ unionAll _)
  }

  /** q_group_topk: top-3 orders by price per month — the AGGREGATED
    * top-N-per-group form. q_window_rank (Windows.scala) answers the
    * same question with `row_number() OVER`: every row shuffles to its
    * group's reducer and sorts there. This form rides the bounded
    * [[graft.functions.TopKByScore]] partial aggregator instead: each
    * map partition contributes ≤ k rows per group to the exchange, so
    * at 100 TB a month's billions of orders cost the shuffle k rows
    * per map partition — the partial/final shape `max()` has, applied
    * to a ranked list. Ties (equal price) break to the lower order
    * key in both engines, so the result is oracle-hashable. */
  /** THE k for the q_group_topk / q_incr_topk pair and their shared
    * window-mirror oracle — one constant, three consumers, so the
    * bit-for-bit equivalence claim cannot be broken by a lone edit. */
  val GroupTopkK = 3

  def groupTopK(spark: SparkSession, dir: String, k: Int = GroupTopkK): DataFrame = {
    val tk = udaf(new graft.functions.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Double, Long)]())
    Tables(spark, dir, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(tk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("month"), posexplode(col("top")))
      .select(col("month"), col("col._2").as("o_orderkey"),
        col("col._1").as("o_totalprice"),
        (col("pos") + 1).cast("long").as("rn"))
  }
}
