package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

/** Relational core (B1–B6, B13–B14): results + plan shape. */
class RelationalSpec extends SparkSuiteBase {

  test("histogram: buckets partition the table; totals reconcile") {
    val rows = Relational.histogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val total = graft.sources.Tables(spark, sf, "orders").count()
    assert(rows.map(_._2).sum === total, "every order lands in exactly one bucket")
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.forall { case (b, _, _) => b >= 0L && b < 20L })
  }

  test("profile: null/distinct accounting on a crafted frame") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a")), (Some(2L), None), (None, Some("a")), (Some(2L), Some("b")))
      .toDF("k", "s")
    val rows = Relational.profile(df, Seq("k" -> true, "s" -> false)).collect()
      .map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    assert((k.getLong(1), k.getLong(2), k.getLong(3)) === ((4L, 1L, 2L)))
    assert((k.getDouble(4), k.getDouble(5)) === ((1.0, 2.0)))
    assert(k.isNullAt(6) && k.isNullAt(7))
    val s = rows("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) === ((4L, 1L, 2L)))
    assert(s.isNullAt(4) && s.isNullAt(5))
    assert((s.getString(6), s.getString(7)) === (("a", "b")))
  }

  test("profile: ≤2 scans, and the heavy Expand pass hash-aggregates") {
    // r15: the string min/max legs are split into their own (second,
    // column-pruned) scan so the multi-countDistinct Expand pass keeps
    // a mutable fixed-width buffer and plans as HashAggregate — one
    // combined aggregate forced the whole (cols+1)× expanded input
    // through SortAggregate, a full sort of 6× the corpus vs one extra
    // 2-column scan
    val plan = Relational.profile(spark, sf).queryExecution.executedPlan.toString
    assert(plan.sliding("orders.parquet".length).count(_ == "orders.parquet") <= 2,
      s"profile should scan the table at most twice:\n$plan")
    val expandIdx = plan.indexOf("Expand")
    assert(expandIdx >= 0, s"expected the countDistinct Expand:\n$plan")
    assert(!plan.contains("SortAggregate") ||
        plan.indexOf("SortAggregate") > expandIdx,
      s"the Expand pass must hash-aggregate (SortAggregate only allowed " +
        s"on the tiny string pass below it):\n$plan")
  }

  test("moment stats match Spark's built-in corr/var_pop/covar_pop") {
    import org.apache.spark.sql.functions._
    val got = Relational.momentStats(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(5), r.getDouble(6))))
      .toMap
    val ref = graft.sources.Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(var_pop("l_quantity"), covar_pop("l_quantity", "l_linenumber"),
        corr("l_quantity", "l_linenumber"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    for ((flag, (v, c, r)) <- got) {
      val (rv, rc, rr) = ref(flag)
      assert(math.abs(v - rv) < 1e-9, s"$flag var_pop: $v vs $rv")
      assert(math.abs(c - rc) < 1e-9, s"$flag covar_pop: $c vs $rc")
      assert(math.abs(r - rr) < 1e-9, s"$flag corr: $r vs $rr")
    }
  }

  test("outliers: gate matches a hand recomputation; stats side is broadcast") {
    val li = graft.sources.Tables(spark, sf, "lineitem")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val want = li.groupBy(_._1).map { case (flag, rows) =>
      val xs = rows.map(_._2)
      val n = xs.length.toDouble
      val mu = xs.sum / n
      val sigma = math.sqrt(xs.map(x => x * x).sum / n - mu * mu)
      flag -> xs.count(x => math.abs(x - mu) > 1.5 * sigma).toLong
    }.filter(_._2 > 0L)
    val df = Relational.outliers(spark, sf)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got.values.sum > 0L, "uniform 1..50 must have 1.5σ tails")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"group stats should broadcast back onto the scan:\n$plan")
  }

  test("cdc compact: latest (ts, event_id) version wins; ts tie broken by event_id") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      // user 1: out-of-order arrival; latest ts is event 11
      (10L, ts(100), 1L, "create", 1.0),
      (12L, ts(50), 1L, "stale", 9.0),
      (11L, ts(200), 1L, "update", 2.5),
      // user 2: two versions at the SAME ts → higher event_id wins
      (20L, ts(300), 2L, "a", 1.0),
      (21L, ts(300), 2L, "b", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Relational.cdcCompact(events).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3))))
      .toMap
    assert(got(1L) === ((3L, "update", 2.5)))
    assert(got(2L) === ((2L, "b", 7.0)))
  }

  test("cdc compact aggregates with a partial (map-side) phase, not a window sort") {
    val plan = Relational.cdcCompact(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_max_by") || plan.contains("partial_maxby")
      || plan.toLowerCase.contains("partial_max_by"),
      s"expected partial max_by aggregation in plan:\n$plan")
    assert(!plan.contains("Window"), s"window sort leaked into plan:\n$plan")
  }

  test("scd2: intervals chain per key; exactly one open (current) version") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val events = Seq(
      (10L, ts(100), 1L, "v1"), (11L, ts(200), 1L, "v2"), (12L, ts(300), 1L, "v3"),
      (20L, ts(50), 2L, "only"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val rows = Relational.scd2(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4))))
    // user 1: each version's valid_to is the next version's valid_from
    val u1 = rows.filter(_._1 == 1L).sortBy(_._4)
    assert(u1.map(_._3).toSeq === Seq("v1", "v2", "v3"))
    assert(u1(0)._5 === Some(u1(1)._4) && u1(1)._5 === Some(u1(2)._4))
    assert(u1(2)._5 === None, "latest version stays open")
    assert(rows.count(_._5.isEmpty) === 2, "one open version per key")
  }

  test("filter pushes predicates to the parquet scan") {
    val plan = Relational.filterQuery(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_quantity"),
      s"expected parquet pushdown in plan:\n$plan")
  }

  test("scan_project prunes to 3 columns at the reader") {
    val plan = Relational.scanProject(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_extendedprice"), "unprojected column read")
  }

  test("group_sum matches a hand aggregation") {
    val got = Relational.groupSum(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(5)).toMap
    val raw = graft.sources.Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === raw)
  }

  test("rollup has grand total row equal to table size") {
    val n = graft.sources.Tables(spark, sf, "lineitem").count()
    val all = Relational.rollupSales(spark, sf).collect()
      .find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    assert(all.getLong(3) === n)
  }

  test("sort_limit is planned as TakeOrderedAndProject, not global sort") {
    val plan = Relational.sortLimit(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("approx_count_distinct within 5% of exact (HLL scale path)") {
    val approx = Relational.approxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Relational.distinctCount(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) <= math.max(1, ex * 0.05),
        s"$k: approx ${approx(k)} vs exact $ex")
    }
  }

  test("deterministic HLL (q_approx_distinct_det) within 3 sigma of exact") {
    // sigma = 1.04/sqrt(256) ~ 6.5%; the estimator is fully deterministic
    // (FNV + mix32 + integer floor division), so these are fixed numbers,
    // not flaky statistics. sf0.001 sits just above the raw estimator's
    // small-range zone (n/m ~ 4), hence the full 3-sigma allowance.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val est = Relational.approxDistinctDet(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(3)).toMap
      val exact = graft.sources.Tables(spark, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(org.apache.spark.sql.functions.countDistinct("l_orderkey"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      exact.foreach { case (k, ex) =>
        assert(math.abs(est(k) - ex) <= ex * 0.20,
          s"$dir $k: hll ${est(k)} vs exact $ex")
      }
    }
  }

  test("deterministic sample quantiles track exact; sample rate ~10%") {
    val rows = Relational.quantilesSample(spark, sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    val exact = Relational.quantiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val groupN = graft.sources.Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (k, p50, p95, n) =>
      val (e50, e95) = exact(k)
      // ~200 sampled rows/group: rank sd ~ sqrt(q(1-q)/n) — loose, but
      // deterministic (fixed hash predicate), so these never flake
      assert(math.abs(p50 - e50) / e50 < 0.10, s"$k p50 $p50 vs $e50")
      assert(math.abs(p95 - e95) / e95 < 0.05, s"$k p95 $p95 vs $e95")
      val rate = n.toDouble / groupN(k)
      assert(rate > 0.05 && rate < 0.15, s"$k sample rate $rate")
    }
  }

  test("rank-based quantiles replay the builtin percentile bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // fixture parity: the catalog query vs the builtin on the same input
    val got = Relational.quantiles(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    val want = graft.sources.Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"),
        count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    assert(got === want)
    // seeded random frames: odd/even group sizes, duplicate values,
    // exact-index and interpolated positions all get exercised
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val rows = (1 to 300 + trial).map { i =>
        (s"g${rnd.nextInt(3)}", i.toLong,
          math.round(rnd.nextDouble() * 1000) / 10.0) // one-decimal dupes
      }
      val df = rows.toDF("grp", "id", "x")
      val gotR = Relational.quantilesByRank(df,
        Seq(0.5 -> "p50", 0.95 -> "p95"), 8).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toMap
      val wantR = df.groupBy("grp")
        .agg(round(expr("percentile(x, 0.5)"), 4).as("p50"),
          round(expr("percentile(x, 0.95)"), 4).as("p95"),
          count(lit(1)).as("cnt"))
        .collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3)))
        .toMap
      assert(gotR === wantR, s"trial $trial")
    }
  }

  test("percentile_approx tracks exact percentile within 2%") {
    import org.apache.spark.sql.functions._
    val exact = Relational.quantiles(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = graft.sources.Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile_approx(l_extendedprice, 0.5, 1000)").as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) / e < 0.02, s"$k: ${approx(k)} vs $e")
    }
  }

  test("correlated subquery is decorrelated into a join (no per-row exec)") {
    val df = Relational.correlatedSubquery(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Join"), s"plan:\n$optimized")
    // every returned row exceeds its order's avg — semantic spot-check
    val rows = df.collect()
    assert(rows.nonEmpty)
  }

  test("recursive CTE plans as Spark's recursion operator") {
    val df = Relational.recursiveSpine(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("UnionLoop") || plan.contains("Recursion"),
      s"expected the recursive loop operator in:\n$plan")
    val rows = df.collect()
    assert(rows.length === 60)
    assert(rows.map(_.getLong(0)).sorted.toSeq === (0L until 60L))
  }

  test("setops: |union| = |intersect| + |except| + |b-only|, sanity") {
    val m = Relational.setOps(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m.keySet === Set("union", "intersect", "except"))
    assert(m("union") >= m("intersect") + m("except"))
  }

  test("unpivot melts 4 measures in ONE scan (Expand, not 4× UNION ALL)") {
    val df = Relational.unpivotMeasures(spark, sf)
    val n = graft.sources.Tables(spark, sf, "lineitem").count()
    assert(df.count() === 4 * n)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"plan:\n$plan")
    assert("FileScan".r.findAllIn(plan).size === 1,
      s"unpivot must read the table once:\n$plan")
    // spot value fidelity: sum over the quantity slice = direct sum
    import org.apache.spark.sql.functions._
    val melted = df.where(col("measure") === "l_quantity")
      .agg(round(sum("val"), 2)).head().getDouble(0)
    val direct = graft.sources.Tables(spark, sf, "lineitem")
      .agg(round(sum("l_quantity"), 2)).head().getDouble(0)
    assert(melted === direct)
  }

  test("k-anonymity: every published QI combo covers >= k people; rare combos suppressed") {
    import org.apache.spark.sql.functions._
    val k = 3L
    val got = Relational.kanonymize(spark, sf, k)
    // no published (seg, nation) group smaller than k
    val published = got.where(col("published"))
      .groupBy("seg_anon", "nation_anon").count().collect()
    assert(published.nonEmpty)
    assert(published.forall(_.getLong(2) >= k),
      published.filter(_.getLong(2) < k).mkString(","))
    // suppressed rows carry only '*' in both QI columns
    val sup = got.where(!col("published"))
      .select("seg_anon", "nation_anon").distinct().collect()
    assert(sup.forall(r => r.getString(0) == "*" && r.getString(1) == "*"))
    // row-count preserved: anonymization drops nobody
    assert(got.count() ===
      graft.sources.Tables(spark, sf, "customer").count())
  }

  test("equiDepth: exact decile ranks on a crafted set; repartition-stable; degenerate ties") {
    import spark.implicits._
    // 25 rows, values 1..25 shuffled: deciles by rank are fully known
    val rows = scala.util.Random.shuffle((1 to 25).toList)
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }
      .toDF("id", "v")
    val got = Relational.equiDepth(rows, 10, 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // reference: rank r (1-based) → bucket ((r-1)*10) div 25
    val ref = (1 to 25).groupBy(r => ((r - 1) * 10) / 25).map { case (b, rs) =>
      b.toLong -> ((rs.size.toLong, rs.min.toDouble, rs.max.toDouble))
    }
    assert(got === ref)
    // bucket sizes differ by at most 1 (equi-depth contract)
    val sizes = got.values.map(_._1)
    assert(sizes.max - sizes.min <= 1L)
    val again = Relational.equiDepth(rows.repartition(7), 10, 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(again === got)
    // all-equal values: single slice path, buckets still by rank
    val flat = (1L to 20L).map((_, 5.0)).toDF("id", "v")
    val g2 = Relational.equiDepth(flat, 4, 8).collect()
    assert(g2.map(_.getLong(1)).sum === 20L)
    assert(g2.forall(r => r.getDouble(2) === 5.0 && r.getDouble(3) === 5.0))
  }

  test("equiDepth plans no single-partition sort of the data") {
    val plan = Relational.equiDepth(spark, sf).queryExecution.executedPlan.toString
    // the only SinglePartition exchange allowed is for the tiny offset
    // side; the data path must sort within slice partitions only
    assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
  }

  test("corrMatrix matches Spark's builtin corr on all three pairs") {
    import org.apache.spark.sql.functions._
    val got = Relational.corrMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val li = graft.sources.Tables(spark, sf, "lineitem")
    val ref = li.agg(
      corr("l_quantity", "l_extendedprice"),
      corr("l_quantity", "l_discount"),
      corr("l_extendedprice", "l_discount")).head()
    assert(math.abs(got(("l_quantity", "l_extendedprice")) - ref.getDouble(0)) < 1e-9)
    assert(math.abs(got(("l_quantity", "l_discount")) - ref.getDouble(1)) < 1e-9)
    assert(math.abs(got(("l_extendedprice", "l_discount")) - ref.getDouble(2)) < 1e-9)
    got.values.foreach(c => assert(c >= -1.0 - 1e-12 && c <= 1.0 + 1e-12))
  }

  test("skyline: crafted frontier with ties and duplicates; ≡ brute force") {
    import spark.implicits._
    import java.sql.Date
    val d = (s: String) => Date.valueOf(s)
    val pts = Seq(
      (100.0, "2024-01-10"), // dominated by (100, 01-05) via date
      (100.0, "2024-01-05"), // frontier (tie price, best date)
      (200.0, "2024-01-08"), // frontier
      (200.0, "2024-01-08"), // exact duplicate → same frontier row, n_dups 2
      (150.0, "2024-01-08"), // dominated by (200, 01-08), price strict
      (50.0, "2024-01-01"),  // dominated by (60, 01-01), price strict
      (60.0, "2024-01-01"),  // frontier (earliest date)
      (10.0, "2024-02-01")   // dominated by everything earlier+pricier
    ).map { case (p, s) => (p, d(s)) }.toDF("price", "odate")
    val got = Relational.skyline(pts).collect()
      .map(r => (r.getDouble(0), r.getDate(1).toString, r.getLong(2))).toSet
    // brute-force reference over distinct points
    val raw = Seq((100.0, "2024-01-10"), (100.0, "2024-01-05"),
      (200.0, "2024-01-08"), (200.0, "2024-01-08"), (150.0, "2024-01-08"),
      (50.0, "2024-01-01"), (60.0, "2024-01-01"), (10.0, "2024-02-01"))
    val grouped = raw.groupBy(identity).map { case (k, v) => (k._1, k._2, v.size.toLong) }
    val ref = grouped.filter { case (p, dt, _) =>
      !grouped.exists { case (p2, d2, _) =>
        p2 >= p && d2 <= dt && (p2 > p || d2 < dt)
      }
    }.toSet
    assert(got === ref)
    assert(got === Set(
      (100.0, "2024-01-05", 1L), (200.0, "2024-01-08", 2L),
      (60.0, "2024-01-01", 1L)))
  }

  test("gini: equality→0, single-holder→(n−1)/n, repartition-stable") {
    import spark.implicits._
    // group "eq": 40 equal values → G = 0 exactly (rank formula, no ties ambiguity: x identical)
    // group "one": one holder of everything among 10 → G = (n−1)/n = 0.9
    val rows =
      (1L to 40L).map(i => ("eq", i, 100L)) ++
        (1L to 9L).map(i => ("one", 100L + i, 0L)) :+ (("one", 110L, 1000L))
    val df = rows.toDF("grp", "id", "x")
    val got = Relational.giniByGroup(df, 8).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got("eq")._3 === 0.0)
    assert(math.abs(got("one")._3 - 0.9) < 1e-12)
    assert(got("eq") === ((40L, 4000L, 0.0)))
    val again = Relational.giniByGroup(df.repartition(7), 8).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(again === got)
  }

  test("groupedRanks: 1e5-group regime matches plain window ranks (distributed offsets)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 100k distinct groups × 2 rows — the regime where the pre-r6
    // driver-collected offsets would funnel groups·slices rows through
    // the driver; offsets are now a distributed running-sum window.
    val n = 200000L
    val df = spark.range(n).select(
      concat(lit("g"), pmod(col("id"), lit(100000L))).as("grp"),
      col("id"),
      pmod(hash(col("id")), lit(1000)).cast("long").as("x"))
    val ranked = Relational.groupedRanks(df, 16)
    val w = Window.partitionBy("grp").orderBy("x", "id")
    val want = df.withColumn("rk_ref", row_number().over(w).cast("long"))
    val joined = ranked.join(want, Seq("grp", "id", "x")).cache()
    try {
      assert(joined.count() === n)
      assert(joined.where(col("rk") =!= col("rk_ref")).count() === 0L)
    } finally joined.unpersist()
  }

  test("skew-hardened slices: 99%-duplicate value splits into >1 window key; ranks exact") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // 99% of every group's mass is ONE value — the degenerate the old
    // linear value-range slicing collapsed into a single window task
    // (ADVICE r15: hi==lo / heavy duplication). The heavy value must
    // sub-split by id; ranks must still equal the plain window rank.
    val n = 10000L
    val df = spark.range(n).select(
      concat(lit("g"), pmod(col("id"), lit(2L))).as("grp"),
      col("id"),
      when(pmod(col("id"), lit(100L)) === 0L,
        pmod(hash(col("id")), lit(50L)).cast("long") + 100L)
        .otherwise(lit(7L)).as("x"))
    val sliced = graft.operators.Relational.skewSliced(df, 16).get
    val heavyKeys = sliced.where(col("x") === 7L)
      .select("slc", "hg", "sub").distinct().count()
    assert(heavyKeys > 1,
      s"heavy duplicate value must sub-split across window keys, got $heavyKeys")
    val ranked = graft.operators.Relational.groupedRanks(df, 16)
    val w = Window.partitionBy("grp").orderBy("x", "id")
    val want = df.withColumn("rk_ref", row_number().over(w).cast("long"))
    val joined = ranked.join(want, Seq("grp", "id", "x")).cache()
    try {
      assert(joined.count() === n)
      assert(joined.where(col("rk") =!= col("rk_ref")).count() === 0L)
    } finally joined.unpersist()
    // the all-constant frame (hi == lo) — every row is the heavy value
    // (above MinSliceRows so the sliced path engages)
    val const = spark.range(10000L).select(lit("g").as("grp"), col("id"),
      lit(5L).as("x"))
    val cs = graft.operators.Relational.skewSliced(const, 16).get
    assert(cs.select("slc", "hg", "sub").distinct().count() > 1,
      "constant column must still split by id")
    val cr = graft.operators.Relational.groupedRanks(const, 16)
      .select(col("id"), col("rk")).collect()
    cr.foreach(r => assert(r.getLong(1) === r.getLong(0) + 1L))
  }

  test("skew-hardened slices: BIGINT heavies past 2^53 sort by Long order; ranks exact") {
    // 2^60+1 and 2^60+2 round to the same double: sorted as doubles
    // they keep mass order (2^60+2 first, it is heavier) and hand the
    // keys' binary search an unsorted array; the double sketch alone
    // sees one heavy value 2^60, which is no value of x
    val h1 = (1L << 60) + 1L
    val h2 = (1L << 60) + 2L
    val n = 10000L
    val r = pmod(col("id"), lit(20L))
    val df = spark.range(n).select(
      concat(lit("g"), pmod(col("id"), lit(2L))).as("grp"),
      col("id"),
      when(r < 6L, lit(h1))
        .when(r < 18L, lit(h2))
        .when(r === 18L, lit((1L << 60) - 5L) - pmod(col("id"), lit(89L)))
        .otherwise(lit((1L << 60) + 3L) + pmod(col("id"), lit(97L))).as("x"))
    val sliced = Relational.skewSliced(df, 16).get
    Seq(h1, h2).foreach { h =>
      val keys = sliced.where(col("x") === h).select("slc", "hg", "sub").distinct().count()
      assert(keys > 1, s"heavy value $h must sub-split across window keys, got $keys")
    }
    val got = Relational.groupedRanks(df, 16).select("grp", "id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = df.select("grp", "id", "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap { g =>
        g.sortBy(t => (t._3, t._2)).zipWithIndex
          .map { case (t, i) => (t._1, t._2) -> (i + 1L) }
      }.toMap
    assert(got.size === n.toInt)
    assert(got === want)
  }

  test("gini plans no single-partition sort of the data") {
    val plan = Relational.giniByGroup(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
  }

  test("groupQuantiles equals a plain-Scala reference on seeded random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = (1 to 300).map(i =>
      (s"g${rnd.nextInt(3)}", i.toLong, rnd.nextInt(10000).toLong))
    val got = Relational.groupQuantiles(rows.toDF("grp", "id", "x"), 16)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(r => (r._3, r._2)).sorted.map(_._1)
      val n = sorted.length
      def at(p: Int) = sorted(math.ceil(p * n / 100.0).toInt - 1)
      g -> ((n.toLong, at(25), at(50), at(75)))
    }
    assert(got === want)
    // quartile order is a sanity invariant
    got.values.foreach { case (_, p25, p50, p75) =>
      assert(p25 <= p50 && p50 <= p75)
    }
  }

  test("winsorize equals a plain-Scala reference; rows conserved, tails clipped to the fences") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val rows = (1 to 400).map(i =>
      (s"g${rnd.nextInt(3)}", i.toLong, rnd.nextInt(10000).toLong))
    val got = Relational.winsorize(rows.toDF("grp", "id", "x"), 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size === rows.size, "winsorization must conserve every row")
    val fences = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(r => (r._3, r._2)).sorted.map(_._1)
      val n = sorted.length
      def at(p: Int) = sorted(math.ceil(p * n / 100.0).toInt - 1)
      g -> ((at(5), at(95)))
    }
    rows.foreach { case (g, id, x) =>
      val (p5, p95) = fences(g)
      val want = math.min(math.max(x, p5), p95)
      assert(got(id) === ((g, x, want, x < p5 || x > p95)), s"row $id")
    }
    // the clip actually fires on both tails of a 10k-wide uniform draw
    assert(got.values.exists { case (_, x, w, c) => c && w > x })
    assert(got.values.exists { case (_, x, w, c) => c && w < x })
    // clipped mass is ~10% (both 5% tails), never more than a quarter
    val frac = got.values.count(_._4).toDouble / got.size
    assert(frac > 0.02 && frac < 0.25, s"clipped fraction $frac")
  }

  test("madOutliers equals a plain-Scala reference on seeded random frames") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val rows = (1 to 400).map { i =>
        val g = s"g${rnd.nextInt(4)}"
        // heavy-tailed: mostly small, occasional huge
        val x = if (rnd.nextInt(10) == 0) rnd.nextInt(100000).toLong
                else rnd.nextInt(100).toLong
        (g, i.toLong, x)
      }
      val got = Relational.madOutliers(rows.toDF("grp", "id", "x"), 16)
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(r => (r._3, r._2)).sorted // (x, id) total order
        val n = sorted.length
        val med = sorted((n + 1) / 2 - 1)._1
        val devs = rs.map(r => (math.abs(r._3 - med), r._2)).sorted
        val mad = devs((n + 1) / 2 - 1)._1
        val out = rs.count(r => math.abs(r._3 - med) > 3 * mad)
        g -> ((n.toLong, med, mad, out.toLong))
      }
      assert(got === want, s"trial $trial")
    }
  }

  test("madOutliers: exact lower medians and Hampel counts on a crafted frame") {
    import spark.implicits._
    // group a: {10,20,30,40,1000} → med=30 (rank 3), devs {20,10,0,10,970}
    // → mad=10, outliers: |x−30| > 30 → {1000} only (the mean/σ gate
    // would be dragged by 1000 itself)
    // group b: {5,7} → med=5 (lower), devs {0,2} → mad=0 → any dev>0 is
    // an outlier → {7}
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L), ("a", 4L, 40L),
      ("a", 5L, 1000L),
      ("b", 6L, 5L), ("b", 7L, 7L)).toDF("grp", "id", "x")
    val got = Relational.madOutliers(rows, 8).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") === ((5L, 30L, 10L, 1L)))
    assert(got("b") === ((2L, 5L, 0L, 1L)))
    // scale discipline: no single-partition exchange, no window keyed
    // on grp alone (the dominant group must not funnel into one task)
    val plan = Relational.madOutliers(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), s"plan:\n$plan")
  }

  test("snapshotDiff classifies all four change classes; partitions the key union") {
    import spark.implicits._
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("key", "p1")
    val v2 = Seq((2L, "b"), (3L, "X"), (4L, "d")).toDF("key", "p2")
    val got = Relational.snapshotDiff(v1, v2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "modified", 4L -> "added"))
    // presence, not value nullness: a key present with a NULL audited
    // value is NOT added/removed, and NULL-vs-value is modified
    val n1 = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("c"))).toDF("key", "p1")
    val n2 = Seq((1L, Option.empty[String]), (2L, Some("b")),
      (3L, Option.empty[String])).toDF("key", "p2")
    val gotN = Relational.snapshotDiff(n1, n2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotN === Map(1L -> "unchanged", 2L -> "modified",
      3L -> "modified"))
    // declared form: every key of either snapshot appears exactly once
    val decl = Relational.snapshotDiff(spark, sf)
    assert(decl.select("key").distinct().count() === decl.count())
  }

  test("mergeUpsert: all three clauses fire; absent-key delete is a no-op") {
    import spark.implicits._
    val target = Seq((1L, "alice", 100L), (2L, "bob", 200L), (3L, "carol", 300L))
      .toDF("c_custkey", "c_name", "acctbal_cents")
    val source = Seq(
      (2L, 50L, "U"),   // matched update
      (3L, 0L, "D"),    // matched delete
      (4L, 70L, "U"),   // unmatched insert
      (5L, 0L, "D"))    // absent-key delete: no-op, must NOT insert
      .toDF("c_custkey", "spend_cents", "op")
    val got = Relational.mergeUpsert(target, source).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got === Map(
      1L -> (("alice", 100L, "keep")),
      2L -> (("bob", 250L, "update")),
      4L -> (("new:4", 70L, "insert"))))
    // declared form: key-set law — result keys = (target \ deleted) ∪ inserted,
    // each exactly once; actions partition the result
    val decl = Relational.mergeUpsert(spark, sf)
    assert(decl.select("c_custkey").distinct().count() === decl.count())
    val acts = decl.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("keep", "update", "insert").subsetOf(acts.keySet), acts.toString)
  }

  test("labelCentroids: counts constant per label; means match a driver recomputation") {
    import org.apache.spark.sql.functions.col
    val got = graft.operators.Clustering.labelCentroids(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val raw = graft.sources.Tables(spark, sf, "embeddings")
      .select(col("label").cast("long"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val ref = raw.groupBy(_._1).flatMap { case (lbl, vs) =>
      val dims = vs.head._2.length
      (1 to dims).map { d =>
        val xs = vs.map(_._2(d - 1))
        (lbl, d.toLong) -> ((xs.size.toLong,
          BigDecimal(xs.sum / xs.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toMap
    assert(got.keySet === ref.keySet)
    got.foreach { case (k, (n, m)) =>
      assert(n === ref(k)._1, s"$k count")
      assert(math.abs(m - ref(k)._2) <= 1e-4 + 1e-12, s"$k mean $m vs ${ref(k)._2}")
    }
  }

  test("skyline ≡ brute force on seeded random point sets (coarse grid forces ties)") {
    import spark.implicits._
    import java.sql.Date
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      // coarse grids → duplicate points and per-axis ties are common
      val raw = Seq.fill(200)((rnd.nextInt(12) * 10.0,
        Date.valueOf(f"2024-01-${1 + rnd.nextInt(25)}%02d")))
      val got = Relational.skyline(
        raw.toDF("price", "odate").repartition(1 + rnd.nextInt(8)))
        .collect()
        .map(r => (r.getDouble(0), r.getDate(1).toString, r.getLong(2))).toSet
      val grouped = raw.groupBy(identity)
        .map { case ((p, d), v) => (p, d.toString, v.size.toLong) }
      val ref = grouped.filter { case (p, d, _) =>
        !grouped.exists { case (p2, d2, _) =>
          p2 >= p && d2 <= d && (p2 > p || d2 < d) }
      }.toSet
      assert(got === ref, s"seed=$seed")
    }
  }

  test("equiDepth ≡ rank-formula reference on seeded random values with duplicates") {
    import spark.implicits._
    for (seed <- Seq(5, 77)) {
      val rnd = new scala.util.Random(seed)
      // duplicate-heavy values exercise tie handling across slices
      val raw = (1L to 300L).map(i => (i, rnd.nextInt(40).toDouble))
      val k = 7
      val got = Relational.equiDepth(raw.toDF("id", "v"), k, 1 + rnd.nextInt(16))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
        .toMap
      val n = raw.size
      val ref = raw.sortBy { case (id, v) => (v, id) }.zipWithIndex
        .map { case ((_, v), i) => (i.toLong * k / n, v) }
        .groupBy(_._1).map { case (b, vs) =>
          b -> ((vs.size.toLong, vs.map(_._2).min, vs.map(_._2).max))
        }
      assert(got === ref, s"seed=$seed")
    }
  }

  test("skyline: two-phase result is repartition-stable and never dominated") {
    import org.apache.spark.sql.functions.col
    val base = graft.sources.Tables(spark, sf, "orders")
      .select(col("o_totalprice").as("price"), col("o_orderdate").as("odate"))
    val a = Relational.skyline(base).collect()
      .map(r => (r.getDouble(0), r.get(1).toString, r.getLong(2))).toSet
    val b = Relational.skyline(base.repartition(17)).collect()
      .map(r => (r.getDouble(0), r.get(1).toString, r.getLong(2))).toSet
    assert(a === b)
    assert(a.nonEmpty)
    // no output point dominates another output point
    a.foreach { case (p, dt, _) =>
      assert(!a.exists { case (p2, d2, _) =>
        p2 >= p && d2 <= dt && (p2 > p || d2 < dt) })
    }
  }

  test("group_topk ≡ window row_number reference bit-for-bit; plan has no window") {
    import org.apache.spark.sql.expressions.Window
    val df = Relational.groupTopK(spark, sf)
    def key(r: org.apache.spark.sql.Row) =
      (r.getDate(0).toString, r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val got = df.collect().map(key).toSet
    val w = Window.partitionBy("month")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    val want = graft.sources.Tables(spark, sf, "orders")
      .select(to_date(date_trunc("month", col("o_orderdate"))).as("month"),
        col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .collect().map(key).toSet
    assert(got === want)
    // the point of the operator: partial/final bounded aggregation,
    // not a window sort of every order row
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"group_topk must not plan a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected partial/final top-k aggregate:\n$plan")
  }
}
