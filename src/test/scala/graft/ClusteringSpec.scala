package graft

import graft.operators.Clustering

class ClusteringSpec extends SparkSuiteBase {

  test("kmeans: inertia non-increasing with more Lloyd iterations") {
    def inertia(iters: Int): Double =
      Clustering.kmeansAssign(spark, sf, iters).collect().map(_.getDouble(2)).sum
    val i1 = inertia(1)
    val i4 = inertia(4)
    val i8 = inertia(8)
    assert(i4 <= i1 + 1e-6, s"i1=$i1 i4=$i4")
    assert(i8 <= i4 + 1e-6, s"i4=$i4 i8=$i8")
  }

  test("kmeans: deterministic across runs") {
    val a = Clustering.kmeansSummary(spark, sf).collect().map(_.toSeq)
    val b = Clustering.kmeansSummary(spark, sf).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("kmeans: every vector assigned, k clusters at most") {
    val rows = Clustering.kmeansAssign(spark, sf).collect()
    val n = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(rows.length === n)
    assert(rows.map(_.getInt(1)).distinct.length <= Clustering.K)
  }

  test("nearest-centroid confusion: totals reconcile, diagonal dominates, deterministic") {
    val rows = Clustering.nearestCentroid(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val n = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(rows.values.sum === n, "every vector classified exactly once")
    // prototypes must beat chance on their own training data: the
    // diagonal outweighs any single off-diagonal cell per true label
    val labels = rows.keys.map(_._1).toSeq.distinct
    labels.foreach { l =>
      val diag = rows.getOrElse((l, l), 0L)
      val offMax = rows.collect { case ((t, p), c) if t == l && p != l => c }
        .foldLeft(0L)(math.max)
      assert(diag > offMax, s"label $l: diag=$diag offMax=$offMax")
    }
    val again = Clustering.nearestCentroid(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again === rows)
  }

  test("q_pca_power recovers a planted principal direction (fixed-point power iteration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // anisotropic corpus: points = t·d + small noise, d a fixed unit-ish
    // direction — the top principal component must align with d
    val rnd = new scala.util.Random(3)
    val dim = 64
    val dRaw = Array.fill(dim)(rnd.nextGaussian())
    val dn = math.sqrt(dRaw.map(x => x * x).sum)
    val d = dRaw.map(_ / dn)
    val rows = (0 until 400).map { i =>
      val t = 3.0 * rnd.nextGaussian()
      (i.toLong, d.map(_ * t).zip(Array.fill(dim)(0.05 * rnd.nextGaussian())).map(p => p._1 + p._2))
    }
    val v = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x * lit(Clustering.FpScale)).cast("long")).as("e"))
    val c = Clustering.pcaPowerFixed(v, Clustering.PcaIters).map(_.toDouble)
    val cn = math.sqrt(c.map(x => x * x).sum)
    val cos = math.abs(c.zip(d).map(p => p._1 * p._2).sum / cn)
    info(f"planted-direction alignment |cos| = $cos%.4f")
    assert(cos > 0.95, f"power iteration must align with the planted direction, got $cos%.4f")
    // max-norm convention: the returned vector is scaled to max |c| = FpScale
    assert(c.map(math.abs).max <= Clustering.FpScale * 1.001)
    assert(c.map(math.abs).max >= Clustering.FpScale * 0.5)
  }

  test("q_pca_power on the fixture: 64 deterministic rows, memoized model") {
    val out = Clustering.pcaPower(spark, sf).collect()
    assert(out.length === 64)
    assert(out.map(_.getLong(0)).toSeq === (0L until 64L))
    val again = Clustering.pcaPower(spark, sf).collect()
    assert(out.map(_.getLong(1)).toSeq === again.map(_.getLong(1)).toSeq)
  }

  test("q_pca_deflate recovers BOTH planted directions (deflation then the same power chain)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two ORTHOGONAL planted directions with well-separated variances:
    // the first chain must find d1, the deflated chain must find d2 —
    // the generalization the fixed-point pattern claims (VERDICT r9 #5)
    val rnd = new scala.util.Random(11)
    val dim = 64
    def unit(raw: Array[Double]): Array[Double] = {
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    val d1 = unit(Array.fill(dim)(rnd.nextGaussian()))
    // Gram-Schmidt: d2 ⟂ d1
    val r2 = Array.fill(dim)(rnd.nextGaussian())
    val p = r2.zip(d1).map(x => x._1 * x._2).sum
    val d2 = unit(r2.zip(d1).map { case (x, u) => x - p * u })
    val rows = (0 until 400).map { i =>
      val t1 = 4.0 * rnd.nextGaussian()
      val t2 = 1.5 * rnd.nextGaussian()
      val noise = Array.fill(dim)(0.03 * rnd.nextGaussian())
      (i.toLong, d1.indices.map(j => t1 * d1(j) + t2 * d2(j) + noise(j)).toArray)
    }
    val v = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x * lit(Clustering.FpScale)).cast("long")).as("e"))
    def cosWith(c: Array[Long], d: Array[Double]): Double = {
      val cd = c.map(_.toDouble)
      val cn = math.sqrt(cd.map(x => x * x).sum)
      math.abs(cd.zip(d).map(p => p._1 * p._2).sum / cn)
    }
    val c1 = Clustering.pcaPowerFixed(v, Clustering.PcaIters)
    val c2 = Clustering.pcaPowerFixed(
      Clustering.pcaDeflatedVecs(v, c1), Clustering.PcaIters)
    val cos11 = cosWith(c1, d1)
    val cos22 = cosWith(c2, d2)
    val cos21 = cosWith(c2, d1)
    info(f"|cos(c1,d1)| = $cos11%.4f  |cos(c2,d2)| = $cos22%.4f  |cos(c2,d1)| = $cos21%.4f")
    assert(cos11 > 0.99, f"first component must align with the dominant direction, got $cos11%.4f")
    assert(cos22 > 0.99, f"deflated component must align with the second direction, got $cos22%.4f")
    assert(cos21 < 0.1, f"deflation must annihilate the first direction, got $cos21%.4f")
  }

  test("q_pca_topk recovers THREE planted orthogonal directions; component 2 ≡ q_pca_deflate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val dim = 64
    def unit(raw: Array[Double]): Array[Double] = {
      val n = math.sqrt(raw.map(x => x * x).sum); raw.map(_ / n)
    }
    // Gram-Schmidt three mutually orthogonal directions
    val ds = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    while (ds.length < 3) {
      var r = Array.fill(dim)(rnd.nextGaussian())
      ds.foreach { u =>
        val p = r.zip(u).map(x => x._1 * x._2).sum
        r = r.zip(u).map { case (x, uu) => x - p * uu }
      }
      ds += unit(r)
    }
    val sd = Seq(5.0, 2.5, 1.2)
    val rows = (0 until 500).map { i =>
      val t = sd.map(_ * rnd.nextGaussian())
      val noise = Array.fill(dim)(0.02 * rnd.nextGaussian())
      (i.toLong, (0 until dim).map(j =>
        t(0) * ds(0)(j) + t(1) * ds(1)(j) + t(2) * ds(2)(j) + noise(j)).toArray)
    }
    val v = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x * lit(Clustering.FpScale)).cast("long")).as("e"))
    def cosWith(c: Array[Long], d: Array[Double]): Double = {
      val cd = c.map(_.toDouble)
      val cn = math.sqrt(cd.map(x => x * x).sum)
      math.abs(cd.zip(d).map(p => p._1 * p._2).sum / cn)
    }
    // the loop on the synthetic df (mirrors pcaTopKFixed's catalog form)
    var vs = v
    val comps = (0 until 3).map { j =>
      val c = Clustering.pcaPowerFixed(vs, Clustering.PcaIters)
      if (j < 2) vs = Clustering.pcaDeflatedVecs(vs, c)
      c
    }
    comps.zipWithIndex.foreach { case (c, j) =>
      val cj = cosWith(c, ds(j))
      info(f"|cos(c$j, d$j)| = $cj%.4f")
      assert(cj > 0.98, f"component $j misaligned: $cj%.4f")
      // annihilated against every EARLIER direction
      (0 until j).foreach { i =>
        val ci = cosWith(c, ds(i))
        assert(ci < 0.15, f"component $j retains direction $i: $ci%.4f")
      }
    }
    // catalog form: 3·64 rows; component 2 must equal q_pca_deflate
    val out = Clustering.pcaTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 3 * 64)
    val comp1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3).toSeq
    val deflate = Clustering.pcaDeflate(spark, sf).collect().map(_.getLong(1)).toSeq
    assert(comp1 === deflate, "loop component 2 must equal the single-deflation operator")
    val comp0 = out.filter(_._1 == 0L).sortBy(_._2).map(_._3).toSeq
    val power = Clustering.pcaPower(spark, sf).collect().map(_.getLong(1)).toSeq
    assert(comp0 === power, "loop component 1 must equal q_pca_power")
  }

  test("q_jl_project: JL distance preservation within the d=16 band; deterministic long form") {
    import org.apache.spark.sql.functions.col
    val d = Clustering.JlDims
    // original 64-d and projected 16-d vectors for the first 30 ids
    val orig = graft.sources.Tables(spark, sf, "embeddings")
      .where(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val proj = Clustering.jlProject(spark, sf)
      .where(col("vec_id") < 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (id, rows) =>
        id -> rows.sortBy(_._2).map(_._3) }
    assert(proj.values.forall(_.length === d))
    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ids = orig.keys.toSeq.sorted
    val distortions = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      dx = dist(orig(ids(i)), orig(ids(j)))
      if dx > 1e-12
      dy = dist(proj(ids(i)), proj(ids(j))) / math.sqrt(d.toDouble)
    } yield math.abs(dy / dx - 1.0)
    val sorted = distortions.sorted
    val median = sorted(sorted.size / 2)
    val p90 = sorted((sorted.size * 9) / 10)
    info(f"pairwise distance distortion: median $median%.3f  p90 $p90%.3f (${sorted.size} pairs)")
    // Gaussian JL at d=16: per-distance std ≈ 1/√(2d) ≈ 0.18
    assert(median < 0.30, f"median distortion $median%.3f")
    assert(p90 < 0.60, f"p90 distortion $p90%.3f")
    // long form: exactly d rows per vector, bit-deterministic
    val n = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(Clustering.jlProject(spark, sf).count() === n * d)
  }

  test("q_pca_deflate on the fixture: 64 deterministic rows, distinct from the first component") {
    val first = Clustering.pcaPower(spark, sf).collect().map(_.getLong(1)).toSeq
    val out = Clustering.pcaDeflate(spark, sf).collect()
    assert(out.length === 64)
    assert(out.map(_.getLong(0)).toSeq === (0L until 64L))
    assert(out.map(_.getLong(1)).toSeq !== first,
      "second component must differ from the first")
    val again = Clustering.pcaDeflate(spark, sf).collect()
    assert(out.map(_.getLong(1)).toSeq === again.map(_.getLong(1)).toSeq)
  }

  test("dbscan crafted geometry: hub-spoke cluster, clique cluster, border and noise verdicts") {
    import spark.implicits._
    // hub h sees 3 spokes at 60 deg (cos 0.5 >= eps) -> |N|=4 core; the
    // spokes see only h (pairwise cos 0.25 < eps) -> |N|=2 border; a
    // 4-clique of near-identical vectors is all-core; one orthogonal-ish
    // vector (cos <= 0 to everything) is noise.
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),            // hub
      (2L, Array(0.5f, 0.866f, 0f, 0f)),      // spoke
      (3L, Array(0.5f, 0f, 0.866f, 0f)),      // spoke
      (4L, Array(0.5f, 0f, 0f, 0.866f)),      // spoke
      (10L, Array(0.001f, -1f, -1f, -1f)),    // clique (cos ~ 1 pairwise,
      (11L, Array(0.002f, -1f, -1f, -1f)),    //   cos to spokes ~ -0.5,
      (12L, Array(0.003f, -1f, -1f, -1f)),    //   to hub ~ 0)
      (13L, Array(0.004f, -1f, -1f, -1f)),
      (99L, Array(-1f, 0.3f, 0f, 0f)))        // noise (cos < 0.35 to all)
      .toDF("vec_id", "embedding")
    val out = Clustering.dbscan(emb, eps = 0.35, minPts = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("core", 1L)))
    Seq(2L, 3L, 4L).foreach(s => assert(out(s) === (("border", 1L)), s"spoke $s"))
    Seq(10L, 11L, 12L, 13L).foreach(f => assert(out(f) === (("core", 10L)), s"clique $f"))
    assert(out(99L) === (("noise", -1L)))
  }

  test("dbscan equals a plain-Scala reference on seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(733)
    for (trial <- 1 to 3) {
      val n = 40 + rnd.nextInt(20)
      val vecs = (0 until n).map { i =>
        // a few dense blobs + uniform background so all three roles occur
        val blob = rnd.nextInt(4)
        val base = Array.tabulate(6)(d => if (d == blob) 1.0f else 0f)
        (i.toLong, base.map(_ + (rnd.nextFloat() - 0.5f) *
          (if (rnd.nextBoolean()) 0.4f else 2.0f)))
      }
      val eps = 0.75; val minPts = 3
      // reference: exact double cosine, same min-label component rule
      val e = vecs.map { case (id, v) => (id, v.map(_.toDouble)) }
      def cos(a: Array[Double], b: Array[Double]) = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val adj = e.map { case (id, v) =>
        id -> e.filter { case (j, w) => j != id && cos(v, w) >= eps }.map(_._1).toSet
      }.toMap
      val core = e.map(_._1).filter(id => adj(id).size + 1 >= minPts).toSet
      // min-label closure over core-core edges
      var lbl = core.map(c => c -> c).toMap
      var changed = true
      while (changed) {
        changed = false
        for (c <- core; d <- adj(c) if core(d) && lbl(d) < lbl(c)) {
          lbl += c -> lbl(d); changed = true
        }
      }
      val expect = e.map(_._1).map { id =>
        if (core(id)) id -> (("core", lbl(id)))
        else {
          val coreNbr = adj(id).filter(core)
          if (coreNbr.nonEmpty) id -> (("border", coreNbr.map(lbl).min))
          else id -> (("noise", -1L))
        }
      }.toMap
      val got = Clustering.dbscan(vecs.toDF("vec_id", "embedding"),
          eps = eps, minPts = minPts).collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(got === expect, s"trial $trial")
    }
  }

  test("q_dbscan declared form: roles partition the corpus, min-label clusters, noise is -1") {
    val out = Clustering.dbscan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val n = graft.sources.Tables(spark, sf, "embeddings").count()
    assert(out.length.toLong === n)
    val byRole = out.groupBy(_._2)
    assert(byRole.keySet.subsetOf(Set("core", "border", "noise")))
    out.foreach { case (id, role, cl) =>
      if (role == "noise") assert(cl === -1L, s"vec $id")
      else assert(cl >= 0L, s"vec $id cluster $cl")
      // min-label: a core member can never sit below its own cluster id
      if (role == "core") assert(cl <= id, s"core $id cluster $cl")
    }
    // every core point's cluster is the min vec_id of its component ->
    // cluster label itself must be a core vec_id
    val coreIds = byRole.getOrElse("core", Array.empty).map(_._1).toSet
    out.filter(_._2 != "noise").foreach { case (id, _, cl) =>
      assert(coreIds(cl), s"cluster label $cl of $id is not a core point")
    }
  }

  // ── fixed-point fit: reference parity, job count, degenerate input ──

  /** (vec_id, e) rows with possibly-null vectors, as the fit expects. */
  private def vecFrame(rows: Seq[(Long, Array[Long])]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("e", ArrayType(LongType, containsNull = false), nullable = true)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, e) => Row(id, e) }: _*), schema)
  }

  /** Plain-Scala Lloyd's: init = the k lowest vec_ids, nearest centroid
    * by (d2, cid), exact integer mean rounded half away from zero, an
    * empty cluster keeps its centroid, null vectors are skipped. */
  private def refLloyd(rows: Seq[(Long, Array[Long])], iters: Int,
                       k: Int): Array[Array[Long]] = {
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(j => (a(j) - b(j)) * (a(j) - b(j))).sum
    val live = rows.filter(_._2 != null).map(_._2)
    var cs = rows.sortBy(_._1).take(k).map(_._2.clone()).toArray
    for (_ <- 1 to iters) {
      val cur = cs
      val members = live.groupBy(e => cur.indices.minBy(c => (d2(e, cur(c)), c)))
      cs = cur.indices.map { c =>
        members.get(c).fold(cur(c)) { m =>
          Array.tabulate(cur(c).length) { j =>
            (BigDecimal(m.map(_(j)).sum) / BigDecimal(m.size))
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          }
        }
      }.toArray
    }
    cs
  }

  test("fitFixed equals a plain-Scala Lloyd reference; multi-slice equals per-slice fits") {
    val rnd = new scala.util.Random(1207)
    def unit(range: Int): Long = (rnd.nextInt(2 * range + 1) - range).toLong
    val cases: Seq[(String, Seq[(Long, Array[Long])], Int)] =
      (1 to 4).map { t =>
        // wide micro-unit range with negative components (residual-like)
        val n = 30 + rnd.nextInt(40)
        (s"random wide $t",
          rnd.shuffle((0 until n).toList).map(i => i.toLong * 3 -> Array.fill(8)(unit(2000000))),
          2 + rnd.nextInt(7))
      } ++ (1 to 4).map { t =>
        // tiny range: equidistant ties on every round
        val n = 20 + rnd.nextInt(30)
        (s"random ties $t", (0 until n).map(i => i.toLong -> Array.fill(8)(unit(2))), 5)
      } ++ Seq(
        // (1, 0) is equidistant from both init centroids: the lower cid wins
        ("explicit tie", Seq(0L -> Array(0L, 0L, 0L, 0L), 1L -> Array(2L, 0L, 0L, 0L),
          2L -> Array(1L, 0L, 0L, 0L), 3L -> Array(1L, 0L, 0L, 0L)), 2),
        // two identical init vectors: every tie goes to cid 0, so cid 1
        // stays empty and must keep its centroid
        ("forced empty cluster", Seq(0L -> Array(5L, -5L, 1L, 1L), 1L -> Array(5L, -5L, 1L, 1L),
          2L -> Array(7L, -3L, 0L, 2L), 3L -> Array(-1L, -9L, 4L, 4L)), 2),
        ("k > n", Seq(4L -> Array(1L, 2L, 3L, 4L), 9L -> Array(-4L, -3L, -2L, -1L),
          6L -> Array(0L, 0L, 7L, 0L)), 5))
    for ((name, rows, k) <- cases; iters <- Seq(0, 1, 4)) {
      val df = vecFrame(rows).repartition(3)
      val got = Clustering.fitFixed(df, iters, k)
      val want = refLloyd(rows, iters, k)
      assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq, s"$name, iters $iters")
      if (name == "forced empty cluster" && iters == 1)
        assert(got(1).toSeq === rows.head._2.toSeq, "empty cluster must keep its centroid")
      if (name == "k > n") assert(got.length === rows.length)
      // the 2- and 4-slice fits are the independent per-slice fits
      val dims = rows.head._2.length
      for (slices <- Seq(2, 4)) {
        val w = dims / slices
        val multi = Clustering.fitFixedSlices(df, slices, iters, k)
        (0 until slices).foreach { s =>
          val sliced = rows.map { case (id, e) => id -> e.slice(s * w, s * w + w) }
          assert(multi(s).map(_.toSeq).toSeq === refLloyd(sliced, iters, k).map(_.toSeq).toSeq,
            s"$name, iters $iters, slice $s of $slices")
        }
      }
    }
  }

  test("fitFixed runs one Spark job per Lloyd round plus one for the init") {
    import java.util.concurrent.ConcurrentLinkedQueue
    val rnd = new scala.util.Random(5)
    val df = vecFrame((0 until 200).map(i => i.toLong -> Array.fill(16)(rnd.nextInt(1000).toLong)))
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      for (iters <- Seq(1, 4)) {
        groups.clear()
        sc.setJobGroup("fit-job-count", "fitFixed job count")
        try {
          Clustering.fitFixed(df, iters, 6)
          Clustering.fitFixedSlices(df, 4, iters, 6)
          // the listener bus delivers in order: once the marker job is
          // seen, every job of the fits has been counted
          sc.setJobGroup("fit-job-count-marker", "listener drain marker")
          sc.parallelize(Seq(1), 1).count()
        } finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!groups.contains("fit-job-count-marker") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(groups.contains("fit-job-count-marker"), "listener bus did not drain")
        val jobs = groups.toArray.count(_ == "fit-job-count")
        assert(jobs <= 2 * (iters + 1), s"$jobs jobs for two fits of $iters rounds each")
      }
    } finally sc.removeSparkListener(listener)
  }

  test("fitFixed degenerate input: empty, null vectors, wrong lengths") {
    val base = (0 until 6).map(i => i.toLong -> Array(i.toLong, -i.toLong, 2L * i, 1L))
    // empty input: an empty model (the IVF append fallback relies on it)
    assert(Clustering.fitFixed(vecFrame(Nil), 4, 4).isEmpty)
    assert(Clustering.fitFixedSlices(vecFrame(Nil), 2, 4, 4).forall(_.isEmpty))
    // a null vector outside the init is skipped
    val withNull = base :+ (9L -> (null: Array[Long]))
    assert(Clustering.fitFixed(vecFrame(withNull), 4, 4).map(_.toSeq).toSeq ===
      refLloyd(base, 4, 4).map(_.toSeq).toSeq)
    // a null init vector, or a vector of the wrong length anywhere,
    // names its vec_id
    def rejects(rows: Seq[(Long, Array[Long])], id: Long): Unit = {
      val e = intercept[IllegalArgumentException](Clustering.fitFixed(vecFrame(rows), 4, 4))
      assert(e.getMessage.contains(s"vec_id $id"), e.getMessage)
    }
    rejects(base.updated(2, 2L -> null), 2L)
    rejects(base.updated(5, 5L -> Array(1L, 2L, 3L)), 5L)
    rejects(base.updated(1, 1L -> Array(1L, 2L, 3L, 4L, 5L)), 1L)
  }
}
