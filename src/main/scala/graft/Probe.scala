package graft

/** Scratch timing probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "kmeans"
    println(s"availableProcessors: ${Runtime.getRuntime.availableProcessors}")
    val t00 = System.nanoTime()
    val spark = Engine.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    println(f"session: ${(System.nanoTime() - t00) / 1e9}%.1f s")
    def timed(label: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    what match {
      case "lsh_lifecycle" =>
        import graft.operators.{Artifacts, Similarity}
        for (i <- 1 to 2) {
          Artifacts.clear(Similarity.LshIndex)
          timed(s"lsh_index_build$i")(Similarity.stagedLshIndex(spark, dir))
          Artifacts.clear(Similarity.LshAppend)
          timed(s"lsh_append_build$i")(Similarity.stagedAppendedLshIndex(spark, dir))
        }
      case "audio_micro" =>
        // codec micro-benchmark outside Spark: encode+decode N clips on
        // 1 vs 32 threads — separates per-row codec cost from contention
        import graft.operators.Multimodal
        val pre = (0 until 2000).map(i => Multimodal.probeEncodeOne(i.toLong))
        def bench(label: String, threads: Int, n: Int)(f: Int => Unit): Unit = {
          val t0 = System.nanoTime()
          val per = n / threads
          val ts = (0 until threads).map { t =>
            val th = new Thread(() => (t * per until (t + 1) * per).foreach(f))
            th.start(); th
          }
          ts.foreach(_.join())
          val sec = (System.nanoTime() - t0) / 1e9
          println(f"$label threads=$threads n=$n total=$sec%.2f s")
        }
        for (threads <- Seq(1, 32); n = 20000) {
          bench("encode", threads, n)(i => Multimodal.probeEncodeOne(i.toLong))
          bench("decode", threads, n)(i => Multimodal.probeDecodeOne(pre(i % 2000)))
        }
      case "rw_parts" =>
        // randomWalk phase split: edge build+cut vs the step joins
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val li = graft.sources.Tables(spark, dir, "lineitem")
        val fwd = li.select((col("l_partkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        val edgesIn = fwd.unionAll(fwd.select(col("dst").as("src"),
          col("src").as("dst"))).distinct()
        timed("edge_distinct_count")(println(s"edges: ${edgesIn.count()}"))
        val w0 = Window.partitionBy("src").orderBy("dst")
        var e: org.apache.spark.sql.DataFrame = null
        timed("rank_window_cut") {
          e = graft.Engine.cut(edgesIn
            .withColumn("rnk", row_number().over(w0).cast("long") - 1L)
            .withColumn("d", count(lit(1)).over(Window.partitionBy("src"))))
        }
        var w = e.select(col("src")).distinct()
          .select(col("src").as("start"), col("src").as("node"))
        timed("frontier_count")(println(s"nodes: ${w.count()}"))
        for (k <- 1 to 4) {
          val coin = graft.functions.Fnv32a.mix32(graft.functions.Fnv32a.fnv32a(
            concat(col("w.start").cast("string"), lit(s"_${k - 1}_"),
              col("w.node").cast("string"))))
          val nw = w.as("w")
            .join(e.as("e"), col("w.node") === col("e.src") &&
              col("e.rnk") === coin % col("e.d"))
            .select(col("w.start").as("start"), col("e.dst").as("node"))
          timed(s"step$k") { w = graft.Engine.cut(nw) }
        }
      case "n2v_parts" =>
        // node2vec phase split: projection-edge build vs adjacency vs steps
        import org.apache.spark.sql.functions._
        val lp = graft.sources.Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()
        val und = lp.select(col("ok"), col("p").as("u"))
          .join(lp.select(col("ok"), col("p").as("v")), "ok")
          .where(col("u") < col("v")).select("u", "v").distinct()
        val edges = und.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        timed("edges_count")(println(s"edges: ${edges.count()}"))
        var adj: org.apache.spark.sql.DataFrame = null
        timed("adjacency_cut") {
          adj = graft.Engine.cut(edges.groupBy("src")
            .agg(sort_array(collect_list(col("dst"))).as("ns")))
        }
        timed("adj_stats")(println(adj.select(
          count(lit(1)), avg(size(col("ns"))), max(size(col("ns")))).collect().mkString))
        timed("full_walk")(graft.operators.Graphs.node2vec(spark, dir)
          .write.format("noop").mode("overwrite").save())
      case m if m.startsWith("multi:") =>
        // 3 runs per named query: run1 = cold (memo builds billed),
        // min(run2, run3) = the warm/serve basis
        for (name <- m.stripPrefix("multi:").split(",").map(_.trim)) {
          for (i <- 1 to 3) {
            val t0 = System.nanoTime()
            SparkEntry.queries(s"q_$name")(spark, dir)
              .write.format("noop").mode("overwrite").save()
            println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.1f s")
          }
        }
      case s if s.startsWith("stream_phases:") =>
        // per-micro-batch progress JSON (batch duration + state-store
        // metrics) for one streaming query — where does the time go?
        val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
            println(e.progress.json)
          override def onQueryTerminated(
              e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        }
        spark.streams.addListener(listener)
        val qn = s.stripPrefix("stream_phases:")
        timed(qn)(SparkEntry.queries(s"q_$qn")(spark, dir)
          .write.format("noop").mode("overwrite").save())
      case "graph_build_parts" =>
        // phase split of GraphIndex.stagedGraph — where does the sf1
        // build time go?
        import org.apache.spark.sql.functions._
        val root = java.nio.file.Files.createTempDirectory("graft-gbp-").toString
        val li = graft.sources.Tables(spark, dir, "lineitem")
        var op: org.apache.spark.sql.DataFrame = null
        timed("op") {
          op = graft.Engine.cut(
            li.select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
              .distinct())
          op.write.mode("overwrite").parquet(s"$root/op")
        }
        var proj: org.apache.spark.sql.DataFrame = null
        timed("proj") {
          proj = graft.Engine.cut(
            op.select(col("ok"), col("p").as("u"))
              .join(op.select(col("ok"), col("p").as("v")), "ok")
              .where(col("u") < col("v")).select("u", "v").distinct())
          proj.write.mode("overwrite").parquet(s"$root/proj")
        }
        timed("stats") {
          val m = proj.count()
          val n = proj.select(col("u").as("x"))
            .unionAll(proj.select(col("v").as("x"))).distinct().count()
          println(s"  n=$n m=$m")
        }
        timed("projadj") {
          proj.select(col("u").as("src"), col("v").as("dst"))
            .unionAll(proj.select(col("v").as("src"), col("u").as("dst")))
            .groupBy("src")
            .agg(sort_array(collect_list(col("dst"))).as("ns"))
            .write.mode("overwrite").parquet(s"$root/projadj")
        }
        var bip: org.apache.spark.sql.DataFrame = null
        timed("bip") {
          val fwd = li.select((col("l_partkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
          bip = graft.Engine.cut(
            fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
              .distinct())
          bip.write.mode("overwrite").parquet(s"$root/bip")
        }
        timed("bipw") {
          val fww = li.groupBy(
              (col("l_partkey") * 2).cast("long").as("src"),
              (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
            .agg(min(col("l_quantity").cast("long")).as("w"))
          fww.unionAll(
              fww.select(col("dst").as("src"), col("src").as("dst"), col("w")))
            .write.mode("overwrite").parquet(s"$root/bipw")
        }
        timed("sp") {
          li.select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
            .distinct().write.mode("overwrite").parquet(s"$root/sp")
        }
        timed("walks") {
          graft.operators.Graphs.randomWalk(bip, graft.operators.Graphs.RwSteps)
            .write.mode("overwrite").parquet(s"$root/walks")
        }
        println(s"root: $root")

      case b if b == "graph_band" || b.startsWith("graph_band:") =>
        // the iterative-graph scale decade (VERDICT r12 #2): one cold
        // graph-artifact build (timed), then min-of-2 serves of every
        // iterative/graph consumer — run against sf0.1 / sf1 / sf10
        // dirs to get per-decade ratios with the confirm-run (min-of-2)
        // policy built in. Optional ":q_a,q_b" suffix: serve only the
        // named consumers (targeted re-measures of a layout change).
        import scala.util.control.NonFatal
        val all = Seq("q_pagerank", "q_ppr", "q_bfs", "q_sssp", "q_hits",
          "q_kcore", "q_label_prop", "q_triangle", "q_triangle_approx",
          "q_degree_dist", "q_random_walk", "q_walk_pairs", "q_node2vec",
          "q_basket_pairs")
        val picked = if (b.contains(':'))
          b.dropWhile(_ != ':').drop(1).split(",").map(_.trim).toSeq
        else all
        graft.operators.Artifacts.clear(graft.operators.GraphIndex.Graph)
        timed("graph_build")(graft.operators.GraphIndex.stagedGraph(spark, dir))
        for (name <- picked) {
          try {
            var best = Double.MaxValue
            for (_ <- 1 to 2) {
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, dir)
                .write.format("noop").mode("overwrite").save()
              best = math.min(best, (System.nanoTime() - t0) / 1e9)
            }
            println(f"$name: $best%.2f s" + (name match {
              case "q_kcore" =>
                s" (rounds ${graft.operators.Graphs.lastKcoreRounds})"
              case "q_label_prop" =>
                s" (rounds ${graft.operators.Graphs.lastLpaRounds})"
              case _ => ""
            }))
          } catch { case NonFatal(e) =>
            println(s"$name: FAILED ${e.getMessage}")
          }
        }

      case "web_append_parts" =>
        // phase split of curateWebAppend: where does the inc row go?
        import org.apache.spark.sql.functions._
        import graft.operators.{Dedup, Pipeline, TextOps}
        def force(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        graft.operators.Artifacts.clear(Pipeline.WebState)
        timed("staged_build")(Pipeline.stagedWebState(spark, dir))
        for (i <- 1 to 2) {
          val (root, fixtureCut, deltaDocs) = Pipeline.stagedWebState(spark, dir)
          val so = graft.sources.WebCorpus.SliceOff
          val dp = (col("doc_id") >= so + graft.sources.WebCorpus.DeltaSliceStart) ||
            (col("doc_id") < so && col("doc_id") >= fixtureCut)
          val corpus = graft.sources.WebCorpus.enriched(
            graft.sources.Tables(spark, dir, "documents"))
          val delta = corpus.where(dp)
          var dClean: org.apache.spark.sql.DataFrame = null
          timed(s"r$i dClean"){ dClean = graft.Engine.cut(
            TextOps.c4Clean(delta).select("doc_id", "dropped", "clean_text")) }
          val dCleaned = dClean.where(!col("dropped"))
            .select(col("doc_id"), col("clean_text").as("text"))
          var dG: org.apache.spark.sql.DataFrame = null
          timed(s"r$i dG"){ dG = graft.Engine.cut(
            TextOps.qualityGopher(dCleaned).select(col("doc_id"), col("keep"))) }
          var dSurv: org.apache.spark.sql.DataFrame = null
          timed(s"r$i dSurv"){ dSurv = graft.Engine.cut(
            dCleaned.join(dG.where(col("keep")).select("doc_id"), "doc_id")) }
          val dBands = Dedup.sigBands(dSurv)
          val cands = Dedup.crossCandidates(spark.read.parquet(s"$root/bands"),
              dBands, deltaDocs * Dedup.Bands)
            .unionAll(Dedup.lshCandidates(dBands))
          timed(s"r$i cands")(force(cands))
          val newPairs = Dedup.verifyCandidatesIndexed(
            spark.read.parquet(s"$root/sh3").unionByName(Dedup.shingles(dSurv)),
            cands, 0.8, materializePruned = true)
          timed(s"r$i newPairs")(force(newPairs))
          var comps: org.apache.spark.sql.DataFrame = null
          timed(s"r$i comps"){ comps = Dedup.dupComponents(
            spark.read.parquet(s"$root/pairs").unionAll(newPairs)) }
          timed(s"r$i full_query")(force(
            SparkEntry.queries("q_pipeline_web_append")(spark, dir)))
        }
      case "ann_serve" =>
        // the sf10 serve-path datapoint (VERDICT r11 #7): stage each ANN
        // index once (build timed but unbilled — the serve ratio is the
        // claim), then time the search min-of-2 and measure recall@10
        // vs the exact brute-force top-k
        import graft.operators.Similarity
        import scala.util.control.NonFatal
        def topk(name: String): Map[Long, Set[Long]] =
          SparkEntry.queries(name)(spark, dir).select("qid", "vec_id")
            .collect().groupBy(_.getLong(0))
            .view.mapValues(_.map(_.getLong(1)).toSet).toMap
        val tEx0 = System.nanoTime()
        val exact = topk("q_simsearch")
        println(f"exact_brute: ${(System.nanoTime() - tEx0) / 1e9}%.1f s")
        def recall(ann: Map[Long, Set[Long]]): Double =
          exact.map { case (q, ex) =>
            ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
          }.sum / exact.size
        for ((fam, build, q) <- Seq[(String, () => Any, String)](
          ("ivf", () => Similarity.stagedIvfIndex(spark, dir), "q_simsearch_ivf_indexed"),
          ("pq", () => Similarity.stagedPqIndex(spark, dir), "q_simsearch_pq_indexed"),
          ("ivfpq", () => Similarity.stagedIvfpqIndex(spark, dir), "q_simsearch_ivfpq_indexed"),
          ("lsh", () => Similarity.stagedLshIndex(spark, dir), "q_simsearch_lsh_indexed"))) {
          try {
            timed(s"${fam}_build")(build())
            var best = Double.MaxValue
            for (_ <- 1 to 2) {
              val t0 = System.nanoTime()
              SparkEntry.queries(q)(spark, dir)
                .write.format("noop").mode("overwrite").save()
              best = math.min(best, (System.nanoTime() - t0) / 1e9)
            }
            println(f"${fam}_search: $best%.2f s")
            println(f"${fam}_recall_at_10: ${recall(topk(q))}%.3f")
          } catch { case NonFatal(e) =>
            println(s"${fam}: FAILED ${e.getMessage}")
          }
        }
      case _ =>
        for (i <- 1 to 3) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(s"q_$what")(spark, dir)
          df.write.format("noop").mode("overwrite").save()
          println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
    }
    spark.stop()
  }
}
