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
        import graft.operators.Similarity
        for (i <- 1 to 2) {
          Similarity.clearLshIndexCache()
          timed(s"lsh_index_build$i")(Similarity.stagedLshIndex(spark, dir))
          Similarity.clearLshAppendCache()
          timed(s"lsh_append_build$i")(Similarity.stagedAppendedLshIndex(spark, dir))
        }
      case "lsh_append_parts" =>
        import graft.operators.Similarity
        timed("parts")(Similarity.probeLshAppendParts(spark, dir, timed))
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
        graft.operators.GraphIndex.clearGraphCache()
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

      case "kcore_int" =>
        // VERDICT r13 #3: is the kcore/labelProp 1.5x-over-linear sf10
        // residue working-set spill (constant factor) or plan shape?
        // Controlled experiment: the SAME df-form peel over the SAME
        // projection edges, long node ids (baseline) vs int node ids
        // (halves shuffle key+payload bytes). If the ratio moves, the
        // diagnosis (spill, not shape) is proven and int encoding is
        // free speed at the 2M-node grain.
        import org.apache.spark.sql.functions._
        val lp = graft.sources.Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
          .distinct()
        val undL = graft.Engine.cut(lp.select(col("ok"), col("p").as("u"))
          .join(lp.select(col("ok"), col("p").as("v")), "ok")
          .where(col("u") < col("v")).select("u", "v").distinct())
        val m = undL.count()
        val n = undL.select(col("u").as("x"))
          .unionAll(undL.select(col("v").as("x"))).distinct().count()
        val k = (3L * (2L * m / n) / 4L).toInt
        println(s"edges: $m nodes: $n k: $k")
        // the sf10 replica ids are cp·10⁸ + orig (GenSf1.KeyOff) and
        // overflow INT; dictionary-encode them densely the way a
        // production int-encoding pass would: (replica, orig) →
        // replica·(maxOrig+1) + orig. Verify the assumed orig bound
        // before trusting the bijection.
        val maxOrig = undL.select(greatest(max(col("u") % 100000000L),
          max(col("v") % 100000000L))).head().getLong(0)
        require(maxOrig < 100000L, s"orig key bound broken: $maxOrig")
        def enc(name: String) = expr(
          s"CAST(($name div 100000000) * ${maxOrig + 1} + $name % 100000000 AS INT)")
        val undI = graft.Engine.cut(
          undL.select(enc("u").as("u"), enc("v").as("v")))
        for ((tag, und) <- Seq(("long", undL), ("int", undI))) {
          var best = Double.MaxValue
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            graft.operators.Graphs.kcore(und, graft.operators.Graphs.KcoreRounds, k)
              .write.format("noop").mode("overwrite").save()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"kcore_$tag: $best%.1f s (rounds ${graft.operators.Graphs.lastKcoreRounds})")
        }

      case "graph_enc" =>
        // VERDICT r14 #3: END-TO-END in-serve dictionary encode A/B for
        // the two ~15x/decade iterative serves. The r13 kcore_int probe
        // proved 31% on the peel CORE via a structural (replica-aware)
        // encode; BASELINE's reason for not adopting it in the serve —
        // "the V-grain encode/decode joins eat the win" — was an
        // argument, not a number. This measures the number: arm A = the
        // catalog serve as-is off the warm bucketed artifact; arm B =
        // the SAME round core (kcoreAdj/labelPropAdj) over an adjacency
        // dictionary-encoded IN the serve (no corpus assumptions: a
        // range-partitioned per-partition row_number dict — globally
        // MONOTONE, so LPA's (count desc, label asc) argmax is
        // preserved through encode/decode — broadcast to both endpoint
        // joins, one |E| re-key shuffle, V-grain decode join at the
        // end). min-of-2 both arms; result checksums printed so the
        // arms' semantic equality is part of the probe output.
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val (nN, mM) = graft.operators.GraphIndex.projStats(spark, dir)
        val kk = (3L * (2L * mM / nN) / 4L).toInt
        require(nN < Int.MaxValue, s"node count $nN overflows the int dict")
        println(s"n=$nN m=$mM k=$kk")
        graft.operators.GraphIndex.clearGraphCache()
        timed("graph_build")(graft.operators.GraphIndex.stagedGraph(spark, dir))
        def forceSum(df: DataFrame, a: String, b: String): String =
          df.agg(count(lit(1)), sum(col(a)), sum(col(b))).head().toString
        def minOf2(label: String)(f: => String): Unit = {
          var best = Double.MaxValue
          var chk = ""
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            chk = f
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"$label: $best%.1f s  checksum=$chk")
        }
        // the dict is a pure function of the staged node set; build it
        // fresh inside every timed arm-B run (it IS the in-serve cost
        // being measured)
        def dict(): DataFrame = {
          val parts = graft.operators.GraphIndex.projEdges(spark, dir)
            .select(col("src")).distinct()
            .repartitionByRange(32, col("src"))
            .select(col("src"), spark_partition_id().as("pid"))
          val local = graft.Engine.cut(parts.withColumn("rn",
            row_number().over(Window.partitionBy("pid").orderBy("src"))
              .cast("long") - 1L))
          // exclusive prefix offsets over the 32 range buckets: the only
          // driver state is one row per partition
          val cnts = local.groupBy("pid").agg(count(lit(1)).as("c"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
          var acc = 0L
          val off = cnts.map { case (p, c) => val o = acc; acc += c; p -> o }.toMap
          val d = graft.Engine.cut(local.select(col("src"),
            (col("rn") + element_at(typedLit(off), col("pid")))
              .cast("int").as("nid")))
          graft.Engine.free(local)
          d
        }
        def encodedAdj(d: DataFrame): DataFrame = {
          val adj = graft.operators.GraphIndex.projEdges(spark, dir)
          val a = graft.Engine.cut(
            adj.join(broadcast(d), "src")
              .select(col("nid").as("s"), col("dst"))
              .join(broadcast(d.withColumnRenamed("src", "dst")
                .withColumnRenamed("nid", "nidd")), "dst")
              .select(col("s").as("src"), col("nidd").as("dst"))
              .repartition(col("src")))
          a
        }
        minOf2("kcore_long") {
          forceSum(SparkEntry.queries("q_kcore")(spark, dir), "node", "deg")
        }
        minOf2("kcore_enc") {
          val d = dict()
          val core = graft.operators.Graphs.kcoreAdj(
            encodedAdj(d), graft.operators.Graphs.KcoreRounds, kk)
          val out = core.join(
            broadcast(d.select(col("nid").as("node"), col("src").as("orig"))),
            "node").select(col("orig").as("node"), col("deg"))
          val chk = forceSum(out, "node", "deg")
          graft.Engine.free(d)
          chk
        }
        minOf2("label_prop_long") {
          forceSum(SparkEntry.queries("q_label_prop")(spark, dir), "node", "lbl")
        }
        minOf2("label_prop_enc") {
          val d = dict()
          val lab = graft.operators.Graphs.labelPropAdj(
            encodedAdj(d), graft.operators.Graphs.LpaRounds)
          val out = lab
            .join(broadcast(d.select(col("nid").as("node"), col("src").as("n0"))),
              "node")
            .join(broadcast(d.select(col("nid").as("lbl"), col("src").as("l0"))),
              "lbl")
            .select(col("n0").as("node"), col("l0").as("lbl"))
          val chk = forceSum(out, "node", "lbl")
          graft.Engine.free(d)
          chk
        }

      case "r16_enc" =>
        // VERDICT r15 #3: INGEST-TIME dictionary encode A/B. graph_enc
        // measured the IN-SERVE encode and rejected it (the per-serve
        // dict build + |E| re-key ate the win at sf10); this probe
        // moves the encode OUTSIDE the timed region — the dict and the
        // int-keyed adjacency are built once, like artifact tables —
        // and times only the serves: arm A = catalog kcore/label_prop
        // off the warm long-keyed bucketed artifact, arm B = the SAME
        // round cores over the pre-encoded int adjacency + the V-grain
        // decode join the real serve would pay. The encode build is
        // timed separately (the graph_build delta adopting it costs).
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val (nN, mM) = graft.operators.GraphIndex.projStats(spark, dir)
        val kk = (3L * (2L * mM / nN) / 4L).toInt
        require(nN < Int.MaxValue, s"node count $nN overflows the int dict")
        println(s"n=$nN m=$mM k=$kk")
        graft.operators.GraphIndex.clearGraphCache()
        timed("graph_build")(graft.operators.GraphIndex.stagedGraph(spark, dir))
        def forceSum(df: DataFrame, a: String, b: String): String =
          df.agg(count(lit(1)), sum(col(a)), sum(col(b))).head().toString
        def minOf2(label: String)(f: => String): Unit = {
          var best = Double.MaxValue
          var chk = ""
          for (_ <- 1 to 2) {
            val t0 = System.nanoTime()
            chk = f
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"$label: $best%.1f s  checksum=$chk")
        }
        // The artifact (new code) is already CODE-keyed. Symmetric
        // width A/B: both arms are cut, src-repartitioned adjacency
        // frames of IDENTICAL shape — arm LONG decoded back to the
        // original ids through the dict, arm ENC the codes as stored —
        // so the delta isolates exactly what the ingest-time encode
        // buys per serve (key/payload width + the V-grain decode join
        // the enc arm pays at output). The catalog rows then time the
        // real end-to-end encoded serves off the bucketed artifact.
        val d0 = graft.operators.GraphIndex.dict(spark, dir)
        val proja = graft.operators.GraphIndex.projEdges(spark, dir)
        var longAdj: DataFrame = null
        var encAdj: DataFrame = null
        timed("arm_build") {
          longAdj = graft.Engine.cut(proja
            .join(d0.select(col("code").as("src"), col("id").as("s0")), "src")
            .join(d0.select(col("code").as("dst"), col("id").as("d0")), "dst")
            .select(col("s0").as("src"), col("d0").as("dst"))
            .repartition(col("src")))
          encAdj = graft.Engine.cut(
            proja.select(col("src"), col("dst")).repartition(col("src")))
        }
        // .select wrapper: the cores Engine.free their input frame
        // (a no-op on the real bucketed scans); keep the shared cuts
        // alive across runs by handing them a Project over it
        minOf2("kcore_long") {
          forceSum(graft.operators.Graphs.kcoreAdj(
            longAdj.select(col("src"), col("dst")),
            graft.operators.Graphs.KcoreRounds, kk), "node", "deg")
        }
        minOf2("kcore_enc") {
          val core = graft.operators.Graphs.kcoreAdj(
            encAdj.select(col("src"), col("dst")),
            graft.operators.Graphs.KcoreRounds, kk)
          val out = core.join(
            d0.select(col("code").as("node"), col("id").as("orig")),
            "node").select(col("orig").as("node"), col("deg"))
          forceSum(out, "node", "deg")
        }
        minOf2("label_prop_long") {
          forceSum(graft.operators.Graphs.labelPropAdj(
            longAdj.select(col("src"), col("dst")),
            graft.operators.Graphs.LpaRounds), "node", "lbl")
        }
        minOf2("label_prop_enc") {
          val lab = graft.operators.Graphs.labelPropAdj(
            encAdj.select(col("src"), col("dst")),
            graft.operators.Graphs.LpaRounds)
          val out = lab
            .join(d0.select(col("code").as("node"), col("id").as("n0")),
              "node")
            .join(d0.select(col("code").as("lbl"), col("id").as("l0")),
              "lbl")
            .select(col("n0").as("node"), col("l0").as("lbl"))
          forceSum(out, "node", "lbl")
        }
        minOf2("kcore_catalog_enc") {
          forceSum(SparkEntry.queries("q_kcore")(spark, dir), "node", "deg")
        }
        minOf2("label_prop_catalog_enc") {
          forceSum(SparkEntry.queries("q_label_prop")(spark, dir), "node", "lbl")
        }
        minOf2("degree_dist_catalog_enc") {
          forceSum(SparkEntry.queries("q_degree_dist")(spark, dir),
            "degree", "n_nodes")
        }

      case "r16_enc2" =>
        // CATALOG-vs-CATALOG width A/B: both arms are bucketed+sorted
        // parquet tables of the SAME rows (the shape the real serves
        // read — r16_enc's cut-frame arms measured the width effect on
        // RDD-scan frames, but LPA re-references its adjacency ~2x per
        // round and the page-cache parquet re-scan beats the block
        // store, so the decision needs bucketed arms). Arm LONG: the
        // proja rows decoded to original ids, bucket-written to a temp
        // root; arm ENC: the artifact's code-keyed proja + the V-grain
        // decode join at output. Same window, min-of-2, checksums
        // printed.
        import org.apache.spark.sql.DataFrame
        import org.apache.spark.sql.functions._
        val (nN, mM) = graft.operators.GraphIndex.projStats(spark, dir)
        val kk = (3L * (2L * mM / nN) / 4L).toInt
        println(s"n=$nN m=$mM k=$kk")
        def forceSum(df: DataFrame, a: String, b: String): String =
          df.agg(count(lit(1)), sum(col(a)), sum(col(b))).head().toString
        def minOf2(label: String)(f: => String): Unit = {
          var best = Double.MaxValue
          var chk = ""
          for (_ <- 1 to 2) {
            // nudge the ContextCleaner: dead per-run cuts/broadcasts are
            // only discovered on GC, and at the sf10 grain letting them
            // pile up ends in a heartbeat-killing full GC mid-arm
            System.gc()
            val t0 = System.nanoTime()
            chk = f
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          println(f"$label: $best%.1f s  checksum=$chk")
        }
        val d0 = graft.operators.GraphIndex.dict(spark, dir)
        val tmpRoot = graft.Engine.workDir("graft-enc2-").getAbsolutePath
        timed("long_table_build") {
          graft.operators.GraphIndex.bucketWrite(
            graft.operators.GraphIndex.projEdges(spark, dir)
              .join(d0.select(col("code").as("src"), col("id").as("s0")), "src")
              .join(d0.select(col("code").as("dst"), col("id").as("d0")), "dst")
              .select(col("s0").as("src"), col("d0").as("dst")),
            tmpRoot, "proja_long")
        }
        val longAdj = graft.operators.GraphIndex.bucketedTable(
          spark, tmpRoot, "proja_long", "src BIGINT, dst BIGINT")
        minOf2("label_prop_catalog_long") {
          forceSum(graft.operators.Graphs.labelPropAdj(longAdj,
            graft.operators.Graphs.LpaRounds), "node", "lbl")
        }
        minOf2("label_prop_catalog_enc") {
          forceSum(SparkEntry.queries("q_label_prop")(spark, dir), "node", "lbl")
        }
        minOf2("kcore_catalog_long") {
          forceSum(graft.operators.Graphs.kcoreAdj(longAdj,
            graft.operators.Graphs.KcoreRounds, kk), "node", "deg")
        }
        minOf2("kcore_catalog_enc") {
          forceSum(SparkEntry.queries("q_kcore")(spark, dir), "node", "deg")
        }

      case "web_append_parts" =>
        // phase split of curateWebAppend: where does the inc row go?
        import org.apache.spark.sql.functions._
        import graft.operators.{Dedup, Pipeline, TextOps}
        def force(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        graft.operators.Pipeline.clearWebStateCache()
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
