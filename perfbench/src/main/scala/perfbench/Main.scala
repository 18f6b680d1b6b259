package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Engine, SparkEntry}
import graft.sources.Tables

/** One benchmark run in one JVM: set up, drive a closed loop with one
  * client thread through `SparkEntry.queries`, hash every output, and
  * write the raw samples (and, when traced, the per-call layer counters)
  * to a JSON file that `perfbench/run.py` turns into metrics.
  *
  * A step is one call kind. In `batch` mode a round is one call of every
  * query of the mix on the generated input. In `lifecycle` mode a round
  * is one fresh corpus version (a new directory of hard links to the
  * generated files, so every memo keyed by directory misses): one cold
  * call per family (the build), then one warm call per family (serve or
  * refresh).
  */
object Main {

  final case class Step(kind: String, query: String, family: String, cls: String)

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def apply(k: String): String = m(k)
    def get(k: String, d: String): String = m.getOrElse(k, d)
    def list(k: String): Seq[String] = get(k, "").split(",").toSeq.filter(_.nonEmpty)
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val run = new Run(o)
    val out = try run.execute() finally run.stop()
    Files.writeString(new File(o("out")).toPath, Json(out))
  }

  /** Order-independent content hash of a result: each row rendered with
    * doubles at 9 significant digits, rows sorted, then sha-256. */
  def contentHash(rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "∅"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).round(new java.math.MathContext(9)).toString
      case f: Float => v(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(v).mkString("(", ",", ")")
      case a => a.toString
    }
    val canon = rows.map(r => r.toSeq.map(v).mkString("\u0001")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }
}

final class Run(o: Main.Opts) {
  import Main._

  private val data = o("data")
  private val work = new File(o("work"))
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val lifecycle = o("mode") == "lifecycle"
  private val traced = o.get("trace", "0") == "1"
  private val cpus = o("cpus")
  private val steps: Seq[Step] =
    if (!lifecycle) o.list("queries").map(q => Step(q, q, q, "query"))
    else familySteps("families")

  /** `family:query:class` entries; the first query of a family builds. */
  private def familySteps(key: String): Seq[Step] =
    o.list(key).map(_.split(":")).map { case Array(f, q, c) => Step(s"$f.$c", q, f, c) }

  private var spark: SparkSession = _
  private var trace: Trace = _
  private var versions = 0
  private val expected = mutable.LinkedHashMap[String, String]()
  private val calls = mutable.ArrayBuffer[Map[String, Any]]()
  private val failures = mutable.ArrayBuffer[String]()
  private val dumps = mutable.ArrayBuffer[(String, Array[Row], StructType)]()

  def stop(): Unit = if (spark != null) spark.stop()

  // ---- inputs ------------------------------------------------------------

  /** A fresh corpus version: a new directory path over the generated
    * files (hard links, so nothing is copied). */
  private def freshVersion(): String = {
    versions += 1
    val v = new File(work, s"versions/v$versions")
    v.mkdirs()
    for (f <- new File(data).listFiles() if f.getName.endsWith(".parquet"))
      Files.createLink(new File(v, f.getName).toPath, f.toPath)
    v.getAbsolutePath
  }

  private def pin(dir: String): Unit = Tables.names.foreach { t =>
    if (new File(dir, s"$t.parquet").exists()) Tables(spark, dir, t)
  }

  /** Bytes of the staged artifacts under the scratch directory: every
    * `graft-*` work directory except streaming sinks, which hold results. */
  private def artifactBytes(): Long = {
    def size(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(size).sum
      else f.length()
    Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("graft-") &&
        !f.getName.startsWith("graft-sink-") && !f.getName.startsWith("graft-upd-"))
      .map(size).sum
  }

  /** Heap retained after full collections. Spark's context cleaner frees
    * blocks of collected references asynchronously, so collect, let it
    * run, and collect again until the figure stops falling. */
  private def heapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = { System.gc(); Thread.sleep(100); mx.getHeapMemoryUsage.getUsed / 1048576.0 }
    Iterator.continually(used()).take(5).sliding(2).collectFirst {
      case Seq(a, b) if b >= a - 0.5 => math.min(a, b)
    }.getOrElse(used())
  }

  // ---- one call ----------------------------------------------------------

  /** Call `step` on `dir`, collect the result, check it. Returns the
    * collected rows (null on failure). Latency covers the call and the
    * collect, i.e. the time to a readable final result. */
  private def call(step: Step, dir: String, round: Int, phase: String,
                   span: Boolean, dump: Boolean = false): Array[Row] = {
    val f = SparkEntry.queries(step.query)
    val artBefore = if (step.cls == "build") artifactBytes() else 0L
    val name = s"$phase/$round/${step.kind}"
    val t0 = System.nanoTime()
    val result = scala.util.Try {
      if (span && trace != null) trace.span(name) { val df = f(spark, dir); (df.collect(), df.schema) }
      else { val df = f(spark, dir); (df.collect(), df.schema) }
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    var error: String = null
    var rows: Array[Row] = null
    var hash: String = null
    result match {
      case scala.util.Failure(e) => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      case scala.util.Success((rs, schema)) =>
        rows = rs
        hash = contentHash(rs)
        expected.get(step.query) match {
          case None =>
            expected(step.query) = hash
            if (dump) dumps += ((step.query, rs, schema))
          case Some(h) if h != hash => error = s"output hash $hash differs from the checked output $h"
          case _ =>
        }
    }
    val written = if (step.cls == "build") artifactBytes() - artBefore else 0L
    if (error == null && step.cls == "build" && written <= 0)
      error = "cold call wrote no artifact bytes (served from a memo)"
    if (error != null) failures += s"${step.kind}: $error"
    calls += Map("phase" -> phase, "round" -> round, "kind" -> step.kind,
      "query" -> step.query, "family" -> step.family, "cls" -> step.cls,
      "traced" -> span, "wall_ms" -> wallMs, "rows" -> Option(rows).map(_.length).getOrElse(-1),
      "hash" -> hash, "error" -> error, "artifact_bytes_written" -> written, "span" -> name)
    if (error == null) rows else null
  }

  /** Write the outputs kept for the oracle check. Runs outside every
    * timed region and every traced span, so the check costs no metric. */
  private def writeDumps(): Unit = {
    import scala.jdk.CollectionConverters._
    dumps.foreach { case (q, rs, schema) =>
      spark.createDataFrame(rs.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(work, s"dumps/$q").getAbsolutePath)
    }
    dumps.clear()
  }

  /** A lifecycle round's calls on one version: the first query of each
    * family cold (the build), then every query warm. */
  private def lifecycleSteps(fams: Seq[Step]): Seq[Step] =
    fams.map(_.family).distinct.map(f => fams.find(_.family == f).get)
      .map(s => s.copy(kind = s"${s.family}.build", cls = "build")) ++ fams

  /** One round of the mix; a lifecycle round runs `fams` on a fresh
    * version. */
  private def round(r: Int, phase: String, span: Boolean, dump: Boolean = false,
                    fams: Seq[Step] = steps, dir: String = data): Unit =
    if (!lifecycle) steps.foreach(s => call(s, dir, r, phase, span, dump))
    else {
      val dir = freshVersion()
      pin(dir)
      lifecycleSteps(fams).foreach(s => call(s, dir, r, phase, span, dump))
    }

  // ---- the run -----------------------------------------------------------

  def execute(): Map[String, Any] = {
    work.mkdirs()
    val t0 = System.nanoTime()
    spark = Engine.session(cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9

    // set-up: table pinning plus one untimed warm-up round, repeated on
    // fresh corpus versions (once in a traced run); the first pass also
    // keeps the outputs that are checked against the oracle, written
    // after the passes are timed
    val nSetups = if (traced) 1 else 2
    val setupPasses = (1 to nSetups).map { i =>
      val s0 = System.nanoTime()
      val dir = if (lifecycle || i == 1) data else freshVersion()
      if (!lifecycle) pin(dir)
      round(-i, "setup", span = false, dump = i == 1, dir = dir)
      (System.nanoTime() - s0) / 1e9
    }
    writeDumps()
    // JIT compilation of the library and Spark's generated code goes on
    // for tens of seconds after set-up; timing it would measure how far
    // the compiler got, so untimed rounds run first
    val warm0 = System.nanoTime()
    var w = 0
    while ((System.nanoTime() - warm0) / 1e9 < o("warmup_s").toDouble) {
      round(w, "warmup", span = false); w += 1
    }
    val heapStart = heapMb()

    // timed phase: whole rounds until the time is up and the minimum
    // number of rounds is in
    val seconds = o("seconds").toDouble
    val minRounds = o("min_rounds").toInt
    val maxSeconds = math.max(seconds, 60.0)
    val traceRounds = o("trace_rounds").toInt
    val timed0 = System.nanoTime()
    var r = 0
    def elapsed = (System.nanoTime() - timed0) / 1e9
    if (!traced) {
      while ((elapsed < seconds || r < minRounds) && elapsed < maxSeconds) { round(r, "timed", span = false); r += 1 }
    } else {
      // untraced and traced rounds alternate, so the overhead compare
      // sees the same drift on both sides
      trace = new Trace(spark)
      for (i <- 0 until 2 * traceRounds) {
        val on = i % 2 == 1
        if (on) trace.attach()
        round(i, "timed", span = on)
        if (on) trace.detach()
      }
      r = 2 * traceRounds
    }
    val timedS = elapsed
    val heapEnd = heapMb()

    // untimed extras
    val exact = o.get("exact", "")
    if (exact.nonEmpty) call(Step(exact, exact, exact, "exact"), data, 0, "check", span = false, dump = true)
    val probes = if (traced) runProbes() else Map.empty[String, Any]
    writeDumps()

    val oracle = expected.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    Map(
      "workload" -> o("workload"), "cpus" -> cpus, "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_s" -> sessionS, "setup_pass_s" -> setupPasses,
      "timed_s" -> timedS, "rounds" -> r,
      "heap_start_mb" -> heapStart, "heap_end_mb" -> heapEnd,
      "calls" -> calls.toSeq, "failures" -> failures.toSeq,
      "expected" -> expected.toMap, "oracle_sql" -> oracle,
      "artifact_bytes_total" -> artifactBytes(),
      "trace" -> (if (trace == null) null else Map(
        "spans" -> trace.spans.map { case (k, s) => Map("span" -> k) ++ s.fields }.toSeq,
        "unattributed_jobs" -> trace.unattributedJobs,
        "unattributed_executions" -> trace.unattributedExecutions)),
      "probes" -> probes)
  }

  /** Traced-run extras, each under its own span:
    *  - `scan`: a forced read of every table (sources layer);
    *  - `kernels`: the single-kernel queries (functions layer);
    *  - `probe_families`: extra lifecycle families, built and served
    *    once on a fresh version (kept out of the timed loop for their
    *    length);
    *  - `heap`: driver heap retained by one call of each kind (in
    *    lifecycle mode on a fresh version, builds first). */
  private def runProbes(): Map[String, Any] = {
    trace.attach()
    val scanMs = o.list("scan_tables").map { t =>
      val s0 = System.nanoTime()
      trace.span(s"probe/scan/$t") {
        Tables(spark, data, t).write.format("noop").mode("overwrite").save()
      }
      t -> (System.nanoTime() - s0) / 1e6
    }.toMap
    o.list("kernels").foreach { q =>
      (0 until 3).foreach(i => call(Step(q, q, q, "kernel"), data, i, "probe", span = true, dump = i == 0))
    }
    val extra = familySteps("probe_families")
    if (extra.nonEmpty) round(0, "probe", span = true, dump = true, fams = extra)
    trace.detach()
    writeDumps()
    val dir = if (lifecycle) freshVersion() else data
    if (lifecycle) pin(dir)
    val heap = (if (lifecycle) lifecycleSteps(steps) else steps).map { s =>
      val h0 = heapMb()
      call(s, dir, 0, "heap", span = false)
      s.kind -> (heapMb() - h0)
    }.toMap
    Map("scan_ms" -> scanMs, "heap_retained_mb" -> heap)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case x => apply(x.toString)
  }
}
