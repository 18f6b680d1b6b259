package graft

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import graft.operators.{Artifacts, Clustering}
import graft.operators.Artifacts.{Index, Input, Kind, Model}

/** The artifact registry's contract: single-flight builds, failure
  * cleanup, nested builds, fingerprint keying, clearing by class — and
  * that clearing Model and Index really drops every fit and index the
  * benchmark reruns depend on. */
class ArtifactsSpec extends SparkSuiteBase {

  private val uniq = new AtomicInteger()
  private def kind(cls: Artifacts.Cls, tables: String*): Kind =
    Kind(s"spec${uniq.incrementAndGet()}x${System.nanoTime()}", cls, tables: _*)

  /** A directory holding one fake table `t` whose fingerprint changes
    * with `content`. */
  private def tableDir(content: String): File = {
    val dir = java.nio.file.Files.createTempDirectory("graft-artspec-").toFile
    writeTable(dir, content)
    dir
  }
  private def writeTable(dir: File, content: String): Unit = {
    val t = new File(dir, "t.parquet")
    t.mkdirs()
    java.nio.file.Files.write(new File(t, "part-0").toPath, content.getBytes("UTF-8"))
  }

  private def heldOf(k: Kind): Seq[Option[File]] =
    Artifacts.held.collect { case (`k`, root) => root }

  test("8 concurrent staged calls on one key build once and share one root") {
    val k = kind(Index)
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        start.await()
        Artifacts.staged(k, "/no/such/dir") { root =>
          builds.incrementAndGet()
          Thread.sleep(200)
          new File(root, "marker").createNewFile()
          root.getName
        }
      })
      start.countDown()
      val results = Await.result(Future.sequence(calls), 60.seconds)
      assert(builds.get === 1)
      assert(results.distinct.size === 1)
      val root = new File(results.head._1)
      assert(new File(root, "marker").exists())
      assert(heldOf(k) === Seq(Some(root)))
      val siblings = root.getParentFile.listFiles().filter(_.getName.startsWith(s"graft-${k.name}-"))
      assert(siblings.toSeq === Seq(root), "one root for the one build")
      Artifacts.clear(k)
      assert(!root.exists() && heldOf(k).isEmpty)
    } finally pool.shutdown()
  }

  test("a failed build leaves no directory and no entry; the next call rebuilds") {
    val k = kind(Index)
    val builds = new AtomicInteger()
    var failedRoot: File = null
    val e = intercept[IllegalStateException] {
      Artifacts.staged(k, "/no/such/dir") { root =>
        builds.incrementAndGet()
        failedRoot = root
        new File(root, "half-written").createNewFile()
        throw new IllegalStateException("injected build failure")
      }
    }
    assert(e.getMessage === "injected build failure")
    assert(failedRoot != null && !failedRoot.exists(), "failed root must be deleted")
    assert(heldOf(k).isEmpty, "a failed build caches nothing")
    val (root, v) = Artifacts.staged(k, "/no/such/dir") { _ => builds.incrementAndGet() }
    assert(builds.get === 2 && v === 2 && new File(root).isDirectory)
    Artifacts.clear(k)
  }

  test("a build that stages a second kind completes without deadlock") {
    val outer = kind(Index)
    val inner = kind(Model)
    val innerBuilds = new AtomicInteger()
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val calls = (1 to 4).map(_ => Future {
      Artifacts.staged(outer, "/no/such/dir") { root =>
        val n = Artifacts.memo(inner, "/no/such/dir") { innerBuilds.incrementAndGet() }
        new File(root, s"n$n").createNewFile()
        n
      }._2
    })
    assert(Await.result(Future.sequence(calls), 60.seconds) === Seq(1, 1, 1, 1))
    assert(innerBuilds.get === 1)
    Artifacts.clear(outer)
    Artifacts.clear(inner)
  }

  test("a build that asks for its own key fails instead of waiting on itself") {
    val k = kind(Model)
    val e = intercept[IllegalStateException] {
      Artifacts.memo(k, "/no/such/dir")(Artifacts.memo(k, "/no/such/dir")(1))
    }
    assert(e.getMessage.contains("depends on itself"))
    assert(heldOf(k).isEmpty)
    assert(Artifacts.memo(k, "/no/such/dir")(2) === 2)
    Artifacts.clear(k)
  }

  test("an in-place table rewrite (new fingerprint) rebuilds") {
    val k = kind(Model, "t")
    val dir = tableDir("v1")
    try {
      val builds = new AtomicInteger()
      def call(): Int = Artifacts.memo(k, dir.getPath, 3) { builds.incrementAndGet() }
      assert(call() === 1 && call() === 1)
      assert(Artifacts.memo(k, dir.getPath, 4)(builds.incrementAndGet()) === 2,
        "params are part of the key")
      writeTable(dir, "version two")
      assert(call() === 3, "a rewritten table must not serve the old memo")
      assert(builds.get === 3)
      Artifacts.clear(k)
    } finally Fs.rmRf(dir)
  }

  test("clear(Index) leaves Model entries alone") {
    val model = kind(Model)
    val index = kind(Index)
    val builds = new AtomicInteger()
    Artifacts.memo(model, "/no/such/dir")(builds.incrementAndGet())
    val (root, _) = Artifacts.staged(index, "/no/such/dir")(_ => ())
    Artifacts.clear(Index)
    assert(!new File(root).exists() && heldOf(index).isEmpty)
    assert(heldOf(model) === Seq(None))
    assert(Artifacts.memo(model, "/no/such/dir")(builds.incrementAndGet()) === 1)
    Artifacts.clear(Model)
    assert(heldOf(model).isEmpty)
  }

  test("clearing Model and Index drops every fit and index: a rerun runs the fit") {
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    Seq("q_pca_power", "q_linreg", "q_simsearch_lsh_indexed").foreach(run)
    val classes = Artifacts.held.map(_._1.cls).toSet
    assert(classes.contains(Model) && classes.contains(Index) && classes.contains(Input))
    Artifacts.clear(Model)
    Artifacts.clear(Index)
    assert(Artifacts.held.map(_._1.cls).toSet === Set(Input), "only staged inputs survive")

    // jobs of one q_pca_power call, seen by a listener
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id")))
    }
    def jobsOf(label: String): Int = {
      sc.setJobGroup(label, label)
      try {
        run("q_pca_power")
        sc.setJobGroup(s"$label-marker", "listener drain marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(s"$label-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains(s"$label-marker"), "listener bus did not drain")
      groups.toArray.count(_ == label)
    }
    sc.addSparkListener(listener)
    try {
      val cold = jobsOf("pca-cold")
      val warm = jobsOf("pca-warm")
      assert(cold >= warm + Clustering.PcaIters,
        s"after clear(Model) the fit must run again: $cold cold vs $warm warm jobs")
    } finally sc.removeSparkListener(listener)
  }
}
