package graft.operators

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch}

/** The one registry of memoized artifacts: fitted models, staged
  * indices and staged inputs. Every operator that reuses work across
  * calls declares a [[Artifacts.Kind]] and goes through [[memo]] or
  * [[staged]]; nothing else in the library keeps a memo.
  *
  *  - Key: (kind, dir, params, `Fs.tableFingerprint` of each of the
  *    kind's tables). Regenerating any declared table in place changes
  *    its fingerprint, so the next call builds afresh.
  *  - Class: every kind is a [[Model]] (a fit, merge list or codebook —
  *    a warm hit replaces the fit's compute), an [[Index]] (a staged
  *    index, state, postings table, graph, dup components or band
  *    index — built once per corpus version and served many times) or
  *    an [[Input]] (a staged copy of input data: stream feeds, foreign
  *    file formats, sink layouts, bucketed copies, the corpus size).
  *    [[clear]] by class is how a benchmark drops all model memos
  *    without touching staged inputs.
  *  - Single-flight: the first caller of a key builds; concurrent
  *    callers of the same key wait for that build and share its value.
  *    No lock is held while a build runs, so a build may itself call
  *    the registry for other keys. A build that asks for its own key
  *    fails instead of waiting on itself.
  *  - Failure cleanup: a build that throws deletes its root, leaves no
  *    entry behind and rethrows (to every caller waiting on it); the
  *    next call builds again.
  *  - Staged roots: [[staged]] gives each build a fresh
  *    `Engine.workDir`, and [[clear]] deletes the roots of the entries
  *    it drops. Materialize any frame read from a staged root before
  *    clearing its kind. A finished entry holds only its value and
  *    root, never the build closure.
  *
  * There is no size bound and no eviction: entries live until cleared.
  */
private[graft] object Artifacts {

  sealed trait Cls
  case object Model extends Cls
  case object Index extends Cls
  case object Input extends Cls

  /** One memoized artifact family: `name` also prefixes its staged
    * roots; `tables` are the inputs whose fingerprints key it. */
  final case class Kind(name: String, cls: Cls, tables: String*)

  private final case class Key(kind: Kind, dir: String, params: Seq[Any],
      fingerprints: Seq[String])

  /** A slot filled once by the caller that created it. */
  private final class Entry {
    @volatile var owner: Thread = Thread.currentThread()
    @volatile var root: Option[File] = None
    @volatile private var result: Either[Throwable, Any] = _
    private val filled = new CountDownLatch(1)

    def done: Boolean = filled.getCount == 0

    def fill(r: Either[Throwable, Any]): Unit = {
      result = r
      owner = null
      filled.countDown()
    }

    def await(key: Key): Any = {
      if (owner eq Thread.currentThread())
        throw new IllegalStateException(
          s"artifact ${key.kind.name} of ${key.dir} depends on itself")
      filled.await()
      result.fold(e => throw e, identity)
    }
  }

  private val entries = new ConcurrentHashMap[Key, Entry]()

  /** Driver-side value of `kind` for (dir, params), built at most once
    * per key. */
  def memo[V](kind: Kind, dir: String, params: Any*)(build: => V): V =
    run(kind, dir, params)(_ => build)

  /** On-disk artifact of `kind`: `build` writes under a fresh root and
    * returns its metadata; yields (root path, metadata). */
  def staged[M](kind: Kind, dir: String, params: Any*)(build: File => M): (String, M) =
    run(kind, dir, params) { e =>
      val root = graft.Engine.workDir(s"graft-${kind.name}-")
      e.root = Some(root)
      (root.getAbsolutePath, build(root))
    }

  private def run[V](kind: Kind, dir: String, params: Seq[Any])(build: Entry => V): V = {
    val key = Key(kind, dir, params, kind.tables.map(graft.Fs.tableFingerprint(dir, _)))
    val mine = new Entry
    val prior = entries.putIfAbsent(key, mine)
    if (prior != null) prior.await(key).asInstanceOf[V]
    else {
      val v = try build(mine) catch { case t: Throwable =>
        mine.root.foreach(graft.Fs.rmRf)
        entries.remove(key, mine)
        mine.fill(Left(t))
        throw t
      }
      mine.fill(Right(v))
      v
    }
  }

  /** Drop every finished entry of `kind` and delete its staged root. */
  def clear(kind: Kind): Unit = drop(_.kind == kind)

  /** Drop every finished entry of class `cls` and delete their roots. */
  def clear(cls: Cls): Unit = drop(_.kind.cls == cls)

  private def drop(p: Key => Boolean): Unit =
    entries.forEach { (k, e) =>
      if (p(k) && e.done && entries.remove(k, e)) e.root.foreach(graft.Fs.rmRf)
    }

  /** Kinds and roots of the finished entries (inspection for tests). */
  private[graft] def held: Seq[(Kind, Option[File])] = {
    val b = Seq.newBuilder[(Kind, Option[File])]
    entries.forEach((k, e) => if (e.done) b += k.kind -> e.root)
    b.result()
  }
}
