package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}

import scala.collection.concurrent.TrieMap

/** The session memo registry: every per-corpus value an operator
  * builds once and reuses for the rest of the session (assignments,
  * models, codes, pair graphs, tune grids, counts, tuned temp trees),
  * keyed by (corpus dir, memo name, params). Reuse within a session is
  * one first-class cache, not a map inside each operator, so the rule
  * "a corpus change drops every memo for that dir" is written once:
  * [[invalidate]].
  *
  *   - Build on miss runs under a lock per key: one key builds once,
  *     even on a concurrent first use; different keys build at the
  *     same time, so a build may run nested builds or fan out
  *     concurrent jobs that use other memos. A build that throws
  *     leaves no entry, and the next call retries.
  *   - Dropping an entry releases it: every DataFrame and broadcast
  *     in the value (also inside a tuple, an Option or a collection)
  *     is unpersisted, and a [[tree]] is deleted.
  *   - Entries hold what was built from the dir's data at build time.
  *     Whoever changes a corpus dir calls [[invalidate]] for it
  *     (IndexLifecycle.build does, given `corpusDir`).
  *
  * Ordering contract: dropping a tuned tree removes files a DataFrame
  * still holding the persisted tree MAY lazily re-read, and dropping a
  * memo unpersists frames a running query may still scan. So
  * [[invalidate]] must not race in-flight reads of the same dir in
  * the same session: the caller quiesces serving before a corpus swap,
  * exactly as IndexLifecycle.build does (it invalidates BEFORE
  * building the new corpus' state, never under live queries).
  * [[invalidate]] does wait for a build of the dir that is under way,
  * so that build's value is dropped too.
  */
object Memo {

  private final case class Key(dir: String, name: String, params: Any)

  private final case class TempTree(root: String, path: String)

  private val values = TrieMap.empty[Key, Any]
  // one per key ever built; kept, so a waiter and a late caller can
  // never hold two different locks for one key
  private val locks = TrieMap.empty[Key, AnyRef]
  // temp-tree roots still on disk, swept at JVM exit
  private val trees = TrieMap.empty[String, Unit]

  private def lockOf(k: Key): AnyRef = locks.getOrElseUpdate(k, new AnyRef)

  /** The memo of `name` at `params` for `dir`, built by `build` on the
    * first call.
    */
  def apply[T](dir: String, name: String, params: Any = ())(build: => T): T = {
    val k = Key(dir, name, params)
    values.getOrElse(k, lockOf(k).synchronized {
      values.getOrElse(k, { val v = build; values.put(k, v); v })
    }).asInstanceOf[T]
  }

  /** `df` cached and materialized: the usual value of a frame memo. */
  def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** The memo if it is built, without building it. */
  def get[T](dir: String, name: String, params: Any = ()): Option[T] =
    values.get(Key(dir, name, params)).map(_.asInstanceOf[T])

  // installed once, on the first tree — not at class load, so a run
  // that never persists a tuned tree never adds a hook
  private lazy val sweepAtExit: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      trees.keys.foreach(r => scala.util.Try(deleteTree(r)))))

  private def deleteTree(root: String): Unit =
    streaming.Streams.deleteTree(java.nio.file.Paths.get(root))

  /** A persisted TEMP tree memo (the tuned IVF-PQ and graph trees):
    * `write` persists the tree at the returned path, under a fresh
    * root in java.io.tmpdir. The tree lives until [[invalidate]] of
    * `dir` or JVM exit, whichever comes first, so a long-lived session
    * cycling corpora leaves no orphaned trees. Dropping it drops the
    * serving state of every tree under the root first, then deletes
    * the files. A `write` that throws leaves neither entry nor files.
    */
  def tree(dir: String, name: String)(write: String => Unit): String =
    apply(dir, name) {
      sweepAtExit
      val root = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
      trees.put(root, ())
      val t = TempTree(root, s"$root/tree")
      try write(t.path) catch { case e: Throwable => release(t); throw e }
      t
    }.path

  /** Drop every memo of `dir`, releasing each. */
  def invalidate(dir: String): Unit =
    locks.keys.filter(_.dir == dir).foreach { k =>
      lockOf(k).synchronized(values.remove(k).foreach(release))
    }

  /** (name, params) of every memo `dir` holds. */
  def entries(dir: String): Seq[(String, Any)] =
    values.keys.filter(_.dir == dir).map(k => (k.name, k.params)).toSeq

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist(); ()
    case b: Broadcast[_] => b.unpersist(); ()
    case TempTree(root, _) =>
      operators.ServingState.drop(root)
      scala.util.Try(deleteTree(root))
      trees.remove(root); ()
    case xs: Iterable[_] => xs.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
