package graft

/** Session registry for per-corpus persisted TEMP trees (the tuned
  * IVF-PQ and graph trees under java.io.tmpdir): a long-lived driver
  * session cycling corpora previously accumulated one orphaned tree
  * per corpus unless `invalidate()` happened to run (the round-14
  * verdict's hygiene finding). Every creator registers its tree root
  * here; one JVM shutdown hook deletes whatever is still registered,
  * and an explicit invalidate deletes through [[delete]], which
  * deregisters so the hook never double-deletes.
  *
  * Retention contract: a registered tree lives until corpus
  * invalidation or JVM exit, whichever comes first — and must not be
  * deleted while a DataFrame in the same session may still lazily
  * read it (the memoizing caller owns that ordering; see
  * GraphIndex.invalidate's scaladoc).
  */
object TempTrees {
  private val registered =
    scala.collection.concurrent.TrieMap.empty[String, Unit]

  // installed once, on first registration — not at class load, so a
  // run that never persists a tuned tree never adds a hook
  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      registered.keys.foreach(p => scala.util.Try(
        streaming.Streams.deleteTree(java.nio.file.Paths.get(p))))))

  /** Register `root` for deletion at JVM shutdown. */
  def register(root: String): Unit = {
    hookInstalled
    registered.put(root, ())
    ()
  }

  /** Delete a registered tree now (invalidate paths): its serving
    * state goes first, then the files, then the shutdown-sweep entry,
    * so the hook never double-deletes.
    */
  def delete(root: String): Unit = {
    operators.ServingState.drop(root)
    scala.util.Try(streaming.Streams.deleteTree(java.nio.file.Paths.get(root)))
    registered.remove(root)
    ()
  }
}
