package graft

/** JVM-exit cleanup for tmp directories: the derived stores of
  * [[Derived]] (one per kind and input stamp, pid-keyed, so concurrent
  * runs never clash) and the corpora tests and probes write. A store
  * superseded by a newer stamp is kept until exit, never deleted under a
  * live reader; without a hook repeated bench/test runs accumulate
  * orphaned directories. Registration is idempotent; deletion is
  * best-effort (a half-deleted tree on a hard kill is re-keyed, never
  * reused).
  */
object TmpCleanup {
  private val paths = scala.collection.concurrent.TrieMap.empty[String, Unit]

  private lazy val hookInstalled: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      paths.keys.foreach(p => delete(new java.io.File(p)))))

  def register(path: String): Unit = {
    hookInstalled
    paths.put(path, ())
    ()
  }

  private def delete(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete()
    ()
  }
}
