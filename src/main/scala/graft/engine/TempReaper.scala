package graft.engine

/** One JVM-wide shutdown-hook reap set for derived on-disk state under
  * tmpdir (VERDICT r18 wrong #1): the bucketed signature indexes
  * (`graft_t26_idx_*`, `graft_t28_relidx_*`, `graft_s10_exh_*`, ...),
  * the IVF index roots and the JSONL fixture are rebuildable derived
  * state — in-session, releasing their [[SessionMemo]] entry (a
  * `SessionMemo.clear`) deletes them, but a JVM that exits without a
  * clear (a crashed run, a ^C'd bench, a one-shot tool) previously left
  * corpus-scale parquet behind (the x1000 signature index is GBs).
  * Every creation site registers its path here at birth; ONE hook (the
  * jsonl pattern — a hook per entry would accumulate across sessions)
  * deletes whatever remains at exit. A memo release deletes its path
  * and unregisters it, so the set holds only live paths.
  */
object TempReaper {
  private val paths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => reap(_ => true), "graft-temp-reaper"))
    ()
  }

  def register(path: String): Unit = {
    hookInstalled
    paths.add(path)
    ()
  }

  /** Drop a path from the reap set WITHOUT deleting it — for callers
    * that bound their own scratch (the t28b estimate ring deletes the
    * evicted path itself).
    */
  def unregister(path: String): Unit = {
    paths.remove(path)
    ()
  }

  /** What would be reaped at exit right now (spec hook). */
  private[graft] def registered: Set[String] = {
    val b = Set.newBuilder[String]
    paths.forEach(p => b += p)
    b.result()
  }

  /** Delete (and drop) every registered path matching `select` — the
    * hook body, exposed so TempStoreLifecycleSpec can run exactly what
    * exit runs, filtered to its own private tmpdir.
    */
  private[graft] def reap(select: String => Boolean): Unit = {
    val snapshot = registered
    snapshot.filter(select).foreach { p =>
      MultiAnalyzer.deleteRecursively(new java.io.File(p))
      paths.remove(p)
    }
  }
}
