package org.apache.spark

/** Bridge into `private[spark]` core internals (sibling of
  * org.apache.spark.sql.GraftBridge — same standard pattern, nothing else
  * in this package).
  *
  * `waitUntilEmpty` drains the listener bus, so counters kept by a
  * SparkListener are complete when read.
  *
  * `detachAppStatusListener` exists because the AppStatusListener cannot be
  * disabled by configuration, yet on long-running iterative workloads it is
  * a driver-memory leak: an endurance stream emits hundreds of tiny jobs
  * per second, the appStatus AsyncEventQueue saturates and DROPS events
  * (observed ~10k/min even at 3× default capacity), and every dropped
  * stage/job/unpersist completion strands entries in the listener's
  * live-entity maps forever — measured 41M live RDDInfo objects (~17 GB)
  * after ~70 batches, OOMing a 48 GB driver. With `spark.ui.enabled=false`
  * nothing reads the status store, so detaching the listener is pure win
  * for such sessions; callers gate on that.
  *
  * `registrySizes` makes a long stream's accumulation in Spark's global
  * registries observable per batch: each dynamic superstep registers one
  * shuffle, and a shuffle is unregistered only when the ContextCleaner
  * collects its ShuffleDependency — never, if a carried structure keeps
  * the superstep chain reachable.
  */
object GraftSparkBridge {
  /** Remove the AppStatusListener from the listener bus. Call only when
    * the UI is disabled and no SparkStatusTracker consumer is in play. */
  def detachAppStatusListener(sc: SparkContext): Unit =
    sc.statusStore.listener.foreach(sc.listenerBus.removeListener)

  /** Block until every event posted so far has reached every listener, or
    * `timeoutMs` elapsed (then throws a TimeoutException). Read listener
    * counters only after this — events of a finished job may still be in
    * flight on the bus. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Sizes of the registries that grow when carried state leaks lineage:
    * the map-output tracker's shuffle statuses, the on-disk shuffle and
    * broadcast block files, and the persisted RDDs. Read-only; each read
    * is Try-guarded (−1 on a racing resize), so a diagnostic never crashes
    * the measuring run. */
  def registrySizes(sc: SparkContext): Map[String, Long] = {
    def safe(f: => Long): Long = scala.util.Try(f).getOrElse(-1L)
    lazy val disk = sc.env.blockManager.diskBlockManager.getAllBlocks()
    Map(
      "shuffle_statuses" -> safe(sc.env.mapOutputTracker
        .asInstanceOf[MapOutputTrackerMaster].shuffleStatuses.size.toLong),
      "disk_shuffle_blocks" -> safe(disk.count(_.isShuffle).toLong),
      "disk_broadcast_blocks" -> safe(disk.count(_.isBroadcast).toLong),
      "persistent_rdds" -> safe(sc.persistentRdds.size.toLong))
  }
}
