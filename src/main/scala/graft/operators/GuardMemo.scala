package graft.operators

/** Bounded per-path check memo shared by the probe-time staleness guards
  * ([[AnnIndex.staleGuard]], [[DedupIndex.staleGuard]],
  * [[TextIndex.staleGuard]]): `shouldCheck` returns true at most once per
  * `intervalNanos` per path, and the map is LRU-capped (r18 ADVICE — an
  * unbounded ConcurrentHashMap grows for the JVM's life in a long-lived
  * serving process that cycles index paths, e.g. rebuilds landing at
  * fresh timestamped paths every few minutes for months). Access-ordered
  * LinkedHashMap under a lock: guard checks run on the probe-construction
  * cadence, so a coarse lock costs nothing measurable, and eviction drops
  * the least-recently-PROBED path — exactly the one least likely to need
  * its memo again.
  */
private[graft] final class GuardMemo(maxEntries: Int = 1024) {
  private val m =
    new java.util.LinkedHashMap[String, java.lang.Long](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > maxEntries
    }

  /** True when `path` has not been checked within `intervalNanos` —
    * and records the check time when it is. `intervalNanos <= 0` forces
    * every call (the spec setting).
    */
  def shouldCheck(path: String, intervalNanos: Long): Boolean = m.synchronized {
    val now = System.nanoTime()
    val last = m.get(path)
    if (last != null && intervalNanos > 0 && now - last < intervalNanos) false
    else { m.put(path, now); true }
  }

  /** Entries currently memoized — the LRU-bound spec hook. */
  def size: Int = m.synchronized(m.size())
}

/** The shared shell of the probe-time staleness guards
  * ([[AnnIndex.staleGuard]], [[DedupIndex.staleGuard]],
  * [[TextIndex.staleGuard]]): module-wide knobs, the per-path
  * [[GuardMemo]], and `onWarn` (the spec hook, defaulting to an slf4j
  * warn on `logger`). Each guard adds its threshold and its `check`,
  * which runs only when [[due]] — never changing an answer;
  * `enabled = false` disables it entirely.
  */
private[graft] abstract class StaleGuard(logger: String) {
  @volatile var enabled: Boolean = true
  /** Re-check cadence per index path: staleness changes on
    * append/compact timescales, so a serving loop pays the check once per
    * interval, not per probe. 0 forces every probe (the spec setting).
    * Rebuilds land at fresh paths, so the memo never caches a stale
    * verdict across a geometry change.
    */
  @volatile var checkIntervalNanos: Long = 300L * 1000 * 1000 * 1000
  @volatile var onWarn: String => Unit =
    msg => org.slf4j.LoggerFactory.getLogger(logger).warn(msg)
  private[operators] val lastChecked = new GuardMemo(1024)

  /** The guard is on and `path` is due a check (recorded as checked). */
  protected def due(path: String): Boolean =
    enabled && lastChecked.shouldCheck(path, checkIntervalNanos)
}
