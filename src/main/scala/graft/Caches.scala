package graft

/** Central clear/inspect hook over every operator-level memo cache in the
  * library (the IVF index memo, the GEKS pairwise log-index table). Two
  * callers:
  *
  *   - a long-lived driver session that overwrites a corpus IN PLACE
  *     (the one documented situation where the plan-hash memo keys go
  *     stale — see [[graft.text.Similarity.clearIvfCache]]) calls
  *     [[clearAll]] once after the overwrite;
  *   - [[Bench]] calls [[clearAll]] before every timed run so recorded
  *     times equal the work actually performed — without it, best-of-2
  *     records the second run's cache-hit time and the real
  *     first-computation cost appears in no metric (the round-7
  *     truth-in-measurement gap: q_geks_movement recorded 0.34s against
  *     a 10.3s wall span).
  *
  * New operator memos MUST register here; the BenchCacheSpec pins the
  * wiring (clearAll leaves every registered cache empty).
  */
object Caches {

  /** Drop every memoized artifact and unpersist any executor storage they
    * hold. Safe to call at any time; concurrent queries simply recompute.
    */
  def clearAll(): Unit = {
    graft.text.Similarity.clearIvfCache()
    graft.ops.PriceIndex.clearGeksCache()
  }

  /** Total entries across all registered memo caches — lets [[Bench]]
    * detect "this query populated an operator memo" generically (cleared
    * before each run, so a non-zero count after a run names the query
    * that filled it).
    */
  def totalEntries: Int =
    graft.text.Similarity.memoEntryCount + graft.ops.PriceIndex.geksCacheSize
}
