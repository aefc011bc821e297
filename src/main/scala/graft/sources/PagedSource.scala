package graft.sources

/** S1/S2 — paginated REST-style ingestion (reference
  * `src/etl/extract/wc_client.py:36-49`): loop `page=1..n` with a fixed
  * page size, accumulate, stop on the first short or empty page; HTTP
  * errors surface as exceptions from the page fetch (S2,
  * `wc_client.py:29-34`).
  *
  * The page loop is inherently DRIVER-side (a REST API is not a
  * splittable source): ingestion parallelism at scale comes from
  * partitioning the page RANGE, not the page — a production connector is
  * a DataSource V2 `TableProvider` whose `planInputPartitions` carves
  * `[1..maxPage]` into per-task ranges and pushes `after`/`status`
  * filters into query params (`SupportsPushDownFilters`). This module
  * implements the reference's exact client semantics; the fixture
  * harness stands a parquet-backed client in for the network.
  */
object PagedSource {

  /** Fetch all pages: `fetchPage(page)` returns up to `perPage` items,
    * 1-based pages; terminates after the first short/empty page (the
    * reference's stop condition — an exact-multiple result set costs one
    * extra empty fetch, faithfully).
    *
    * Each page fetch runs under `retry` (default: the reference's 2
    * retries × 30 s, `flow.py:44-46`) — a transient failure on page N
    * retries page N alone, not the whole scan; a permanent failure
    * exhausts the budget and propagates (S2). */
  def fetchAll[T](perPage: Int,
      // HTTP classifier by DEFAULT: without it the documented 4xx
      // fail-fast was dead code on every real path — the retry-everything
      // default re-hammered auth-rejecting APIs 2x30s per page
      retry: RetryPolicy =
        RetryPolicy(retryOn = HttpApiClient.transientOnly))(
      fetchPage: Int => Seq[T]): Seq[T] = {
    // perPage <= 0 could never satisfy the short-page stop condition —
    // the loop would hammer the remote API forever
    require(perPage > 0, s"perPage must be positive, got $perPage")
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    var page = 1
    var done = false
    while (!done) {
      val batch = retry(fetchPage(page))
      out ++= batch
      done = batch.size < perPage
      page += 1
    }
    out.toSeq
  }
}
