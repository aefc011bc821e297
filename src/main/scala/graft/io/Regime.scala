package graft.io

import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}

/** Measured-size regime dispatch for artifacts that grow with the corpus.
  *
  * Several operators have two legitimate physical shapes: a driver-side
  * artifact when the derived state is provably small (an LSH candidate
  * list on a deduplicated snapshot, a bounded vocabulary) and a fully
  * distributed frame when it is not (a 100 TB web corpus's candidate set
  * or term vocabulary is billions of rows — "pair participants only"
  * does not make it driver-small). The choice is made by MEASURED size:
  * [[collectIfSmall]] probes the frame with a `limit(bound + 1)` collect
  * — one job either way, and under the bound the probe IS the complete
  * result set — and returns `None` above the bound.
  *
  * Join-only artifacts (candidate pairs, cluster labels, gram and
  * vocabulary tables) go through ONE build-and-serve path, [[serve]] /
  * [[serveWith]]: the built frame is persisted first so the probe fills
  * its blocks, and the artifact cached under its key in [[ArtifactCache]]
  * is either the collected rows (the blocks are released; every
  * construction re-encodes the rows as a LocalRelation) or the persisted
  * handle (the build runs once and every consumer reads the blocks).
  * Only driver code that consumes the rows itself calls
  * [[collectIfSmall]] directly (Corpus' `InSet` rebuilds, Dedup's
  * arrival fold).
  *
  * The bound is rows, not bytes, because the gated artifacts are
  * fixed-width rows (id pairs, (term, count)); `graft.regime
  * .collectMaxRows` overrides it (specs plant a tiny bound to force the
  * distributed regime on fixture data — RegimeSpec). Decisions are
  * recorded per key for test observability.
  */
object Regime {
  /** Row bound for "driver-small", sized to AGREE with
    * [[ArtifactCache.maxBytes]]: 2^13 rows at ≤~100 bytes of estimated
    * row width stays under the ~1 MB cache cap, so a Regime-collected
    * artifact is always storable — a larger bound would admit artifacts
    * the cache then rejects, paying the driver collect per use while
    * losing all amortization (worst of both regimes). Independently,
    * driver-local relations past ~10-20k rows LOSE to recomputation
    * anyway: per-construction plan encoding of the literal rows costs
    * more than the distributed build they save (measured on x30's
    * 20k-row band index, round 6). */
  def collectMaxRows: Int =
    sys.props.get("graft.regime.collectMaxRows").map(_.toInt).getOrElse(1 << 13)

  /** Last dispatch decision per artifact key ("collected" |
    * "distributed") — spec observability, never control flow. */
  private[graft] val lastDecision =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The complete rows of `df` iff it holds at most [[collectMaxRows]]
    * of them, else `None`. The over-bound probe still computes the
    * frame (aggregation forces it) but transfers only bound+1 rows —
    * the driver never holds the oversized artifact. */
  def collectIfSmall(key: String, df: DataFrame): Option[IndexedSeq[Row]] = {
    val bound = collectMaxRows
    val probe = df.limit(bound + 1).collect()
    // both arbiters must agree: the row bound (cheap, pre-sized) AND the
    // cache's own byte estimate — rows wide enough to bust the byte cap
    // (long terms, big structs) dispatch distributed instead of
    // collecting per use and never caching (the worst-of-both trap)
    val fits = probe.length <= bound &&
      ArtifactCache.roughBytes(probe) <= ArtifactCache.maxBytes
    lastDecision.put(key, if (fits) "collected" else "distributed")
    if (fits) Some(probe.toIndexedSeq) else None
  }

  /** One cold build as [[serveWith]]'s side value sees it: `frame` is
    * the built (persisted) frame, `rows` runs the probe on first use —
    * the decoded rows under the bound, `None` above it. A side value may
    * read either, and may overlap its own action with the probe. */
  final class Probe[T] private[Regime] (
      val frame: DataFrame, probe: => Option[IndexedSeq[T]]) {
    lazy val rows: Option[IndexedSeq[T]] = probe
  }

  /** The join-only artifact under `key`, built on first use and served
    * as a frame in either regime: under the bound a LocalRelation of the
    * collected rows named `columns` (broadcast-hinted when `hint`), above
    * it the persisted frame. `build` runs only on a cache miss; `decode`
    * turns a probed row into the cached value.
    *
    * `persist = false` is for a `build` whose frame is already
    * materialized (a checkpoint or a driver relation), where a persist
    * would cost a job and a copy; `overBound` replaces an over-bound
    * frame before it is cached (x19's labels must not stay a driver
    * relation). */
  def serve[T: Encoder](s: SparkSession, key: String, columns: String*)(
      decode: Row => T, hint: Boolean = false, persist: Boolean = true,
      overBound: DataFrame => DataFrame = identity)(
      build: => DataFrame): DataFrame =
    encoded(s, columns, hint, ArtifactCache.getOrBuild(key)(
      measured[T, Unit](key, decode, persist, overBound, build)(_ => ())._2))

  /** [[serve]] for an artifact that carries one side value (a grand
    * total, a document count), computed once per build by `side` and
    * cached with the artifact. */
  def serveWith[T: Encoder, A](s: SparkSession, key: String, columns: String*)(
      decode: Row => T, hint: Boolean = false)(
      build: => DataFrame)(side: Probe[T] => A): (A, DataFrame) = {
    val (a, held) = ArtifactCache.getOrBuild(key)(
      measured(key, decode, persist = true, identity, build)(side))
    (a, encoded(s, columns, hint, held))
  }

  /** Persist first, the probe fills the blocks, unpersist on collect:
    * the build runs exactly once whichever regime wins (probing the raw
    * pipeline and then materializing it would run it twice above the
    * bound). persist, not localCheckpoint: the collected regime releases
    * the blocks with a public unpersist, and an over-bound frame that
    * loses its blocks recomputes from lineage. */
  private def measured[T, A](key: String, decode: Row => T,
      persist: Boolean, overBound: DataFrame => DataFrame, build: => DataFrame)(
      side: Probe[T] => A): (A, Either[IndexedSeq[T], DataFrame]) = {
    val frame = if (persist) build.persist() else build
    val probe = new Probe[T](frame, collectIfSmall(key, frame).map(_.map(decode)))
    val a = side(probe)
    probe.rows match {
      case Some(rows) =>
        if (persist) frame.unpersist()
        (a, Left(rows))
      case None => (a, Right(overBound(frame)))
    }
  }

  private def encoded[T: Encoder](s: SparkSession, columns: Seq[String],
      hint: Boolean, held: Either[IndexedSeq[T], DataFrame]): DataFrame =
    held match {
      case Left(rows) =>
        val local = s.createDataset(rows).toDF(columns: _*)
        if (hint) org.apache.spark.sql.functions.broadcast(local) else local
      case Right(frame) => frame
    }
}
