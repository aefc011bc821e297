package graft.queries

import graft.QueryDef
import graft.ext.{Dedup, Similarity, TextAnalysis => TA}
import graft.io.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-training-data extension surface (SURVEY.md §7.2 step 6):
  * text analysis, dedup (exact / MinHash-LSH / Jaccard / SimHash), and
  * similarity search, each oracle-checked against DuckDB.
  *
  * Parity notes (why these match bit-for-bit):
  *   - all hashing is md5/sha256 hex — identical lowercase hex strings in
  *     both engines; MinHash minimizes hex strings lexicographically;
  *   - embeddings are quantized to BIGINT (×10⁶) so similarity is exact
  *     integer arithmetic; cosine divides identical doubles;
  *   - integer ratios (Jaccard, quality) divide exact BIGINTs;
  *   - DuckDB SUM(BIGINT) returns HUGEINT — every oracle SUM over
  *     integers is CAST back to BIGINT to keep int64 end-to-end.
  */
object ExtQueries {

  // Near-dup corpus: documents plus a mutated copy (3 appended tokens) of
  // every 20th doc — real near-duplicates with known ids (+10000).
  private[queries] def dupCorpus(s: SparkSession, d: String): DataFrame =
    // ONE corpus scan (r22, was two): see graft.util.Corpora
    graft.util.Corpora.derived(Tables.documents(s, d),
      col("doc_id"), col("text"),
      Seq((col("doc_id") % 20 === 0, col("doc_id") + 10000,
        concat(col("text"), lit(" extra extra token")))),
      "id", "text")

  private[queries] val dupCorpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' extra extra token'
      |  FROM documents WHERE doc_id % 20 = 0
      |)""".stripMargin

  // MinHash signature CTEs shared by x6/x7 oracles: 3-shingles, 12 hashes,
  // 4 bands × 3 rows. The hash family is IDENTICAL to the Spark side
  // (Dedup.minhashSignature): h0 = first 8 md5 hex chars of the shingle as
  // int64, then min((aᵢ·h0+bᵢ) mod P) with the same deterministic (aᵢ,bᵢ)
  // constants from Dedup.hashParams — so signatures (hence bands, hence
  // candidate pairs) match value-for-value across engines, not just in
  // which near-dups they surface.
  private val sigSqlCols =
    Dedup.hashParams(12).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * h0 + $b) % ${Dedup.MinhashP}) AS s$i"
    }.mkString(",\n    ")
  private def bandSqlFor(bands: Int, rowsPerBand: Int) =
    (0 until bands).map { b =>
      val cols = (b * rowsPerBand until b * rowsPerBand + rowsPerBand)
        .map(i => s"s$i").mkString(" || ',' || ")
      s"SELECT id, $b AS band, md5($cols) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
  private def minhashCtesFor(
      corpusSql: String, bands: Int = 4, rowsPerBand: Int = 3) =
    s"""$corpusSql,
       |toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
       |sh AS (
       |  SELECT id, unnest(CASE WHEN len(t) - 2 >= 1
       |    THEN list_transform(generate_series(1, len(t) - 2),
       |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [] END) AS sh
       |  FROM toks),
       |hs AS (
       |  SELECT id, CAST('0x' || substr(md5(sh), 1, 8) AS BIGINT) AS h0 FROM sh),
       |sig AS (
       |  SELECT id,
       |    $sigSqlCols
       |  FROM hs GROUP BY id),
       |bands AS (
       |  ${bandSqlFor(bands, rowsPerBand)}),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.id < b.id)""".stripMargin

  private val minhashCtes = minhashCtesFor(dupCorpusSql)

  // 3-generation cluster corpus shared by x19/x20: base docs + a MUTATED
  // +10000 copy of every 20th + an EXACT +20000 copy of every 25th — the
  // transitive case (base~mutated, base~exact, mutated never pairs exact).
  private def corpus3(s: SparkSession, d: String): DataFrame =
    // ONE corpus scan (r22, was three): see graft.util.Corpora
    graft.util.Corpora.derived(Tables.documents(s, d),
      col("doc_id"), col("text"),
      Seq(
        (col("doc_id") % 20 === 0, col("doc_id") + 10000,
          concat(col("text"), lit(" extra extra token"))),
        (col("doc_id") % 25 === 0, col("doc_id") + 20000, col("text"))),
      "id", "text")

  private val corpus3Sql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, text || ' extra extra token'
      |  FROM documents WHERE doc_id % 20 = 0
      |  UNION ALL
      |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 25 = 0
      |)""".stripMargin

  /** Candidate pairs over [[corpus3]] (Spark side of x19/x20). */
  private def corpus3Pairs(s: SparkSession, d: String): DataFrame = {
    val sig = Dedup.minhashSignature(corpus3(s, d), "id", "text", n = 3, numHashes = 12)
    Dedup.candidatePairs(Dedup.lshBands(sig, 12, 3))
  }

  /** LSH candidate pairs over [[dupCorpus]], amortized per corpus
    * snapshot (the same dedup-index contract as [[corpus3Clusters]]: the
    * banded index is built once per snapshot and served to every
    * consumer — x6 reports it, x7 verifies it with exact Jaccard).
    *
    * Two regimes, picked by MEASURED candidate count
    * ([[graft.io.Regime.serve]], r6 verdict item 1): a deduplicated
    * snapshot's pair list is driver-small and caches as a local
    * artifact; past the bound (a raw web corpus's candidate set grows
    * with the data) the cached artifact is the PERSISTED candidate
    * frame's handle — the banding pipeline still executes once per
    * snapshot and every consumer (x6 report, x7 verify, survivor
    * selection) reads the blocks instead of re-running the banding.
    * RegimeSpec pins value-identity across regimes. */
  private def dupCorpusCandidates(s: SparkSession, d: String): DataFrame = {
    def pipeline: DataFrame = {
      val sig = Dedup.minhashSignature(dupCorpus(s, d), "id", "text", n = 3, numHashes = 12)
      Dedup.candidatePairs(Dedup.lshBands(sig, numHashes = 12, rowsPerBand = 3))
    }
    import s.implicits._
    graft.io.Regime.serve[(Long, Long)](
        s, s"lsh-cand:dupCorpus:12x3:$d", "id_a", "id_b")(decode = longPair)(
      pipeline)
  }

  private val longPair: org.apache.spark.sql.Row => (Long, Long) =
    r => (r.getLong(0), r.getLong(1))

  // x49's corpus: documents + an 80%-TRUNCATED copy of every 25th doc —
  // the inclusion case containment exists for (truncation keeps shingle
  // Jaccard ≈ 0.8, high enough for banding recall, while containment of
  // the truncated copy in its source is exactly 1.0)
  private def containmentCorpus(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan (r22, was two — guide §2.4/§6): each document
    // emits itself plus, for every 25th doc, its 80%-truncated copy via
    // one exploded conditional array; branch predicate and text
    // derivation are unchanged expression for expression (the union
    // spelling re-read the corpus once per branch).
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
    val trunc = array_join(slice(col("t"), lit(1),
      greatest(expr("(size(t) * 4) div 5"), lit(1))), " ")
    base.select(explode(concat(
        array(struct(col("doc_id").as("id"), col("text").as("text"))),
        when(col("doc_id") % 25 === 0,
          array(struct((col("doc_id") + 10000000L).as("id"),
            trunc.as("text"))))
          .otherwise(array().cast("array<struct<id:bigint,text:string>>"))))
        .as("r"))
      .select(col("r.id").as("id"), col("r.text").as("text"))
  }

  private val containmentCorpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |    array_to_string(t[1:greatest((len(t)*4)//5, 1)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 25 = 0))""".stripMargin

  /** x49's candidate pairs: the same regime-dispatched cached index
    * contract as [[dupCorpusCandidates]], but banded 6×2 instead of
    * 4×3 — containment-relevant pairs sit at a LOWER Jaccard floor
    * (an 80% truncation is j ≈ 0.8; a half-doc inclusion j ≈ 0.5), and
    * fewer rows per band is the published LSH knob that moves the
    * S-curve's threshold down (P(cand) = 1-(1-j²)⁶: 0.94 at j=0.5,
    * 0.998 at j=0.8, where 4×3 reads 0.41 at j=0.5). */
  private def containmentCandidates(s: SparkSession, d: String): DataFrame = {
    def pipeline: DataFrame = {
      val sig = Dedup.minhashSignature(
        containmentCorpus(s, d), "id", "text", n = 3, numHashes = 12)
      Dedup.candidatePairs(Dedup.lshBands(sig, numHashes = 12, rowsPerBand = 2))
    }
    import s.implicits._
    graft.io.Regime.serve[(Long, Long)](
        s, s"lsh-cand:containment:12x2:$d", "id_a", "id_b")(decode = longPair)(
      pipeline)
  }

  // x50's corpus: documents + a 20%-length PREFIX copy (floored at 4
  // tokens so the copy still produces 3-shingles) of every 25th doc —
  // the short-in-long inclusion whose jaccard ≈ 0.2 slips x49's banding
  private def inclusionCorpus(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan (r22, was two) — same fused shape as
    // [[containmentCorpus]], 20%-prefix branch instead of truncation.
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
    val prefix = array_join(slice(col("t"), lit(1),
      greatest(expr("size(t) div 5"), lit(4))), " ")
    base.select(explode(concat(
        array(struct(col("doc_id").as("id"), col("text").as("text"))),
        when(col("doc_id") % 25 === 0,
          array(struct((col("doc_id") + 20000000L).as("id"),
            prefix.as("text"))))
          .otherwise(array().cast("array<struct<id:bigint,text:string>>"))))
        .as("r"))
      .select(col("r.id").as("id"), col("r.text").as("text"))
  }

  private val inclusionCorpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000000,
      |    array_to_string(t[1:greatest(len(t)//5, 4)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 25 = 0))""".stripMargin

  /** x54's three-generation ARRIVAL corpus: batch 0 = the originals;
    * batch 1 (+10000) = head snippets of every 25th doc (verbatim
    * short-in-long inclusions — the pairs banding misses); batch 2
    * (+20000) = head snippets of every 50th doc (re-sent content whose
    * batch-1 twin was DROPPED — exercises the dropped-earlier-frees-
    * later chain against the still-retained original) plus token-
    * REVERSED copies of every (25k+7)th doc (same vocabulary, disjoint
    * 3-shingles — must be RETAINED). */
  private def arrivalInclusionCorpus(s: SparkSession, d: String): DataFrame = {
    // ONE corpus scan (r22, was four — guide §2.4/§6): each document
    // emits its arrival generations via one exploded conditional array —
    // the original, the batch-1 head snippet (every 25th doc), the
    // batch-2 head snippet (every 50th), and the batch-2 token-reversed
    // copy (every (25k+7)th). Branch predicates and text derivations
    // are unchanged expression for expression; every consumer
    // aggregates/joins (and the query's total ORDER BY id pins output
    // order), so pre-shuffle row order is free to change.
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("t"))
    val snip = array_join(slice(col("t"), lit(1),
      greatest(expr("size(t) div 5"), lit(4))), " ")
    val empty = array().cast("array<struct<id:bigint,text:string>>")
    def branch(pred: Column, id: Column, txt: Column) =
      when(pred, array(struct(id.as("id"), txt.as("text")))).otherwise(empty)
    base.select(explode(concat(
        array(struct(col("doc_id").as("id"), col("text").as("text"))),
        branch(col("doc_id") % 25 === 0, col("doc_id") + 10000L, snip),
        branch(col("doc_id") % 50 === 0, col("doc_id") + 20000L, snip),
        branch(col("doc_id") % 25 === 7, col("doc_id") + 20000L,
          array_join(reverse(col("t")), " ")))).as("r"))
      .select(col("r.id").as("id"), col("r.text").as("text"))
  }

  private val arrivalInclusionCorpusSql =
    """corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000, array_to_string(t[1:greatest(len(t)//5, 4)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 25 = 0)
      |  UNION ALL
      |  SELECT doc_id + 20000, array_to_string(t[1:greatest(len(t)//5, 4)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 50 = 0)
      |  UNION ALL
      |  SELECT doc_id + 20000, array_to_string(list_reverse(t), ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id % 25 = 7))""".stripMargin

  /** x50's candidate pairs — [[Dedup.anchorContainmentCandidates]] over
    * the per-doc sketch frame, cached per corpus snapshot under the same
    * regime dispatch as the LSH candidate indexes ([[dupCorpusCandidates]]).
    * The perDoc frame is passed in so the one [[Dedup.minhashWithSets]]
    * pass feeds candidate generation AND exact scoring. */
  private def inclusionCandidates(
      s: SparkSession, d: String, perDoc: DataFrame): DataFrame = {
    import s.implicits._
    graft.io.Regime.serve[(Long, Long)](
        s, s"anchor-cand:inclusion:k4df64:$d", "id_a", "id_b")(decode = longPair)(
      Dedup.anchorContainmentCandidates(perDoc, k = 4, maxDf = 64))
  }

  /** Cluster assignment over [[corpus3Pairs]], amortized per corpus
    * snapshot: a dedup index is built ONCE and then served to cluster
    * stats (x19), survivor selection (x20), and incremental checks — not
    * re-derived per consumer.
    *
    * Regime by MEASURED label count (r6 verdict item 1): a bounded
    * participant map collects to a driver artifact and joins back off a
    * LocalRelation whose ACCURATE stats make Catalyst broadcast it
    * unaided (consumers must not hint — x20 broadcasting an unbounded
    * map would be the bug this gate exists to prevent); past the bound
    * the cached artifact is the label FRAME's handle — [[Dedup.connectedComponents]] runs its
    * rounds eagerly and leaves `localCheckpoint`ed blocks on the
    * executors, so caching the handle is the session-scoped equivalent
    * of persisting the cluster map to the warehouse: corpus-scale state
    * never transits the driver, and consumers reuse the materialized
    * blocks instead of re-running CC. RegimeSpec pins value-identity
    * across regimes ([[graft.io.Regime.serve]]). */
  private def corpus3Clusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // CC leaves its labels materialized (checkpoint blocks, or a driver
    // relation below its own edge threshold), so nothing is persisted.
    // Measured over-bound, the label map must not live on as a driver
    // literal either — CC's union-find shortcut returns a LocalRelation
    // when the EDGE list fits its (larger) threshold, which would put the
    // oversize map right back in every plan. Only THAT case re-runs with
    // the shortcut disabled; checkpoint-backed labels (CC went
    // distributed itself, the normal case at scale) are reused as-is.
    def distributed(labels: DataFrame): DataFrame = {
      val driverHeld = labels.queryExecution.analyzed.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }
      if (driverHeld) Dedup.connectedComponents(corpus3Pairs(s, d), localThreshold = 0L)
      else labels
    }
    graft.io.Regime.serve[(Long, Long)](
        s, s"cc:corpus3:minhash12x3:$d", "id", "cluster_id")(
        decode = longPair, persist = false, overBound = distributed)(
      Dedup.connectedComponents(corpus3Pairs(s, d)))
  }

  /** Shared oracle prelude for x19/x20: minhash candidates over corpus3 +
    * recursive-CTE transitive closure. */
  private val cluster3Prelude =
    s"""WITH RECURSIVE ${minhashCtesFor(corpus3Sql)},
       |edges AS (
       |  SELECT id_a AS u, id_b AS v FROM cand
       |  UNION
       |  SELECT id_b, id_a FROM cand),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)""".stripMargin

  private[queries] val enList = TA.enStop.map(w => s"'$w'").mkString("[", ",", "]")
  private val esList = TA.esStop.map(w => s"'$w'").mkString("[", ",", "]")
  private val deList = TA.deStop.map(w => s"'$w'").mkString("[", ",", "]")

  /** Inner token/char/punct/stopword stats sub-select shared by the x3
    * and x36 oracles — one SQL source of truth for the quality formula's
    * cross-engine bit-parity contract. */
  private def qualityStatsSql(idCol: String, src: String): String =
    s"""SELECT $idCol,
       |    len(string_split(text,' ')) AS nt,
       |    length(text) AS nc,
       |    len(regexp_extract_all(text, '[^\\w\\s]')) AS np,
       |    len(list_filter(string_split(text,' '), t -> list_contains($enList, t))) AS en
       |  FROM $src""".stripMargin

  /** The x3 quality score over [[qualityStatsSql]]'s columns — the SQL
    * twin of [[graft.ext.TextAnalysis.qualityScore]]. */
  private val qualitySql =
    """0.4 * (CAST(en AS DOUBLE) / CAST(nt AS DOUBLE))
      |    + 0.3 * least(CAST(nt AS DOUBLE) / 100.0, 1.0)
      |    + 0.3 * (1.0 - CAST(np AS DOUBLE) / CAST(nc AS DOUBLE))""".stripMargin

  // DuckDB twin of Similarity.dotQ over two quantized list columns.
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])), (s, p) -> s + p)"

  /** x39's global resample budget: spread uniformly over the 16 learned
    * clusters, it drives the per-cluster hash-draw threshold. */
  private val ClusterBudget = 256

  // Exact int64 floor division a/b (b > 0) — DuckDB's // truncates
  // toward zero, so floor is spelled via the non-negative remainder.
  private def floorDivSql(a: String, b: String): String =
    s"((($a) - (((($a) % ($b)) + ($b)) % ($b))) // ($b))"

  // DuckDB twin of Similarity.roundDiv: exact integer round-half-up of
  // s/n — the k-means mean re-quantization rule, float-free on both
  // engines so tie behavior can never diverge.
  private def roundDivSql(s: String, n: String): String =
    floorDivSql(s"2 * ($s) + ($n)", s"2 * ($n)")

  /** CTE chain reproducing [[graft.ext.Similarity.trainIvfKmeans]] in
    * SQL: md5-order sample init (cent0), then `rounds` Lloyd's rounds of
    * nearest-centroid assignment (cosine desc, list_id tie-break) and
    * integer-grid mean update (empty lists keep their centroid). The
    * final relation is named `cent` with (list_id, c_qv, c_nrm) —
    * drop-in for the sampled-quantizer CTE the x16/x35 oracles used
    * before. `src` must expose (id, qv, nrm). */
  private def kmeansCentSql(src: String, nLists: Int, rounds: Int, dim: Int): String = {
    val init =
      s"""samp AS (
         |  SELECT id, qv, nrm FROM $src
         |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $nLists),
         |cent0 AS (
         |  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1 AS list_id,
         |         qv AS c_qv, nrm AS c_nrm
         |  FROM samp)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"cent${r - 1}"
      s"""asg$r AS (
         |  SELECT list_id, id, qv FROM (
         |    SELECT id, qv, list_id,
         |      ROW_NUMBER() OVER (PARTITION BY id ORDER BY
         |        CAST(${dotSql("qv", "c_qv")} AS DOUBLE) / (nrm * c_nrm) DESC,
         |        list_id) AS crank
         |    FROM $src CROSS JOIN $prev) WHERE crank = 1),
         |agg$r AS (
         |  SELECT list_id, u.i AS i, SUM(qv[u.i]) AS sm, COUNT(*) AS n
         |  FROM asg$r CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) u
         |  GROUP BY list_id, u.i),
         |newc$r AS (
         |  SELECT list_id,
         |         list(CAST(${roundDivSql("sm", "n")} AS BIGINT) ORDER BY i) AS c_qv
         |  FROM agg$r GROUP BY list_id),
         |cent$r AS (
         |  SELECT p.list_id,
         |         COALESCE(nc.c_qv, p.c_qv) AS c_qv,
         |         CASE WHEN nc.c_qv IS NULL THEN p.c_nrm
         |              ELSE sqrt(CAST(${dotSql("nc.c_qv", "nc.c_qv")} AS DOUBLE)) END AS c_nrm
         |  FROM $prev p LEFT JOIN newc$r nc USING (list_id))""".stripMargin
    }
    (Seq(init) ++ roundCtes ++
      Seq(s"cent AS (SELECT list_id, c_qv, c_nrm FROM cent$rounds)")).mkString(",\n")
  }

  /** The full IVFPQ oracle pipeline as a WITH chain — coarse-quantizer
    * training, PQ codebook training (2 Lloyd's rounds under the exact
    * integer L2 surrogate), code assignment, ADC scoring — ending at
    * relation `r` (query_id, neighbor_id, cosine, rnk). Shared by x46
    * (serves `r` at its k) and x52 (cuts `r` at the shortlist R and
    * exactly re-ranks). `n` (id, qv, nrm) stays in scope for the
    * rescoring join. */
  private def ivfpqOracleSqlCtes: String = {
    def slice(qv: String, m: String) =
      s"list_slice($qv, ($m)*8 + 1, ($m)*8 + 8)"
    def pqRound(r: Int) =
      s"""pasg$r AS (
         |  SELECT id, m, code FROM (
         |    SELECT n.id, c.m, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY n.id, c.m ORDER BY
         |        CAST(${dotSql("c.c_qv", "c.c_qv")} AS BIGINT)
         |          - 2 * CAST(${dotSql(slice("n.qv", "c.m"), "c.c_qv")} AS BIGINT) ASC,
         |        c.code ASC) AS crank
         |    FROM n CROSS JOIN pc${r - 1} c) WHERE crank = 1),
         |pagg$r AS (
         |  SELECT a.m, a.code, u.i AS i,
         |         SUM(n.qv[a.m*8 + u.i]) AS sm, COUNT(*) AS cnt
         |  FROM pasg$r a JOIN n USING (id)
         |  CROSS JOIN (SELECT unnest(range(1, 9)) AS i) u
         |  GROUP BY a.m, a.code, u.i),
         |pnew$r AS (
         |  SELECT m, code,
         |         list(CAST(${roundDivSql("sm", "cnt")} AS BIGINT) ORDER BY i) AS c_qv
         |  FROM pagg$r GROUP BY m, code),
         |pc$r AS (
         |  SELECT p.m, p.code, COALESCE(x.c_qv, p.c_qv) AS c_qv
         |  FROM pc${r - 1} p LEFT JOIN pnew$r x USING (m, code))""".stripMargin
    s"""WITH prep AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (
       |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
       |  FROM prep),
       |${kmeansCentSql("n", nLists = 16, rounds = 2, dim = 64)},
       |ci AS (
       |  SELECT id, qv, nrm, list_id,
       |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
       |      CAST(${dotSql("qv", "c_qv")} AS DOUBLE) / (nrm * c_nrm) DESC,
       |      list_id) AS crank
       |  FROM n CROSS JOIN cent),
       |indexed AS (
       |  SELECT list_id, id AS neighbor_id FROM ci WHERE crank <= 1),
       |probing AS (
       |  SELECT list_id, id AS query_id, qv AS q_qv, nrm AS q_nrm
       |  FROM ci WHERE crank <= 4 AND id < 8),
       |psamp AS (
       |  SELECT j - 1 AS code, qv FROM (
       |    SELECT qv, ROW_NUMBER() OVER (
       |      ORDER BY md5(CAST(id AS VARCHAR)), id) AS j
       |    FROM n) WHERE j <= 16),
       |subsp AS (SELECT unnest(range(0, 8)) AS m),
       |pc0 AS (
       |  SELECT s.m AS m, p.code AS code, ${slice("p.qv", "s.m")} AS c_qv
       |  FROM psamp p CROSS JOIN subsp s),
       |${pqRound(1)},
       |${pqRound(2)},
       |codes AS (
       |  SELECT id, m, code FROM (
       |    SELECT n.id, c.m, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY n.id, c.m ORDER BY
       |        CAST(${dotSql("c.c_qv", "c.c_qv")} AS BIGINT)
       |          - 2 * CAST(${dotSql(slice("n.qv", "c.m"), "c.c_qv")} AS BIGINT) ASC,
       |        c.code ASC) AS crank
       |    FROM n CROSS JOIN pc2 c) WHERE crank = 1),
       |nhat AS (
       |  SELECT cd.id,
       |    sqrt(CAST(SUM(CAST(${dotSql("c.c_qv", "c.c_qv")} AS BIGINT)) AS DOUBLE)) AS n_hat
       |  FROM codes cd JOIN pc2 c USING (m, code) GROUP BY cd.id),
       |adc AS (
       |  SELECT p.query_id, i.neighbor_id, p.q_nrm, nh.n_hat,
       |    SUM(CAST(${dotSql(slice("p.q_qv", "cd.m"), "c.c_qv")} AS BIGINT)) AS dotsum
       |  FROM indexed i
       |  JOIN probing p USING (list_id)
       |  JOIN codes cd ON cd.id = i.neighbor_id
       |  JOIN pc2 c ON c.m = cd.m AND c.code = cd.code
       |  JOIN nhat nh ON nh.id = i.neighbor_id
       |  WHERE i.neighbor_id <> p.query_id
       |  GROUP BY p.query_id, i.neighbor_id, p.q_nrm, nh.n_hat),
       |r AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(dotsum AS DOUBLE) / (q_nrm * n_hat) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY CAST(dotsum AS DOUBLE) / (q_nrm * n_hat) DESC,
       |                       neighbor_id) AS rnk
       |  FROM adc)""".stripMargin
  }

  /** Row-local hashed term frequencies: (doc_id, h=shingleHash60(term),
    * tf) via native [[graft.functions.TermStats]] — NO token shuffle;
    * the only exchange any consumer pays is its own groupBy over
    * fixed-width hash longs. Shared by x41/x43/x45/x47. */
  private def hashTfOf(src: DataFrame): DataFrame = src
    .select(col("doc_id"),
      explode(graft.functions.TermStats(split(col("text"), " "))
        .getField("counts")).as("tc"))
    .select(col("doc_id"),
      Dedup.shingleHash60(col("tc").getField("term")).as("h"),
      col("tc").getField("tf").as("tf"))

  /** Corpus-snapshot unigram table (h → corpus tf) + grand token total,
    * served through [[graft.io.Regime.serveWith]] under `key` — ONE
    * build per corpus snapshot however many queries consume it (x41's
    * nll, x43's DSIR, x45/x51's ladders). In the collected regime the
    * probe IS the complete table, so the total sums driver-side — one
    * Spark action instead of two (the distributed regime keeps the
    * exact agg and serves the vocabulary AS A TABLE: a billion-term
    * vocabulary must never transit the driver). */
  private[queries] def unigramArtifact(
      s: SparkSession, key: String, src: => DataFrame): (Long, DataFrame) =
    unigramArtifactFrom(s, key, hashTfOf(graft.util.Partitioning.fanOut(src)))

  /** [[unigramArtifact]] over an already-hashed (doc_id, h, tf) stream —
    * the seam that lets the corpus-wide table derive from the shared
    * postings checkpoint instead of paying its own tokenize pass. */
  private[queries] def unigramArtifactFrom(
      s: SparkSession, key: String, hashed: => DataFrame): (Long, DataFrame) = {
    import s.implicits._
    graft.io.Regime.serveWith[(Long, Long), Long](s, key, "h", "ctf")(
        decode = longPair, hint = true)(
      hashed.groupBy("h").agg(sum("tf").as("ctf"))) { p =>
      p.rows.fold(p.frame.agg(sum("ctf")).head().getLong(0))(_.iterator.map(_._2).sum)
    }
  }

  /** Corpus-snapshot document-frequency table (term → df) + document
    * count, the classic precomputed IR statistics behind x21's tf-idf —
    * one vocabulary groupBy per corpus refresh, served to every scoring
    * pass through [[graft.io.Regime.serveWith]] (broadcast under the
    * measured bound, vocabulary-as-table shuffle join past it). r22: the grand
    * token total no longer rides here (reverting r21's fold) — its only
    * consumer was BM25's avgdl, and [[bm25Scored]] now derives every
    * statistic from the query-restricted postings slice plus one
    * two-row totals action, so the artifact is back to the minimal
    * (nDocs, df) x21 actually reads and the distributed regime no
    * longer pays a vocabulary agg for a scalar nobody consumes. */
  private[queries] def dfreqArtifact(
      s: SparkSession, d: String): (Long, DataFrame) = {
    import s.implicits._
    // df derives from the SHARED postings checkpoint (docTermTf —
    // value-identical source: its rows are the same per-(doc, term)
    // TermStats counts the private tokenize here used to recompute), so
    // a cold execution that needs both artifacts pays ONE corpus
    // tokenize, not two. nDocs is independent of the vocabulary probe
    // (it reads parquet row-group metadata, the probe reads the postings
    // checkpoint) — the two actions overlap so the count's job and its
    // driver gap hide under the probe.
    graft.io.Regime.serveWith[(String, Long), Long](
        s, s"tfidf-df:documents:$d", "term", "df")(
        decode = r => (r.getString(0), r.getLong(1)), hint = true)(
      docTermTf(s, d).groupBy("term").agg(count(lit(1)).as("df"))) { p =>
      graft.util.SideAction.alongside(s)(Tables.documents(s, d).count())(p.rows)._1
    }
  }

  /** Row-local per-(doc, term) tf frame with doc length — the shared
    * scoring input of x21's TF-IDF, x47's BM25, and x48's overlap run:
    * tf and dl come straight out of the native
    * [[graft.functions.TermStats]] loop (no token shuffle, no per-doc
    * groupBy), so the only exchanges any consumer pays are its own
    * scoring joins. Cached as a DISTRIBUTED checkpoint handle per corpus
    * snapshot ([[graft.io.ArtifactCache.getOrBuildFrame]]) — the
    * postings-style materialization an IR deployment keeps next to its
    * df table, so warm serves pay scoring only, never the corpus
    * re-tokenize. */
  private def docTermTf(s: SparkSession, d: String): DataFrame =
    graft.io.ArtifactCache.getOrBuildFrame(s"doctermtf:documents:$d") {
      graft.util.Partitioning.fanOut(Tables.documents(s, d))
        .select(col("doc_id"),
          graft.functions.TermStats(split(col("text"), " ")).as("ts"))
        .select(col("doc_id"),
          col("ts").getField("ntok").as("dl"),
          explode(col("ts").getField("counts")).as("tc"))
        .select(col("doc_id"), col("dl"),
          col("tc").getField("term").as("term"),
          col("tc").getField("tf").as("tf"))
    }

  /** The corpus's hashed (doc_id, h, tf) stream DERIVED from the shared
    * postings checkpoint ([[docTermTf]]) — row-for-row identical to
    * `hashTfOf(documents)` (same TermStats counts, same 60-bit hash; the
    * checkpoint merely materializes the intermediate), so every consumer
    * of the corpus-wide hashed stream reads the one materialization
    * instead of re-tokenizing: a cold x41/x43/x47 pays ONE corpus
    * tokenize however many gram/df/scoring passes it composes, and any
    * retrieval row that ran first leaves the checkpoint behind for the
    * rest of the session (r18 verdict item 3). */
  private def corpusHashTf(s: SparkSession, d: String): DataFrame =
    docTermTf(s, d).select(col("doc_id"),
      Dedup.shingleHash60(col("term")).as("h"), col("tf"))

  /** Row-local word-bigram array of a text column — x45/x51's gram
    * stream source (space-joined pairs; under two tokens → empty). */
  private def bigramsOf(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "),
          element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** TAGGED hashed gram-postings checkpoint — the LM ladder's shared
    * materialization, the docTermTf counterpart for the quality rows:
    * ONE corpus tokenize computes BOTH gram streams per document (tag 0
    * = unigram counts, tag 1 = bigram counts; all row-local TermStats,
    * no token shuffle), each row carrying the 60-bit gram hash `h`, the
    * prefix-word hash `hp`, the suffix-word hash `hs` (for tag 0 both
    * equal `h` — computed uniformly so the schema is dense), and the
    * per-doc tf. Cached per corpus snapshot via
    * [[graft.io.ArtifactCache.getOrBuildFrame]]: the corpus unigram AND
    * bigram tables are each one combinable groupBy over a tag slice of
    * these blocks, and x45/x51's scoring joins read the tag-1 slice —
    * so a cold execution of either row pays exactly one corpus tokenize
    * and a warm serve pays none. */
  private def gramTf(s: SparkSession, d: String): DataFrame =
    graft.io.ArtifactCache.getOrBuildFrame(s"gramtf:documents:$d") {
      gramTfOf(graft.util.Partitioning.fanOut(Tables.documents(s, d)))
    }

  /** The tagged hashed gram stream of an arbitrary (doc_id, text) frame —
    * [[gramTf]]'s body, exposed so incremental consumers (x53's
    * change-feed maintenance) gram-ify a DELTA with exactly the corpus
    * checkpoint's tokenization, hashes, and schema. */
  private[graft] def gramTfOf(
      src: DataFrame, extra: Seq[String] = Nil): DataFrame =
      // ONE native loop per document ([[graft.functions.GramTf]]):
      // unigram and bigram counts with their 60-bit hashes (h, hp, hs)
      // computed in-row — each distinct word digested once. Replaces
      // (r21) the five-expression chain (two TermStats passes, a
      // transform-built bigram string array, struct concat + explode,
      // then three md5→hex→conv chains per exploded row) that made this
      // the largest single cold job of every LM-ladder query. Output
      // rows, schema, and hash values are identical (GramTfSpec pins
      // the native pass equal to the declarative spelling aggregated by
      // hash; the per-doc gram identity is the 60-bit hash either way —
      // the identity all consumers aggregate or join on).
      src
        .select((col("doc_id") +: extra.map(col)) :+
          explode(graft.functions.GramTf(split(col("text"), " "))).as("x"): _*)
        .select((col("doc_id") +: extra.map(col)) ++ Seq(
          col("x").getField("tag").as("tag"),
          col("x").getField("h").as("h"),
          col("x").getField("hp").as("hp"),
          col("x").getField("hs").as("hs"),
          col("x").getField("tf").as("tf")): _*)

  /** The pre-r21 declarative spelling of [[gramTfOf]] — retained ONLY
    * as the differential-spec reference (GramTfSpec pins the native
    * pass equal to it, aggregated by the hash identity both spell). */
  private[graft] def gramTfOfDecl(
      src: DataFrame, extra: Seq[String] = Nil): DataFrame =
      src
        .select((col("doc_id") +: extra.map(col)) :+ explode(concat(
          transform(
            graft.functions.TermStats(split(col("text"), " "))
              .getField("counts"),
            c => struct(lit(0).as("tag"), c.getField("term").as("term"),
              c.getField("tf").as("tf"))),
          transform(
            graft.functions.TermStats(bigramsOf(col("text")))
              .getField("counts"),
            c => struct(lit(1).as("tag"), c.getField("term").as("term"),
              c.getField("tf").as("tf"))))).as("x"): _*)
        .select((col("doc_id") +: extra.map(col)) ++ Seq(
          col("x").getField("tag").as("tag"),
          Dedup.shingleHash60(col("x").getField("term")).as("h"),
          Dedup.shingleHash60(substring_index(
            col("x").getField("term"), " ", 1)).as("hp"),
          Dedup.shingleHash60(substring_index(
            col("x").getField("term"), " ", -1)).as("hs"),
          col("x").getField("tf").as("tf")): _*)

  /** x53's base state: the documents corpus AS a graft-log table (keyed
    * on doc_id, range-clustered so key-delete pruning has tight stats)
    * PLUS its already-maintained gram tables — exactly what a production
    * pipeline holds between ingests. Built once per sfDir (setup, k15's
    * precedent: the DuckDB oracle pays only a SELECT over the final
    * state, so paying table+artifact CONSTRUCTION per rep would measure
    * setup, not the increment); each execution clones WITH HISTORY so
    * reps never see each other's commits. Returns (table path, pre-batch
    * version, pre-batch (tag, h, ctf) gram table — materialized). */
  private val x53Base =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, DataFrame)]()

  /** Per-sfDir scratch root for x53's per-execution table clones: each
    * execution deletes the previous clone before cutting its own (r21,
    * ADVICE — the per-rep clones used to accumulate in the scratch dir
    * across reps and JVMs), and one shutdown hook sweeps whatever is
    * left at exit. */
  private val x53CloneRoot = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private val x53PrevClone = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private val x53CloneSeq = new java.util.concurrent.atomic.AtomicLong()
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  private def x53NextCloneDir(d: String): String = {
    val root = x53CloneRoot.computeIfAbsent(d, _ => {
      val r = java.nio.file.Files.createTempDirectory("graft-x53c")
      sys.addShutdownHook(
        try deleteTree(r) catch { case _: Throwable => () })
      r
    })
    // delete only THIS sfDir's tracked predecessor clone (r22, ADVICE):
    // the blanket root sweep would delete a concurrently-executing
    // x53's in-use clone if two executions ever overlap in one JVM;
    // per-sfDir predecessor tracking keeps the recycling local to each
    // execution chain (the shutdown hook still sweeps the whole root).
    val next = root.resolve(s"c${x53CloneSeq.incrementAndGet()}")
    val prev = x53PrevClone.put(d, next)
    if (prev != null)
      try deleteTree(prev) catch { case _: Throwable => () }
    next.resolve("docs_log").toString
  }
  private def x53FixtureFor(
      s: SparkSession, d: String): (String, Long, DataFrame) = {
    // dead-context invalidation (r21): the cached grams frame is a
    // localCheckpoint handle — one of a stopped SparkContext would throw
    // on every consumer; rebuild the entry against `s` instead (the
    // ArtifactCache's own liveness check)
    val cached = x53Base.get(d)
    if (cached != null && !graft.io.ArtifactCache.live(cached))
      x53Base.remove(d, cached)
    x53Base.computeIfAbsent(d, dir => {
      val base = Tables.documents(s, dir)
        .filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"), col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-x53")
      sys.addShutdownHook {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(tmp)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
      val path = tmp.resolve("docs_log").toString
      graft.io.LogTable.create(s, path,
        base.repartitionByRange(8, col("doc_id")), "doc_id")
      val grams = gramTfOf(graft.io.LogTable.read(s, path))
        .groupBy("tag", "h").agg(sum("tf").cast("long").as("ctf"))
        .localCheckpoint()
      (path, graft.io.LogTable.version(path), grams)
    })
  }

  /** The corpus-wide unigram table (x41/x43/x45/x48's shared
    * artifact), derived from the postings checkpoint via
    * [[corpusHashTf]]. Same cache key as ever — x45's combined tagged
    * build still populates it directly in the collected regime. */
  private[queries] def corpusUnigramArtifact(
      s: SparkSession, d: String): (Long, DataFrame) =
    unigramArtifactFrom(s, s"unigram-tf:documents:$d", corpusHashTf(s, d))

  /** The x47/x48 query set: distinct term sets of deterministic probe
    * documents (doc_id % 200 = 7 — scales with the corpus), broadcast
    * because a query set is small by definition. */
  private def queryTermSets(s: SparkSession, d: String): DataFrame =
    broadcast(Tables.documents(s, d)
      .filter(col("doc_id") % 200 === 7)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("term")))

  /** Per-(query, doc) BM25 scores over the shared postings projection —
    * ONE spelling of the scoring expressions for every consumer (x47's
    * served run and x48's fused run; a bit-identity-sensitive tweak
    * must not be applied to one copy and missed in another). See x47's
    * header for the engineering (ln-free rational RSJ odds; per-term
    * scores quantized to longs at 2^20 so the per-(query, doc) sum is
    * exact integer arithmetic). The raw tf-overlap sum (x48's second
    * run) rides the SAME aggregate, so the corpus join is never paid
    * twice — and [[bm25ScoredFrame]] caches the result per corpus
    * snapshot, so x47 and x48 share ONE materialization. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    // r22: every BM25 statistic derives from the postings checkpoint
    // and the broadcast query set — the corpus-wide vocabulary artifact
    // is no longer built on this path at ANY scale (guide §2.4: the
    // cold x47/x48 chain paid a full-vocabulary groupBy + regime probe
    // only to read df for the query's terms and one scalar total).
    //   - nTok and nDocs ride ONE two-row driver action (a union of two
    //     single-row aggregates: sum(tf) over the checkpoint regroups
    //     the same per-(doc, term) int64 the vocabulary total summed —
    //     identical exact integer; count(*) over documents unchanged).
    //     The empty-corpus sum coalesces to 0 (r21 ADVICE: the old
    //     distributed branch NPE'd where the collected branch gave 0).
    //   - df is count(*) over (partition by term) of the
    //     query-restricted postings slice: docTermTf holds exactly one
    //     row per (doc, term), so the window count IS that term's
    //     document frequency — the same integer the vocabulary table
    //     carried, computed only for the terms this join ever read. At
    //     scale the slice is Σ_{t∈q} df(t) — the same rows the scoring
    //     join already carries — and the full vocabulary never shuffles
    //     or transits the driver.
    val tf = docTermTf(s, d)
    val totals = tf.agg(coalesce(sum(col("tf")), lit(0L)).as("v"))
      .unionByName(Tables.documents(s, d).agg(count(lit(1)).as("v")))
      .collect()
    val (nTok, nDocs) = (totals(0).getLong(0), totals(1).getLong(0))
    val avgdl = nTok.toDouble / nDocs.toDouble
    // expression order mirrors the oracle TOKEN FOR TOKEN — every op
    // is IEEE-exact or correctly rounded, so bits match (see x47)
    val odds = (lit(nDocs).cast("double") - col("df").cast("double") +
      lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0)
    val norm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / lit(avgdl))))
    val q = queryTermSets(s, d)
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    tf.join(broadcast(q.select("term")), Seq("term"), "left_semi")
      .withColumn("df", count(lit(1)).over(wTerm))
      .join(q, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(
        sum(floor(odds * norm * lit(1048576.0) + lit(0.5)).cast("long"))
          .as("score_q"),
        sum(col("tf")).as("ov_q"))
  }

  /** The per-(query, doc) scored frame as a build-once serve-many
    * artifact keyed by corpus snapshot — the r18 verdict's one weak
    * mark: x48 localCheckpointed this PER EXECUTION (a fresh corpus join
    * + a leaked checkpoint every warm serve) and x47 re-paid the
    * postings⋈queries join on every serve. The frame's size is the
    * retrieval workload (|queries|·|matched docs|), independent of
    * corpus token count, and it is the natural materialization point:
    * both of x48's window branches AND x47's ranked run read it, so a
    * warm serve pays windows + top-k only. Same lifecycle discipline as
    * docTermTf (getOrBuildFrame: one localCheckpoint per snapshot,
    * blocks released on eviction). */
  private def bm25ScoredFrame(s: SparkSession, d: String): DataFrame =
    graft.io.ArtifactCache.getOrBuildFrame(s"bm25scored:documents:$d") {
      bm25Scored(s, d)
    }

  /** PlanDump seams: the artifact-build pipelines whose plans the final
    * (checkpoint-reading) query plans cannot show. Evidence-only. */
  private[graft] def bm25ScoredBuild(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
  private[graft] def arrivalInclusionCorpusBuild(
      s: SparkSession, d: String): DataFrame = arrivalInclusionCorpus(s, d)
  private[graft] def inclusionCorpusBuild(
      s: SparkSession, d: String): DataFrame = inclusionCorpus(s, d)
  private[graft] def containmentCorpusBuild(
      s: SparkSession, d: String): DataFrame = containmentCorpus(s, d)

  /** The BM25 ranked run x47 serves: (query_id, doc_id, score_q, rnk)
    * with rnk ≤ kTop per query, over [[bm25ScoredFrame]]. */
  private def bm25Ranked(s: SparkSession, d: String, kTop: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score_q"), asc("doc_id"))
    bm25ScoredFrame(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kTop)
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Text analysis
    // ------------------------------------------------------------------
    QueryDef(
      "x1_token_stats",
      // ordered-layout-before-projection: see
      // graft.util.Partitioning.orderedFanOut for why the sort runs on
      // the raw scan and the expensive projection after it
      (s, d) =>
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id")).select(
          col("doc_id"),
          TA.tokenCount(col("text")).as("n_tokens"),
          TA.bpeishCount(col("text")).as("n_bpeish"),
          length(col("text")).as("n_chars_calc"),
          col("n_chars")),
      Some("""SELECT doc_id,
             |       len(string_split(text, ' ')) AS n_tokens,
             |       len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish,
             |       length(text) AS n_chars_calc,
             |       n_chars
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "x2_lang_id",
      // ordered layout before projection: see orderedFanOut
      (s, d) =>
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id")).select(
          col("doc_id"),
          TA.langId(col("text")).as("lang_pred"),
          col("lang").as("lang_actual")),
      Some(s"""SELECT doc_id,
              |  CASE WHEN en + es + de = 0 THEN 'und'
              |       WHEN en >= es AND en >= de THEN 'en'
              |       WHEN es >= de THEN 'es'
              |       ELSE 'de' END AS lang_pred,
              |  lang AS lang_actual
              |FROM (
              |  SELECT doc_id, lang,
              |    len(list_filter(string_split(text,' '), t -> list_contains($enList, t))) AS en,
              |    len(list_filter(string_split(text,' '), t -> list_contains($esList, t))) AS es,
              |    len(list_filter(string_split(text,' '), t -> list_contains($deList, t))) AS de
              |  FROM documents)
              |ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "x3_quality_score",
      // ordered layout before projection: see orderedFanOut
      (s, d) =>
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id")).select(
          col("doc_id"),
          TA.stopwordRatio(col("text")).as("stopword_ratio"),
          TA.punctRatio(col("text")).as("punct_ratio"),
          TA.meanTokenLen(col("text")).as("mean_token_len"),
          TA.qualityScore(col("text")).as("quality")),
      Some(s"""SELECT doc_id,
              |  CAST(en AS DOUBLE) / CAST(nt AS DOUBLE) AS stopword_ratio,
              |  CAST(np AS DOUBLE) / CAST(nc AS DOUBLE) AS punct_ratio,
              |  CAST(nc - (nt - 1) AS DOUBLE) / CAST(nt AS DOUBLE) AS mean_token_len,
              |  $qualitySql AS quality
              |FROM (
              |  ${qualityStatsSql("doc_id", "documents")})
              |ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "x4_fingerprint",
      // ordered layout before projection: see orderedFanOut
      (s, d) =>
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id")).select(
          col("doc_id"),
          TA.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(text,' '),
             |        t -> CAST('0x' || substr(md5(t),1,12) AS BIGINT))),
             |    (h, v) -> (h * 31 + v) % 2147483647) AS fp
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "x11_text_normalize",
      // ordered layout before projection: see orderedFanOut
      (s, d) =>
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id")).select(
          col("doc_id"),
          TA.normalizeText(col("text")).as("norm"),
          length(TA.normalizeText(col("text"))).as("n_norm")),
      Some("""SELECT doc_id,
             |  trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
             |       '\s+', ' ', 'g')) AS norm,
             |  length(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
             |       '\s+', ' ', 'g'))) AS n_norm
             |FROM documents ORDER BY doc_id""".stripMargin),
    ),

    QueryDef(
      "x12_vocab_topk",
      (s, d) =>
        TA.vocabulary(Tables.documents(s, d), "doc_id", "text")
          .orderBy(desc("term_freq"), desc("doc_freq"), asc("token"))
          .limit(50),
      Some("""WITH tok AS (
             |  SELECT doc_id AS id, unnest(string_split(text, ' ')) AS token
             |  FROM documents)
             |SELECT token, COUNT(DISTINCT id) AS doc_freq, COUNT(*) AS term_freq
             |FROM tok GROUP BY token
             |ORDER BY term_freq DESC, doc_freq DESC, token ASC
             |LIMIT 50""".stripMargin),
    ),

    QueryDef(
      "x13_stratified_sample",
      (s, d) =>
        TA.stratifiedSample(
          Tables.documents(s, d).select("doc_id", "lang", "source"),
          stratumCol = "lang", idCol = "doc_id", k = 5)
          .orderBy("lang", "doc_id"),
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |WHERE rk <= 5 ORDER BY lang, doc_id""".stripMargin),
    ),

    // X37 — mixture resampling (data mixing): given per-language target
    // weights and a global budget, each stratum samples at rate
    // min(1, budget·wₗ / nₗ) via a DETERMINISTIC hash draw — the
    // training-mixture step every corpus pipeline runs before packing.
    // Parity is engineered integer-only: the draw is the first 48 md5
    // bits of the doc id, the rate is a per-stratum BIGINT threshold
    // floor((budget · w10ₗ · 2⁴⁸) / (10 · nₗ)) — one integer division,
    // identical in both engines; no float ever enters the comparison.
    // Rate-based (binomial around the target), not exact-k: that is the
    // published trade that keeps the operator one scan + one tiny
    // broadcast join at 100 TB (per-stratum counts are the only
    // aggregate; the corpus never shuffles). A stratum without a weight
    // samples nothing, by construction (null threshold filters out).
    {
      val budget = 200
      val w10 = Seq("en" -> 4, "de" -> 2, "es" -> 2, "fr" -> 1, "zh" -> 1)
      QueryDef(
        "x37_mixture_sample",
        (s, d) => {
          val docs = Tables.documents(s, d).select("doc_id", "lang", "source")
          val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
          val weights = w10.map { case (l, w) => (l, w.toLong) }
            .foldLeft(lit(null).cast("long")) { case (acc, (l, w)) =>
              when(col("lang") === l, lit(w)).otherwise(acc)
            }
          docs.join(broadcast(counts), Seq("lang"))
            .withColumn("w10", weights)
            .withColumn("thresh",
              expr(s"(${budget}L * w10 * ${1L << 48}L) div (10L * n_l)"))
            .withColumn("h48",
              conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
                .cast("long"))
            .filter(col("h48") < col("thresh"))
            .select("doc_id", "lang", "source")
            .orderBy("doc_id")
        },
        Some(s"""WITH counts AS (
                |  SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
                |w AS (SELECT * FROM (VALUES ${w10.map { case (l, w) => s"('$l', $w)" }.mkString(", ")})
                |      AS t(lang, w10)),
                |j AS (
                |  SELECT d.doc_id, d.lang, d.source,
                |    CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h48,
                |    (${budget} * CAST(w.w10 AS BIGINT) * ${1L << 48}) // (10 * c.n_l) AS thresh
                |  FROM documents d
                |  JOIN counts c USING (lang)
                |  JOIN w USING (lang))
                |SELECT doc_id, lang, source FROM j
                |WHERE h48 < thresh ORDER BY doc_id""".stripMargin),
      )
    },

    {
      // X14 — Count-Min Sketch frequency estimates (custom typed
      // Aggregator, graft.functions.CountMinSketch): the corpus reduces
      // to a 4×64 counter matrix; probe-token estimates come out of the
      // sketch as pure column arithmetic. The oracle rebuilds the exact
      // same sketch in SQL (shared md5 hash family), so estimates match
      // value-for-value — including collision overestimates.
      val probes = Seq("the", "el", "der", "data", "zzz_absent_token")
      QueryDef(
        "x14_cms_estimates",
        (s, d) => {
          import graft.functions.CountMinSketch
          val toks = graft.util.Partitioning.fanOut(Tables.documents(s, d))
            .select(explode(split(col("text"), " ")).as("t"))
          val sk = toks.agg(CountMinSketch.cmsAgg(col("t")).as("sk"))
          val wide = sk.select(probes.map(p =>
            CountMinSketch.estimate(col("sk"), p).as(p)): _*)
          val long = wide.selectExpr(
            s"stack(${probes.size}, " +
              probes.map(p => s"'$p', `$p`").mkString(", ") + ") as (token, est)")
          val exact = toks.groupBy(col("t").as("token")).agg(count(lit(1)).as("exact"))
          long.join(exact, Seq("token"), "left")
            .select(col("token"), col("est"),
              coalesce(col("exact"), lit(0L)).as("exact"))
            .orderBy("token")
        },
        Some(s"""WITH tok AS (
                |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
                |seeds AS (SELECT unnest(generate_series(0, 3)) AS i),
                |cells AS (
                |  SELECT i,
                |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || t), 1, 8) AS BIGINT) % 64 AS c,
                |    count(*) AS n
                |  FROM tok, seeds GROUP BY 1, 2),
                |probes AS (SELECT unnest([${probes.map(p => s"'$p'").mkString(",")}]) AS token),
                |pc AS (
                |  SELECT token, i,
                |    CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || token), 1, 8) AS BIGINT) % 64 AS c
                |  FROM probes, seeds),
                |est AS (
                |  SELECT token, CAST(min(COALESCE(n, 0)) AS BIGINT) AS est
                |  FROM pc LEFT JOIN cells USING (i, c) GROUP BY token),
                |ex AS (SELECT t AS token, count(*) AS exact FROM tok GROUP BY 1)
                |SELECT est.token, est, CAST(COALESCE(exact, 0) AS BIGINT) AS exact
                |FROM est LEFT JOIN ex USING (token)
                |ORDER BY token""".stripMargin),
      )
    },

    // X17 — repetition quality signals (Gopher-style filters): fraction
    // of tokens taken by the single most frequent token, and fraction of
    // duplicated 3-gram shingles. Both are standard pre-training corpus
    // filters. Both signals are ROW-LOCAL, so the whole query is one
    // shuffle-free scan: the native [[graft.functions.TermStats]] loop
    // replaces the explode + groupBy(doc, tok) + groupBy(doc) + join
    // spelling that shuffled every token of the corpus twice (measured
    // 1.1 s → 0.35 s at sf0.1; at 100 TB the difference is two full-corpus
    // exchanges vs none).
    QueryDef(
      "x17_repetition",
      (s, d) => {
        Tables.documents(s, d)
          // the explode spelling drops NULL-text docs (explode of a NULL
          // array emits no rows), as does the oracle's unnest — keep that
          .filter(col("text").isNotNull)
          // ordered layout before the expensive projection (orderedFanOut)
          .transform(graft.util.Partitioning.orderedFanOut(_, col("doc_id")))
          .select(col("doc_id"),
            graft.functions.TermStats(split(col("text"), " ")).as("ts"),
            // native (total, dist) shingle counts: the gram strings never
            // materialize (vs transform-HOF build + array_distinct rehash)
            graft.functions.ShingleDupStats(split(col("text"), " "), 3).as("ss"))
          .select(col("doc_id"), col("ts"),
            col("ss").getField("total").as("total"),
            col("ss").getField("dist").as("dist"))
          .select(
            col("doc_id"),
            (col("ts").getField("maxtf").cast("double") /
              col("ts").getField("ntok").cast("double")).as("top_token_frac"),
            when(col("total") > 0,
              (col("total") - col("dist")).cast("double") / col("total").cast("double"))
              .otherwise(lit(0.0)).as("dup_shingle_frac"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
             |tt AS (
             |  SELECT doc_id, CAST(max(c) AS BIGINT) AS maxc,
             |         CAST(sum(c) AS BIGINT) AS ntok
             |  FROM tc GROUP BY 1),
             |sh AS (
             |  SELECT doc_id, unnest(CASE WHEN len(t) - 2 >= 1
             |    THEN list_transform(generate_series(1, len(t) - 2),
             |                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             |    ELSE [] END) AS sh
             |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
             |sc AS (
             |  SELECT doc_id, count(*) AS total, count(DISTINCT sh) AS dist
             |  FROM sh GROUP BY 1)
             |SELECT t.doc_id,
             |  CAST(maxc AS DOUBLE) / CAST(ntok AS DOUBLE) AS top_token_frac,
             |  COALESCE(CAST(total - dist AS DOUBLE) / CAST(total AS DOUBLE), 0.0)
             |    AS dup_shingle_frac
             |FROM tt t LEFT JOIN sc USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
    ),

    // X18 — PII scrubbing: redact email/phone patterns and count the
    // redactions (the fixture corpus is clean, so a deterministic PII
    // suffix is planted on every 10th doc first — the scrub must both
    // find those and leave the other 90% byte-identical). Simple regex
    // subset shared by Java regex and DuckDB's RE2.
    QueryDef(
      "x18_pii_scrub",
      (s, d) => {
        val email = "[a-z0-9.]+@[a-z0-9.]+"
        val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
        graft.util.Partitioning.orderedFanOut(
          Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id"),
            when(col("doc_id") % 10 === 0,
              concat(col("text"),
                lit(" contact bob@example.com or 555-123-4567 now")))
              .otherwise(col("text")).as("text"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("text"), lit(email), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("text"), lit(phone), lit(0))).as("n_phones"),
            regexp_replace(
              regexp_replace(col("text"), email, "<EMAIL>"),
              phone, "<PHONE>").as("scrubbed"))
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0
             |      THEN text || ' contact bob@example.com or 555-123-4567 now'
             |      ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS n_emails,
             |  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
             |  regexp_replace(
             |    regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
             |FROM corpus ORDER BY doc_id""".stripMargin),
    ),

    // ------------------------------------------------------------------
    // Dedup
    // ------------------------------------------------------------------
    QueryDef(
      "x5_exact_dedup",
      (s, d) => {
        val corpus = graft.util.Corpora.derived(Tables.documents(s, d),
          col("doc_id"), col("text"),
          Seq((col("doc_id") % 25 === 0, col("doc_id") + 20000, col("text"))),
          "id", "text")
        Dedup.exactDups(corpus, "id", "text").orderBy("content_hash")
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id AS id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 25 = 0
             |)
             |SELECT sha256(text) AS content_hash, min(id) AS keep_id,
             |       count(*) AS n_copies
             |FROM corpus GROUP BY 1 ORDER BY content_hash""".stripMargin),
    ),

    QueryDef(
      "x6_minhash_lsh",
      (s, d) => dupCorpusCandidates(s, d).orderBy("id_a", "id_b"),
      Some(s"""WITH $minhashCtes
              |SELECT id_a, id_b FROM cand ORDER BY id_a, id_b""".stripMargin),
    ),

    QueryDef(
      "x7_jaccard_neardup",
      (s, d) => {
        // Fused per-document pass (Dedup.minhashWithSets): MinHash
        // signature AND exact shingle set computed inside each doc's row —
        // zero shuffle before the tiny band join, corpus scanned/hashed
        // exactly once. Jaccard is then array_intersect over the broadcast
        // candidate pairs (the r3 spelling exploded the shingle frame and
        // shuffled it three times; this is ~6× faster and the better
        // 100 TB shape outright).
        // ArtifactCache materialization, not a bare .persist(): the
        // cached blocks release on Bench's between-rep sweep instead of
        // accumulating one leaked frame per execution (r19 advisory)
        val perDoc = graft.io.ArtifactCache.getOrBuildFrame(
          s"dup-perdoc:documents:$d") {
          Dedup.minhashWithSets(dupCorpus(s, d), "id", "text",
            n = 3, numHashes = 12)
        }
        val pairs = dupCorpusCandidates(s, d)
        Dedup.jaccardFromSets(perDoc, pairs)
          .filter(col("jaccard") >= 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $minhashCtes,
              |dsh AS (SELECT DISTINCT id, sh FROM sh),
              |cnt AS (SELECT id, count(*) AS cnt FROM dsh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS inter
              |  FROM cand c
              |  JOIN dsh a ON a.id = c.id_a
              |  JOIN dsh b ON b.id = c.id_b AND b.sh = a.sh
              |  GROUP BY c.id_a, c.id_b)
              |SELECT i.id_a, i.id_b,
              |  CAST(i.inter AS DOUBLE) /
              |    CAST(ca.cnt + cb.cnt - i.inter AS DOUBLE) AS jaccard
              |FROM inter i
              |JOIN cnt ca ON ca.id = i.id_a
              |JOIN cnt cb ON cb.id = i.id_b
              |WHERE CAST(i.inter AS DOUBLE) /
              |      CAST(ca.cnt + cb.cnt - i.inter AS DOUBLE) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X49 — CONTAINMENT near-dup (Broder 1997's asymmetric resemblance;
    // the doc-INCLUSION detector Lee et al.-style dedup pipelines need
    // beyond Jaccard): a short document embedded verbatim in a longer
    // one scores containment 1.0 from the short side while Jaccard stays
    // at the length ratio, so a Jaccard-thresholded pass keeps the
    // redundant inclusion. The corpus plants 80%-truncated copies of
    // every 25th doc; candidates come from the containment-tuned 6×2
    // banding (lower similarity floor — see containmentCandidates), and
    // the exact score is array_intersect over per-doc shingle sets, both
    // directions from ONE intersection. The oracle replays signature,
    // banding, and both divisions value-for-value.
    QueryDef(
      "x49_containment",
      (s, d) => {
        // ArtifactCache materialization, not a bare .persist() (same
        // r19-advisory lifecycle fix as x7/x50)
        val perDoc = graft.io.ArtifactCache.getOrBuildFrame(
          s"cont-perdoc:documents:$d") {
          Dedup.minhashWithSets(containmentCorpus(s, d), "id",
            "text", n = 3, numHashes = 12)
        }
        val pairs = containmentCandidates(s, d)
        Dedup.containmentFromSets(perDoc, pairs)
          .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.9)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH ${minhashCtesFor(containmentCorpusSql, bands = 6, rowsPerBand = 2)},
              |dsh AS (SELECT DISTINCT id, sh FROM sh),
              |cnt AS (SELECT id, count(*) AS cnt FROM dsh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS inter
              |  FROM cand c
              |  JOIN dsh a ON a.id = c.id_a
              |  JOIN dsh b ON b.id = c.id_b AND b.sh = a.sh
              |  GROUP BY c.id_a, c.id_b)
              |SELECT i.id_a, i.id_b,
              |  CAST(i.inter AS DOUBLE) / CAST(ca.cnt AS DOUBLE) AS c_a_in_b,
              |  CAST(i.inter AS DOUBLE) / CAST(cb.cnt AS DOUBLE) AS c_b_in_a
              |FROM inter i
              |JOIN cnt ca ON ca.id = i.id_a
              |JOIN cnt cb ON cb.id = i.id_b
              |WHERE greatest(CAST(i.inter AS DOUBLE) / CAST(ca.cnt AS DOUBLE),
              |               CAST(i.inter AS DOUBLE) / CAST(cb.cnt AS DOUBLE)) >= 0.9
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X50 — LOW-Jaccard containment (the inclusion case x49's banding
    // structurally misses): a SHORT document embedded verbatim in a much
    // longer one sits at j ≈ len(short)/len(long) ≈ 0.2, where even the
    // containment-tuned 6×2 banding fires with P = 1-(1-j²)⁶ ≈ 0.2 —
    // four of five planted inclusions would slip. Candidates instead
    // come from each document's BOTTOM-k shingle sketch (Broder 1997's
    // containment sketch) probed against the corpus's full shingle
    // postings (Dedup.anchorContainmentCandidates): for a verbatim
    // inclusion A ⊆ B every anchor of A is in B's postings, so recall is
    // exact by construction — no S-curve, no length stratification
    // hacks. The corpus plants a 20%-length PREFIX copy (floored at 4
    // tokens so the copy still shingles) of every 25th doc; the exact
    // score is the same one-intersection containment as x49; the oracle
    // replays sketch, stop-shingle cap, candidate join, and both
    // divisions value-for-value.
    QueryDef(
      "x50_inclusion",
      (s, d) => {
        // per-snapshot ArtifactCache materialization, NOT a bare
        // .persist(): one localCheckpoint serves candidate generation
        // AND exact scoring, and Bench's between-rep retainOnly sweep
        // releases the blocks — the bare persist leaked one cached
        // per-doc frame per execution (r19 advisory), reclaimed only by
        // ContextCleaner/GC
        val perDoc = graft.io.ArtifactCache.getOrBuildFrame(
          s"incl-perdoc:documents:$d") {
          Dedup.minhashWithSets(inclusionCorpus(s, d), "id",
            "text", n = 3, numHashes = 12)
        }
        val pairs = inclusionCandidates(s, d, perDoc)
        Dedup.containmentFromSets(perDoc, pairs)
          .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= 0.9)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $inclusionCorpusSql,
              |tok AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
              |sh AS (
              |  SELECT id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              |  FROM (SELECT id, t, unnest(generate_series(1, len(t) - 2)) AS i
              |        FROM tok WHERE len(t) >= 3)),
              |dsh AS (SELECT DISTINCT id,
              |          CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
              |        FROM sh),
              |fdf AS (SELECT h, count(*) AS f FROM dsh GROUP BY 1),
              |kept AS (SELECT id, h FROM dsh JOIN fdf USING (h) WHERE f <= 64),
              |anch AS (
              |  SELECT id, h FROM (
              |    SELECT id, h, row_number() OVER (PARTITION BY id ORDER BY h) AS rn
              |    FROM dsh) WHERE rn <= 4),
              |cand AS (
              |  SELECT DISTINCT least(a.id, p.id) AS id_a,
              |                  greatest(a.id, p.id) AS id_b
              |  FROM anch a JOIN kept p ON a.h = p.h AND a.id <> p.id),
              |cnt AS (SELECT id, count(*) AS cnt FROM dsh GROUP BY id),
              |inter AS (
              |  SELECT c.id_a, c.id_b, count(*) AS inter
              |  FROM cand c
              |  JOIN dsh a ON a.id = c.id_a
              |  JOIN dsh b ON b.id = c.id_b AND b.h = a.h
              |  GROUP BY c.id_a, c.id_b)
              |SELECT i.id_a, i.id_b,
              |  CAST(i.inter AS DOUBLE) / CAST(ca.cnt AS DOUBLE) AS c_a_in_b,
              |  CAST(i.inter AS DOUBLE) / CAST(cb.cnt AS DOUBLE) AS c_b_in_a
              |FROM inter i
              |JOIN cnt ca ON ca.id = i.id_a
              |JOIN cnt cb ON cb.id = i.id_b
              |WHERE greatest(CAST(i.inter AS DOUBLE) / CAST(ca.cnt AS DOUBLE),
              |               CAST(i.inter AS DOUBLE) / CAST(cb.cnt AS DOUBLE)) >= 0.9
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    QueryDef(
      "x8_simhash",
      (s, d) => {
        val sh = Dedup.simhash32(dupCorpus(s, d), "id", "text")
        Dedup.simhashPairs(sh, maxDist = 3).orderBy("id_a", "id_b")
      },
      Some(s"""WITH $dupCorpusSql,
              |tok AS (SELECT id, unnest(string_split(text, ' ')) AS tok FROM corpus),
              |bits AS (
              |  SELECT id, j,
              |    CAST(SUM(CASE WHEN substr(md5(tok), j + 1, 1)
              |          IN ('8','9','a','b','c','d','e','f')
              |        THEN 1 ELSE -1 END) AS BIGINT) AS votes
              |  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) js
              |  GROUP BY id, j),
              |shh AS (
              |  SELECT id,
              |    CAST(SUM(CASE WHEN votes > 0
              |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bits GROUP BY id)
              |SELECT a.id AS id_a, b.id AS id_b,
              |       bit_count(xor(a.simhash, b.simhash)) AS hamming
              |FROM shh a JOIN shh b ON a.id < b.id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X34 — wide-radius SimHash near-dup: 60-bit hash (2 bits per md5
    // nibble) at hamming radius 5, where a 32-bit hash's pigeonhole
    // slices would be 5-6 bits (unselective); 60 bits keep 10-bit
    // slices, so candidates still come from a selective equi-join. The
    // oracle computes the identical hash in SQL and verifies the pair
    // set by quadratic scan (fine at oracle scale; the Spark side never
    // does that).
    QueryDef(
      "x34_simhash60",
      (s, d) => {
        val sh = Dedup.simhash60(dupCorpus(s, d), "id", "text")
        Dedup.simhashPairs(sh, maxDist = 5, hashBits = 60)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $dupCorpusSql,
              |tok AS (SELECT id, unnest(string_split(text, ' ')) AS tok FROM corpus),
              |bits AS (
              |  SELECT id, j,
              |    CAST(SUM(CASE WHEN
              |        ((strpos('0123456789abcdef',
              |            substr(md5(tok), (j // 2) + 1, 1)) - 1)
              |          >> (3 - (j % 2))) & 1 = 1
              |      THEN 1 ELSE -1 END) AS BIGINT) AS votes
              |  FROM tok, (SELECT unnest(generate_series(0, 59)) AS j) js
              |  GROUP BY id, j),
              |shh AS (
              |  SELECT id,
              |    CAST(SUM(CASE WHEN votes > 0
              |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bits GROUP BY id)
              |SELECT a.id AS id_a, b.id AS id_b,
              |       bit_count(xor(a.simhash, b.simhash)) AS hamming
              |FROM shh a JOIN shh b ON a.id < b.id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 5
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X19 — dedup cluster collapse: connected components over the LSH
    // candidate pairs, labelling every pair-participating doc with the
    // min reachable id (= the canonical survivor). The 3-generation
    // corpus makes transitivity real: every doc_id % 100 == 0 has BOTH a
    // mutated +10000 copy and an exact +20000 copy, which must collapse
    // into ONE cluster even when the two copies never paired directly.
    // Oracle = recursive-CTE transitive closure over the same candidate
    // edges.
    QueryDef(
      "x19_dedup_clusters",
      (s, d) => corpus3Clusters(s, d).orderBy("id"),
      Some(s"""$cluster3Prelude
              |SELECT u AS id, least(u, CAST(min(v) AS BIGINT)) AS cluster_id
              |FROM reach GROUP BY u ORDER BY id""".stripMargin),
    ),

    // X20 — dedup survivor selection: apply the X19 clusters to the
    // corpus — keep docs in no near-dup pair plus each cluster's head
    // (min id). The operational end of the dedup pipeline: this id list
    // is what a training run would actually read.
    QueryDef(
      "x20_dedup_survivors",
      (s, d) => {
        // no broadcast hint: the cluster map's regime (collected local
        // relation vs distributed frame) decides join strategy by stats
        val clusters = corpus3Clusters(s, d)
        corpus3(s, d).join(clusters, Seq("id"), "left")
          .filter(col("cluster_id").isNull || col("cluster_id") === col("id"))
          .select(col("id"))
          .orderBy("id")
      },
      Some(s"""$cluster3Prelude,
              |clusters AS (
              |  SELECT u AS id, least(u, CAST(min(v) AS BIGINT)) AS cluster_id
              |  FROM reach GROUP BY u)
              |SELECT c.id FROM corpus c LEFT JOIN clusters cl USING (id)
              |WHERE cl.cluster_id IS NULL OR cl.cluster_id = c.id
              |ORDER BY id""".stripMargin),
    ),

    // X36 — quality-weighted survivor selection: the production form of
    // x20. A training pipeline keeps the BEST document of each near-dup
    // cluster (highest x3 quality score, id as the deterministic
    // tie-break for byte-identical copies), not the lowest id. Reuses
    // the same session dedup index (corpus3Clusters ArtifactCache) and
    // the x3 quality expression, whose cross-engine bit-parity is what
    // lets the ROW_NUMBER pick and the final hash compare agree.
    // Shape at scale: quality is row-local, the cluster map joins by
    // stats-decided strategy (see x20), and the per-cluster argmax is a
    // window over cluster_id — partitioned by a key with corpus/cluster
    // cardinality, never a single-partition sort.
    QueryDef(
      "x36_quality_survivors",
      (s, d) => {
        val clusters = corpus3Clusters(s, d)
        val quality = corpus3(s, d)
          .select(col("id"), TA.qualityScore(col("text")).as("quality"))
        // one pass, not a union of isNull/isNotNull branches (which
        // would execute the scoring scan + cluster join twice): an
        // unpaired doc is its own singleton group under
        // coalesce(cluster_id, id) — keys can never collide with a real
        // cluster_id, which is always some PAIRED doc's id
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(coalesce(col("cluster_id"), col("id")))
          .orderBy(desc("quality"), col("id"))
        quality.join(clusters, Seq("id"), "left")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("id"), col("quality"))
          .orderBy("id")
      },
      Some(s"""$cluster3Prelude,
              |clusters AS (
              |  SELECT u AS id, least(u, CAST(min(v) AS BIGINT)) AS cluster_id
              |  FROM reach GROUP BY u),
              |q AS (
              |  SELECT id, $qualitySql AS quality
              |  FROM (
              |    ${qualityStatsSql("id", "corpus")})),
              |j AS (
              |  SELECT q.id, q.quality, cl.cluster_id
              |  FROM q LEFT JOIN clusters cl USING (id)),
              |best AS (
              |  SELECT id, quality FROM (
              |    SELECT id, quality,
              |      ROW_NUMBER() OVER (PARTITION BY cluster_id
              |                         ORDER BY quality DESC, id) AS rk
              |    FROM j WHERE cluster_id IS NOT NULL)
              |  WHERE rk = 1)
              |SELECT id, quality FROM j WHERE cluster_id IS NULL
              |UNION ALL
              |SELECT id, quality FROM best
              |ORDER BY id""".stripMargin),
    ),

    // X21 — TF-IDF term ranking: top-3 highest-scoring terms per doc.
    // idf is the log-free rational form score = tf·N/df — rank-equivalent
    // to tf·(N/df) with exact cross-engine float parity (ln() is not
    // correctly-rounded and may differ between libm builds; integer
    // products + one IEEE division are bit-identical).
    //
    // Shape: tf is ROW-LOCAL (native [[graft.functions.TermStats]], no
    // tokens shuffle), and the (df, N) table is a CORPUS-SNAPSHOT
    // ARTIFACT (ArtifactCache): document frequencies are the classic
    // precomputed IR statistic — an IDF table is built once per corpus
    // refresh and served for every scoring pass, not recomputed per
    // query. First use pays one combinable groupBy over per-doc distinct
    // terms (vocabulary-sized result) plus a count; after that the
    // vocabulary joins back as a local-relation broadcast build and the
    // only corpus-sized exchange left is the per-doc rank window. (The
    // previous window-over-term spelling paid a full (doc, term) groupBy
    // exchange plus a corpus-wide sort by term — measured 1.18 s → 0.92 s
    // at sf0.1; the cached-df spelling drops the second TermStats pass
    // that the build job re-ran per execution.)
    //
    // The 100 TB regime is WIRED, not described (r6 verdict item 2):
    // Regime.serveWith measures the vocabulary, and past the bound
    // df LIVES AS A TABLE — the persisted frame's handle is the
    // cached artifact, so the vocabulary groupBy runs once per corpus
    // snapshot and every scoring pass joins it by term as a plain
    // shuffle join off the materialized blocks (no broadcast hint; a
    // billion-term vocabulary must never transit the driver).
    // RegimeSpec forces the bound down and pins hash-parity of the two
    // spellings against the same oracle fixture.
    QueryDef(
      "x21_tfidf_topk",
      (s, d) => {
        val (nDocs, dfreq) = dfreqArtifact(s, d)
        // the shared postings projection (tf is row-local TermStats
        // output either way; dl is unused here)
        val tf = docTermTf(s, d).select("doc_id", "term", "tf")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        tf.join(dfreq, Seq("term"))
          .withColumn("score",
            (col("tf") * lit(nDocs)).cast("double") / col("df").cast("double"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select("doc_id", "rnk", "term", "tf", "df", "score")
          .orderBy("doc_id", "rnk")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (
             |  SELECT doc_id, term, tf, df,
             |    CAST(tf * n AS DOUBLE) / CAST(df AS DOUBLE) AS score
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
             |r AS (
             |  SELECT doc_id, term, tf, df, score,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |                       ORDER BY score DESC, term ASC) AS rnk
             |  FROM scored)
             |SELECT doc_id, rnk, term, CAST(tf AS BIGINT) AS tf,
             |       CAST(df AS BIGINT) AS df, score
             |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    ),

    // X47 — BM25 ranked retrieval (Robertson/Spärck Jones; the standard
    // retrieval scorer an LLM data pipeline runs against a query set for
    // quality-filtering / targeted selection), top-10 documents per
    // query as "more-like-this": each query is the distinct term set of
    // a deterministic probe document (doc_id % 200 = 7 — scales with the
    // corpus, 3 queries at sf0.01, 25 at sf0.1).
    //
    // Cross-engine bit identity is engineered the x21/x41 way:
    //   - IDF uses the RATIONAL Robertson–Spärck Jones odds
    //     (N - df + 0.5)/(df + 0.5) + 1 WITHOUT the ln() wrapper — ln is
    //     not correctly-rounded and differs across libm builds, while
    //     IEEE +,-,×,÷ are exactly specified, so identically-shaped
    //     expressions produce identical doubles in both engines (the
    //     log is monotone, so per-TERM ordering is unchanged; the
    //     summed variant is pinned as this operator's contract);
    //   - the per-(query,doc) SUM over terms would be order-dependent
    //     in float, so each per-term score is quantized to a long at
    //     2^20 (floor(s·1048576 + 0.5) — multiply/add/floor all IEEE-
    //     determined) and the sum runs in exact integer arithmetic
    //     (Parity.moneySum's discipline at a power-of-two scale); the
    //     final score divides the long by 1048576.0 — exact below 2^53
    //     and a single correctly-rounded cast above it;
    //   - avgdl divides two exact integer artifacts (corpus token total
    //     / doc count) — one correctly-rounded division in both engines.
    //
    // Shape at scale: tf and dl are ROW-LOCAL (TermStats: tf from
    // `counts`, dl from `ntok` — no token shuffle, no per-doc groupBy);
    // the query-term set is broadcast (a query set is small by
    // definition); df is a window count over the query-restricted
    // postings slice and the avgdl integers ride one two-row totals
    // action (r22: was the full df-vocabulary artifact build + regime
    // probe, read only for the query's terms and one scalar) — ZERO
    // vocabulary-wide passes on this path at any scale. The semi-join
    // filters FIRST on the broadcast query terms (the selective side),
    // so the df window and the single combinable (query_id, doc_id)
    // exchange see only matching rows. Per-query top-k is a window
    // partitioned by query_id — parallelism is bounded by the query
    // count, which is the natural unit of retrieval work.
    QueryDef(
      "x47_bm25_topk",
      (s, d) =>
        bm25Ranked(s, d, 10)
          .select(col("query_id"), col("rnk"), col("doc_id"),
            (col("score_q") / lit(1048576.0)).as("score"))
          .orderBy("query_id", "rnk"),
      Some("""WITH tok0 AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM tok0 GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             |       FROM tok0 GROUP BY 1),
             |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
             |ntok AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok0),
             |a AS (SELECT CAST(n_tok AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
             |      FROM n, ntok),
             |qterm AS (SELECT DISTINCT doc_id AS query_id, term FROM tok0
             |          WHERE doc_id % 200 = 7),
             |scored AS (
             |  SELECT q.query_id, t.doc_id,
             |    CAST(SUM(CAST(floor(
             |      ((CAST(n.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
             |         (CAST(f.df AS DOUBLE) + 0.5) + 1.0) *
             |      ((CAST(t.tf AS DOUBLE) * 2.2) /
             |         (CAST(t.tf AS DOUBLE) + 1.2 *
             |           (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / a.avgdl)))) *
             |      1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_q
             |  FROM qterm q
             |  JOIN tf t USING (term)
             |  JOIN dl d ON d.doc_id = t.doc_id
             |  JOIN dfreq f ON f.term = t.term
             |  CROSS JOIN n CROSS JOIN a
             |  GROUP BY 1, 2),
             |r AS (
             |  SELECT query_id, doc_id, score_q,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |                       ORDER BY score_q DESC, doc_id ASC) AS rnk
             |  FROM scored)
             |SELECT query_id, rnk, doc_id, score_q / 1048576.0 AS score
             |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X48 — RECIPROCAL RANK FUSION (Cormack, Clarke & Büttcher 2009 —
    // the standard zero-training way to combine retrieval runs, and the
    // "hybrid retrieval" shape an LLM data pipeline uses to merge a
    // lexical ranker with a second signal): fuse x47's BM25 run with a
    // raw term-frequency-overlap run (Σ tf_d(t) over t ∈ q∩d — the
    // classic no-idf matching baseline; deliberately a DIFFERENT ranking
    // of the same candidate space), each cut at top-20, by
    //   RRF(d) = Σ_runs 1/(60 + rank_run(d))
    // over the runs that ranked d, serving the fused top-10 per query.
    //
    // Bit identity: each run's ranks are already deterministic (integer
    // scores + doc_id tie-breaks), and the 1/(60+r) contribution is
    // quantized to floor(2^30 / (60+r)) — one correctly-rounded IEEE
    // division + floor, identically shaped in both engines — so the
    // fused score is an exact INTEGER sum; the served score divides by
    // 2^30 once. k=60 is the published constant.
    //
    // Shape at scale: both runs share the row-local docTermTf projection
    // and the broadcast query-term set; fusion itself touches only the
    // ≤ 2·20 ranked rows per query — a union + one combinable groupBy on
    // (query_id, doc_id), parallelism bounded by query count exactly
    // like the runs themselves.
    QueryDef(
      "x48_rrf_fusion",
      (s, d) => {
        val k = 20
        def contrib(r: org.apache.spark.sql.Column) =
          floor(lit(1073741824.0) / (lit(60.0) + r.cast("double"))).cast("long")
        // BOTH runs' scores from ONE pass over the postings⋈queries join
        // (bm25Scored: the matched row set is identical, only the
        // aggregate differs, and the scoring expressions have exactly
        // one spelling shared with x47). Served from the per-snapshot
        // cached materialization — see bm25ScoredFrame for why this is
        // an artifact, not a per-execution checkpoint.
        val scored = bm25ScoredFrame(s, d)
        def run(scoreCol: String) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("query_id").orderBy(desc(scoreCol), asc("doc_id"))
          scored.withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= k)
            .select(col("query_id"), col("doc_id"), contrib(col("rnk")).as("c"))
        }
        val wf = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(desc("rrf_q"), asc("doc_id"))
        run("score_q").unionByName(run("ov_q"))
          .groupBy("query_id", "doc_id")
          .agg(sum(col("c")).as("rrf_q"))
          .withColumn("rnk", row_number().over(wf))
          .filter(col("rnk") <= 10)
          .select(col("query_id"), col("rnk"), col("doc_id"),
            (col("rrf_q") / lit(1073741824.0)).as("rrf_score"))
          .orderBy("query_id", "rnk")
      },
      Some("""WITH tok0 AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             |       FROM tok0 GROUP BY 1, 2),
             |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             |       FROM tok0 GROUP BY 1),
             |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
             |ntok AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok0),
             |a AS (SELECT CAST(n_tok AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
             |      FROM n, ntok),
             |qterm AS (SELECT DISTINCT doc_id AS query_id, term FROM tok0
             |          WHERE doc_id % 200 = 7),
             |bm_scored AS (
             |  SELECT q.query_id, t.doc_id,
             |    CAST(SUM(CAST(floor(
             |      ((CAST(n.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5) /
             |         (CAST(f.df AS DOUBLE) + 0.5) + 1.0) *
             |      ((CAST(t.tf AS DOUBLE) * 2.2) /
             |         (CAST(t.tf AS DOUBLE) + 1.2 *
             |           (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / a.avgdl)))) *
             |      1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_q
             |  FROM qterm q
             |  JOIN tf t USING (term)
             |  JOIN dl d ON d.doc_id = t.doc_id
             |  JOIN dfreq f ON f.term = t.term
             |  CROSS JOIN n CROSS JOIN a
             |  GROUP BY 1, 2),
             |bm_run AS (
             |  SELECT query_id, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |                       ORDER BY score_q DESC, doc_id ASC) AS rnk
             |  FROM bm_scored),
             |ov_scored AS (
             |  SELECT q.query_id, t.doc_id, CAST(SUM(t.tf) AS BIGINT) AS ov_q
             |  FROM qterm q JOIN tf t USING (term)
             |  GROUP BY 1, 2),
             |ov_run AS (
             |  SELECT query_id, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |                       ORDER BY ov_q DESC, doc_id ASC) AS rnk
             |  FROM ov_scored),
             |contrib AS (
             |  SELECT query_id, doc_id,
             |    CAST(floor(1073741824.0 / (60.0 + CAST(rnk AS DOUBLE))) AS BIGINT) AS c
             |  FROM bm_run WHERE rnk <= 20
             |  UNION ALL
             |  SELECT query_id, doc_id,
             |    CAST(floor(1073741824.0 / (60.0 + CAST(rnk AS DOUBLE))) AS BIGINT) AS c
             |  FROM ov_run WHERE rnk <= 20),
             |fused AS (
             |  SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_q
             |  FROM contrib GROUP BY 1, 2),
             |fr AS (
             |  SELECT query_id, doc_id, rrf_q,
             |    ROW_NUMBER() OVER (PARTITION BY query_id
             |                       ORDER BY rrf_q DESC, doc_id ASC) AS rnk
             |  FROM fused)
             |SELECT query_id, rnk, doc_id, rrf_q / 1073741824.0 AS rrf_score
             |FROM fr WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X41 — unigram log-likelihood quality signal (the CCNet-family
    // "perplexity under a corpus LM" filter, with the LM reduced to the
    // unigram table so the whole statistic is SQL-expressible): each
    // document scores the average per-token negative log-probability
    // under the corpus's own unigram distribution — low-surprise docs
    // are templated/repetitive, high-surprise docs are noise, and the
    // middle band is what a curation pass keeps.
    //
    // Float parity is engineered by quantizing log2 to the INTEGER bit
    // length: ilog2(c) = length(bin(c)) - 1 is exact in both engines
    // (no ln(), which is not correctly-rounded and differs across libm
    // builds — the same dodge as x21's rational idf). nll2 =
    // ilog2(N_total) - bits/n_tokens is then one IEEE division + one
    // subtraction, bit-identical cross-engine.
    //
    // Shape: tf is row-local (native TermStats, no token shuffle); the
    // unigram table (term-hash → corpus count) is a corpus-snapshot
    // artifact exactly like x21's df table — Regime-measured,
    // broadcast-joined under the bound, vocabulary-as-table shuffle join
    // above it. The per-doc reduce is one combinable groupBy on doc_id.
    //
    // Exchange identity is the 60-BIT md5-prefix HASH of the term, never
    // the term string (x44's discipline): the vocab join/group keys are
    // fixed-width longs — at 100 TB the exchange carries 8-byte keys
    // instead of variable UTF-8, and hash joins/aggs compare longs
    // instead of strings. The DuckDB twin hashes identically
    // (CAST('0x'||substr(md5(term),1,15) AS BIGINT)), so group identity
    // is cross-engine exact; collisions are discounted by the same
    // gram-identity contract as x40/x44.
    QueryDef(
      "x41_unigram_nll",
      (s, d) => {
        // table AND scoring stream both ride the postings checkpoint:
        // one corpus tokenize per snapshot (was two per cold execution)
        val (totalTokens, unigrams) = corpusUnigramArtifact(s, d)
        val ilog2Total = 63 - java.lang.Long.numberOfLeadingZeros(totalTokens)
        corpusHashTf(s, d)
          .join(unigrams, Seq("h"))
          .groupBy("doc_id")
          .agg(
            sum(col("tf")).as("n_tokens"),
            sum(col("tf") * (length(bin(col("ctf"))) - 1)).as("bits"))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            col("bits").cast("long").as("bits"),
            (lit(ilog2Total.toDouble) -
              col("bits").cast("double") / col("n_tokens").cast("double")).as("nll2"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |        FROM documents)),
             |cnt AS (SELECT h, CAST(count(*) AS BIGINT) AS ctf FROM tok GROUP BY h),
             |tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS n FROM cnt),
             |doc AS (
             |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |         CAST(sum(length(bin(c.ctf)) - 1) AS BIGINT) AS bits
             |  FROM tok t JOIN cnt c USING (h) GROUP BY t.doc_id)
             |SELECT doc_id, n_tokens, bits,
             |  (length(bin((SELECT n FROM tot))) - 1) -
             |    CAST(bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS nll2
             |FROM doc ORDER BY doc_id""".stripMargin),
    ),

    // X43 — DSIR-style importance selection (Xie et al., "Data Selection
    // for Language Models via Importance Resampling"): rank the corpus
    // by how much more likely each document is under a TARGET domain's
    // unigram distribution than under the corpus's own — importance
    // log-weight ≈ Σ_tok [log p_target - log p_corpus], the hashed-ngram
    // DSIR estimator with n=1 — and keep the top-50. The target sample
    // is the English slice (lang='en'); add-one smoothing covers tokens
    // the target never saw.
    //
    // Float parity is x41's integer-bit-length dodge: log2 quantized to
    // ilog2 via bin-string length is exact in both engines, so the score
    // is two IEEE divisions + integer constants — bit-identical
    // cross-engine, and the top-50 ORDER therefore agrees exactly.
    //
    // 100 TB shape: token tf is row-local (native TermStats); both
    // unigram tables are corpus-snapshot artifacts served through the
    // same Regime dispatch as x21/x41 (broadcast under the measured
    // bound, vocabulary-as-table shuffle join above it); the per-doc
    // reduce is one combinable groupBy; top-50 is TakeOrderedAndProject
    // (per-partition heads, never a global sort materialization).
    QueryDef(
      "x43_dsir_select",
      (s, d) => {
        // exchange identity: 60-bit term hash, x41's discipline — the tf
        // frame and BOTH unigram tables key on fixed-width longs; the
        // DuckDB twin hashes identically so group identity is exact
        // the TARGET slice keeps its own filtered tokenize: deriving it
        // from the postings checkpoint would shuffle the full postings by
        // doc_id to apply the lang filter, while the filtered scan is one
        // pushed-down predicate + row-local TermStats — cheaper at any SF.
        // The two artifact builds have INDEPENDENT inputs (pushed-down
        // filtered scan vs the postings checkpoint), so they overlap
        // (guide §2.6): the target build's jobs back-fill the corpus
        // build's stragglers instead of serializing after them.
        val ((nTarget, targetUg), (nCorpus, corpusUg)) =
          graft.util.SideAction.alongside(s)(
            unigramArtifact(s, s"unigram-tf-target-en:documents:$d",
              Tables.documents(s, d).filter(col("lang") === "en")))(
            corpusUnigramArtifact(s, d))
        def ilog2(n: Long) = 63 - java.lang.Long.numberOfLeadingZeros(n)
        val shift = (ilog2(nCorpus) - ilog2(nTarget)).toDouble
        corpusHashTf(s, d)
          .join(corpusUg, Seq("h"))
          .join(targetUg.withColumnRenamed("ctf", "ctf_t"), Seq("h"), "left")
          .groupBy("doc_id")
          .agg(
            sum(col("tf")).as("n_tokens"),
            sum(col("tf") *
              (length(bin(coalesce(col("ctf_t"), lit(0L)) + 1)) - 1)).as("bits_t"),
            sum(col("tf") * (length(bin(col("ctf"))) - 1)).as("bits_c"))
          .select(col("doc_id"),
            col("n_tokens").cast("long").as("n_tokens"),
            (col("bits_t").cast("double") / col("n_tokens").cast("double") -
              col("bits_c").cast("double") / col("n_tokens").cast("double") +
              lit(shift)).as("score"))
          .orderBy(desc("score"), asc("doc_id"))
          .limit(50)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h
             |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |        FROM documents)),
             |tcorp AS (SELECT h, CAST(count(*) AS BIGINT) AS cc FROM tok GROUP BY h),
             |ttgt AS (
             |  SELECT h, CAST(count(*) AS BIGINT) AS ct
             |  FROM tok JOIN documents USING (doc_id)
             |  WHERE lang = 'en' GROUP BY h),
             |ntot AS (SELECT CAST(sum(cc) AS BIGINT) AS n FROM tcorp),
             |nttot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM ttgt),
             |doc AS (
             |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(sum(length(bin(COALESCE(g.ct, 0) + 1)) - 1) AS BIGINT) AS bits_t,
             |    CAST(sum(length(bin(c.cc)) - 1) AS BIGINT) AS bits_c
             |  FROM tok t JOIN tcorp c USING (h) LEFT JOIN ttgt g USING (h)
             |  GROUP BY t.doc_id)
             |SELECT doc_id, n_tokens,
             |  CAST(bits_t AS DOUBLE) / CAST(n_tokens AS DOUBLE) -
             |  CAST(bits_c AS DOUBLE) / CAST(n_tokens AS DOUBLE) +
             |  ((length(bin((SELECT n FROM ntot))) - 1) -
             |   (length(bin((SELECT n FROM nttot))) - 1)) AS score
             |FROM doc ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin),
    ),

    // X45 — bigram conditional surprisal (the next rung of the x41
    // CCNet-family quality ladder: marginal unigram surprise → CONTEXT-
    // conditioned surprise): each document scores the average
    // −log₂ P(wᵢ | wᵢ₋₁) under the corpus's own bigram counts, with the
    // conditional quantized exactly as x41 quantizes the marginal —
    // ilog2(c(prefix)) − ilog2(c(bigram)), both integer bit lengths, so
    // the score is integer sums + one IEEE division, bit-identical
    // cross-engine (c(ab) ≤ c(a) keeps every contribution ≥ 0; the
    // prefix mass is approximated by the unigram count, identically on
    // both sides). Low conditional surprise = templated/repetitive
    // continuations — a sharper dedup-adjacent signal than x41's
    // marginal, which a rare-word-laden template can fool.
    //
    // 100 TB shape: per-doc bigram tf is row-local (the same native
    // TermStats loop over a row-local bigram array — no token shuffle);
    // the bigram and unigram tables are corpus-snapshot artifacts
    // (Regime-dispatched; the UNIGRAM table is the SAME artifact x41/x43
    // serve — one build per snapshot feeds three operators); the per-doc
    // reduce is one combinable groupBy. Docs under two tokens carry no
    // bigram evidence and drop from the report (deterministically on
    // both engines).
    QueryDef(
      "x45_bigram_nll",
      (s, d) => {
        // Exchange identity is the 60-bit md5-prefix hash PAIR (bigram,
        // prefix word), never the gram strings (x44's discipline): the
        // exchanges carry fixed-width longs, the DuckDB twin hashes
        // identically, and collisions are discounted by the standing
        // gram-identity contract (x40/x44). Both corpus tables AND the
        // scoring stream ride the shared gramTf checkpoint — ONE corpus
        // tokenize per snapshot however the quality ladder is traversed,
        // and a warm serve tokenizes nothing (r19: this replaced a
        // three-way cached/uncached/combined branch with the same
        // materialization x51 shares; unigram-tf is still x41/x43's
        // artifact — same key, value-identical whichever consumer
        // builds it first, pinned by InterpNllSpec).
        val g = gramTf(s, d)
        val (_, unigrams) = unigramArtifactFrom(s, s"unigram-tf:documents:$d",
          g.filter(col("tag") === 0).select("doc_id", "h", "tf"))
        val (_, bigrams) = unigramArtifactFrom(s, s"bigram-tf:documents:$d",
          g.filter(col("tag") === 1).select("doc_id", "h", "tf"))
        g.filter(col("tag") === 1).select("doc_id", "h", "hp", "tf")
          .join(bigrams.withColumnRenamed("ctf", "cb"), Seq("h"))
          .join(unigrams.select(col("h").as("hp"), col("ctf").as("cu")),
            Seq("hp"))
          .groupBy("doc_id")
          .agg(
            sum(col("tf")).as("n_bigrams"),
            sum(col("tf") * ((length(bin(col("cu"))) - 1) -
              (length(bin(col("cb"))) - 1))).as("bits"))
          .select(col("doc_id"),
            col("n_bigrams").cast("long").as("n_bigrams"),
            col("bits").cast("long").as("bits"),
            (col("bits").cast("double") /
              col("n_bigrams").cast("double")).as("nll2"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |big AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15) AS BIGINT) AS h,
             |    CAST('0x' || substr(md5(t[i]), 1, 15) AS BIGINT) AS hp
             |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM tok WHERE len(t) >= 2)),
             |cbig AS (SELECT h, CAST(count(*) AS BIGINT) AS cb
             |         FROM big GROUP BY h),
             |cuni AS (SELECT CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hp,
             |                CAST(count(*) AS BIGINT) AS cu
             |         FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
             |doc AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum((length(bin(u.cu)) - 1) -
             |             (length(bin(c.cb)) - 1)) AS BIGINT) AS bits
             |  FROM big b
             |  JOIN cbig c USING (h)
             |  JOIN cuni u USING (hp)
             |  GROUP BY b.doc_id)
             |SELECT doc_id, n_bigrams, bits,
             |  CAST(bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS nll2
             |FROM doc ORDER BY doc_id""".stripMargin),
    ),

    // X51 — Jelinek-Mercer INTERPOLATED bigram surprisal (the published
    // next rung of the x41→x45 CCNet-family quality ladder: a raw
    // bigram LM overfits sparse counts, so production quality filters
    // smooth it against the unigram marginal):
    //   P(wᵢ | wᵢ₋₁) = ½·c(ab)/c(a) + ½·ctf(b)/N
    // with fixed λ = ½, which keeps the whole statistic RATIONAL:
    //   P = (c(ab)·N + c(a)·ctf(b)) / (2·c(a)·N)
    // — exact integer numerator and denominator from the two existing
    // corpus-snapshot gram artifacts. −log₂ P is then quantized to the
    // integer bit-length difference ilog2(den) − ilog2(num) (x41/x45's
    // libm-free discipline: length(bin(·))−1 is exact in both engines),
    // so the per-doc score is integer sums + one IEEE division —
    // bit-identical cross-engine. c(ab) ≤ c(a) and ctf(b) ≤ N keep every
    // contribution ≥ 0.
    //
    // 100 TB shape: ZERO new artifact builds — the bigram table is x45's
    // cached artifact and the unigram table x41/x43/x47's; the scoring
    // stream is one row-local TermStats pass (bigram, prefix, suffix
    // hashes all computed in-row; fixed-width long join keys); the
    // per-doc reduce is one combinable groupBy. The integer products sit
    // within int64 while c(a)·N < 2⁶³ — a corpus beyond that rescales N
    // (both engines identically) before this rung matters.
    QueryDef(
      "x51_interp_nll",
      (s, d) => {
        // every input rides the shared gramTf checkpoint (see x45): the
        // unigram and bigram tables are tag-slice groupBys over its
        // blocks, the scoring stream is its tag-1 slice, and the token
        // grand total is the unigram table's — one corpus tokenize per
        // snapshot, zero on a warm serve
        val g = gramTf(s, d)
        val (nTok, unigrams) = unigramArtifactFrom(s, s"unigram-tf:documents:$d",
          g.filter(col("tag") === 0).select("doc_id", "h", "tf"))
        val (_, bigrams) = unigramArtifactFrom(s, s"bigram-tf:documents:$d",
          g.filter(col("tag") === 1).select("doc_id", "h", "tf"))
        g.filter(col("tag") === 1).select("doc_id", "h", "hp", "hs", "tf")
          .join(bigrams.select(col("h"), col("ctf").as("cb")), Seq("h"))
          .join(unigrams.select(col("h").as("hp"), col("ctf").as("ca")), Seq("hp"))
          .join(unigrams.select(col("h").as("hs"), col("ctf").as("cs")), Seq("hs"))
          .groupBy("doc_id")
          .agg(
            sum(col("tf")).as("n_bigrams"),
            sum(col("tf") *
              ((length(bin(lit(2L) * col("ca") * lit(nTok))) - 1) -
                (length(bin(col("cb") * lit(nTok) + col("ca") * col("cs"))) - 1)))
              .as("bits"))
          .select(col("doc_id"),
            col("n_bigrams").cast("long").as("n_bigrams"),
            col("bits").cast("long").as("bits"),
            (col("bits").cast("double") /
              col("n_bigrams").cast("double")).as("nll2"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |big AS (
             |  SELECT doc_id,
             |    CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15) AS BIGINT) AS h,
             |    CAST('0x' || substr(md5(t[i]), 1, 15) AS BIGINT) AS hp,
             |    CAST('0x' || substr(md5(t[i+1]), 1, 15) AS BIGINT) AS hs
             |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM tok WHERE len(t) >= 2)),
             |cbig AS (SELECT h, CAST(count(*) AS BIGINT) AS cb
             |         FROM big GROUP BY h),
             |cuni AS (SELECT CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS hu,
             |                CAST(count(*) AS BIGINT) AS cu
             |         FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
             |ntot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM cuni),
             |doc AS (
             |  SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(
             |      (length(bin(2 * ca.cu * (SELECT n FROM ntot))) - 1) -
             |      (length(bin(c.cb * (SELECT n FROM ntot) + ca.cu * cs.cu)) - 1)
             |    ) AS BIGINT) AS bits
             |  FROM big b
             |  JOIN cbig c USING (h)
             |  JOIN cuni ca ON ca.hu = b.hp
             |  JOIN cuni cs ON cs.hu = b.hs
             |  GROUP BY b.doc_id)
             |SELECT doc_id, n_bigrams, bits,
             |  CAST(bits AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS nll2
             |FROM doc ORDER BY doc_id""".stripMargin),
    ),

    // X30 — INCREMENTAL dedup: the mutated every-20th-doc batch arrives
    // against the base corpus's precomputed band index; candidates are
    // batch×index + batch×batch only — the continuous-ingestion shape
    // (equivalent to full-corpus LSH restricted to pairs touching the
    // batch, which is exactly what the oracle computes: batch ids are
    // ≥ 10000, so "max id ≥ 10000" selects pairs with a batch member).
    QueryDef(
      "x30_incremental_dedup",
      (s, d) => {
        val corpus = Tables.documents(s, d)
          .select(col("doc_id").as("id"), col("text"))
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 10000).as("id"),
            concat(col("text"), lit(" extra extra token")).as("text"))
        // NOT cached as a local relation (A/B'd this round: a 20k-row
        // driver-held index costs more in per-construction plan encoding
        // than recomputing the bands from the scan — ArtifactCache is for
        // kilobyte-scale artifacts, and the band index isn't one)
        val idxBands = Dedup.lshBands(Dedup.minhashSignature(corpus, "id", "text"), 12, 3)
        val newBands = Dedup.lshBands(Dedup.minhashSignature(batch, "id", "text"), 12, 3)
        Dedup.incrementalCandidates(newBands, idxBands)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $minhashCtes
              |SELECT id_a, id_b FROM cand
              |WHERE id_b >= 10000
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X38 — dedup-on-ARRIVAL served as a BACKFILL: three arrival batches
    // (originals, then mutated +10000 copies, then +25000-stride exact
    // copies — the x19/x20 3-generation corpus) resolve through
    // Dedup.arrivalReplay, the closed form of folding Dedup.arrivalStep
    // (DocStream's per-micro-batch operator) over the batches. The
    // per-step fold paid ~10 sequential job barriers (profiled r12:
    // 3 lazy-checkpoint materializations x 3 steps + final, each a fixed
    // ~0.2 s scheduler round-trip, with NO single hotspot) and re-scans
    // the corpus per batch; the replay scans ONCE and resolves the
    // rounds as set algebra over one candidate frame — the DuckDB oracle
    // spells the same algebra, and DedupSpec pins replay == fold.
    QueryDef(
      "x38_ingest_dedup",
      (s, d) => {
        val batchOf = (id: Column) =>
          when(id < 10000, 0).when(id < 20000, 1).otherwise(2)
        Dedup.arrivalReplay(corpus3(s, d), "id", "text", batchOf, 3)
          .select(batchOf(col("id")).cast("int").as("batch"), col("id"))
          .orderBy("id")
      },
      Some(s"""WITH ${minhashCtesFor(corpus3Sql)},
              |d0 AS (SELECT DISTINCT id_b AS id FROM cand WHERE id_b < 10000),
              |r0 AS (SELECT id FROM corpus WHERE id < 10000
              |       AND id NOT IN (SELECT id FROM d0)),
              |d1 AS (SELECT DISTINCT id_b AS id FROM cand
              |       WHERE id_b >= 10000 AND id_b < 20000
              |         AND (id_a IN (SELECT id FROM r0) OR id_a >= 10000)),
              |r1 AS (SELECT id FROM r0 UNION ALL
              |       SELECT id FROM corpus
              |       WHERE id >= 10000 AND id < 20000
              |         AND id NOT IN (SELECT id FROM d1)),
              |d2 AS (SELECT DISTINCT id_b AS id FROM cand
              |       WHERE id_b >= 20000
              |         AND (id_a IN (SELECT id FROM r1) OR id_a >= 20000)),
              |r2 AS (SELECT id FROM r1 UNION ALL
              |       SELECT id FROM corpus WHERE id >= 20000
              |         AND id NOT IN (SELECT id FROM d2))
              |SELECT CAST(CASE WHEN id < 10000 THEN 0
              |                 WHEN id < 20000 THEN 1
              |                 ELSE 2 END AS INT) AS batch, id
              |FROM r2 ORDER BY id""".stripMargin),
    ),

    // ------------------------------------------------------------------
    // Similarity search
    // ------------------------------------------------------------------
    QueryDef(
      "x9_cosine_topk",
      (s, d) => {
        val prep = Similarity.prepared(Tables.embeddings(s, d), "vec_id", "embedding")
        val queries = prep.filter(col("id") < 8)
        Similarity.bruteForceTopK(queries, prep, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH prep AS (
              |  SELECT vec_id AS id,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
              |  FROM embeddings),
              |n AS (
              |  SELECT id, qv,
              |    sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
              |  FROM prep),
              |q AS (SELECT id AS query_id, qv AS q_qv, nrm AS q_nrm FROM n WHERE id < 8),
              |scored AS (
              |  SELECT query_id, n.id AS neighbor_id,
              |    CAST(${dotSql("q_qv", "n.qv")} AS DOUBLE) / (q_nrm * n.nrm) AS cosine
              |  FROM q, n WHERE n.id <> query_id),
              |r AS (
              |  SELECT query_id, neighbor_id, cosine,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |                       ORDER BY cosine DESC, neighbor_id) AS rnk
              |  FROM scored)
              |SELECT query_id, rnk, neighbor_id, cosine
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X15 — ANN top-k via the multiprobe hyperplane-LSH scale path
    // (Similarity.annTopK): corpus vectors bucket once, queries probe own
    // + hamming-1 buckets, exact cosine re-ranks candidates. The oracle
    // reproduces the SAME algorithm in SQL (shared integer plane
    // constants, ordered list_reduce summation for the projections, so
    // bucket bits — hence candidates — match bit-for-bit), making the
    // bucketed similarity-search path first-class oracle-verified rather
    // than recall-spec'd only.
    {
      val nPlanes = 4
      val dim = 64
      val wl = Similarity.planeInts(nPlanes, dim)
        .map(row => row.map(v => s"$v/1000.0").mkString("[", ", ", "]"))
      val projs = (0 until nPlanes).map { p =>
        s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, $dim)," +
          s" i -> (qv[i]/1000000.0) * w$p[i])), (s, v) -> s + v) AS proj$p"
      }.mkString(",\n    ")
      val bucketBits = (0 until nPlanes)
        .map(p => s"(CASE WHEN proj$p >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      val probeList = "bucket" +: (0 until nPlanes).map(p => s"xor(bucket, ${1L << p})")
      QueryDef(
        "x15_ann_topk",
        (s, d) => {
          val base = Tables.embeddings(s, d)
          // bounded query set (8 ids) → broadcast hint at the call site;
          // the operator itself stays shuffle-join for unbounded callers
          Similarity.annTopK(
            broadcast(base.filter(col("vec_id") < 8)), base, "vec_id", "embedding",
            k = 5, numPlanes = nPlanes, dim = dim)
            .withColumnRenamed("rank", "rnk")
            .orderBy("query_id", "rnk")
        },
        Some(s"""WITH w AS (SELECT ${wl.zipWithIndex.map { case (l, p) => s"$l AS w$p" }.mkString(", ")}),
                |prep AS (
                |  SELECT vec_id AS id,
                |    list_transform(embedding,
                |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
                |  FROM embeddings),
                |n AS (
                |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
                |  FROM prep),
                |pb AS (
                |  SELECT id, qv, nrm,
                |    $projs
                |  FROM n CROSS JOIN w),
                |bk AS (
                |  SELECT id, qv, nrm, CAST($bucketBits AS BIGINT) AS bucket
                |  FROM pb),
                |q AS (
                |  SELECT id AS query_id, qv AS q_qv, nrm AS q_nrm,
                |    unnest([${probeList.mkString(", ")}]) AS bucket
                |  FROM bk WHERE id < 8),
                |c AS (SELECT bucket, id AS neighbor_id, qv AS n_qv, nrm AS n_nrm FROM bk),
                |scored AS (
                |  SELECT query_id, neighbor_id,
                |    max(CAST(${dotSql("q_qv", "n_qv")} AS DOUBLE) / (q_nrm * n_nrm)) AS cosine
                |  FROM c JOIN q USING (bucket)
                |  WHERE neighbor_id <> query_id
                |  GROUP BY query_id, neighbor_id),
                |r AS (
                |  SELECT query_id, neighbor_id, cosine,
                |    ROW_NUMBER() OVER (PARTITION BY query_id
                |                       ORDER BY cosine DESC, neighbor_id) AS rnk
                |  FROM scored)
                |SELECT query_id, rnk, neighbor_id, cosine
                |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
      )
    },

    // X16 — ANN top-k via the IVF inverted-list scale path
    // (Similarity.ivfTopKIndexed): the coarse quantizer is TRAINED ONCE
    // per corpus snapshot (ArtifactCache — the index-amortization
    // contract every IVF deployment has; FAISS never retrains per query),
    // then every vector picks its nearest lists map-side and queries
    // probe their nProbe lists. Oracle reproduces the identical algorithm
    // (integer dots, same tie-breaks), so both ANN scale paths (LSH x15,
    // IVF x16) are oracle-verified, not just recall-spec'd.
    QueryDef(
      "x16_ivf_topk",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        // k-means-refined coarse quantizer (2 Lloyd's rounds over the
        // md5-sample init), trained once per corpus snapshot
        val cents = graft.io.ArtifactCache.getOrBuild(s"ivf-kmeans:16:2:$d")(
          Similarity.trainIvfKmeans(base, "vec_id", "embedding",
            nLists = 16, rounds = 2))
        // bounded query set → broadcast hint at the call site (see x15)
        Similarity.ivfTopKIndexed(
          broadcast(base.filter(col("vec_id") < 8)), base, "vec_id", "embedding",
          k = 5, centroids = cents, nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(s"""WITH prep AS (
              |  SELECT vec_id AS id,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
              |  FROM embeddings),
              |n AS (
              |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
              |  FROM prep),
              |${kmeansCentSql("n", nLists = 16, rounds = 2, dim = 64)},
              |ci AS (
              |  SELECT id, qv, nrm, list_id,
              |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
              |      CAST(${dotSql("qv", "c_qv")} AS DOUBLE) / (nrm * c_nrm) DESC,
              |      list_id) AS crank
              |  FROM n CROSS JOIN cent),
              |indexed AS (
              |  SELECT list_id, id AS neighbor_id, qv AS n_qv, nrm AS n_nrm
              |  FROM ci WHERE crank <= 1),
              |probing AS (
              |  SELECT list_id, id AS query_id, qv AS q_qv, nrm AS q_nrm
              |  FROM ci WHERE crank <= 4 AND id < 8),
              |scored AS (
              |  SELECT query_id, neighbor_id,
              |    max(CAST(${dotSql("q_qv", "n_qv")} AS DOUBLE) / (q_nrm * n_nrm)) AS cosine
              |  FROM indexed JOIN probing USING (list_id)
              |  WHERE neighbor_id <> query_id
              |  GROUP BY query_id, neighbor_id),
              |r AS (
              |  SELECT query_id, neighbor_id, cosine,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |                       ORDER BY cosine DESC, neighbor_id) AS rnk
              |  FROM scored)
              |SELECT query_id, rnk, neighbor_id, cosine
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X35 — SemDeDup (cluster-then-dedup-within-cluster, Abbas et al.
    // 2023): every vector assigns map-side to its nearest of the x16
    // coarse centroids (same ArtifactCache'd quantizer — the
    // index-amortization contract), pairs are compared ONLY within a
    // cluster, cosine >= 0.99 survives. The planted +10000 exact copies
    // can never split across clusters (identical vectors rank centroids
    // identically), so recall on true duplicates is exact; a
    // near-but-not-identical pair split across clusters is the published
    // algorithm's documented miss, and the oracle computes the identical
    // algorithm so both engines agree on it.
    QueryDef(
      "x35_semdedup",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val corpus = graft.util.Corpora.derived(base,
          col("vec_id"), col("embedding"),
          Seq((col("vec_id") % 25 === 0, col("vec_id") + 10000,
            col("embedding"))),
          "vec_id", "embedding", payloadType = "array<float>")
        val cents = graft.io.ArtifactCache.getOrBuild(s"ivf-kmeans:16:2:$d")(
          Similarity.trainIvfKmeans(base, "vec_id", "embedding",
            nLists = 16, rounds = 2))
        Similarity.semDedupPairs(
          Similarity.prepared(corpus, "vec_id", "embedding"), cents, threshold = 0.99)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH prep_b AS (
              |  SELECT vec_id AS id,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
              |  FROM embeddings),
              |nb AS (
              |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
              |  FROM prep_b),
              |${kmeansCentSql("nb", nLists = 16, rounds = 2, dim = 64)},
              |corpus AS (
              |  SELECT vec_id, embedding FROM embeddings
              |  UNION ALL
              |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 25 = 0),
              |prep_a AS (
              |  SELECT vec_id AS id,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
              |  FROM corpus),
              |na AS (
              |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
              |  FROM prep_a),
              |ci AS (
              |  SELECT id, qv, nrm, list_id,
              |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
              |      CAST(${dotSql("qv", "c_qv")} AS DOUBLE) / (nrm * c_nrm) DESC,
              |      list_id) AS crank
              |  FROM na CROSS JOIN cent),
              |asg AS (SELECT list_id, id, qv, nrm FROM ci WHERE crank <= 1),
              |pa AS (SELECT list_id, id AS id_a, qv AS qv_a, nrm AS nrm_a FROM asg),
              |pb AS (SELECT list_id, id AS id_b, qv AS qv_b, nrm AS nrm_b FROM asg),
              |sc AS (
              |  SELECT list_id, id_a, id_b,
              |    CAST(${dotSql("qv_a", "qv_b")} AS DOUBLE) / (nrm_a * nrm_b) AS cosine
              |  FROM pa JOIN pb USING (list_id)
              |  WHERE id_a < id_b)
              |SELECT list_id, id_a, id_b, cosine
              |FROM sc WHERE cosine >= 0.99
              |ORDER BY id_a, id_b""".stripMargin),
    ),

    // X39 — cluster-balanced corpus resampling: domain balancing over
    // LEARNED clusters instead of metadata labels (the x37 mixture uses
    // `lang`; web-scale corpora balance by learned topic). Every vector
    // assigns map-side to its nearest k-means centroid — the SAME
    // ArtifactCache'd quantizer x16/x35 serve, so one training pays for
    // all three — each cluster gets a uniform share of the global
    // budget, and the per-cluster rate becomes the x37 integer-exact
    // md5 hash-draw: keep iff h48(id) < B·2^48 div (k·n_c). Small
    // clusters keep everything (threshold saturates past 2^48), hot
    // clusters downsample. At scale: one assignment scan, a k-row
    // broadcast of counts, zero extra shuffles.
    QueryDef(
      "x39_cluster_balance",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val cents = graft.io.ArtifactCache.getOrBuild(s"ivf-kmeans:16:2:$d")(
          Similarity.trainIvfKmeans(base, "vec_id", "embedding",
            nLists = 16, rounds = 2))
        val assigned = Similarity.assignClusters(
          Similarity.prepared(base, "vec_id", "embedding"), cents)
        val counts = assigned.groupBy("list_id").agg(count(lit(1)).as("n_c"))
        assigned.join(broadcast(counts), Seq("list_id"))
          .withColumn("thresh",
            expr(s"(${ClusterBudget}L * ${1L << 48}L) div (16L * n_c)"))
          .withColumn("h48",
            conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
          .filter(col("h48") < col("thresh"))
          .select(col("list_id"), col("id").as("vec_id"))
          .orderBy("vec_id")
      },
      Some(s"""WITH prep AS (
              |  SELECT vec_id AS id,
              |    list_transform(embedding,
              |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
              |  FROM embeddings),
              |n AS (
              |  SELECT id, qv, sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
              |  FROM prep),
              |${kmeansCentSql("n", nLists = 16, rounds = 2, dim = 64)},
              |ci AS (
              |  SELECT id, list_id,
              |    ROW_NUMBER() OVER (PARTITION BY id ORDER BY
              |      CAST(${dotSql("qv", "c_qv")} AS DOUBLE) / (nrm * c_nrm) DESC,
              |      list_id) AS crank
              |  FROM n CROSS JOIN cent),
              |asg AS (SELECT list_id, id FROM ci WHERE crank = 1),
              |counts AS (SELECT list_id, count(*) AS n_c FROM asg GROUP BY 1),
              |j AS (
              |  SELECT a.list_id, a.id,
              |    CAST('0x' || substr(md5(CAST(a.id AS VARCHAR)), 1, 12) AS BIGINT) AS h48,
              |    (${ClusterBudget} * ${1L << 48}) // (16 * c.n_c) AS thresh
              |  FROM asg a JOIN counts c USING (list_id))
              |SELECT list_id, id AS vec_id FROM j
              |WHERE h48 < thresh ORDER BY vec_id""".stripMargin),
    ),

    // X10 — LSH-blocked near-dup (equi-join on hyperplane bucket +
    // hamming-2 multiprobe + exact cosine verify; no cartesian — gated by
    // PlanSpec). The oracle computes the SAME blocked algorithm: buckets
    // from the shared integer plane constants (ordered list_reduce
    // projections, identical sign rule) and the multiprobe candidate set
    // stated directly as hamming(bucket_a, bucket_b) <= probeDepth — the
    // condition the probe-explode implements scalably. Both engines thus
    // agree on EXACTLY the same pair set for any data distribution; the
    // approximation itself (documented ~0.5% miss of non-identical pairs
    // at depth 2) is equality-pinned against the all-pairs baseline in
    // SimilaritySpec, not here, so a fixture shift can't latently flip
    // the gate.
    {
      val nPlanes = 8
      val dim = 64
      val wl = Similarity.planeInts(nPlanes, dim)
        .map(row => row.map(v => s"$v/1000.0").mkString("[", ", ", "]"))
      val projs = (0 until nPlanes).map { p =>
        s"list_reduce(list_prepend(0.0, list_transform(generate_series(1, $dim)," +
          s" i -> (qv[i]/1000000.0) * w$p[i])), (s, v) -> s + v) AS proj$p"
      }.mkString(",\n    ")
      val bucketBits = (0 until nPlanes)
        .map(p => s"(CASE WHEN proj$p >= 0 THEN ${1L << p} ELSE 0 END)")
        .mkString(" + ")
      QueryDef(
        "x10_embedding_neardup",
        (s, d) => {
          val corpus = graft.util.Corpora.derived(Tables.embeddings(s, d),
            col("vec_id"), col("embedding"),
            Seq((col("vec_id") % 25 === 0, col("vec_id") + 10000,
              col("embedding"))),
            "vec_id", "embedding", payloadType = "array<float>")
          Similarity.nearDupPairs(
            Similarity.prepared(corpus, "vec_id", "embedding"),
            threshold = 0.99, numPlanes = nPlanes, dim = dim, probeDepth = 2)
            .orderBy("id_a", "id_b")
        },
        Some(s"""WITH w AS (SELECT ${wl.zipWithIndex.map { case (l, p) => s"$l AS w$p" }.mkString(", ")}),
                |corpus AS (
                |  SELECT vec_id, embedding FROM embeddings
                |  UNION ALL
                |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 25 = 0),
                |prep AS (
                |  SELECT vec_id AS id,
                |    list_transform(embedding,
                |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS qv
                |  FROM corpus),
                |n AS (
                |  SELECT id, qv,
                |    sqrt(CAST(${dotSql("qv", "qv")} AS DOUBLE)) AS nrm
                |  FROM prep),
                |pb AS (
                |  SELECT id, qv, nrm,
                |    $projs
                |  FROM n CROSS JOIN w),
                |bk AS (
                |  SELECT id, qv, nrm, CAST($bucketBits AS BIGINT) AS bucket
                |  FROM pb),
                |pairs AS (
                |  SELECT a.id AS id_a, b.id AS id_b,
                |    CAST(${dotSql("a.qv", "b.qv")} AS DOUBLE) / (a.nrm * b.nrm) AS cosine
                |  FROM bk a JOIN bk b
                |    ON a.id < b.id AND bit_count(xor(a.bucket, b.bucket)) <= 2)
                |SELECT id_a, id_b, cosine FROM pairs
                |WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin),
      )
    },

    // X46 — IVFPQ top-k (Jégou et al. 2011; the FAISS IVFPQ shape): the
    // x16 coarse quantizer routes vectors to inverted lists, but the
    // lists carry PRODUCT-QUANTIZED CODES (8 sub-spaces × 16 codewords —
    // 8 small ints per vector ≈ 64× smaller than the 64-dim int64
    // vectors), and candidates score by ASYMMETRIC DISTANCE: each query
    // precomputes one 8×16 table of sub-space dots map-side, every
    // candidate pair costs O(8) lookups, no vector data is touched at
    // search time. At 100 TB this is the published answer to "the
    // inverted lists themselves dominate memory/IO". Everything —
    // codebook training (md5-sample init + 2 Lloyd's rounds under the
    // exact integer L2 surrogate ‖c‖²−2x·c with roundDiv means), code
    // assignment, ADC sums, reconstructed norms — is exact int64
    // arithmetic, so the oracle reproduces the full pipeline
    // bit-for-bit. Both quantizers are ArtifactCache'd per corpus
    // snapshot (train once, serve many — the x16 amortization contract);
    // the preflight recall gate pins ivfpq@10 >= 0.9 at the planted
    // near-neighbor operating point, 10x soak replicas.
    QueryDef(
      "x46_ivfpq_topk",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val cents = graft.io.ArtifactCache.getOrBuild(s"ivf-kmeans:16:2:$d")(
          Similarity.trainIvfKmeans(base, "vec_id", "embedding",
            nLists = 16, rounds = 2))
        val cbs = graft.io.ArtifactCache.getOrBuild(s"pq-codebooks:8:16:2:$d")(
          Similarity.trainPqCodebooks(base, "vec_id", "embedding",
            m = 8, ksub = 16, rounds = 2))
        Similarity.ivfpqTopK(
          broadcast(base.filter(col("vec_id") < 8)), base,
          "vec_id", "embedding", k = 5, centroids = cents, cbs = cbs,
          nProbe = 4)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(s"""$ivfpqOracleSqlCtes
              |SELECT query_id, rnk, neighbor_id, cosine
              |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X52 — exact re-ranking over the IVFPQ shortlist (FAISS's "refine"
    // stage; the standard production serving pattern for quantized
    // indexes): the compressed index scores by ADC against reconstructed
    // codewords, whose quantization error can reorder near-ties — so the
    // serving path takes the ADC TOP-20 shortlist per query and
    // re-scores exactly those pairs with the ORIGINAL vectors' exact
    // integer dot, serving the refined top-5. Recall comes from the
    // cheap wide shortlist, ordering from the exact narrow rescore.
    //
    // Shape at scale: both quantizers ride the same cached artifacts as
    // x46 (train once, serve many); the shortlist is |queries|·20 id
    // pairs — bounded by the query workload, so it broadcasts — and the
    // rescoring gather is one broadcast join against the corpus: no
    // corpus shuffle, and the only full vectors read at serve time are
    // the 20 per query (vs x15's corpus-wide exact scan). The oracle
    // replays the entire pipeline — training, codes, ADC shortlist,
    // exact rescore — bit-for-bit.
    QueryDef(
      "x52_pq_rerank",
      (s, d) => {
        val base = Tables.embeddings(s, d)
        val cents = graft.io.ArtifactCache.getOrBuild(s"ivf-kmeans:16:2:$d")(
          Similarity.trainIvfKmeans(base, "vec_id", "embedding",
            nLists = 16, rounds = 2))
        val cbs = graft.io.ArtifactCache.getOrBuild(s"pq-codebooks:8:16:2:$d")(
          Similarity.trainPqCodebooks(base, "vec_id", "embedding",
            m = 8, ksub = 16, rounds = 2))
        val queries = broadcast(base.filter(col("vec_id") < 8))
        val shortlist = Similarity.ivfpqTopK(
          queries, base, "vec_id", "embedding", k = 20,
          centroids = cents, cbs = cbs, nProbe = 4)
        Similarity.rerankExact(queries, base, "vec_id", "embedding",
          shortlist, k = 5)
          .withColumnRenamed("rank", "rnk")
          .orderBy("query_id", "rnk")
      },
      Some(s"""$ivfpqOracleSqlCtes,
              |short AS (
              |  SELECT query_id, neighbor_id FROM r WHERE rnk <= 20),
              |ex AS (
              |  SELECT s.query_id, s.neighbor_id,
              |    CAST(${dotSql("nq.qv", "nn.qv")} AS DOUBLE) /
              |      (nq.nrm * nn.nrm) AS cosine
              |  FROM short s
              |  JOIN n nq ON nq.id = s.query_id
              |  JOIN n nn ON nn.id = s.neighbor_id),
              |fr AS (
              |  SELECT query_id, neighbor_id, cosine,
              |    ROW_NUMBER() OVER (PARTITION BY query_id
              |                       ORDER BY cosine DESC, neighbor_id) AS rnk
              |  FROM ex)
              |SELECT query_id, rnk, neighbor_id, cosine
              |FROM fr WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    ),

    // X53 — INCREMENTAL LM-artifact maintenance off the change feed (the
    // production composition of the storage layer and the LM ladder: a
    // real pipeline ingests continuously, and rebuilding the gram tables
    // per corpus snapshot re-tokenizes 100 TB to absorb a 10 GB delta).
    // The incremental-over-rebuild discipline is the reference's own
    // core loop generalized (run.py:142-152: fetch only orders since the
    // stored watermark, fold them into the warehouse) — here the
    // "watermark" is a table VERSION and the folded state is a derived
    // statistic table rather than the fact rows.
    // The documents corpus lives AS a graft-log table whose unigram AND
    // bigram tables are already maintained (setup); the timed body is
    // exactly one production increment: retire a clustered slice of doc
    // ids (deleteKeysDV — zero reads, one manifest commit), ingest a new
    // batch (append), then fold LogTable.changes(v1, v2) into the gram
    // tables — insert images ADD their gram counts, delete images
    // SUBTRACT them, counts at zero drop. Additivity makes the
    // incrementally-maintained table bit-identical to a full rebuild at
    // the post-batch snapshot, which is what the DuckDB oracle replays
    // (and IncrementalLmSpec pins, plus the scans-only-the-delta claim).
    //
    // 100 TB shape: the feed is served by the CDC delta path — inserts
    // are the appended files read directly, delete images a stats-pruned
    // read of only the fromV files whose key range holds a retired id
    // (LogTable.changesDeltaPath; the clustered retire is the realistic
    // shape — expiring a crawl partition, not random ids) — so the whole
    // update is O(delta), never a corpus scan; the fold itself is one
    // combinable groupBy over (pre-table ∪ signed delta grams) with
    // fixed-width long keys (x41's exchange discipline).
    QueryDef(
      "x53_incremental_lm",
      (s, d) => {
        val (basePath, v1, v1Grams) = x53FixtureFor(s, d)
        // per-execution clone, RECYCLED (r21, ADVICE): the previous
        // execution's clone dir is deleted before the new one is cut —
        // reps no longer accumulate clone trees in the scratch dir —
        // and a shutdown hook (registered once) sweeps the last one
        val t = x53NextCloneDir(d)
        graft.io.LogTable.cloneTableWithHistory(basePath, t)
        graft.io.LogTable.deleteKeysDV(s, t, "doc_id",
          (1L to 99L).filterNot(_ % 5 == 0))
        graft.io.LogTable.append(s, t,
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 1000).as("doc_id"), col("text")),
          "doc_id")
        val feed = graft.io.LogTable.changes(s, t, "doc_id", v1,
          graft.io.LogTable.version(t))
        // ONE gram pass over the feed (the sign rides through as a
        // passthrough column): insert images add, delete images
        // subtract — two filtered passes would read the delta twice.
        // fanOut first (gramTf's own discipline): the delta arrives as
        // a handful of appended files, so without it the whole tokenize
        // runs on 1-3 input partitions regardless of cores.
        // Guarded fold (r21, ADVICE): an 'update' image carries the NEW
        // row only, so folding it as +1 would add the new grams without
        // subtracting the old — silent count corruption. This window is
        // retire+append (no key overlap), so updates cannot occur; the
        // raise_error makes a future fixture/path change fail loudly
        // instead of corrupting the maintained table.
        val delta = gramTfOf(graft.util.Partitioning.fanOut(
            feed.withColumn("_sign",
              when(col("_change_type") === "delete", -1L)
                .when(col("_change_type") === "insert", 1L)
                .otherwise(raise_error(concat(
                  lit("x53 fold expects insert/delete images only, got '"),
                  col("_change_type"),
                  lit("' — an update image must subtract its old grams")))
                  .cast("long")))
            .select(col("doc_id"), col("text"), col("_sign"))),
          extra = Seq("_sign"))
          .select(col("tag"), col("h"),
            (col("tf") * col("_sign")).cast("long").as("ctf"))
        v1Grams.unionByName(delta)
          .groupBy("tag", "h").agg(sum("ctf").as("ctf"))
          .filter(col("ctf") > 0)
          .select(col("tag"), col("h"), col("ctf").cast("long").as("ctf"))
          .orderBy("tag", "h")
      },
      Some("""WITH docs AS (
             |  SELECT string_split(text, ' ') AS t FROM documents
             |  WHERE doc_id % 5 = 0 OR doc_id > 99),
             |uni AS (
             |  SELECT CAST(0 AS INT) AS tag,
             |         CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h,
             |         CAST(count(*) AS BIGINT) AS ctf
             |  FROM (SELECT unnest(t) AS w FROM docs) GROUP BY 2),
             |big AS (
             |  SELECT CAST(1 AS INT) AS tag,
             |         CAST('0x' || substr(md5(t[i] || ' ' || t[i+1]), 1, 15)
             |              AS BIGINT) AS h,
             |         CAST(count(*) AS BIGINT) AS ctf
             |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM docs WHERE len(t) >= 2) GROUP BY 2)
             |SELECT tag, h, ctf
             |FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)
             |ORDER BY tag, h""".stripMargin),
    ),

    // X54 — containment dedup ON ARRIVAL (x50's anchor-sketch collision
    // rule composed into the x38 arrival shape): three ingest
    // generations resolve through Dedup.containmentArrivalReplay, the
    // closed form of folding Dedup.containmentArrivalStep per batch.
    // Catches the short-in-long verbatim inclusions Jaccard banding
    // structurally misses, in the continuous-ingestion setting: batch-1
    // snippets drop against their retained originals; batch-2 re-sends
    // of content whose batch-1 twin was DROPPED still drop — via the
    // retained original, not the dropped twin (the dropped-earlier-
    // frees-later rule holds); reversed-token docs share vocabulary but
    // no 3-shingle and are retained. The stop-shingle guard is
    // arrival-aware (first-hot-batch semantics, see the operator's doc)
    // so fold == closed form exactly; the oracle spells the same
    // prefix-df algebra + resolution rounds in SQL, and DedupSpec pins
    // the sequential fold equal to this closed form.
    QueryDef(
      "x54_arrival_inclusion",
      (s, d) => {
        val batchOf = (id: Column) =>
          when(id < 10000, 0).when(id < 20000, 1).otherwise(2)
        Dedup.containmentArrivalReplay(arrivalInclusionCorpus(s, d),
          "id", "text", batchOf, 3)
          .select(batchOf(col("id")).cast("int").as("batch"), col("id"))
          .orderBy("id")
      },
      Some(s"""WITH $arrivalInclusionCorpusSql,
              |tok AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
              |sh AS (
              |  SELECT id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
              |  FROM (SELECT id, t, unnest(generate_series(1, len(t) - 2)) AS i
              |        FROM tok WHERE len(t) >= 3)),
              |dsh AS (SELECT DISTINCT id,
              |          CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) AS h
              |        FROM sh),
              |bat AS (SELECT id, CASE WHEN id < 10000 THEN 0
              |                        WHEN id < 20000 THEN 1
              |                        ELSE 2 END AS b
              |        FROM (SELECT DISTINCT id FROM corpus)),
              |dfb AS (SELECT d.h, bt.b, count(*) AS c
              |        FROM dsh d JOIN bat bt USING (id) GROUP BY 1, 2),
              |cum AS (SELECT h, b,
              |          sum(c) OVER (PARTITION BY h ORDER BY b) AS cum
              |        FROM dfb),
              |fhb AS (SELECT h, min(b) AS fhb FROM cum WHERE cum > 64
              |        GROUP BY 1),
              |anch AS (
              |  SELECT id, h FROM (
              |    SELECT id, h,
              |      row_number() OVER (PARTITION BY id ORDER BY h) AS rn
              |    FROM dsh) WHERE rn <= 4),
              |kp AS (SELECT d.id, d.h
              |       FROM dsh d JOIN bat bt USING (id)
              |       LEFT JOIN fhb f USING (h)
              |       WHERE f.fhb IS NULL OR bt.b < f.fhb),
              |ka AS (SELECT a.id, a.h
              |       FROM anch a JOIN bat bt USING (id)
              |       LEFT JOIN fhb f USING (h)
              |       WHERE f.fhb IS NULL OR bt.b < f.fhb),
              |cand AS (SELECT DISTINCT least(a.id, p.id) AS id_a,
              |                         greatest(a.id, p.id) AS id_b
              |         FROM ka a JOIN kp p ON a.h = p.h AND a.id <> p.id),
              |d0 AS (SELECT DISTINCT id_b AS id FROM cand WHERE id_b < 10000),
              |r0 AS (SELECT id FROM corpus WHERE id < 10000
              |       AND id NOT IN (SELECT id FROM d0)),
              |d1 AS (SELECT DISTINCT id_b AS id FROM cand
              |       WHERE id_b >= 10000 AND id_b < 20000
              |         AND (id_a IN (SELECT id FROM r0) OR id_a >= 10000)),
              |r1 AS (SELECT id FROM r0 UNION ALL
              |       SELECT id FROM corpus
              |       WHERE id >= 10000 AND id < 20000
              |         AND id NOT IN (SELECT id FROM d1)),
              |d2 AS (SELECT DISTINCT id_b AS id FROM cand
              |       WHERE id_b >= 20000
              |         AND (id_a IN (SELECT id FROM r1) OR id_a >= 20000)),
              |r2 AS (SELECT id FROM r1 UNION ALL
              |       SELECT id FROM corpus WHERE id >= 20000
              |         AND id NOT IN (SELECT id FROM d2))
              |SELECT CAST(CASE WHEN id < 10000 THEN 0
              |                 WHEN id < 20000 THEN 1
              |                 ELSE 2 END AS INT) AS batch, id
              |FROM r2 ORDER BY id""".stripMargin),
    ),
  )
}
