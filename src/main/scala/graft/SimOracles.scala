package graft

import graft.operators.Similarity._

/** DuckDB-dialect oracle SQL for the embedding queries, generated from
  * the SAME constants the Spark operators use (graft.operators
  * .Similarity) — hyperplane signs, band packing, quantization, k-means
  * seeding and thresholds are mirrored digit-for-digit, so e8/e31/d8 get
  * full rows+schema+hash oracles instead of rows-only checks.
  */
object SimOracles {

  /** ±1 sign of (plane p, dim i) under `salt` — DuckDB rendering of
    * VectorOps.SignProjections' sign family (all-positive int64
    * arithmetic, no overflow).
    */
  private def sign(p: String, i: String, salt: Long): String =
    s"(CASE WHEN (((($p)*131071 + ($i) + 1)*$HashMul + $salt) % $HashMod)" +
      s" >> 16 & 1 = 1 THEN 1 ELSE -1 END)"

  /** Quantized int64 vectors (round(x*10000)) — matches Similarity.quantized. */
  val eqCte: String = """
eq AS MATERIALIZED (
  SELECT vec_id, list_transform(range(1, len(embedding) + 1),
    i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS q
  FROM embeddings)"""

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> $a[i] * $b[i])) AS BIGINT)"

  /** Sign-bit array + per-band bucket ids (Similarity.planeBits/bandBuckets). */
  private def bandedCtes(bands: Int, rowsPerBand: Int): String = {
    val nPlanes = bands * rowsPerBand
    s""",
bits AS (
  SELECT vec_id, q,
    list_transform(range(0, $nPlanes), p ->
      CASE WHEN CAST(list_sum(list_transform(range(0, len(q)), i ->
        q[i+1] * ${sign("p", "i", PlaneSalt)})) AS BIGINT) > 0
      THEN 1 ELSE 0 END) AS bits
  FROM eq),
banded AS (
  SELECT vec_id, q, band,
    CAST(list_sum(list_transform(range(0, $rowsPerBand), j ->
      bits[band * $rowsPerBand + j + 1] * (1 << j))) AS BIGINT) AS bucket
  FROM bits CROSS JOIN (SELECT unnest(range(0, $bands)) AS band) bs)"""
  }

  /** L2 distance surrogate to a centroid: ||c||² − 2·x·c (the ||x||² term
    * is constant per vector, so argmin is the true L2 argmin) — mirrors
    * Similarity.cellDists exactly, pure int64.
    */
  private def distSql(q: String, cv: String): String =
    s"(CAST(list_sum(list_transform(range(1, len($cv) + 1), " +
      s"i -> $cv[i] * $cv[i])) AS BIGINT) - 2 * ${dotSql(q, cv)})"

  /** Deterministic seeded Lloyd's k-means, UNROLLED: kc0 = the vectors
    * with vec_id < nCells; each iteration t emits assignment ka_t
    * (argmin dist, ties by cell — ORDER BY dist, cell mirrors the Spark
    * side's lexicographic struct min), per-component integer sums ks_t,
    * and centroids kc_t (component = s // n, truncating division exactly
    * like Scala's Long `/`; empty cells COALESCE to their previous
    * centroid). Digit-for-digit mirror of Similarity.kmeansCentroids.
    */
  // `dim` must match the corpus's embedding width (the Spark side is
  // dim-agnostic via posexplode; the SQL mirror needs it explicitly —
  // testdata embeddings are 64-wide). Exposed through the e8 builder.
  private def kmeansCtes(nCells: Int, iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb.append(s""",
kc0 AS MATERIALIZED (
  SELECT CAST(vec_id AS INT) AS cell, q AS cv FROM eq WHERE vec_id < $nCells)""")
    for (t <- 1 to iters) {
      val prev = s"kc${t - 1}"
      sb.append(s""",
ka$t AS (
  SELECT vec_id, q, cell FROM (
    SELECT e.vec_id, e.q, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${distSql("e.q", "c.cv")}, c.cell) AS rn
    FROM eq e CROSS JOIN $prev c)
  WHERE rn = 1),
ks$t AS (
  SELECT cell, i, CAST(sum(q[i + 1]) AS BIGINT) AS s, count(*) AS n
  FROM ka$t CROSS JOIN (SELECT unnest(range(0, $dim)) AS i) d
  GROUP BY cell, i),
kc$t AS MATERIALIZED (
  SELECT p.cell, COALESCE(u.cv, p.cv) AS cv
  FROM $prev p LEFT JOIN (
    SELECT cell, list(s // n ORDER BY i) AS cv FROM ks$t GROUP BY cell) u
  ON u.cell = p.cell)""")
    }
    sb.toString
  }

  /** e8: SemDeDup semantic dedup — the unrolled k-means chain assigns
    * every vector a cell, within-cell pairs above the quantized-dot
    * threshold mark the larger id a dup of the smallest qualifying
    * smaller id (mirrors Similarity.semanticDedup digit-for-digit).
    */
  def semanticDedupSql(nCells: Int = 16, iters: Int = 4, dim: Int = 64,
                       threshold: Long = 40000000L): String =
    s"""WITH $eqCte ${kmeansCtes(nCells, iters, dim)},
sdassigned AS MATERIALIZED (
  SELECT vec_id, q, cell FROM (
    SELECT e.vec_id, e.q, c.cell,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY ${distSql("e.q", "c.cv")}, c.cell) AS rn
    FROM eq e CROSS JOIN kc$iters c)
  WHERE rn = 1),
sddup AS (
  SELECT b.vec_id, min(a.vec_id) AS dup_of
  FROM sdassigned a JOIN sdassigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ${dotSql("a.q", "b.q")} >= $threshold
  GROUP BY b.vec_id)
SELECT s.vec_id, s.cell, d.dup_of, d.dup_of IS NULL AS keep
FROM sdassigned s LEFT JOIN sddup d ON s.vec_id = d.vec_id"""

  /** d8: embedding near-dup ladder — banded-LSH candidates, exact
    * quantized-dot verify (mirrors Similarity.embeddingNearDupLadder).
    */
  def embeddingLadderSql(bands: Int = 5, rowsPerBand: Int = 6,
                         threshold: Long = 40000000L): String =
    s"""WITH $eqCte ${bandedCtes(bands, rowsPerBand)},
scored AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
    ${dotSql("a.q", "b.q")} AS qdot
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id1, id2, qdot FROM scored WHERE qdot >= $threshold"""

  /** e31: hybrid lexical+dense RRF fusion (mirrors Similarity.hybridRrf).
    * Lexical list = the t16 BM25 oracle at kEach (embedded as a derived
    * table, so both engines rank the SAME scorer); dense list = the exact
    * brute-force top-kEach of query vec_id 0. Fusion replays the
    * integer-exact Σ 1000000 // (c + rank) with absent ranks → 0.
    */
  def hybridRrfSql(queryTerms: Seq[String], kEach: Int = 20,
                   kOut: Int = 10, c: Int = 60): String =
    s"""WITH $eqCte,
lexr AS (
  SELECT doc_id, CAST(row_number() OVER (
      ORDER BY score_x1000 DESC, doc_id) AS INT) AS lex_rank
  FROM (${TextOracles.bm25Sql(queryTerms, kEach)})),
vecr AS (
  SELECT nid AS doc_id, CAST(rnk AS INT) AS vec_rank FROM (
    SELECT c.vec_id AS nid,
      row_number() OVER (ORDER BY ${dotSql("p.q", "c.q")} DESC,
                         c.vec_id) AS rnk
    FROM eq c CROSS JOIN eq p
    WHERE p.vec_id < 1 AND c.vec_id != p.vec_id)
  WHERE rnk <= $kEach)
SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, lex_rank, vec_rank,
  CAST(coalesce(1000000 // ($c + lex_rank), 0)
     + coalesce(1000000 // ($c + vec_rank), 0) AS BIGINT) AS rrf_x1m
FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id
ORDER BY rrf_x1m DESC, doc_id LIMIT $kOut"""
}
