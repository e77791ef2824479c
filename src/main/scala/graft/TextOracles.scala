package graft

import graft.functions.TextHashes.{B31, MaxPolyLen, P31}

/** DuckDB-dialect oracle SQL for the text-tier queries, generated from
  * the SAME constants as the Spark operators (graft.functions.TextHashes,
  * graft.operators.TextOps): the polynomial hash, MinHash family, band
  * Horner combine and Jaccard threshold are mirrored digit-for-digit.
  * The corpus is ASCII, so
  * DuckDB's per-character ascii(substr(s,j,1)) equals the Spark
  * expression's per-byte loop.
  */
object TextOracles {

  private val pows: Seq[Long] =
    Iterator.iterate(1L)(h => h * B31 % P31).take(MaxPolyLen).toSeq
  private val powList: String = pows.mkString("[", ", ", "]")

  /** PolyHash31 of a string expression (first 64 chars), as Σ c_j·B^(L-j)
    * mod P — identical to the Spark expression's per-step Horner mod.
    */
  private def ph(x: String): String =
    s"(COALESCE(CAST(list_sum(list_transform(" +
      s"range(1, least(length($x), $MaxPolyLen) + 1), " +
      s"j -> CAST(ascii(substr($x, j, 1)) AS BIGINT) * " +
      s"($powList)[least(length($x), $MaxPolyLen) - j + 1])) " +
      s"AS BIGINT), 0) % $P31)"

  /** Distinct word 3-gram shingles per doc (mirror of TextOps.shingleRows
    * without the lang/length blocking columns). `rel` is the docs
    * relation — `documents` for the standalone queries, the redacted CTE
    * for the composed pipeline (t11). `prefix` disambiguates CTE names
    * when one query builds shingles over two relations (t11 builds them
    * over `red` for decontamination and again over the decon survivors
    * for the dedup ladder).
    */
  private def shingleCtes(rel: String = "documents",
                          prefix: String = ""): String = s"""
${prefix}toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $rel),
${prefix}sh AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM ${prefix}toks)"""

  /** MinHash signature mins + banded buckets + candidate pairs with a band
    * vote — mirror of TextOps.minhashSignatures/minhashCandidatesVoted.
    */
  private def minhashCtes(k: Int, bands: Int): String = {
    val r = k / bands
    val mins = (0 until k).map(i =>
      s"min((ph * ${2L * i + 1} + ${i.toLong * i + 1}) % $P31) AS h$i")
      .mkString(",\n    ")
    def bucket(b: Int): String =
      (0 until r).foldLeft(b.toString)((acc, j) =>
        s"(($acc) * 1000003 + h${b * r + j}) % $P31")
    val banded = (0 until bands).map(b =>
      s"  SELECT doc_id, $b AS band, ${bucket(b)} AS bucket FROM sig")
      .mkString("\n  UNION ALL\n")
    s""",
phs AS (SELECT doc_id, ${ph("shingle")} AS ph FROM sh),
sig AS (
  SELECT doc_id,
    $mins
  FROM phs GROUP BY doc_id),
banded AS (
$banded),
voted AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS band_hits
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)"""
  }

  /** d2: banded MinHash-LSH candidate pairs (≥1 shared band). */
  def minhashCandidatesSql(k: Int = 32, bands: Int = 8): String =
    s"WITH ${shingleCtes()} ${minhashCtes(k, bands)}\n" +
      "SELECT doc1, doc2 FROM voted WHERE band_hits >= 1"

  /** d7: the near-dup ladder — ≥2-band-vote candidates, then exact 3-gram
    * Jaccard ≥ 0.7 verify on candidates only (integer cross-multiplied).
    */
  def nearDupLadderSql(k: Int = 32, bands: Int = 8,
                       minBandHits: Int = 2): String =
    s"""WITH ${shingleCtes()} ${minhashCtes(k, bands)},
cand AS (SELECT doc1, doc2 FROM voted WHERE band_hits >= $minBandHits),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc1, doc2, count(*) AS inter
  FROM cand
  JOIN sh s1 ON s1.doc_id = doc1
  JOIN sh s2 ON s2.doc_id = doc2 AND s2.shingle = s1.shingle
  GROUP BY doc1, doc2)
SELECT doc1, doc2, inter, s1.n_sh AS n1, s2.n_sh AS n2
FROM inter
JOIN sizes s1 ON s1.doc_id = doc1
JOIN sizes s2 ON s2.doc_id = doc2
WHERE inter * 10 >= (s1.n_sh + s2.n_sh - inter) * 7"""

  /** t16: integer-exact BM25 top-k — mirror of TextOps.bm25TopK (same
    * rational parameters k1 = 6/5, b = 3/4, same scaled integer kernel,
    * same length(bin(·)) integer-log₂ idf quantization; `//` mirrors
    * Spark's `div`).
    * The corpus scalars (N, Σdl) are subqueries where the Spark side
    * collects them once at build — same values, same arithmetic.
    */
  def bm25Sql(queryTerms: Seq[String], k: Int = 10): String = {
    val termList = queryTerms.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
dls AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
  FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot
  FROM documents),
qt AS (SELECT unnest($termList) AS tok),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM toks JOIN qt USING (tok) GROUP BY doc_id, tok),
dfs AS (
  SELECT tok,
    CAST(length(bin((((SELECT n FROM stats) - count(*)) * 1024)
      // (count(*) + 1) + 1)) AS BIGINT) AS idfq
  FROM tf GROUP BY tok),
a AS (SELECT tot // n AS a1 FROM stats)
SELECT tf.doc_id,
  CAST(sum((idfq * (44 * a1 * tf) * 1000)
    // (20 * a1 * tf + 6 * a1 + 18 * dl)) AS BIGINT) AS score_x1000,
  count(*) AS n_terms
FROM tf JOIN dfs USING (tok) JOIN dls USING (doc_id) CROSS JOIN a
GROUP BY tf.doc_id
ORDER BY score_x1000 DESC, doc_id
LIMIT $k"""
  }

  /** t4: deterministic hash-based train/val/test split (8/1/1). */
  def splitSql: String =
    s"""WITH b AS (
  SELECT doc_id,
    CAST(${ph("'split|' || CAST(doc_id AS STRING)")} % 10 AS INT) AS bucket
  FROM documents)
SELECT doc_id, bucket,
  CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val'
       ELSE 'test' END AS split
FROM b"""

  /** t5: overlapping context-window chunks (chunkSize tokens, stride). */
  def chunksSql(chunkSize: Int = 64, stride: Int = 48): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c AS (
  SELECT doc_id, len(t) AS n, t,
    unnest(range(0, (len(t) - 1) // $stride + 1)) AS chunk_idx
  FROM toks)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
  array_to_string(list_slice(t, chunk_idx * $stride + 1,
    chunk_idx * $stride + $chunkSize), ' ') AS chunk,
  CAST(least($chunkSize, n - chunk_idx * $stride) AS INT) AS n_tokens
FROM c"""

  /** t9: deterministic weighted mix — ticket = polyhash31("mix|"+doc_id)
    * mod 100 vs the per-source keep rate (even-numbered sources 100%,
    * odd 25% — the driver query's example mixing config). TRY_CAST, not
    * CAST: a digit-free source must fall to the ELSE rate exactly like
    * Spark's `''.cast(int)` → NULL → otherwise(25), not hard-error.
    */
  def mixSql: String =
    s"""SELECT doc_id, source FROM documents
WHERE ${ph("'mix|' || CAST(doc_id AS STRING)")} % 100 <
  CASE WHEN TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 2 = 0
       THEN 100 ELSE 25 END"""

  /** t7: source-level corpus gate (integer-exact aggregate threshold). */
  def sourceGateSql(minAvgChars: Long = 300L): String =
    s"""WITH s AS (
  SELECT source, count(*) AS n_docs,
    sum(CAST(length(text) AS BIGINT)) AS sum_chars
  FROM documents GROUP BY source)
SELECT d.doc_id, d.source
FROM documents d JOIN s USING (source)
WHERE s.sum_chars >= s.n_docs * $minAvgChars"""

  /** t10: greedy sequence packing — running token total per
    * (source, shard), bin = exact integer floor division by the budget.
    * Shard mirrors TextOps.packSequences: polyhash31("pack|"+doc_id)
    * mod nShards.
    */
  def seqPackSql(budget: Int = 512, nShards: Int = 4): String =
    s"""WITH c AS (
  SELECT doc_id, source,
    CAST(${ph("'pack|' || CAST(doc_id AS STRING)")} % $nShards AS INT)
      AS shard,
    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
    sum(len(string_split(text, ' '))) OVER (
      PARTITION BY source,
        ${ph("'pack|' || CAST(doc_id AS STRING)")} % $nShards
      ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents)
SELECT doc_id, source, shard, n_tokens,
  CAST((cum - n_tokens) // $budget AS INT) AS bin
FROM c"""

  /** t6: PII redaction — same RE2-safe patterns as TextOps.redactPii,
    * same URL→email→phone order, counts on the same intermediate string
    * each replace consumes. The synthetic corpus carries no PII, so the
    * query appends a deterministic per-row contact line (mirrored in the
    * Spark entry) — every row then exercises real email+phone matches
    * cross-engine instead of a vacuous no-op comparison.
    */
  def redactSql: String = {
    // standard-SQL single-quoted literals pass backslashes through
    // untouched, so the Scala pattern strings embed verbatim
    val url = graft.operators.TextOps.UrlPat
    val email = graft.operators.TextOps.EmailPat
    val phone = graft.operators.TextOps.PhonePat
    s"""WITH piidocs AS (
  SELECT doc_id,
    text || ' contact doc' || CAST(doc_id AS STRING) ||
      '@corp.example.com call +1 (555) 123-' ||
      lpad(CAST(doc_id % 10000 AS STRING), 4, '0') AS text
  FROM documents),
s1 AS (
  SELECT doc_id, text,
    regexp_replace(text, '$url', '<URL>', 'g') AS c1 FROM piidocs),
s2 AS (SELECT *, regexp_replace(c1, '$email', '<EMAIL>', 'g') AS c2 FROM s1)
SELECT doc_id,
  regexp_replace(c2, '$phone', '<PHONE>', 'g') AS clean_text,
  CAST(len(regexp_extract_all(text, '$url')) AS INT) AS n_url,
  CAST(len(regexp_extract_all(c1, '$email')) AS INT) AS n_email,
  CAST(len(regexp_extract_all(c2, '$phone')) AS INT) AS n_phone
FROM s2"""
  }

  /** t11: the composed end-to-end corpus pipeline — source gate →
    * synthetic-PII augment → redact → near-dup dedup (ladder) → weighted
    * mix → split → per-(split, source, shard) packing. Every stage is the
    * same CTE logic as its standalone oracle (t7/t6/d7/t9/t4/t10),
    * chained over the PREVIOUS stage's output so stage-boundary effects
    * (dedup over redacted text, packing over post-mix survivors) are
    * checked cross-engine.
    */
  def corpusPipelineSql(minAvgChars: Long = 300L, k: Int = 32,
                        bands: Int = 8, minBandHits: Int = 2,
                        budget: Int = 512, nShards: Int = 4): String = {
    val shardExpr = s"${ph("'pack|' || CAST(doc_id AS STRING)")} % $nShards"
    s"""WITH ${pipelineChainCtes(minAvgChars, k, bands, minBandHits)},
packed AS (
  SELECT doc_id, source, split,
    CAST($shardExpr AS INT) AS shard,
    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
    sum(len(string_split(text, ' '))) OVER (
      PARTITION BY split, source, $shardExpr
      ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM spl)
SELECT doc_id, source, split, shard, n_tokens,
  CAST((cum - n_tokens) // $budget AS INT) AS bin
FROM packed"""
  }

  /** The t11 pipeline CTE chain (gate → augment → redact → decon →
    * ladder dedup → mix → split), ending at `spl` — shared by
    * [[corpusPipelineSql]] (which packs it) and [[curationFunnelSql]]
    * (which counts every stage boundary). Caller opens with WITH.
    */
  private def pipelineChainCtes(minAvgChars: Long, k: Int, bands: Int,
                                minBandHits: Int): String = {
    val url = graft.operators.TextOps.UrlPat
    val email = graft.operators.TextOps.EmailPat
    val phone = graft.operators.TextOps.PhonePat
    s"""gatesrc AS (
  SELECT source FROM documents GROUP BY source
  HAVING sum(CAST(length(text) AS BIGINT)) >= count(*) * $minAvgChars),
gated AS (
  SELECT d.doc_id, d.source, d.text
  FROM documents d JOIN gatesrc USING (source)),
aug AS (
  SELECT doc_id, source,
    text || ' contact doc' || CAST(doc_id AS STRING) ||
      '@corp.example.com call +1 (555) 123-' ||
      lpad(CAST(doc_id % 10000 AS STRING), 4, '0') AS text
  FROM gated),
red AS (
  SELECT doc_id, source,
    regexp_replace(regexp_replace(regexp_replace(text,
      '$url', '<URL>', 'g'), '$email', '<EMAIL>', 'g'),
      '$phone', '<PHONE>', 'g') AS text
  FROM aug),
${shingleCtes("red", "d")},
dphs AS (SELECT doc_id, ${ph("shingle")} AS ph FROM dsh),
dev AS (SELECT DISTINCT ph FROM dphs WHERE doc_id % 29 = 3),
dhits AS (
  SELECT c.doc_id, count(*) AS n_sh, count(e.ph) AS n_hits
  FROM dphs c LEFT JOIN dev e USING (ph)
  WHERE c.doc_id % 29 <> 3
  GROUP BY c.doc_id),
decsurv AS (
  -- fraction rule (mirror of dropContaminated): drop when eval overlap
  -- reaches HALF the doc's shingles; shingle-less docs (absent from
  -- dhits -> NULL comparison) survive via the COALESCE TRUE
  SELECT r.doc_id, r.source, r.text
  FROM red r LEFT JOIN dhits h USING (doc_id)
  WHERE r.doc_id % 29 <> 3 AND COALESCE(2 * h.n_hits < h.n_sh, TRUE)),
${shingleCtes("decsurv")} ${minhashCtes(k, bands)},
cand AS (SELECT doc1, doc2 FROM voted WHERE band_hits >= $minBandHits),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT doc1, doc2, count(*) AS inter
  FROM cand
  JOIN sh s1 ON s1.doc_id = doc1
  JOIN sh s2 ON s2.doc_id = doc2 AND s2.shingle = s1.shingle
  GROUP BY doc1, doc2),
dropped AS (
  SELECT DISTINCT doc2 AS doc_id FROM inter
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2
  WHERE inter * 10 >= (s1.n_sh + s2.n_sh - inter) * 7),
surv AS (
  SELECT * FROM decsurv r
  WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = r.doc_id)),
mixed AS (
  SELECT * FROM surv
  WHERE ${ph("'mix|' || CAST(doc_id AS STRING)")} % 100 <
    CASE WHEN TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) % 2 = 0
         THEN 100 ELSE 25 END),
spl AS (
  SELECT *, CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
                 ELSE 'test' END AS split
  FROM (SELECT *, ${ph("'split|' || CAST(doc_id AS STRING)")} % 10 AS b
        FROM mixed))"""
  }

  /** t35: the curation funnel — one row of per-stage survivor counts
    * over the SAME chain as t11 (input → source gate → decontaminate →
    * near-dup dedup → weighted mix → split thirds), the retention
    * dashboard every production curation pipeline reports. Counts are
    * scalar subqueries over the shared CTE chain, so a stage-boundary
    * divergence shows up as a count mismatch even when t11's final
    * packing happens to agree.
    */
  def curationFunnelSql(minAvgChars: Long = 300L, k: Int = 32,
                        bands: Int = 8, minBandHits: Int = 2): String =
    s"""WITH ${pipelineChainCtes(minAvgChars, k, bands, minBandHits)}
SELECT CAST(1 AS INT) AS stage, 'input' AS stage_name,
  (SELECT count(*) FROM documents) AS n_docs
UNION ALL SELECT 2, 'gated', (SELECT count(*) FROM gated)
UNION ALL SELECT 3, 'decontaminated', (SELECT count(*) FROM decsurv)
UNION ALL SELECT 4, 'deduped', (SELECT count(*) FROM surv)
UNION ALL SELECT 5, 'mixed', (SELECT count(*) FROM mixed)
UNION ALL SELECT 6, 'train',
  (SELECT count(*) FROM spl WHERE split = 'train')
UNION ALL SELECT 7, 'val', (SELECT count(*) FROM spl WHERE split = 'val')
UNION ALL SELECT 8, 'test', (SELECT count(*) FROM spl WHERE split = 'test')"""

  /** t12: benchmark decontamination — eval set = doc_id ≡ 3 mod 29, a
    * training doc is contaminated when ≥ minHits of its distinct 3-gram
    * shingles appear anywhere in the eval set. Mirror of
    * TextOps.decontaminate (same shingle CTE, same polyhash join key,
    * same left-join-from-docs so shingle-less docs report 0/0/clean).
    */
  def decontaminateSql(minHits: Int = 3): String =
    s"""WITH ${shingleCtes()},
phs AS (SELECT doc_id, ${ph("shingle")} AS ph FROM sh),
ev AS (SELECT DISTINCT ph, 1 AS hit FROM phs WHERE doc_id % 29 = 3),
st AS (
  SELECT c.doc_id, count(*) AS n_sh, count(ev.hit) AS n_hits
  FROM phs c LEFT JOIN ev USING (ph)
  WHERE c.doc_id % 29 <> 3
  GROUP BY c.doc_id)
SELECT d.doc_id,
  COALESCE(st.n_sh, 0) AS n_sh,
  COALESCE(st.n_hits, 0) AS n_hits,
  COALESCE(st.n_hits, 0) >= $minHits AS contaminated
FROM documents d LEFT JOIN st USING (doc_id)
WHERE d.doc_id % 29 <> 3"""

  /** t33: multi-suite decontamination — t12's chain with a suite tag on
    * the eval shingles and a dense (train doc × suite) output grid.
    */
  def multiSuiteDeconSql(nSuites: Int = 3, minHits: Int = 3): String =
    s"""WITH ${shingleCtes()},
phs AS (SELECT doc_id, ${ph("shingle")} AS ph FROM sh),
ev AS (
  SELECT DISTINCT CAST(doc_id % 29 - 3 AS INT) AS suite, ph
  FROM phs WHERE doc_id % 29 >= 3 AND doc_id % 29 < ${3 + nSuites}),
tr AS (
  SELECT doc_id, ph FROM phs
  WHERE NOT (doc_id % 29 >= 3 AND doc_id % 29 < ${3 + nSuites})),
hits AS (
  SELECT tr.doc_id, ev.suite, count(*) AS n_hits
  FROM tr JOIN ev USING (ph) GROUP BY tr.doc_id, ev.suite),
nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
grid AS (
  SELECT d.doc_id, CAST(s.s AS INT) AS suite, COALESCE(nsh.n_sh, 0) AS n_sh
  FROM documents d
  CROSS JOIN (SELECT unnest(range(0, $nSuites)) AS s) s
  LEFT JOIN nsh USING (doc_id)
  WHERE NOT (d.doc_id % 29 >= 3 AND d.doc_id % 29 < ${3 + nSuites}))
SELECT g.doc_id, g.suite, g.n_sh,
  COALESCE(h.n_hits, 0) AS n_hits,
  COALESCE(h.n_hits, 0) >= $minHits AS contaminated
FROM grid g LEFT JOIN hits h ON h.doc_id = g.doc_id AND h.suite = g.suite"""

  /** t23: repeated-n-gram coverage — mirror of TextOps.ngramCoverage:
    * distinct 3-gram shingles hashed to longs, shingle document
    * frequency, per-doc duplicated share, integer-crossed flag. CASTs
    * keep DuckDB's HUGEINT sums at BIGINT so the schema hash-matches.
    */
  def ngramCoverageSql(minDf: Int = 2, dropPct: Int = 50): String =
    s"""WITH ${shingleCtes()},
phs AS (SELECT doc_id, ${ph("shingle")} AS ph FROM sh),
dfreq AS (SELECT ph, count(*) AS ndocs FROM phs GROUP BY ph),
per AS (
  SELECT p.doc_id, count(*) AS n_sh,
    CAST(sum(CASE WHEN d.ndocs >= $minDf THEN 1 ELSE 0 END) AS BIGINT)
      AS dup_sh
  FROM phs p JOIN dfreq d USING (ph)
  GROUP BY p.doc_id)
SELECT doc_id, n_sh, dup_sh,
  dup_sh * 100 >= n_sh * $dropPct AS flagged
FROM per"""

  /** d15: longest duplicated-shingle run — positional shingles (DuckDB
    * zips the two unnest calls, so pos aligns with its shingle; 1-based
    * vs Spark's 0-based posexplode is absorbed by the islands DIFFERENCE),
    * dup-flagged by the same distinct-per-doc document frequency as t23,
    * runs via pos − row_number gaps-and-islands.
    */
  def dupRunSql(minDf: Int = 2): String =
    s"""WITH ${shingleCtes()},
psh AS (
  SELECT doc_id,
    unnest(range(1, greatest(len(t) - 1, 1))) AS pos,
    unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks),
rdfreq AS (
  SELECT ph, count(*) AS ndocs
  FROM (SELECT doc_id, ${ph("shingle")} AS ph FROM sh)
  GROUP BY ph),
rflag AS (
  SELECT p.doc_id, p.pos, d.ndocs >= $minDf AS dup
  FROM (SELECT doc_id, pos, ${ph("shingle")} AS ph FROM psh) p
  JOIN rdfreq d USING (ph)),
rruns AS (
  SELECT doc_id, grp, count(*) AS run FROM (
    SELECT doc_id,
      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM rflag WHERE dup)
  GROUP BY doc_id, grp),
rmax AS (SELECT doc_id, max(run) AS max_dup_run FROM rruns GROUP BY doc_id),
rbase AS (SELECT doc_id, count(*) AS n_pos FROM rflag GROUP BY doc_id)
SELECT b.doc_id, b.n_pos,
  CAST(COALESCE(m.max_dup_run, 0) AS BIGINT) AS max_dup_run
FROM rbase b LEFT JOIN rmax m USING (doc_id)"""

  /** d14: fuzzy decontamination — mirror of TextOps.fuzzyDecon: banded
    * MinHash collisions between train (doc_id % 29 <> 3) and the eval
    * carve-out, ≥`minBandHits` band votes, exact-Jaccard ≥ 1/2 verify on
    * candidates only, contaminated_by = min verified eval partner.
    * Reuses the shared shingle/minhash CTEs (their `voted` CTE goes
    * unused — DuckDB only evaluates referenced CTEs).
    */
  def fuzzyDeconSql(k: Int = 32, bands: Int = 8,
                    minBandHits: Int = 2): String =
    s"""WITH ${shingleCtes()} ${minhashCtes(k, bands)},
fvote AS (
  SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS band_hits
  FROM banded t JOIN banded e
    ON t.band = e.band AND t.bucket = e.bucket
   AND t.doc_id % 29 <> 3 AND e.doc_id % 29 = 3
  GROUP BY t.doc_id, e.doc_id),
fcand AS (SELECT train_id, eval_id FROM fvote WHERE band_hits >= $minBandHits),
fsizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
finter AS (
  SELECT train_id, eval_id, count(*) AS inter
  FROM fcand
  JOIN sh s1 ON s1.doc_id = train_id
  JOIN sh s2 ON s2.doc_id = eval_id AND s2.shingle = s1.shingle
  GROUP BY train_id, eval_id),
fdup AS (
  SELECT f.train_id, min(f.eval_id) AS contaminated_by
  FROM finter f
  JOIN fsizes s1 ON s1.doc_id = f.train_id
  JOIN fsizes s2 ON s2.doc_id = f.eval_id
  WHERE f.inter * 10 >= (s1.n_sh + s2.n_sh - f.inter) * 5
  GROUP BY f.train_id)
SELECT d.doc_id, contaminated_by IS NOT NULL AS is_contaminated,
  contaminated_by
FROM documents d LEFT JOIN fdup ON fdup.train_id = d.doc_id
WHERE d.doc_id % 29 <> 3"""

  /** d9: per-source KMV distinct-token sketch — mirror of
    * TextOps.kmvDistinct (including the Knuth multiplicative finalizer
    * that de-clusters polynomial hashes of similar tokens). The k
    * smallest distinct token hashes per source via row_number; the
    * estimate's integer division (`//`) equals the JVM's `/` on positive
    * longs, so the estimate itself hash-matches.
    */
  def kmvSql(k: Int = 64): String = {
    val num = (k - 1).toLong * P31
    val mul = graft.functions.VectorOps.HashMul
    s"""WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT DISTINCT source,
  (${ph("'kmv|' || tok")} * $mul) % $P31 AS h FROM toks),
r AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
    count(*) OVER (PARTITION BY source) AS nd
  FROM h)
SELECT source,
  CAST(least(max(nd), $k) AS INT) AS n_mins,
  CASE WHEN max(nd) >= $k THEN max(CASE WHEN rn = $k THEN h END)
       ELSE CAST(-1 AS BIGINT) END AS kth_min,
  CASE WHEN max(nd) >= $k THEN $num // max(CASE WHEN rn = $k THEN h END)
       ELSE max(nd) END AS est_distinct
FROM r GROUP BY source"""
  }

  /** d10: source-overlap matrix — mirror of TextOps.sourceOverlap. Per
    * source the k smallest distinct finalized shingle hashes (the KMV
    * sketch) via row_number; per pair the k smallest of the sketch union
    * with membership flags, counted with pure integer math. DuckDB
    * permits lateral alias reuse in the final SELECT.
    */
  def sourceOverlapSql(k: Int = 64): String = {
    val mul = graft.functions.VectorOps.HashMul
    s"""WITH ${shingleCtes()},
srcsh AS (
  SELECT d.source, (${ph("'ovl|' || s.shingle")} * $mul) % $P31 AS h
  FROM sh s JOIN documents d USING (doc_id)),
phs AS (SELECT DISTINCT source, h FROM srcsh),
r AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM phs),
sk AS (SELECT source, h FROM r WHERE rn <= $k),
pairs AS (
  SELECT a.source AS s1, b.source AS s2
  FROM (SELECT DISTINCT source FROM sk) a
  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
u AS (
  SELECT p.s1, p.s2, sk.h,
    bool_or(sk.source = p.s1) AS in_a,
    bool_or(sk.source = p.s2) AS in_b
  FROM pairs p JOIN sk ON sk.source = p.s1 OR sk.source = p.s2
  GROUP BY p.s1, p.s2, sk.h),
ru AS (
  SELECT s1, s2, in_a, in_b,
    row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn,
    count(*) OVER (PARTITION BY s1, s2) AS nu
  FROM u)
SELECT s1 AS src1, s2 AS src2,
  CAST(least(max(nu), $k) AS INT) AS k_used,
  CAST(count(*) FILTER (WHERE rn <= $k AND in_a AND in_b) AS INT)
    AS n_common,
  (1000 * n_common) // k_used AS jaccard_x1000
FROM ru GROUP BY s1, s2"""
  }

  /** t13: deterministic ~k-per-source sample — mirror of
    * TextOps.samplePerSource. Threshold = the source's k-th smallest
    * DISTINCT finalized doc_id hash (MaxValue when the source has fewer
    * than k docs); the sample is every doc at or below it.
    */
  def samplePerSourceSql(k: Int = 25): String = {
    val mul = graft.functions.VectorOps.HashMul
    s"""WITH h AS (
  SELECT source, doc_id,
    (${ph("'smp|' || CAST(doc_id AS VARCHAR)")} * $mul) % $P31 AS h
  FROM documents),
d AS (SELECT DISTINCT source, h AS dh FROM h),
r AS (
  SELECT source, dh,
    row_number() OVER (PARTITION BY source ORDER BY dh) AS rn,
    count(*) OVER (PARTITION BY source) AS nd
  FROM d),
th AS (
  SELECT source,
    CASE WHEN max(nd) >= $k THEN max(CASE WHEN rn = $k THEN dh END)
         ELSE 9223372036854775807 END AS th
  FROM r GROUP BY source)
SELECT h.doc_id, h.source, h.h
FROM h JOIN th USING (source)
WHERE h.h <= th.th"""
  }

  /** t18: per-source token-budget sample — mirror of
    * TextOps.tokenBudgetSample. The oracle states the SEMANTICS directly
    * (one cumulative window per source over (hash, doc_id) order, admit
    * while the strictly-preceding token total is under budget); the
    * Spark operator reaches the identical row set through the bucketed
    * histogram + boundary-bucket-only window.
    */
  def tokenBudgetSql(budget: Long = 600L): String = {
    val mul = graft.functions.VectorOps.HashMul
    s"""WITH h AS (
  SELECT doc_id, source,
    (${ph("'tbs|' || CAST(doc_id AS VARCHAR)")} * $mul) % $P31 AS h,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
s AS (
  SELECT doc_id, source, n_tok,
    COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM h)
SELECT doc_id, source, n_tok FROM s WHERE cb < $budget"""
  }

  /** t20: deterministic global training-order shuffle — the oracle
    * states the semantics directly (row_number over the global
    * (hash, doc_id) order); the Spark operator reaches the identical
    * permutation through range-bucketed offsets + bounded per-bucket
    * windows (no global sort).
    */
  def globalShuffleSql: String = {
    val mul = graft.functions.VectorOps.HashMul
    s"""WITH h AS (
  SELECT doc_id,
    (${ph("'gs|' || CAST(doc_id AS VARCHAR)")} * $mul) % $P31 AS h
  FROM documents)
SELECT doc_id, h AS shuffle_key,
  CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
FROM h"""
  }

  /** t15: segment-level dedup — mirror of TextOps.segmentDedup. The
    * oracle uses the row_number window (the oracle tier); the Spark
    * operator's min-struct aggregate is keep-first-identical. string_agg
    * ORDER BY seg_idx = concat_ws over the array_sort'ed struct list;
    * empty survivors COALESCE to '' to match concat_ws's non-null "".
    */
  def segmentDedupSql(segTokens: Int = 10): String = {
    val w = segTokens
    s"""WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
e AS (
  SELECT doc_id, toks,
    unnest(range((len(toks) + ${w - 1}) // $w)) AS seg_idx
  FROM t),
segs AS (
  SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
    array_to_string(toks[seg_idx*$w+1 : seg_idx*$w+$w], ' ') AS seg
  FROM e),
ranked AS (
  SELECT doc_id, seg_idx, seg,
    row_number() OVER (PARTITION BY sha256(seg)
                       ORDER BY doc_id, seg_idx) AS rn
  FROM segs)
SELECT doc_id, count(*) AS n_segs,
  count(*) FILTER (WHERE rn = 1) AS n_kept,
  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1),
           '') AS clean_text
FROM ranked GROUP BY doc_id"""
  }

  /** t22: deterministic mixture resampling — mirror of TextOps.upsample
    * (⌊w⌋ copies + one hash-gated fractional copy; w = 0 drops the
    * source, unlisted sources take the default weight).
    */
  def upsampleSql(weightsX1000: Seq[(String, Long)],
                  defaultX1000: Long = 1000L): String = {
    val mul = graft.functions.VectorOps.HashMul
    val vals = weightsX1000
      .map { case (s, w) => s"('$s', CAST($w AS BIGINT))" }.mkString(", ")
    s"""WITH w(source, wx) AS (VALUES $vals),
c AS (
  SELECT doc_id, d.source,
    COALESCE(w.wx, $defaultX1000) // 1000 +
    CASE WHEN (${ph("'up|' || CAST(doc_id AS VARCHAR)")} * $mul) % $P31
          % 1000 < COALESCE(w.wx, $defaultX1000) % 1000
         THEN 1 ELSE 0 END AS copies
  FROM documents d LEFT JOIN w ON d.source = w.source)
SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS copy
FROM c"""
  }
}
