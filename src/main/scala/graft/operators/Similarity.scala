package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float], unit-norm in
  * the test corpus, so dot product == cosine).
  *
  * Determinism note: scores are computed on int64-quantized components
  * (round(x*10000)) so the sum is exact integer arithmetic — order-free,
  * overflow-free (64 dims × (3e4)² ≈ 5.8e10 « 2^63), and bit-identical
  * to the DuckDB oracle. Float dot products would differ in ulps across
  * engines and make top-k nondeterministic at ties. The LSH hyperplanes
  * (d8's banded candidates) and the k-means centroids (e8's cells) are
  * likewise pure integer arithmetic, so every embedding query has a full
  * cross-engine oracle (SimOracles).
  */
object Similarity {

  // Deterministic ±1 sign families: a Knuth multiplicative hash of the
  // (plane, dim) index — no RNG state (replayable) and pure int64
  // arithmetic, mirrored digit-for-digit in the DuckDB oracle SQL
  // (SimOracles). A small-modulus formula like ((p*131+i*31)%7)%2 is NOT
  // enough: it repeats with period 7 in p, so planes 7+ duplicate planes
  // 0+ and extra bands add no recall. Max operand at 84 planes:
  // (84*131071+65)*2654435761 ≈ 2.9e16 « 2^63.
  val HashMul: Long = graft.functions.VectorOps.HashMul
  val HashMod: Long = graft.functions.VectorOps.HashMod
  /** hyperplane family salt (embeddingNearDupLadder) */
  val PlaneSalt = 0L

  private def quantized(e: Column): Column =
    // codegen'd loop (functions.QuantizeVec) — the HOF transform ran an
    // interpreted round/cast lambda per element on every corpus scan;
    // values are bit-identical (differential-checked incl. ±midpoints,
    // tools.QuantizeKernelCheck)
    graft.functions.quantize_vec(e)

  /** ±1 hyperplane sign-bit array (one per plane) for a quantized vector —
    * a codegen'd SignProjections loop (the HOF form ran n interpreted
    * lambda dot products per row and dominated d8 wall time);
    * materialize the result as a column before fanning out per band, or
    * projection collapse re-inlines it per consumer.
    */
  private def planeBits(qe: Column, nPlanes: Int): Column =
    transform(graft.functions.sign_projections(qe, nPlanes, PlaneSalt),
      d => when(d > 0, 1L).otherwise(0L))

  /** Per-band bucket ids from the bit array: band b packs rowsPerBand bits. */
  private def bandBuckets(bits: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      (0 until rowsPerBand).map { j =>
        element_at(bits, b * rowsPerBand + j + 1) * (1L << j)
      }.reduce(_ + _)
    }: _*)

  private def dotCols(a: Column, b: Column): Column =
    graft.functions.dot_long(a, b)

  /** Per-query top-k of a scored (qid, nid, dot) set via the typed
    * heap-merge aggregator — map-side partial top-k per (query,
    * partition), so ≤ k·tasks rows cross the exchange. The row_number
    * window form shuffles EVERY scored row into |queries| reducer
    * partitions — fatal once the scored set is a large corpus fraction
    * (brute force scores all of it). Row-identical to the window form
    * (ties by smaller nid), spec-asserted.
    */
  private def topKByDot(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val topK = new graft.functions.TopKAggregator(k).toColumn
    scored.select(col("qid"), col("dot"), col("nid"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, d, n) => (d, n) }
      .agg(topK.name("top"))
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case ((d, n), i) => (qid, n, d, i + 1) }
      }
      .toDF("qid", "nid", "dot", "rnk")
  }

  /** Exact top-k by quantized dot product, brute force: broadcast the
    * query set (small) against the full corpus — one pass, no shuffle of
    * the corpus side. The final per-query top-k here is the row_number
    * WINDOW form — kept as the reference implementation (it mirrors the
    * SQL oracle structurally); [[knnBruteAgg]] uses the heap-merge
    * [[topKByDot]] instead, which is spec-asserted row-identical.
    */
  def knnBrute(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val corpus = emb.select(col("vec_id").as("nid"),
      quantized(col("embedding")).as("qe_n"))
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), quantized(col("embedding")).as("qe_q"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("dot").desc, col("nid"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .withColumn("dot", dotCols(col("qe_q"), col("qe_n")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("nid"), col("dot"), col("rnk"))
  }

  /** knnBrute via the typed TopKAggregator instead of a row_number window:
    * partial top-k per partition, merge of k-heaps — moves ≤ k rows per
    * (query, partition) instead of shuffling every candidate row. Same
    * results as [[knnBrute]] (asserted in SimilaritySpec).
    */
  def knnBruteAgg(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val eq = emb.select(col("vec_id"), quantized(col("embedding")).as("qe"))
    val corpus = eq.select(col("vec_id").as("nid"), col("qe").as("qe_n"))
    val queries = eq.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qe").as("qe_q"))
    topKByDot(corpus.crossJoin(broadcast(queries))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        dotCols(col("qe_q"), col("qe_n")).as("dot")), k)
  }

  /** Embedding-cosine near-duplicate pairs: exact all-pairs quantized dot
    * above an integer threshold (unit-norm corpus ⇒ dot == cosine;
    * threshold 0.40 on this corpus (its max pairwise cosine is 0.48) ⇒
    * qdot ≥ 0.40·10⁴·10⁴). Exact tier — at corpus scale run
    * [[embeddingNearDupLadder]] (LSH blocking from CONTENT, no label
    * needed) and keep this as the verify-inside-buckets definition.
    */
  def embeddingNearDupPairs(emb: DataFrame,
                            threshold: Long = 40000000L): DataFrame = {
    // blocked on the label column (standard dedup blocking — near-dups of
    // a labeled corpus share the label): the pair space shrinks |labels|×,
    // and the join is an equi-join on label instead of a cross join.
    // All-pairs-without-blocking was measured 82 s at sf0.1; this is ~6 s.
    val a = emb.select(col("vec_id").as("id1"), col("label"),
      quantized(col("embedding")).as("q1"))
    val b = emb.select(col("vec_id").as("id2"), col("label").as("l2"),
      quantized(col("embedding")).as("q2"))
    a.join(b, col("label") === col("l2") && col("id1") < col("id2"))
      .withColumn("qdot", dotCols(col("q1"), col("q2")))
      .filter(col("qdot") >= threshold)
      .select(col("id1"), col("id2"), col("qdot"))
  }

  /** The embedding near-dup LADDER — the 100 TB shape: banded hyperplane-
    * LSH candidate generation (linear: per-row signature bits + a groupBy-
    * shaped band join) → exact quantized-dot verify on candidate pairs
    * ONLY. Mirrors TextOps.nearDupLadder; unlike [[embeddingNearDupPairs]]
    * it needs no label column — blocking comes from the vectors
    * themselves. Recall follows the band S-curve
    * P(candidate) = 1-(1-(1-θ/π)^rowsPerBand)^bands; pairs the bands miss
    * are absent (documented approximation, like d2/d7 for text).
    */
  def embeddingNearDupLadder(emb: DataFrame, bands: Int = 5,
                             rowsPerBand: Int = 6,
                             threshold: Long = 40000000L): DataFrame = {
    val base = emb.select(col("vec_id"), quantized(col("embedding")).as("qe"))
      // one materialized bit array per row (an inline expression would be
      // re-inlined per consumer by projection collapse — the r1 trap);
      // checkpointed because FOUR consumers read it (both sides of the
      // band self-join, both sides of the vector join-back) and none of
      // the occurrences reuses another's exchange — the quantize +
      // sign-projection scan otherwise runs once per consumer
      .withColumn("bits", planeBits(col("qe"), bands * rowsPerBand))
      .localCheckpoint()
    // band join moves ONLY (id, band, bucket) — never the vectors: bucket
    // skew (label clusters) makes collision volume ≫ candidate count, and
    // carrying two 64-long arrays per collision row was measured 20s vs 4s
    // at sf0.1. Dedupe id-pairs first, then join the vectors back once.
    val banded = base.select(col("vec_id"),
      posexplode(bandBuckets(col("bits"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
    val a = banded.as("a")
    val b = banded.as("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    val qe = base.select(col("vec_id"), col("qe"))
    cand
      .join(qe.select(col("vec_id").as("id1"), col("qe").as("q1")), "id1")
      .join(qe.select(col("vec_id").as("id2"), col("qe").as("q2")), "id2")
      .select(col("id1"), col("id2"), dotCols(col("q1"), col("q2")).as("qdot"))
      .filter(col("qdot") >= threshold)
      .select(col("id1"), col("id2"), col("qdot"))
  }

  // ------------------------------------------------ learned cells (k-means)

  /** Per-row array of (dist, cell) structs against LITERAL centroids:
    * dist = ||c||² − 2·x·c (the ||x||² term is constant per row, so the
    * argmin is the true L2 argmin) — exact int64 arithmetic, max operand
    * 64·(3e4)²·2 ≈ 1.2e11 « 2⁶³. Struct order (dist, cell) makes every
    * min/sort lexicographic ⇒ deterministic cell tie-break, mirrored by
    * the oracle's ORDER BY dist, cell.
    */
  private def cellDists(cents: Array[Array[Long]]): Column =
    // one codegen'd kernel node (functions.CellDists) instead of the
    // nCells × dim inlined-literal array(struct(lit(c2) − 2·dot(...)))
    // tree: identical exact-int64 arithmetic and (dist, cell) struct
    // order, but Catalyst no longer walks ~1k literal leaves per rule
    // per query (measured as the dominant driver cost)
    graft.functions.cell_dists(col("qe"), cents)

  /** Deterministic seeded Lloyd's k-means over the quantized vectors —
    * the learned cells of [[semanticDedup]]. Seeds are the vectors with
    * vec_id < nCells (fixed, replayable); `iters` fixed iterations of
    * assign → integer-mean update (component = Σx DIV n, truncating
    * division — identical in Scala `/` and DuckDB `//`); empty cells
    * keep their previous centroid. All arithmetic is exact int64, so the DuckDB oracle
    * (SimOracles.kmeansCtes) unrolls the same iterations digit-for-digit.
    *
    * Scale shape: each iteration is one corpus pass (assignment is
    * in-row against literal centroids — no join) + one (nCells × dim)-row
    * aggregate collected to the driver, exactly Lloyd's on Spark (MLlib
    * KMeans does the same treeAggregate-to-driver). At 100 TB train the
    * quantizer on a deterministic subsample (e.g. pmod(hash(id), S) = 0)
    * — the in-row assignment is unchanged.
    */
  def kmeansCentroids(emb: DataFrame, nCells: Int = 16,
                      iters: Int = 4): Array[Array[Long]] = {
    // eager function (collect per iteration), so cache/unpersist is
    // leak-free here: without it every Lloyd pass re-scans the source
    // and re-runs the quantization projection
    val q = emb.select(col("vec_id"), quantized(col("embedding")).as("qe"))
      .cache()
    try {
      var cents: Array[Array[Long]] = q.filter(col("vec_id") < nCells)
        .orderBy(col("vec_id")).collect()
        .map(_.getAs[scala.collection.Seq[Long]]("qe").toArray)
      // seeding takes the vectors with vec_id < nCells: a corpus with
      // sparse/offset vec_ids can yield fewer (or zero) seeds, and an
      // empty centroid array would surface later as an opaque executor
      // NPE (array_min over an empty cellDists array is NULL). Fail the
      // contract loudly here instead.
      require(cents.nonEmpty,
        s"kmeansCentroids: no seed vectors (need rows with vec_id < $nCells" +
          " — corpus vec_ids must start at 0)")
      if (cents.length < nCells)
        System.err.println(s"[kmeansCentroids] WARN: only ${cents.length} of " +
          s"$nCells seed vectors present (sparse vec_ids) — fewer cells")
      for (_ <- 0 until iters) {
        val sums = q.withColumn("cell",
            array_min(cellDists(cents)).getField("cell"))
          .select(col("cell"), posexplode(col("qe")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        sums.foreach { r =>
          next(r.getAs[Int]("cell"))(r.getAs[Int]("i")) =
            r.getAs[Long]("s") / r.getAs[Long]("n")
        }
        cents = next
      }
      cents
    } finally { q.unpersist(): Unit }
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the learned k-means coarse
    * quantizer ([[kmeansCentroids]]), then prune within-cluster semantic
    * duplicates — pairs whose quantized cosine ≥ `threshold` — keeping the
    * smallest vec_id of each duplicate pair. Per paper and per this tier's
    * keep-first convention (d7/t15), a vector is a DUP if ANY
    * smaller-id vector in its cell clears the threshold, whether or not
    * that vector is itself a dup — one aggregate, no iterative chasing;
    * transitive chains collapse toward the smallest id of each clique.
    *
    * Output: one verdict row per vector — (vec_id, cell, dup_of, keep)
    * where dup_of = min qualifying smaller id (NULL for survivors).
    *
    * Scale shape (the SemDeDup design point): clustering bounds the pair
    * space to Σ|cell|² instead of n² — nCells grows with the corpus so
    * |cell| stays bounded (the paper runs ~11k clusters on LAION; train
    * centroids on a hash subsample at 100 TB, as [[kmeansCentroids]]
    * documents). Cell assignment is IN-ROW against literal centroids (no
    * centroid join, no assignment window); the within-cell pair join is a
    * plain equi-join on cell whose every collision IS a scored candidate
    * (unlike the band joins there is no dedupe-ids-first win — candidate
    * volume equals collision volume, so vectors ride the one join
    * directly); dup verdicts reduce through a map-side partial min and
    * join back to the KB-sized verdict relation via AQE broadcast.
    */
  def semanticDedup(emb: DataFrame, nCells: Int = 16, iters: Int = 4,
                    threshold: Long = 40000000L): DataFrame = {
    val cents = kmeansCentroids(emb, nCells, iters)
    val assigned = emb
      .select(col("vec_id"), quantized(col("embedding")).as("qe"))
      .withColumn("cell", array_min(cellDists(cents)).getField("cell"))
    val a = assigned.select(col("cell"), col("vec_id").as("id1"),
      col("qe").as("q1"))
    val b = assigned.select(col("cell").as("cell2"), col("vec_id").as("id2"),
      col("qe").as("q2"))
    val dupOf = a.join(b,
        col("cell") === col("cell2") && col("id1") < col("id2"))
      .filter(dotCols(col("q1"), col("q2")) >= threshold)
      .groupBy(col("id2").as("vec_id"))
      .agg(min(col("id1")).as("dup_of"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------------------------ hybrid lexical + dense

  /** e31 — hybrid retrieval by reciprocal-rank fusion (RRF, Cormack et
    * al. 2009): fuse the BM25 lexical top-`kEach` (TextOps.bm25TopK over
    * `documents`, t16's scorer) with the dense top-`kEach` of the id-0
    * embedding query (the heap-merge [[knnBruteAgg]]) —
    * `documents.doc_id` and `embeddings.vec_id` share an id space, the
    * doc↔its-embedding pairing every hybrid search index maintains.
    * score = Σ_lists 1/(c + rank), the rank-only fusion that needs NO
    * cross-list score calibration (why RRF beat CombSUM in TREC and is
    * what Elasticsearch/Vespa/Weaviate ship as their hybrid default).
    * Kept integer-exact for the oracle: rrf_x1m = Σ 1000000 div (c+rank)
    * (positive quotients, so Spark `div` and DuckDB `//` agree), absent
    * list membership contributes 0, ranks surface as nullable ints.
    *
    * Scale shape: both inputs are top-k serving paths (bm25TopK's
    * broadcast df-join + TakeOrdered, knnBruteAgg's k-heap merge), so
    * the fusion joins two ≤kEach-row lists — driver-trivial by
    * construction no matter the corpus size; the global row_number
    * ranking the lexical list runs AFTER its LIMIT (kEach rows, one
    * partition, the t10 bounded-window argument). At 100 TB the only
    * heavy work is inside the two retrieval tiers, which swap freely
    * for approximate or pruned forms without touching the fusion.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                kEach: Int = 20, kOut: Int = 10, c: Int = 60): DataFrame = {
    val lex = graft.operators.TextOps.bm25TopK(docs, queryTerms, kEach)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_x1000").desc, col("doc_id"))).cast("int"))
      .select(col("doc_id"), col("lex_rank"))
    val vec = knnBruteAgg(emb, nQueries = 1, k = kEach)
      .select(col("nid").as("doc_id"), col("rnk").cast("int").as("vec_rank"))
    val term = (r: String) =>
      coalesce(expr(s"1000000 div ($c + $r)").cast("long"), lit(0L))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        (term("lex_rank") + term("vec_rank")).as("rrf_x1m"))
      .orderBy(col("rrf_x1m").desc, col("doc_id"))
      .limit(kOut)
  }
}
