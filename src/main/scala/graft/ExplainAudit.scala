package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.Transcripts

/** Plan auditor: prints the formatted physical plan of the headline
  * pipeline and key queries, and greps for the properties that must hold
  * at scale — a join-free enrich (driver-built dim lookup), pushed
  * filters / pruned schema on scans, whole-stage codegen coverage.
  * Dev/CI aid.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name: String, df: org.apache.spark.sql.DataFrame,
              expect: Seq[String], forbid: Seq[String] = Nil): Unit = {
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // AQE hides codegen stages until execution: materialize, then unwrap
      // the FINAL adaptive plan
      df.collect()
      val executed = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.finalPhysicalPlan.toString
        case p => p.toString
      }
      val plan = formatted + "\n" + executed
      println(s"===== $name =====")
      println(formatted)
      expect.foreach { e =>
        val ok = plan.contains(e)
        println(s"[audit] $name ${if (ok) "HAS" else "MISSING"} <$e>")
      }
      forbid.foreach { e =>
        val bad = plan.contains(e)
        println(s"[audit] $name ${if (bad) "VIOLATES" else "CLEAN-OF"} <$e>")
      }
    }

    val turns = Transcripts.transcripts(spark, sfDir)
    val headline = Pipeline.sinkCounts(Pipeline.route(Pipeline.enrich(
      Pipeline.filterValid(Pipeline.parse(turns)), Transcripts.toolDim(spark))))
    // "*(" = whole-stage-codegen stage marker in the executed plan tree;
    // the enrich is a projection through the dim lookup: no join, and no
    // broadcast exchange for the dim
    val noEnrichJoin = Seq("BroadcastHashJoin", "BroadcastExchange",
      "SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin")
    audit("headline", headline,
      Seq("tool_dim_lookup", "*(", "HashAggregate"), forbid = noEnrichJoin)

    // scan-level pushdown: a selective filter + narrow projection on events
    val pushed = Transcripts.events(spark, sfDir)
      .filter(col("event_type") === "error")
      .select("event_id", "ts")
    audit("scan_pushdown", pushed, Seq("PushedFilters: [IsNotNull(event_type)",
      "ReadSchema: struct<event_id:bigint,ts"))

    val q9 = SparkEntry.queries("q9_topk")(spark, sfDir)
    audit("q9_topk", q9, Seq("TakeOrderedAndProject"))

    val q4 = SparkEntry.queries("q4_semi_join")(spark, sfDir)
    audit("q4_semi", q4, Seq("LeftSemi", "PushedFilters: [IsNotNull(o_totalprice)"))

    // e8 SemDeDup: cell assignment is in-row against literal centroids
    // (no centroid join), the within-cell pair join is an equi-join on
    // cell (every collision IS a candidate — no cross join), dup verdicts
    // reduce through a map-side partial_min before the exchange, and the
    // verdict join-back must not be a Window-ranked anything
    audit("e8_semdedup", SparkEntry.queries("e8_semdedup")(spark, sfDir),
      Seq("partial_min"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))

    // q20 as-of: union-merge window form — no join at all, one exchange
    audit("q20_asof", SparkEntry.queries("q20_asof_join")(spark, sfDir),
      Seq("Window"), forbid = Seq("CartesianProduct", "SortMergeJoin"))

    // t11 end-to-end pipeline: the pack window partitions on
    // (split|source, shard); the ladder's band/shingle joins are
    // legitimate hash-shuffle joins — but NO stage may introduce a
    // cartesian/nested-loop product. The gate/redact/decon stages now
    // sit ABOVE the eager stage-boundary checkpoints (each computed
    // exactly once): the audited plan must read from the materialized
    // boundary (ExistingRDD) and contain NO redaction expression —
    // regexp_replace appearing here would mean the boundary failed and
    // the redacted relation is recomputed per consumer again (t6's plan
    // proves the marker fires when redaction IS in-plan).
    audit("t11_corpus_pipeline",
      SparkEntry.queries("t11_corpus_pipeline")(spark, sfDir),
      Seq("Window", "ExistingRDD"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "regexp_replace"))
    val t6Plan = SparkEntry.queries("t6_redact")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println(s"[audit] t6_redact marker-check ${
      if (t6Plan.contains("regexp_replace")) "HAS" else "MISSING"} <regexp_replace>")

    // t7 source gate: the per-source rollup joins back as a BROADCAST
    // LEFT SEMI — the corpus side is never shuffled
    audit("t7_source_gate",
      SparkEntry.queries("t7_source_filter")(spark, sfDir),
      Seq("BroadcastHashJoin", "LeftSemi"),
      forbid = Seq("SortMergeJoin", "CartesianProduct"))

    // t12 decontamination: the eval shingle-hash set (benchmark-sized in
    // production) marks hits via a broadcast INNER join on the corpus's
    // one shingle pass; only hit rows reach the groupBy(doc_id), which
    // must combine map-side (partial_count) before its exchange. No
    // product join may appear.
    audit("t12_decontaminate",
      SparkEntry.queries("t12_decontaminate")(spark, sfDir),
      Seq("BroadcastHashJoin", "partial_count"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))

    // d14 fuzzy decon: banded train-vs-eval index join + candidate-scoped
    // exact verify — the d12 shape cross-relation; dup verdicts are min
    // aggregates (partial_min two-phase), never a rank window, and every
    // band/shingle join is equi (no product join)
    audit("d14_fuzzy_decon",
      SparkEntry.queries("d14_fuzzy_decon")(spark, sfDir),
      Seq("partial_min"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // t23 repeated-n-gram coverage: shingles cross exchanges as longs
    // only; the shingle-df count and the per-doc coverage agg both
    // combine map-side (partial_count) — a boilerplate shingle in
    // millions of docs is absorbed before its exchange; no window, no
    // product join
    audit("t23_ngram_coverage",
      SparkEntry.queries("t23_ngram_coverage")(spark, sfDir),
      Seq("partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // t13 per-source sample: MinK thresholds (partial+final) broadcast
    // back as a per-row filter — never a per-source ORDER BY/window
    audit("t13_sample_source",
      SparkEntry.queries("t13_sample_source")(spark, sfDir),
      Seq("BroadcastHashJoin", "partial_minkaggregator"),
      forbid = Seq("Window", "CartesianProduct"))

    // t14 unigram quality: vocab top-V must be TakeOrderedAndProject
    // (per-partition heaps, V rows to the driver — not Sort->Limit over
    // the whole frequency table), the vocab joins broadcast, and the
    // per-doc groupBy combines map-side
    audit("t14_unigram_quality",
      SparkEntry.queries("t14_unigram_quality")(spark, sfDir),
      Seq("TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "GlobalLimit"))

    // t15 segment dedup: corpus-wide keep-first on segment hashes via a
    // two-phase min over ONE packed long — a struct min would plan a
    // SortAggregate (sorting every segment row per partition), so
    // SortAggregate is forbidden alongside Window; a boilerplate segment
    // duplicated millions of times combines map-side, never one reducer
    audit("t15_segment_dedup",
      SparkEntry.queries("t15_segment_dedup")(spark, sfDir),
      Seq("partial_min"),
      forbid = Seq("Window", "CartesianProduct", "SortAggregate"))

    // d1 exact dedup: keep-first via two-phase min(doc_id) aggregate —
    // map-side partial_min absorbs a boilerplate fingerprint duplicated
    // millions of times; a row_number window would sort that key's whole
    // partition on one reducer
    audit("d1_exact_dedup",
      SparkEntry.queries("d1_dedup_exact")(spark, sfDir),
      Seq("partial_min"),
      forbid = Seq("Window", "CartesianProduct"))

    // d11 transitive dup clusters: the iterative hash-to-min loop runs at
    // construction (each round checkpointed so lineage/plans stay flat);
    // the audited final plan is docs ⋈ converged-labels reading from the
    // checkpoint boundary — no product join anywhere, and no Window (the
    // per-component work is min-aggregates, never a rank)
    audit("d11_dup_clusters",
      SparkEntry.queries("d11_dup_clusters")(spark, sfDir),
      Seq("ExistingRDD"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))

    // d13 star-contraction clustering: the alternating large/small-star
    // rounds run at construction (checkpoint-per-round, like d11); the
    // audited final plan joins docs against the converged star-forest
    // labels off the checkpoint boundary — same prohibitions as d11
    audit("d13_dup_clusters_star",
      SparkEntry.queries("d13_dup_clusters_star")(spark, sfDir),
      Seq("ExistingRDD"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))

    // t25 bigram LM quality: hashed bigram/prefix count tables combine
    // map-side (partial_count) and join back long-keyed — never a rank
    // window, never a product join
    audit("t25_bigram_lm",
      SparkEntry.queries("t25_bigram_lm")(spark, sfDir),
      Seq("partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // t24 cluster-aware split: d11's converged labels off the checkpoint
    // boundary plus ONE per-row hash — same prohibitions as d11 (the
    // split adds no exchange of its own)
    audit("t24_cluster_split",
      SparkEntry.queries("t24_cluster_split")(spark, sfDir),
      Seq("ExistingRDD"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))

    // d15 longest dup run: the dfreq side is t23's map-side-combining
    // long count (partial_count); the Window here is LEGITIMATE — it
    // partitions by doc_id so every partition is bounded by one document,
    // never by the corpus (the t10 packing argument) — so only the
    // product joins are banned
    audit("d15_dup_run",
      SparkEntry.queries("d15_dup_run")(spark, sfDir),
      Seq("partial_count"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))

    // d12 incremental dedup: banded index joins + candidate-scoped verify
    // — all legitimate hash exchanges; no rank window anywhere (dup_of is
    // a min aggregate) and no product join (the band joins are equi)
    audit("d12_incremental_dedup",
      SparkEntry.queries("d12_incremental_dedup")(spark, sfDir),
      Seq("partial_min"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // d22: d12 through the PERSISTED band index — the probed side must
    // be a parquet SCAN of the artifact (no re-signature of the corpus
    // on the banding path), same min-aggregate/equi-join contract
    audit("d22_incremental_indexed",
      SparkEntry.queries("d22_incremental_indexed")(spark, sfDir),
      Seq("partial_min", "dedup_index"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // t16 BM25: the token explode prunes to query terms in-scan (literal
    // in-filter), tf/df aggregate two-phase, the |terms|-row df table
    // joins back broadcast, and top-k is TakeOrderedAndProject — a
    // GlobalLimit would mean a full global sort of every scored doc
    audit("t16_bm25",
      SparkEntry.queries("t16_bm25")(spark, sfDir),
      Seq("TakeOrderedAndProject", "BroadcastHashJoin", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "GlobalLimit"))

    // t18 token-budget sample: both verdict tables (fully-kept buckets,
    // boundary bucket + base) must come back as BROADCAST joins onto the
    // per-row projection (the histogram aggregate ran two-phase at
    // construction, like the d11/e8 training collects); a SortMergeJoin
    // or product join would mean the corpus shuffled for a KB-sized
    // verdict, and the only Window allowed is the one over the boundary
    // bucket's rows (post-broadcast-filter)
    audit("t18_token_budget",
      SparkEntry.queries("t18_token_budget")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"))

    // t20 global shuffle: the KB-sized offset table comes back as a
    // BROADCAST join and the only Window partitions by range-bucket
    // (bounded ~n/buckets rows per partition) — a SortMergeJoin or an
    // unpartitioned global-rank window would shuffle/sort the whole
    // corpus through one reducer
    audit("t20_global_shuffle",
      SparkEntry.queries("t20_global_shuffle")(spark, sfDir),
      Seq("BroadcastHashJoin", "Window"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"))

    // t21 quality buckets: the t14 vocab discipline (TakeOrdered vocab
    // broadcast onto the token explode, two-phase per-doc aggregate)
    // plus the |langs|-row tercile-threshold broadcast — an ntile/rank
    // Window or a GlobalLimit would mean a per-language global sort of
    // the corpus
    audit("t21_quality_buckets",
      SparkEntry.queries("t21_quality_buckets")(spark, sfDir),
      Seq("BroadcastHashJoin", "TakeOrderedAndProject", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "GlobalLimit"))

    // t22 mixture resampling: the |sources|-row weight table broadcasts
    // onto a pure per-row projection + explode — the corpus must never
    // shuffle (no hash-partition exchange at all)
    audit("t22_upsample",
      SparkEntry.queries("t22_upsample")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("Window", "CartesianProduct", "SortMergeJoin",
        "Exchange hashpartitioning"))

    // t17 DSIR weights: the buckets-row weight table must come back as a
    // broadcast onto the bigram explode, and both the bucket counts and
    // the per-doc sums must aggregate two-phase — a Window or product
    // join would mean the corpus got shuffled for a KB-sized model
    audit("t17_dsir_weights",
      SparkEntry.queries("t17_dsir_weights")(spark, sfDir),
      Seq("BroadcastHashJoin", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // d9 KMV sketch: the typed MinK aggregator must run partial+final —
    // `partial_minkaggregator` is the map-side half; without it a
    // final-only ObjectHashAggregate would shuffle the full token-hash
    // stream instead of ≤k longs per (source, partition)
    audit("d9_kmv_distinct",
      SparkEntry.queries("d9_kmv_distinct")(spark, sfDir),
      Seq("ObjectHashAggregate", "partial_minkaggregator"),
      forbid = Seq("Window", "CartesianProduct"))

    // t26 trained BPE: training runs eagerly while the query closure
    // builds (vocab-sized pair-count aggregates + a 1-row collect per
    // merge round — separate jobs, not part of the served plan); what's
    // LEFT is the whole point: the merge chain is applied in-row as
    // literals, so the serving plan is a pure projection — ZERO
    // exchanges, zero joins. The strongest claim in the audit suite:
    // tokenize-and-count is stream-transparent and shuffle-free.
    audit("t26_bpe_tokens",
      SparkEntry.queries("t26_bpe_tokens")(spark, sfDir),
      Seq("Project"),
      forbid = Seq("Exchange", "Join", "Window", "CartesianProduct"))

    // t36 fertility gate: training + the corpus-mean collect run eagerly
    // while the closure builds; the SERVED plan is t26's pure in-row
    // projection with two literal thresholds folded in — same
    // zero-exchange contract
    audit("t36_bpe_fertility",
      SparkEntry.queries("t36_bpe_fertility")(spark, sfDir),
      Seq("Project"),
      forbid = Seq("Exchange", "Join", "Window", "CartesianProduct"))

    // t37: serving from the PERSISTED tokenizer artifact — the audited
    // plan must be the same zero-exchange projection (loading the model
    // happens while the closure builds; no training aggregate and no
    // model-table join may appear in the served plan)
    audit("t37_fertility_model",
      SparkEntry.queries("t37_fertility_model")(spark, sfDir),
      Seq("Project"),
      forbid = Seq("Exchange", "Join", "Window", "CartesianProduct"))

    // t27 Gopher repetition suite: dup-line/paragraph fractions and
    // top-n-gram char shares are per-row higher-order-function math —
    // O(doc²) bounded by ONE document, never the corpus. Same
    // exchange-free contract as t26.
    audit("t27_gopher_repetition",
      SparkEntry.queries("t27_gopher_repetition")(spark, sfDir),
      Seq("Project"),
      forbid = Seq("Exchange", "Join", "Window", "CartesianProduct"))

    // t34 C4 cleaning pass: line synthesis + line retention + page gates
    // are one per-row projection chain (sequence/slice/filter HOFs) —
    // the scan-stage ingest-bandwidth shape; same exchange-free contract
    // as t26/t27
    audit("t34_c4_rules",
      SparkEntry.queries("t34_c4_rules")(spark, sfDir),
      Seq("Project"),
      forbid = Seq("Exchange", "Join", "Window", "CartesianProduct"))

    // t28 NB quality classifier: the KB-sized per-feature log-odds model
    // comes back onto the feature explode as a BROADCAST join (a shuffle
    // join here would mean the corpus got shuffled for a KB model —
    // the t17 prohibition); per-doc sums two-phase; the verdict join-back
    // is a legitimate doc_id equi-join — only rank windows and product
    // joins are banned
    audit("t28_nb_quality",
      SparkEntry.queries("t28_nb_quality")(spark, sfDir),
      Seq("BroadcastHashJoin", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // t29 min-count-pruned bigram LM: vs t25, the pruned model tables
    // must come back as BROADCAST joins — the doc-bigram explode is
    // never shuffled for the lookup (the model aggregates themselves
    // still two-phase, hence partial_count). No SortMergeJoin anywhere:
    // at corpus scale that would be the unpruned t25 exchange this
    // variant exists to delete.
    audit("t29_bigram_pruned",
      SparkEntry.queries("t29_bigram_pruned")(spark, sfDir),
      Seq("BroadcastHashJoin", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin"))

    // p17 composed pipeline rollup: the dim enrich is the lookup
    // projection (no join, no broadcast exchange, never a shuffle of the
    // fact side), the session window is BOUNDED by one conversation (the
    // p12/p14 contract), the rollup is a two-phase hash aggregate
    audit("p17_pipeline_rollup",
      SparkEntry.queries("p17_pipeline_rollup")(spark, sfDir),
      Seq("tool_dim_lookup", "HashAggregate"), forbid = noEnrichJoin)

    // d16 edit-distance rung: same candidate shape as d7 (band buckets,
    // ids-only semi restriction) with the bounded-Levenshtein verify a
    // pure projection on the joined pair rows — no product join, no
    // rank window; the verify-tier joins broadcast (candidate set ≪
    // corpus at sf; at scale AQE decides)
    audit("d16_editdist_pairs",
      SparkEntry.queries("d16_editdist_pairs")(spark, sfDir),
      Seq("partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // d17 attribution matrix: the sparse verified-pair relation joins
    // the id→source map as equi-joins; final aggregate two-phase. No
    // product joins, no windows.
    audit("d17_source_dup_matrix",
      SparkEntry.queries("d17_source_dup_matrix")(spark, sfDir),
      Seq("partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // d19 sorted-neighborhood: the rank stage's Window is BOUNDED by a
    // prefix bucket (never the corpus — the t20 contract), offsets come
    // back broadcast, rank-adjacency pairing is an EQUI-join of the
    // exploded successor ranks; no product join anywhere
    audit("d19_sorted_neighbors",
      SparkEntry.queries("d19_sorted_neighbors")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("CartesianProduct", "BroadcastNestedLoopJoin"))

    // t30 BPE-budget: t18's plan contract under the trained count
    // column — verdict tables broadcast back, the corpus is never
    // sort-merge-joined (the in-row BPE replay adds no join at all)
    audit("t30_bpe_budget",
      SparkEntry.queries("t30_bpe_budget")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin"))

    // t38: the same budget contract served from the persisted tokenizer
    // artifact — identical plan shape, and no training aggregate or
    // model-table join may appear (the model loads while the closure
    // builds, exactly t37's claim)
    audit("t38_budget_model",
      SparkEntry.queries("t38_budget_model")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin"))

    // t31 perplexity terciles: downstream of the localCheckpointed LM
    // scores, the threshold table must come back BROADCAST as a per-row
    // CASE — no ntile/rank window over the corpus
    audit("t31_perplexity_buckets",
      SparkEntry.queries("t31_perplexity_buckets")(spark, sfDir),
      Seq("BroadcastHashJoin"),
      forbid = Seq("Window", "CartesianProduct", "SortMergeJoin"))

    // d20/d21 CDC: chunking is a pure per-row HOF projection; both
    // queries reduce through two-phase hash aggregates over the 32-byte
    // chunk hash (text never crosses an exchange), d21 adds a left-semi
    // against the dup set and a corpus-keyed outer join of (id, len)
    // pairs — no rank window, no product join anywhere
    audit("d20_cdc_chunks",
      SparkEntry.queries("d20_cdc_chunks")(spark, sfDir),
      Seq("HashAggregate", "partial_count"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin",
        "SortAggregate"))
    audit("d21_cdc_boilerplate",
      SparkEntry.queries("d21_cdc_boilerplate")(spark, sfDir),
      Seq("HashAggregate", "LeftSemi"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin",
        "SortAggregate"))

    // t35 curation funnel: t11's stage chain with a count per boundary —
    // the assembly is a UNION of eight 1-row aggregates (zero joins of
    // its own), stage boundaries read from the eager checkpoints
    // (ExistingRDD) exactly like t11, and unlike t11 there is no pack
    // window, so the WHOLE funnel plan must be Window-free
    audit("t35_curation_funnel",
      SparkEntry.queries("t35_curation_funnel")(spark, sfDir),
      Seq("Union", "ExistingRDD", "HashAggregate"),
      forbid = Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))

    // e31 hybrid RRF: the dense list must come from the heap-merge
    // top-k (no Window over the scored set) and the final fused top-k
    // from TakeOrdered — the ONE allowed Window ranks the lexical list
    // AFTER its LIMIT (≤ kEach rows, driver-bounded by construction)
    audit("e31_hybrid_rrf",
      SparkEntry.queries("e31_hybrid_rrf")(spark, sfDir),
      Seq("ObjectHashAggregate", "partial_topkaggregator",
        "TakeOrderedAndProject"),
      forbid = Seq("CartesianProduct"))

    spark.stop()
  }
}
