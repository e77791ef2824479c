package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.Transcripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a same-named DuckDB oracle in `oracleSql`
  * unless the op is not SQL-expressible (then the driver records a weaker
  * rows-only check). Column names/aliases match pairwise — the driver's
  * compare sorts columns by name before hashing.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Transcripts.table(s, dir, name)

  /** Monotonic suffix for q22's temp view (see the query's comment). */
  private val q22ViewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** t16's fixed probe query — terms of varying corpus frequency. */
  private val Bm25Terms = Seq("vector", "hash", "spark", "dup")

  /** Parsed+filtered transcript turns — the pipeline front half. text is
    * dropped so query outputs keep the oracle-matched column set.
    */
  private def valid(s: SparkSession, dir: String): DataFrame =
    Pipeline.filterValid(Pipeline.parse(Transcripts.transcripts(s, dir)))
      .drop("text")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full parse→enrich→route→aggregate pipeline.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Pipeline.sinkCounts(Pipeline.route(
      Pipeline.enrich(valid(spark, dir), Transcripts.toolDim(spark))))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------- core pipeline (SURVEY §2)
    "p1_parse" -> ((s, dir) => valid(s, dir)),
    "p2_filter_counts" -> ((s, dir) =>
      valid(s, dir).groupBy(col("op")).agg(count(lit(1)).as("n"))),
    "p3_enrich" -> ((s, dir) =>
      Pipeline.enrich(valid(s, dir), Transcripts.toolDim(s))
        .groupBy(col("tool_kind"))
        .agg(count(lit(1)).as("n"), countDistinct(col("tool")).as("n_tools"))),
    "p4_route_counts" -> ((s, dir) =>
      Pipeline.sinkCounts(Pipeline.route(
        Pipeline.enrich(valid(s, dir), Transcripts.toolDim(s))))),
    "p5_render_insert" -> ((s, dir) => Pipeline.renderInsertDynamic(valid(s, dir))),
    "p6_render_update" -> ((s, dir) => Pipeline.renderUpdateDynamic(valid(s, dir))),
    "p7_render_delete" -> ((s, dir) => Pipeline.renderDeleteDynamic(valid(s, dir))),
    "p8_flatten_children" -> ((s, dir) => Pipeline.flattenChildren(valid(s, dir))),
    "p16_child_inserts" -> ((s, dir) =>
      Pipeline.renderChildInsertsDynamic(valid(s, dir))),
    "p9_ddl_schemas" -> ((s, dir) =>
      Pipeline.ddlCreateSchemas(Pipeline.parse(Transcripts.transcripts(s, dir)))),
    "p10_ddl_tables" -> ((s, dir) => Pipeline.ddlCreateTablesDynamic(valid(s, dir))),
    "p11_ddl_alter" -> ((s, dir) => Pipeline.ddlAlterTablesDynamic(valid(s, dir))),
    "p12_transitions" -> ((s, dir) =>
      Pipeline.turnTransitions(Transcripts.transcripts(s, dir))),
    "p13_dead_letter" -> ((s, dir) =>
      Pipeline.rejects(Pipeline.parse(Transcripts.transcripts(s, dir)))
        .groupBy(col("op")).agg(count(lit(1)).as("n"))),
    "p14_sessionize" -> ((s, dir) =>
      Pipeline.sessionize(Transcripts.transcripts(s, dir))),
    // the p-tier composed flagship (t11's role on the pipeline side):
    // parse -> filter -> dim-lookup enrich -> route -> sessionize ->
    // per-sink rollup, ONE query with a chained-CTE oracle. Session
    // boundaries are computed over the routed relation (post-filter,
    // post-enrich) so the rollup counts sessions each sink touches.
    "p17_pipeline_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val routed = Pipeline.route(
        Pipeline.enrich(valid(s, dir), Transcripts.toolDim(s)))
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      val gap = unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(w))
      routed
        .withColumn("boundary", when(gap.isNull || gap > 1800, 1)
          .otherwise(0))
        .withColumn("session_id", sum(col("boundary"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("sink"))
        .agg(count(lit(1)).as("n_turns"),
          countDistinct(col("conv_id")).as("n_convs"),
          countDistinct(col("tool")).as("n_tools"),
          countDistinct(col("conv_id"), col("session_id"))
            .as("n_sessions"))
    }),
    "p15_resume_filter" -> ((s, dir) =>
      valid(s, dir)
        .filter(col("ts") > lit("2024-01-16 00:00:00").cast("timestamp"))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("max_ts"),
          min(col("ts")).as("min_ts"))),
    // --------------------------------------- relational coverage (SURVEY §2.7)
    "q1_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val dec = (c: String) => col(c).cast("decimal(18,2)")
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(BigDecimal(1)) - dec("l_discount")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
    }),
    "q2_join_broadcast" -> ((s, dir) => {
      // two broadcast hash joins: dims are tiny at ANY scale — zero
      // shuffle of the fact side
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
    }),
    "q3_join_shuffle" -> ((s, dir) => {
      // fact-fact shuffle hash join on orderkey; AQE picks the strategy
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)")
            * (lit(BigDecimal(1)) - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),
    "q4_semi_join" -> ((s, dir) => {
      // EXISTS as left_semi: no payload columns of the right side move
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),
    "q5_anti_join" -> ((s, dir) => {
      // NOT EXISTS as left_anti (delete-analog materialization, SURVEY T5)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q6_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rnk"))
    }),
    "q7_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(year(col("o_orderdate")) === 1994)
        .select(col("o_custkey")).distinct()
      val b = o.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      a.except(b).withColumn("tag", lit("only_1994"))
        .unionByName(a.intersect(b).withColumn("tag", lit("both")))
        .unionByName(b.except(a).withColumn("tag", lit("only_f")))
    }),
    "q8_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
    }),
    "q9_topk" -> ((s, dir) =>
      // global top-k = per-partition top-k then merge (TakeOrderedAndProject)
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),
    "q10_distinct_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          count(lit(1)).as("n_orders"),
          max(col("o_totalprice")).as("max_price"))),
    "q11_datetime" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          max(hour(col("ts"))).as("max_hour"),
          min(month(col("ts"))).as("min_month"))),
    "q12_strings" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("uname"),
        length(col("c_name")).as("len"),
        reverse(col("c_name")).as("rname"),
        translate(col("c_name"), "aeiou", "AEIOU").as("tname"),
        levenshtein(col("c_name"), reverse(col("c_name"))).as("lev"))),
    "q13_outer_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val a = o.filter(year(col("o_orderdate")) === 1994)
        .select(col("o_custkey").as("k")).distinct()
        .withColumn("in_1994", lit(1))
      val b = c.filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("k")).distinct()
        .withColumn("in_neg", lit(1))
      a.join(b, Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("in_1994"), lit(0)).as("in_1994"),
          coalesce(col("in_neg"), lit(0)).as("in_neg"))
    }),
    "q19_session_window" -> ((s, dir) =>
      // built-in gap-based session windows (vs Pipeline.sessionize's
      // manual lag+cumsum form, p14). Boundary semantics differ at exactly
      // gap: session_window is end-EXCLUSIVE (an event arriving exactly
      // 30 min later starts a NEW session) while p14's lag-gap form keeps
      // `gap > 1800` in-session — the oracle mirrors each form's own rule
      Transcripts.transcripts(s, dir)
        .groupBy(col("conv_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_turns"))
        .select(col("conv_id"),
          col("session_window.start").as("win_start"),
          col("session_window.end").as("win_end"), col("n_turns"))),
    "q14_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"))),
    "q15_range_join" -> ((s, dir) => {
      // range join: same-user event pairs within 60s, in the TIME-BUCKET
      // form — a plain equi-join on user_id compares every same-user pair
      // (quadratic in a hot user's event count); bucketing ts to the range
      // width and probing (bucket, bucket+1) bounds comparisons to
      // per-(user, 2-minute) groups. Each qualifying pair matches exactly
      // one probed bucket, so no dedup is needed; the residual predicate
      // keeps the semantics identical to the naive form.
      val e = t(s, dir, "events")
      val bkt = floor(unix_timestamp(col("ts")) / 60)
      val a = e.select(col("event_id").as("id1"), col("user_id"),
        col("ts").as("ts1"), explode(array(bkt, bkt + 1)).as("bk"))
      val b = e.select(col("event_id").as("id2"), col("user_id").as("u2"),
        col("ts").as("ts2"), bkt.as("bk2"))
      a.join(b, col("user_id") === col("u2") && col("bk") === col("bk2") &&
          col("id1") < col("id2") && col("ts2") >= col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 60 SECONDS"))
        .select(col("user_id"), col("id1"), col("id2"))
    }),
    "q16_asof" -> ((s, dir) => {
      // as-of: each event joined to the user's most recent prior-or-same
      // 'signup' — expressed as a window (no join needed when the as-of
      // source is the same stream)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("last_signup_id",
          last(when(col("event_type") === "signup", col("event_id")), true).over(w))
        .select(col("event_id"), col("user_id"), col("last_signup_id"))
    }),
    "q20_asof_join" -> ((s, dir) => {
      // TWO-TABLE as-of join (facts as-of a dimension-history table) in the
      // union-merge form: tag both sides, one shuffle on the key, window
      // last(ignoreNulls) carries the most recent history row forward. No
      // range join, no cartesian — the scalable as-of shape (q16 is the
      // same-stream window form). History deduped per (user, ts) by max
      // event_id so ties are deterministic, matching DuckDB ASOF JOIN.
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
      val hist = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts")).agg(max(col("event_id")).as("h_id"))
      val facts = e.select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("tag"), lit(null).cast("long").as("h_id"))
      val h = hist.select(col("user_id"), col("ts"),
        lit(null).cast("long").as("event_id"), lit(0).as("tag"), col("h_id"))
      // history sorts BEFORE facts at equal ts (tag 0 < 1) — an as-of match
      // at exactly ts is visible, mirroring ASOF's h.ts <= e.ts
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, 0)
      facts.unionByName(h)
        .withColumn("last_signup_id", last(col("h_id"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("user_id"), col("last_signup_id"))
    }),
    // fill scoped to the pivot VALUE columns — an unscoped fill would
    // also rewrite a NULL user_id group key to 0, diverging from the
    // oracle's NULL group
    "q17_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),
    "q18_percentile" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(1000000)).as("p50_approx"),
          expr("percentile(value, 0.5)").as("p50_exact"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))),
    // correlated scalar subquery — Catalyst decorrelates the per-user
    // min(ts) into an aggregate + join (RewriteCorrelatedScalarSubquery);
    // min, not avg: double-avg accumulation order differs cross-engine
    "q22_correlated" -> ((s, dir) => {
      // unique view name per invocation: a fixed name mutates shared
      // session state and collides if queries ever run concurrently in
      // one session (r3 verdict nit)
      val vn = s"ev_q22_${q22ViewSeq.incrementAndGet()}"
      t(s, dir, "events").createOrReplaceTempView(vn)
      s.sql(s"""
        SELECT e.user_id, count(*) AS n_later
        FROM $vn e
        WHERE e.ts > (SELECT min(i.ts) FROM $vn i
                      WHERE i.user_id = e.user_id)
        GROUP BY e.user_id""")
    }),
    // explicit GROUPING SETS beyond rollup/cube (q8/q14), with grouping()
    // flags so a NULL group key and a subtotal row stay distinguishable
    // cross-engine; one shuffle, Expand feeds the same two-phase hash agg
    "q23_grouping_sets" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 7).as("bucket"),
          col("value"))
      ev.groupingSets(
          Seq(Seq(col("event_type"), col("bucket")),
            Seq(col("event_type")), Seq.empty),
          col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"),
          grouping(col("event_type")).cast("int").as("g_et"),
          grouping(col("bucket")).cast("int").as("g_b"))
    }),
    // RANGE-frame analytic window: per-user sliding 1-hour event-time sum
    // — the value-based frame (vs q6's row-based rank). The frame key is
    // epoch MICROseconds, so the boundary is exact at the data's full
    // timestamp precision and matches DuckDB's INTERVAL arithmetic
    // digit-for-digit (an epoch-seconds cast would truncate sub-second
    // timestamps into the wrong frame); RANGE includes ts-ties in both
    // engines, so the running sum is deterministic under tie reordering.
    "q24_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts").cast("timestamp")))
        .rangeBetween(-3600L * 1000000L, 0L)
      t(s, dir, "events").select(col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double")
          .as("hour_sum"),
        count(lit(1)).over(w).cast("long").as("hour_n"))
    }),
    // forward-fill gap-fill: synthetic sensor dropout nulls every 7th
    // reading, then last-non-null carries forward per user in
    // (ts, event_id) order — the IGNORE NULLS analytic over a bounded
    // per-user frame (per-key streams, no global sort; q24's decimal
    // cast keeps the carried value cross-engine exact)
    "q25_gap_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("v", when(col("event_id") % 7 === 0, lit(null))
          .otherwise(col("value").cast("decimal(18,2)")))
        .select(col("event_id"), col("user_id"), col("ts"),
          last(col("v"), ignoreNulls = true).over(w).cast("double")
            .as("filled"))
    }),
    // unpivot (melt) — the q17 matrix back to long form; the oracle is
    // the direct GROUP BY, so pivot→unpivot round-trips exactly (the
    // n > 0 filter drops the fill-zeros pivot fabricated)
    "q21_unpivot" -> ((s, dir) => {
      val kinds = Seq("click", "view", "purchase", "signup", "error")
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", kinds)
        .agg(count(lit(1))).na.fill(0L, kinds)
        .unpivot(Array(col("user_id")), kinds.map(col).toArray,
          "event_type", "n")
        .filter(col("n") > 0)
    }),
    // ------------------------------ training-data ops (documents/embeddings)
    "d2_dedup_minhash" -> ((s, dir) =>
      operators.TextOps.minhashCandidates(t(s, dir, "documents"))),
    "d4_ngram_jaccard" -> ((s, dir) =>
      operators.TextOps.ngramJaccardPairs(t(s, dir, "documents"))),
    "d6_dedup_embedding" -> ((s, dir) =>
      operators.Similarity.embeddingNearDupPairs(t(s, dir, "embeddings"))),
    "d7_neardup_ladder" -> ((s, dir) =>
      operators.TextOps.nearDupLadder(t(s, dir, "documents"))),
    // integer-exact BM25 top-k keyword retrieval (fixed query, the
    // curation-stack search primitive); TakeOrderedAndProject top-k
    "t16_bm25" -> ((s, dir) =>
      operators.TextOps.bm25TopK(t(s, dir, "documents"), Bm25Terms)),
    "t4_split" -> ((s, dir) =>
      operators.TextOps.deterministicSplit(t(s, dir, "documents"))),
    "t5_chunks" -> ((s, dir) =>
      operators.TextOps.chunkTokens(t(s, dir, "documents"))),
    "t7_source_filter" -> ((s, dir) =>
      operators.TextOps.sourceFilter(t(s, dir, "documents"))),
    // mixing config for the driver query: even-numbered sources kept in
    // full, odd-numbered downsampled to 25% (mirrored in the oracle SQL)
    "t9_data_mix" -> ((s, dir) =>
      operators.TextOps.weightedSample(t(s, dir, "documents"),
        when(regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 2
          === 0, lit(100)).otherwise(lit(25)))),
    "t10_seq_pack" -> ((s, dir) =>
      operators.TextOps.packSequences(t(s, dir, "documents"))),
    // eval-set leakage guard: 3-gram overlap vs a deterministic eval
    // carve-out (oracle stand-in for the benchmark-sized production
    // suite); broadcast eval shingle set, n_sh in-row, corpus never
    // the shuffled side
    "t12_decontaminate" -> ((s, dir) =>
      operators.TextOps.decontaminate(t(s, dir, "documents"))),
    // production decon: N suites, one corpus pass, per-suite
    // attribution in a dense (doc x suite) grid
    "t33_multisuite_decon" -> ((s, dir) =>
      operators.TextOps.multiSuiteDecon(t(s, dir, "documents"))),
    // FUZZY decontamination: MinHash-banded train-vs-eval collisions,
    // exact-Jaccard ≥ 1/2 verified on candidates only — length-robust
    // (fraction verdict, not t12's absolute hit count) and attributing
    // (contaminated_by names the leaking eval doc)
    "d14_fuzzy_decon" -> ((s, dir) =>
      operators.TextOps.fuzzyDecon(t(s, dir, "documents"))),
    // repeated-n-gram coverage (Lee et al. exact-substring dedup at the
    // n-gram granularity): per-doc share of corpus-duplicated shingles;
    // shingles cross exchanges as longs, one df count + one per-doc agg
    "t23_ngram_coverage" -> ((s, dir) =>
      operators.TextOps.ngramCoverage(t(s, dir, "documents"))),
    // longest duplicated-shingle RUN (span-level t23): positional
    // shingles flagged by corpus df, gaps-and-islands over consecutive
    // flagged positions — the n-gram stand-in for suffix-array
    // longest-duplicated-substring
    "d15_dup_run" -> ((s, dir) =>
      operators.TextOps.dupRunLength(t(s, dir, "documents"))),
    // KMV distinct-count sketch: the ESTIMATE is integer-exact
    // cross-engine, so even the approximation is hash-checked
    "d9_kmv_distinct" -> ((s, dir) =>
      operators.TextOps.kmvDistinct(t(s, dir, "documents"))),
    // deterministic ~k-per-source sample: MinK thresholds broadcast
    // back as a per-row filter — no per-source sort/window anywhere.
    // k=10 < the 25 docs/source at sf0.01, so the threshold filter
    // actually downselects at every driver scale
    "t13_sample_source" -> ((s, dir) =>
      operators.TextOps.samplePerSource(t(s, dir, "documents"), k = 10)),
    // per-source TOKEN-budget sample (mixture weights in tokens, not
    // docs): bucketed hash histogram + driver cumsum classifies buckets,
    // only the ONE boundary bucket per source enters the exact window —
    // budget 600 ≈ half a source's token mass at sf0.01, so both the
    // fully-kept and the boundary path carry rows at driver scale
    "t18_token_budget" -> ((s, dir) =>
      operators.TextOps.tokenBudgetSample(t(s, dir, "documents"))),
    // deterministic global training-order shuffle: global rank with no
    // global sort (range-bucket histogram + driver cumsum offsets +
    // bounded per-bucket windows)
    "t20_global_shuffle" -> ((s, dir) =>
      operators.TextOps.globalShuffle(t(s, dir, "documents"))),
    // mixture resampling at explicit epoch weights: src0 2.5 epochs,
    // src1 1.7, src2 0.5 (downsample), src3 excluded, others 1.0
    "t22_upsample" -> ((s, dir) =>
      operators.TextOps.upsample(t(s, dir, "documents"),
        Map("src0" -> 2500L, "src1" -> 1700L, "src2" -> 500L,
          "src3" -> 0L))),
    // C4-style segment-level dedup: corpus-wide keep-first on 10-token
    // segments (min-struct aggregate, no window), docs reassembled
    "t15_segment_dedup" -> ((s, dir) =>
      operators.TextOps.segmentDedup(t(s, dir, "documents"))),
    // source-overlap matrix from KMV sketches: one distributed MinK
    // pass, pair math on KB-sized driver sketches — integer-exact
    "d10_source_overlap" -> ((s, dir) =>
      operators.TextOps.sourceOverlap(t(s, dir, "documents"))),
    // the END-TO-END composed pipeline (gate → synthetic-PII augment →
    // redact → ladder dedup → mix → split → pack), every stage the same
    // operator the standalone queries check — the oracle chains the same
    // CTEs, so stage-BOUNDARY effects are verified cross-engine
    "t11_corpus_pipeline" -> ((s, dir) =>
      operators.TextOps.corpusPipeline(t(s, dir, "documents"),
        mixPct = when(regexp_extract(col("source"), "([0-9]+)", 1)
          .cast("int") % 2 === 0, lit(100)).otherwise(lit(25)),
        augment = df => df.withColumn("text",
          concat(col("text"), lit(" contact doc"),
            col("doc_id").cast("string"),
            lit("@corp.example.com call +1 (555) 123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))),
        // stage-boundary materialization: the redacted and decontaminated
        // relations are each consumed twice downstream — an eager local
        // checkpoint computes each exactly once (2× on the composed
        // pipeline at sf0.1; a cluster run would use a parquet/Iceberg
        // boundary instead). Same rows, same hash — oracle unchanged.
        materialize = _.localCheckpoint())),
    // the funnel view of the SAME chain: one row of per-stage survivor
    // counts (input → gate → decon → dedup → mix → 8/1/1 split) — the
    // retention dashboard a curation run reports; localizes a stage
    // divergence even when t11's terminal packing happens to agree
    "t35_curation_funnel" -> ((s, dir) =>
      operators.TextOps.curationFunnel(t(s, dir, "documents"),
        mixPct = when(regexp_extract(col("source"), "([0-9]+)", 1)
          .cast("int") % 2 === 0, lit(100)).otherwise(lit(25)),
        augment = df => df.withColumn("text",
          concat(col("text"), lit(" contact doc"),
            col("doc_id").cast("string"),
            lit("@corp.example.com call +1 (555) 123-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))),
        materialize = _.localCheckpoint())),
    // corpus carries no PII: append a deterministic contact line per row
    // (mirrored in TextOracles.redactSql) so the redaction regexes are
    // exercised for real in both engines
    "t6_redact" -> ((s, dir) =>
      operators.TextOps.redactPii(t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact doc"),
          col("doc_id").cast("string"),
          lit("@corp.example.com call +1 (555) 123-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))),
    // SemDeDup (Abbas et al. 2023): k-means cells bound the pair space,
    // within-cell quantized-cosine prune, keep-min-id verdicts
    "e8_semdedup" -> ((s, dir) =>
      operators.Similarity.semanticDedup(t(s, dir, "embeddings"))),
    // hybrid lexical+dense retrieval: BM25 top-20 (t16's scorer) fused
    // with the exact dense top-20 of the id-0 embedding query by
    // reciprocal-rank fusion — rank-only, calibration-free, the
    // Elasticsearch/Vespa hybrid default. Integer-exact Σ 1e6 div (60+r).
    "e31_hybrid_rrf" -> ((s, dir) =>
      operators.Similarity.hybridRrf(
        t(s, dir, "documents"), t(s, dir, "embeddings"), Bm25Terms)),
    "d8_embedding_ladder" -> ((s, dir) =>
      operators.Similarity.embeddingNearDupLadder(t(s, dir, "embeddings"))),
  )

  /** DuckDB equivalents over the same parquet tables (events-derived
    * transcript CTE shared verbatim — Oracles.withAll).
    */
  def oracleSql: Map[String, String] = Map(
    "p1_parse" -> (Oracles.withAll +
      "SELECT conv_id, turn_idx, role, tool, ts, op, db, tbl, payload FROM valid"),
    "p2_filter_counts" -> (Oracles.withAll +
      "SELECT op, count(*) AS n FROM valid GROUP BY op"),
    "p3_enrich" -> (Oracles.withAll +
      """SELECT tool_kind, count(*) AS n, count(DISTINCT tool) AS n_tools
         FROM valid JOIN tool_dim USING (tool) GROUP BY tool_kind"""),
    "p4_route_counts" -> (Oracles.withAll +
      """SELECT (CASE op WHEN 'INS' THEN 'ins' WHEN 'UPD' THEN 'upd' ELSE 'del' END)
                || '_' || tool_kind AS sink, count(*) AS n
         FROM valid JOIN tool_dim USING (tool) GROUP BY 1"""),
    "p5_render_insert" -> (Oracles.withAll + """
      , ins AS (
        SELECT conv_id, turn_idx, db, tbl,
          regexp_extract(payload, '"_id":"([^"]+)"', 1) AS _id,
          NULLIF(regexp_extract(payload, '"extra":"([^"]+)"', 1), '') AS extra,
          regexp_extract(payload, '"k":([0-9]+)', 1) AS k
        FROM valid WHERE op = 'INS')
      SELECT conv_id, turn_idx,
        'INSERT INTO ' || db || '.' || tbl || ' ('
        || CASE WHEN extra IS NULL THEN '_id, k' ELSE '_id, extra, k' END
        || ') VALUES (''' || _id || ''''
        || CASE WHEN extra IS NULL THEN '' ELSE ', ''' || extra || '''' END
        || ', ' || k || ');' AS stmt
      FROM ins"""),
    "p6_render_update" -> (Oracles.withAll + """
      SELECT conv_id, turn_idx,
        'UPDATE ' || db || '.' || tbl
        || ' SET k = ' || regexp_extract(payload, '"k":([0-9]+)', 1)
        || ', obsolete = NULL WHERE _id = '''
        || regexp_extract(payload, '"_id":"([^"]+)"', 1) || ''';' AS stmt
      FROM valid WHERE op = 'UPD'"""),
    "p7_render_delete" -> (Oracles.withAll + """
      SELECT conv_id, turn_idx,
        'DELETE FROM ' || db || '.' || tbl || ' WHERE _id = '''
        || regexp_extract(payload, '"_id":"([^"]+)"', 1) || ''';' AS stmt
      FROM valid WHERE op = 'DEL'"""),
    "p8_flatten_children" -> (Oracles.withAll + """
      , ins AS (
        SELECT conv_id, turn_idx, db, tbl,
          regexp_extract(payload, '"_id":"([^"]+)"', 1) AS parent_id,
          CAST(regexp_extract(payload, '"k":([0-9]+)', 1) AS INT) AS k
        FROM valid WHERE op = 'INS'),
      exploded AS (
        SELECT conv_id, turn_idx, db, tbl, parent_id,
               0 AS pos, 'tag' || CAST(k % 5 AS STRING) AS value FROM ins
        UNION ALL
        SELECT conv_id, turn_idx, db, tbl, parent_id,
               1 AS pos, 'tag' || CAST(k % 7 AS STRING) AS value FROM ins)
      SELECT conv_id, turn_idx, db, tbl || '_tags' AS child_tbl,
        sha256(parent_id || '|' || tbl || '_tags|' || CAST(pos AS STRING)) AS _id,
        parent_id, pos, value
      FROM exploded"""),
    "p9_ddl_schemas" -> (Oracles.withAll + """
      SELECT db, 'CREATE SCHEMA IF NOT EXISTS ' || db || ';' AS stmt
      FROM (SELECT DISTINCT db FROM valid)"""),
    "p16_child_inserts" -> (Oracles.withAll + """
      , ins AS (
        SELECT conv_id, turn_idx, db, tbl,
          regexp_extract(payload, '"_id":"([^"]+)"', 1) AS parent_id,
          CAST(regexp_extract(payload, '"k":([0-9]+)', 1) AS INT) AS k
        FROM valid WHERE op = 'INS'),
      exploded AS (
        SELECT conv_id, turn_idx, db, tbl, parent_id,
               0 AS pos, 'tag' || CAST(k % 5 AS STRING) AS value FROM ins
        UNION ALL
        SELECT conv_id, turn_idx, db, tbl, parent_id,
               1 AS pos, 'tag' || CAST(k % 7 AS STRING) AS value FROM ins)
      SELECT conv_id, turn_idx,
        'INSERT INTO ' || db || '.' || tbl || '_tags (_id, ' || tbl
        || '__id, value) VALUES ('''
        || sha256(parent_id || '|' || tbl || '_tags|' || CAST(pos AS STRING))
        || ''', ''' || parent_id || ''', ''' || value || ''');' AS stmt
      FROM exploded"""),
    "p10_ddl_tables" -> (Oracles.withAll + """
      , ins AS (
        SELECT db, tbl,
          NULLIF(regexp_extract(payload, '"extra":"([^"]+)"', 1), '') AS extra,
          row_number() OVER (PARTITION BY db, tbl
                             ORDER BY ts, conv_id, turn_idx) AS rn
        FROM valid WHERE op = 'INS')
      SELECT db, tbl,
        'CREATE TABLE IF NOT EXISTS ' || db || '.' || tbl || ' (_id VARCHAR(255) PRIMARY KEY'
        || CASE WHEN extra IS NULL THEN '' ELSE ', extra VARCHAR(255)' END
        || ', k INTEGER);' AS stmt
      FROM ins WHERE rn = 1"""),
    "p11_ddl_alter" -> (Oracles.withAll + """
      , ins AS (
        SELECT db, tbl,
          (NULLIF(regexp_extract(payload, '"extra":"([^"]+)"', 1), '')
             IS NOT NULL) AS has_extra,
          row_number() OVER (PARTITION BY db, tbl
                             ORDER BY ts, conv_id, turn_idx) AS rn
        FROM valid WHERE op = 'INS')
      SELECT db, tbl,
        'ALTER TABLE ' || db || '.' || tbl || ' ADD extra VARCHAR(255);' AS stmt
      FROM (SELECT db, tbl,
              max(CASE WHEN rn = 1 THEN has_extra END) AS first_has,
              max(has_extra) AS any_has
            FROM ins GROUP BY db, tbl)
      WHERE any_has AND NOT first_has"""),
    "p12_transitions" -> (Transcripts.oracleWith + """
      SELECT prev_role, role, count(*) AS n
      FROM (SELECT role, lag(role) OVER (PARTITION BY conv_id
                                         ORDER BY turn_idx) AS prev_role
            FROM transcripts)
      WHERE prev_role IS NOT NULL
      GROUP BY prev_role, role"""),
    "p14_sessionize" -> (Transcripts.oracleWith + """
      , g AS (
        SELECT conv_id, turn_idx,
          epoch_us(ts) // 1000000
            - lag(epoch_us(ts) // 1000000)
              OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
        FROM transcripts),
      s AS (
        SELECT conv_id, turn_idx,
          sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
      SELECT conv_id, CAST(session_id AS BIGINT) AS session_id,
             count(*) AS n_turns, max(turn_idx) AS last_turn
      FROM s GROUP BY conv_id, session_id"""),
    "p17_pipeline_rollup" -> (Oracles.withAll + """
      , rt AS (
        SELECT v.conv_id, v.turn_idx, v.ts, v.tool,
          (CASE op WHEN 'INS' THEN 'ins' WHEN 'UPD' THEN 'upd' ELSE 'del' END)
            || '_' || tool_kind AS sink
        FROM valid v JOIN tool_dim USING (tool)),
      g AS (
        SELECT *, epoch_us(ts) // 1000000
          - lag(epoch_us(ts) // 1000000)
            OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
        FROM rt),
      s AS (
        SELECT *, sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
          OVER (PARTITION BY conv_id ORDER BY turn_idx
                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM g)
      SELECT sink, count(*) AS n_turns,
        count(DISTINCT conv_id) AS n_convs,
        count(DISTINCT tool) AS n_tools,
        count(DISTINCT (conv_id, session_id)) AS n_sessions
      FROM s GROUP BY sink"""),
    "p15_resume_filter" -> (Oracles.withAll + """
      SELECT op, count(*) AS n, max(ts) AS max_ts, min(ts) AS min_ts
      FROM valid WHERE ts > TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY op"""),
    "p13_dead_letter" -> (Oracles.withAll +
      """SELECT op, count(*) AS n FROM parsed
         WHERE NOT (op IN ('INS','UPD','DEL')
                    AND db NOT IN ('admin','config','local'))
         GROUP BY op"""),
    "q1_agg" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q2_join_broadcast" -> """
      SELECT r_name, n_name, count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name""",
    "q3_join_shuffle" -> """
      SELECT o_orderpriority,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        count(DISTINCT o_orderkey) AS n_orders
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority""",
    "q4_semi_join" -> """
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)""",
    "q5_anti_join" -> """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')""",
    "q6_window_rank" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey) AS rnk
            FROM orders)
      WHERE rnk <= 3""",
    "q7_setops" -> """
      WITH a AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE year(o_orderdate) = 1994),
           b AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderstatus = 'F')
      SELECT o_custkey, 'only_1994' AS tag FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      UNION ALL
      SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      UNION ALL
      SELECT o_custkey, 'only_f' AS tag FROM (SELECT * FROM b EXCEPT SELECT * FROM a)""",
    "q8_rollup" -> """
      SELECT r_name, n_name, count(*) AS n_cust,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)""",
    "q9_topk" -> """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q10_distinct_agg" -> """
      SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
        count(*) AS n_orders, max(o_totalprice) AS max_price
      FROM orders GROUP BY o_orderstatus""",
    "q11_datetime" -> """
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        count(DISTINCT user_id) AS n_users,
        CAST(max(hour(ts)) AS INT) AS max_hour,
        CAST(min(month(ts)) AS INT) AS min_month
      FROM events GROUP BY 1""",
    "q12_strings" -> """
      SELECT c_custkey, upper(c_name) AS uname,
        CAST(length(c_name) AS INT) AS len, reverse(c_name) AS rname,
        translate(c_name, 'aeiou', 'AEIOU') AS tname,
        CAST(levenshtein(c_name, reverse(c_name)) AS INT) AS lev
      FROM customer""",
    "q13_outer_join" -> """
      WITH a AS (SELECT DISTINCT o_custkey AS k, 1 AS in_1994 FROM orders
                 WHERE year(o_orderdate) = 1994),
           b AS (SELECT DISTINCT c_custkey AS k, 1 AS in_neg FROM customer
                 WHERE c_acctbal < 0)
      SELECT COALESCE(a.k, b.k) AS k, COALESCE(in_1994, 0) AS in_1994,
             COALESCE(in_neg, 0) AS in_neg
      FROM a FULL OUTER JOIN b ON a.k = b.k""",
    "d6_dedup_embedding" -> """
      SELECT * FROM (
        SELECT a.vec_id AS id1, b.vec_id AS id2,
          CAST(list_sum(list_transform(range(1, 65),
            i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
                 * CAST(round(CAST(b.embedding[i] AS DOUBLE) * 10000) AS BIGINT)))
            AS BIGINT) AS qdot
        FROM embeddings a, embeddings b
        WHERE a.label = b.label AND a.vec_id < b.vec_id)
      WHERE qdot >= 40000000""",
    "q19_session_window" -> (Transcripts.oracleWith + """
      , g AS (
        SELECT conv_id, ts,
          CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                 OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
               >= 1800000000 OR lag(epoch_us(ts))
                 OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) IS NULL
               THEN 1 ELSE 0 END AS boundary
        FROM transcripts),
      s AS (
        SELECT conv_id, ts,
          sum(boundary) OVER (PARTITION BY conv_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM g)
      SELECT conv_id, min(ts) AS win_start,
        max(ts) + INTERVAL 30 MINUTE AS win_end, count(*) AS n_turns
      FROM s GROUP BY conv_id, sid"""),
    "q14_cube" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
    "q15_range_join" -> """
      SELECT a.user_id, a.event_id AS id1, b.event_id AS id2
      FROM events a JOIN events b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 SECOND""",
    "q16_asof" -> """
      SELECT event_id, user_id,
        last_value(CASE WHEN event_type = 'signup' THEN event_id END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS last_signup_id
      FROM events""",
    "q20_asof_join" -> """
      WITH hist AS (
        SELECT user_id, ts, max(event_id) AS h_id FROM events
        WHERE event_type = 'signup' GROUP BY user_id, ts)
      SELECT e.event_id, e.user_id, h.h_id AS last_signup_id
      FROM events e ASOF LEFT JOIN hist h
        ON e.user_id = h.user_id AND h.ts <= e.ts""",
    "q17_pivot" -> """
      SELECT user_id,
        count(*) FILTER (event_type = 'click') AS click,
        count(*) FILTER (event_type = 'view') AS view,
        count(*) FILTER (event_type = 'purchase') AS purchase,
        count(*) FILTER (event_type = 'signup') AS signup,
        count(*) FILTER (event_type = 'error') AS error
      FROM events GROUP BY user_id""",
    "q21_unpivot" -> """
      SELECT user_id, event_type, count(*) AS n
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
      GROUP BY user_id, event_type""",
    "q22_correlated" -> """
      SELECT e.user_id, count(*) AS n_later
      FROM events e
      WHERE e.ts > (SELECT min(i.ts) FROM events i
                    WHERE i.user_id = e.user_id)
      GROUP BY e.user_id""",
    "q24_range_frame" -> """
      SELECT event_id, user_id,
        CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_sum,
        CAST(count(*) OVER w AS BIGINT) AS hour_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)""",
    "q23_grouping_sets" -> """
      SELECT event_type, bucket, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        CAST(grouping(event_type) AS INT) AS g_et,
        CAST(grouping(bucket) AS INT) AS g_b
      FROM (SELECT event_type, user_id % 7 AS bucket, value FROM events) ev
      GROUP BY GROUPING SETS ((event_type, bucket), (event_type), ())""",
    "q18_percentile" -> """
      SELECT event_type,
        quantile_disc(value, 0.5) AS p50_approx,
        quantile_cont(value, 0.5) AS p50_exact,
        min(value) AS vmin, max(value) AS vmax
      FROM events GROUP BY event_type""",
    "t4_split" -> TextOracles.splitSql,
    "t5_chunks" -> TextOracles.chunksSql(),
    "t6_redact" -> TextOracles.redactSql,
    "t11_corpus_pipeline" -> TextOracles.corpusPipelineSql(),
    "t35_curation_funnel" -> TextOracles.curationFunnelSql(),
    "t9_data_mix" -> TextOracles.mixSql,
    "t10_seq_pack" -> TextOracles.seqPackSql(),
    "t12_decontaminate" -> TextOracles.decontaminateSql(),
    "t33_multisuite_decon" -> TextOracles.multiSuiteDeconSql(),
    "d14_fuzzy_decon" -> TextOracles.fuzzyDeconSql(),
    "t23_ngram_coverage" -> TextOracles.ngramCoverageSql(),
    "d15_dup_run" -> TextOracles.dupRunSql(),
    "q25_gap_fill" -> """
      SELECT event_id, user_id, ts,
        CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS DOUBLE) AS filled
      FROM (SELECT event_id, user_id, ts,
              CASE WHEN event_id % 7 = 0 THEN NULL
                   ELSE CAST(value AS DECIMAL(18,2)) END AS v
            FROM events) e""",
    "d9_kmv_distinct" -> TextOracles.kmvSql(),
    "t13_sample_source" -> TextOracles.samplePerSourceSql(k = 10),
    // the oracle states the per-source cumulative-window semantics
    // directly; the operator reaches the same row set bucket-wise
    "t18_token_budget" -> TextOracles.tokenBudgetSql(),
    "t20_global_shuffle" -> TextOracles.globalShuffleSql,
    "t22_upsample" -> TextOracles.upsampleSql(Seq("src0" -> 2500L,
      "src1" -> 1700L, "src2" -> 500L, "src3" -> 0L)),
    "t15_segment_dedup" -> TextOracles.segmentDedupSql(),
    "d10_source_overlap" -> TextOracles.sourceOverlapSql(),
    "t7_source_filter" -> TextOracles.sourceGateSql(),
    "d2_dedup_minhash" -> TextOracles.minhashCandidatesSql(),
    "d7_neardup_ladder" -> TextOracles.nearDupLadderSql(),
    "t16_bm25" -> TextOracles.bm25Sql(Bm25Terms),
    "e8_semdedup" -> SimOracles.semanticDedupSql(),
    "e31_hybrid_rrf" -> SimOracles.hybridRrfSql(Bm25Terms),
    "d8_embedding_ladder" -> SimOracles.embeddingLadderSql(),
    "d4_ngram_jaccard" -> """
      WITH sh AS (
        SELECT DISTINCT doc_id, lang, CAST(n_chars // 300 AS INT) AS lb,
               unnest(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                 i -> string_split(text, ' ')[i] || ' '
                      || string_split(text, ' ')[i+1] || ' '
                      || string_split(text, ' ')[i+2])) AS shingle
        FROM documents),
      sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.lang = b.lang AND a.lb = b.lb
             AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc1, doc2, inter, s1.n_sh AS n1, s2.n_sh AS n2
      FROM inter
      JOIN sizes s1 ON s1.doc_id = doc1
      JOIN sizes s2 ON s2.doc_id = doc2
      WHERE inter * 10 >= (s1.n_sh + s2.n_sh - inter) * 7""",
  )
}
