package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{json_arr_raw, json_kv_raw, json_unquote, parse_turn, valid_turn}

/** The log-pipeline operators: parse → filter → enrich → route → aggregate,
  * plus render/flatten/DDL stages — the Spark-native re-expression of the
  * reference's scan→filter→hash-route→transform→sink dataflow
  * (SURVEY.md §2; /root/reference/main.go:84-107,
  * /root/reference/transformer/transformer.go:15-319).
  *
  * Everything is declarative DataFrame API so Catalyst gets full pushdown /
  * pruning / whole-stage-codegen; the only custom surface is the fused
  * ParseTurn expression. No collect(), no RDDs, no driver-side loops — each
  * stage is a distributed transform that scales by partition count.
  */
object Pipeline {

  /** Reference op whitelist analog (/root/reference/constants/enums.go:11-15). */
  val allowedOps: Seq[String] = Seq("INS", "UPD", "DEL")

  /** Reference db blacklist (/root/reference/constants/enums.go:17-21). */
  val deniedDbs: Seq[String] = Seq("admin", "config", "local")

  // ---------------------------------------------------------------- parse

  /** Parse stage (S1/T7 analog): one fused pass over `text`.
    * Single narrow projection — no shuffle; filter/pruning push through it.
    */
  def parse(turns: DataFrame): DataFrame =
    turns
      .withColumn("p", parse_turn(col("text")))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"), col("text"), col("p.op").as("op"), col("p.db").as("db"),
        col("p.tbl").as("tbl"), col("p.payload").as("payload"))

  /** Admission predicate — the fused single-pass ValidTurn expression.
    * Equivalent by construction (ParseTurnSpec asserts it) to
    *   col("op").isin(allowedOps) && !col("db").isin(deniedDbs)
    * but evaluates text ONCE: predicate pushdown would otherwise inline
    * parse_turn(text).op / .db below the projection and re-parse each row
    * 2-3× in the hot filter (~55% of headline time, see BENCH.md).
    */
  private def validCond: Column = valid_turn(col("text"))

  /** Filter stage (P1): op whitelist + db blacklist
    * (/root/reference/main.go:273-277). Pure narrow filter.
    */
  def filterValid(parsed: DataFrame): DataFrame = parsed.filter(validCond)

  /** Dead-letter path (P3, unknown-op guard transformer.go:26-28). */
  def rejects(parsed: DataFrame): DataFrame = parsed.filter(!validCond)

  // --------------------------------------------------------------- enrich

  /** Enrich stage: attach tool metadata via broadcast hash join — the dim
    * side is tiny (≤ thousands of tools) so this is a map-side join with NO
    * shuffle of the 10^12-turn fact side at any scale.
    */
  def enrich(parsed: DataFrame, toolDim: DataFrame): DataFrame =
    parsed.join(broadcast(toolDim), Seq("tool"), "left")

  // ---------------------------------------------------------------- route

  /** Router (T1 dispatch + R3 fan-out): sink id keyed on (op-analog,
    * tool_kind) per the north rule. A pure projection; the partition-level
    * fan-out happens at write time (partitionBy(sink)) so each sink is a
    * directory/Iceberg-partition — no per-sink job loop.
    */
  def route(enriched: DataFrame): DataFrame =
    enriched.withColumn("sink",
      concat_ws("_",
        when(col("op") === "INS", "ins")
          .when(col("op") === "UPD", "upd")
          .otherwise("del"),
        coalesce(col("tool_kind"), lit("unknown"))))

  /** Per-sink count aggregate — Spark HashAggregate is inherently two-phase
    * (partial per partition, final after shuffle on `sink`), exactly the
    * partial+final contract the north rule demands. Sink cardinality is
    * tiny (|ops|×|kinds|) so the shuffle moves only partial maps.
    */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink")).agg(count(lit(1)).as("n"))

  // --------------------------------------------------------------- render
  // Deterministic SQL-text rendering (T3-T6): sorted column order and typed
  // literal binding, strictly stronger than the reference whose INSERT
  // column order is Go-map-random (transformer.go:154-174; SURVEY.md §5).
  // Every column list, SET/WHERE clause, child table and drift ALTER is
  // derived from each document at runtime — the reference's schema-on-read
  // semantics (map[string]interface{} payloads, transformer.go:54-114) —
  // so no caller supplies a key list.
  //
  // All renderers share ONE tokenizer pass per row: json_kv_raw parses the
  // payload once into map<key, raw-json-token> (aliased as `kv`, so the
  // optimizer's CollapseProject keeps the non-cheap multi-consumer
  // expression in its own projection and everything downstream is map
  // lookups). Raw tokens keep their JSON quoting, so the renderer switches
  // on the ACTUAL value type like the reference does (transformer.go:34-52)
  // — a numeric-looking JSON *string* "89799" stays quoted and VARCHAR.

  private def jval(key: String): Column =
    get_json_object(col("payload"), "$." + key)

  private def kv: Column = col("kv")

  private def withKv(df: DataFrame): DataFrame =
    df.withColumn("kv", json_kv_raw(col("payload")))

  /** Raw token present and renderable as a scalar literal (JSON null keys
    * are omitted from INSERT column lists, matching round-1 semantics).
    */
  private def isScalarRaw(raw: Column): Column =
    raw.isNotNull && !raw.startsWith("{") && !raw.startsWith("[") &&
      raw =!= "null"

  /** Typed literal binding from the RAW token (T6, transformer.go:34-52):
    * JSON strings quoted with '' escaping regardless of content (:38-39),
    * numbers/booleans bare (:40-45), JSON null → NULL (:46-47).
    * (Conscious fix vs the reference: floats keep their JSON form instead
    * of being forced through %f's 6 decimals — SURVEY.md §1.1 quirk.)
    */
  def sqlLiteralRaw(raw: Column): Column =
    when(raw === "null", "NULL")
      .when(raw.startsWith("\""),
        concat(lit("'"), regexp_replace(json_unquote(raw), "'", "''"), lit("'")))
      .otherwise(raw)

  /** Sorted scalar (renderable) keys of the parsed payload map. Nested
    * object/array values are flattened to child tables (F1), never rendered
    * inline — mirror of the reference deleting nested keys from the parent
    * doc (transformer.go:82,93).
    */
  private def scalarKeysOf(m: Column): Column =
    filter(array_sort(map_keys(m)), k => isScalarRaw(element_at(m, k)))

  /** Type inference from the RAW token (T7, transformer.go:234-253):
    * strings → VARCHAR even when numeric-looking (the reference switches on
    * the runtime type, :238-239); conscious fix: JSON integers become
    * INTEGER, not the reference's FLOAT-via-float64 quirk (SURVEY §1.1).
    */
  private def sqlTypeOfRaw(raw: Column): Column =
    when(raw.startsWith("\""), "VARCHAR(255)")
      .when(raw.isin("true", "false"), "BOOLEAN")
      .when(raw.rlike("^-?[0-9]+$"), "INTEGER")
      // every remaining scalar token is a valid JSON number (the tokenizer
      // rejects anything else), so decimal/exponent forms are FLOAT — and
      // sqlLiteralRaw's bare rendering is consistent with the type
      .otherwise("FLOAT")

  /** INSERT synthesis with runtime-derived columns. Rows whose payload is
    * not a JSON object (garbage past the op/ns tokens) produce a NULL kv
    * map and are dropped rather than emitting broken SQL — route them via
    * [[rejects]]-style auditing upstream if they must be counted.
    */
  def renderInsertDynamic(parsed: DataFrame): DataFrame =
    withKv(parsed.filter(col("op") === "INS"))
      // null-guard on kv, NOT on stmt: a pushed-down isnotnull(stmt) would
      // inline the whole stmt expression (and ~10 json_kv_raw calls) into
      // the filter below the kv projection
      .filter(kv.isNotNull)
      .withColumn("stmt",
        concat(lit("INSERT INTO "), col("db"), lit("."), col("tbl"),
          lit(" ("), array_join(scalarKeysOf(kv), ", "),
          lit(") VALUES ("),
          array_join(transform(scalarKeysOf(kv),
            k => sqlLiteralRaw(element_at(kv, k))), ", "),
          lit(");")))
      .select("conv_id", "turn_idx", "stmt")

  private def dynWhere: Column =
    array_join(transform(scalarKeysOf(kv),
      k => concat(k, lit(" = "), sqlLiteralRaw(element_at(kv, k)))), " and ")

  /** The diff sub-maps (one small tokenizer pass each over the diff.u /
    * diff.d raw tokens — both tiny).
    */
  private def withDiffKv(df: DataFrame): DataFrame =
    df.withColumn("diffkv", json_kv_raw(element_at(kv, lit("diff"))))
      .withColumn("ukv", json_kv_raw(element_at(col("diffkv"), lit("u"))))
      .withColumn("dkv", json_kv_raw(element_at(col("diffkv"), lit("d"))))

  /** UPDATE synthesis with runtime-derived SET (diff.u ∪ diff.d) and WHERE
    * (all scalar root keys — the o2 analog). SET NULL is driven by diff.d
    * KEY PRESENCE (the value is ignored, transformer.go:279-282).
    */
  def renderUpdateDynamic(parsed: DataFrame): DataFrame = {
    val empty = array().cast("array<string>")
    val setKeys = array_sort(array_union(
      coalesce(map_keys(col("ukv")), empty),
      coalesce(map_keys(col("dkv")), empty)))
    // isScalarRaw guard: a nested diff.u value would render its raw JSON
    // braces bare into the SET clause, so it falls through to `k = NULL`,
    // as diff.d key presence does. The reference's renderer has no map
    // case: its `?` placeholder survives and SHIFTS every later value one
    // slot left (transformer.go:34-52) — a bug, not semantics to preserve.
    val setParts = transform(setKeys, k => {
      val u = element_at(col("ukv"), k)
      when(isScalarRaw(u), concat(k, lit(" = "), sqlLiteralRaw(u)))
        .otherwise(concat(k, lit(" = NULL")))
    })
    withDiffKv(withKv(parsed.filter(col("op") === "UPD")).filter(kv.isNotNull))
      .withColumn("stmt",
        concat(lit("UPDATE "), col("db"), lit("."), col("tbl"), lit(" SET "),
          array_join(setParts, ", "), lit(" WHERE "), dynWhere, lit(";")))
      .select("conv_id", "turn_idx", "stmt")
  }

  /** DELETE synthesis: WHERE from ALL payload keys (transformer.go:301-319). */
  def renderDeleteDynamic(parsed: DataFrame): DataFrame =
    withKv(parsed.filter(col("op") === "DEL"))
      .filter(kv.isNotNull)
      .withColumn("stmt",
        concat(lit("DELETE FROM "), col("db"), lit("."), col("tbl"),
          lit(" WHERE "), dynWhere, lit(";")))
      .select("conv_id", "turn_idx", "stmt")

  /** CREATE TABLE from the first-seen doc with runtime-derived columns and
    * inferred types; _id leads as PRIMARY KEY (transformer.go:205-228).
    */
  def ddlCreateTablesDynamic(parsed: DataFrame): DataFrame = {
    val others = filter(scalarKeysOf(kv), k => k =!= "_id")
    val defs = array_join(transform(others,
      k => concat(k, lit(" "), sqlTypeOfRaw(element_at(kv, k)))), ", ")
    withKv(firstSeen(parsed.filter(col("op") === "INS")))
      .withColumn("stmt",
        concat(lit("CREATE TABLE IF NOT EXISTS "), col("db"), lit("."),
          col("tbl"), lit(" (_id VARCHAR(255) PRIMARY KEY"),
          when(defs === "", lit("")).otherwise(concat(lit(", "), defs)),
          lit(");")))
      .select("db", "tbl", "stmt")
  }

  /** ALTER synthesis with runtime-derived drift keys: any scalar key absent
    * from the table's first-seen doc but present later gets ADD COLUMN with
    * the type inferred from its EARLIEST occurrence (deterministic
    * replacement for the registry race, transformer.go:176-195).
    */
  def ddlAlterTablesDynamic(parsed: DataFrame): DataFrame = {
    // both sides are two-phase aggregates (no full-data window shuffle —
    // see firstSeen): per-key earliest occurrence vs the first doc's keys
    val keyRows = withKv(parsed.filter(col("op") === "INS"))
      .select(col("db"), col("tbl"), col("ts"),
        col("conv_id"), col("turn_idx"), col("kv"),
        explode(scalarKeysOf(kv)).as("key"))
      .withColumn("ktype", sqlTypeOfRaw(element_at(kv, col("key"))))
    val firstDocKeys = withKv(firstSeen(parsed.filter(col("op") === "INS")))
      .select(col("db"), col("tbl"), explode(scalarKeysOf(kv)).as("key"))
    val earliest = keyRows
      .groupBy(col("db"), col("tbl"), col("key"))
      .agg(min(struct(col("ts"), col("conv_id"), col("turn_idx"),
        col("ktype"))).as("m"))
    earliest.join(firstDocKeys, Seq("db", "tbl", "key"), "left_anti")
      .withColumn("stmt",
        concat(lit("ALTER TABLE "), col("db"), lit("."), col("tbl"),
          lit(" ADD "), col("key"), lit(" "), col("m.ktype"), lit(";")))
      .select("db", "tbl", "stmt")
  }

  // -------------------------------------------------------------- flatten

  /** Nested-value flatten (F1, transformer.go:69-108): payload arrays become
    * child-table rows with a carried parent FK — a projection after
    * posexplode, deliberately join-free like the reference. Surrogate keys
    * are deterministic sha2 (T2 fixed: reference used uuid.New at
    * transformer.go:131, untestable + non-idempotent).
    */
  def flattenChildren(parsed: DataFrame): DataFrame = {
    val tags = from_json(jval("tags"),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType))
    parsed.filter(col("op") === "INS")
      .select(col("conv_id"), col("turn_idx"), col("db"), col("tbl"),
        jval("_id").as("parent_id"), posexplode(tags).as(Seq("pos", "value")))
      .withColumn("child_tbl", concat(col("tbl"), lit("_tags")))
      .withColumn("_id",
        sha2(concat_ws("|", col("parent_id"), col("child_tbl"), col("pos")), 256))
      .select("conv_id", "turn_idx", "db", "child_tbl", "_id", "parent_id",
        "pos", "value")
  }

  // ------------------------------------------- dynamic (runtime) child flatten
  // The reference discovers child-table columns from the nested document
  // ITSELF at runtime (transformer.go:74-108): the child doc's keys drive
  // the child CREATE/ALTER/INSERT, with `_id` + `<parentTbl>__id` FK
  // synthesized only when the child lacks `_id` (transformer.go:127-134).
  // childDocs re-shapes every nested value into a parsed-shaped row
  // (db, tbl = <parentTbl>_<key>, payload = canonical child JSON), so the
  // SAME dynamic renderers and DDL operators run unchanged on child
  // tables — discovery, drift and rendering share one code path.

  private def escJsonKey(k: Column): Column =
    regexp_replace(k, "([\"\\\\])", "\\\\$1")

  /** Canonical JSON text of a raw-token map (sorted keys). */
  private def jsonOfKv(m: Column): Column =
    concat(lit("{"), array_join(transform(array_sort(map_keys(m)),
      k => concat(lit("\""), escJsonKey(k), lit("\":"), element_at(m, k))),
      ","), lit("}"))

  /** One parsed-shaped row per nested child document. Array values explode
    * per element; a non-object element becomes a single `value` column
    * (conscious divergence: the reference type-asserts object elements and
    * would panic on scalars, transformer.go:87). Surrogate `_id` is the
    * deterministic position-stable sha2 (T2 fix; reference uuid.New at
    * transformer.go:131).
    */
  def childDocs(parsed: DataFrame): DataFrame = {
    val nestedKeys = filter(array_sort(map_keys(kv)), k => {
      val raw = element_at(kv, k)
      raw.startsWith("{") || raw.startsWith("[")
    })
    val base = withKv(parsed.filter(col("op") === "INS"))
      .filter(kv.isNotNull)
      .withColumn("nk", explode(nestedKeys))
      .withColumn("nraw", element_at(kv, col("nk")))
      .withColumn("child_tbl", concat(col("tbl"), lit("_"), col("nk")))
      // parent without `_id` → FK is JSON null, NOT a dropped child row:
      // a null map value would null jsonOfKv's concat and silently drop
      // the whole child (the reference inserts it with FK NULL —
      // transformer.go:127-134 via GetValueFromObject's nil)
      .withColumn("parent_raw",
        coalesce(element_at(kv, lit("_id")), lit("null")))
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("db"),
        col("tbl"), col("child_tbl"), col("parent_raw"),
        posexplode(when(col("nraw").startsWith("{"), array(col("nraw")))
          .otherwise(json_arr_raw(col("nraw")))).as(Seq("pos", "eraw")))
    val idRaw = concat(lit("\""),
      sha2(concat_ws("|", json_unquote(col("parent_raw")), col("child_tbl"),
        col("pos")), 256), lit("\""))
    base
      .withColumn("ckv", coalesce(json_kv_raw(col("eraw")),
        map(lit("value"), col("eraw"))))
      .withColumn("full",
        when(map_contains_key(col("ckv"), "_id"), col("ckv"))
          // drop a pre-existing FK-named key before adding ours — Go map
          // assignment overwrites (transformer.go:130-133); map_concat
          // under the default EXCEPTION dedup policy would crash the job
          // on one odd document otherwise
          .otherwise(map_concat(
            map_filter(col("ckv"),
              (k, _) => k =!= concat(col("tbl"), lit("__id"))),
            map(lit("_id"), idRaw,
              concat(col("tbl"), lit("__id")), col("parent_raw")))))
      .select(col("conv_id"), col("turn_idx"), col("ts"), col("db"),
        col("child_tbl").as("tbl"), lit("INS").as("op"),
        jsonOfKv(col("full")).as("payload"))
  }

  /** Child INSERT synthesis with runtime-discovered columns (F1 + T3). */
  def renderChildInsertsDynamic(parsed: DataFrame): DataFrame =
    renderInsertDynamic(childDocs(parsed))

  /** Child CREATE TABLE from each child table's first-seen document. */
  def ddlCreateChildTablesDynamic(parsed: DataFrame): DataFrame =
    ddlCreateTablesDynamic(childDocs(parsed))

  /** Child ALTER on drift inside nested documents (transformer_test.go:116-144). */
  def ddlAlterChildTablesDynamic(parsed: DataFrame): DataFrame =
    ddlAlterTablesDynamic(childDocs(parsed))

  // ------------------------------------------------------------------ DDL

  /** First-seen row per (db,tbl) — the distributed replacement for the
    * reference's mutex-guarded first-writer-wins registry
    * (/root/reference/constants/config_manager.go:31-52): deterministic
    * (ts, conv_id, turn_idx) order instead of goroutine arrival race.
    *
    * Shape: a two-phase min-struct AGGREGATE, not a window — map-side
    * partials reduce every scan partition to ≤|tables| rows before the
    * exchange. The window form shuffles EVERY insert row into |tables|
    * partitions (12 reducers for 10¹² rows — a skew cliff at corpus
    * scale). Tie order matches the window orderBy: lexicographic
    * (ts, conv_id, turn_idx).
    */
  private def firstSeen(ins: DataFrame): DataFrame =
    ins.groupBy(col("db"), col("tbl"))
      .agg(min(struct(col("ts"), col("conv_id"), col("turn_idx"),
        col("payload"))).as("m"))
      .select(col("db"), col("tbl"), col("m.ts").as("ts"),
        col("m.conv_id").as("conv_id"), col("m.turn_idx").as("turn_idx"),
        col("m.payload").as("payload"))

  /** CREATE SCHEMA dedup (D1, transformer.go:62-67,230-232). */
  def ddlCreateSchemas(parsed: DataFrame): DataFrame =
    filterValid(parsed).select(col("db")).distinct()
      .withColumn("stmt",
        concat(lit("CREATE SCHEMA IF NOT EXISTS "), col("db"), lit(";")))

  // ------------------------------------------------------- full SQL stream

  /** The COMPLETE statement stream a reference user gets from one run
    * (main.go:84-107: per-record CREATE SCHEMA → child DDL/DML → parent
    * DDL/DML → UPDATE/DELETE), assembled batch-style with a deterministic
    * global order: DDL phases first (schemas, CREATEs, ALTERs — parent and
    * runtime-discovered child tables alike), then DML in (conv_id,
    * turn_idx) stream order; a parent INSERT sorts before its children's
    * at the same turn ("(" < "_"). The reference's own interleaving is
    * goroutine-arrival-racy, so a deterministic convention is strictly
    * stronger, not a divergence.
    *
    * Output: (phase, ord, turn_idx, stmt) — callers order by all four.
    */
  def renderAllStatements(parsed: DataFrame): DataFrame = {
    def ddl(df: DataFrame, phase: Int): DataFrame =
      df.select(lit(phase).as("phase"), col("stmt").as("ord"),
        lit(0).as("turn_idx"), col("stmt"))
    def dml(df: DataFrame): DataFrame =
      df.select(lit(3).as("phase"), col("conv_id").as("ord"),
        col("turn_idx"), col("stmt"))
    ddl(ddlCreateSchemas(parsed), 0)
      .unionByName(ddl(ddlCreateTablesDynamic(parsed), 1))
      .unionByName(ddl(ddlCreateChildTablesDynamic(parsed), 1))
      .unionByName(ddl(ddlAlterTablesDynamic(parsed), 2))
      .unionByName(ddl(ddlAlterChildTablesDynamic(parsed), 2))
      .unionByName(dml(renderInsertDynamic(parsed)))
      .unionByName(dml(renderChildInsertsDynamic(parsed)))
      .unionByName(dml(renderUpdateDynamic(parsed)))
      .unionByName(dml(renderDeleteDynamic(parsed)))
  }

  // ----------------------------------------------------------------- skew

  /** Salted repartition for hot conversations (north rule): one conv_id
    * holding half the corpus would pin one task in a plain
    * repartition(conv_id) — the reference has the same problem with its
    * FNV(ns) mod 10 channels (/root/reference/main.go:305-310) and never
    * addresses it. Salting by pmod(hash(turn_idx), buckets) spreads a hot
    * key over `saltBuckets` partitions; per-conv ordering is restored
    * downstream by sortWithinPartitions or a window over (conv_id,
    * turn_idx), both of which only need co-location per (conv_id, salt).
    */
  def saltedRepartition(df: DataFrame, numPartitions: Int,
                        saltBuckets: Int): DataFrame =
    df.repartition(numPartitions, col("conv_id"),
      pmod(hash(col("turn_idx")), lit(saltBuckets)))

  // ------------------------------------------------------ ordering / state

  /** Stable per-conversation ordering (R2 contract): window over conv_id
    * ordered by turn_idx. Demonstrated as role-transition counts (lag).
    */
  def turnTransitions(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    turns
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .filter(col("prev_role").isNotNull)
      .groupBy(col("prev_role"), col("role")).agg(count(lit(1)).as("n"))
  }

  /** Sessionization: per-conversation gap > 30 min starts a new session.
    * lag + running sum over the conv window; then per-session turn counts.
    */
  def sessionize(turns: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val gap = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
    turns
      .withColumn("boundary", when(gap.isNull || gap > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("boundary")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("conv_id"), col("session_id"))
      .agg(count(lit(1)).as("n_turns"), max(col("turn_idx")).as("last_turn"))
  }
}
