package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{json_arr_raw, json_kv_raw, json_unquote, parse_turn, valid_turn}

/** The log-pipeline operators: parse → filter → enrich → route → aggregate,
  * plus render/flatten/DDL stages — the Spark-native re-expression of the
  * reference's scan→filter→hash-route→transform→sink dataflow
  * (SURVEY.md §2; /root/reference/main.go:84-107,
  * /root/reference/transformer/transformer.go:15-319).
  *
  * Everything is declarative DataFrame API so Catalyst gets full pushdown /
  * pruning / whole-stage-codegen; the custom surface is the fused
  * ParseTurn expression, the enrich lookup and the schema registry's
  * fold. No driver-side loops over turns: the driver collects the small
  * enrich dimension, and the registry's partials — per partition, the
  * dead-letter counts, the schema names and at most one entry per (db,
  * tbl, key), never a turn — which it merges to decide the DDL. Each stage
  * is a distributed transform that scales by partition count.
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

  /** A turn renders only into a table: `INS nonamespace {…}` passes
    * ValidTurn with db = ns and tbl NULL, and would render NULL statements.
    */
  private def hasTable: Column = col("tbl").isNotNull && col("tbl") =!= ""

  /** The render's input, one row per turn: (conv_id, turn_idx, ts,
    * admitted, op, db, tbl, payload, kv). Each turn is parsed once
    * (parse_turn), admitted once (valid_turn and a table) and, if
    * admitted, its payload tokenized once (`kv`, json_kv_raw). `admitted`
    * is never NULL: every turn either renders or is dead-lettered. Main
    * caches this projection, so the [[registry]] fold and every branch of
    * [[renderTokens]] read these columns instead of re-deriving them.
    */
  def tokenize(turns: DataFrame): DataFrame = tokens(parse(turns))

  /** [[tokenize]] over parse-shaped rows. */
  private def tokens(parsed: DataFrame): DataFrame =
    parsed
      .select(col("conv_id"), col("turn_idx"), col("ts"),
        (validCond && hasTable).as("admitted"), col("op"), col("db"),
        col("tbl"), col("payload"))
      .withColumn("kv", when(col("admitted"), json_kv_raw(col("payload"))))

  // --------------------------------------------------------------- enrich

  /** Enrich stage: attach the tool dimension's columns to each turn — a
    * left join on `tool`, run as one projection. The dim is tiny (≤
    * thousands of tools), so its rows are collected on the driver into a
    * hash lookup that each turn probes once: O(1) per row, no exchange,
    * no shuffle of the fact side at any scale. Collecting a literal dim
    * (a LocalRelation, as [[graft.sources.Transcripts.toolDim]]) runs no
    * Spark job; any other dim runs the one job its broadcast would. (The
    * lookup rides in the task closure; a dim grown large would go in a
    * `sparkContext.broadcast`, which starts no job either.)
    *
    * The join's semantics and output schema: `tool`, the fact columns,
    * then the dim's other columns, all nullable. A turn whose tool is null
    * or absent from the dim gets nulls; a dim row whose key is null
    * matches nothing. Keys must be unique — a join would emit the turn
    * once per match — so a duplicate fails with IllegalArgumentException.
    */
  def enrich(parsed: DataFrame, toolDim: DataFrame): DataFrame = {
    val dimCols = toolDim.schema.filterNot(_.name == "tool")
    val lookup = new java.util.HashMap[String, Row]()
    toolDim.collect().foreach { r =>
      val key = r.getAs[String]("tool")
      val value = Row.fromSeq(dimCols.map(f => r.getAs[Any](f.name)))
      if (key != null && lookup.put(key, value) != null)
        throw new IllegalArgumentException(
          s"tool dimension has more than one row for key '$key'")
    }
    val probe = udf(new UDF1[String, Row] {
      def call(tool: String): Row = lookup.get(tool)
    }, StructType(dimCols.map(_.copy(nullable = true))))
      .withName("tool_dim_lookup")
    // two projections: the probe runs once per turn, and its struct's
    // fields are read in the next (CollapseProject keeps a non-cheap
    // expression that is read twice in its own projection)
    val facts = parsed.columns.toSeq.filterNot(_ == "tool").map(col)
    val dim = col("__tool_dim")
    parsed.withColumn("__tool_dim", probe(col("tool")))
      .select((col("tool") +: facts) ++
        dimCols.map(f => dim.getField(f.name).as(f.name)): _*)
  }

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
  // Every renderer reads ONE tokenizer pass per row: the `kv` column,
  // json_kv_raw's map<key, raw-json-token> of the payload; everything
  // downstream is map lookups. Each kind has one core over kv-carrying rows
  // (conv_id, turn_idx, ts, op, db, tbl, payload, kv). Main feeds the cores
  // [[tokenize]]'s cached projection, so no branch re-parses or
  // re-tokenizes a turn; the public per-kind renderers take parse-shaped
  // rows and add kv with [[withKv]]. Raw tokens keep their JSON quoting, so
  // the renderer switches on the ACTUAL value type like the reference does
  // (transformer.go:34-52) — a numeric-looking JSON *string* "89799" stays
  // quoted and VARCHAR.

  private def jval(key: String): Column =
    get_json_object(col("payload"), "$." + key)

  private def kv: Column = col("kv")

  /** Parse-shaped rows → the cores' input: the turns with a table, their
    * payloads tokenized (aliased as `kv`, so CollapseProject keeps the
    * non-cheap multi-consumer expression in its own projection).
    */
  private def withKv(parsed: DataFrame): DataFrame =
    parsed.filter(hasTable).withColumn("kv", json_kv_raw(col("payload")))

  /** The rows of one op whose payload tokenized: a NULL kv (a payload that
    * is not a JSON object) renders nothing rather than broken SQL. Guard
    * kv, never stmt: a pushed-down isnotnull(stmt) would inline the whole
    * statement expression into the filter.
    */
  private def opRows(tok: DataFrame, op: String): DataFrame =
    tok.filter(col("op") === op && kv.isNotNull)

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
  def renderInsertDynamic(parsed: DataFrame): DataFrame = inserts(withKv(parsed))

  private def inserts(tok: DataFrame): DataFrame =
    opRows(tok, "INS")
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
  def renderUpdateDynamic(parsed: DataFrame): DataFrame = updates(withKv(parsed))

  private def updates(tok: DataFrame): DataFrame = {
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
    withDiffKv(opRows(tok, "UPD"))
      .withColumn("stmt",
        concat(lit("UPDATE "), col("db"), lit("."), col("tbl"), lit(" SET "),
          array_join(setParts, ", "), lit(" WHERE "), dynWhere, lit(";")))
      .select("conv_id", "turn_idx", "stmt")
  }

  /** DELETE synthesis: WHERE from ALL payload keys (transformer.go:301-319). */
  def renderDeleteDynamic(parsed: DataFrame): DataFrame = deletes(withKv(parsed))

  private def deletes(tok: DataFrame): DataFrame =
    opRows(tok, "DEL")
      .withColumn("stmt",
        concat(lit("DELETE FROM "), col("db"), lit("."), col("tbl"),
          lit(" WHERE "), dynWhere, lit(";")))
      .select("conv_id", "turn_idx", "stmt")

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
  // childDocs re-shapes every nested value into a kv-carrying row (db,
  // tbl = <parentTbl>_<key>, kv = the child's merged map), so the SAME
  // INSERT and DDL cores run unchanged on child tables — discovery, drift
  // and rendering share one code path.

  private def escJsonKey(k: Column): Column =
    regexp_replace(k, "([\"\\\\])", "\\\\$1")

  /** Canonical JSON text of a raw-token map (sorted keys). */
  private def jsonOfKv(m: Column): Column =
    concat(lit("{"), array_join(transform(array_sort(map_keys(m)),
      k => concat(lit("\""), escJsonKey(k), lit("\":"), element_at(m, k))),
      ","), lit("}"))

  /** One row per nested child document: (conv_id, turn_idx, ts, db, tbl,
    * op, payload, kv). Array values explode per element; a non-object
    * element becomes a single `value` column (conscious divergence: the
    * reference type-asserts object elements and would panic on scalars,
    * transformer.go:87). Surrogate `_id` is the deterministic
    * position-stable sha2 (T2 fix; reference uuid.New at
    * transformer.go:131).
    *
    * `kv` is the child's merged map itself, never re-tokenized, and it is
    * never NULL, so the cores' null guard folds away on child rows.
    * `payload` is the map's canonical JSON text (sorted keys); it serves
    * only as the DDL first-doc tie-break. Where the text re-tokenizes,
    * json_kv_raw(payload) equals kv (RenderFuzzSpec).
    */
  def childDocs(parsed: DataFrame): DataFrame = children(withKv(parsed))

  private def children(tok: DataFrame): DataFrame = {
    val nestedKeys = filter(array_sort(map_keys(kv)), k => {
      val raw = element_at(kv, k)
      raw.startsWith("{") || raw.startsWith("[")
    })
    val base = opRows(tok, "INS")
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
        jsonOfKv(col("full")).as("payload"), col("full").as("kv"))
  }

  /** Child INSERT synthesis with runtime-discovered columns (F1 + T3). */
  def renderChildInsertsDynamic(parsed: DataFrame): DataFrame =
    inserts(childDocs(parsed))

  // ------------------------------------------------------------------ DDL
  // Every CREATE SCHEMA, CREATE TABLE and drift ALTER is decided on the
  // driver, from one schema registry per batch ([[registry]]): the
  // reference's mutex-guarded first-writer-wins registry
  // (constants/config_manager.go:31-52), with a deterministic (ts, conv_id,
  // turn_idx, payload) order instead of the goroutine arrival race. One
  // Spark job folds each partition to a partial registry: dead-letter
  // counts by reason, schema names and, per (db, tbl, key), two minima —
  // at most |keys| entries, never a turn. The driver merges the partials
  // and decides the statements, which join the stream as a literal
  // relation, so the DDL adds no exchange to the render. Parent and child
  // tables share the fold: child docs are kv-carrying rows like parent INS
  // rows. Catalyst still computes every type (sqlTypeOfRaw) and the fold
  // takes minima by Catalyst's own ordering of the projected structs, so
  // it orders exactly as a `min(struct)` aggregate would: field by field,
  // nulls first, strings by their UTF-8 bytes.

  /** Dead-letter reasons, in order of precedence. The reference's guard
    * skips a record whose op is unknown or whose db is denied
    * (transformer.go:26-28); a turn with no db, or with a missing or empty
    * table, has no namespace to render into; an admitted turn whose
    * payload is not a JSON object renders no DML.
    */
  val deadLetterReasons: Seq[String] =
    Seq("unknown_op", "denied_db", "no_namespace", "bad_payload")

  /** The index of a [[tokenize]] row's dead-letter reason in
    * [[deadLetterReasons]]; NULL for a turn that renders. Every turn with a
    * NULL kv, and only such a turn, gets a reason.
    */
  private def deadLetter: Column =
    when(!coalesce(col("op").isin(allowedOps: _*), lit(false)), 0)
      .when(coalesce(col("db").isin(deniedDbs: _*), lit(false)), 1)
      .when(!col("admitted"), 2)
      .when(kv.isNull, 3)

  /** One DDL statement: phase 0 is CREATE SCHEMA (`tbl` NULL), 1 CREATE
    * TABLE, 2 ALTER TABLE ... ADD.
    */
  final case class Ddl(phase: Int, db: String, tbl: String, stmt: String)

  /** A batch's schema registry, decided on the driver: its dead-lettered
    * turns per reason, in [[deadLetterReasons]] order, and its DDL.
    */
  final case class Registry(deadLetters: Seq[(String, Long)], ddl: Seq[Ddl])

  /** The registry of a [[tokenize]]-shaped batch, from ONE Spark job; over
    * a cached batch, that job also builds the cache.
    */
  def registry(batch: DataFrame): Registry =
    fold(Some(batch), docs(batch.filter(col("admitted"))))

  /** Admitted turns → the document set: parent INS rows and their
    * runtime-discovered child docs, each with its kv.
    */
  private def docs(tok: DataFrame): DataFrame =
    parentDocs(tok).unionByName(children(tok))

  private def parentDocs(tok: DataFrame): DataFrame =
    tok.filter(col("op") === "INS")
      .select("conv_id", "turn_idx", "ts", "db", "tbl", "op", "payload", "kv")

  /** One row per (doc, scalar key) of the docs that render an INSERT, so a
    * malformed payload never decides a table's columns. A key-less doc
    * gives one row with a NULL key: it still competes for its table's
    * first doc. `fd` is the doc's position (ts, conv_id, turn_idx,
    * payload) with the key's type there; `ea` is the position (ts,
    * conv_id, turn_idx) with the type.
    */
  private def keyRows(docs: DataFrame): DataFrame = {
    val ktype = sqlTypeOfRaw(element_at(kv, col("key"))).as("ktype")
    opRows(docs, "INS")
      .select(col("db"), col("tbl"), col("ts"), col("conv_id"),
        col("turn_idx"), col("payload"), kv,
        explode_outer(scalarKeysOf(kv)).as("key"))
      .select(col("db"), col("tbl"), col("key"),
        struct(struct(col("ts"), col("conv_id"), col("turn_idx"),
          col("payload")).as("at"), ktype).as("fd"),
        struct(col("ts"), col("conv_id"), col("turn_idx"), ktype).as("ea"))
  }

  /** The registry of `batch`'s turns, if given, and `docs`' tables. The
    * fold reads one row per turn (its schema if it renders, else its
    * dead-letter reason) and one per doc key; a NULL `tbl` marks a turn
    * row. A dead-lettered turn declares no schema.
    */
  private def fold(batch: Option[DataFrame], docs: DataFrame): Registry = {
    val keys = keyRows(docs)
    val rows = batch
      .fold(keys.withColumn("reason", lit(null).cast("int"))) { b =>
        b.select(when(deadLetter.isNull, col("db")).as("db"),
            deadLetter.as("reason"))
          .unionByName(keys, allowMissingColumns = true)
      }
      .select("db", "tbl", "key", "fd", "ea", "reason")
    def ordering(t: DataType): Ordering[InternalRow] =
      InterpretedOrdering.forSchema(t.asInstanceOf[StructType].map(_.dataType))
    val fdType = rows.schema("fd").dataType
    val minima = new Minima(ordering(fdType), ordering(rows.schema("ea").dataType))
    val qe = rows.queryExecution
    val partials = SQLExecution.withNewExecutionId(qe, Some("registry")) {
      qe.toRdd.mapPartitions(it => Iterator.single(minima.partial(it))).collect()
    }
    decide(partials.reduce(minima.merge),
      ordering(fdType.asInstanceOf[StructType]("at").dataType))
  }

  /** A registry before its statements are decided. */
  private final class Partial extends Serializable {
    val deadLetters = new Array[Long](deadLetterReasons.size)
    val schemas = mutable.HashSet.empty[UTF8String]
    /** (db, tbl, key) → the least (fd, ea) seen. */
    val keys = mutable.HashMap.empty[(UTF8String, UTF8String, UTF8String),
      (InternalRow, InternalRow)]
  }

  /** The fold's minima: partials merge by the same minima that build them,
    * so the driver's merge equals one fold over the whole batch.
    */
  private final class Minima(fdOrd: Ordering[InternalRow],
                             eaOrd: Ordering[InternalRow]) extends Serializable {
    private def offer(p: Partial, k: (UTF8String, UTF8String, UTF8String),
                      fd: InternalRow, ea: InternalRow): Unit =
      p.keys(k) = p.keys.get(k).fold((fd, ea)) { case (f, e) =>
        (fdOrd.min(f, fd), eaOrd.min(e, ea))
      }

    /** One partition of the fold's (db, tbl, key, fd, ea, reason) rows.
      * They may be reused buffers, so what the partial keeps is copied.
      */
    def partial(rows: Iterator[InternalRow]): Partial = {
      val p = new Partial
      def str(r: InternalRow, i: Int): UTF8String =
        if (r.isNullAt(i)) null else r.getUTF8String(i).clone()
      rows.foreach { r =>
        if (r.isNullAt(1)) {
          if (!r.isNullAt(0)) p.schemas += str(r, 0)
          if (!r.isNullAt(5)) p.deadLetters(r.getInt(5)) += 1
        } else offer(p, (str(r, 0), str(r, 1), str(r, 2)),
          r.getStruct(3, 2).copy(), r.getStruct(4, 4).copy())
      }
      p
    }

    def merge(a: Partial, b: Partial): Partial = {
      b.deadLetters.indices.foreach(i => a.deadLetters(i) += b.deadLetters(i))
      a.schemas ++= b.schemas
      b.keys.foreach { case (k, (fd, ea)) => offer(a, k, fd, ea) }
      a
    }
  }

  /** The statements of a merged registry. Per table, the first doc is the
    * least `fd.at` over its keys. A key belongs to that doc iff its own
    * `fd.at` equals it: those keys, sorted, are the CREATE columns typed
    * from the first doc (transformer.go:205-228). Every other key is
    * drift: ALTER ... ADD typed from its earliest occurrence
    * (transformer.go:176-195). `_id` is never drift — CREATE always
    * declares it as the PRIMARY KEY.
    */
  private def decide(p: Partial, atOrd: Ordering[InternalRow]): Registry = {
    val schemas = p.schemas.toSeq.map(db =>
      Ddl(0, db.toString, null, s"CREATE SCHEMA IF NOT EXISTS $db;"))
    val tables = p.keys.groupBy { case ((db, tbl, _), _) => (db, tbl) }.toSeq
      .flatMap { case ((db, tbl), keys) =>
        def at(fd: InternalRow): InternalRow = fd.getStruct(0, 4)
        val first = keys.values.map { case (fd, _) => at(fd) }.min(atOrd)
        val (create, drift) = keys.toSeq
          .collect { case ((_, _, k), facts) if k != null && k.toString != "_id" =>
            (k, facts) }
          .partition { case (_, (fd, _)) => atOrd.equiv(at(fd), first) }
        val defs = create.sortWith((a, b) => a._1.binaryCompare(b._1) < 0)
          .map { case (k, (fd, _)) => s", $k ${fd.getUTF8String(1)}" }.mkString
        val name = s"$db.$tbl"
        Ddl(1, db.toString, tbl.toString,
          s"CREATE TABLE IF NOT EXISTS $name (_id VARCHAR(255) PRIMARY KEY$defs);") +:
          drift.map { case (k, (_, ea)) =>
            Ddl(2, db.toString, tbl.toString,
              s"ALTER TABLE $name ADD $k ${ea.getUTF8String(3)};")
          }
      }
    Registry(deadLetterReasons.zip(p.deadLetters.toSeq), schemas ++ tables)
  }

  /** The `phase` statements of a registry, as a literal relation. */
  private def ddlPhase(parsed: DataFrame, reg: Registry, phase: Int): DataFrame =
    parsed.sparkSession.createDataFrame(reg.ddl.filter(_.phase == phase))

  /** The registry of the tables of `parsed`'s turns with a table: the
    * docs `docsOf` picks from them, whether or not a turn is admitted.
    */
  private def tables(parsed: DataFrame, docsOf: DataFrame => DataFrame): Registry =
    fold(None, docsOf(withKv(parsed)))

  /** CREATE TABLE per parent table from its first doc: runtime-derived
    * columns, inferred types, _id leading as PRIMARY KEY.
    */
  def ddlCreateTablesDynamic(parsed: DataFrame): DataFrame =
    ddlPhase(parsed, tables(parsed, parentDocs), 1).select("db", "tbl", "stmt")

  /** ALTER ... ADD per parent-table drift key. */
  def ddlAlterTablesDynamic(parsed: DataFrame): DataFrame =
    ddlPhase(parsed, tables(parsed, parentDocs), 2).select("db", "tbl", "stmt")

  /** Child CREATE TABLE from each child table's first document. */
  def ddlCreateChildTablesDynamic(parsed: DataFrame): DataFrame =
    ddlPhase(parsed, tables(parsed, children), 1).select("db", "tbl", "stmt")

  /** Child ALTER on drift inside nested documents (transformer_test.go:116-144). */
  def ddlAlterChildTablesDynamic(parsed: DataFrame): DataFrame =
    ddlPhase(parsed, tables(parsed, children), 2).select("db", "tbl", "stmt")

  /** CREATE SCHEMA dedup (D1, transformer.go:62-67,230-232) over the
    * admitted turns that have a table.
    */
  def ddlCreateSchemas(parsed: DataFrame): DataFrame =
    ddlPhase(parsed, registry(tokens(parsed)), 0).select("db", "stmt")

  // ------------------------------------------------------- full SQL stream

  /** The COMPLETE statement stream a reference user gets from one run
    * (main.go:84-107: per-record CREATE SCHEMA → child DDL/DML → parent
    * DDL/DML → UPDATE/DELETE), assembled batch-style with a deterministic
    * global order: DDL phases first (schemas, CREATEs, ALTERs), then DML
    * in (conv_id, turn_idx) stream order; a parent INSERT sorts before its
    * children's at the same turn ("(" < "_"). The reference's own
    * interleaving is goroutine-arrival-racy, so a deterministic convention
    * is strictly stronger, not a divergence.
    *
    * `parsed` is parse-shaped; its admitted turns render, exactly as the
    * union of the public per-kind renderers would render them. Building
    * the frame runs the registry's job.
    *
    * Output: (phase, ord, turn_idx, stmt) — callers order by all four, a
    * total order of the stream.
    */
  def renderAllStatements(parsed: DataFrame): DataFrame = {
    val batch = tokens(parsed)
    renderTokens(batch, registry(batch))
  }

  /** [[renderAllStatements]] over a [[tokenize]]-shaped batch and its
    * [[registry]] (Main passes its cached batch).
    *
    * The registry's DDL is a literal relation. Parent INS rows and their
    * runtime-discovered child docs form one document set, each row with
    * its kv, and one INSERT core covers both. No branch parses a turn or
    * tokenizes a payload; over a cached batch each branch scans the cache.
    * The plan is four branches and no exchange: the only shuffle is the
    * caller's gather into the one partition it sorts.
    */
  def renderTokens(batch: DataFrame, reg: Registry): DataFrame = {
    val tok = batch.filter(col("admitted"))
    def dml(df: DataFrame): DataFrame =
      df.select(lit(3).as("phase"), col("conv_id").as("ord"),
        col("turn_idx"), col("stmt"))
    batch.sparkSession.createDataFrame(reg.ddl)
      .select(col("phase"), col("stmt").as("ord"), lit(0).as("turn_idx"),
        col("stmt"))
      .unionByName(dml(inserts(docs(tok))))
      .unionByName(dml(updates(tok)))
      .unionByName(dml(deletes(tok)))
  }

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
