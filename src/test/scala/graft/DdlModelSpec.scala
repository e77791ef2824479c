package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The DDL of `Main.run`'s stream against a sequential model of the
  * reference's schema registry, on seeded generated turn sets.
  *
  * The model is the reference's record-at-a-time first-writer-wins
  * registry (transformer.go:176-232; constants/config_manager.go:31-52):
  * the first document of a table declares it with that document's keys
  * and types, and every key a later document brings is added once, typed
  * where it first occurs. It replays the documents in one deterministic
  * order instead of the reference's arrival race, with this repository's
  * divergences: columns sorted, JSON integers INTEGER, strings compared by
  * their UTF-8 bytes, NULLs first, `_id` always the PRIMARY KEY and never
  * added.
  */
class DdlModelSpec extends SparkSuite {

  // ------------------------------------------------------------- values
  sealed trait V
  case class VStr(s: String) extends V
  case class VNum(raw: String) extends V
  case class VBool(b: Boolean) extends V
  case object VNull extends V

  /** A generated turn. `fields` is the payload's AST when it is a JSON
    * object; `payload` is the text after the namespace.
    */
  case class GTurn(conv: String, idx: Int, ts: Option[String], op: String,
                   ns: Option[String], payload: String,
                   fields: Option[List[(String, V)]]) {
    def text: String = ns.fold(op)(n => s"$op $n $payload")
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c => c.toString
  }

  private def ser(fields: List[(String, V)]): String =
    fields.map { case (k, v) =>
      val raw = v match {
        case VStr(s) => "\"" + esc(s) + "\""
        case VNum(r) => r
        case VBool(b) => b.toString
        case VNull => "null"
      }
      "\"" + esc(k) + "\":" + raw
    }.mkString("{", ",", "}")

  // ---------------------------------------------------------- generator
  private val T1 = "2024-01-01 10:00:00"
  private val T2 = "2024-01-01 11:00:00"

  private val value: Gen[V] = Gen.frequency(
    3 -> Gen.oneOf("x", "～", "😀", "it's").map(VStr),
    3 -> Gen.chooseNum(-5, 99).map(i => VNum(i.toString)),
    1 -> Gen.oneOf("1.5", "2e3").map(VNum),
    1 -> Gen.oneOf(true, false).map(VBool),
    1 -> Gen.const(VNull))

  private val keys = Seq("_id", "a", "b", "Z", "k～", "k😀")

  private val fields: Gen[List[(String, V)]] = for {
    ks <- Gen.someOf(keys)
    vs <- Gen.listOfN(ks.size, value)
  } yield ks.toList.zip(vs)

  private val turn: Gen[GTurn] = for {
    conv <- Gen.oneOf("c1", "c2", "～", "😀")
    idx <- Gen.chooseNum(0, 3)
    ts <- Gen.frequency(1 -> Gen.const(None), 6 -> Gen.oneOf(T1, T2).map(Some(_)))
    op <- Gen.frequency(8 -> Gen.const("INS"), 1 -> Gen.const("UPD"),
      1 -> Gen.const("DEL"), 1 -> Gen.const("SYS"))
    ns <- Gen.frequency(
      8 -> Gen.oneOf("shop.orders", "shop.items", "other.t9").map(Some(_)),
      1 -> Gen.oneOf("admin.x", "nonamespace", "shop.").map(Some(_)),
      1 -> Gen.const(None))
    fs <- fields
    bad <- Gen.frequency(8 -> Gen.const(None),
      1 -> Gen.oneOf("not-json", """{"a":""").map(Some(_)))
  } yield GTurn(conv, idx, ts, op, ns, bad.getOrElse(ser(fs)),
    if (bad.isEmpty) Some(fs) else None)

  /** Turns, some logged again at the same (conv_id, turn_idx, ts) with
    * another payload, spread over 1–3 files.
    */
  private val turnFiles: Gen[Seq[Seq[GTurn]]] = for {
    ts <- Gen.listOfN(24, turn)
    again <- Gen.listOfN(4, Gen.zip(Gen.oneOf(ts), fields))
    nFiles <- Gen.chooseNum(1, 3)
    all = ts ++ again.map { case (t, fs) => t.copy(payload = ser(fs), fields = Some(fs)) }
    file <- Gen.listOfN(all.size, Gen.chooseNum(0, nFiles - 1))
  } yield (0 until nFiles).map(f => all.zip(file).collect { case (t, `f`) => t })

  // -------------------------------------------------------------- model
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  private def optCompare(a: Option[String], b: Option[String]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) => x.compareTo(y) // one timestamp format
  }

  private def sqlType(v: V): String = v match {
    case VStr(_) => "VARCHAR(255)"
    case VBool(_) => "BOOLEAN"
    case VNum(r) if r.matches("-?[0-9]+") => "INTEGER"
    case _ => "FLOAT"
  }

  private case class Doc(t: GTurn, db: String, tbl: String) {
    /** The scalar keys: a JSON null is no column. */
    val types: Map[String, String] =
      t.fields.get.collect { case (k, v) if v != VNull => k -> sqlType(v) }.toMap
  }

  /** (db, tbl) of a turn the reference admits (its op whitelist and db
    * blacklist, constants/enums.go:11-21), with a table.
    */
  private def namespace(t: GTurn): Option[(String, String)] =
    t.ns.map(_.split("\\.", -1)).collect {
      case Array(db, tbl) if Set("INS", "UPD", "DEL").contains(t.op) &&
        !Set("admin", "config", "local").contains(db) && tbl.nonEmpty => (db, tbl)
    }

  private def turnOrder(a: GTurn, b: GTurn): Int = {
    val c1 = optCompare(a.ts, b.ts)
    val c2 = if (c1 != 0) c1 else utf8Compare(a.conv, b.conv)
    if (c2 != 0) c2 else Integer.compare(a.idx, b.idx)
  }

  /** The model's DDL lines, in stream order, and its dead-letter count. */
  private def model(turns: Seq[GTurn]): (Seq[String], Long) = {
    val admitted = turns.flatMap(t => namespace(t).map(t -> _))
    // a schema is declared by a turn that renders: a bad payload is
    // dead-lettered and declares none
    val schemas = admitted.collect { case (t, (db, _)) if t.fields.nonEmpty =>
      s"CREATE SCHEMA IF NOT EXISTS $db;" }.distinct
    val docs = admitted.collect { case (t, (db, tbl)) if t.op == "INS" && t.fields.nonEmpty =>
      Doc(t, db, tbl)
    }.sortWith { (a, b) =>
      val c = turnOrder(a.t, b.t)
      (if (c != 0) c else utf8Compare(a.t.payload, b.t.payload)) < 0
    }
    // the registry: table → its declared columns
    val registry = mutable.Map.empty[(String, String), mutable.Set[String]]
    val creates, alters = mutable.ArrayBuffer.empty[String]
    docs.foreach { d =>
      val name = s"${d.db}.${d.tbl}"
      registry.get((d.db, d.tbl)) match {
        case None =>
          registry((d.db, d.tbl)) = mutable.Set.from(d.types.keys)
          val defs = (d.types - "_id").toSeq.sortWith((x, y) => utf8Compare(x._1, y._1) < 0)
            .map { case (k, ty) => s", $k $ty" }.mkString
          creates += s"CREATE TABLE IF NOT EXISTS $name (_id VARCHAR(255) PRIMARY KEY$defs);"
        case Some(cols) =>
          (d.types.keySet -- cols - "_id").foreach { k =>
            cols += k
            // the same turn logged twice ties on its position: the
            // smaller type wins
            val ty = docs.filter(o => o.db == d.db && o.tbl == d.tbl &&
              turnOrder(o.t, d.t) == 0).flatMap(_.types.get(k)).min
            alters += s"ALTER TABLE $name ADD $k $ty;"
          }
      }
    }
    def sorted(s: Iterable[String]) = s.toSeq.sortWith(utf8Compare(_, _) < 0)
    val rendered = turns.count(t => namespace(t).nonEmpty && t.fields.nonEmpty)
    (sorted(schemas) ++ sorted(creates) ++ sorted(alters), (turns.size - rendered).toLong)
  }

  // ----------------------------------------------------------- property
  test("single run: Main.run's DDL equals the sequential first-writer-wins model") {
    (0 until 12).foreach { i =>
      val files = turnFiles(Gen.Parameters.default, Seed(1100L + i)).get
      val base = tempDir("graft_model").toString
      files.filter(_.nonEmpty).foreach { ts =>
        turns(ts.map(t => (t.conv, t.idx, "user", t.text, "tool_0", t.ts.orNull)): _*)
          .coalesce(1).write.mode("append").json(s"$base/in")
      }
      val conf = Main.Conf(s"$base/in", "json", s"$base/out.sql", "sql",
        None, "local[4]")
      val (_, rejects) = Main.run(spark, conf)
      val got = spark.read.text(conf.output).collect().map(_.getString(0)).toSeq
      val isDdl = (s: String) => s.startsWith("CREATE ") || s.startsWith("ALTER ")
      val (wantDdl, wantRejects) = model(files.flatten)
      assert(got.takeWhile(isDdl) == wantDdl, s"seed ${1100L + i}")
      assert(!got.dropWhile(isDdl).exists(isDdl), s"seed ${1100L + i}")
      assert(rejects == wantRejects, s"seed ${1100L + i}")
    }
  }
}
