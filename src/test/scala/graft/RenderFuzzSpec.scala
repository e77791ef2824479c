package graft

import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.json_kv_raw
import graft.operators.Pipeline

/** Differential fuzz of the DYNAMIC render path (r2 VERDICT item 6): a
  * seeded ScalaCheck generator produces arbitrary JSON payload ASTs —
  * escapes, unicode (incl. surrogate pairs), deep nesting, duplicate
  * keys, exponent/leading-zero numbers — serializes them, runs the real
  * operators (json_kv_raw tokenizer → renderers) over the resulting
  * turns, and compares every statement byte-for-byte against an
  * INDEPENDENT model of the documented grammar:
  *
  *   - duplicate keys: last occurrence wins, single entry (Go
  *     encoding/json map semantics, the reference's decode)
  *   - column order: UTF-8 binary sort of the deduped keys
  *   - strings: JSON-decoded, then '' -escaped inside '…'
  *   - numbers/booleans: RAW token rendered bare (exactly as written)
  *   - JSON null / nested object / array: omitted from INSERT columns
  *     and WHERE; diff.u nested/null values SET k = NULL
  */
class RenderFuzzSpec extends SparkSuite {

  private val T = "2024-01-01 00:00:00"

  // ------------------------------------------------------------- JSON AST
  sealed trait J
  case class JStr(s: String) extends J
  case class JNum(raw: String) extends J
  case class JBool(b: Boolean) extends J
  case object JNull extends J
  case class JObj(fields: List[(String, J)]) extends J
  case class JArr(elems: List[J]) extends J

  // ---------------------------------------------------------- serializers
  private def escStr(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Escape EVERY char as \uXXXX — decode-invariance form. */
  private def escStrAllU(s: String): String =
    s.flatMap(c => f"\\u${c.toInt}%04x")

  private def ser(j: J, escaper: String => String = escStr): String =
    j match {
      case JStr(s) => "\"" + escaper(s) + "\""
      case JNum(r) => r
      case JBool(b) => b.toString
      case JNull => "null"
      case JObj(fs) => fs.map { case (k, v) =>
        "\"" + escaper(k) + "\":" + ser(v, escaper) }.mkString("{", ",", "}")
      case JArr(es) => es.map(ser(_, escaper)).mkString("[", ",", "]")
    }

  // ------------------------------------------------------------ generator
  private val strChar: Gen[Char] = Gen.frequency(
    8 -> Gen.alphaNumChar,
    2 -> Gen.oneOf('\'', '"', '\\', ' ', ',', ':', '{', '}', '[', ']'),
    1 -> Gen.oneOf('\n', '\t', '\u0001'),
    1 -> Gen.oneOf('é', '中', '∑', 'Ж'))

  private val jstr: Gen[String] = for {
    cs <- Gen.listOf(strChar)
    // valid surrogate PAIR appended sometimes (lone surrogates are not
    // representable in well-formed JSON text → excluded by construction)
    emoji <- Gen.frequency(4 -> Gen.const(""), 1 -> Gen.const("😀"))
  } yield cs.mkString + emoji

  private val jnumRaw: Gen[String] = for {
    neg <- Gen.oneOf("", "-")
    lead <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.const("0"))
    digits <- Gen.chooseNum(0L, 999999999999L).map(_.toString)
    frac <- Gen.frequency(2 -> Gen.const(""),
      1 -> Gen.chooseNum(0, 999999).map("." + _))
    exp <- Gen.frequency(3 -> Gen.const(""),
      1 -> (for {
        e <- Gen.oneOf("e", "E")
        sg <- Gen.oneOf("", "+", "-")
        d <- Gen.chooseNum(0, 300)
      } yield e + sg + d.toString))
  } yield neg + lead + digits + frac + exp

  private val scalarGen: Gen[J] = Gen.frequency(
    4 -> jstr.map(JStr),
    3 -> jnumRaw.map(JNum),
    1 -> Gen.oneOf(true, false).map(JBool),
    1 -> Gen.const(JNull))

  private def jval(depth: Int, keys: Gen[String]): Gen[J] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      6 -> scalarGen,
      1 -> Gen.lzy(fieldsGen(depth - 1, 3, keys).map(JObj)),
      1 -> Gen.lzy(Gen.choose(0, 3)
        .flatMap(n => Gen.listOfN(n, jval(depth - 1, keys))).map(JArr)))

  private val keyGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 1 -> Gen.const('_'),
      1 -> Gen.oneOf('é', '.', '-'))).map(_.mkString.take(12))

  private def fieldsGen(depth: Int, maxN: Int,
                        keys: Gen[String] = keyGen): Gen[List[(String, J)]] = for {
    n <- Gen.choose(0, maxN)
    fs <- Gen.listOfN(n, Gen.zip(keys, jval(depth, keys)))
    // duplicate-key injection: repeat an existing key with a fresh value
    dup <- Gen.frequency(3 -> Gen.const(None),
      1 -> Gen.zip(Gen.choose(0, math.max(n - 1, 0)), scalarGen).map(Some(_)))
  } yield dup match {
    case Some((i, v)) if fs.nonEmpty => fs :+ (fs(i % fs.length)._1 -> v)
    case _ => fs
  }

  private def sample[A](g: Gen[A], n: Int, seed0: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed0 + i)))

  // ------------------------------------------------------- expected model
  private val utf8Order: Ordering[String] =
    (a: String, b: String) =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  private def lastWins(fs: List[(String, J)]): List[(String, J)] = {
    val m = scala.collection.mutable.LinkedHashMap[String, J]()
    fs.foreach { case (k, v) => m(k) = v }
    m.toList
  }

  private def isScalar(j: J): Boolean = j match {
    case JObj(_) | JArr(_) | JNull => false
    case _ => true
  }

  private def lit(j: J): String = j match {
    case JStr(s) => "'" + s.replace("'", "''") + "'"
    case JNum(r) => r
    case JBool(b) => b.toString
    case other => sys.error(s"non-scalar $other")
  }

  private def scalars(fs: List[(String, J)]): List[(String, J)] =
    lastWins(fs).filter(f => isScalar(f._2)).sortBy(_._1)(utf8Order)

  private def expectedInsert(fs: List[(String, J)]): String = {
    val sc = scalars(fs)
    s"INSERT INTO test.t (${sc.map(_._1).mkString(", ")})" +
      s" VALUES (${sc.map(f => lit(f._2)).mkString(", ")});"
  }

  private def expectedDelete(fs: List[(String, J)]): String = {
    val sc = scalars(fs)
    s"DELETE FROM test.t WHERE ${sc.map(f => f._1 + " = " + lit(f._2))
      .mkString(" and ")};"
  }

  private def expectedUpdate(roots: List[(String, J)],
                             u: List[(String, J)],
                             d: List[(String, J)]): String = {
    val uM = lastWins(u).toMap
    val dKeys = lastWins(d).map(_._1)
    val setKeys = (uM.keySet ++ dKeys).toList.sorted(utf8Order)
    val set = setKeys.map { k =>
      uM.get(k) match {
        case Some(v) if isScalar(v) => s"$k = ${lit(v)}"
        case _ => s"$k = NULL"
      }
    }.mkString(", ")
    val where = scalars(roots).map(f => f._1 + " = " + lit(f._2))
      .mkString(" and ")
    s"UPDATE test.t SET $set WHERE $where;"
  }

  // ----------------------------------------------------------- the drives
  private def runOp(payloads: Seq[String], op: String,
                    render: org.apache.spark.sql.DataFrame =>
                      org.apache.spark.sql.DataFrame): Seq[String] = {
    val rows = payloads.zipWithIndex.map { case (p, i) =>
      ("c1", i, "user", s"$op test.t $p", "tool_0", T)
    }
    render(parsedValid(turns(rows: _*)))
      .orderBy("turn_idx").collect().map(_.getAs[String]("stmt")).toSeq
  }

  test("fuzz: renderInsertDynamic == grammar model on 1000 generated payloads") {
    val cases = sample(fieldsGen(3, 6), 1000, 1000L)
    val got = runOp(cases.map(fs => ser(JObj(fs))), "INS",
      Pipeline.renderInsertDynamic)
    assert(got.size == cases.size)
    cases.zip(got).foreach { case (fs, stmt) =>
      assert(stmt == expectedInsert(fs), s"payload=${ser(JObj(fs))}")
    }
  }

  test("fuzz: renderDeleteDynamic == grammar model on the same 1000 payloads") {
    val cases = sample(fieldsGen(3, 6), 1000, 1000L)
    val got = runOp(cases.map(fs => ser(JObj(fs))), "DEL",
      Pipeline.renderDeleteDynamic)
    assert(got.size == cases.size)
    cases.zip(got).foreach { case (fs, stmt) =>
      assert(stmt == expectedDelete(fs), s"payload=${ser(JObj(fs))}")
    }
  }

  test("fuzz: renderUpdateDynamic == grammar model on 500 generated diffs") {
    val gen = for {
      roots <- fieldsGen(2, 3)
      u <- fieldsGen(1, 3)
      d <- fieldsGen(0, 2)
      hasD <- Gen.oneOf(true, false)
    } yield (roots, u, if (hasD) Some(d) else None)
    val cases = sample(gen, 500, 77000L)
    val payloads = cases.map { case (roots, u, d) =>
      val diff = JObj(("u" -> JObj(u)) :: d.map(x => "d" -> JObj(x)).toList)
      ser(JObj(lastWins(roots).filter(_._1 != "diff") :+ ("diff" -> diff)))
    }
    val got = runOp(payloads, "UPD", Pipeline.renderUpdateDynamic)
    assert(got.size == cases.size)
    cases.zip(payloads).zip(got).foreach {
      case (((roots, u, d), p), stmt) =>
        val want = expectedUpdate(
          lastWins(roots).filter(_._1 != "diff"), u, d.getOrElse(Nil))
        assert(stmt == want, s"payload=$p")
    }
  }

  test("fuzz: escaping-invariance — fully \\u-escaped text renders identically") {
    val cases = sample(fieldsGen(2, 4), 200, 31337L)
    val plain = runOp(cases.map(fs => ser(JObj(fs))), "INS",
      Pipeline.renderInsertDynamic)
    val allU = runOp(cases.map(fs => ser(JObj(fs), escStrAllU)), "INS",
      Pipeline.renderInsertDynamic)
    assert(plain == allU)
  }

  // --------------------------------------------- tokenized render: child kv
  /** Parent turns over generated nested payloads whose documents' keys
    * come from `keys`, one table per turn modulo 3 (tables t0..t2: no
    * child table `tN_key` can collide with a parent table).
    */
  private def nestedTurns(n: Int, seed0: Long, keys: Gen[String] = keyGen) = {
    val gen = for {
      fs <- fieldsGen(3, 6, keys)
      nested <- Gen.listOfN(2, Gen.zip(keyGen, jval(3, keys)))
    } yield fs ++ nested
    val rows = sample(gen, n, seed0).zipWithIndex.map { case (fs, i) =>
      ("c1", i, "user", s"INS test.t${i % 3} ${ser(JObj(("_id" -> JStr(s"p$i")) :: fs))}",
        "tool_0", T)
    }
    turns(rows: _*)
  }

  test("child docs carry their merged map as kv: it equals json_kv_raw of their canonical payload") {
    // keys with quotes, backslashes and control characters too: their
    // escapes decode in kv, and the canonical text must spell them back
    val keys = Gen.nonEmptyListOf(Gen.frequency(8 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('"', '\\', '\n', '\u0001', 'é'))).map(_.mkString.take(8))
    val kids = Pipeline.childDocs(parsedValid(nestedTurns(300, 4242L, keys)))
      .select(col("kv"), json_kv_raw(col("payload"))).collect()
    assert(kids.length > 100)
    kids.foreach(r => assert(r.getMap[String, String](0) == r.getMap[String, String](1),
      s"kv=${r.get(0)}"))
  }

  test("a child key with control characters renders like any other") {
    // keys decode their escapes, jsonOfKv writes a control character back
    // raw and the tokenizer takes raw bytes inside a string, so the child
    // keeps its row; the carried kv renders it the same way
    val df = turns(("c1", 1, "user",
      "INS test.t {\"_id\":\"p1\",\"sub\":{\"a\\u0001b\":1,\"c\\nd\":\"x\"}}",
      "tool_0", T))
    val ins = Pipeline.renderChildInsertsDynamic(parsedValid(df))
      .select("stmt").collect().map(_.getString(0)).toSeq
    assert(ins == Seq("INSERT INTO test.t_sub (_id, a\u0001b, c\nd, t__id) VALUES " +
      s"('${sha256hex("p1|t_sub|0")}', 1, 'x', 'p1');"))
  }

  test("renderAllStatements equals the union of the public per-kind renderers") {
    val nested = nestedTurns(120, 9090L)
    val dml = sample(fieldsGen(2, 4), 60, 5150L).zipWithIndex.map { case (fs, i) =>
      val op = if (i % 2 == 0) "UPD" else "DEL"
      val diff = if (op == "UPD") List("diff" -> JObj(List("u" -> JObj(fs)))) else Nil
      ("c2", i, "user", s"$op test.t${i % 3} ${ser(JObj(fs ++ diff))}", "tool_0", T)
    }
    val odd = Seq(
      ("c3", 1, "user", """SYS test.t0 {"_id":"s"}""", "tool_0", T),
      ("c3", 2, "user", """INS admin.t0 {"_id":"a"}""", "tool_0", T),
      ("c3", 3, "user", """INS nonamespace {"_id":"n"}""", "tool_0", T),
      ("c3", 4, "user", """INS other.t9 not-json""", "tool_0", T))
    val parsed = Pipeline.parse(nested.unionByName(turns(dml ++ odd: _*)))
    val valid = Pipeline.filterValid(parsed)
    def stmts(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("stmt").collect().map(_.getString(0)).toSeq
    val perKind = Seq(
      Pipeline.ddlCreateSchemas(parsed),
      Pipeline.ddlCreateTablesDynamic(valid), Pipeline.ddlAlterTablesDynamic(valid),
      Pipeline.ddlCreateChildTablesDynamic(valid), Pipeline.ddlAlterChildTablesDynamic(valid),
      Pipeline.renderInsertDynamic(valid), Pipeline.renderChildInsertsDynamic(valid),
      Pipeline.renderUpdateDynamic(valid), Pipeline.renderDeleteDynamic(valid))
      .flatMap(stmts)
    val all = stmts(Pipeline.renderAllStatements(parsed))
    assert(all.forall(_ != null))
    // the bad-payload turn is dead-lettered: it declares no schema
    assert(!all.contains("CREATE SCHEMA IF NOT EXISTS other;"))
    assert(!all.exists(_.contains("nonamespace")))
    assert(all.sorted == perKind.sorted)
  }
}
