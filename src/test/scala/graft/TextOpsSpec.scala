package graft

import org.apache.spark.sql.DataFrame
import graft.functions.TextHashes
import graft.operators.TextOps

/** Dedup ladder correctness on constructed near/exact/far documents. */
class TextOpsSpec extends SparkSuite {

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (id, t) =>
      (id, t, "en", "src0", if (t == null) 0L else t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private val base = (1 to 60).map(i => s"w$i").mkString(" ")
  private val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"w$i").mkString(" ")
  private val unrelated = (1 to 60).map(i => s"z$i").mkString(" ")

  test("ngramJaccardPairs: near-dup pair found, unrelated not") {
    val pairs = TextOps.ngramJaccardPairs(
        docs(1L -> base, 2L -> nearDup, 3L -> unrelated))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhashCandidates: LSH surfaces the near-dup candidate only") {
    val cand = TextOps.minhashCandidates(
        docs(1L -> base, 2L -> nearDup, 3L -> unrelated))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.contains((1L, 3L)) && !cand.contains((2L, 3L)))
  }

  test("nearDupLadder: LSH→exact ladder finds the near-dup, subset of exact tier") {
    val d = docs(1L -> base, 2L -> nearDup, 3L -> unrelated)
    val ladder = TextOps.nearDupLadder(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ladder == Set((1L, 2L)))
    val exact = TextOps.ngramJaccardPairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ladder.subsetOf(exact))
  }

  test("perplexityBuckets: per-lang terciles with FLIPPED ordering — " +
    "head is the low-nll tercile and buckets are balanced") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = TextOps.perplexityBuckets(d).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      val by = rs.groupBy(_._3).view.mapValues(_.size).toMap
      val n = rs.size
      // discrete-threshold terciles: each bucket within ±(ties) of n/3 —
      // loose band, but head can never dominate
      assert(by.getOrElse("head", 0) >= 1 && by.getOrElse("tail", 0) >= 1)
      assert(by.values.max <= n) // sanity
      // ordering: every head nll <= every tail nll (threshold semantics)
      val maxHead = rs.filter(_._3 == "head").map(_._2).maxOption
      val minTail = rs.filter(_._3 == "tail").map(_._2).minOption
      (maxHead, minTail) match {
        case (Some(h), Some(t)) => assert(h <= t, s"head $h > tail $t")
        case _ => ()
      }
    }
  }

  test("multiSuiteDecon: contamination attributes to the RIGHT suite, " +
    "and the nSuites=1 slice is exactly t12's verdict set") {
    val sA = (1 to 15).map(i => s"qa$i").mkString(" ")
    val sB = (1 to 15).map(i => s"qb$i").mkString(" ")
    val sC = (1 to 15).map(i => s"qc$i").mkString(" ")
    // ids 3/4/5 are the three suite carve-outs (id % 29 = 3,4,5);
    // train docs: 1 leaks suite 0, 2 leaks suite 2, 6 is clean
    val d = docs(3L -> sA, 4L -> sB, 5L -> sC,
      1L -> sA, 2L -> sC, 6L -> unrelated)
    val got = TextOps.multiSuiteDecon(d).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(4)).toMap
    assert(got.size == 9) // 3 train docs x 3 suites
    assert(got((1L, 0)) && !got((1L, 1)) && !got((1L, 2)))
    assert(!got((2L, 0)) && !got((2L, 1)) && got((2L, 2)))
    assert(!got((6L, 0)) && !got((6L, 1)) && !got((6L, 2)))
    // parity: with one suite the grid collapses to t12's verdicts
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val one = TextOps.multiSuiteDecon(real, nSuites = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSet
    val t12 = TextOps.decontaminate(real).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(one == t12, s"${one.size} vs ${t12.size}")
  }

  test("tokenCounts / qualityCounts / langId shapes on a marker doc") {
    val d = docs(1L -> "the fast el cat and the dog a 42x")
    val tc = TextOps.tokenCounts(d).collect()(0)
    assert(tc.getInt(1) == 9) // ws tokens
    assert(tc.getInt(2) == 9) // word tokens ([a-z0-9]+ keeps '42x' whole)
    val li = TextOps.langId(d).collect()(0)
    assert(li.getString(2) == "en") // 'the'×2 + 'and' beat es ('el')
  }

  test("redactPii scrubs urls/emails/phones in order, counts agree with replacements") {
    val d = docs(
      1L -> "mail me at jo.doe+x@corp.example.com or call +1 (555) 123-4567 now",
      2L -> "see https://ex.am/p?q=a@b.co and http://plain.org then a@b.io",
      3L -> "no pii here at all")
    val got = TextOps.redactPii(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got(1L) == (("mail me at <EMAIL> or call <PHONE> now", 0, 1, 1)))
    // the URL embedding an '@' is consumed by the URL pass FIRST, so only
    // the bare email outside any url survives to the email pass
    assert(got(2L) == (("see <URL> and <URL> then <EMAIL>", 2, 1, 0)))
    assert(got(3L) == (("no pii here at all", 0, 0, 0)))
  }

  test("repetitionSignal: duplicate 3-grams counted exactly; short docs zero out") {
    val got = TextOps.repetitionSignal(docs(
      1L -> "a b c a b c a b c", // 7 grams, distinct {abc,bca,cab} = 3
      2L -> "w1 w2 w3 w4",       // 2 grams, both unique
      3L -> "only two"))         // < 3 tokens -> all zero
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(got(1L) == ((7, 3, 4)))
    assert(got(2L) == ((2, 2, 0)))
    assert(got(3L) == ((0, 0, 0)))
  }

  test("weightedSample: rate 100 keeps all, rate 0 keeps none, deterministic across runs") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val d = docs((1L to 40L).map(i => i -> s"doc $i text"): _*)
      .withColumn("source",
        when(col("doc_id") % 2 === 0, "srcEven").otherwise("srcOdd"))
    val all = TextOps.weightedSample(d, lit(100)).count()
    val none = TextOps.weightedSample(d, lit(0)).count()
    assert(all == 40L && none == 0L)
    // a mid rate keeps a strict, reproducible subset
    val half1 = TextOps.weightedSample(d, lit(50)).collect().map(_.getLong(0)).sorted.toSeq
    val half2 = TextOps.weightedSample(d, lit(50)).collect().map(_.getLong(0)).sorted.toSeq
    assert(half1 == half2 && half1.nonEmpty && half1.size < 40)
    // per-source config: only the even source survives a 0/100 split
    val mixed = TextOps.weightedSample(d,
      when(col("source") === "srcEven", lit(100)).otherwise(lit(0)))
      .collect().map(_.getLong(0))
    assert(mixed.nonEmpty && mixed.forall(_ % 2 == 0))
  }

  test("packSequences: bins respect the token budget over per-source doc order") {
    import org.apache.spark.sql.functions.lit
    // 5 docs of 4 tokens each in one source, budget 10, single shard:
    // cum-before = 0,4,8,12,16 -> bins 0,0,0,1,1
    val d = docs((1L to 5L).map(i => i -> "w x y z"): _*)
      .withColumn("source", lit("s0"))
    val bins = TextOps.packSequences(d, budget = 10, nShards = 1)
      .orderBy("doc_id").collect().map(_.getAs[Int]("bin")).toSeq
    assert(bins == Seq(0, 0, 0, 1, 1))
  }

  test("packSequences: hash sub-shards bound every window partition on a skewed source") {
    import org.apache.spark.sql.functions.lit
    // one giant source — without sharding this is ONE window partition
    val d = docs((1L to 200L).map(i => i -> "w x y z"): _*)
      .withColumn("source", lit("hot"))
    val packed = TextOps.packSequences(d, budget = 10, nShards = 4)
    val perShard = packed.groupBy("source", "shard").count()
      .collect().map(r => r.getAs[Int]("shard") -> r.getAs[Long]("count")).toMap
    assert(perShard.keySet == Set(0, 1, 2, 3), s"shards used: $perShard")
    // the polyhash ticket spreads the hot source: no shard hoards it
    assert(perShard.values.max <= 100L, s"skewed shard: $perShard")
    assert(perShard.values.sum == 200L)
    // bins are still budget-exact WITHIN each shard: 4-token docs, budget
    // 10 -> bin == (rank-within-shard - 1) * 4 DIV 10
    val rows = packed.orderBy("shard", "doc_id").collect()
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, rs) =>
      rs.zipWithIndex.foreach { case (r, i) =>
        assert(r.getAs[Int]("bin") == (i * 4) / 10)
      }
    }
  }

  test("corpusPipeline: composed stages — gate drops sources, dedup drops the larger twin, packing stays within split") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // src_0: ten distinct 60-token docs + doc 11 an exact copy of doc 1
    // (the ladder must drop 11, keep 1); src_bad: tiny docs failing the
    // 300-avg-chars gate
    // NOTE the '|' in the source name: pack partition keys are real
    // columns, so delimiter characters in values must survive verbatim
    val rows =
      (1L to 10L).map(i => (i, (1 to 60).map(j => s"t${i}w$j").mkString(" "),
        "en", "src|0", 300L)) ++
      Seq((11L, (1 to 60).map(j => s"t1w$j").mkString(" "), "en", "src|0", 300L)) ++
      (20L to 23L).map(i => (i, "tiny", "en", "src_bad", 4L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.corpusPipeline(d, mixPct = lit(100))
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // 3 is the decon eval carve-out (3 % 29 == 3), 11 deduped (twin of
    // 1 — and NOT an eval hit, so it reaches the ladder), src_bad gated
    assert(ids == (1L to 10L).toSet - 3L, s"got $ids")
    assert(out.select("source").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("src|0"))
    // split column agrees with the standalone split op for every doc
    val want = TextOps.deterministicSplit(d)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    out.collect().foreach { r =>
      assert(r.getAs[String]("split") == want(r.getAs[Long]("doc_id")))
    }
    // t35 funnel over the same fixture: stage counts match the stages
    // computed directly — 15 in, gate drops src_bad (11 left), decon
    // drops the eval carve-out doc 3 (10), dedup drops twin 11 (9), mix
    // keeps all at 100%, splits partition the 9 survivors
    val f = TextOps.curationFunnel(d, mixPct = lit(100)).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val splits = out.collect()
      .groupBy(_.getAs[String]("split")).view.mapValues(_.length.toLong)
    assert(f == Map(
      "input" -> 15L, "gated" -> 11L, "decontaminated" -> 10L,
      "deduped" -> 9L, "mixed" -> 9L,
      "train" -> splits.getOrElse("train", 0L),
      "val" -> splits.getOrElse("val", 0L),
      "test" -> splits.getOrElse("test", 0L)), s"got $f")
    assert(f("train") + f("val") + f("test") == f("mixed"))
    // bins are per-(split, source, shard) contiguous from 0 — packing
    // never crosses a split boundary
    out.collect().groupBy(r => (r.getAs[String]("split"),
        r.getAs[String]("source"), r.getAs[Int]("shard")))
      .foreach { case (_, rs) =>
        val bins = rs.map(_.getAs[Int]("bin")).toSet
        assert(bins == (0 to bins.max).toSet, s"bins not contiguous: $bins")
      }
    // n_tokens reflects the REDACTED text (identity augment + PII-free
    // corpus here: token count equals the raw text's)
    assert(out.collect().forall(_.getAs[Int]("n_tokens") == 60))
  }

  test("dsirWeights: target-like docs outscore unrelated ones; short docs score (0,0); n_big = tokens-1") {
    import spark.implicits._
    val tgtText = (1 to 40).map(i => s"tw${i % 6}").mkString(" ")
    val offText = (1 to 40).map(i => s"zz${i % 6}").mkString(" ")
    val rows = Seq(
      (1L, tgtText, "en", "src0", 200L),   // the target slice
      (2L, tgtText, "en", "src0", 200L),
      (3L, tgtText, "en", "srcX", 200L),   // target-like, outside slice
      (4L, offText, "en", "srcX", 200L),   // unrelated vocabulary
      (5L, "solo", "en", "srcX", 4L))      // one token: no bigrams
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextOps.dsirWeights(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(5L) == (0L, 0L))
    assert(got(1L)._1 == 39L && got(3L)._1 == 39L && got(4L)._1 == 39L)
    // doc 3 shares every bigram with the target slice; doc 4 shares none —
    // the importance weight must rank 3 strictly above 4
    assert(got(3L)._2 > got(4L)._2,
      s"target-like ${got(3L)._2} should outrank unrelated ${got(4L)._2}")
    // the in-row scorer against the collected model reproduces the
    // distributed form exactly (every observed feature is in the table)
    val inRow = TextOps.dsirScoreInRow(d, TextOps.dsirWeightTable(d))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(inRow == got)
  }

  test("corpusPipeline: stage-boundary materialization is row-identical and cuts the plan at the boundary") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val rows =
      (1L to 10L).map(i => (i, (1 to 60).map(j => s"t${i}w$j").mkString(" "),
        "en", "src|0", 300L)) ++
      Seq((11L, (1 to 60).map(j => s"t1w$j").mkString(" "), "en", "src|0", 300L)) ++
      (20L to 23L).map(i => (i, "tiny", "en", "src_bad", 4L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val plain = TextOps.corpusPipeline(d, mixPct = lit(100))
    val mat = TextOps.corpusPipeline(d, mixPct = lit(100),
      materialize = _.localCheckpoint())
    // identical rows — the hook only changes where the plan is cut
    assert(mat.collect().toSet == plain.collect().toSet)
    // the materialized plan reads from the boundary (ExistingRDD) and
    // contains NO redaction expression: the redacted relation was
    // computed exactly once (eagerly, at the boundary), not once per
    // downstream consumer. The identity plan DOES carry the redaction
    // markers — proving the marker is meaningful.
    val fmt = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(fmt(mat).contains("ExistingRDD"))
    assert(!fmt(mat).contains("regexp_replace"))
    assert(fmt(plain).contains("regexp_replace"))
  }

  test("sourceFilter drops ALL docs of a failing source, keeps ALL of a passing one") {
    import spark.implicits._
    // srcGood avg 400 chars; srcBad avg 100 — one long doc can't save it
    val d = Seq(
      (1L, "x" * 400, "en", "srcGood", 400L),
      (2L, "x" * 400, "en", "srcGood", 400L),
      (3L, "x" * 250, "en", "srcBad", 250L), // individually longish...
      (4L, "x" * 50, "en", "srcBad", 50L),   // ...but the source fails in aggregate
      (5L, "x" * 300, "en", "srcEdge", 300L) // exact boundary: kept (>=)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = TextOps.sourceFilter(d).collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 5L))
    // scale shape: the rollup is joined back as a BROADCAST semi join —
    // the corpus side is never shuffled
    val plan = TextOps.sourceFilter(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("Shingles3 expression is set-equal to the declarative HOF form") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = split(col("text"), " ")
    val hof = when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
          element_at(t, i + 2))))
      .otherwise(array().cast("array<string>"))
    val a = docs.select(col("doc_id"), explode(array_distinct(hof)).as("s"))
    val b = docs.select(col("doc_id"),
      explode(graft.functions.shingles3(t)).as("s"))
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // short docs: empty array, no fabricated shingles
    import spark.implicits._
    val short = Seq("one two", "one", "").toDF("text")
    assert(short.select(explode(graft.functions.shingles3(split(col("text"), " ")))).count() == 0)
  }

  test("decontaminate: eval-overlap threshold, clean docs pass, shingle-less docs survive") {
    // doc_id % 29 == 3 is the eval carve-out: id 3 is eval here
    val evalText = (1 to 10).map(i => s"e$i").mkString(" ")
    val d = docs(
      3L -> evalText,                                        // eval member
      1L -> evalText,                                        // full copy: 8/8 hits
      2L -> (1 to 10).map(i => s"z$i").mkString(" "),        // disjoint: 0 hits
      4L -> ("e1 e2 e3 e4 " + (1 to 6).map(i => s"y$i").mkString(" ")), // 2 hits < 3
      5L -> "one two")                                       // no shingles at all
    val got = TextOps.decontaminate(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L, 5L)) // eval doc 3 excluded from output
    assert(got(1L) == ((8L, 8L, true)))
    assert(got(2L) == ((8L, 0L, false)))
    assert(got(4L) == ((8L, 2L, false)))
    assert(got(5L) == ((0L, 0L, false)))
    // scale shape: the eval shingle set joins back via BROADCAST — the
    // corpus side is never shuffled for the membership mark
    val plan = TextOps.decontaminate(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // production path: an explicit benchmark table — ALL corpus docs are
    // training then, including ids the carve-out would have claimed
    val evalTbl = docs(100L -> evalText)
    val ext = TextOps.decontaminate(d, evalDocs = Some(evalTbl)).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(ext.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(ext(1L) && ext(3L) && !ext(2L) && !ext(4L) && !ext(5L))
  }

  test("ngramCoverage: exact copies fully duplicated, fresh text clean, 48% overlap under the 50% flag line") {
    // 4 shares base's first 30 tokens → trigram starts 1..28 duplicated
    // of its 58 → 48.3% < 50% → NOT flagged; the copies are 100% → flagged
    val halfFresh = ((1 to 30).map(i => s"w$i") ++
      (1 to 30).map(i => s"f$i")).mkString(" ")
    val got = TextOps.ngramCoverage(docs(1L -> base, 2L -> base,
        3L -> unrelated, 4L -> halfFresh, 5L -> "one two"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L)) // shingle-less 5 absent
    assert(got(1L) == ((58L, 58L, true)) && got(2L) == ((58L, 58L, true)))
    assert(got(3L) == ((58L, 0L, false)))
    assert(got(4L) == ((58L, 28L, false)))
    // scale shape: no window, no cartesian; text never crosses a shuffle
    // (shingles hash to longs before the exchanges)
    val plan = TextOps.ngramCoverage(docs(1L -> base))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"), plan)
  }

  test("shingles3_pos keeps duplicates in position order; < 3 tokens empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, split}
    val got = Seq("m n o m n o", "a b").toDF("text")
      .select(graft.functions.shingles3_pos(split(col("text"), " ")))
      .collect().map(_.getSeq[String](0).toList)
    assert(got(0) == List("m n o", "n o m", "o m n", "m n o"))
    assert(got(1) == Nil)
  }

  test("dupRunLength: shared span = its run; scattered within-doc repetition does not count") {
    // docs 1 and 2 share the 5-token span "p q r s t" → positional
    // trigrams pqr,qrs,rst duplicated (df=2), one maximal run of 3;
    // doc 4 repeats "m n o" WITHIN itself only — df counts DOCS, so
    // nothing is corpus-duplicated and its max run is 0
    val got = TextOps.dupRunLength(docs(
        1L -> "u1 u2 p q r s t u3 u4",
        2L -> "v1 p q r s t v2 v3 v4",
        3L -> (1 to 9).map(i => s"q$i").mkString(" "),
        4L -> "m n o m n o m n o",
        5L -> "one two"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // 9 tokens → 7 positions each; shingle-less doc 5 absent (as in t23)
    assert(got == Map(1L -> ((7L, 3L)), 2L -> ((7L, 3L)),
      3L -> ((7L, 0L)), 4L -> ((7L, 0L))))
  }

  test("bigramLmQuality: rare continuations of common prefixes score worst; hand-computed nll") {
    // corpus bigrams (with multiplicity): doc1 "a b a b" → (a b),(b a),
    // (a b); doc2 "a b" → (a b); doc3 "a c" → (a c). c(a·)=4, c(b·)=1,
    // c(a b)=3, c(b a)=1, c(a c)=1; q=⌊log2⌋+1: q(4)=3,q(3)=2,q(1)=1.
    // doc1: (3−2)+(1−1)+(3−2)=2 over 3 → 66; doc2: 1 over 1 → 100;
    // doc3: (3−1)=2 over 1 → 200 — the rare continuation is worst.
    val got = TextOps.bigramLmQuality(docs(
        1L -> "a b a b", 2L -> "a b", 3L -> "a c", 4L -> "solo"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(1L -> ((3L, 2L, 66L)), 2L -> ((1L, 1L, 100L)),
      3L -> ((1L, 2L, 200L)))) // 1-token doc 4 has no bigrams → absent
  }

  test("dupRunLength: generative equivalence with an in-memory runs model") {
    // reference model: corpus df over distinct-per-doc trigrams, then per
    // doc the longest run of consecutive positions whose trigram has
    // df >= 2 (matching poly-hash folding is unnecessary at this alphabet
    // size: distinct trigram strings stay distinct under the hash with
    // overwhelming margin, and a collision would fail the assert loudly)
    def model(rows: Seq[(Long, String)]): Map[Long, (Long, Long)] = {
      def tris(text: String): Seq[String] = {
        val t = text.split(" ", -1).toSeq
        if (t.length < 3) Nil
        else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
      }
      val df = rows.flatMap { case (id, tx) => tris(tx).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      rows.flatMap { case (id, tx) =>
        val flags = tris(tx).map(s => df(s) >= 2)
        if (flags.isEmpty) None
        else {
          var best = 0L; var cur = 0L
          flags.foreach { f =>
            cur = if (f) cur + 1 else 0
            best = math.max(best, cur)
          }
          Some(id -> ((flags.length.toLong, best)))
        }
      }.toMap
    }
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 1 to 10) {
      // tiny alphabet forces cross-doc duplicate trigrams and runs
      val rows = (1L to (3 + rnd.nextInt(5)).toLong).map { id =>
        id -> Seq.fill(rnd.nextInt(24))("abcd".charAt(rnd.nextInt(4)).toString)
          .mkString(" ")
      }
      val got = TextOps.dupRunLength(docs(rows: _*)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == model(rows), s"trial $trial rows=$rows")
    }
  }

  test("fuzzyDecon: near-twin of an eval doc flagged, unrelated clean, exact copy flagged with min partner") {
    // doc_id % 29 == 3 → id 3 is the eval carve-out member
    val got = TextOps.fuzzyDecon(docs(3L -> base, 1L -> nearDup,
        2L -> unrelated, 4L -> base))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(got.keySet == Set(1L, 2L, 4L)) // eval member carries no verdict
    assert(got(1L) == ((true, 3L)))  // paraphrase: Jaccard 55/61 ≥ 1/2
    assert(got(2L) == ((false, -1L)))
    assert(got(4L) == ((true, 3L)))  // exact copy
    val plan = TextOps.fuzzyDecon(docs(3L -> base, 1L -> nearDup))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("kmvDistinct: unsaturated sources exact, saturated estimate self-consistent and bounded") {
    import org.apache.spark.sql.functions.{col, when}
    // srcSmall: 5 distinct tokens repeated (duplicates must not fill slots)
    // srcBig: 500 distinct tokens, saturates k=16
    val small = (1L to 3L).map(i => i -> "a b c d e a b c")
    val big = (10L to 19L).map(i =>
      i -> (0 until 50).map(j => s"tok${(i - 10) * 50 + j}").mkString(" "))
    val d = docs(small ++ big: _*)
      .withColumn("source",
        when(col("doc_id") < 10L, "srcSmall").otherwise("srcBig"))
    val k = 16
    val got = TextOps.kmvDistinct(d, k).collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // unsaturated: exact distinct count, -1 sentinel
    assert(got("srcSmall") == ((5, -1L, 5L)))
    // saturated: n_mins == k, estimate == (k-1)*P31/h_k and within 2x of
    // the true 500 (k=16 gives ~25% relative error; 2x is a safe band)
    val (nMins, kth, est) = got("srcBig")
    assert(nMins == k && kth > 0L)
    assert(est == (k - 1).toLong * TextHashes.P31 / kth)
    assert(est > 250L && est < 1000L, s"estimate $est far from 500")
    // deterministic across runs
    assert(TextOps.kmvDistinct(d, k).collect().toSeq ==
      TextOps.kmvDistinct(d, k).collect().toSeq)
  }

  test("samplePerSource: ~k per saturated source, everything from small sources, deterministic and threshold-consistent") {
    import org.apache.spark.sql.functions.{col, when}
    // srcBig: 200 docs (saturates k=10); srcSmall: 4 docs (all kept)
    val d = docs((1L to 204L).map(i => i -> s"doc $i"): _*)
      .withColumn("source",
        when(col("doc_id") <= 200L, "srcBig").otherwise("srcSmall"))
    val k = 10
    val got = TextOps.samplePerSource(d, k).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val bySrc = got.groupBy(_._1)
    // small source: all 4 docs survive
    assert(bySrc("srcSmall").map(_._2).toSet == Set(201L, 202L, 203L, 204L))
    // big source: exactly k docs unless hashes collide (none in 200 docs
    // here), and the kept set is EXACTLY the k smallest hashes — compare
    // against a run with k >= |source| (keeps everything, exposing every
    // doc's hash)
    val keptBig = bySrc("srcBig")
    assert(keptBig.length == k, s"got ${keptBig.length}")
    val allHashes = TextOps.samplePerSource(d, 300).collect()
      .filter(_.getString(1) == "srcBig").map(_.getLong(2)).sorted
    assert(allHashes.length == 200)
    assert(keptBig.map(_._3).sorted.toSeq == allHashes.take(k).toSeq)
    // deterministic across runs
    assert(TextOps.samplePerSource(d, k).collect().toSeq.sortBy(_.getLong(0)) ==
      TextOps.samplePerSource(d, k).collect().toSeq.sortBy(_.getLong(0)))
    // scale shape: thresholds broadcast back; no Window node anywhere
    val plan = TextOps.samplePerSource(d, k).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("Window"), plan)
  }

  test("tokenBudgetSample: hash-order admission to the token budget; bucketing-invariant; scale-shaped plan") {
    import org.apache.spark.sql.functions.{col, concat, lit, size, split, when}
    import graft.functions.TextHashes.P31
    // varied per-doc token counts (1..7) across two sources
    val d = docs((1L to 60L).map(i =>
        i -> (1 to (i % 7 + 1).toInt).map(j => s"w$j").mkString(" ")): _*)
      .withColumn("source",
        when(col("doc_id") <= 40L, "srcA").otherwise("srcB"))
    val budget = 30L
    // first-principles brute force: same salt/finalizer, full sort by
    // (h, doc_id) per source, admit while the PRECEDING total < budget
    val rows = d.select(col("doc_id"), col("source"),
        (graft.functions.poly_hash31(
          concat(lit("tbs|"), col("doc_id").cast("string")))
          * graft.functions.VectorOps.HashMul % P31).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val want = rows.groupBy(_._2).values.flatMap { rs =>
      var cum = 0L
      rs.sortBy(r => (r._3, r._1)).flatMap { r =>
        val keep = cum < budget; cum += r._4
        if (keep) Some((r._1, r._2, r._4)) else None
      }
    }.toSet
    val got = TextOps.tokenBudgetSample(d, budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.nonEmpty && got.size < 60) // budget genuinely bites
    // bucketing-invariant: one bucket (pure boundary-window path) and
    // per-doc buckets (pure histogram classification) agree exactly
    assert(TextOps.tokenBudgetSample(d, budget, buckets = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == want)
    assert(TextOps.tokenBudgetSample(d, budget, buckets = 1 << 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet == want)
    // a budget above every source's mass keeps everything
    assert(TextOps.tokenBudgetSample(d, 10000L).count() == 60L)
    // verdict tables broadcast back; the corpus is never sort-merge-joined
    val plan = TextOps.tokenBudgetSample(d, budget)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan)
  }

  test("bpeFertilityGate: fertility is exact tokens-per-1000-chars, the " +
      "±25%-of-corpus-mean band keeps normal text and drops both tails") {
    // normal docs share merge-heavy words; the junk doc's distinct rare
    // string stays fully split (high fertility); the degenerate doc is
    // one fully-merged word amid long spaces padding (low fertility)
    val normal = (1L to 8L).map(i => i -> ("the cat sat on the mat " * 4))
    val d = docs(normal ++ Seq(
      90L -> "zqxjkvbwpf zqxjkvbwpf qzjxkwvbfp xjqzkvwbpf",
      91L -> ("the" + " " * 120)): _*)
    val merges = TextOps.bpeTrainMerges(d, 8)
    val toks = TextOps.bpeTokenCounts(d, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val chars = d.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").length.toLong).toMap
    val mean = toks.values.sum * 1000L / chars.values.sum
    val got = TextOps.bpeFertilityGate(d, merges).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    got.foreach { case (id, (nc, bt, fert, keep)) =>
      assert(nc == chars(id) && bt == toks(id), s"doc $id inputs")
      assert(fert == bt * 1000L / math.max(nc, 1L), s"doc $id fert")
      assert(keep == (math.abs(fert - mean) * 4 <= mean), s"doc $id keep")
    }
    assert((1L to 8L).forall(got(_)._4), "normal docs must pass")
    assert(!got(90L)._4 && got(90L)._3 > mean, "junk tail must fail high")
    assert(!got(91L)._4 && got(91L)._3 < mean, "degenerate must fail low")
  }

  test("bpeModelFor: artifact round-trips merges + mean exactly; the " +
      "model-served gate is row-identical to the in-query gate; the " +
      "second call LOADS (no retrain) and a changed corpus re-keys") {
    val d = docs((1L to 12L).map(i =>
      i -> ("the cat sat on the mat row " + i)): _*)
    val dir = tempDir("bpe_model_spec").toString
    val m1 = TextOps.bpeModelFor(d, dir, nMerges = 6)
    // round-trip: the persisted artifact equals the in-memory model
    assert(m1.merges == TextOps.bpeTrainMerges(d, 6))
    val onDisk = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(onDisk.length == 1)
    assert(TextOps.loadBpeModel(spark, onDisk(0).getPath) == m1)
    // served output == the in-query gate's output
    val served = TextOps.bpeFertilityScoreInRow(d, m1.merges, m1.meanFertX1k)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val inQuery = TextOps.bpeFertilityGate(d, TextOps.bpeTrainMerges(d, 6))
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(served.toSeq == inQuery.toSeq)
    // second call loads the SAME model (marker hit — identical values)
    assert(TextOps.bpeModelFor(d, dir, nMerges = 6) == m1)
    assert(new java.io.File(dir).listFiles().count(_.isDirectory) == 1)
    // a different corpus (or nMerges) keys a NEW artifact directory
    TextOps.bpeModelFor(d, dir, nMerges = 4)
    assert(new java.io.File(dir).listFiles().count(_.isDirectory) == 2)
  }

  test("bpeBudgetSample: admission is the hash-order prefix under " +
    "TRAINED-BPE counts, and the count column matches bpeTokenCounts") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    import graft.functions.TextHashes.P31
    val d = docs((1L to 60L).map(i =>
        i -> (1 to (i % 7 + 1).toInt).map(j => s"w$j").mkString(" ")): _*)
      .withColumn("source",
        when(col("doc_id") <= 40L, "srcA").otherwise("srcB"))
    val nMerges = 4
    val budget = 90L
    val merges = TextOps.bpeTrainMerges(d, nMerges)
    val bpe = TextOps.bpeTokenCounts(d, merges).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // brute force: same salt/finalizer hash order, admit while the
    // PRECEDING per-source BPE-token total is under budget
    val rows = d.select(col("doc_id"), col("source"),
        (graft.functions.poly_hash31(
          concat(lit("tbs|"), col("doc_id").cast("string")))
          * graft.functions.VectorOps.HashMul % P31).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = rows.groupBy(_._2).values.flatMap { rs =>
      var cum = 0L
      rs.sortBy(r => (r._3, r._1)).flatMap { r =>
        val keep = cum < budget; cum += bpe(r._1)
        if (keep) Some((r._1, r._2, bpe(r._1))) else None
      }
    }.toSet
    val got = TextOps.bpeBudgetSample(d, nMerges, budget).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.nonEmpty && got.size < 60) // budget genuinely bites
    // the swap matters: BPE totals diverge from the whitespace counts
    // t18 budgets against (4 merges leave some multi-symbol words)
    val wsSum = (1L to 60L).map(i => i % 7 + 1).sum
    assert(bpe.values.sum != wsSum,
      s"BPE total ${bpe.values.sum} degenerate-equal to whitespace $wsSum")
  }

  test("segmentDedup: corpus-wide keep-first on segments, docs reassembled in order") {
    // w=10: doc 1 has segments A(t1..t10) B(t11..t20); doc 2 = B then C —
    // its copy of B must vanish, C survives; doc 3 is an exact copy of
    // doc 1 and cleans to ""
    val segA = (1 to 10).map(i => s"a$i").mkString(" ")
    val segB = (1 to 10).map(i => s"b$i").mkString(" ")
    val segC = (1 to 10).map(i => s"c$i").mkString(" ")
    val d = docs(
      1L -> s"$segA $segB",
      2L -> s"$segB $segC",
      3L -> s"$segA $segB",
      4L -> "short tail")  // one partial segment, unique -> untouched
    val got = TextOps.segmentDedup(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 2L, s"$segA $segB")))
    assert(got(2L) == ((2L, 1L, segC)))
    assert(got(3L) == ((2L, 0L, "")))
    assert(got(4L) == ((1L, 1L, "short tail")))
    // scale shape: keep-first is the min-struct aggregate — no Window
    val plan = TextOps.segmentDedup(d).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("segmentDedup: generative equivalence with an in-memory keep-first model") {
    // reference model: iterate docs by doc_id, segments in order, keep a
    // segment iff its text was never seen before — exactly the
    // (doc_id, seg_idx) min-packed semantics
    def model(rows: Seq[(Long, String)], w: Int): Map[Long, (Long, Long, String)] = {
      val seen = scala.collection.mutable.Set[String]()
      rows.sortBy(_._1).map { case (id, text) =>
        // split limit -1: Spark's split KEEPS trailing empty tokens
        val toks = text.split(" ", -1).toSeq
        val segs = (0 until (toks.length + w - 1) / w)
          .map(i => toks.slice(i * w, i * w + w).mkString(" "))
        val kept = segs.filter(seen.add)
        id -> ((segs.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }.toMap
    }
    val rnd = new scala.util.Random(20260817L)
    for (trial <- 1 to 12) {
      val w = Seq(1, 2, 3, 5)(rnd.nextInt(4))
      // tiny alphabet forces cross-doc duplicate segments
      val rows = (1L to (3 + rnd.nextInt(5)).toLong).map { id =>
        id -> Seq.fill(rnd.nextInt(26))("abc".charAt(rnd.nextInt(3)).toString)
          .mkString(" ")
      }
      val got = TextOps.segmentDedup(docs(rows: _*), segTokens = w).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(got == model(rows, w), s"trial $trial w=$w rows=$rows")
    }
  }

  test("sourceOverlap: identical sources 1000, disjoint 0, half-overlap in band; shingle-less sources absent") {
    import org.apache.spark.sql.functions.{col, when}
    // srcX and srcY share the SAME 400 shingles (identical text corpus);
    // srcZ is disjoint; srcH shares roughly half with srcX; srcEmpty
    // can't shingle
    def body(seed: String, n: Int) = (1 to n).map(i => s"$seed$i").mkString(" ")
    val d = docs(
      1L -> body("x", 400), 2L -> body("x", 400),  // X and Y twins
      3L -> body("z", 400),                         // Z disjoint
      4L -> (body("x", 200) + " " + body("h", 200)),// H: ~half x-shingles
      5L -> "no shingles")
      .withColumn("source", when(col("doc_id") === 1L, "srcX")
        .when(col("doc_id") === 2L, "srcY")
        .when(col("doc_id") === 3L, "srcZ")
        .when(col("doc_id") === 4L, "srcH").otherwise("srcEmpty"))
    val got = TextOps.sourceOverlap(d, k = 64).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(got.keySet.flatMap(p => Set(p._1, p._2)) ==
      Set("srcX", "srcY", "srcZ", "srcH")) // srcEmpty absent
    assert(got(("srcX", "srcY")) == 1000L)
    assert(got(("srcX", "srcZ")) == 0L && got(("srcY", "srcZ")) == 0L)
    // true J(X,H) = 199/(398+199-199+...)≈0.33; KMV at k=64 has ~12%
    // relative error — assert a generous band around the true 1/3
    val xh = got(("srcH", "srcX"))
    assert(xh > 150L && xh < 550L, s"J(X,H) estimate $xh")
  }

  test("unigramQuality: common-token docs outscore rare-token docs; exact quantized arithmetic") {
    // 'the' appears 12x, 'cat'/'dog' 6x each, z* tokens once each.
    // vocabSize=3 -> vocab = {the:12, cat:6, dog:6} (hash tie-break on
    // the 6s, both still in)
    val d = docs(
      1L -> "the cat the dog the cat the dog the cat the dog",  // all in-vocab
      2L -> "the cat the dog the cat the dog the cat the dog",
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12")           // none in-vocab
    val got = TextOps.unigramQuality(d, vocabSize = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc1: 12 tokens, all in vocab; logprob = 6*len(bin(12)) + 3*len(bin(6))*2
    //     = 6*4 + 6*3 = 42; score = 4200 div 12 = 350
    assert(got(1L) == ((12L, 12L, 42L, 350L)))
    assert(got(2L) == got(1L))
    assert(got(3L) == ((12L, 0L, 0L, 0L)))
    // scale shape: vocab via TakeOrdered (no global Sort->Limit), corpus
    // joined broadcast
    val qe = TextOps.unigramQuality(d, 3).queryExecution.executedPlan.toString
    assert(qe.contains("TakeOrderedAndProject") && qe.contains("BroadcastHashJoin"), qe)
  }

  test("kernel edge semantics: null-array shingles -> empty; dot_long mismatch/null-element -> NULL") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // shingles3(NULL) == empty array, matching the HOF otherwise(array())
    val nulls = Seq(Option.empty[Seq[String]], Some(Seq("a", "b", "c")))
      .toDF("t").select(size(graft.functions.shingles3(col("t"))).as("n"))
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(nulls == Seq(0, 1))
    // dot_long: length mismatch or a null element poisons to NULL (the
    // zip_with semantics) so corrupt vectors drop out of top-k
    val rows = Seq(
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](3L, 4L)))
      .toDF("a", "b")
      .select(graft.functions.dot_long(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(rows.toSeq == Seq(Some(11L), None, None))
  }

  test("bm25TopK: exact integer kernel on a hand-computed corpus; tf saturation and idf ordering") {
    // n=4 docs, tot=16 tokens, avgdl a1=4. Query {cat, fish}:
    //   df(cat)=df(fish)=2 -> idfq = len(bin((2*1024) div 3 + 1))
    //                              = len(bin(683)) = 10
    //   doc1 (cat:1, fish:1): per-term (10*176*1000) div 176 = 10000
    //   doc2 (cat:4):         (10*704*1000) div 416 = 16923 (saturating:
    //                         4x the tf is ~1.7x, not 4x, the score)
    //   doc3 (fish:2):        (10*352*1000) div 256 = 13750
    val d = docs(
      1L -> "cat dog fish bird",
      2L -> "cat cat cat cat",
      3L -> "dog dog fish fish",
      4L -> "xx yy zz ww")
    val res = TextOps.bm25TopK(d, Seq("cat", "fish"), k = 3)
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 20000L, 2L), (2L, 16923L, 1L), (3L, 13750L, 1L)))
    // scale shape: top-k is per-partition heaps (TakeOrderedAndProject),
    // never a global Sort->Limit or a rank window
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Window"),
      plan)
  }

  test("gopherRules: every rule flips at its documented boundary") {
    def rules(text: String): Map[String, Boolean] = {
      val r = TextOps.gopherRules(docs(1L -> text)).collect()(0)
      val names = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop", "pass")
      names.map(n => n -> r.getBoolean(r.fieldIndex(n))).toMap
    }
    // a clean passing doc: 50 words of 3-10 chars incl. two stopwords
    val goodWords = Seq("the", "and") ++ (3 to 50).map(i => s"word$i")
    val good = goodWords.mkString(" ")
    assert(rules(good).forall(_._2 == true))
    // word count: 49 words fails, 50 passes
    assert(!rules(goodWords.drop(1).mkString(" "))("r_wordcount"))
    // mean word length: fifty 2-char words -> mean 2 < 3 fails r_meanlen
    val short = (1 to 50).map(_ => "ab").mkString(" ")
    assert(!rules(short)("r_meanlen") && rules(short)("r_wordcount"))
    // symbol ratio: k '#' words over 50+k words — 10k >= 50+k at k=6
    // (ratio 6/56 > 0.1 fails); k=5 is 5/55 < 0.1 and passes
    assert(!rules(good + " # # # # # #")("r_symbol"))
    assert(rules(good + " # # # # #")("r_symbol"))
    // bullets: 9 of 10 lines bulleted = 90% -> fail; 8 of 10 passes
    val bullets9 = (good +: (1 to 9).map(i => s"- b$i")).mkString("\n")
    assert(!rules(bullets9)("r_bullet"))
    val bullets8 = (good +: "tail line" +: (1 to 8).map(i => s"- b$i"))
      .mkString("\n")
    assert(rules(bullets8)("r_bullet"))
    // ellipsis: 3 of 10 lines = 30% -> fail; 2 of 10 passes
    val ell3 = (good +: (1 to 6).map(i => s"line $i") ++:
      (1 to 3).map(i => s"trailing $i...")).mkString("\n")
    assert(!rules(ell3)("r_ellipsis"))
    // alpha: 10 numeric of 50 = exactly 80% alpha -> pass (>=); 11 fails
    val alpha40 = ((1 to 40).map(i => s"word$i") ++
      (1 to 10).map(_ => "12345")).mkString(" ")
    assert(rules(alpha40)("r_alpha"))
    val alpha39 = ((1 to 39).map(i => s"word$i") ++
      (1 to 11).map(_ => "12345")).mkString(" ")
    assert(!rules(alpha39)("r_alpha"))
    // stopwords: one distinct kind (even repeated) fails, two pass
    val oneStop = ("the" +: "the" +: (3 to 50).map(i => s"word$i")).mkString(" ")
    assert(!rules(oneStop)("r_stop"))
  }

  test("globalShuffle: exact hash-order permutation, bucketing-invariant, no global one-partition sort") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.functions.TextHashes.P31
    val d = docs((1L to 60L).map(i => i -> s"doc $i text"): _*)
    // first-principles brute force: full driver-side sort by (h, doc_id)
    val want = d.select(col("doc_id"),
        (graft.functions.poly_hash31(
          concat(lit("gs|"), col("doc_id").cast("string")))
          * graft.functions.VectorOps.HashMul % P31).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(r => (r._2, r._1)).zipWithIndex
      .map { case ((id, h), i) => (id, h, i.toLong) }.toSet
    val got = TextOps.globalShuffle(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // pos is a permutation of 0..n-1
    assert(got.map(_._3) == (0L until 60L).toSet)
    // bucketing-invariant: 1 bucket (single global window) and huge
    // bucket counts (pure offset arithmetic) agree exactly
    assert(TextOps.globalShuffle(d, buckets = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    assert(TextOps.globalShuffle(d, buckets = 1 << 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == want)
    // scale shape: the window partitions by bucket (bounded), offsets
    // come back as a broadcast join — never a sort-merge join, and at
    // buckets>1 never a single-partition global window
    val plan = TextOps.globalShuffle(d).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"), plan)
  }

  test("qualityBuckets: differential vs a driver-side tercile model; terciles populated per lang") {
    import org.apache.spark.sql.functions.{col, when}
    // two languages; per-doc token mixes of a very common token vs
    // per-doc unique tokens spread the quality scores
    val d = docs((1L to 18L).map { i =>
        val common = (1L to i % 9 + 1).map(_ => "common").mkString(" ")
        val rare = (1 to 4).map(j => s"rare${i}x$j").mkString(" ")
        i -> s"$common $rare"
      }: _*)
      .withColumn("lang", when(col("doc_id") % 2 === 0, "aa").otherwise("bb"))
    val got = TextOps.qualityBuckets(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // independent model: corpus token counts (all tokens fit vocab 256),
    // score = (100 * sum(len(bin(cnt)))) / n_tok, terciles by the
    // ceil(n/3) / ceil(2n/3) DESC-rank score values
    val raw = d.select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ")))
    val cnt = raw.flatMap(_._3).groupBy(identity).map { case (t, o) =>
      t -> o.length.toLong }
    val scored = raw.map { case (id, lang, toks) =>
      val lp = toks.map(t => cnt(t).toBinaryString.length.toLong).sum
      (id, lang, 100L * lp / toks.length)
    }
    val want = scored.groupBy(_._2).flatMap { case (lang, rs) =>
      val desc = rs.map(_._3).sorted.reverse
      val n = desc.length
      val (tHead, tMid) = (desc((n + 2) / 3 - 1), desc((2 * n + 2) / 3 - 1))
      rs.toSeq.map { case (id, _, s) =>
        val b = if (s >= tHead) "head" else if (s >= tMid) "middle" else "tail"
        (id, lang, s, b)
      }
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
    // with 9 docs per lang and distinct scores, every tercile is populated
    Seq("aa", "bb").foreach { lang =>
      val bs = got.filter(_._2 == lang).map(_._4)
      assert(Set("head", "middle", "tail").subsetOf(bs.toSet), bs.toSeq)
    }
  }

  test("upsample: floor copies + hash-gated fractional copy; w=0 excludes; default applies; no corpus shuffle") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    import graft.functions.TextHashes.P31
    val d = docs((1L to 40L).map(i => i -> s"doc $i"): _*)
      .withColumn("source", when(col("doc_id") <= 10L, "sA")
        .when(col("doc_id") <= 20L, "sB")
        .when(col("doc_id") <= 30L, "sC").otherwise("sD"))
    val weights = Map("sA" -> 2500L, "sB" -> 500L, "sC" -> 0L)
    val res = TextOps.upsample(d, weights, defaultX1000 = 1000L)
    val got = res.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // brute force from first principles (same salt/finalizer)
    val h = d.select(col("doc_id"),
        (graft.functions.poly_hash31(
          concat(lit("up|"), col("doc_id").cast("string")))
          * graft.functions.VectorOps.HashMul % P31).as("h"),
        col("source"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val want = h.flatMap { case (id, hv, src) =>
      val wx = weights.getOrElse(src, 1000L)
      val copies = wx / 1000 + (if (hv % 1000 < wx % 1000) 1 else 0)
      (0L until copies).map(c => (id, src, c))
    }
    assert(got.sorted.toSeq == want.sorted.toSeq)
    // semantics: sC gone entirely, sD exactly once each, sA 2-3 copies
    assert(!got.exists(_._2 == "sC"))
    assert(got.count(_._2 == "sD") == 10)
    val perA = got.filter(_._2 == "sA").groupBy(_._1).map(_._2.length).toSet
    assert(perA.subsetOf(Set(2, 3)) && perA.contains(3))
    // weights broadcast onto a per-row projection — no corpus shuffle
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("Exchange hashpartitioning"),
      plan)
  }

  // ------------------------------------- NB quality classifier (t28)

  private def labeledDocs(rows: (Long, String, String)*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.toSeq.map { case (id, t, src) =>
      (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("nbQuality separates a vocabulary-disjoint corpus: positive-slice " +
    "vocab scores high, negative scores low, scores are pure integers") {
    val hi = "good clean prose flows well here"
    val lo = "spamword junkword adword spamword junkword adword"
    val d = labeledDocs(
      (1L, hi, "src0"), (2L, hi, "src1"), (3L, hi, "src0"),
      (4L, lo, "src9"), (5L, lo, "src9"),
      (6L, hi, "src9")) // held-out-ish: positive vocab under a negative label
    val out = TextOps.nbQuality(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 > 0 && out(1L)._2)
    assert(out(4L)._1 < 0 && !out(4L)._2)
    // doc 6 carries positive vocabulary: its features' pc (3 docs' worth)
    // outweighs nc (its own), so the model generalizes past the label
    assert(out(6L)._1 > 0, s"doc6 logodds = ${out(6L)._1}")
  }

  test("nbQuality: docs with no bigrams score (0, 0, false); n_feat is " +
    "the bigram count") {
    val d = labeledDocs((1L, "solo", "src0"), (2L, "a b c", "src9"))
    val out = TextOps.nbQuality(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out(1L) == ((0L, 0L, false)))
    assert(out(2L)._1 == 2L)
  }

  test("nbScoreInRow against the trained table reproduces nbQuality " +
    "row-for-row (the serve-from-model path)") {
    val d = labeledDocs(
      (1L, "good clean prose flows", "src0"),
      (2L, "spamword junkword adword", "src9"),
      (3L, "good clean junkword prose", "src9"),
      (4L, "x", "src0"))
    val batch = TextOps.nbQuality(d).collect().map(_.toString).sorted.toSeq
    val served = TextOps.nbScoreInRow(d, TextOps.nbWeightTable(d))
      .collect().map(_.toString).sorted.toSeq
    assert(served == batch)
  }

  // ----------------------------------------------- Gopher repetition (t27)

  test("gopherRepetition: duplicate line/paragraph counts, duplicate chars, " +
    "top-n-gram char shares and rules match hand-computed values") {
    val clean = "alpha beta gamma delta epsilon"     // no repetition at all
    // 4 lines, 'dup line' twice (7 chars each); paragraphs: the \n\n
    // split yields [l1\ndup line, dup line\nend] — NO dup paragraphs
    val liney = "l1\ndup line\n\ndup line\nend"
    // 'spam spam' 2-gram occurs 5 times in a 6-token run
    val spammy = "spam spam spam spam spam spam"
    val out = TextOps.gopherRepetition(
        docs(1L -> clean, 2L -> liney, 3L -> spammy, 4L -> base))
      .collect().map(r => r.getLong(0) -> r).toMap

    val c = out(1L)
    assert(c.getAs[Long]("dup_lines") == 0L &&
      c.getAs[Long]("dup_paras") == 0L &&
      c.getAs[Long]("dup_line_chars") == 0L)
    // top-2-gram of all-distinct text: every bigram count 1, longest wins:
    // "delta epsilon" (13 chars)
    assert(c.getAs[Long]("top2_chars") == 13L,
      s"top2=${c.getAs[Long]("top2_chars")}")
    // 13 of 30 chars = 43% > 20%: even a clean SHORT doc fails r_top2 —
    // the Gopher thresholds presuppose document-length text
    assert(!c.getAs[Boolean]("r_top2") && !c.getAs[Boolean]("pass"))
    // a 60-token all-distinct doc passes every repetition rule
    assert(out(4L).getAs[Boolean]("pass"))

    val l = out(2L)
    assert(l.getAs[Long]("n_lines") == 5L)      // l1, dup line, "", dup line, end
    assert(l.getAs[Long]("dup_lines") == 1L)    // second 'dup line'
    assert(l.getAs[Long]("dup_line_chars") == 8L) // "dup line".length
    assert(l.getAs[Long]("n_paras") == 2L && l.getAs[Long]("dup_paras") == 0L)
    // 1 dup of 5 lines = 0.2 ≤ 0.3 → rule holds (10*1 <= 3*5)
    assert(l.getAs[Boolean]("r_dup_line"))

    val s = out(3L)
    // 6 'spam' tokens → 5 'spam spam' bigrams; share = 5*9=45 of 29 chars
    assert(s.getAs[Long]("top2_chars") == 45L)
    assert(!s.getAs[Boolean]("r_top2") && !s.getAs[Boolean]("pass"))
    // 4 'spam spam spam' trigrams → 4*14=56; 4-grams: 3*19=57
    assert(s.getAs[Long]("top3_chars") == 56L)
    assert(s.getAs[Long]("top4_chars") == 57L)
  }

  test("gopherRepetition degenerate shapes: empty text and single token") {
    val out = TextOps.gopherRepetition(docs(1L -> "", 2L -> "one"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val e = out(1L)
    assert(e.getAs[Long]("n_chars") == 0L && e.getAs[Long]("n_lines") == 1L &&
      e.getAs[Long]("top2_chars") == 0L && e.getAs[Boolean]("pass"))
    val o = out(2L)
    assert(o.getAs[Long]("top2_chars") == 0L &&
      o.getAs[Long]("top3_chars") == 0L && o.getAs[Boolean]("pass"))
  }

  test("gopherRepetition plan is shuffle-free (pure per-row projection)") {
    val plan = TextOps.gopherRepetition(docs(1L -> base))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ------------------------------------------------------- trained BPE

  /** Reference BPE (Sennrich et al. 2016) in plain driver-side Scala:
    * word counts → repeat (count adjacent pairs with multiplicity, merge
    * the (count DESC, a, b)-best pair greedily left-to-right).
    */
  private def refBpe(texts: Seq[String], nMerges: Int)
      : (Seq[(String, String)], Map[String, Int]) = {
    val wordsOf = (t: String) => "[a-z0-9]+".r.findAllIn(t).toVector
    val wc = texts.flatMap(wordsOf).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    def mergeOne(syms: Vector[String], p: (String, String)): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == p._1 && syms(i + 1) == p._2) {
          out += (p._1 + p._2); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    var reprs: Map[String, Vector[String]] =
      wc.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    for (_ <- 0 until nMerges if !done) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      reprs.foreach { case (w, syms) =>
        val c = wc(w)
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1)); pc(k) = pc.getOrElse(k, 0L) + c
          i += 1
        }
      }
      if (pc.isEmpty) done = true
      else {
        val best = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        reprs = reprs.map { case (w, s) => w -> mergeOne(s, best) }
      }
    }
    (merges.result(), reprs.map { case (w, s) => w -> s.length })
  }

  test("bpeTrainMerges matches the driver-side reference BPE merge-for-merge " +
    "and bpeTokenCounts matches its per-doc symbol counts") {
    // overlap + consecutive-merge shapes on purpose: 'lll' exercises the
    // greedy left-to-right rule, 'abab' the back-to-back merge that a
    // single-delimiter replace encoding gets wrong
    val texts = Seq(
      "the cat sat on the mat lll abab",
      "the hat and the rat abab abab",
      "cats eat rats lll ll catcat",
      "no 12 overlap 345 here the end")
    val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    for (n <- Seq(0, 3, 8, 15)) {
      val (expMerges, expCounts) = refBpe(texts, n)
      val gotMerges = TextOps.bpeTrainMerges(d, n)
      assert(gotMerges == expMerges, s"nMerges=$n")
      val wordsOf = (t: String) => "[a-z0-9]+".r.findAllIn(t).toVector
      val expPerDoc = texts.zipWithIndex.map { case (t, i) =>
        val ws = wordsOf(t)
        (i.toLong, ws.length.toLong, ws.map(expCounts).sum.toLong)
      }.toSet
      val got = TextOps.bpeTokenCounts(d, gotMerges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expPerDoc, s"nMerges=$n")
    }
  }

  test("BPE degenerate shapes: wordless docs count 0; single-char words " +
    "survive unmerged; merges stop early when no pairs remain") {
    val d = docs(1L -> "??? !!!", 2L -> "a b c a b")
    // only pairs: (a,b)x2, (b,c), (c,a) -> merge1 ab; then no pair has
    // count > ... still (ab merged) pairs (ab,c),(c,ab)? words are
    // single tokens 'a','b','c' — each word is ONE char, no intra-word
    // pairs at all, so training stops immediately
    val merges = TextOps.bpeTrainMerges(d, 5)
    assert(merges.isEmpty, s"single-char words have no pairs: $merges")
    val got = TextOps.bpeTokenCounts(d, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 0L, 0L), (2L, 5L, 5L)))
  }

  test("trained-BPE counts compose into tokenBudgetSample as the charged " +
    "token column") {
    val texts = (1 to 20).map(i => s"pay$i " + ("tok " * (i % 5 + 1)).trim)
    val d = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val merges = TextOps.bpeTrainMerges(d, 6)
    val applied = TextOps.bpeTokenCounts(d, merges)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("bpe_tokens"))
    val withBpe = d.join(applied, Seq("doc_id"))
    val sampled = TextOps.tokenBudgetSample(withBpe, budget = 30L,
      tokenCount = org.apache.spark.sql.functions.col("bpe_tokens")).collect()
    // the budget rule holds in BPE tokens: selected docs' bpe sum <= 30
    // + the boundary doc, and at least one doc is selected
    assert(sampled.nonEmpty)
    val bpeOf = applied.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = sampled.map(r => bpeOf(r.getAs[Long]("doc_id"))).sum
    val maxDoc = bpeOf.values.max
    assert(total <= 30L + maxDoc, s"total=$total")
  }

  test("c4Rules: line retention and page gates flip at their boundaries") {
    def run(text: String): Map[String, Any] = {
      val r = TextOps.c4Rules(docs(1L -> text)).collect()(0)
      r.schema.fieldNames.map(n => n -> r.get(r.fieldIndex(n))).toMap
    }
    // 3 qualifying lines (5 words, terminal punct) -> all kept, pass
    val good = Seq("a b c d e.", "f g h i j!", "k l m n o?").mkString("\n")
    val g = run(good)
    assert(g("n_lines") == 3L && g("n_kept") == 3L &&
      g("n_sentences") == 3L && g("pass") == true)
    assert(g("kept_chars") == good.length.toLong) // everything retained
    // 4-word line dropped; no-terminal line dropped; quote terminal kept
    val mixed = Seq("a b c d.", "a b c d e", "a b c d e\"",
      "f g h i j.", "k l m n o.").mkString("\n")
    val m = run(mixed)
    assert(m("n_kept") == 3L)
    // the '"' terminal line carries no [.!?], so sentences = 2 -> r_sent
    // fails at 2, passes at 3 (boundary)
    assert(m("n_sentences") == 2L && m("r_sent") == false)
    // a 'javascript' line is dropped even when otherwise qualifying,
    // and dropping it is line-level: the page still passes
    val js = Seq("a b c d e.", "f g javascript h i.", "j k l m n.",
      "o p q r s.").mkString("\n")
    val j = run(js)
    assert(j("n_kept") == 3L && j("pass") == true)
    // page gates: '{' anywhere fails even on a dropped line; 'lorem
    // ipsum' fails; bare 'lorem' does not
    assert(run(good + "\nx {")("r_brace") == false)
    assert(run(good + "\nx {")("pass") == false)
    assert(run(good.replace("f g h", "lorem ipsum h"))("r_lorem") == false)
    assert(run(good.replace("f g h", "lorem x h"))("r_lorem") == true)
  }

  test("synthesizeLines: deterministic k-word lines, punct cycle, contaminants") {
    val out = TextOps.synthesizeLines(docs(
        0L -> "w1 w2 w3 w4 w5 w6 w7",   // k=3, %17 lorem on line 1
        10L -> "w1 w2 w3 w4 w5 w6 w7")) // k=6, (10+1)%11 js on line 1
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "w1 w2 w3 lorem ipsum?\nw4 w5 w6!\nw7")
    assert(out(10L) == "w1 w2 w3 w4 w5 w6 javascript\nw7.")
  }

}
