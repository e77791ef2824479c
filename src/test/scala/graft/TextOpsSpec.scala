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

}
