package graft

/** Driver-contract guard: every query runs at sf0.001, returns rows (or is
  * a known legitimately-empty case), is deterministic across two runs, and
  * every oracle key exists in queries. Catches alias drift before the
  * driver's DuckDB gate does.
  */
class EntryContractSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  // q5 anti-join may legitimately be tiny at minimal sf; everything else
  // must produce rows
  private val mayBeEmpty = Set("q5_anti_join", "p11_ddl_alter")

  test("oracleSql keys EQUAL queries keys — no query ships without a full oracle") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
    // every query is DuckDB-expressible — a new rows-only query is a
    // coverage regression
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
    // the tiers are p* (pipeline), q* (relational), t* (text curation),
    // d* (dedup) and e* (embedding); the media tier (m*) and the ANN
    // search queries are gone. t* keeps only the split, chunk, redact,
    // gate, mix, pack, decon, sampling, upsample, shuffle, BM25,
    // coverage, segment-dedup and pipeline queries; d* keeps only the
    // ladder core and the decon, run, KMV and embedding queries; e*
    // keeps only the two that go with the text tier: SemDeDup and the
    // BM25+dense fusion
    val offTier = SparkEntry.queries.keySet.filterNot(_.matches("[pqtde][0-9]+_.*"))
    assert(offTier.isEmpty, s"queries outside the p/q/t/d/e tiers: $offTier")
    val eTier = SparkEntry.queries.keySet.filter(_.startsWith("e"))
    assert(eTier == Set("e8_semdedup", "e31_hybrid_rrf"), s"e tier: $eTier")
    assert(SparkEntry.queries.size == 70, s"${SparkEntry.queries.size} queries")
    // the benchmark reads these oracles by key (perfbench's OracleSql.used);
    // a missing one would otherwise surface only when the benchmark runs
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "perfbench/src/main/scala/perfbench/OracleSql.scala")), "UTF-8")
    val usedBlock = "val used[^=]*= Seq\\(([^)]*)\\)".r.findFirstMatchIn(src)
      .map(_.group(1)).getOrElse(fail("OracleSql.used not found"))
    val used = "\"([a-z0-9_]+)\"".r.findAllMatchIn(usedBlock).map(_.group(1)).toSet
    assert(used.contains("p1_parse"), s"OracleSql.used parsed as $used")
    val missing = used -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"oracles the benchmark reads but oracleSql lacks: $missing")
  }

  test("every query runs at sf0.001, non-empty unless whitelisted, deterministic") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val r1 = fn(spark, sf)
      val rows1 = r1.collect()
      if (!mayBeEmpty(name))
        assert(rows1.nonEmpty, s"$name returned 0 rows at sf0.001")
      val rows2 = fn(spark, sf).collect()
      assert(rows1.map(_.toString).sorted.toSeq ==
        rows2.map(_.toString).sorted.toSeq, s"$name is nondeterministic")
    }
  }

  test("typed Dataset face agrees with the DataFrame pipeline") {
    val ds = graft.sources.Transcripts.typedTurns(spark, sf)
    val users = ds.filter(_.role == "user").count()
    val dfUsers = graft.sources.Transcripts.transcripts(spark, sf)
      .filter(org.apache.spark.sql.functions.col("role") === "user").count()
    assert(users == dfUsers && users > 0)
  }

  test("JSON source round-trip (reference S1 file-source analog)") {
    // the reference tails a JSON file of oplog entries (main.go:229-303);
    // the Spark analog is a schema'd JSON scan of turns
    val dir = tempDir("graft_json").toString
    val turns = graft.sources.Transcripts.transcripts(spark, sf)
    turns.write.mode("overwrite").json(dir)
    val back = spark.read
      .schema(graft.streaming.TranscriptStream.turnSchema).json(dir)
    assert(back.count() == turns.count())
    val got = Pipeline_sinkCounts(back)
    val want = Pipeline_sinkCounts(turns)
    assert(got == want)
  }

  private def Pipeline_sinkCounts(df: org.apache.spark.sql.DataFrame) = {
    import graft.operators.Pipeline
    Pipeline.sinkCounts(Pipeline.route(Pipeline.enrich(
        Pipeline.filterValid(Pipeline.parse(df)),
        graft.sources.Transcripts.toolDim(spark))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
