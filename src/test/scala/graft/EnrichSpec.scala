package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.Transcripts
import graft.streaming.TranscriptStream

/** The enrich stage is a left join on `tool` run as a driver-built
  * lookup: the same rows and the same schema as the broadcast join it
  * replaced, and no Spark job of its own.
  */
class EnrichSpec extends SparkSuite {

  private lazy val toolDim = Transcripts.toolDim(spark)
  private val T1 = "2024-01-01 10:00:00"

  /** Known, unknown and null tools, one INS / UPD / DEL each. */
  private lazy val fixture = turns(
    ("c1", 1, "user", """INS shop.orders {"_id":"o1"}""", "tool_3", T1),
    ("c1", 2, "user", """INS shop.orders {"_id":"o2"}""", "tool_x", T1),
    ("c1", 3, "assistant", """UPD shop.orders {"_id":"o1","diff":{"u":{"k":1}}}""",
      null, T1),
    ("c2", 1, "tool", """DEL shop.orders {"_id":"o1"}""", "tool_4", T1))

  /** The broadcast left join enrich was before: the reference semantics. */
  private def joined(parsed: DataFrame, dim: DataFrame): DataFrame =
    parsed.join(broadcast(dim), Seq("tool"), "left")

  test("unknown and null tools get null tool_kind/kind_priority and route to *_unknown") {
    val byTurn = Pipeline.route(Pipeline.enrich(parsedValid(fixture), toolDim))
      .collect().map { r =>
        (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
          ((Option(r.getAs[String]("tool_kind")),
            Option(r.getAs[Integer]("kind_priority")).map(_.toInt),
            r.getAs[String]("sink")))
      }.toMap
    assert(byTurn == Map(
      ("c1", 1) -> ((Some("retrieval"), Some(1), "ins_retrieval")),
      ("c1", 2) -> ((None, None, "ins_unknown")),
      ("c1", 3) -> ((None, None, "upd_unknown")),
      ("c2", 1) -> ((Some("action"), Some(2), "del_action"))))
  }

  test("enrich equals the broadcast left join: same rows, same schema with nullability") {
    val parsed = parsedValid(fixture)
    // a dim row whose key is null matches nothing, as in the join
    val withNullKey = toolDim.unionByName(spark.sql(
      "SELECT CAST(NULL AS STRING) AS tool, 'ghost' AS tool_kind, 9 AS kind_priority"))
    Seq(toolDim, withNullKey).foreach { dim =>
      val got = Pipeline.enrich(parsed, dim)
      val want = joined(parsed, dim)
      // names, order, types and nullability: the sink's parquet schema
      assert(got.schema == want.schema)
      assert(got.collect().toSeq.map(_.toString).sorted ==
        want.collect().toSeq.map(_.toString).sorted)
    }
  }

  test("a dimension with a duplicate key fails, naming the key") {
    val dup = toolDim.unionByName(
      spark.sql("SELECT 'tool_5' AS tool, 'action' AS tool_kind, 2 AS kind_priority"))
    val e = intercept[IllegalArgumentException](
      Pipeline.enrich(parsedValid(fixture), dup))
    assert(e.getMessage.contains("'tool_5'"))
  }

  test("job budget: enrich runs no Spark job and adds none to the plan it feeds") {
    val in = tempDir("graft_enrich").toString + "/in"
    fixture.write.parquet(in)
    val scan = spark.read.schema(TranscriptStream.turnSchema).parquet(in)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    assert(jobsRun(Pipeline.enrich(parsedValid(scan), toolDim)) == 0)
    assert(jobsRun(noop(parsedValid(scan))) == 1)
    assert(jobsRun(noop(Pipeline.enrich(parsedValid(scan), toolDim))) == 1)
    // the enrich is a projection through the dim lookup: the executed plan
    // of a routed frame holds no join and no broadcast of the dim
    val routed = Pipeline.route(Pipeline.enrich(parsedValid(scan), toolDim))
    routed.collect()
    val plan = routed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan.toString
      case p => p.toString
    }
    assert(plan.contains("tool_dim_lookup"), plan)
    Seq("BroadcastHashJoin", "BroadcastExchange", "SortMergeJoin",
      "CartesianProduct", "BroadcastNestedLoopJoin").foreach { op =>
      assert(!plan.contains(op), plan)
    }
  }
}
