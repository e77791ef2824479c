package graft

import org.apache.spark.sql.functions._

/** Hot-conversation skew (FIXTURES.md skew_hot_conv): one conv_id holding
  * half the corpus must not pin a single task of a join. The reference has
  * exactly this failure mode in its FNV(ns) mod 10 channels and never
  * addresses it (reference main.go:305-310); here the session's AQE
  * skew-join setting splits the hot partition at runtime.
  */
class SkewSpec extends SparkSuite {

  private lazy val skewed = {
    import spark.implicits._
    val hot = (1 to 5000).map(i =>
      ("conv_hot", i, "user", s"""INS db0.t0 {"_id":"h$i","k":$i}""", "tool_0"))
    val cold = (1 to 5000).map(i =>
      (s"conv_${i % 500}", i, "user", s"""INS db0.t1 {"_id":"c$i","k":$i}""", "tool_1"))
    (hot ++ cold).toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
  }

  test("AQE splits the skewed side of a sort-merge join at runtime") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> util.Try(conf.get(k)).toOption).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "20KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      // dim must reach the join as a bare shuffle (AQE cannot split a side
      // whose sort sits on an aggregate — splitting would duplicate groups)
      import spark.implicits._
      val dim = skewed.select(col("conv_id")).distinct()
        .collect().map(_.getString(0)).toSeq
        .toDF("conv_id").withColumn("kind", lit("k"))
      val joined = skewed.join(dim, Seq("conv_id"))
      assert(joined.count() == 10000L) // correctness unchanged under split
      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      val smjSkewFlags = finalPlan.collect { case j: SortMergeJoinExec => j.isSkewJoin }
      val skewReads = finalPlan.collect {
        case r: AQEShuffleReadExec if r.hasSkewedPartition => r
      }
      assert(smjSkewFlags.contains(true) && skewReads.nonEmpty,
        s"no skew split in plan:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
