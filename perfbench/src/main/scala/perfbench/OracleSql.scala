package perfbench

import java.nio.file.{Files, Paths}

/** Writes the transcript derivation and the DuckDB oracle SQL the benchmark
  * checks against, as JSON, so run.py can generate inputs and expected
  * outputs without a Spark session:
  *
  *   java -cp <classpath> perfbench.OracleSql <out.json>
  */
object OracleSql {
  val used: Seq[String] = Seq("p1_parse", "p4_route_counts", "p5_render_insert",
    "p6_render_update", "p7_render_delete", "p8_flatten_children",
    "p9_ddl_schemas", "p10_ddl_tables", "p11_ddl_alter", "p16_child_inserts")

  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val kv = Seq("derivation" -> graft.sources.Transcripts.derivationCte,
      "with_all" -> graft.Oracles.withAll) ++ used.map(k => k -> sql(k))
    Files.writeString(Paths.get(args(0)), Json.obj(kv))
  }
}
