package graft.operators

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}

/** Transactional JDBC statement sink — the reference's Postgres sink
  * (W2, /root/reference/database/postgres/postgres.go:41-60), rebuilt with
  * two deliberate fixes:
  *  - errors PROPAGATE and roll back the transaction (the reference
  *    swallows them: `if err != nil { return nil }`, postgres.go:55-57);
  *  - one connection per PARTITION, not per batch (the reference re-runs
  *    InitializePostgres inside the consume loop, main.go:100).
  *
  * Executes the pipeline's rendered statements per partition in a
  * transaction; statement count comes back through an accumulator.
  */
object JdbcSink {

  /** Runs column `stmt` of each partition in order, in a transaction per
    * partition. When `stmts` carries the stream's `phase` column (see
    * Pipeline.renderAllStatements), the DDL phases (< 3) commit before the
    * first DML statement after them runs, so DDL is durable before any DML
    * depends on it and a failing DML statement rolls back only the DML.
    */
  def executeStatements(stmts: DataFrame, url: String): Long = {
    val acc = stmts.sparkSession.sparkContext.longAccumulator("stmts_executed")
    val phase = if (stmts.columns.contains("phase")) col("phase") else lit(3)
    stmts.select(col("stmt"), phase).foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val st = conn.createStatement()
          try {
            var inDdl = false
            // statement terminator is renderer syntax, not JDBC's (Derby
            // rejects it; Postgres tolerates both)
            rows.foreach { r =>
              val isDdl = r.getInt(1) < 3
              if (inDdl && !isDdl) conn.commit()
              inDdl = isDdl
              st.execute(r.getString(0).stripSuffix(";")); acc.add(1)
            }
            conn.commit()
          } catch {
            case e: Throwable => conn.rollback(); throw e
          } finally st.close()
        } finally conn.close()
      }
    }
    acc.value
  }
}
