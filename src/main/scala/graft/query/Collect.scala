package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution

/** The serving path's one collect: every row [[graft.protocol.OaiRepository]]
  * reads (point verbs, pages, flags, set enumeration) comes through here.
  *
  * `Dataset.collect()` resolves a Row encoder for the frame and generates
  * the Java source of its deserializer on every new Dataset; for the wide
  * nested study schema that costs more driver time than the small job it
  * wraps. This runs the same physical plan under a new execution id, as
  * `collect()` does (job tagging, AQE plan updates and SQL listener events
  * are unchanged), and converts the few collected `InternalRow`s with
  * Catalyst's interpreted converter instead. The converter is built per
  * call: it is a small tree of plain objects with no generated code.
  */
object Collect {

  def rows(df: DataFrame): Seq[Row] = {
    val qe = df.queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val internal = SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.executeCollect()
    }
    internal.toSeq.map(r => toRow(r).asInstanceOf[Row])
  }
}
