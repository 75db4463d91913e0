package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation

/** The two places the benchmark needs Spark internals; kept in one file. */
object SparkHooks {

  /** Block until every posted listener event has been delivered, so the
    * counters read after an op include all of its tasks. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The same streaming frame reading at most one new file per micro-batch.
    * The engine's `sessionStream`/`dedupStream` faces take no rate option,
    * and a file source offers no session-wide default for it. */
  def oneFilePerTrigger(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[Row]]
    val plan = ds.logicalPlan.transform {
      case r: StreamingRelation =>
        r.copy(dataSource = r.dataSource.copy(
          options = r.dataSource.options + ("maxFilesPerTrigger" -> "1")))
    }
    ClassicDataset.ofRows(ds.sparkSession, plan)
  }
}
