package graft.streaming

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** A streaming sink that runs every micro-batch to completion and keeps
  * none of its rows: `writeStream.format("graft-discard")`.
  *
  * It does what the built-in `noop` sink does, in fewer steps. `noop` is a
  * DataSource V2 sink, so `MicroBatchExecution` runs each of its
  * micro-batches as a `collect()` that opens a second SQL execution inside
  * the one it opened for the batch. On Spark 4.1.2 each execution start
  * calls `QueryExecution.explainString`, which re-plans a streaming query
  * from scratch (a fresh `IncrementalExecution`), and posts its plan info
  * and modified-conf redaction; the V2 write adds a commit protocol on
  * top. A V1 [[Sink]] runs inside the batch's own execution, so every
  * micro-batch pays for one re-plan instead of two and no write protocol.
  *
  * The batch's physical plan runs as one job, one task per partition, and
  * each task drains its iterator, so stateful operators commit their state
  * stores exactly as under any other sink.
  */
final class DiscardSinkProvider extends StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = DiscardSink.Format
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = DiscardSink
}

object DiscardSink extends Sink {
  val Format = "graft-discard"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val rdd = data.queryExecution.toRdd
    rdd.sparkContext.runJob(rdd, DrainPartition)
  }

  override def toString: String = "DiscardSink"
}

/** Reads a partition to its end. A named object, not a lambda:
  * `SparkContext.runJob` cleans its function on every call, and for a
  * closure that means parsing the bytecode of the class that defines it. */
private object DrainPartition extends ((TaskContext, Iterator[InternalRow]) => Unit)
    with Serializable {
  override def apply(ctx: TaskContext, rows: Iterator[InternalRow]): Unit =
    while (rows.hasNext) rows.next()
}
