package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.TestSpark

/** The streaming specs' one driver: it feeds each batch into a
  * `MemoryStream` and runs one micro-batch per batch. */
object StreamDriver {
  private lazy val spark = TestSpark.spark

  /** A run's sink rows and, per micro-batch that ran, its progress with
    * the events delivered up to and including it. */
  final case class Run[E](rows: DataFrame, progress: Seq[(StreamingQueryProgress, Seq[E])])

  /** Runs `out` over `batches` into a memory sink in output mode `mode`.
    * The rows are a local copy of the sink, so a reader may join them
    * with themselves (a memory-sink relation joined with itself trips
    * Spark's conflicting-reference resolution). */
  def run[E: Encoder](batches: Seq[Seq[E]], mode: String)(out: Dataset[E] => Dataset[_]): Run[E] = {
    val name = s"stream_${System.nanoTime()}"
    val progress = drive(batches)(
      out(_).writeStream.outputMode(mode).format("memory").queryName(name).start())
    val sink = spark.table(name)
    Run(spark.createDataFrame(sink.collect().toSeq.asJava, sink.schema), progress)
  }

  /** Runs the `foreachBatch` query that `start` starts with a sink over
    * `batches` and returns the rows the sink got, per micro-batch. */
  def collect[E: Encoder, T](batches: Seq[Seq[E]])(
      start: Dataset[E] => ((Dataset[T], Long) => Unit) => StreamingQuery): Seq[Array[T]] = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[Array[T]]
    drive(batches)(start(_)((out, _) => outs.synchronized { outs += out.collect(); () }))
    outs.toSeq
  }

  /** Runs the query that `start` starts over `batches`, one micro-batch
    * each, and returns [[Run.progress]]. */
  def drive[E: Encoder](batches: Seq[Seq[E]])(
      start: Dataset[E] => StreamingQuery): Seq[(StreamingQueryProgress, Seq[E])] = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[E]
    val q = start(in.toDS())
    try batches.foreach { b => in.addData(b); q.processAllAvailable() }
    finally q.stop()
    // a trigger that ran no batch reads no row and reports no state operator
    val progress = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 || p.stateOperators.nonEmpty).sortBy(_.batchId)
    val dataIds = progress.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataIds.size == batches.size, s"one data micro-batch per batch: $dataIds")
    progress.map(p => p -> dataIds.zip(batches).takeWhile(_._1 <= p.batchId).flatMap(_._2))
  }
}
