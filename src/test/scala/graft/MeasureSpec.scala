package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** [[Measure]] counts what its body ran, and only that. */
class MeasureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shuffleQuery(): Unit =
    spark.range(1000).groupBy((col("id") % 7).as("k")).count().collect()

  /** Runs `body` with `desc` as the job description of this thread. */
  private def described[T](desc: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  test("a body that runs no job records no job and no stage, after a query with a shuffle") {
    // A listener that sleeps in its first query's end event holds the
    // bus's shared queue, Measure's listener's queue too, so every event
    // of the shuffle query after it is still queued when Measure starts.
    val held = new AtomicBoolean
    val hold = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (held.compareAndSet(false, true)) Thread.sleep(3000)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(hold)
    val (_, run) =
      try {
        spark.range(1).collect()
        shuffleQuery()
        Measure(spark)(())
      } finally spark.listenerManager.unregister(hold)
    assert(held.get, "the holding listener never ran")
    assert(run.jobs.isEmpty, s"jobs of earlier work counted: ${run.jobs}")
    assert(run.stages.isEmpty, s"stages of earlier work counted: ${run.stages}")
  }

  test("a job another thread starts with the body's local properties counts under its description") {
    val pool = Executors.newSingleThreadExecutor()
    try {
      val (n, run) = Measure(spark) {
        described("measure-spec caller") {
          SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(
            spark.range(10).count()).join()
        }
      }
      assert(n == 10)
      assert(run.jobs.nonEmpty && run.jobs.forall(_ == "measure-spec caller"), run.jobs)
    } finally pool.shutdown()
  }

  test("a body that throws propagates its exception, and the next Measure sees only its own jobs") {
    val e = intercept[IllegalStateException] {
      Measure(spark) {
        shuffleQuery()
        throw new IllegalStateException("measured body failed")
      }
    }
    assert(e.getMessage == "measured body failed")
    val (_, run) = described("measure-spec next")(Measure(spark)(spark.range(5).collect()))
    assert(run.jobs.nonEmpty && run.jobs.forall(_ == "measure-spec next"), run.jobs)
  }
}
