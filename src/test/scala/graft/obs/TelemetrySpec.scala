package graft.obs

import org.apache.spark.ListenerBusShim
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.Observed

/** The collector's window is exact: it holds the body's jobs and tasks
  * and nothing from before it, reads streaming progress by query id, and
  * never outlives its body. No test here sleeps: the window's bus drains
  * are what make its records complete.
  */
class TelemetrySpec extends SparkSpec {
  import spark.implicits._

  private def attached =
    ListenerBusShim.attached[Telemetry](spark.sparkContext)

  test("a window sees its body's tasks and none of an earlier action's") {
    val (n, rec) = Telemetry.window(spark)(_ =>
      spark.range(0, 1000, 1, 7).count())
    assert(n === 1000L)
    assert(rec.jobs.nonEmpty && rec.jobs.forall(_.ended > 0L))
    assert(rec.jobs.map(_.tasks).sum >= 7, rec.jobs)

    // an action outside any window, then a window opened right after it:
    // its opening drain delivers that action's events before attaching
    spark.range(0, 1000, 1, 7).count()
    val (_, next) = Telemetry.window(spark)(_ => ())
    assert(next.jobs.isEmpty, next.jobs)
  }

  test("a job with no description is labelled by its action's call site") {
    val (_, rec) = Telemetry.window(spark)(_ =>
      spark.range(0, 1000, 1, 7).count())
    assert(rec.jobs.nonEmpty && rec.jobs.forall(_.desc.nonEmpty), rec.jobs)
    assert(rec.jobs.exists(_.desc.contains("TelemetrySpec.scala")),
      rec.jobs.map(_.desc))
  }

  test("progress records carry durationMs and observedMetrics under the query id") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Option[Double])]
    val q = Observed.withQuality(mem.toDF().toDF("id", "v"), "v", 0.0, 1.0)
      .writeStream.format("noop").start()
    try {
      val (_, rec) = Telemetry.window(spark) { _ =>
        mem.addData((1L, Some(0.5)), (2L, Some(2.0)))
        q.processAllAvailable()
      }
      val Seq(p) = rec.productive(q.id)
      assert(p.numInputRows === 2L)
      assert(Set("triggerExecution", "addBatch", "queryPlanning")
        .subsetOf(p.durationMs.keySet), p.durationMs)
      assert(Observed.quality(p) === Some(
        Map("n_rows" -> 2L, "n_null" -> 0L, "n_out_of_range" -> 1L)))
      assert(rec.progress.forall(_.queryId === q.id))
    } finally q.stop()
  }

  test("a body that throws still detaches the collector") {
    val before = attached
    val e = intercept[IllegalStateException] {
      Telemetry.window(spark) { t =>
        assert(attached.contains(t))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(attached === before)
  }
}
