package graft.tools

import graft.obs.Telemetry

/** Per-query job-level profiler (measurement tooling, guide §1): runs the
  * named registered queries once (after one warmup execution) and prints,
  * for each, the Spark jobs it spawned with wall ms, task count, and
  * shuffle read/write bytes — the breakdown the disabled UI would show.
  *
  *   sbt "runMain graft.tools.Profile q_occ_delete q_stream_stream_join"
  *
  * Reads SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like graft.Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    def run(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    names.foreach { n =>
      run(n) // warmup (JIT, codegen, footer cache) — same as Bench
      val (wallMs, rec) = Telemetry.window(spark) { _ =>
        val t0 = System.nanoTime()
        run(n)
        (System.nanoTime() - t0) / 1e6
      }
      println(f"\n===== $n  wall=${wallMs}%.0f ms =====")
      val jobsMs = rec.jobs.map(_.ms).sum
      println(f"  jobs=${rec.jobs.size} sum(job ms)=$jobsMs  gap(driver) ms=${wallMs - jobsMs}%.0f")
      rec.jobs.foreach { j =>
        println(f"  job ${j.id}%4d ${j.ms}%6d ms  stages=${j.stages}%2d tasks=${j.tasks}%4d " +
          f"in=${j.inputBytes / 1024}%7d KiB  sR=${j.shuffleRead / 1024}%6d KiB sW=${j.shuffleWrite / 1024}%6d KiB  ${j.desc.trim.replaceAll("\\s+", " ").take(60)}")
      }
    }
    spark.stop()
  }
}
