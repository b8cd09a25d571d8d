package perfbench

import java.io.File
import java.nio.file.Files

/** Benchmark entry point (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <results dir>
  * }}}
  *
  * Prints every measured metric by name and unit, then, as its last
  * line, the contract object: `correct`, `attempted`, `failed` and the
  * end-to-end metrics (untraced) or the per-layer metrics (traced).
  */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "sensor_ingest" -> SensorIngest.run,
    "lake_mixed" -> LakeMixed.run)

  /** A workload sets the program up this many times and the median is
    * reported; `setup_s` is session start + that median + the warm-up.
    */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = Workloads.getOrElse(workload, sys.error(
      s"unknown workload '$workload' (have: ${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    work.mkdirs(); out.mkdirs()

    val nproc = Runtime.getRuntime.availableProcessors()
    val steal0 = stealS()
    val t0 = System.nanoTime()
    val spark = graft.Session.local(nproc)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traced)
    tracer.install(spark)
    val ctx = new Ctx(spark, tracer, work, opts("seed").toLong,
      opts("seconds").toInt, SetupReps)
    val res = run(ctx)

    val setupS = sessionS + Stats.median(ctx.setupTimes.toSeq) + ctx.warmupS
    val rssMb = peakRssMb()
    res.named("setup_s") = (setupS, "s")
    res.named("peak_rss_mb") = (rssMb, "MB")
    res.named("failed_ratio") = (res.failed.toDouble / math.max(1L, res.attempted), "ratio")
    res.e2e("setup_s") = (setupS, "s")
    res.e2e("peak_rss_mb") = (rssMb, "MB")
    spark.stop()

    val info = Seq("workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> traced, "nproc" -> nproc, "spark_version" -> spark.version,
      "session_start_s" -> sessionS, "setup_reps_s" -> ctx.setupTimes.toSeq,
      "warmup_s" -> ctx.warmupS, "host_steal_s" -> (stealS() - steal0),
      "stages_s" -> ctx.marks.toSeq.map { case (k, v) => s"$k@${"%.1f".format(v)}" },
      "samples" -> ctx.samples.toSeq.map { case (k, v) => k -> v.map(x => math.round(x * 10) / 10.0) }.toMap)
    val metrics = if (traced) res.layer else res.e2e
    val line = Json.obj(Seq(
      "correct" -> (res.failed == 0),
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> metrics.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap))
    val tag = s"$workload-seed${ctx.seed}-trace${if (traced) 1 else 0}"
    Files.write(new File(out, s"$tag.json").toPath, Json.obj(info ++ Seq(
      "named" -> res.named.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "tails" -> res.tails.toSeq.map { case (k, t) => k -> Map(
        "percentile" -> t.percentile, "beyond" -> t.beyond, "samples" -> t.samples) }.toMap,
      "problems" -> res.problems.toSeq,
      "result" -> line)).getBytes("UTF-8"))
    if (traced) tracer.dump(new File(out, s"$tag.spans.jsonl").toPath, ctx.traceSpans)

    info.foreach { case (k, v) => println(s"# $k: ${Json.value(v)}") }
    res.named.foreach { case (k, (v, u)) =>
      val t = res.tails.get(k).map(t =>
        f"  (p${t.percentile * 100}%.1f, ${t.beyond} of ${t.samples} samples beyond)").getOrElse("")
      println(f"$k%-44s $v%14.3f $u$t")
    }
    res.problems.foreach(p => println(s"! $p"))
    println(line)
  }

  /** CPU time the hypervisor gave to other guests, summed over CPUs, s:
    * a run that lost much of it ran on a busy host.
    */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
