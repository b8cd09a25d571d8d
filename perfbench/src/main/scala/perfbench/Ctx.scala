package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its scratch directory, the
  * run's settings, and the set-up timer.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File,
    val seed: Long, val seconds: Int, val setupReps: Int) {
  val setupTimes = ArrayBuffer[Double]()
  var warmupS = 0.0
  /** Spans of the traced stretch, written out at the end of the run. */
  var traceSpans: Seq[Span] = Seq.empty

  def traced: Boolean = tracer.requested

  /** The measured windows, traced or not. An untraced run pools the
    * samples of three windows and takes the median of per-window rates,
    * so a short burst of host noise moves one window, not the run. A
    * traced run traces the middle one and measures the tracing overhead
    * against both sides of it rather than against a colder or warmer
    * neighbour.
    */
  val windows: Seq[Boolean] = Seq(false, traced, false)
  def windowSeconds: Double = seconds.toDouble / windows.length

  /** Traced minus untraced (the mean of the untraced windows), % of the
    * untraced figure.
    */
  def overheadPct(traced: Double, untraced: Seq[Double]): Double = {
    val base = untraced.sum / untraced.length
    100.0 * (traced - base) / base
  }

  private val startNs = System.nanoTime()
  /** Wall-clock marks of the run's stages, seconds since start. */
  val marks = ArrayBuffer[(String, Double)]()
  def mark(stage: String): Unit =
    marks += stage -> (System.nanoTime() - startNs) / 1e9

  /** Raw samples worth keeping beside the summary figures, by name. */
  val samples = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

  /** Time one repetition of setting the program up. */
  def timeSetup[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupTimes += (System.nanoTime() - t0) / 1e9
  }

  /** Time the warm-up pass that ends the set-up (outside every measured
    * window).
    */
  def timeWarmup[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally warmupS = (System.nanoTime() - t0) / 1e9
  }
}
