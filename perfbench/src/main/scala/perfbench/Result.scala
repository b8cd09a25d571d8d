package perfbench

import scala.collection.mutable

/** What a workload run measured. `e2e` feeds the contract line of an
  * untraced run, `layer` that of a traced run; `named` holds every metric
  * under its workload-specific name, printed and written to the results
  * file in either mode.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val tails = mutable.LinkedHashMap[String, Stats.Tail]()

  /** Count `n` attempted operations, `bad` of them failed or wrong. */
  def check(what: String, n: Long, bad: Long): Unit = {
    attempted += n
    failed += bad
    if (bad > 0) problems += s"$what: $bad of $n wrong"
  }

  def problem(what: String): Unit = {
    attempted += 1
    failed += 1
    problems += what
  }

  def tail(name: String, t: Stats.Tail): Double = {
    tails(name) = t
    t.value
  }
}
