package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate → one JVM-wide
  * session), built by [[graft.Session.builder]] like every production
  * entry point — static confs such as `spark.sql.extensions` are fixed by
  * whichever suite creates the session first, so every suite must build
  * it the same way. Small shuffle parallelism for speed; a temp warehouse
  * so no suite plants a spark-warehouse in the working directory.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}

object SparkSpec {
  def session: SparkSession = graft.Session.builder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    .getOrCreate()
}
