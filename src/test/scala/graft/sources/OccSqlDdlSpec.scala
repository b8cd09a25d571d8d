package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** X152 — the OCC table as a SQL-addressable catalog table:
  * `CREATE TABLE … USING graft-occ OPTIONS (path …)` registers the
  * provider with the session catalog, and from there the table is a
  * first-class SQL citizen — `spark.table`, `SELECT … WHERE` (with the
  * connector's log-level file skipping riding the pushed predicates),
  * joins, views. Reads resolve the CURRENT snapshot at query time
  * (the catalog stores the pointer, the log stores the truth), so a
  * verb-API append is visible to the very next SQL query. Writes stay
  * with the verb API by design: INSERT refuses loudly (the OCC
  * commit protocol — staging, validation, conflict rules — cannot be
  * expressed through a bare batch append), and DROP TABLE removes the
  * catalog entry only, never the log.
  */
class OccSqlDdlSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft_sql").toString + "/t"

  test("CREATE TABLE USING graft-occ: SQL reads the live snapshot with pruning intact") {
    val dir = fresh()
    def slice(r: Range) =
      r.map(i => (i.toLong, s"k$i")).toDF("id", "key").coalesce(1)
    OccTable.init(slice(0 until 10), dir, statsColumns = Seq("id"))
    OccTable.append(slice(10 until 20), dir, statsColumns = Seq("id"))
    spark.sql("DROP TABLE IF EXISTS occ_sql_t")
    spark.sql(s"CREATE TABLE occ_sql_t USING `graft-occ` OPTIONS (path '$dir')")
    try {
      assert(spark.table("occ_sql_t").count() === 20L)
      assert(spark.sql("SELECT sum(id) AS s FROM occ_sql_t WHERE id >= 10")
        .head().getLong(0) === (10L until 20L).sum)
      // the catalog stores the POINTER: a verb append is visible to
      // the next SQL query with no DDL refresh
      OccTable.append(slice(20 until 30), dir, statsColumns = Seq("id"))
      assert(spark.sql("SELECT count(*) AS n FROM occ_sql_t")
        .head().getLong(0) === 30L)
      // SQL VIEW over the table composes
      spark.sql("CREATE OR REPLACE TEMP VIEW occ_sql_even AS " +
        "SELECT * FROM occ_sql_t WHERE id % 2 = 0")
      assert(spark.table("occ_sql_even").count() === 15L)
      // writes stay with the verb API: INSERT refuses loudly
      val e = intercept[Exception] {
        spark.sql("INSERT INTO occ_sql_t VALUES (99, 'k99')")
      }
      assert(e.getMessage.contains("does not support append"))
      assert(OccTable.snapshot(spark, dir).version === 2L,
        "the refused INSERT must not have committed anything")
    } finally spark.sql("DROP TABLE IF EXISTS occ_sql_t")
    // DROP TABLE removed the catalog entry, never the log
    assert(OccTable.read(spark, dir)().count() === 30L)
  }

  test("CREATE TABLE USING graft-occ over a DV-carrying table: SQL serves the survivors") {
    val dir = fresh()
    def slice(r: Range) =
      r.map(i => (i.toLong, s"k$i")).toDF("id", "key").coalesce(1)
    OccTable.init(slice(0 until 10), dir, statsColumns = Seq("id"))
    OccTable.append(slice(10 until 20), dir, statsColumns = Seq("id"))
    OccTable.deleteRangeDv(spark, dir, "id", 3.0, 12.0)
    spark.sql("DROP TABLE IF EXISTS occ_sql_dv")
    spark.sql(s"CREATE TABLE occ_sql_dv USING `graft-occ` OPTIONS (path '$dir')")
    try {
      assert(spark.table("occ_sql_dv").as[(Long, String)].collect().toSet ===
        OccTable.read(spark, dir)().as[(Long, String)].collect().toSet)
      assert(spark.sql("SELECT id FROM occ_sql_dv WHERE id >= 10")
        .as[Long].collect().sorted.toSeq === (13L until 20L))
      // a later DV delete is visible to the next query (the pointer)
      OccTable.deleteRangeDv(spark, dir, "id", 19.0, 19.0)
      assert(spark.sql("SELECT count(*) FROM occ_sql_dv")
        .head().getLong(0) === 9L)
    } finally spark.sql("DROP TABLE IF EXISTS occ_sql_dv")
  }

  test("_metadata resolves through OccTable.read (file identity for audits)") {
    val dir = fresh()
    OccTable.init((0 until 10).map(i => (i.toLong, s"k$i"))
      .toDF("id", "key").coalesce(1), dir)
    val names = OccTable.read(spark, dir)()
      .select(col("_metadata.file_name")).distinct().as[String].collect()
    assert(names.length === 1 &&
      OccTable.snapshot(spark, dir).files.map(_.split('/').last)
        .contains(names.head))
  }
}
