package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Test-side views of the OCC table's X117 per-file stats: the
  * scan-computed reference (how commits built stats before they came
  * from parquet footers — one `groupBy(input_file_name())` pass of
  * min / max / null-count over each column's stat projection) and the
  * footer-built stats the write verbs now record.
  */
object OccStatsReference {

  /** Reference stats of `names` (files in `dir`), keyed by file name:
    * zero-row files form no group and get no entry.
    */
  def scanStats(spark: SparkSession, dir: String, names: Seq[String],
      cols: Seq[String]): Map[String, String] = {
    val scan = spark.read.parquet(names.map(n => s"$dir/$n"): _*)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      val p = OccTable.statProjection(scan.schema, c)
      Seq(min(p).as(s"__mn$i"), max(p).as(s"__mx$i"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl$i"))
    }
    scan.groupBy(input_file_name().as("__f"))
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect().map { r =>
        def bound(k: String) =
          Option(r.getAs[java.lang.Double](k)).map(_.doubleValue)
        r.getAs[String]("__f").split('/').last ->
          OccTable.encodeStats(r.getAs[Long]("__rows"),
            cols.indices.map(i => (cols(i), bound(s"__mn$i"),
              bound(s"__mx$i"), r.getAs[Long](s"__nl$i"))))
      }.toMap
  }

  /** The footer-built stats of `names`; `driverMax` below the file
    * count reads the footers in a Spark job instead of on the driver.
    */
  def footerStats(spark: SparkSession, dir: String, names: Seq[String],
      cols: Seq[String], driverMax: Int): Map[String, String] =
    OccTable.footerStats(spark, dir, names, cols, driverMax)

  /** Row groups in one parquet file. */
  def rowGroups(spark: SparkSession, path: String): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path),
      spark.sparkContext.hadoopConfiguration))
    try r.getFooter.getBlocks.asScala.size finally r.close()
  }
}
