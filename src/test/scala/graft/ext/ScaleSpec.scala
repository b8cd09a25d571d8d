package graft.ext

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The r19 parallelism floor for CPU-bound kernel projections
  * ([[Scale.fanOut]]): a scan with fewer splits than cores gains a
  * round-robin repartition; everything else — enough files, big files,
  * non-file inputs — passes through IDENTICALLY (no shuffle added at
  * cluster scale, where the scan already parallelizes).
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  private def numParts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("single small file fans out to defaultParallelism; rows unchanged") {
    val dir = Files.createTempDirectory("graft_scale").toString + "/one"
    spark.range(100).select(col("id"), concat(lit("t"), col("id")).as("text"))
      .coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(numParts(scan) === 1)
    val fanned = Scale.fanOut(scan)
    assert(numParts(fanned) === spark.sparkContext.defaultParallelism)
    assert(fanned.orderBy("id").collect().toSeq ===
      scan.orderBy("id").collect().toSeq)
  }

  test("enough files: identity — no exchange added to a well-split scan") {
    val p = spark.sparkContext.defaultParallelism
    val dir = Files.createTempDirectory("graft_scale").toString + "/many"
    spark.range(1000).repartition(p)
      .write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val out = Scale.fanOut(scan)
    // identity: the very same plan object, no repartition node
    assert(out eq scan)
  }

  test("non-file input (in-memory frame): identity") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "text")
    assert(Scale.fanOut(df) eq df)
  }

  /** ~20 MB of incompressible hex in ONE parquet file. */
  private def mediumSingleFile(): String = {
    val dir = Files.createTempDirectory("graft_scale").toString + "/mid"
    spark.range(300000)
      .select(col("id"), md5(col("id").cast("string")).as("h1"),
        md5(concat(lit("x"), col("id").cast("string"))).as("h2"),
        md5(concat(lit("y"), col("id").cast("string"))).as("h3"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("medium single file that Spark splits to >= cores: identity " +
      "(the r19 maxPartitionBytes-only estimate added a redundant shuffle)") {
    // ~20 MB of incompressible hex: FilePartition's maxSplitBytes is
    // max(openCost, totalBytes/cores) ≈ 6 MB here — Spark splits ONE
    // such file into >= defaultParallelism scan partitions, so the
    // fan-out must be the identity. The pre-r20 estimate divided by
    // maxPartitionBytes (128 MB) only, called this 1 split, and
    // repartitioned a scan that was already parallel.
    val scan = spark.read.parquet(mediumSingleFile())
    assert(numParts(scan) >= spark.sparkContext.defaultParallelism,
      s"precondition: Spark itself must split the file (got ${numParts(scan)})")
    assert(Scale.fanOut(scan) eq scan)
  }

  test("leafNodeDefaultParallelism drives the split estimate as it drives the scan") {
    // with the conf at 1, FilePartition packs the medium file into one
    // split; an estimate from defaultParallelism would call it split
    // and leave the kernel on one task
    val dir = mediumSingleFile()
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    try {
      val scan = spark.read.parquet(dir)
      assert(numParts(scan) === 1, "precondition: the conf packs the file into one split")
      assert(numParts(Scale.fanOut(scan)) === spark.sparkContext.defaultParallelism)
    } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
  }

  test("minhash signatures through the fan-out equal the 1-split plan's") {
    val dir = Files.createTempDirectory("graft_scale").toString + "/sig"
    Seq((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "zz yy xx ww vv uu"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val fanned = Dedup.minhashSignaturesPortable(scan, "doc_id", "text",
      k = 3, nPerms = 4).orderBy("doc_id").collect().toSeq
    val direct = Dedup.minhashSignaturesPortable(
      Seq((1L, "a b c d e f"), (2L, "a b c d e g"),
        (3L, "zz yy xx ww vv uu")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3, nPerms = 4).orderBy("doc_id").collect().toSeq
    assert(fanned.map(_.toSeq) === direct.map(_.toSeq))
  }
}
