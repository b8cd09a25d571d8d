package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.internal.SQLConf

/** Scale-adaptive parallelism floor for CPU-bound kernel projections
  * (optimization guide §2.5, input skew: "one huge unsplittable file …
  * repartition immediately after the read"; §1.2: fix the distributed
  * algorithm's parallelism before per-task work).
  *
  * The text/hash kernels (shingling, per-shingle md5 permutation minima,
  * SimHash, winnowing, hashed n-gram features) are pure narrow
  * projections whose cost is CPU per input row, not I/O — so their
  * parallelism is pinned to the SCAN's split count. A corpus
  * materialized as fewer splits than the session has cores (the
  * single-file bench tables; any small dimension corpus) runs the whole
  * kernel in ONE task while every other core idles. Measured on
  * local[32] at sf0.1 before this helper existed: the 16-permutation
  * MinHash signature pass was one 1.9–2.8 s task; the DSIR hashed-ngram
  * feature pass one 1.6–2.4 s task; jaccard/simhash/winnow/span kernels
  * one 0.4–1.3 s task each — all with 31 idle cores.
  *
  * [[fanOut]] inserts a round-robin repartition to `defaultParallelism`
  * ONLY when the scan provably yields fewer splits than that. The split
  * count is estimated with the SAME arithmetic `FilePartition` uses —
  * `maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
  * totalBytes / minPartitionNum))` with every file charged
  * `openCostInBytes`, then the greedy size-descending bin pack — so the
  * estimate tracks the scan's real partition count for single huge
  * files AND for many tiny files that Spark packs into few splits (a
  * plain `#files >= cores` short-circuit missed the latter and a
  * `maxPartitionBytes`-only division under-counted the former). File
  * stats are bounded to `#files <= 16 × cores` — past that the per-file
  * driver RPCs outweigh any possible win and the scan is at worst a few
  * packed splits short of the core count. At cluster scale a corpus
  * table has ≥ cores splits and this is the IDENTITY — no shuffle is
  * ever added to a big scan. The shuffle it does add at small scale
  * moves exactly the projected input once, and round-robin repartition
  * is retry-deterministic (Spark sorts before round-robin partitioning,
  * SPARK-23207). Non-file inputs (in-memory test frames, streaming
  * micro-batch branches) report no input files and pass through
  * untouched — their parallelism is already the session default.
  */
private[graft] object Scale {

  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    if (p <= 1) return df
    val files =
      try df.inputFiles
      catch { case scala.util.control.NonFatal(_) => Array.empty[String] }
    if (files.isEmpty || files.length > 16 * p) return df
    val conf = spark.sessionState.conf
    val maxPartitionBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    // FilePartition's minPartitionNum: the explicit conf when set, else
    // the leaf-node default parallelism (its conf, else defaultParallelism)
    val minPartitionNum = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(p))
    val hconf = spark.sparkContext.hadoopConfiguration
    val lens = new Array[Long](files.length)
    var i = 0
    while (i < files.length) {
      lens(i) =
        try {
          val path = new org.apache.hadoop.fs.Path(files(i))
          path.getFileSystem(hconf).getFileStatus(path).getLen
        } catch { case scala.util.control.NonFatal(_) => return df }
      i += 1
    }
    val totalBytes = lens.map(_ + openCost).sum
    val maxSplitBytes = math.min(maxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1L, minPartitionNum.toLong)))
    // simulate FilePartition.getFilePartitions: split each file at
    // maxSplitBytes, sort the splits descending, pack greedily with
    // each split charged openCost inside an open partition
    val splits = lens.toSeq.flatMap { len =>
      (0L until len by math.max(1L, maxSplitBytes))
        .map(off => math.min(maxSplitBytes, len - off))
    }.sortBy(-_)
    var partitions = 0
    var currentSize = 0L
    var open = false
    splits.foreach { s =>
      if (open && currentSize + s > maxSplitBytes) {
        currentSize = 0L; open = false
      }
      if (!open) { partitions += 1; open = true }
      currentSize += s + openCost
    }
    if (partitions >= p) df else df.repartition(p)
  }
}
