package graft.props

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.ops.{Anomaly, Rollups, Trend, WindowedAgg}

/** Property-based invariants (SURVEY §5.2 layer 4). Each property runs a
  * real Spark job, so the case count is capped — the point is randomized
  * inputs, not volume.
  */
object GraftProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  // the one test session builder (graft.Session's, plus a temp
  // warehouse): whichever suite wins the shared-session race fixes the
  // static confs for all of them
  private lazy val spark: SparkSession = graft.SparkSpec.session

  private val values: Gen[List[Double]] =
    Gen.listOfN(40, Gen.choose(-100.0, 100.0)).suchThat(_.nonEmpty)

  property("IQR flags are invariant to row order") = forAll(values) { vs =>
    import spark.implicits._
    def flaggedCount(xs: List[Double]): Long = {
      val df = xs.toDF("v")
      Anomaly.flag(df, "v", Anomaly.iqrBounds(df, "v"))
        .filter(col("is_anomaly")).count()
    }
    flaggedCount(vs) == flaggedCount(scala.util.Random.shuffle(vs))
  }

  property("moving average of a constant series is that constant") =
    forAll(Gen.choose(-50.0, 50.0), Gen.choose(2, 30)) { (c, n) =>
      import spark.implicits._
      val df = (1 to n).map(i => ("k", i, c)).toDF("g", "i", "v")
      val mas = Trend.movingAvg(df, Seq("g"), Seq("i"), "v")
        .select("ma").as[Double].collect()
      // ma is rounded to 6 decimals by the operator → half-step tolerance
      mas.forall(m => math.abs(m - c) <= 5.001e-7)
    }

  property("windowed agg partitions the input: counts sum to row count") =
    forAll(Gen.listOfN(30, Gen.choose(0, 10000))) { offsets =>
      import spark.implicits._
      val df = offsets.zipWithIndex.map { case (off, i) =>
        (s"k${i % 3}", new java.sql.Timestamp(1704067200000L + off * 1000L), 1.0)
      }.toDF("k", "t", "v")
      val total = WindowedAgg.tumbling(df, "t", "k", "v")
        .agg(sum("reading_count")).collect().head.getLong(0)
      total == offsets.length
    }

  property("quantiles are ordered and bracket the data") = forAll(values) { vs =>
    import spark.implicits._
    val df = vs.map(("k", _)).toDF("g", "v")
    val r = Rollups.quantiles(df, "g", "v").collect().head
    val (q1, med, q3) = (r.getAs[Double]("q1"), r.getAs[Double]("median"),
      r.getAs[Double]("q3"))
    q1 <= med && med <= q3 && q1 >= vs.min - 1e-9 && q3 <= vs.max + 1e-9 &&
      math.abs(r.getAs[Double]("iqr") - (q3 - q1)) < 2e-6
  }

  // adversarial token material for the byte-scanning text-hash kernels:
  // multi-byte unicode (no code point contains 0x20 in UTF-8, which the
  // space scan relies on), empty tokens from leading/trailing/consecutive
  // spaces, and single-char runs
  private val token: Gen[String] = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaNumChar),
    Gen.oneOf("", "é", "日本語", "a", "émigré", "ß∂ƒ", "x y".replace(" ", "")),
    Gen.stringOfN(1, Gen.alphaChar))
  private val text: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, token)).map(_.mkString(" "))

  property("ShingleHashes kernel ≡ HOF xxhash64(concat_ws) on arbitrary unicode text") =
    forAll(Gen.listOfN(6, text), Gen.choose(1, 4)) { (texts, k) =>
      import spark.implicits._
      graft.plans.GraftFunctions.register(spark)
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      // force through a real (non-local) plan so the kernel's codegen path
      // runs, not constant folding
      val src = df.repartition(2)
      val kernel = src.select($"id",
        call_function(graft.plans.GraftFunctions.ShingleName, $"text", lit(k)).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
      val hof = src.select($"id", split($"text", " ").as("__t"))
        .select($"id", expr(
          s"""array_distinct(CASE WHEN size(__t) >= $k
             |THEN transform(sequence(1, size(__t) - ${k - 1}),
             |  i -> xxhash64(concat_ws(' ', slice(__t, i, $k))))
             |ELSE array() END)""".stripMargin).as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).sorted).toMap
      kernel == hof
    }

  private val asofRows: Gen[(List[(Int, Int, Int)], List[(Int, Int, Int)], Long)] =
    for {
      // keys from a 3-value pool (forces collisions + hot keys), seconds
      // offsets from a small range (forces exact-ts ties within and
      // across sides), bucket width that rarely aligns with the data
      l <- Gen.listOfN(60, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 5000),
        Gen.choose(0, 999)))
      r <- Gen.listOfN(60, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 5000),
        Gen.choose(0, 999)))
      b <- Gen.oneOf(7L, 60L, 600L, 86400L)
    } yield (l, r, b)

  property("asofJoinSharded ≡ asofJoin ≡ asofEnrichStreamStatic on random frames") =
    forAll(asofRows) { case (ls, rs, bucketSec) =>
      import graft.ops.Temporal
      import spark.implicits._
      val base = 1704067200000L
      val left = ls.zipWithIndex.map { case ((k, off, lv), i) =>
        (k.toLong, new java.sql.Timestamp(base + off * 1000L), i.toLong, lv)
      }.toDF("k", "t", "lid", "lv")
      val right = rs.zipWithIndex.map { case ((k, off, rv), i) =>
        (k.toLong, new java.sql.Timestamp(base + off * 1000L), i.toLong, rv)
      }.toDF("k", "t", "tie", "rv")
      val pay = Seq("rv" -> "last_rv", "tie" -> "last_tie")
      val plain = Temporal.asofJoin(left, right, "k", "t", "t", "tie", pay)
      val sharded = Temporal.asofJoinSharded(left, right, "k", "t", "t",
        "tie", pay, bucketSec)
      val enriched = Temporal.asofEnrichStreamStatic(left, right, "k", "t",
        "t", "tie", pay)
      Seq(sharded, enriched).forall(alt =>
        alt.exceptAll(plain).isEmpty && plain.exceptAll(alt).isEmpty)
    }

  // random clustered layouts × random (possibly empty/degenerate) ranges:
  // the log-stats-pruned scan must equal the full-table filter EXACTLY —
  // the property that makes file skipping an optimization, not a filter
  private val skipCases: Gen[(List[Long], Int, Long, Long)] = for {
    vals <- Gen.listOfN(300, Gen.choose(0L, 1000L))
    nFiles <- Gen.choose(1, 16)
    a <- Gen.choose(-100L, 1100L)
    b <- Gen.choose(-100L, 1100L)
  } yield (vals, nFiles, math.min(a, b), math.max(a, b))

  // snapshotDiff set algebra on random snapshots with unique keys:
  // classification must partition exactly as key-set membership says,
  // and a self-diff is all-unchanged
  private val diffCases: Gen[(List[(Long, Long)], List[(Long, Long)])] = for {
    a <- Gen.mapOfN(60, Gen.zip(Gen.choose(0L, 80L), Gen.choose(0L, 5L)))
    b <- Gen.mapOfN(60, Gen.zip(Gen.choose(0L, 80L), Gen.choose(0L, 5L)))
  } yield (a.toList, b.toList)

  property("snapshotDiff partitions keys exactly by membership and payload equality") =
    forAll(diffCases) { case (as, bs) =>
      import graft.sources.Layout
      import spark.implicits._
      val a = as.toDF("id", "v")
      val b = bs.toDF("id", "v")
      val got = Layout.snapshotDiff(a, b, Seq("id"), Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val (am, bm) = (as.toMap, bs.toMap)
      val want = (am.keySet ++ bm.keySet).map { k =>
        k -> ((am.get(k), bm.get(k)) match {
          case (Some(x), Some(y)) if x == y => "unchanged"
          case (Some(_), Some(_)) => "changed"
          case (Some(_), None) => "removed"
          case _ => "added"
        })
      }.toMap
      val self = Layout.snapshotDiff(a, a, Seq("id"), Seq("v"))
        .collect().forall(_.getString(1) == "unchanged")
      got == want && self
    }

  // upsampleEpochs copy counts: every id appears floor(w) or ceil(w)
  // times (exactly floor when w is integral), and identical salt+input
  // reproduce identical output
  property("upsampleEpochs emits floor(w) or ceil(w) copies per row, deterministically") =
    forAll(Gen.choose(0.0, 3.5), Gen.choose(1, 40)) { (w, n) =>
      import graft.ext.Curate
      import spark.implicits._
      val df = (1 to n).map(i => (i.toLong, "g")).toDF("id", "grp")
      def run() = Curate.upsampleEpochs(df, "id", "grp",
          Map("g" -> w), "pp1")
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val counts = run()
      val lo = math.floor(w).toLong
      val hi = math.ceil(w).toLong
      val inBand = (1 to n).forall { i =>
        counts.getOrElse(i.toLong, 0L) match {
          case c if w == lo.toDouble => c == lo // integral weight: exact
          case c => c == lo || c == hi
        }
      }
      inBand && run() == counts
    }

  property("chunkOverlapping covers every token and reconstructs the document") =
    forAll(Gen.choose(1, 60), Gen.choose(2, 8), Gen.choose(0, 6)) {
      (nTok, chunk, ovRaw) =>
        val overlap = math.min(ovRaw, chunk - 1)
        val step = chunk - overlap
        import graft.ext.Curate
        import spark.implicits._
        val toks = (0 until nTok).map(i => s"t$i")
        val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
        val chunks = Curate.chunkOverlapping(df, "doc_id", "text",
            chunk, overlap)
          .orderBy("chunk_idx").collect()
          .map(r => (r.getLong(1), r.getString(2).split(" ").toSeq,
            r.getLong(3)))
        val idxOk = chunks.map(_._1).toSeq ==
          (0L until chunks.length.toLong)
        // counts: each chunk's n_tokens matches its text; all but the
        // tail are full
        val countOk = chunks.forall { case (_, ts, n) => ts.length == n } &&
          chunks.dropRight(1).forall(_._3 == chunk.toLong)
        // coverage + reconstruction: chunk 0 whole, then each chunk's
        // tokens past the overlap continue the document exactly
        val rebuilt = chunks.headOption.map(_._2).getOrElse(Seq.empty) ++
          chunks.drop(1).flatMap { case (i, ts, _) =>
            // tokens past position (prev chunk end - this start)
            val newFrom = (i - 1) * step + chunk - i * step
            ts.drop(math.min(newFrom.toInt, ts.length))
          }
        idxOk && countOk && rebuilt == toks
    }

  property("removeDuplicateSpans ≡ an independent brute-force reference") =
    forAll(Gen.listOfN(4, Gen.listOfN(18, Gen.choose(0, 5))),
      Gen.choose(2, 4)) { (docsRaw, k) =>
      import graft.ext.Dedup
      import spark.implicits._
      // small alphabet forces real cross-doc shingle collisions
      val docs = docsRaw.zipWithIndex.map { case (ts, i) =>
        ((i + 1).toLong, ts.map(t => s"w$t").mkString(" "))
      }
      // independent reference: flag positions covered by any k-window
      // whose token string occurs in >= 2 distinct docs
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val shingleDocs = toks.toSeq.flatMap { case (id, ts) =>
        ts.sliding(k).filter(_.length == k).map(s => (s.mkString(" "), id))
      }.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val refCovered: Map[Long, Set[Int]] = toks.map { case (id, ts) =>
        id -> ts.sliding(k).zipWithIndex
          .filter(_._1.length == k)
          .filter { case (s, _) => shingleDocs(s.mkString(" ")).size >= 2 }
          .flatMap { case (_, p) => p until p + k }
          .toSet
      }
      val got = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
          "doc_id", "text", k = k, minDocs = 2)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
            r.getAs[String]("text_clean")))).toMap
      docs.forall { case (id, _) =>
        val (nt, nr, clean) = got(id)
        val ts = toks(id)
        val refClean = ts.zipWithIndex
          .filterNot { case (_, i) => refCovered(id)(i) }
          .map(_._1).mkString(" ")
        nt == ts.length.toLong && nr == refCovered(id).size.toLong &&
          clean == refClean
      }
    }

  property("winnowing guarantee: a planted shared run of w+k-1 tokens always pairs") =
    forAll(Gen.choose(2, 4), Gen.choose(2, 4), Gen.choose(0, 8),
      Gen.choose(0, 8), Gen.choose(0, 3)) { (k, w, off1, off2, extra) =>
      import graft.ext.Dedup
      import spark.implicits._
      val runLen = w + k - 1 + extra
      val shared = (0 until runLen).map(i => s"s$i")
      // unique fillers per doc so ONLY the planted run is shared
      def doc(tag: String, off: Int) =
        ((0 until off).map(i => s"$tag$i") ++ shared ++
          (0 until 3).map(i => s"${tag}t$i")).mkString(" ")
      val d = Seq((1L, doc("a", off1)), (2L, doc("b", off2)))
        .toDF("doc_id", "text")
      val pairs = Dedup.winnowCandidates(d, "doc_id", "text", k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs.contains((1L, 2L))
    }

  property("readPruned equals the full filter on any layout and range") =
    forAll(skipCases) { case (vals, nFiles, lo, hi) =>
      import graft.sources.OccTable
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_skp")
      val t = base.resolve("t").toString
      try {
        OccTable.init(
          vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
            .toDF("v", "id")
            .repartitionByRange(nFiles, col("v")).sortWithinPartitions("v"),
          t, statsColumns = Seq("v"))
        val skip = OccTable.readPruned(spark, t, "v", lo.toDouble, hi.toDouble)
          .agg(count(lit(1)), coalesce(sum("id"), lit(0L)))
          .collect().head.toSeq
        val full = OccTable.read(spark, t)()
          .filter(col("v").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum("id"), lit(0L)))
          .collect().head.toSeq
        skip == full
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(base.toFile)
      }
    }

  // footer-stats cases: raw values of every stat-projectable type (None =
  // NULL) — byte, short, int, long, float, double, date (epoch days),
  // timestamp (epoch micros), decimal(9,2), decimal(18,4), decimal(38,10)
  // — then the write's shape
  private type StatRow = (Option[Int], Option[Int], Option[Int],
    Option[Long], Option[Float], Option[Double], Option[Int], Option[Long],
    Option[String], Option[String], Option[String])
  private final case class FooterCase(rows: List[StatRow], nFiles: Int,
      emptyFile: Boolean, millis: Boolean, smallGroups: Boolean,
      driverMax: Int)

  private def nullable[T](g: Gen[T], pNull: Double): Gen[Option[T]] =
    Gen.choose(0.0, 1.0).flatMap(u =>
      if (u < pNull) Gen.const(None) else g.map(Some(_)))

  private def decimalStr(precision: Int, scale: Int): Gen[String] = for {
    n <- Gen.choose(1, precision)
    digits <- Gen.listOfN(n, Gen.numChar)
    neg <- Gen.oneOf(true, false)
  } yield {
    val d = BigDecimal(BigInt(digits.mkString), scale)
    (if (neg) -d else d).bigDecimal.toPlainString
  }

  private val footerCases: Gen[FooterCase] = for {
    p <- Gen.listOfN(11, Gen.frequency((4, 0.0), (4, 0.25), (1, 1.0)))
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      b <- nullable(Gen.choose(-128, 127), p(0))
      s <- nullable(Gen.choose(-32768, 32767), p(1))
      i <- nullable(Gen.frequency((8, Gen.choose(-1000, 1000)),
        (1, Gen.oneOf(Int.MinValue, Int.MaxValue))), p(2))
      l <- nullable(Gen.frequency((8, Gen.choose(-1000000000000L,
        1000000000000L)), (1, Gen.oneOf(Long.MinValue, Long.MaxValue))), p(3))
      f <- nullable(Gen.frequency((10, Gen.choose(-1e4, 1e4).map(_.toFloat)),
        (2, Gen.oneOf(0.0f, -0.0f)),
        (1, Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.MaxValue))),
        p(4))
      d <- nullable(Gen.frequency((10, Gen.choose(-1e6, 1e6)),
        (2, Gen.oneOf(0.0, -0.0)),
        (1, Gen.oneOf(Double.NaN, Double.NegativeInfinity, Double.MaxValue))),
        p(5))
      dt <- nullable(Gen.choose(-40000, 40000), p(6)) // 1860 .. 2079
      ts <- nullable(Gen.choose(-4000000000000000L, 4000000000000000L), p(7))
      d9 <- nullable(decimalStr(9, 2), p(8))
      d18 <- nullable(decimalStr(18, 4), p(9))
      d38 <- nullable(decimalStr(38, 10), p(10))
    } yield (b, s, i, l, f, d, dt, ts, d9, d18, d38))
    nFiles <- Gen.choose(1, 4)
    emptyFile <- Gen.oneOf(true, false)
    millis <- Gen.oneOf(true, false)
    smallGroups <- Gen.oneOf(true, false)
    driverMax <- Gen.oneOf(0, 64)
  } yield FooterCase(rows, nFiles, emptyFile, millis, smallGroups, driverMax)

  property("footer stats ≡ the scan-computed reference stats; NaN columns come out untracked") =
    forAll(footerCases) { fc =>
      import graft.sources.OccStatsReference
      import spark.implicits._
      val cols = Seq("b", "s", "i", "l", "f", "d", "dt", "ts", "d9", "d18",
        "d38")
      val frame = fc.rows.toDF(cols: _*).select(
        col("b").cast("byte").as("b"), col("s").cast("short").as("s"),
        col("i"), col("l"), col("f"), col("d"),
        expr("date_from_unix_date(dt)").as("dt"),
        expr("timestamp_micros(ts)").as("ts"),
        col("d9").cast("decimal(9,2)").as("d9"),
        col("d18").cast("decimal(18,4)").as("d18"),
        col("d38").cast("decimal(38,10)").as("d38"))
      val base = java.nio.file.Files.createTempDirectory("graft_fst")
      val dir = base.resolve("t").toString
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val tsPrev = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey,
        if (fc.millis) "TIMESTAMP_MILLIS" else "TIMESTAMP_MICROS")
      try {
        val w = frame.repartition(fc.nFiles).write.mode("append")
        // at most 4 rows a row group: files of 5+ rows hold several
        (if (!fc.smallGroups) w
         else w.option("parquet.block.row.count.limit", "4")).parquet(dir)
        if (fc.emptyFile) frame.limit(0).write.mode("append").parquet(dir)
        val names = new java.io.File(dir).list().toSeq
          .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        val got = OccStatsReference.footerStats(spark, dir, names, cols,
          fc.driverMax)
        val want = OccStatsReference.scanStats(spark, dir, names, cols)
          .map { case (f, st) =>
            f -> st.split('|').filterNot(_.contains("NaN")).mkString("|") }
        val grouped = !fc.smallGroups || fc.rows.size < 20 ||
          names.exists(n => OccStatsReference.rowGroups(spark, s"$dir/$n") > 1)
        ((got == want) :| s"footer $got != reference $want") &&
          (grouped :| "small block size wrote no multi-row-group file")
      } finally {
        tsPrev.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(base.toFile)
      }
    }
}
