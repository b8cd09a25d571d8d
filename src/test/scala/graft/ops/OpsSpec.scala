package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

class WindowedAggSpec extends SparkSpec {
  import spark.implicits._

  test("5-minute tumbling windows aggregate per key and flatten the struct") {
    val df = Seq(
      ("s1", ts("2024-01-01 00:01:00"), 10.0),
      ("s1", ts("2024-01-01 00:04:59"), 20.0),
      ("s1", ts("2024-01-01 00:05:00"), 30.0),
      ("s2", ts("2024-01-01 00:02:00"), 40.0)
    ).toDF("k", "t", "v")
    val out = WindowedAgg.tumbling(df, "t", "k", "v")
      .orderBy("k", "window_start").collect()
    assert(out.length === 3)
    val first = out.head
    assert(first.getAs[String]("k") === "s1")
    assert(first.getAs[java.sql.Timestamp]("window_start") === ts("2024-01-01 00:00:00"))
    assert(first.getAs[java.sql.Timestamp]("window_end") === ts("2024-01-01 00:05:00"))
    assert(first.getAs[Double]("avg_value") === 15.0)
    assert(first.getAs[Long]("reading_count") === 2L)
    assert(out(1).getAs[Double]("min_value") === 30.0)
  }

  test("session windows merge events within the gap and split on it") {
    val df = Seq(
      ("k", ts("2024-01-01 00:00:00"), 1.0),
      ("k", ts("2024-01-01 00:10:00"), 1.0),  // < 30 min → same session
      ("k", ts("2024-01-01 01:00:00"), 1.0),  // 50 min gap → new session
      ("j", ts("2024-01-01 00:05:00"), 1.0)
    ).toDF("k", "t", "v")
    val out = WindowedAgg.sessionized(df, "t", "k")
      .orderBy("k", "session_start").collect()
    assert(out.length === 3)
    val first = out(1) // k's first session
    assert(first.getAs[java.sql.Timestamp]("session_start") === ts("2024-01-01 00:00:00"))
    assert(first.getAs[java.sql.Timestamp]("session_end") === ts("2024-01-01 00:40:00"))
    assert(first.getAs[Long]("n_events") === 2L)
    assert(out(2).getAs[Long]("n_events") === 1L)
  }

  test("sensorRollup matches the reference aggregate schema") {
    val df = Seq(
      ("SENSOR_001", "warehouse_a", ts("2024-01-01 00:00:30"), 20.0, 50.0, 1000.0),
      ("SENSOR_001", "warehouse_a", ts("2024-01-01 00:01:30"), 22.0, 52.0, 1002.0)
    ).toDF("sensor_id", "location", "timestamp", "temperature", "humidity", "pressure")
    val out = WindowedAgg.sensorRollup(df).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Double]("avg_temperature") === 21.0)
    assert(r.getAs[Double]("min_temperature") === 20.0)
    assert(r.getAs[Double]("max_temperature") === 22.0)
    assert(r.getAs[Long]("reading_count") === 2L)
  }
}

class AnomalySpec extends SparkSpec {
  import spark.implicits._

  test("IQR bounds are exact interpolated quartiles ± 1.5·IQR") {
    // values 1..8: Q1 = 2.75, Q3 = 6.25, IQR = 3.5 → lo = -2.5, hi = 11.5
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val b = Anomaly.iqrBounds(df, "v").collect().head
    assert(math.abs(b.getAs[Double]("lo") - (-2.5)) < 1e-12)
    assert(math.abs(b.getAs[Double]("hi") - 11.5) < 1e-12)
  }

  test("flag marks strictly-outside values only; bounds are global") {
    val df = (Seq.fill(50)(10.0) ++ Seq(100.0, -100.0)).toDF("v")
    val flagged = Anomaly.flag(df, "v", Anomaly.iqrBounds(df, "v"))
    assert(flagged.filter(col("is_anomaly")).count() === 2)
  }

  test("madRollup: hand-computed med/mad; a wild outlier cannot drag the baseline") {
    // 9× 10.0 plus one wild 1000.0: med = 10, |v−med| = {0×9, 990} →
    // mad = 0 — every deviation > 0 flags, i.e. only the outlier
    val df = ((1 to 9).map(_ => ("k", 10.0)) :+ ("k", 1000.0))
      .toDF("g", "v")
    val r = Anomaly.madRollup(df, "g", "v").collect().head
    assert(r.getAs[Double]("med") === 10.0)
    assert(r.getAs[Double]("mad") === 0.0)
    assert(r.getAs[Long]("n_anomalies") === 1L)
    // spread data incl. the outlier: med{1..9, 20} = 5.5, deviations
    // sorted {0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,14.5} → mad = 2.5;
    // k=3 → |v−5.5| > 7.5 flags only 20
    val df2 = ((1 to 9).map(i => ("s", i.toDouble)) :+ ("s", 20.0))
      .toDF("g", "v")
    val r2 = Anomaly.madRollup(df2, "g", "v").collect().head
    assert(r2.getAs[Double]("med") === 5.5)
    assert(r2.getAs[Double]("mad") === 2.5)
    assert(r2.getAs[Long]("n_anomalies") === 1L)
  }

  test("madRollupSketchBound: rank booleans hold at small k on skewed data; exact side matches madRollup") {
    // deterministic skewed stream, 5k rows, k=64 << distinct values →
    // both sketches genuinely estimate
    var x = 11L
    val rows = Vector.fill(5000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ("k", ((x & 0xffffL).toDouble / 97.0))
    }
    val df = rows.toDF("g", "v")
    val out = Anomaly.madRollupSketchBound(df, "g", "v", k = 64)
      .collect().head
    assert(out.getAs[Long]("n_rows") === 5000L)
    assert(out.getAs[Boolean]("med_ok") && out.getAs[Boolean]("mad_ok"))
    // exact columns are the madRollup construction, bit-equal
    val exact = Anomaly.madRollup(df, "g", "v").collect().head
    assert(out.getAs[Double]("med") === exact.getAs[Double]("med"))
    assert(out.getAs[Double]("mad") === exact.getAs[Double]("mad"))
  }

  test("gaps: only gaps above threshold emit, bounded by the right events; first row never a gap") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ("a", t("2024-01-01 00:00:00"), 1L),
      ("a", t("2024-01-01 00:30:00"), 2L), // 30 min — under 1 h
      ("a", t("2024-01-01 02:30:00"), 3L), // 2 h gap → emit
      ("b", t("2024-01-01 09:00:00"), 4L)) // lone row, no gap
      .toDF("g", "ts", "id")
    val out = Anomaly.gaps(df, "g", "ts", "id", 3600L)
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Double)]
      .collect()
    assert(out.length === 1)
    assert(out.head === (("a", t("2024-01-01 00:30:00"),
      t("2024-01-01 02:30:00"), 7200.0)))
    intercept[IllegalArgumentException](Anomaly.gaps(df, "g", "ts", "id", 0L))
  }

  test("seasonal residuals judge each value against ITS hour's baseline") {
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // hour 14 runs hot (≈100), hour 2 runs cold (≈10); a 100 at 02:00
    // is a seasonal anomaly even though 100 is NORMAL globally at 14:00
    val rows =
      (0 until 20).map(i => ("k", ts(14, i), 100.0 + (i % 3) - 1)) ++
      (0 until 20).map(i => ("k", ts(2, i), 10.0 + (i % 3) - 1)) :+
      (("k", ts(2, 30), 100.0))
    val df = rows.toDF("key", "t", "v")
    val prof = Anomaly.seasonalProfile(df, "t", "key", "v")
    val p = prof.collect().map(r => r.getAs[Int]("hour_of_day") ->
      r.getAs[Double]("seasonal_mean")).toMap
    assert(p(14) === 99.95 && p(2) > 10.0 && p(2) < 16.0)
    val res = Anomaly.seasonalResiduals(df, "t", "key", "v", prof, z = 3.0)
      .filter(col("is_seasonal_anomaly")).collect()
    assert(res.length === 1 && res.head.getAs[Double]("v") === 100.0
      && res.head.getAs[Int]("hour_of_day") === 2)
    // the global IQR family would NOT have flagged the planted value
    val iqr = Anomaly.flag(df, "v", Anomaly.iqrBounds(df, "v"))
      .filter(col("is_anomaly") && col("v") === 100.0).count()
    assert(iqr === 0L)
    // a single-row hour has a NULL stddev → never flags
    val lone = Seq(("k", ts(5, 0), 999.0)).toDF("key", "t", "v")
    val all = df.union(lone)
    val res2 = Anomaly.seasonalResiduals(all, "t", "key", "v",
      Anomaly.seasonalProfile(all, "t", "key", "v"), z = 3.0)
    assert(res2.filter(col("hour_of_day") === 5)
      .filter(col("is_seasonal_anomaly")).count() === 0L)
  }
}

class AlertsSpec extends SparkSpec {
  import spark.implicits._
  private val t = Alerts.Thresholds(high = 30.0, low = 15.0,
    criticalHigh = 35.0, criticalLow = 10.0)

  test("threshold boundaries are strict (reference uses > and <)") {
    val df = Seq(30.0, 30.01, 15.0, 14.99, 35.0, 35.01, 10.0, 9.99)
      .toDF("v").withColumn("id", monotonically_increasing_id())
    val alerts = Alerts.extract(df, "v", t)
    // 30.0 and 15.0 are NOT alerts; 35.0 is alert (>30) but not critical
    assert(alerts.count() === 6)
    val bySeverity = alerts.groupBy("severity").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySeverity("critical") === 2) // 35.01 and 9.99
    assert(bySeverity("warning") === 4)  // 30.01, 14.99, 35.0, 10.0
  }

  test("severityRollup counts agree with row-level extraction") {
    val df = Seq(("a", 40.0), ("a", 31.0), ("a", 20.0), ("b", 5.0), ("b", 12.0))
      .toDF("k", "v")
    val r = Alerts.severityRollup(df, "v", t, "k")
      .orderBy("k").collect()
    assert(r(0).getAs[Long]("n_critical") === 1) // 40
    assert(r(0).getAs[Long]("n_warning") === 1)  // 31
    assert(r(0).getAs[Long]("n_alerts") === 2)
    assert(r(1).getAs[Long]("n_critical") === 1) // 5 < 10
    assert(r(1).getAs[Long]("n_warning") === 1)  // 12
  }
}

class TrendSpec extends SparkSpec {
  import spark.implicits._

  test("moving average has pandas min_periods=1 semantics (shrinking head)") {
    val df = Seq(("k", 1, 2.0), ("k", 2, 4.0), ("k", 3, 6.0))
      .toDF("g", "i", "v")
    val ma = Trend.movingAvg(df, Seq("g"), Seq("i"), "v", n = 20)
      .orderBy("i").select("ma").as[Double].collect()
    assert(ma.toSeq === Seq(2.0, 3.0, 4.0))
  }

  test("first difference via lag; null on first row") {
    val df = Seq(("k", 1, 2.0), ("k", 2, 5.0)).toDF("g", "i", "v")
    val d = Trend.movingAvg(df, Seq("g"), Seq("i"), "v")
      .orderBy("i").select("diff1").collect()
    assert(d(0).isNullAt(0))
    assert(d(1).getDouble(0) === 3.0)
  }

  test("classify: rising for steep linear series, stable for constant") {
    val rising = (1 to 60).map(i => ("k", i, i.toDouble)).toDF("g", "i", "v")
    val r = Trend.classify(rising, Seq("g"), Seq("i"), "v").collect().head
    // MA of a linear series is linear → slope of MA tail = 1.0 per row
    assert(math.abs(r.getAs[Double]("slope") - 1.0) < 1e-9)
    assert(r.getAs[String]("trend") === "rising")

    val flat = (1 to 60).map(i => ("k", i, 7.0)).toDF("g", "i", "v")
    val f = Trend.classify(flat, Seq("g"), Seq("i"), "v").collect().head
    assert(f.getAs[Double]("slope") === 0.0)
    assert(f.getAs[String]("trend") === "stable")
  }
}

class ForecastSpec extends SparkSpec {
  import spark.implicits._

  test("perfectly linear series: R²=1, exact slope/intercept/extrapolation") {
    // y = 2·x + 5 with x in seconds from group start (60 s cadence)
    val rows = (0 until 20).map { i =>
      ("k", i.toLong, new java.sql.Timestamp(1704067200000L + i * 60000L),
        5.0 + 2.0 * (i * 60))
    }
    val df = rows.toDF("k", "id", "t", "v")
    val r = Forecast.ols(df, "k", "t", "v", "id").collect().head
    assert(math.abs(r.getAs[Double]("slope") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("intercept") - 5.0) < 1e-6)
    assert(r.getAs[Double]("r2") === 1.0)
    // forecast at max_x + 3600 = 1140 + 3600 = 4740 → 5 + 2·4740 = 9485
    assert(math.abs(r.getAs[Double]("forecast") - 9485.0) < 1e-6)
    assert(r.getAs[Double]("current_value") === 5.0 + 2.0 * 1140)
  }

  test("groups below minRows are dropped") {
    val df = (0 until 5).map(i =>
      ("small", i.toLong, new java.sql.Timestamp(1704067200000L + i * 1000L), 1.0))
      .toDF("k", "id", "t", "v")
    assert(Forecast.ols(df, "k", "t", "v", "id").count() === 0)
  }
}

class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("perGroup returns exactly the k largest per key, deterministic tiebreak") {
    val df = Seq(
      ("a", 1L, 5.0), ("a", 2L, 9.0), ("a", 3L, 9.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)
    ).toDF("k", "id", "v")
    val out = TopK.perGroup(df, "k", "v", "id", k = 2)
      .orderBy("k", "rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // tie at 9.0 broken by id asc: id=2 before id=3; id=4 excluded
    assert(out.toSeq === Seq(
      ("a", 1L, 9.0, 2L), ("a", 2L, 9.0, 3L), ("b", 1L, 2.0, 5L)))
  }

  test("partial aggregation: result independent of partitioning") {
    val df = (1 to 500).map(i => (s"k${i % 4}", i.toLong, (i * 37 % 101).toDouble))
      .toDF("k", "id", "v")
    val a = TopK.perGroup(df.repartition(1), "k", "v", "id", 5).collect().toSet
    val b = TopK.perGroup(df.repartition(13), "k", "v", "id", 5).collect().toSet
    assert(a === b)
    assert(a.size === 20)
  }
}

class RollupsSpec extends SparkSpec {
  import spark.implicits._

  test("incremental daily agg: same-day partials merge; a late-day refresh touches only its day dir") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_incagg").toString + "/agg"
    def mk(rows: (String, String, Double)*) = rows.toSeq
      .toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    Rollups.initDailyAgg(mk(
      ("a", "2024-01-01 10:00:00", 1.0),
      ("a", "2024-01-02 10:00:00", 2.0)), "ts", "k", "v", dir)
    val days1 = Rollups.mergeDailyIncrement(spark, dir, mk(
      ("a", "2024-01-01 11:00:00", 3.0),  // same-day partial MERGE
      ("b", "2024-01-03 10:00:00", 5.0)), // brand-new day
      "ts", "k", "v")
    assert(days1 === Seq("2024-01-01", "2024-01-03"))
    val st = Rollups.readDailyAgg(spark, dir, "v")
      .orderBy("day", "k")
      .select("k", "n", "sum_v", "avg_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(st.toSeq === Seq(
      ("a", 2L, 4.0, 2.0), ("a", 1L, 2.0, 2.0), ("b", 1L, 5.0, 5.0)))

    // a LATE arrival for day 1 rewrites only day=2024-01-01
    def dirState(name: String) = {
      val d = new java.io.File(dir, name)
      d.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => (f.getName, f.lastModified)).toSeq.sorted
    }
    val before = Seq("day=2024-01-02", "day=2024-01-03")
      .map(d => d -> dirState(d)).toMap
    val days2 = Rollups.mergeDailyIncrement(spark, dir,
      mk(("a", "2024-01-01 23:00:00", 6.0)), "ts", "k", "v")
    assert(days2 === Seq("2024-01-01"))
    before.foreach { case (d, s) =>
      assert(dirState(d) === s, s"untouched day $d changed")
    }
    val d1 = Rollups.readDailyAgg(spark, dir, "v")
      .filter(col("day") === lit("2024-01-01").cast("date"))
      .select("n", "sum_v").collect().head
    assert((d1.getLong(0), d1.getDouble(1)) === ((3L, 10.0)))

    // empty increment: no days, no writes
    assert(Rollups.mergeDailyIncrement(spark, dir,
      mk().filter(lit(false)), "ts", "k", "v") === Seq.empty)
  }

  test("histogram partials: split init+merge equals one-shot state; interpolated median by hand") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_inchist").toString + "/h"
    def mk(vals: Double*) = vals.zipWithIndex.map { case (v, i) =>
      ("a", s"2024-01-01 0$i:00:00", v) }
      .toDF("k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    // values 5,15,15,25 over [0,40) x 4 bins: bin0=1, bin1=2, bin2=1
    Rollups.initDailyHist(mk(5.0, 15.0), "ts", "k", "v", 0.0, 40.0, 4, dir)
    val days = Rollups.mergeDailyHistIncrement(spark, dir, mk(15.0, 25.0),
      "ts", "k", "v", 0.0, 40.0, 4)
    assert(days === Seq("2024-01-01"))
    val state = spark.read.parquet(dir)
      .orderBy("bin").select("bin", "n").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(state.toSeq === Seq((0, 1L), (1, 2L), (2, 1L)))
    // p50: total 4, target 2; bin1 is the first with cum>=2 →
    // 0 + (1 + (2-1)/2)·10 = 15.0
    val q = Rollups.histQuantile(spark.read.parquet(dir), "k", 0.5,
      0.0, 40.0, 4).collect().head
    assert(q.getDouble(2) === 15.0, q.toString)
    // out-of-range values clamp to edge bins instead of vanishing
    Rollups.initDailyHist(mk(-5.0, 1000.0), "ts", "k", "v", 0.0, 40.0, 4, dir)
    val clamped = spark.read.parquet(dir).orderBy("bin")
      .select("bin").collect().map(_.getInt(0))
    assert(clamped.toSeq === Seq(0, 3))
  }

  test("hierarchical rollup: leaf + subtotal + grand-total levels in one pass, one Expand") {
    val df = Seq(
      ("a", "2024-01-01 01:00:00", 1.0),
      ("a", "2024-01-02 01:00:00", 2.0),
      ("b", "2024-01-01 01:00:00", 4.0))
      .toDF("k", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Rollups.hierarchical(df, "ts", "k", "v")
    val byLevel = r.collect().groupBy(_.getAs[Long]("level"))
    assert(byLevel(0L).length === 3) // (a,1st),(a,2nd),(b,1st)
    assert(byLevel(1L).map(x => (x.getString(0), x.getAs[Double]("sum_v")))
      .toSet === Set(("a", 3.0), ("b", 4.0)))
    assert(byLevel(3L).head.getAs[Double]("sum_v") === 7.0)
    // one Expand + one aggregation: the three levels share a single scan
    // (AQE toString repeats the plan as "Initial Plan" — inspect only
    // the final section or every Exchange counts twice)
    val plan = r.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Expand"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("dailyUniqueSketch: per-day estimates in bound; union of partials equals the one-shot sketch") {
    val df = spark.range(20000)
      .select(
        to_date(concat(lit("2024-01-"),
          lpad((col("id") % 9 + 1).cast("string"), 2, "0"))).as("day"),
        // ~1500 distinct keys per day, heavily overlapping across days
        (col("id") % 4096).as("uid"))
      .withColumn("ts", col("day").cast("timestamp"))
    val daily = Rollups.dailyUniqueSketch(df, "ts", "uid")
    assert(daily.count() === 9)
    // per-day estimates track the exact distincts within 3*rsd (~5%)
    val exact = df.groupBy("day")
      .agg(countDistinct("uid").as("n")).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    daily.collect().foreach { r =>
      val (d, est) = (r.getDate(0).toString, r.getLong(2))
      assert(math.abs(est - exact(d)) <= math.max(1.0, exact(d) * 0.05),
        s"$d: est $est vs exact ${exact(d)}")
    }
    // THE MERGE PROPERTY: union-of-daily-partials ≡ one-shot sketch of
    // the whole table, exactly (sketch union is deterministic) — the
    // invariant that makes per-day materialization answer any range
    val merged = Rollups.mergeUniqueSketches(daily)
      .collect().head.getLong(0)
    val oneShot = df.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(uid, 12))"))
      .collect().head.getLong(0)
    assert(merged === oneShot)
  }

  test("groupingSetsRollup: leaf + per-day panel + grand total, one Expand") {
    val df = Seq(
      ("a", "2024-01-01 01:00:00", 1.0),
      ("a", "2024-01-02 01:00:00", 2.0),
      ("b", "2024-01-01 01:00:00", 4.0))
      .toDF("k", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = Rollups.groupingSetsRollup(df, "ts", "k", "v")
    val byLevel = r.collect().groupBy(_.getAs[Long]("level"))
    assert(byLevel.keySet === Set(0L, 2L, 3L))
    assert(byLevel(0L).length === 3)
    // the per-DAY panel (key dropped) — the set ROLLUP cannot produce
    assert(byLevel(2L).map(x =>
      (x.getDate(1).toString, x.getAs[Double]("sum_v"))).toSet ===
      Set(("2024-01-01", 5.0), ("2024-01-02", 2.0)))
    assert(byLevel(3L).head.getAs[Double]("sum_v") === 7.0)
    val plan = r.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("Expand"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("pivotMean: explicit vocabulary becomes columns; absent category is null; empty vocab rejected") {
    val df = Seq((1L, "x", 2.0), (1L, "x", 4.0), (2L, "y", 6.0))
      .toDF("id", "cat", "v")
    val p = Rollups.pivotMean(df, "id", "cat", "v", Seq("x", "y", "z"))
    assert(p.columns.toSeq === Seq("id", "x", "y", "z"))
    val r1 = p.filter(col("id") === 1L).collect().head
    assert(r1.getDouble(1) === 3.0 && r1.isNullAt(2) && r1.isNullAt(3))
    intercept[IllegalArgumentException] {
      Rollups.pivotMean(df, "id", "cat", "v", Seq.empty)
    }
  }

  test("runningTotal: per-key cumulative sum and index in the given unique order") {
    val df = Seq(
      (1L, 1L, 10.0), (1L, 2L, 5.0), (1L, 3L, 1.0), (2L, 1L, 7.0))
      .toDF("k", "seq", "v")
    val r = graft.ops.Trend.runningTotal(df, Seq("k"), Seq("seq"), "v")
      .orderBy("k", "seq")
      .select("k", "running_sum", "n_so_far").collect()
      .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2)))
    assert(r.toSeq === Seq(
      (1L, 10.0, 1L), (1L, 15.0, 2L), (1L, 16.0, 3L), (2L, 7.0, 1L)))
  }

  test("histogram bins span [min,max] with max clamped into last bin") {
    val df = (0 to 30).map(_.toDouble).toDF("v") // min 0, max 30, width 1
    val h = Rollups.histogram(df, "v", 30).orderBy("bin").collect()
    assert(h.length === 30)
    assert(h.head.getAs[Long]("bin") === 0L)
    assert(h.last.getAs[Long]("bin") === 29L)
    // value 30.0 (== max) lands in bin 29 → bin 29 holds {29, 30}
    assert(h.last.getAs[Long]("n") === 2L)
    assert(h.head.getAs[Double]("bin_start") === 0.0)
  }

  test("approxStats stays inside its error envelope vs exact") {
    val df = (1 to 5000).map(i => (i.toLong % 137, i.toDouble)).toDF("u", "v")
    val r = Rollups.approxStats(df, "u", "v").collect().head
    val approxN = r.getAs[Long]("approx_n_u")
    assert(math.abs(approxN - 137.0) / 137.0 < 0.15) // rsd 0.05, generous bound
    assert(math.abs(r.getAs[Double]("approx_median") - 2500.0) < 50.0)
    assert(r.getAs[Long]("n") === 5000)
  }

  test("q_approx_stats on the fixture: inside documented bounds of the exact values") {
    // the registered query has no DuckDB oracle (approximate by
    // contract); this pins it to the EXACT answers on the same fixture
    // using the functions' own documented guarantees, so the last
    // rows-only analytics query carries a bounded check
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val r = Rollups.approxStats(ev, "user_id", "value").collect().head
    val exactN = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    val approxN = r.getAs[Long]("approx_n_user_id")
    // approx_count_distinct documents relative standard deviation 0.05:
    // 3 sigma is the "practically always" envelope
    assert(math.abs(approxN - exactN.toDouble) / exactN <= 0.15,
      s"HLL estimate $approxN vs exact $exactN")
    // percentile_approx(accuracy = a) guarantees a value whose RANK is
    // within n/a of the target rank; allow one extra rank for the
    // floor/ceil ambiguity at the target itself
    val vals = ev.select(col("value").cast("double"))
      .orderBy("value").collect().map(_.getDouble(0))
    val n = vals.length
    assert(r.getAs[Long]("n") === n.toLong)
    val w = n / 10000 + 1
    def inRankWindow(p: Double, v: Double): Unit = {
      val rank = math.ceil(p * n).toInt - 1
      val lo = vals(math.max(0, rank - w))
      val hi = vals(math.min(n - 1, rank + w))
      assert(v >= lo && v <= hi, s"p=$p: $v outside rank window [$lo, $hi]")
    }
    inRankWindow(0.25, r.getAs[Double]("approx_q1"))
    inRankWindow(0.50, r.getAs[Double]("approx_median"))
    inRankWindow(0.75, r.getAs[Double]("approx_q3"))
  }

  test("approxStatsBound: exact side correct, every envelope boolean true") {
    // the oracled form of the previous test: one row whose booleans the
    // DuckDB oracle pins to literal TRUE; here both the booleans AND the
    // exact side are checked against an independent computation
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val r = Rollups.approxStatsBound(ev, "user_id", "value").collect().head
    val exactN = ev.select(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(r.getAs[Long]("exact_n") === exactN)
    assert(r.getAs[Long]("n") === ev.count())
    Seq("cd_ok", "q1_ok", "med_ok", "q3_ok").foreach(c =>
      assert(r.getAs[Boolean](c), s"$c violated its documented envelope"))
  }

  test("approxStatsBound rank window flags an out-of-envelope quantile") {
    // negative control for the window arithmetic: with accuracy high
    // enough the window is ±(n/accuracy + 1) ≈ ±1 rank, so feeding a
    // deliberately-wrong 'approx' value must flip the boolean. Recreate
    // the boolean exactly as approxStatsBound computes it.
    val n = 1000.0
    val w = n / 10000 + 1.0 // ±1.1 ranks
    def ok(le: Long, lt: Long, p: Double): Boolean =
      le >= p * n - w && (lt + 1) <= p * n + w
    assert(ok(le = 500, lt = 499, p = 0.5)) // exact median rank
    assert(!ok(le = 450, lt = 449, p = 0.5)) // 50 ranks low → flagged
    assert(!ok(le = 1000, lt = 950, p = 0.5)) // value above p95 → flagged
  }

  test("quantilesApproxBound: exact side ≡ quantiles, envelope booleans hold per group") {
    val df = (1 to 400).map(i => (if (i % 2 == 0) "a" else "b", i.toDouble))
      .toDF("k", "v")
    val exact = Rollups.quantiles(df, "k", "v").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val got = Rollups.quantilesApproxBound(df, "k", "v").collect()
    assert(got.length === 2)
    got.foreach { r =>
      val (q1, med, q3) = exact(r.getString(0))
      assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) === ((q1, med, q3)))
      assert(r.getAs[Long]("n") === 200L)
      Seq("q1_ok", "med_ok", "q3_ok").foreach(c =>
        assert(r.getAs[Boolean](c), s"$c violated its envelope"))
    }
  }

  test("globalStats: sample stddev and CV") {
    val df = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0).toDF("v")
    val r = Rollups.globalStats(df, "v").collect().head
    assert(r.getAs[Double]("mean_v") === 5.0)
    assert(math.abs(r.getAs[Double]("std_v") - 2.13809) < 1e-4)
    assert(r.getAs[Double]("range_v") === 7.0)
  }

  test("eager-bounds operators refuse streaming frames with an actionable message") {
    // both operators run a driver job at plan construction (the two-phase
    // "index metadata" pattern that buys the pushed-down literal scans);
    // on a streaming frame that must fail at the API with guidance, not
    // deep inside the engine
    val stream = spark.readStream.format("rate").load()
      .selectExpr("timestamp AS ts", "CAST(value AS DOUBLE) AS v")
    val eHist = intercept[IllegalArgumentException] {
      Rollups.histogram(stream, "v", 30)
    }
    assert(eHist.getMessage.contains("NO streaming form"))
    val eRange = intercept[IllegalArgumentException] {
      graft.ops.Scans.timeRangeFromMax(stream, "ts", "1 hour")
    }
    assert(eRange.getMessage.contains("batch-only"))
  }
}

class JoinsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def fact = spark.range(40000)
    .select((col("id") % 200).as("k"), col("id").as("payload"))
  private def dim = spark.range(10)
    .select(col("id").as("k"), concat(lit("d"), col("id")).as("tag"))

  test("bloomReducedJoin equals the plain join; the pre-filter kills most fact rows") {
    val plain = fact.join(dim, Seq("k"))
      .groupBy("tag").agg(sum("payload").as("s"))
      .orderBy("tag").collect().map(r => (r.getString(0), r.getLong(1)))
    val bloomed = graft.ops.Joins.bloomReducedJoin(fact, dim, "k")
      .groupBy("tag").agg(sum("payload").as("s"))
      .orderBy("tag").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(bloomed.toSeq === plain.toSeq)
    // 10 of 200 keys survive: ~5% of the fact reaches the join exchange
    val reduced = graft.ops.Joins.bloomKeyFilter(fact, dim, "k").count()
    assert(reduced < 40000L / 10, s"bloom kept $reduced of 40000")
    assert(reduced >= 2000L, s"bloom must keep every true match, got $reduced")
  }

  test("bloomKeyFilter: empty dim keeps nothing; non-integral key rejected") {
    assert(graft.ops.Joins.bloomKeyFilter(fact, dim.filter(lit(false)),
      "k").count() === 0L)
    val sdim = Seq(("a", 1)).toDF("k", "x")
    intercept[IllegalArgumentException] {
      graft.ops.Joins.bloomKeyFilter(sdim, sdim, "k")
    }
  }
}

class UpsertSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def snap = Seq(
    (1L, 10L, "a", 1.0, false),
    (2L, 10L, "b", 2.0, false),
    (3L, 10L, "c", 3.0, false)).toDF("id", "v", "tag", "x", "del")

  test("latestWins: update replaces, insert appends, tombstone removes, stale version loses") {
    val updates = Seq(
      (1L, 20L, "a2", 1.5, false), // newer version: replaces
      (2L, 20L, "b2", 9.9, true),  // tombstone: key disappears
      (3L, 5L, "c0", 0.0, false),  // STALE version: snapshot row survives
      (4L, 20L, "d", 4.0, false))  // new key: inserted
      .toDF("id", "v", "tag", "x", "del")
    val out = graft.ops.Upsert.latestWins(snap, updates, Seq("id"), "v",
      deleteCol = Some("del"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      (1L, 20L, "a2", 1.5), (3L, 10L, "c", 3.0), (4L, 20L, "d", 4.0)))
  }

  test("latestWins: a same-version correction deterministically beats the snapshot row") {
    val updates = Seq((1L, 10L, "fixed", 1.1, false)).toDF("id", "v", "tag", "x", "del")
    val out = graft.ops.Upsert.latestWins(snap, updates, Seq("id"), "v",
      deleteCol = Some("del"))
      .filter(col("id") === 1L).collect().head
    assert(out.getString(2) === "fixed")
  }

  test("latestWins: highest of several update versions for one key wins; no delete col keeps tombstone flag out of play") {
    val updates = Seq(
      (1L, 20L, "mid", 0.2, false),
      (1L, 30L, "last", 0.3, false)).toDF("id", "v", "tag", "x", "del")
    val out = graft.ops.Upsert.latestWins(snap, updates, Seq("id"), "v")
      .filter(col("id") === 1L).collect().head
    assert(out.getString(2) === "last")
    // without deleteCol the del column is ordinary payload and survives
    assert(out.schema.fieldNames.contains("del"))
  }

  test("latestWins rejects mismatched schemas and missing columns loudly") {
    val bad = Seq((1L, 20L)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      graft.ops.Upsert.latestWins(snap, bad, Seq("id"), "v")
    }
    intercept[IllegalArgumentException] {
      graft.ops.Upsert.latestWins(snap, snap, Seq("nope"), "v")
    }
  }

  test("latestWins plans ONE exchange: union + key agg, never a join") {
    val plan = graft.ops.Upsert.latestWins(snap, snap, Seq("id"), "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  test("latestWins: a NULL delete flag means NOT deleted — the row upserts instead of vanishing") {
    val updates = Seq((1L, 20L, "upserted", 1.5, null.asInstanceOf[java.lang.Boolean]))
      .toDF("id", "v", "tag", "x", "del")
      .withColumn("del", col("del").cast("boolean"))
    val out = graft.ops.Upsert.latestWins(snap, updates, Seq("id"), "v",
      deleteCol = Some("del"))
      .filter(col("id") === 1L).collect()
    assert(out.length === 1 && out.head.getString(2) === "upserted")
  }
}
