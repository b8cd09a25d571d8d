package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Classifier, Curate, Dedup, Mixture, Similarity, TextStats}
import graft.obs.Telemetry
import graft.sources.{Layout, OccBloom, OccTable, Tables}

/** Empirical 10×-scale posture check for the dedup family — the backstop
  * for the "subquadratic candidates, no hot-bucket OOM" claims the plan
  * audits argue analytically. Builds a deterministic 10× documents corpus,
  * runs each candidate generator on the 1× and 10× corpora, and writes
  * `POSTURE_10X.json` with pair counts, wall time, per-task peak execution
  * memory, and shuffle spill.
  *
  * The 10× corpus is 10 DISJOINT shards: shard s remaps `doc_id` by
  * +s·10⁶ and suffixes every token with `_s` (s>0), so within-shard
  * shingle/jaccard/near-dup structure is preserved exactly while shards
  * share zero shingles. That is the honest scale-up — the corpus behaves
  * like 10× more data of the same character (expected pair growth ≈ 10×),
  * not 10 copies of one corpus (pair growth 100×, a different problem).
  *
  * What "healthy at scale" looks like in the artifact: `pair_growth` ≈ 10
  * (linear in data, never n²), `peak_task_mem` roughly flat between 1×
  * and 10× (work splits across more partitions instead of deepening one
  * task — the hot-bucket caps doing their job).
  */
object Posture {

  /** `stride` must exceed every base doc_id so shard id ranges stay
    * disjoint — derived from the observed max in main(), not assumed,
    * because SPARK_GRAFT_SF_DIR is env-configurable and an overlap would
    * silently invalidate the cross_shard_pairs==0 probe.
    */
  private def tenX(base: DataFrame, stride: Long): DataFrame =
    (1 until 10).map { s =>
      base.select(
        (col("doc_id") + lit(s * stride)).as("doc_id"),
        array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"_$s"))),
          " ").as("text"))
    }.foldLeft(base)(_ union _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark: SparkSession = Session.local(cpus)

    // one run's wall seconds and the telemetry of exactly its jobs
    def timed(f: () => Unit): (Double, Telemetry.Records) =
      Telemetry.window(spark) { _ =>
        val t0 = System.nanoTime()
        f()
        (System.nanoTime() - t0) / 1e9
      }

    // min of 3 timed runs per measurement: the host shows multi-ten-second
    // stalls that land on random queries (same defense as graft.Bench).
    // Each run is its own telemetry window; a section reports the MIN wall
    // seconds and the MAX single-run figure of each metric — a sum across
    // runs would triple-count. ONE definition for every measured family
    // so the protocol cannot diverge between sections.
    def minOf3(f: () => Unit): (Double, Seq[Telemetry.Records]) = {
      val runs = (1 to 3).map(_ => timed(f))
      (runs.map(_._1).min, runs.map(_._2))
    }
    def timedRuns(f: () => Unit): (Double, Long, Long) = {
      val (sec, rs) = minOf3(f)
      (sec, rs.map(_.peakTaskMem).max, rs.map(_.spill).max)
    }
    // one warm run, then one timed run's wall seconds and shuffle write
    def warmShuffle(f: () => Unit): (Double, Long) = {
      f()
      val (sec, r) = timed(f)
      (sec, r.shuffleWrite)
    }

    val base = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val stride = math.max(1000000L,
      base.agg(max(col("doc_id"))).head.getLong(0) + 1L)
    val scratch = java.nio.file.Files.createTempDirectory("graft_posture")
    val paths = Seq("1x" -> s"$scratch/docs1x", "10x" -> s"$scratch/docs10x")
    base.write.mode("overwrite").parquet(paths.head._2)
    tenX(base, stride).write.mode("overwrite").parquet(paths(1)._2)

    // tuned simhash knob: calibrated ONCE on the 1x corpus (the
    // deploy-time calibration tuneMaxDist documents), then applied at
    // both scales — the tuned family row grades whether a
    // corpus-appropriate maxDist removes the threshold-edge
    // superlinearity the inherited maxDist=3 row documents. The full
    // curve is computed once here and reported in simhash_tuned below.
    val curve1x = Dedup.maxDistCurve(base, "doc_id", "text", k = 8)
    val (tunedMaxDist, tunedRecall, tunedCand1x) =
      curve1x.find(_._2 >= 0.95).getOrElse(curve1x.last)

    val families: Seq[(String, DataFrame => DataFrame)] = Seq(
      "minhash_lsh" -> (d =>
        Dedup.minhashCandidatesPortable(d, "doc_id", "text",
          k = 8, nPerms = 16, rowsPerBand = 2)),
      "simhash_banding" -> (d =>
        Dedup.simhashCandidates(
          Dedup.simhashPortable(d, "doc_id", "text"), "doc_id", maxDist = 3)),
      "simhash_banding_tuned" -> (d =>
        Dedup.simhashCandidates(
          Dedup.simhashPortable(d, "doc_id", "text"), "doc_id",
          maxDist = tunedMaxDist)),
      "ngram_jaccard" -> (d =>
        Dedup.ngramJaccardPairs(d, "doc_id", "text", k = 8)),
      "winnow" -> (d =>
        Dedup.winnowCandidates(d, "doc_id", "text", k = 5, w = 4)))

    // one warmup pass (JIT + codegen + parquet footers), then measured
    val corpora = paths.map { case (lbl, p) => lbl -> spark.read.parquet(p) }
    families.foreach { case (_, f) => corpora.foreach { case (_, d) => f(d).count() } }

    val results = families.map { case (name, f) =>
      val runs = corpora.map { case (lbl, d) =>
        var pairs = 0L
        val (sec, peak, spill) = timedRuns(() => pairs = f(d).count())
        lbl -> (pairs, sec, peak, spill)
      }.toMap
      // quadratic-leakage probe: shards share zero shingles, so any pair
      // that CROSSES a shard boundary is a random collision that survived
      // verification — must be 0 for a generator that is safe at scale.
      // (Within-shard pair growth above 10x is a different, benign thing:
      // token salting re-rolls the hash distances of borderline pairs, so
      // threshold-crossers differ per shard — a corpus property the
      // q_simhash_audit / q_minhash_estimate queries exist to tune.)
      val cross = f(corpora.toMap.apply("10x"))
        .filter(floor(col("d1") / stride) =!= floor(col("d2") / stride))
        .count()
      val (p1, s1, m1, sp1) = runs("1x")
      val (p10, s10, m10, sp10) = runs("10x")
      f"""  "$name": {"pairs_1x": $p1, "pairs_10x": $p10, "pair_growth": ${p10.toDouble / math.max(1, p1)}%.2f, "cross_shard_pairs": $cross,
         |    "sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
         |    "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
         |    "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}}""".stripMargin
    }

    // ---- simhash growth audit --------------------------------------
    // The r7 artifact showed simhash pair growth of ~40x on 10x data and
    // ASSERTED "per-shard threshold re-rolls" as the cause. This section
    // shows it: every 10x pair is classified as base-replicated (its
    // (d1 mod stride, d2 mod stride) twin is a 1x pair — shard 0 is the
    // unsalted base, so these grow exactly linearly) or re-rolled (token
    // salting moved a base-corpus >maxDist pair under the threshold in
    // that shard). If re-rolls explain the excess, their hamming mass
    // sits at the threshold edge, not at 0 — genuine duplicates don't
    // appear from salting.
    def simPairs(d: DataFrame) = Dedup.simhashCandidates(
      Dedup.simhashPortable(d, "doc_id", "text"), "doc_id", maxDist = 3)
    def hist(d: DataFrame, extra: Column*): Map[Seq[Any], Long] =
      d.groupBy(col("hamming").cast("long").as("h") +: extra: _*)
        .count().collect()
        .map(r => r.toSeq.init -> r.getLong(r.length - 1)).toMap
    val sim1 = simPairs(corpora.toMap.apply("1x")).cache()
    val sim10 = simPairs(corpora.toMap.apply("10x"))
      .withColumn("b1", col("d1") % stride)
      .withColumn("b2", col("d2") % stride)
      .join(sim1.select(col("d1").as("b1"), col("d2").as("b2"),
        lit(true).as("in_base")), Seq("b1", "b2"), "left")
      .withColumn("in_base", coalesce(col("in_base"), lit(false)))
      .cache()
    def histJson(m: Map[Seq[Any], Long], sel: Seq[Any] => Boolean = _ => true)
        : String =
      (0L to 3L).map(h => s""""$h": ${
        m.collect { case (k, v) if k.head == h && sel(k.tail) => v }.sum
      }""").mkString("{", ", ", "}")
    val h1 = hist(sim1)
    val h10 = hist(sim10, col("in_base"))
    val perShard = sim10.groupBy(floor(col("d1") / stride).as("shard"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hamming-0 re-rolls: salted signatures that became IDENTICAL. The
    // suspected mechanism — a simhash bit on a low-token doc has few
    // voters, so a salt re-roll flips whole bit-groups at once — is
    // QUANTIFIED here instead of asserted: token length of the shorter
    // doc in each such pair, next to the corpus median for contrast.
    val toks10 = corpora.toMap.apply("10x")
      .select(col("doc_id"), size(split(col("text"), " ")).as("ntok"))
    val h0tok = sim10.filter(!col("in_base") && col("hamming") === 0)
      .join(toks10.select(col("doc_id").as("d1"), col("ntok").as("t1")),
        Seq("d1"))
      .join(toks10.select(col("doc_id").as("d2"), col("ntok").as("t2")),
        Seq("d2"))
      .select(least(col("t1"), col("t2")).as("mt"))
    val h0row = h0tok.agg(count(lit(1)).as("n"), min(col("mt")),
      expr("percentile(mt, 0.5)"), max(col("mt"))).collect().head
    val h0n = h0row.getLong(0)
    val corpusMedTok = toks10.agg(expr("percentile(ntok, 0.5)"))
      .collect().head.getDouble(0)
    val h0Json =
      if (h0n == 0) s"""{"pairs": 0, "corpus_median_tokens": $corpusMedTok}"""
      else
        f"""{"pairs": $h0n, "min_tokens_min": ${h0row.getInt(1)}, "min_tokens_median": ${h0row.getDouble(2)}%.1f, "min_tokens_max": ${h0row.getInt(3)}, "corpus_median_tokens": $corpusMedTok%.1f}"""
    val simAudit =
      f"""  "simhash_growth_audit": {
         |    "what": "every 10x pair classified base-replicated vs re-rolled (token salting moved a pair under maxDist in that shard); healthy = replicated between 1x and 10x (salting can only REMOVE base pairs — shard 0 contributes all of them, shards 1-9 re-roll some out of threshold) and the re-rolled excess is threshold-edge mass (hamming 2-3); rerolled_hamming0_audit shows the residual identical-signature pairs are short-doc sign-flip collisions (few voters per bit), not duplicate leakage",
         |    "hamming_hist_1x": ${histJson(h1)},
         |    "hamming_hist_10x": ${histJson(h10)},
         |    "pairs_10x_base_replicated": ${h10.collect { case (k, v) if k(1) == true => v }.sum},
         |    "pairs_10x_rerolled": ${h10.collect { case (k, v) if k(1) == false => v }.sum},
         |    "rerolled_hamming_hist": ${histJson(h10, _.head == false)},
         |    "rerolled_hamming0_audit": $h0Json,
         |    "replicated_hamming_hist": ${histJson(h10, _.head == true)},
         |    "per_shard_pairs": ${(0 until 10).map(s => perShard.getOrElse(s.toLong, 0L)).mkString("[", ", ", "]")}}""".stripMargin

    // the tuned knob itself, next to the audit that informs it — the
    // simhash_banding_tuned family row above carries its 1x/10x growth.
    // The full recall/cost curve is what makes the pick AUDITABLE: when
    // recall at d=3 (the banding completeness bound) is still below
    // target, the tuner's honest answer is the bound itself — no
    // SimHash knob reaches the target on this corpus, the jaccard-side
    // generators (minhash at exactly-linear growth, winnowing) are the
    // right family, and per_dist_candidate_growth shows shrinking d
    // would NOT buy linear growth anyway (the salted re-roll excess
    // spans every hamming band).
    def cum(m: Map[Seq[Any], Long], d: Long,
        sel: Seq[Any] => Boolean = _ => true): Long =
      m.collect { case (kk, v)
        if kk.head.asInstanceOf[Long] <= d && sel(kk.tail) => v }.sum
    val perDistGrowth = (0L to 3L).map { d =>
      val c1 = cum(h1, d)
      f""""$d": ${if (c1 == 0) -1.0 else cum(h10, d).toDouble / c1}%.2f"""
    }.mkString("{", ", ", "}")
    val curveJson = curve1x.map { case (d, r, c) =>
      f""""$d": {"recall": $r%.3f, "candidate_pairs_1x": $c}"""
    }.mkString("{", ", ", "}")
    val simTunedJson =
      f"""  "simhash_tuned": {
         |    "what": "Dedup.tuneMaxDist calibrated on the 1x corpus (jaccard>=0.8 true pairs, recall target 0.95) with its full recall/cost curve; per_dist_candidate_growth = 10x/1x cumulative candidate growth per maxDist from the audit hists — when recall at the banding bound (3) is below target, banding cannot reach it on this corpus (use minhash/winnow, measured exactly-linear above) and the curve shows smaller d sacrifices recall without buying linear growth",
         |    "max_dist": $tunedMaxDist, "recall_at_tuned": $tunedRecall%.3f, "candidate_pairs_1x": $tunedCand1x,
         |    "curve": $curveJson,
         |    "per_dist_candidate_growth": $perDistGrowth}""".stripMargin

    // ---- near-dup generator policy (r15, X105) ----------------------
    // The tuner verdict as the EXECUTABLE default the curate family
    // consumes (Dedup.chooseNearDupGenerator; CurateSpec pins the pick):
    // banding only when the measured recall at its completeness bound
    // meets the target, else minhash LSH. Derived from the SAME curve
    // simhash_tuned reports, so the policy and its evidence co-travel.
    val neardupPolicyJson = {
      val bound = curve1x.last._2
      val pick = curve1x.find(_._2 >= 0.95)
      f"""  "neardup_policy": {
         |    "what": "Dedup.chooseNearDupGenerator — the r14 tuner verdict wired in as the near-dup stage default; decision rule: simhash banding at the tuned radius iff recall at the hamming<=3 completeness bound meets targetRecall, else minhash LSH (exactly-linear growth above)",
         |    "target_recall": 0.95, "banding_recall_bound": $bound%.3f,
         |    "chosen": "${pick.map(_ => "simhash").getOrElse("minhash")}",
         |    "tuned_max_dist": ${pick.map(_._1.toString).getOrElse("null")}}""".stripMargin
    }

    // ---- winnow growth audit (r15) ----------------------------------
    // r14's artifact showed winnow time_growth 2.82x at 10x against a
    // clean 9.66x pair growth and left the term unnamed. The r15 probe
    // decomposed it: the growth sits ENTIRELY in the fingerprint-
    // construction stage (one md5 per shingle + O(w·n) string window
    // minima per doc), whose 1x time is a CORE-UTILIZATION FLOOR, not
    // superlinear work — 10x the docs costs ~3x the time, so per-doc
    // throughput IMPROVES at 10x (the work model is linear; 1x simply
    // doesn't saturate the executor). Two rewrite candidates were
    // measured SLOWER in absolute terms at both scales — hash-agg
    // bucket cap + broadcast anti-join (recomputes the construction
    // pipeline for the hot branch the sort-window plan computes once
    // behind a reused exchange) and an xxhash64 numeric join key (adds
    // a projection; the join was never the term) — so the current plan
    // is pinned, and this section re-measures the decomposition each
    // round so the conclusion stays earned.
    val winnowAudit = {
      val nDocs1x = corpora.toMap.apply("1x").count()
      def fpOnly(d: DataFrame): Long =
        Dedup.winnowFingerprints(d, "doc_id", "text", k = 5, w = 4)
          .groupBy().agg(count(lit(1)).as("n")).head.getLong(0)
      corpora.foreach { case (_, d) => fpOnly(d) } // warmup
      val t = corpora.map { case (lbl, d) =>
        var fps = 0L
        val (sec, _, _) = timedRuns(() => fps = fpOnly(d))
        lbl -> (sec, fps)
      }.toMap
      val (s1, f1) = t("1x")
      val (s10, f10) = t("10x")
      val perDoc1 = s1 * 1e6 / math.max(1, nDocs1x)
      val perDoc10 = s10 * 1e6 / math.max(1, nDocs1x * 10)
      f"""  "winnow_growth_audit": {
         |    "what": "fingerprint-construction stage isolated from the cap+join (r14's unexplained 2.82x time term): linear-work evidence is per-doc construction time FALLING at 10x (1x pays a core-utilization floor); alt plans (hash-agg cap, numeric join key) measured slower in the r15 probe, current sort-window plan pinned",
         |    "construct_sec_1x": $s1%.2f, "construct_sec_10x": $s10%.2f, "construct_time_growth": ${s10 / s1}%.2f,
         |    "fingerprints_1x": $f1, "fingerprints_10x": $f10,
         |    "per_doc_us_1x": $perDoc1%.1f, "per_doc_us_10x": $perDoc10%.1f,
         |    "per_doc_speedup_at_10x": ${perDoc1 / perDoc10}%.2f}""".stripMargin
    }

    // ---- resolution-family posture ---------------------------------
    // Components/rounds/survivors at 1x vs 10x: rounds track cluster
    // DIAMETER, not corpus size, so they must stay flat; components and
    // survivors scale linearly on the disjoint-shard corpus.
    val resolution = corpora.map { case (lbl, d) =>
      val pairs = Dedup.minhashCandidatesPortable(d, "doc_id", "text",
        k = 8, nPerms = 16, rowsPerBand = 2).select(col("d1"), col("d2"))
      val t0 = System.nanoTime()
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
      val nComp = labels.select(col("component")).distinct().count()
      val maxComp = labels.groupBy(col("component")).count()
        .agg(max(col("count"))).head.getLong(0)
      // survivors from the ALREADY-computed labels (resolveByComponents
      // would rerun the whole propagation loop and double-count CC work
      // in `sec`): same drop-set anti-join, paired non-minima removed
      val survivors = d.join(
        labels.filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti").count()
      val sec = (System.nanoTime() - t0) / 1e9
      lbl -> f"""{"rounds": $rounds, "components": $nComp, "max_component": $maxComp, "survivors": $survivors, "sec": $sec%.2f}"""
    }.toMap
    val resolutionJson =
      s"""  "resolution": {
         |    "what": "connectedComponents + resolveByComponents over the minhash pairs; healthy = rounds flat 1x->10x (log-diameter-bound via pointer jumping, not data-bound), components/survivors ~linear",
         |    "1x": ${resolution("1x")},
         |    "10x": ${resolution("10x")}}""".stripMargin

    // ---- retrieval-family posture ----------------------------------
    // bm25TopK / sq8TopK / ivfSq8Probe / ivfHardNegatives at 1x vs 10x.
    // All four return a FIXED k rows, so there is no pair-growth probe;
    // the posture is pure cost shape: the scan-bound ops (BM25 keyword
    // scoring, SQ8 brute-force ADC) should grow ~linearly in corpus size
    // with flat per-task memory, and the pruned IVF probes should track
    // scanned_rows (the probed-partition subset — the probed FRACTION
    // stays constant here because the 10x corpus lands in the same 8
    // buckets), never more. Timed runs INCLUDE each op's eager metadata
    // step (BM25 corpus stats, SQ8 range, quantizer read) — that is the
    // real per-query serving cost, not an index-build artifact.
    // The 10x embeddings corpus remaps vec_id by disjoint shard strides
    // and keeps the vectors (cosine structure is scale-invariant; cost
    // shape, not result content, is what this section measures).
    val embBase = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val estride = math.max(1000000L,
      embBase.agg(max(col("vec_id"))).head.getLong(0) + 1L)
    val embPaths = Seq("1x" -> s"$scratch/emb1x", "10x" -> s"$scratch/emb10x")
    embBase.write.mode("overwrite").parquet(embPaths.head._2)
    (1 until 10).map { s =>
      embBase.select((col("vec_id") + lit(s * estride)).as("vec_id"),
        col("embedding"), col("label"))
    }.foldLeft(embBase)(_ union _)
      .write.mode("overwrite").parquet(embPaths(1)._2)
    val embByLbl = embPaths.map { case (l, p) =>
      l -> spark.read.parquet(p) }.toMap
    // PQ codebooks are index metadata (train once, serve many): trained
    // OUTSIDE the timed runs like the IVF layouts, so the measured cost
    // is the serving path alone
    val pqBooksByLbl = Seq("1x", "10x").map { lbl =>
      lbl -> Similarity.pqCodebooks(embByLbl(lbl), "vec_id", "embedding",
        m = SparkEntry.PqM, codebookK = SparkEntry.PqKc)
    }.toMap
    // the codes frame is the OTHER half of the PQ index build (one
    // corpus float pass, persisted): serving reads m small ints per row
    // plus the shortlist's floats, never the corpus-wide float column
    val pqCodesByLbl = Seq("1x", "10x").map { lbl =>
      val p = s"$scratch/pqcodes_$lbl"
      Similarity.pqEncode(embByLbl(lbl), "vec_id", "embedding",
        pqBooksByLbl(lbl)).write.mode("overwrite").parquet(p)
      lbl -> spark.read.parquet(p)
    }.toMap
    val layouts = embPaths.map { case (lbl, p) =>
      val d = embByLbl(lbl)
      val lp = s"$scratch/layout_$lbl"
      Similarity.writeIvfLayout(d, "vec_id", "embedding",
        Similarity.trainQuantizer(d, "vec_id", "embedding",
          k = 8, iters = 2, salt = "posture"), lp,
        pqBooks = pqBooksByLbl(lbl))
      lbl -> lp
    }.toMap
    // query + anchors from the base corpus: the SAME points probe both
    // scales, so the only variable between 1x and 10x is corpus size
    val anchors = embBase.orderBy(col("vec_id")).limit(4)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    val (qid, qvec) = (anchors.head._1, anchors.head._3)
    val docsByLbl = corpora.toMap
    val retrievalOps: Seq[(String, String => DataFrame)] = Seq(
      "pq_rerank" -> (lbl => Similarity.pqRerankTopK(embByLbl(lbl),
        "vec_id", "embedding", qid, k = 10, shortlist = 100,
        m = SparkEntry.PqM, codebookK = SparkEntry.PqKc,
        books = Some(pqBooksByLbl(lbl)),
        codes = Some(pqCodesByLbl(lbl)))),
      "bm25_topk" -> (lbl => TextStats.bm25TopK(docsByLbl(lbl), "doc_id",
        "text", Seq("dup", "merge", "spark"), k = 10)),
      "sq8_brute" -> (lbl => Similarity.sq8TopK(embByLbl(lbl), "vec_id",
        "embedding", queryId = qid, k = 10)),
      "ivf_sq8_probe" -> (lbl => Similarity.ivfSq8Probe(spark,
        layouts(lbl), "vec_id", qvec, k = 10, nProbe = 2,
        excludeId = Some(qid))),
      // the composed serving path (X50): pruned ADC shortlist + exact
      // rerank of the shortlist rows — unlike pq_rerank above, BOTH
      // stages ride the probed partitions, so its cost must track
      // scanned_rows_probe, not the corpus
      "ivf_pq_rerank" -> (lbl => Similarity.ivfPqRerankTopK(spark,
        layouts(lbl), "vec_id", "embedding", qvec, k = 10, nProbe = 2,
        shortlist = 100, excludeId = Some(qid))),
      "hard_negatives" -> (lbl => Similarity.ivfHardNegatives(spark,
        layouts(lbl), "vec_id", "embedding", "label", anchors, k = 10,
        nProbe = 2)))
    def probeScanRows(lbl: String): Long = {
      val probed = Similarity.probeBuckets(
        Similarity.readQuantizer(spark, layouts(lbl)), qvec, 2)
      spark.read.parquet(layouts(lbl))
        .filter(col("ivf_bucket").isin(probed.toIndexedSeq: _*)).count()
    }
    val retrieval = retrievalOps.map { case (name, f) =>
      Seq("1x", "10x").foreach(l => f(l).count()) // warmup
      val runs = Seq("1x", "10x").map(lbl =>
        lbl -> timedRuns(() => f(lbl).count())).toMap
      val (s1, m1, sp1) = runs("1x")
      val (s10, m10, sp10) = runs("10x")
      f"""    "$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
         |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
         |      "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}}""".stripMargin
    }
    val retrievalJson =
      s"""  "retrieval": {
         |    "what": "BM25 / SQ8 / PQ / pruned-probe serving ops, fixed k output, eager metadata included in every timed run (PQ codebooks, the pqEncode codes frame, and IVF layouts are index builds, trained/written outside); healthy = flat peak_task_mem and spill 0, scan-bound ops (bm25_topk, sq8_brute, pq_rerank's m-small-int codes scan) growing at most linearly — pq_rerank's float pass is pruned to the shortlist rows by a pushed id IN filter, never corpus-wide — pruned probes (ivf_sq8_probe, ivf_pq_rerank, hard_negatives) tracking scanned_rows_probe; at this corpus size the ~0.2 s fixed per-query cost (driver metadata reads + job scheduling) dominates, so time_growth near 1 means the data-dependent cost is still below the serving floor at 10x",
         |    "vecs_1x": ${embByLbl("1x").count()}, "vecs_10x": ${embByLbl("10x").count()},
         |    "scanned_rows_probe_1x": ${probeScanRows("1x")}, "scanned_rows_probe_10x": ${probeScanRows("10x")},
         |${retrieval.mkString(",\n")}}""".stripMargin

    // ---- temporal-join posture -------------------------------------
    // asofJoin at 1x vs 10x events (10 disjoint user-id shards — keys
    // scale WITH the data, so time should grow ~linearly with flat
    // per-task memory), plus the HOT-KEY scenario the sharded form
    // exists for: every row collapsed onto ONE key, where the plain
    // form's per-key sort serializes through a single task and
    // asofJoinSharded spreads the same work over (key, time-bucket)
    // partitions. Same operators, same data, measured — the empirical
    // backstop for the X51 skew claim.
    val evBase = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("event_type"))
    val uStride = math.max(1000000L,
      evBase.agg(max(col("user_id"))).head.getLong(0) + 1L)
    val eStride = math.max(10000000L,
      evBase.agg(max(col("event_id"))).head.getLong(0) + 1L)
    val evPaths = Seq("1x" -> s"$scratch/ev1x", "10x" -> s"$scratch/ev10x")
    evBase.write.mode("overwrite").parquet(evPaths.head._2)
    (1 until 10).map { s =>
      evBase.select((col("user_id") + lit(s * uStride)).as("user_id"),
        col("ts"), (col("event_id") + lit(s * eStride)).as("event_id"),
        col("value"), col("event_type"))
    }.foldLeft(evBase)(_ union _)
      .write.mode("overwrite").parquet(evPaths(1)._2)
    val evByLbl = evPaths.map { case (l, p) =>
      l -> spark.read.parquet(p) }.toMap
    // bucket width sized to ~128 buckets over the data span, the
    // resolution a deployment would pick for a multi-year hot device
    val spanRow = evByLbl("1x")
      .agg(unix_micros(min(col("ts"))).as("mn"),
        unix_micros(max(col("ts"))).as("mx")).head()
    val asofBucketSec =
      math.max(1L, (spanRow.getLong(1) - spanRow.getLong(0)) / 1000000L / 128L)
    def asofOn(d: DataFrame, sharded: Boolean): DataFrame = {
      val clicks = d.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val purchases = d.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val payo = Seq("value" -> "last_purchase_value")
      if (sharded)
        graft.ops.Temporal.asofJoinSharded(clicks, purchases, "user_id",
          "ts", "ts", "event_id", payo, asofBucketSec)
      else
        graft.ops.Temporal.asofJoin(clicks, purchases, "user_id", "ts",
          "ts", "event_id", payo)
    }
    // the hot-key scenario needs a key whose rows actually strain one
    // task's sort — at sf0.1 the hottest real key is ~2k rows and the
    // plain form wins on fixed overhead (the doc's stated crossover), so
    // the skew frame is synthesized: 2M clicks + 2M purchases, ONE key,
    // deterministic ts pattern folded into the real data's time span
    val hotN = 2000000L
    val spanMicros = math.max(1L, spanRow.getLong(1) - spanRow.getLong(0))
    def hotFrame(tag: Long): DataFrame =
      spark.range(hotN).select(
        lit(0L).as("user_id"),
        timestamp_micros(lit(spanRow.getLong(0)) +
          pmod(col("id") * lit(2654435761L + tag), lit(spanMicros))).as("ts"),
        (col("id") + lit(tag * 10000000L)).as("event_id"),
        (col("id") % 1000).cast("double").as("value"))
    def asofHot(sharded: Boolean): DataFrame = {
      val clicks = hotFrame(1).withColumnRenamed("event_id", "click_id")
      val purchases = hotFrame(0)
      val payo = Seq("value" -> "last_purchase_value")
      if (sharded)
        graft.ops.Temporal.asofJoinSharded(clicks, purchases, "user_id",
          "ts", "ts", "event_id", payo, asofBucketSec)
      else
        graft.ops.Temporal.asofJoin(clicks, purchases, "user_id", "ts",
          "ts", "event_id", payo)
    }
    val temporalOps: Seq[(String, () => DataFrame)] = Seq(
      "asof_1x" -> (() => asofOn(evByLbl("1x"), sharded = false)),
      "asof_10x" -> (() => asofOn(evByLbl("10x"), sharded = false)),
      "asof_hot_plain_2m" -> (() => asofHot(sharded = false)),
      "asof_hot_sharded_2m" -> (() => asofHot(sharded = true)))
    // noop-sink consumption: under count() Catalyst prunes the unused
    // payload column and with it the whole window sort — the exact cost
    // being measured; the noop write materializes every output column
    def consume(d: DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    // the drift and behavior families' grid: every (variant, scale)
    // warmed, then per variant the min-of-3 wall and the max single-run
    // shuffle write at 1x and 10x, one JSON row each
    def shuffleGrid(scales: Seq[(String, DataFrame)],
        variants: Seq[(String, DataFrame => DataFrame)]): Seq[String] = {
      variants.foreach { case (_, f) =>
        scales.foreach { case (_, d) => consume(f(d)) }
      }
      variants.map { case (name, f) =>
        val Seq((s1, sh1), (s10, sh10)) = scales.map { case (_, d) =>
          val (sec, rs) = minOf3(() => consume(f(d)))
          (sec, rs.map(_.shuffleWrite).max)
        }
        f""""$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
           |      "shuffle_mb_1x": ${sh1 / 1048576}, "shuffle_mb_10x": ${sh10 / 1048576}}""".stripMargin
      }
    }
    val temporal = temporalOps.map { case (name, f) =>
      consume(f()) // warmup
      val (sec, peak, spill) = timedRuns(() => consume(f()))
      name -> ((sec, peak, spill))
    }.toMap
    val temporalJson = {
      def block(name: String): String = {
        val (sec, peak, spill) = temporal(name)
        f""""$name": {"sec": $sec%.2f, "peak_task_mem_mb": ${peak / 1048576}, "spill_mb": ${spill / 1048576}}"""
      }
      val growth = temporal("asof_10x")._1 / temporal("asof_1x")._1
      val speedup =
        temporal("asof_hot_plain_2m")._1 / temporal("asof_hot_sharded_2m")._1
      f"""  "temporal": {
         |    "what": "as-of join posture: 1x vs 10x events (10 disjoint user shards, keys scale with data — healthy = ~linear time, flat peak_task_mem) and the HOT-KEY scenario (synthesized 2M clicks + 2M purchases on ONE key, the sf0.1 keys being too small to strain a task): plain asofJoin serializes that key's 4M-row sort through one task, asofJoinSharded spreads it over (key, time-bucket) partitions — hot_key_speedup is the measured win of the sharded rewrite on identical data; below the crossover the plain form wins on fixed overhead, as its doc states",
         |    "bucket_sec": $asofBucketSec, "time_growth_10x": $growth%.2f, "hot_key_speedup": $speedup%.2f,
         |    ${Seq("asof_1x", "asof_10x", "asof_hot_plain_2m", "asof_hot_sharded_2m").map(block).mkString(",\n    ")}}""".stripMargin
    }

    // ---- interval-join posture -------------------------------------
    // The bucketed range-join rewrite at 1x vs 10x, in the two shapes it
    // ships: UNKEYED with a FIXED window set against growing events (the
    // dashboard shape — windows are an audit list, events scale; healthy
    // = ~linear time, flat memory), and KEYED with both sides growing
    // (per-entity windows over per-entity events; the 10x shards are
    // key-disjoint so matched pairs grow exactly 10x; healthy = ~linear).
    // Unkeyed with BOTH sides growing is not measured as a health row
    // because its output is intrinsically quadratic (10x windows each
    // genuinely containing 10x events = 100x pairs — a semantic property,
    // not a plan defect; the keyed form is the scale shape for that).
    // Plus the HOT TIME RANGE scenario (the as-of hot key's analogue):
    // 2k one-minute windows and 200k events all inside ONE hour. With
    // bucketSec=3600 the whole hour is a single cell — every (window,
    // event) pair funnels through one hash-join partition (~400M
    // predicate evaluations in one task); bucketSec=60 cuts the same
    // work into 60 cells (the doc's "pick bucketSec ≈ median window
    // length" rule, measured); the KEYED form at the SAME mis-sized
    // coarse bucket spreads the cell across its 100 keys instead — the
    // doc's hot-range claim, measured.
    val winsBase = evByLbl("1x").filter(col("event_type") === "signup")
      .select(col("event_id").as("window_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTE")).as("w_end"))
    def winsKeyed(d: DataFrame) = d.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("window_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTE")).as("w_end"))
    def intervalOn(lbl: String): DataFrame =
      graft.ops.Temporal.intervalJoinBucketed(winsBase, "window_id",
        "w_start", "w_end", evByLbl(lbl), "ts", "value", bucketSec = 1800)
    def intervalKeyedOn(lbl: String): DataFrame = {
      val d = evByLbl(lbl)
      graft.ops.Temporal.intervalJoinBucketedKeyed(winsKeyed(d), "user_id",
        "window_id", "w_start", "w_end", d, "user_id", "ts", "value",
        bucketSec = 1800)
    }
    val hourMicros = 3600L * 1000000L
    val hotEv = spark.range(200000).select(
      (col("id") % 100).as("user_id"),
      timestamp_micros(lit(spanRow.getLong(0)) +
        pmod(col("id") * lit(2654435761L), lit(hourMicros))).as("ts"),
      (col("id") % 1000).cast("double").as("value"))
    val hotWins = spark.range(2000).select(
        (col("id") % 100).as("user_id"),
        col("id").as("window_id"),
        timestamp_micros(lit(spanRow.getLong(0)) +
          pmod(col("id") * lit(40503L),
            lit(hourMicros - 60L * 1000000L))).as("w_start"))
      .withColumn("w_end", col("w_start") + expr("INTERVAL 1 MINUTE"))
    def intervalHot(bucketSec: Long, keyed: Boolean): DataFrame =
      if (keyed)
        graft.ops.Temporal.intervalJoinBucketedKeyed(hotWins, "user_id",
          "window_id", "w_start", "w_end", hotEv, "user_id", "ts", "value",
          bucketSec)
      else
        graft.ops.Temporal.intervalJoinBucketed(
          hotWins.drop("user_id"), "window_id", "w_start", "w_end",
          hotEv, "ts", "value", bucketSec)
    def withConfs[A](kvs: (String, String)*)(body: => A): A =
      StatePosture.withProvider(spark, kvs.toMap)(body)
    // at this synthetic size AQE broadcasts one side of every hot join
    // and the probe parallelism follows the STREAMED side — the
    // single-cell funnel never materializes. At 100 TB neither a year of
    // windows nor a year of events broadcasts, so the at-scale plan is
    // the shuffled one: the hot scenarios disable broadcast to measure
    // THAT plan (the 1x/10x health rows keep the default planner).
    def noBroadcast[A](body: => A): A =
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)
    // the doc rule closed into a recommendation: tuneBucketSec on the
    // hot fixture's windows frame — measured below next to the manual
    // 60 s pick it should land on (one-minute windows → 60)
    val tunedHotBucket =
      graft.ops.Temporal.tuneBucketSec(hotWins, "w_start", "w_end")
    val intervalOps: Seq[(String, () => DataFrame, Boolean)] = Seq(
      ("interval_1x", () => intervalOn("1x"), false),
      ("interval_10x", () => intervalOn("10x"), false),
      ("interval_keyed_1x", () => intervalKeyedOn("1x"), false),
      ("interval_keyed_10x", () => intervalKeyedOn("10x"), false),
      ("interval_hot_coarse_1cell", () => intervalHot(3600, keyed = false), true),
      ("interval_hot_sized_60s", () => intervalHot(60, keyed = false), true),
      ("interval_hot_tuned", () => intervalHot(tunedHotBucket, keyed = false), true),
      ("interval_hot_keyed_coarse", () => intervalHot(3600, keyed = true), true))
    val interval = intervalOps.map { case (name, f, shuffledPlan) =>
      def once(): Unit =
        if (shuffledPlan) noBroadcast(consume(f())) else consume(f())
      once() // warmup
      val (sec, peak, spill) = timedRuns(() => once())
      name -> ((sec, peak, spill))
    }.toMap
    val intervalJson = {
      def block(name: String): String = {
        val (sec, peak, spill) = interval(name)
        f""""$name": {"sec": $sec%.2f, "peak_task_mem_mb": ${peak / 1048576}, "spill_mb": ${spill / 1048576}}"""
      }
      val gU = interval("interval_10x")._1 / interval("interval_1x")._1
      val gK =
        interval("interval_keyed_10x")._1 / interval("interval_keyed_1x")._1
      // blocks built from intervalOps names; the hot trio's shuffled-plan
      // flag is documented in "what" rather than per-block
      val hotSized = interval("interval_hot_coarse_1cell")._1 /
        interval("interval_hot_sized_60s")._1
      val hotTuned = interval("interval_hot_coarse_1cell")._1 /
        interval("interval_hot_tuned")._1
      val hotKeyed = interval("interval_hot_coarse_1cell")._1 /
        interval("interval_hot_keyed_coarse")._1
      f"""  "interval": {
         |    "what": "bucketed interval-join posture: unkeyed = FIXED window set vs growing events (healthy ~linear; unkeyed both-sides-growth is intrinsically quadratic output, the keyed form is the scale shape), keyed = both sides grow on disjoint keys (healthy ~linear, flat peak mem); hot = 2k one-minute windows + 200k events inside ONE hour, measured with broadcast DISABLED because that is the 100 TB plan (at this synthetic size AQE broadcasts a side and the funnel never forms; at scale neither side broadcasts): coarse bucketSec=3600 makes the hour a single cell so every pair funnels through ONE shuffle partition's task, sized bucketSec=60 spreads the same work over 60 cells (the 'bucketSec ≈ median window length' doc rule, measured), interval_hot_tuned is Temporal.tuneBucketSec's auto-pick on the same fixture (healthy = bucket_sec_tuned_hot 60 and hot_tuned_speedup ~ hot_sized_bucket_speedup), keyed-at-coarse spreads the cell over the 100 keys instead (the hot-range claim of the keyed form, measured)",
         |    "bucket_sec": 1800, "time_growth_10x_unkeyed_fixed_windows": $gU%.2f, "time_growth_10x_keyed": $gK%.2f,
         |    "bucket_sec_tuned_hot": $tunedHotBucket,
         |    "hot_sized_bucket_speedup": $hotSized%.2f, "hot_tuned_speedup": $hotTuned%.2f, "hot_keyed_speedup": $hotKeyed%.2f,
         |    ${intervalOps.map(_._1).map(block).mkString(",\n    ")}}""".stripMargin
    }

    // ---- LM-family posture -----------------------------------------
    // rarityScore / lmScore / lmScoreBigram build VOCABULARY-sized model
    // tables and join the exploded corpus against them. The 10x corpus
    // salts tokens per shard, so its vocabulary ALSO grows ~10x — the
    // adversarial case for the unhinted model-table join (AQE broadcasts
    // a small vocab; a blown-up one must degrade to a shuffled join, not
    // an OOM). Healthy = ~linear time, flat-ish peak mem, and the
    // model_join_10x field names the join strategy AQE actually chose on
    // the big vocab (evidence for / against needing a hashed-bucket twin
    // — the DSIR 4096-bucket trick — at real scale).
    def lmOps: Seq[(String, DataFrame => DataFrame)] = Seq(
      "lm_rarity" -> (d => TextStats.rarityScore(d, "doc_id", "text")),
      "lm_unigram" -> (d => TextStats.lmScore(d, "doc_id", "text")),
      "lm_bigram" -> (d => TextStats.lmScoreBigram(d, "doc_id", "text")))
    def vocabOf(d: DataFrame): Long = d
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(countDistinct(col("t"))).head.getLong(0)
    // drive the df's OWN AdaptiveSparkPlanExec to completion, then read
    // the final plan string — .explain before execution shows
    // isFinalPlan=false with the pre-AQE strategy, which is exactly the
    // wrong thing to report here
    def aqeJoins(d: DataFrame): String = {
      val qe = d.queryExecution
      qe.executedPlan.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val s = qe.executedPlan.toString
      Seq("BroadcastHashJoin" -> "broadcast",
          "ShuffledHashJoin" -> "shuffled_hash",
          "SortMergeJoin" -> "sort_merge")
        .collect { case (k, v) if s.contains(k) => v }.mkString("+")
    }
    val lm = lmOps.map { case (name, f) =>
      corpora.foreach { case (_, d) => consume(f(d)) } // warmup
      val runs = corpora.map { case (lbl, d) =>
        lbl -> timedRuns(() => consume(f(d))) }.toMap
      name -> ((runs("1x"), runs("10x"), aqeJoins(f(corpora.toMap.apply("10x")))))
    }
    val lmJson = {
      val blocks = lm.map { case (name, ((s1, m1, sp1), (s10, m10, sp10), joins)) =>
        f""""$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
           |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
           |      "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}, "model_join_10x": "$joins"}""".stripMargin
      }
      f"""  "lm_family": {
         |    "what": "vocab-model text scorers at 1x vs 10x where the VOCABULARY also grows ~10x (per-shard token salting — the adversarial case for the model-table join): healthy = ~linear time, no OOM, and model_join_10x records the strategy AQE chose for the blown-up vocab table (broadcast = still small enough; sort_merge/shuffled_hash = degraded gracefully, the designed fallback rarityScore's no-hint comment documents). CAVEAT: the synthetic corpus draws from a tiny vocabulary (vocab_1x/vocab_10x below), so this measurement cannot push the vocab table past the broadcast threshold — which is why the engine also ships lmScoreHashed (oracled q_lm_hashed): its model table is <= 4096 rows BY CONSTRUCTION, broadcastable at any corpus size, closing the question the measurement can't reach",
         |    "vocab_1x": ${vocabOf(corpora.toMap.apply("1x"))}, "vocab_10x": ${vocabOf(corpora.toMap.apply("10x"))},
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- boilerplate-removal posture -------------------------------
    // dropBoilerplate is one explode + two shuffles (segment-hash df
    // table with an exchange-reused join back, then the per-doc
    // regroup). Healthy = ~linear time, flat peak mem, and the dropped
    // instance count grows EXACTLY 10x: shards are token-salted, so
    // cross-shard segments never merge and each shard replicates the
    // base corpus's df profile — any deviation from 10.00 would mean
    // segment-hash collisions or cross-shard leakage.
    def boiler(d: DataFrame) = Curate.dropBoilerplate(
      d, "doc_id", "text", minDocs = 3, out = "clean", chunkTokens = 3)
    corpora.foreach { case (_, d) => consume(boiler(d)) } // warmup
    val bRuns = corpora.map { case (lbl, d) =>
      var nb = 0L
      val t = timedRuns(() =>
        nb = boiler(d).agg(sum(col("n_boiler"))).head.getLong(0))
      lbl -> ((nb, t))
    }.toMap
    val boilerJson = {
      val (nb1, (s1, m1, sp1)) = bRuns("1x")
      val (nb10, (s10, m10, sp10)) = bRuns("10x")
      f"""  "boilerplate": {
         |    "what": "cross-document boilerplate removal (3-token segments, minDocs=3) at 1x vs 10x: one explode + two shuffles; healthy = ~linear time, flat peak mem, boiler_growth exactly 10.00 (token-salted shards cannot share segments, so each shard replicates the base df profile — a deviation would mean hash collisions or cross-shard leakage)",
         |    "boiler_1x": $nb1, "boiler_10x": $nb10, "boiler_growth": ${nb10.toDouble / math.max(1, nb1)}%.2f,
         |    "sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
         |    "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
         |    "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}}""".stripMargin
    }

    // ---- distilled-classifier + divergence posture ------------------
    // X86's two passes and X87's corpus pair at 1x/10x. classifier_score
    // is a narrow literal-weight projection (the serving claim);
    // classifier_step is one full-batch GD step — a corpus scan ending
    // in a (d+1)-double average, the per-iteration training cost;
    // divergence is two vocab-sized aggregations + one vocab-sized
    // full-outer join between the even/odd doc_id halves.
    val distillJson = {
      val cols = Seq("f_len", "f_wlen", "f_stop")
      val w = SparkEntry.QualityClassifierWeights
      def feats(d: DataFrame): DataFrame =
        Classifier.textFeatures(d, "doc_id", "text")
          .withColumn("y", Classifier.heuristicLabel(0.5))
      val ops: Seq[(String, DataFrame => Unit)] = Seq(
        "classifier_score" -> (d => consume(
          Classifier.scoreWith(feats(d), cols, w.head, w.tail, "score"))),
        "classifier_step" -> (d => {
          Classifier.gradientStep(feats(d), cols, "y",
            0.0, Seq(0.0, 0.0, 0.0), lr = 5.0)
          ()
        }),
        "divergence" -> (d => {
          TextStats.corpusDivergence(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 2 === 1), "text").head()
          ()
        }))
      val blocks = ops.map { case (name, f) =>
        corpora.foreach { case (_, d) => f(d) } // warmup
        val runs = corpora.map { case (lbl, d) =>
          lbl -> timedRuns(() => f(d))
        }.toMap
        val (s1, m1, sp1) = runs("1x")
        val (s10, m10, sp10) = runs("10x")
        f""""$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
           |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
           |      "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}}""".stripMargin
      }
      s"""  "distill": {
         |    "what": "X86 distilled quality filter + X87 corpus divergence at 1x/10x corpus: classifier_score = frozen-weight serving (narrow literal-weight projection — the zero-shuffle claim), classifier_step = one full-batch GD step (corpus scan ending in a (d+1)-double average — the per-iteration training cost; weights are driver metadata), divergence = even/odd-half KL (two vocab-sized aggregations + one vocab-sized full-outer join + 1-row broadcast totals). Healthy = ~linear time, flat peak_task_mem, spill 0 throughout",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- selection-family posture (X89 fill + X91 span removal) -----
    // span_removal is boilerplate's cost shape at shingle granularity
    // (one explode + hash-df groupBy + flag-join + per-doc regroup);
    // removed-token growth must be EXACTLY 10.00 on token-salted shards
    // (cross-shard shingles never match, so each shard replicates the
    // base corpus's duplication profile). The fill pair measures X89's
    // design claim: the exact form's per-domain window sorts each
    // domain's whole slice in one task (state grows with the corpus),
    // the binned twin's solver state is #domains × 4096 bin rows and
    // only the marginal bin's 1/4096 slice ever sorts together.
    val selectionJson = {
      def spanRm(d: DataFrame) =
        Dedup.removeDuplicateSpans(d, "doc_id", "text", k = 8, minDocs = 2)
      corpora.foreach { case (_, d) => consume(spanRm(d)) } // warmup
      val srRuns = corpora.map { case (lbl, d) =>
        var rm = 0L
        val t = timedRuns(() =>
          rm = spanRm(d).agg(sum(col("n_removed"))).head.getLong(0))
        lbl -> ((rm, t))
      }.toMap
      // fill inputs precomputed and MATERIALIZED outside the timed body:
      // the section times the admission pass, not feature scoring or the
      // #domains-row solve (budget = 10% of each corpus's tokens, so the
      // admitted volume scales with the corpus)
      val cols = Seq("f_len", "f_wlen", "f_stop")
      val wts = SparkEntry.QualityClassifierWeights
      val fillInputs = corpora.map { case (lbl, d) =>
        val dom = d.withColumn("dom",
          concat(lit("d"), (col("doc_id") % 7).cast("string")))
        val scored = Classifier.scoreWith(
            Classifier.textFeatures(dom, "doc_id", "text"),
            cols, wts.head, wts.tail, "score")
          .join(dom.select(col("doc_id"), col("dom")), Seq("doc_id"))
        val scPath = s"$scratch/scored_$lbl"
        scored.write.mode("overwrite").parquet(scPath)
        val avail = Mixture.domainTokens(dom, "dom", "text")
        val budget = avail.agg(sum(col("tokens_avail"))).head.getLong(0) / 10
        val alloc = Mixture.solveBudget(avail, "dom", Map.empty, budget)
        lbl -> ((spark.read.parquet(scPath), alloc))
      }.toMap
      val fillOps: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
        "fill_exact" -> ((sc, al) =>
          Mixture.fillByQuality(sc, "doc_id", "dom", "n_tokens", "score",
            al)),
        "fill_binned" -> ((sc, al) =>
          Mixture.applyThresholds(sc, "doc_id", "dom", "n_tokens", "score",
            Mixture.fillThresholds(sc, "dom", "n_tokens", "score", al))))
      val fillBlocks = fillOps.map { case (name, f) =>
        fillInputs.foreach { case (_, (sc, al)) => consume(f(sc, al)) }
        val runs = fillInputs.map { case (lbl, (sc, al)) =>
          var kept = 0L
          val t = timedRuns(() =>
            kept = f(sc, al).filter(col("keep")).count())
          lbl -> ((kept, t))
        }.toMap
        val (k1, (s1, m1, sp1)) = runs("1x")
        val (k10, (s10, m10, sp10)) = runs("10x")
        f""""$name": {"kept_1x": $k1, "kept_10x": $k10, "kept_growth": ${k10.toDouble / math.max(1, k1)}%.2f,
           |      "sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
           |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576},
           |      "spill_mb_1x": ${sp1 / 1048576}, "spill_mb_10x": ${sp10 / 1048576}}""".stripMargin
      }
      val (rm1, (ss1, sm1, ssp1)) = srRuns("1x")
      val (rm10, (ss10, sm10, ssp10)) = srRuns("10x")
      f"""  "selection": {
         |    "what": "X91 span removal + X89 budget fill at 1x/10x corpus: span_removal = cross-doc duplicated-8-shingle cut (explode + hash-df groupBy + flag-join + per-doc regroup; removed_growth must be exactly 10.00 on token-salted shards), fill_exact = per-domain (score desc, id) window with running token sum (each domain sorts whole in one task — the state that grows), fill_binned = 4096-bin histogram thresholds + marginal-bin-only window (solver state bounded by bins). Budget = 10%% of each corpus's tokens so admitted volume scales with the corpus; healthy = ~linear time, binned peak mem <= exact at 10x, spill 0",
         |    "span_removal": {"removed_1x": $rm1, "removed_10x": $rm10, "removed_growth": ${rm10.toDouble / math.max(1, rm1)}%.2f,
         |      "sec_1x": $ss1%.2f, "sec_10x": $ss10%.2f, "time_growth": ${ss10 / ss1}%.2f,
         |      "peak_task_mem_mb_1x": ${sm1 / 1048576}, "peak_task_mem_mb_10x": ${sm10 / 1048576},
         |      "spill_mb_1x": ${ssp1 / 1048576}, "spill_mb_10x": ${ssp10 / 1048576}},
         |    ${fillBlocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- z-order layout posture ------------------------------------
    // writeZOrdered's claim is SELECTIVITY PRESERVED UNDER GROWTH: the
    // fraction of the table a selective predicate actually reads should
    // stay flat as the table grows 10x (file count scales with rows, and
    // the curve keeps every clustering dim locally bounded per file),
    // while the single-sorted baseline reads ~the whole table on its
    // unsorted dim at ANY scale. Constant-selectivity predicates: 2% of
    // the user range (scale-relative), a fixed week of the fixed month.
    val ev = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val uMax = ev.agg(max(col("user_id"))).head.getLong(0) + 1L
    def evTenX: DataFrame = (0 until 10)
      .map(i => ev.withColumn("user_id", col("user_id") + lit(i * uMax)))
      .reduce(_ unionByName _)
    val layoutJson = {
      val scales = Seq(("1x", ev, uMax, 32), ("10x", evTenX, 10 * uMax, 320))
      val blocks = scales.map { case (lbl, d, users, nFiles) =>
        val zp = s"$scratch/layout_z_$lbl"
        val sp = s"$scratch/layout_s_$lbl"
        Layout.writeZOrdered(d, Seq("user_id", "ts"), zp, nFiles)
        Layout.writeSorted(d, "ts", sp, nFiles)
        val total = d.count().toDouble
        val userPred = col("user_id") < lit((users.toDouble * 0.02).toLong)
        val tsPred = col("ts") >= lit("2024-01-08").cast("timestamp") &&
          col("ts") < lit("2024-01-15").cast("timestamp")
        def frac(path: String, pred: Column): Double =
          Layout.rowsScanned(
            Layout.read(spark, path).filter(pred)
              .agg(count(lit(1)), sum("value"))) / total
        def secBoth(path: String): Double =
          timedRuns(() =>
            Layout.read(spark, path).filter(userPred && tsPred)
              .agg(count(lit(1)), sum("value")).collect())._1
        // warmup footers before the timed fraction reads
        Seq(zp, sp).foreach(p => Layout.read(spark, p).count())
        f""""$lbl": {"rows": ${total.toLong},
           |      "z_user_frac": ${frac(zp, userPred)}%.3f, "sorted_user_frac": ${frac(sp, userPred)}%.3f,
           |      "z_ts_frac": ${frac(zp, tsPred)}%.3f, "sorted_ts_frac": ${frac(sp, tsPred)}%.3f,
           |      "z_both_frac": ${frac(zp, userPred && tsPred)}%.3f, "sorted_both_frac": ${frac(sp, userPred && tsPred)}%.3f,
           |      "sec_z_both": ${secBoth(zp)}%.2f, "sec_sorted_both": ${secBoth(sp)}%.2f}""".stripMargin
      }
      f"""  "layout": {
         |    "what": "z-order vs single-sort layouts of the events table at 1x and 10x rows (user dim widened 10x, constant 2%%-of-users + fixed-week predicates): *_frac = fraction of table rows the parquet readers DELIVERED for the predicate (scan numOutputRows / rows — row-group pruning measured, not claimed). Healthy = z_* fractions flat under growth and far under the sorted layout's unsorted-dim fraction (~1.0); sorted_ts_frac stays small because ts IS its sort key",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- bloom semi-join reduction posture --------------------------
    // THREE-WAY and honest: (a) naive = engine's runtime bloom rewrite
    // DISABLED, plain shuffled join — the pre-Spark-3.3 baseline; (b)
    // engine = the rewrite left ON, plain join — what the optimizer now
    // injects by itself; (c) explicit = rewrite disabled, our
    // Joins.bloomReducedJoin with a right-sized sketch. The first cut of
    // this section measured only plain-vs-explicit and found ratio 1.0 —
    // because the ENGINE was already bloom-filtering the "plain" join;
    // the naive row exists so the artifact shows that, instead of
    // quietly flattering or damning either form. Broadcast disabled
    // throughout (the at-scale plan). Dim = every 29th user (~3.4%
    // selectivity).
    val joinJson = {
      // Materialize the dim through parquet to SEVER LINEAGE: a dim
      // derived in-plan from the fact table propagates its key predicate
      // onto the fact via constraint inference, and every variant
      // (including "naive") quietly pre-filters itself — the first two
      // cuts of this section measured 1.0x for exactly this reason. A
      // file-backed dim models the real case: keys from another source
      // the optimizer can know nothing about.
      def dimOf(lbl: String, d: DataFrame): DataFrame = {
        val p = s"$scratch/join_dim_$lbl"
        d.filter(col("user_id") % 29 === 0)
          .select(col("user_id")).distinct()
          .withColumn("dim_tag", concat(lit("u"), col("user_id")))
          .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      val RtFilter = "spark.sql.optimizer.runtime.bloomFilter.enabled"
      val blocks = Seq(("1x", ev), ("10x", evTenX)).map { case (lbl, d) =>
        val dim = dimOf(lbl, d)
        // per bloomKeyFilter's contract, size the sketch to the REAL dim
        // cardinality — one hardcoded size across scales would saturate
        // at 10x and inflate the explicit lane's false-positive traffic
        val dimKeys = math.max(64L, dim.count())
        noBroadcast {
          val (secN, shN) = withConfs(RtFilter -> "false")(
            warmShuffle(() => consume(d.join(dim, Seq("user_id")))))
          val (secE, shE) = withConfs(RtFilter -> "true")(
            warmShuffle(() => consume(d.join(dim, Seq("user_id")))))
          val (secX, shX) = withConfs(RtFilter -> "false")(
            warmShuffle(() => consume(
              graft.ops.Joins.bloomReducedJoin(d, dim, "user_id",
                expectedDimKeys = dimKeys))))
          f""""$lbl": {"naive_shuffle_mb": ${shN / 1048576.0}%.2f, "engine_shuffle_mb": ${shE / 1048576.0}%.2f, "explicit_shuffle_mb": ${shX / 1048576.0}%.2f,
             |      "naive_sec": $secN%.2f, "engine_sec": $secE%.2f, "explicit_sec": $secX%.2f,
             |      "reduction_vs_naive_engine_x": ${shN.toDouble / math.max(1L, shE)}%.1f, "reduction_vs_naive_explicit_x": ${shN.toDouble / math.max(1L, shX)}%.1f}""".stripMargin
        }
      }
      f"""  "join_reduction": {
         |    "what": "semi-join reduction on a ~3.4%%-selective FILE-BACKED dim join (lineage severed — an in-plan derived dim lets constraint inference pre-filter the fact in every variant, which is what the first cuts of this section measured as a false 1.0x) at 1x/10x events, broadcast disabled, three ways: naive = Catalyst's runtime bloom rewrite OFF + plain sort-merge join (the full-fact-shuffle baseline), engine = rewrite ON (what the optimizer injects by itself), explicit = rewrite OFF + Joins.bloomReducedJoin (right-sized driver sketch). Healthy = engine and explicit shuffle volumes comparable, both far under naive, ratios holding at 10x; the explicit form's remaining role is reusable sketches and shapes the rewrite declines",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- OCC transaction-log posture ---------------------------------
    // The X103 log's one scale exposure is the driver-side snapshot
    // fold: O(#commits since init) until a checkpoint exists, O(tail)
    // after. Measured at 1x/10x COMMIT counts (30 vs 300 one-row
    // appends — data size is irrelevant to the fold, only log length):
    // fold latency before a checkpoint must grow with commits (the
    // exposure, demonstrated), after a checkpoint it must be ~flat
    // across the 10x (the fix, demonstrated); append latency itself
    // must stay flat in log length (stage + claim never fold history —
    // appendStream does fold for its fence, which the checkpoint also
    // bounds).
    val occJson = {
      import graft.sources.OccTable
      def foldMs(p: String): Double = {
        val t = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          OccTable.snapshot(spark, p)
          (System.nanoTime() - t0) / 1e6
        }
        t.min
      }
      val blocks = Seq(("1x", 30), ("10x", 300)).map { case (lbl, n) =>
        val p = s"$scratch/occ_$lbl/t"
        val one = spark.range(1).selectExpr("id", "id AS v")
        OccTable.init(one, p)
        (1 to n).foreach(_ => OccTable.append(one, p))
        val foldNoChk = foldMs(p)
        val t0 = System.nanoTime()
        OccTable.append(one, p)
        val appendMs = (System.nanoTime() - t0) / 1e6
        OccTable.checkpoint(spark, p)
        val foldChk = foldMs(p) // X141 pointer-guided: LISTING-FREE open
        // the same fold with the pointer REMOVED (legacy logs): pays
        // the O(#commits) directory listing the pointer eliminates —
        // the difference is the X141 win WITHOUT any truncation
        val ptr = OccTable.lastCheckpointPointerPath(p)
        val fsysP = ptr.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        fsysP.delete(ptr, false)
        val foldChkListing = foldMs(p)
        OccTable.checkpoint(spark, p) // idempotent; rewrites the pointer
        // the FULL maintenance trio: compaction bounds live files (the
        // checkpoint's add-list length), checkpoint bounds log reads,
        // truncation bounds the directory listing
        OccTable.rewrite(spark, p, d => d.coalesce(1))
        OccTable.checkpoint(spark, p)
        val foldMaint = foldMs(p)
        OccTable.truncateLog(spark, p)
        val foldTrunc = foldMs(p)
        f""""$lbl": {"commits": ${n + 2}, "fold_ms_no_checkpoint": $foldNoChk%.1f, "fold_ms_checkpointed": $foldChk%.1f, "fold_ms_checkpointed_listing": $foldChkListing%.1f, "fold_ms_compacted_checkpointed": $foldMaint%.1f, "fold_ms_truncated": $foldTrunc%.1f, "append_ms": $appendMs%.1f}"""
      }
      s"""  "occ_log": {
         |    "what": "X103 transaction-log fold cost at 1x/10x COMMIT count (30 vs 300 one-row appends; the fold reads log files, so only log length matters): fold_ms_no_checkpoint grows with commits — the documented exposure; fold_ms_checkpointed is the X141 _last_checkpoint open (pointer read + one .chk + existence-probed tail, NO directory listing) and must be ~flat across the 10x WITHOUT truncation; fold_ms_checkpointed_listing is the same state with the pointer deleted (legacy logs) — it pays the O(#commits) listing the pointer eliminates; fold_ms_compacted_checkpointed adds compaction (bounds live files); fold_ms_truncated adds log truncation (bounds even the legacy listing); append_ms must stay flat at every log length (stage + atomic claim never fold history)",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- graft-occ connector relation-open posture (X148) -----------
    // The connector's one scale exposure was the relation open:
    // pre-X148 it listed the table root and issued one getFileStatus
    // RPC per absolute-path file, O(#files) serial driver work on a
    // clone. With sizes in the log, open cost must be ~flat 1x -> 10x
    // FILES; the legacy row (fs= stamps stripped from the log) pays
    // the listing/stat fallback the log now eliminates.
    val occOpenJson = {
      import graft.sources.{OccFileIndex, OccTable}
      def openMs(dir: String): Double = {
        val snap = OccTable.snapshot(spark, dir)
        (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          val idx = new OccFileIndex(spark, dir, snap, snap.schema.get)
          idx.listFiles(Seq.empty, Seq.empty)
          (System.nanoTime() - t0) / 1e6
        }.min
      }
      val blocks = Seq(("1x", 40), ("10x", 400)).map { case (lbl, n) =>
        val p = s"$scratch/occ_open_$lbl/t"
        OccTable.init(spark.range(n * 10L).selectExpr("id", "id AS v")
          .repartition(n), p)
        val sized = openMs(p)
        // the CLONE open: every reference absolute — the shape that was
        // one serial RPC per file before the log carried sizes
        val cp = s"$scratch/occ_open_$lbl/fork"
        OccTable.clone(spark, p, cp)
        val clone = openMs(cp)
        // legacy log: strip the fs= stamps -> listing + per-file stats
        val legacy = s"$scratch/occ_open_$lbl/legacy"
        OccTable.clone(spark, p, legacy)
        val lfs = new org.apache.hadoop.fs.Path(legacy)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val v0 = new org.apache.hadoop.fs.Path(
          s"$legacy/_graft_occ/" + "v" + "0" * 20)
        val in = lfs.open(v0)
        val body = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString finally in.close()
        val stripped = body.linesIterator.map(
          _.split('\t').filterNot(_.startsWith("fs=")).mkString("\t"))
          .mkString("", "\n", "\n")
        val out = lfs.create(v0, true)
        try out.write(stripped.getBytes("UTF-8")) finally out.close()
        val legacyMs = openMs(legacy)
        f""""$lbl": {"files": $n, "open_ms_sized_log": $sized%.1f, "open_ms_clone_sized": $clone%.1f, "open_ms_clone_legacy": $legacyMs%.1f}"""
      }
      s"""  "occ_connector_open": {
         |    "what": "graft-occ relation open (FileIndex build + listFiles) at 1x/10x FILE count: open_ms_sized_log and open_ms_clone_sized build from log-recorded (size, modTime) — X148, Delta AddFile.size parity — with ZERO per-file filesystem calls (spec-pinned by OccFileMetaSpec), so remaining growth is in-memory O(#files) map/prune work at ~15us/file, not I/O; open_ms_clone_legacy strips the fs= stamps, paying the per-absolute-file getFileStatus loop the log eliminates (the r18 weak, kept measurable — ~2.5x slower already on LOCAL-fs ~20us stats; on object storage at ~10-50ms per RPC the eliminated loop is the 1000x that kills a 10^6-file open)",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- file-level data-skipping posture ---------------------------
    // Log-stats pruning at scale: the fraction of FILES a fixed-week
    // predicate opens must stay ~week/range flat as the table (and its
    // file count) grows 10x, and the pruned scan must not be slower than
    // the full scan it replaces. File count scales with rows, as a real
    // lake's does.
    val fileskipJson = {
      val (lo, hi) = SparkEntry.fileSkipWeek(spark)
      val blocks = Seq(("1x", ev, 32), ("10x", evTenX, 320)).map {
        case (lbl, d, nFiles) =>
          val t = s"$scratch/fskip_$lbl"
          OccTable.init(d.repartitionByRange(nFiles, col("ts"))
            .sortWithinPartitions("ts"), t, statsColumns = Seq("ts"))
          val total = OccTable.snapshot(spark, t).files.size
          def pruned() = OccTable.readPruned(spark, t, "ts",
            lo.toDouble, hi.toDouble)
          val opened = pruned().inputFiles.length
          def fullScan() = OccTable.read(spark, t)()
            .filter(col("ts").between(timestamp_micros(lit(lo)),
              timestamp_micros(lit(hi))))
            .agg(count(lit(1)), sum("value")).collect()
          def skipped() = pruned().agg(count(lit(1)), sum("value")).collect()
          val secFull = timedRuns(() => fullScan())._1
          val secSkip = timedRuns(() => skipped())._1
          f""""$lbl": {"files_total": $total, "files_opened": $opened,
             |      "open_frac": ${opened.toDouble / total}%.3f, "sec_full": $secFull%.2f, "sec_skip": $secSkip%.2f}""".stripMargin
      }
      f"""  "fileskip": {
         |    "what": "OCC log-stats pruning (OccTable.readPruned on per-file ts [min, max]) for a fixed-week ts predicate over a ts-clustered events table whose file count grows with the table (32 -> 320): files_opened/files_total = files the pruned scan plans at all (skipped files are never opened — no footer, no task). The graded number is open_frac: ~week/range and FLAT at 10x. Wall-clock at THIS scale favors neither form (sub-second scans; row-group pruning already covers the full scan at 320 files) — the skip economics are per-file costs times file count, i.e. the 10k+-file regime, where footer opens and task scheduling dominate and the pruning stays O(#files) driver work off the log snapshot",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- OCC maintenance posture (bloom lookup + merge churn) -------
    // X126/X127's value proposition at scale: a point lookup's PLANNED
    // file count must stay ~holders + fpp x total as the table's file
    // count grows 10x (the fraction drops; the absolute count barely
    // moves), and a fixed-key-range MERGE must rewrite ~the same few
    // candidate files while everything else passes through untouched.
    val occMaintJson = {
      val eMax = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
      def evTenXIds: DataFrame = (0 until 10)
        .map(i => ev.withColumn("event_id", col("event_id") + lit(i * eMax)))
        .reduce(_ unionByName _)
      // the third decade (2,400 files) keeps the 10x DATA but shatters
      // it into 100x FILES — planning cost is a pure function of file
      // count, and this is the regime the r17 DISTRIBUTED bloom probe
      // exists for: above BloomProbeDriverMax the sidecar reads run as
      // a Spark job, so sec_lookup must stay near-flat while a serial
      // driver loop would grow ~linearly with files
      val blocks = Seq(("1x", ev, 24), ("10x", evTenXIds, 240),
        ("100x_files", evTenXIds, 2400)).map {
        case (lbl, d, nFiles) =>
          val t = s"$scratch/occmaint_$lbl/t"
          OccTable.init(d.repartitionByRange(nFiles, col("event_id")), t,
            statsColumns = Seq("event_id"),
            bloomColumns = Seq(OccBloom.BloomCol("event_id",
              numItems = 100000L, fpp = 0.01)))
          val filesTotal = OccTable.snapshot(spark, t).files.size
          // 16 identity lookups scattered over the BASE id range — the
          // same values exist at both scales
          val ids = (1 to 16).map(i => (i.toLong * (eMax / 17L)).toString)
          var planned = 0
          val secLookup = timedRuns { () =>
            val pruned = OccTable.readEqualityPruned(spark, t,
              "event_id", ids)
            planned = pruned.inputFiles.length
            pruned.agg(count(lit(1)), sum("value")).collect()
            ()
          }._1
          // fixed-key-range CDC batch: every 10th id in the lowest
          // ~2-file stride; single-shot (a merge commits — min-of-3
          // would time the post-merge table, not the apply)
          val src = d.filter(col("event_id") % 10 === 0 &&
            col("event_id") <= eMax / 12L)
            .withColumn("value", -col("value"))
          val t0 = System.nanoTime()
          val res = OccTable.merge(spark, t, src, Seq("event_id"),
            statsColumns = Seq("event_id"))
          val secMerge = (System.nanoTime() - t0) / 1e9
          f""""$lbl": {"files_total": $filesTotal, "lookup_planned": $planned,
             |      "lookup_frac": ${planned.toDouble / filesTotal}%.3f, "sec_lookup": $secLookup%.2f,
             |      "merge_candidates": ${res.candidateFiles}, "merge_total": ${res.totalFiles}, "sec_merge": $secMerge%.2f}""".stripMargin
      }
      f"""  "occ_maintenance": {
         |    "what": "X126 bloom lookup + X127 merge churn on a key-clustered OCC table across three file-count decades (24 -> 240 -> 2400; the third keeps 10x data but 100x files — planning cost is a function of FILE COUNT): lookup_planned = files the 16-id equality read plans (bloom sidecar probes; healthy = ~holder files + fpp x total, so lookup_frac DROPS while the absolute count barely moves), sec_lookup must stay near-flat into the 2400-file decade because the r17 probe distributes sidecar IO across executors above BloomProbeDriverMax (a serial driver loop would grow ~linearly with files), merge_candidates/merge_total = files a fixed-key-range CDC merge rewrites vs the table (healthy = flat absolute candidates; everything else passes through physically). sec_merge is single-shot (a merge commits; re-running would time the post-merge table)",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- co-located bucketed join posture ---------------------------
    // The exchange-elimination claim as numbers: the same fact-fact
    // user_id join measured plain (both sides shuffled every query) vs
    // off pre-bucketed tables (zero join-side exchange), broadcast
    // disabled — at 100 TB neither side broadcasts. Healthy = bucketed
    // shuffle ~0 at every scale while plain grows with the data; the
    // write-time bucketing shuffle is paid ONCE, not per query.
    val bucketedJson = {
      val blocks = Seq(("1x", ev), ("10x", evTenX)).map { case (lbl, d) =>
        val fact = d.select("event_id", "user_id", "ts", "value")
        val users = d.groupBy("user_id")
          .agg(count(lit(1)).as("u_n"), avg("value").as("u_avg"))
        val fp = s"$scratch/bj_fact_$lbl"
        val up = s"$scratch/bj_users_$lbl"
        fact.write.mode("overwrite").parquet(fp)
        users.write.mode("overwrite").parquet(up)
        val (tf, tu) = (s"pz_fact_$lbl".replace(".", "_"),
          s"pz_users_$lbl".replace(".", "_"))
        val wh = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"))
        val whFs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq(tf, tu).foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS $t")
          whFs.delete(new org.apache.hadoop.fs.Path(wh, t), true)
        }
        Layout.writeBucketed(spark.read.parquet(fp), tf, "user_id", 32)
        Layout.writeBucketed(spark.read.parquet(up), tu, "user_id", 32)
        noBroadcast {
          val (secP, shP) = warmShuffle(() => consume(
            spark.read.parquet(fp).join(spark.read.parquet(up), "user_id")))
          val (secB, shB) = warmShuffle(() => consume(
            spark.table(tf).hint("merge").join(spark.table(tu), "user_id")))
          f""""$lbl": {"plain_shuffle_mb": ${shP / 1048576.0}%.2f, "bucketed_shuffle_mb": ${shB / 1048576.0}%.2f,
             |      "plain_sec": $secP%.2f, "bucketed_sec": $secB%.2f}""".stripMargin
        }
      }
      f"""  "bucketed_join": {
         |    "what": "fact-fact user_id join at 1x/10x events, broadcast disabled: plain = both parquet sides exchanged per query (the recurring cost), bucketed = both sides pre-bucketed+sorted on the key (32 buckets) and merge-joined. Healthy = bucketed_shuffle_mb ~0 at every scale while plain grows ~10x; the one-time write shuffle is amortized across every subsequent join on the key",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- BPE trainer posture ----------------------------------------
    // The trainer's core claim measured: the one-time wordCounts pass
    // scales with the CORPUS, but each merge iteration touches only the
    // (word, count) VOCABULARY. Fixture: 10x by replication (same text,
    // new doc ids) — word frequencies grow 10x, word identities don't,
    // which is the natural-language shape (Heaps' law: vocab grows far
    // sublinearly in corpus size). Healthy = sec_per_merge flat while
    // the corpus (and its wordCounts pass) grows 10x. The salted dedup
    // corpus would be the WRONG fixture here — salting multiplies
    // vocabulary 10x by construction and would charge the trainer for
    // a vocabulary explosion the measurement itself created.
    val bpeJson = {
      val rep10 = (0 until 10)
        .map(i => base.withColumn("doc_id", col("doc_id") + lit(i * stride)))
        .reduce(_ unionByName _)
      val blocks = Seq(("1x", base), ("10x", rep10)).map { case (lbl, d) =>
        val t0 = System.nanoTime()
        val vocab = graft.ext.Bpe.wordCounts(d, "text").count()
        val secWc = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val merges = graft.ext.Bpe.train(d, "text", nMerges = 8)
        val secTrain = (System.nanoTime() - t1) / 1e9
        val perMerge = math.max(0.0, secTrain - secWc) / 8
        f""""$lbl": {"rows": ${d.count()}, "vocab": $vocab, "merges": ${merges.size},
           |      "sec_wordcounts": $secWc%.2f, "sec_train8": $secTrain%.2f, "sec_per_merge": $perMerge%.2f}""".stripMargin
      }
      f"""  "bpe": {
         |    "what": "BPE merge training at 1x/10x corpus (replication 10x: frequencies scale, vocabulary does not — the Heaps-law shape): sec_wordcounts = the one-time corpus collapse, sec_per_merge = ((train - wordcounts) / 8) per-iteration cost over the bounded vocabulary. Healthy = vocab and sec_per_merge ~flat at 10x while sec_wordcounts grows with the corpus",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- skew posture: naive vs AQE skew-join vs explicit salting ---
    // Hot-key fixture: fact keys derived from user_id with HALF of all
    // rows collapsed onto key 0 (one pathological customer), the rest
    // spread over 1000 keys; dim file-backed (lineage severed, same
    // reason as join_reduction) and broadcast disabled (the at-scale
    // posture). Three ways: naive = AQE skew handling OFF, forced
    // sort-merge join — the hot key is ONE reduce task; aqe = skew-join
    // ON with fixture-scaled thresholds (production defaults trigger at
    // 256 MB / 5x median — scaled to 1 MB so the MB-sized fixture
    // exercises the same mapper-range splitting a TB partition would);
    // salted = skew OFF + Skew.saltedJoin 16 ways. Healthy = aqe and
    // salted both collapse max_task_ms vs naive and hold at 10x; where
    // the two tie, the explicit rewrite's remaining role is the shapes
    // AQE cannot split (hot-key groupBy/aggregation state, join
    // strategies that bypass the shuffle, stream-static joins).
    val skewJson = {
      def factOf(lbl: String, d: DataFrame): DataFrame = {
        val p = s"$scratch/skew_fact_$lbl"
        d.select(
          // non-hot keys derive from user_id >> 1 so the odd half of
          // ids covers ALL 1000 residues (user_id % 1000 over odd ids
          // would only hit the ~500 odd ones)
          when(pmod(col("user_id"), lit(2)) === 0, 0L)
            .otherwise(pmod(shiftright(col("user_id"), 1), lit(1000))).as("k"),
          col("value"))
          .write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      }
      val dimP = s"$scratch/skew_dim"
      spark.range(1000).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("dim_tag"))
        .write.mode("overwrite").parquet(dimP)
      val dim = spark.read.parquet(dimP)
      val facts = Seq(("1x", factOf("1x", ev)), ("10x", factOf("10x", evTenX)))
      // min-of-3 wall (host-stall defense, same as timedRuns); max
      // single-run hot-task time — the skew observable (naive's hot
      // task recurs every run, so max across runs is stable)
      def measure3(body: () => Unit): (Double, Long, Long) = {
        val (sec, rs) = minOf3(body)
        (sec, rs.map(_.maxTaskMs).max, rs.map(_.peakTaskMem).max)
      }
      val variants: Seq[(String, Seq[(String, String)], DataFrame => DataFrame)] = Seq(
        ("naive",
          Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          f => f.hint("merge").join(dim, "k")),
        ("aqe",
          Seq("spark.sql.adaptive.skewJoin.enabled" -> "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2"),
          f => f.hint("merge").join(dim, "k")),
        ("salted",
          Seq("spark.sql.adaptive.skewJoin.enabled" -> "false"),
          f => graft.ops.Skew.saltedJoin(f, dim, "k", "value", 16)))
      val blocks = withConfs(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        // warmup once per (variant, scale) so codegen/footers are charged
        // to nobody, exactly like every other family
        variants.foreach { case (_, confs, f) =>
          withConfs(confs: _*)(facts.foreach { case (_, d) => consume(f(d)) })
        }
        variants.map { case (name, confs, f) =>
          val runs = withConfs(confs: _*) {
            facts.map { case (lbl, d) =>
              lbl -> measure3(() => consume(f(d)))
            }.toMap
          }
          val (s1, t1, m1) = runs("1x")
          val (s10, t10, m10) = runs("10x")
          f""""$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
             |      "max_task_ms_1x": $t1, "max_task_ms_10x": $t10,
             |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576}}""".stripMargin
        }
      }
      // The join story above reads "AQE wins, salting is residual" — so
      // MEASURE the residual: hot-key AGGREGATION, where AQE's skew
      // splitting does not apply (a skewed aggregate partition cannot be
      // split — merging partial states across splits is exactly what the
      // aggregate's own partial/final split already does, and only if
      // the aggregate is mergeable). Exact percentile is the canonical
      // non-mergeable aggregate: every value of the hot key is buffered
      // in ONE task, so its state grows with the data. The engine's
      // rewrite is the mergeable sketch (percentile_approx, the
      // quantilesApproxBound scale path): map-side partials, bounded
      // state, same shuffle.
      val hotAggBlocks = {
        // exact percentile's value buffer is UNTRACKED on-heap object
        // memory (ObjectHashAggregate imperative buffers bypass the
        // task memory manager — peakExecutionMemory reads 0; that
        // untrackability is itself part of the hazard: the hot key
        // dies as GC/OOM, never as a graceful spill). To expose the
        // growth through a TRACKED observable, the exact variant
        // disables ObjectHashAggregate so the plan sort-aggregates:
        // the hot partition's SORT is tracked memory that grows with
        // the data — the honest, visible proxy for "exact quantile
        // state scales with the group"
        val variants: Seq[(String, Seq[(String, String)],
            DataFrame => DataFrame)] = Seq(
          ("hot_agg_exact",
            Seq("spark.sql.execution.useObjectHashAggregateExec" -> "false"),
            f => f.groupBy(col("k"))
              .agg(expr("percentile(value, 0.5)").as("med"))),
          ("hot_agg_sketch", Seq.empty,
            f => f.groupBy(col("k"))
              .agg(percentile_approx(col("value"), lit(0.5), lit(10000))
                .as("med"))))
        variants.foreach { case (_, confs, f) =>
          withConfs(confs: _*)(
            facts.foreach { case (_, d) => consume(f(d)) }) // warmup
        }
        variants.map { case (name, confs, f) =>
          val runs = withConfs(confs: _*) {
            facts.map { case (lbl, d) =>
              lbl -> measure3(() => consume(f(d)))
            }.toMap
          }
          val (s1, t1, m1) = runs("1x")
          val (s10, t10, m10) = runs("10x")
          f""""$name": {"sec_1x": $s1%.2f, "sec_10x": $s10%.2f, "time_growth": ${s10 / s1}%.2f,
             |      "max_task_ms_1x": $t1, "max_task_ms_10x": $t10,
             |      "peak_task_mem_mb_1x": ${m1 / 1048576}, "peak_task_mem_mb_10x": ${m10 / 1048576}}""".stripMargin
        }
      }
      s"""  "skew": {
         |    "what": "hot-key posture at 1x/10x events (50% of fact rows on ONE key). JOIN half (1000-key file-backed dim, broadcast disabled, forced sort-merge), three ways: naive = AQE skew-join OFF (the hot key is one reduce task), aqe = skew-join ON with fixture-scaled thresholds (1 MB vs the 256 MB production default — same mapper-range splitting, sized to the fixture), salted = Skew.saltedJoin 16 ways. The join discriminator at this fixture size is peak_task_mem: naive's hot reduce task GROWS with the data (the executor-OOM path a 100 TB hot key rides) while aqe and salted hold flat; max_task_ms sits on the scheduling floor here. Reading: AQE is the default join answer (flat memory, best wall time, zero code). AGGREGATION half — the residual AQE cannot touch (a skewed aggregate partition cannot be split; merging partials across splits is the aggregate's own partial/final split, available only to MERGEABLE aggregates): hot_agg_exact = exact percentile per key, forced onto the sort-aggregate path because the imperative percentile buffer is UNTRACKED on-heap object memory (peakExecutionMemory reads 0 under ObjectHashAggregate — the hot key dies as GC/OOM, never a graceful spill; the tracked hot-partition SORT is the honest visible proxy for state-scales-with-group), hot_agg_sketch = percentile_approx (mergeable GK sketch, map-side partials, bounded state — the quantilesApproxBound scale path). Healthy = exact's peak_task_mem grows with the data while sketch holds flat",
         |    ${blocks.mkString(",\n    ")},
         |    ${hotAggBlocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- drift / value-sketch posture -------------------------------
    // X107/X108/X109 at 1x/10x events. The 10x fixture perturbs value
    // by shard (+i·1e-7) so DISTINCT values grow 10x with the rows —
    // replicated identical values would hand exact KS a flat distinct
    // set and flatter its scaling. Healthy: kll_build and ks_sketch
    // shuffle ~FLAT (a sketch per (key, side) crosses the wire, never
    // values) while ks_exact's shuffle grows with the distinct values;
    // cusum time ~linear (per-key window sort, keys independent).
    val driftJson = {
      def evTenXv: DataFrame = (0 until 10)
        .map(i => ev
          .withColumn("user_id", col("user_id") + lit(i * uMax))
          .withColumn("value", col("value") + lit(i * 1e-7)))
        .reduce(_ unionByName _)
      val scales = Seq(("1x", ev), ("10x", evTenXv))
      val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
        "kll_build" -> (d => d.groupBy(col("event_type"))
          .agg(graft.ops.Kll.sketchColumn(256, col("value")).as("sk"))),
        "ks_exact" -> (d => graft.ops.Drift.ksExact(
          d, "event_type", "value", graft.ops.Drift.secondHalf(d, "ts"))),
        "ks_sketch" -> (d => graft.ops.Drift.ksSketch(
          d, "event_type", "value", graft.ops.Drift.secondHalf(d, "ts"), 256)),
        "cusum" -> (d => graft.ops.Drift.cusumChangepoint(
          d, "event_type", "ts", "value", "event_id")))
      val blocks = shuffleGrid(scales, variants)
      s"""  "drift": {
         |    "what": "value-distribution operators at 1x/10x events (values perturbed per shard so distinct values scale with rows): kll_build = per-key KLL sketch aggregation (X107), ks_exact = exact two-sample KS via distinct-value cumulative windows (X108), ks_sketch = KS off two KLL sketches, cusum = integer CUSUM changepoint windows (X109). Healthy = kll_build/ks_sketch shuffle ~flat (constant-size sketch states cross the wire, not values) while ks_exact shuffle grows with distinct values; cusum/ks_exact time ~linear",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- behavior / frequency-sketch posture ------------------------
    // X112/X113/X114/X115 at 1x/10x events. The 10x fixture shifts
    // user_id per shard (users scale with rows — per-user funnel/cohort
    // work stays constant per user) and shifts value by +i·1000 per
    // shard (floor-bucket item cardinality scales 10x — stresses MG
    // eviction instead of handing it a fixed vocabulary). Healthy:
    // funnel/cohort/transitions time+shuffle ~linear (user-keyed
    // joins/windows, no global window); mg_build shuffle ~FLAT (k
    // counters per group cross the wire, never items).
    val behaviorJson = {
      def evTenXb: DataFrame = (0 until 10)
        .map(i => ev
          .withColumn("user_id", col("user_id") + lit(i * uMax))
          .withColumn("value", col("value") + lit(i * 1000.0)))
        .reduce(_ unionByName _)
      val scales = Seq(("1x", ev), ("10x", evTenXb))
      val variants: Seq[(String, DataFrame => DataFrame)] = Seq(
        "funnel" -> (d => graft.ops.Behavior.funnel(
          d, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), 86400L)),
        "cohort" -> (d => graft.ops.Behavior.cohortRetention(
          d, "user_id", "ts")),
        "transitions" -> (d => graft.ops.Behavior.transitions(
          d, "user_id", "event_type", "ts", "event_id")),
        "mg_build" -> (d => d.filter(col("value").isNotNull)
          .groupBy(col("event_type"))
          .agg(graft.ops.Freq.mgColumn(64,
            floor(col("value")).cast("long").cast("string")).as("sk"))),
        "rfm" -> (d => graft.ops.Behavior.rfmSegments(
          d, "user_id", "ts", "value")),
        "weighted_sample" -> (d => graft.ext.Curate.weightedSystematicSample(
          d.filter(col("value").isNotNull)
            .withColumn("__w", (floor(col("value")) + lit(1L)).cast("long")),
          "event_id", "__w", "ps1", m = 1000, nParts = 32)))
      val blocks = shuffleGrid(scales, variants)
      s"""  "behavior_freq": {
         |    "what": "behavioral analytics + frequency sketch at 1x/10x events (user_id shifted per shard so users scale with rows; value shifted +1000/shard so MG item cardinality scales): funnel = 3-step 24h conversion (X113), cohort = retention matrix (X114), transitions = first-order event pairs (X115), mg_build = per-type Misra-Gries k=64 over floor(value) buckets (X112), rfm = ntile-quartile segmentation (X118, windows over the 1-row-per-user frame), weighted_sample = m=1000 integer stride selection (X116, two-pass range-partitioned prefix sums). Healthy = funnel/cohort/transitions/rfm/weighted_sample time+shuffle ~linear (user- or range-keyed, no global window over raw events); mg_build shuffle ~flat (k counters per group cross the wire, never items)",
         |    ${blocks.mkString(",\n    ")}}""".stripMargin
    }

    // ---- streaming state posture (heap vs RocksDB provider) ---------
    // measured by the dedicated harness; see [[StatePosture]]
    val stateJson = StatePosture.section(spark)

    val nDocs = corpora.toMap.apply("1x").count()
    val json =
      s"""{
         |  "what": "dedup candidate generators on a deterministic 10x corpus (10 disjoint token-salted shards of sf0.1 documents); healthy = cross_shard_pairs 0 (no quadratic leakage), flat peak_task_mem, pair growth linear modulo per-shard threshold re-rolls",
         |  "sf_dir": "$sfDir", "docs_1x": $nDocs, "docs_10x": ${nDocs * 10}, "cpus": $cpus,
         |${results.mkString(",\n")},
         |$simAudit,
         |$simTunedJson,
         |$neardupPolicyJson,
         |$winnowAudit,
         |$resolutionJson,
         |$retrievalJson,
         |$temporalJson,
         |$intervalJson,
         |$lmJson,
         |$boilerJson,
         |$distillJson,
         |$selectionJson,
         |$layoutJson,
         |$joinJson,
         |$occJson,
         |$occOpenJson,
         |$fileskipJson,
         |$occMaintJson,
         |$bucketedJson,
         |$bpeJson,
         |$skewJson,
         |$driftJson,
         |$behaviorJson,
         |$stateJson
         |}""".stripMargin
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("POSTURE_10X.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
