package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Brute-force cosine top-k is the exact baseline: the query vector(s) are
  * broadcast and the corpus is scanned once — O(n·d) with no shuffle of the
  * corpus, and the top-k is a TakeOrderedAndProject (per-partition heaps +
  * driver merge of k×partitions rows), never a global sort.
  *
  * The IVF variant is the scale path: corpus vectors are bucketed by a
  * coarse quantizer (a [[trainQuantizer]] k-means), and the query probes
  * only the closest bucket(s) — at 100 TB this turns a full scan into a
  * pruned partition read when the bucket id is a partition key.
  *
  * All arithmetic is on `array<double>` via codegen'd higher-order
  * functions (`zip_with` + `aggregate`) — floats are cast up ONCE so the
  * accumulation is double-precision.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** NOT routed through [[Scale.fanOut]], measured deliberately (r19):
    * unlike the text kernels (≥8 md5 evaluations per shingle — huge CPU
    * per input byte), the vector kernels are cheap relative to their
    * bytes, so fanning a small corpus out costs more in array<double>
    * shuffle serialization than the kernel saves — q_semdedup's k-means
    * iterations measured 1.8 s → 4.2 s with the fan-out in place.
    */
  private def withDoubleVec(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__e", col(vecCol).cast("array<double>"))

  /** Exact top-k most-cosine-similar corpus rows to the row `queryId`
    * (excluded from results). Deterministic tiebreak on id.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val emb = withDoubleVec(df, vecCol)
    val qv = emb.filter(col(idCol) === queryId).select(col("__e").as("__qe"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qv))
      .withColumn("__cos", cosine(col("__e"), col("__qe")))
      .orderBy(col("__cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("label"), round(col("__cos"), 6).as("cosine"))
  }

  /** [[bruteForceTopK]] with the native codegen'd
    * [[graft.plans.CosineSimilarity]] expression instead of the
    * interpreted higher-order-function formulation — same results
    * bit-for-bit (same summation order), one fused allocation-free loop
    * inside whole-stage codegen. This is the variant to use on large
    * corpora.
    */
  def bruteForceTopKNative(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val emb = withDoubleVec(df, vecCol)
    val qv = emb.filter(col(idCol) === queryId).select(col("__e").as("__qe"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(qv))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col("__e"), col("__qe")))
      .orderBy(col("__cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("label"), round(col("__cos"), 6).as("cosine"))
  }

  /** Scalar-quantized (int8) brute-force top-k — the memory-bandwidth
    * lever of a large ANN tier: database vectors are quantized to 8-bit
    * codes against the corpus-wide [min, max] range (4× smaller than
    * float32 — the format the serving tier keeps resident), and scoring
    * is ASYMMETRIC: codes are reconstructed against the exact query
    * (ADC), so only the database side pays quantization error. The range
    * stats are a 2-number eager aggregate (the documented two-phase
    * pattern); the scoring pass reconstructs inline in one narrow
    * codegen'd projection feeding the native cosine and ends in
    * TakeOrderedAndProject — one scan, zero shuffles. The LIMIT boundary
    * orders by the ROUNDED score + id, deterministic across engines.
    * Quantization error vs the exact cosine is bounded in
    * `SimilaritySpec`; the full replay (range, codes, reconstruction,
    * cosine) is oracled as `q_ann_sq8`.
    */
  def sq8TopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, keepCols: Seq[String] = Seq("label")): DataFrame = {
    require(!df.isStreaming,
      "sq8TopK collects the corpus range and query vector eagerly and is " +
        "batch-only; on a stream, freeze the range from the batch corpus " +
        "and probe inside foreachBatch")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val emb = withDoubleVec(df, vecCol)
    val st = emb.agg(min(array_min(col("__e"))).as("mn"),
      max(array_max(col("__e"))).as("mx")).collect().head
    require(!st.isNullAt(0) && !st.isNullAt(1),
      s"sq8TopK: empty corpus (no rows with a non-null $vecCol)")
    val mn = st.getDouble(0)
    val mx = st.getDouble(1)
    require(mx > mn, "sq8TopK: degenerate corpus (all components equal)")
    val scale = (mx - mn) / 255.0
    val qRows = emb.filter(col(idCol) === queryId)
      .select(col("__e")).collect()
    require(qRows.nonEmpty, s"sq8TopK: query id $queryId not found in $idCol")
    val qv = qRows.head.getSeq[Double](0)
    val recon = transform(col("__e"),
      x => lit(mn) + round((x - lit(mn)) / lit(scale), 0) * lit(scale))
    emb.filter(col(idCol) =!= queryId)
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          recon, array(qv.map(lit): _*)))
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol) +: keepCols.map(col) :+
        round(col("__cos"), 6).as("cosine_sq8"): _*)
  }

  /** Per-subspace PQ codebooks: the corpus dimension split into `m`
    * contiguous slices, [[trainQuantizer]] run per slice with a
    * per-subspace salt. This is the PQ index-build step — codebooks are
    * frozen index METADATA (m · codebookK · d/m doubles), trained once
    * and served against many queries; pass the result to [[pqTopK]] /
    * [[pqRerankTopK]] via `books` to skip retraining per query (the
    * production and audit-sweep shape — `RecallCurve` trains once and
    * sweeps the shortlist).
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 2, codebookK: Int = 16, iters: Int = 2,
      salt: String = "pq"): Seq[Seq[(Int, Seq[Double])]] = {
    require(m >= 1 && codebookK >= 1,
      "pqCodebooks: need m >= 1, codebookK >= 1")
    val emb = withDoubleVec(df, vecCol)
    val dims = emb.agg(min(size(col("__e"))).as("lo"),
      max(size(col("__e"))).as("hi")).collect().head
    require(!dims.isNullAt(0), "pqCodebooks: empty corpus")
    require(dims.getInt(0) == dims.getInt(1),
      s"pqCodebooks: ragged vector lengths " +
        s"${dims.getInt(0)}..${dims.getInt(1)}")
    val dim = dims.getInt(0)
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m = $m")
    val ds = dim / m
    (0 until m).map { j =>
      trainQuantizer(
        emb.select(col(idCol),
          slice(col("__e"), j * ds + 1, ds).as("__sub")),
        idCol, "__sub", codebookK, iters, s"$salt$j")
    }
  }

  /** The assigned coarse centroid as a literal array column: a when-chain
    * over the driver-resident quantizer keyed on the bucket column —
    * k × d literals inside one codegen'd projection, no join. Shared by
    * the residual computation at index-build time and nothing else (the
    * probe side works per-probed-bucket with scalar tables instead).
    */
  private def centArrayFor(cents: Seq[(Int, Seq[Double])],
      bucketCol: Column): Column =
    cents.tail.foldLeft(
      when(bucketCol === cents.head._1,
        array(cents.head._2.map(lit).toIndexedSeq: _*))) {
      case (acc, (b, vec)) =>
        acc.when(bucketCol === b, array(vec.map(lit).toIndexedSeq: _*))
    }

  /** RESIDUAL PQ codebooks (the faiss `IVF*,PQ*` encoding, Jégou et al.
    * 2011 §IV): codebooks are trained on r = x − c(bucket) — what's LEFT
    * after the coarse quantizer explains its part — instead of on raw
    * vectors. The residual's magnitude is a fraction of ‖x‖, so the same
    * m × codebookK code budget models a much smaller space and the
    * reconstruction x̂ = c_bucket + r̂ starts from an exact term; raw-PQ
    * codebooks spend the whole budget re-describing what the quantizer
    * already knew. Training is [[trainQuantizer]] per residual slice
    * (salted per subspace like [[pqCodebooks]]) over ONE residual
    * projection: assignment + subtraction ride the scan as codegen'd
    * literal arithmetic, no join. An exactly-zero residual (a vector ON
    * its centroid) has an undefined cosine against every codebook entry
    * (NaN sorts greatest in both engines — deterministic, arbitrary);
    * measure-zero on real data and absent from the testdata.
    */
  def pqCodebooksResidual(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], m: Int = 2, codebookK: Int = 16,
      iters: Int = 2, salt: String = "rpq"): Seq[Seq[(Int, Seq[Double])]] = {
    require(cents.nonEmpty, "pqCodebooksResidual: empty quantizer")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val emb = withDoubleVec(df, vecCol)
    val dim = cents.head._2.length
    require(dim % m == 0,
      s"pqCodebooksResidual: dim $dim not divisible by m = $m")
    val ds = dim / m
    val resid = assignNearest(emb, cents)
      .withColumn("__r",
        zip_with(col("__e"), centArrayFor(cents, col("__b")),
          (x, c) => x - c))
    (0 until m).map { j =>
      trainQuantizer(
        resid.select(col(idCol),
          slice(col("__r"), j * ds + 1, ds).as("__sub")),
        idCol, "__sub", codebookK, iters, s"$salt$j")
    }
  }

  /** Argmax PQ encode of one subspace: nearest codebook entry by native
    * cosine, ties to the highest code id (lexicographic struct max — the
    * [[assignBuckets]] tie-break, matching every SQL replay's
    * `ORDER BY cos DESC, b DESC`). Shared by [[pqTopK]]'s on-the-fly
    * encode and [[writeIvfLayout]]'s stored `pq_code` column so the two
    * can never drift.
    */
  private def pqCodeCol(book: Seq[(Int, Seq[Double])], sub: Column): Column =
    array_max(array(book.map { case (b, vec) =>
      struct(
        call_function(graft.plans.GraftFunctions.CosineName,
          sub, array(vec.map(lit).toIndexedSeq: _*)).as("c"),
        lit(b).as("b"))
    }.toIndexedSeq: _*)).getField("b")

  /** Per-(subspace, code) ADC lookup as a when-chain on the code column —
    * codebook ids are NOT assumed contiguous (Lloyd drops empty
    * clusters), hence no dense element_at. Shared by [[pqTopK]] and
    * [[ivfPqProbe]].
    */
  private def pqLookup(codeC: Column, table: Map[Int, Double]): Column =
    table.toSeq.sortBy(_._1)
      .foldLeft(Option.empty[Column]) { case (acc, (b, v)) =>
        Some(acc.fold(when(codeC === b, v))(_.when(codeC === b, v)))
      }.get

  /** The ADC tables for a query vector: per (subspace, code) partial dot
    * with the query and partial squared norm — m · codebookK doubles of
    * driver metadata. */
  private def pqAdcTables(books: Seq[Seq[(Int, Seq[Double])]],
      q: Seq[Double], ds: Int)
      : (Seq[Map[Int, Double]], Seq[Map[Int, Double]]) = {
    val dots = books.zipWithIndex.map { case (book, j) =>
      val qj = q.slice(j * ds, (j + 1) * ds)
      book.map { case (b, c) =>
        b -> c.zip(qj).map { case (x, y) => x * y }.sum
      }.toMap
    }
    val norms = books.map(_.map { case (b, c) =>
      b -> c.map(x => x * x).sum
    }.toMap)
    (dots, norms)
  }

  /** Product-quantized (PQ) ANN scoring — the codebook tier past SQ8
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search"): the vector space splits into `m` contiguous subspaces and
    * each subvector quantizes to its nearest entry of a per-subspace
    * k-means codebook ([[trainQuantizer]] reused per subspace with a
    * per-subspace salt, so training replays deterministically across
    * engines). A vector compresses to m small code ids (m bytes at
    * codebookK ≤ 256 vs 4·d float bytes — far past SQ8's fixed 4×), and
    * scoring is asymmetric (ADC): dot(q_j, codebook_j[code]) and
    * ‖codebook_j[code]‖² are functions of the CODE alone, precomputed on
    * the driver as m·codebookK doubles, so the per-row cost is m
    * codebook lookups plus a closed-form cosine against the EXACT query
    * — only the database side pays quantization error.
    *
    * Shape: encode + lookup are ONE narrow codegen'd projection (argmax
    * over codebook literals exactly like [[assignBuckets]], then a
    * when-chain lookup — codebook ids are NOT assumed contiguous because
    * Lloyd drops empty clusters), no join, no shuffle, ending in
    * TakeOrderedAndProject on the ROUNDED score + id (the ulp-proof
    * LIMIT boundary every ANN query here uses). Like [[sq8TopK]] this
    * audit form scores the whole corpus in one scan and encodes on the
    * fly; a production serving tier stores the m codes inside the IVF
    * layout (as [[writeIvfLayout]] stores `sq8_code`) and rides the
    * pruned probe. Batch-only: codebooks and query are driver-resident
    * (the documented eager two-phase pattern) — on a stream, freeze the
    * codebooks from the batch corpus and score inside foreachBatch.
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 2, codebookK: Int = 16,
      iters: Int = 2, salt: String = "pq",
      keepCols: Seq[String] = Seq("label"),
      books: Option[Seq[Seq[(Int, Seq[Double])]]] = None,
      queryVec: Option[Seq[Double]] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    require(!df.isStreaming,
      "pqTopK trains codebooks and collects the query vector eagerly and " +
        "is batch-only; on a stream, freeze the codebooks from the batch " +
        "corpus and score inside foreachBatch")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val trained = books.getOrElse(
      pqCodebooks(df, idCol, vecCol, m, codebookK, iters, salt))
    require(trained.length == m,
      s"pqTopK: ${trained.length} codebooks passed for m = $m subspaces")
    val ds = trained.head.head._2.length
    val q = queryVec.getOrElse {
      val qRows = withDoubleVec(df, vecCol).filter(col(idCol) === queryId)
        .select(col("__e")).collect()
      require(qRows.nonEmpty,
        s"pqTopK: query id $queryId not found in $idCol")
      qRows.head.getSeq[Double](0)
    }
    require(q.length == m * ds,
      s"pqTopK: query dim ${q.length} != m * ds = ${m * ds} — codebooks " +
        "trained on a different vector width")
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val (dots, norms) = pqAdcTables(trained, q, ds)
    codes.foreach { c =>
      ((0 until m).map(j => s"__code_$j") ++ (idCol +: keepCols))
        .foreach(nm => require(c.columns.contains(nm),
          s"pqTopK: pre-encoded codes frame lacks column $nm — built " +
            s"with a different m / keepCols? (has ${c.columns.mkString(",")})"))
    }
    val coded = codes
      .getOrElse(pqEncode(df, idCol, vecCol, trained, keepCols))
      .filter(col(idCol) =!= queryId)
    val dotSum = (0 until m)
      .map(j => pqLookup(col(s"__code_$j"), dots(j))).reduce(_ + _)
    val n2Sum = (0 until m)
      .map(j => pqLookup(col(s"__code_$j"), norms(j))).reduce(_ + _)
    coded
      .withColumn("__cos", dotSum / (sqrt(n2Sum) * lit(qNorm)))
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol) +: keepCols.map(col) :+
        round(col("__cos"), 6).as("cosine_pq"): _*)
  }

  /** PQ index build for an UNBUCKETED corpus: one corpus pass emitting
    * (id, keepCols, `__code_0..m-1`) — the m-small-int codes frame
    * [[pqTopK]] / [[pqRerankTopK]] serve from. The float column is read
    * exactly once, HERE, and never again by the ADC pass; persist or
    * cache the result like any index (same cost class as
    * [[pqCodebooks]] — the other half of the PQ build). At 100 TB the
    * codes frame is the artifact a serving tier stores (as
    * [[writeIvfLayout]] stores `pq_code` inside the bucketed layout).
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[(Int, Seq[Double])]],
      keepCols: Seq[String] = Seq.empty): DataFrame = {
    require(books.nonEmpty, "pqEncode: empty codebook list")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val ds = books.head.head._2.length
    withDoubleVec(df, vecCol)
      .select((col(idCol) +: keepCols.map(col)) ++
        books.indices.map(j => pqCodeCol(books(j),
          slice(col("__e"), j * ds + 1, ds)).as(s"__code_$j")): _*)
  }

  /** Two-stage PQ serving: [[pqTopK]]'s ADC scan produces a `shortlist`
    * of candidates, and ONLY those rows are re-scored with the exact
    * float cosine — the standard coarse-filter / refine split of every
    * production PQ deployment (the codes prune 1 − shortlist/N of the
    * corpus from exact scoring). The shortlist ids come back to the
    * driver (≤ `shortlist` values — query-serving metadata, the
    * [[ivfPqRerankTopK]] pattern), so the refine stage pushes
    * `id IN (…)` INTO the scan: the float column is read for the
    * shortlist rows alone, never corpus-wide. Recall is set by the
    * shortlist multiplier, not by quantization error — the knob the
    * recall audits measure.
    *
    * ==Serve from pre-built codes==
    * Pass `codes` = a persisted [[pqEncode]] frame and the per-query
    * cost is an ADC scan over m small ints per row plus a pruned float
    * read of `shortlist` rows — no corpus-wide float pass (measured
    * ~flat at 10× corpus in `POSTURE_10X.json` `retrieval.pq_rerank`).
    * With `codes` omitted the corpus is encoded inline per call — an
    * ad-hoc one-shot convenience that pays the index build inside the
    * query; anything served repeatedly should pre-encode, or better,
    * build the bucketed layout ([[ensureIvfLayout]]) and use
    * [[ivfPqRerankTopK]], which also prunes the ADC pass to the probed
    * buckets.
    */
  def pqRerankTopK(df: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, shortlist: Int, m: Int = 2,
      codebookK: Int = 16, iters: Int = 2, salt: String = "pq",
      keepCols: Seq[String] = Seq("label"),
      books: Option[Seq[Seq[(Int, Seq[Double])]]] = None,
      codes: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= k,
      s"pqRerankTopK: shortlist $shortlist smaller than k = $k")
    // the query vector is collected ONCE and shared with the inner ADC
    // pass — two per-call metadata jobs would double the per-query floor
    val emb = withDoubleVec(df, vecCol)
    val qRows = emb.filter(col(idCol) === queryId).select(col("__e"))
      .collect()
    require(qRows.nonEmpty,
      s"pqRerankTopK: query id $queryId not found in $idCol")
    val q = qRows.head.getSeq[Double](0)
    val shortIds = pqTopK(df, idCol, vecCol, queryId, shortlist, m,
        codebookK, iters, salt, Seq.empty, books, Some(q), codes)
      .select(col(idCol)).collect().map(_.get(0)).toIndexedSeq
    emb.filter(col(idCol).isin(shortIds: _*))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col("__e"), array(q.map(lit).toIndexedSeq: _*)))
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol) +: keepCols.map(col) :+
        round(col("__cos"), 6).as("cosine"): _*)
  }

  /** Hard-negative mining for contrastive training: for each ANCHOR
    * vector, the k most-similar vectors with a DIFFERENT label — the
    * negatives nearest the decision boundary, the ones a contrastive or
    * triplet objective learns most from. Same one-pruned-scan shape as
    * [[ivfProbeBatch]] (buckets picked per anchor against the
    * driver-resident quantizer, layout scanned ONCE over the union of
    * probed buckets, broadcast anchor join), with the label-inequality
    * predicate applied BEFORE the per-anchor rank window so every
    * returned row is a true negative rather than a positive crowding the
    * top-k. Ties break like the probe: lower bucket, lower row id.
    */
  def ivfHardNegatives(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, labelCol: String,
      anchors: Seq[(Long, Int, Seq[Double])], k: Int,
      nProbe: Int): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    requireSingleAssign(spark, path, "ivfHardNegatives")
    require(anchors.nonEmpty, "ivfHardNegatives: no anchor vectors")
    val cents = readQuantizer(spark, path)
    val rows = anchors.map { case (qid, qlab, qv) =>
      (qid, qlab, qv, probeBuckets(cents, qv, nProbe))
    }
    val allBuckets = rows.flatMap(_._4).distinct
    import spark.implicits._
    val qdf = rows.toDF("qid", "__qlab", "__qv", "__probed")
    spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(allBuckets: _*))
      .join(broadcast(qdf),
        array_contains(col("__probed"), col("ivf_bucket"))
          && col(idCol) =!= col("qid")
          && col(labelCol) =!= col("__qlab"))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col(vecCol).cast("array<double>"), col("__qv")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("__cos").desc, col(idCol))))
      .filter(col("__rn") <= k)
      .select(col("qid"), col(idCol), col(labelCol),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Per-bucket centroids: mean vector per `bucketCol`, computed with
    * posexplode + per-(bucket, dim) average + re-assembly ordered by dim —
    * a constant-size result (buckets × d) from one shuffle.
    */
  def centroids(df: DataFrame, bucketCol: String, vecCol: String): DataFrame =
    withDoubleVec(df, vecCol)
      .select(col(bucketCol), posexplode(col("__e")).as(Seq("__pos", "__v")))
      .groupBy(col(bucketCol), col("__pos"))
      .agg(avg(col("__v")).as("__m"))
      .groupBy(col(bucketCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__m")))).as("__s"))
      .select(col(bucketCol),
        expr("transform(__s, x -> x.__m)").as("centroid"))

  /** K-means (Lloyd) quantizer training as iterated DataFrame passes —
    * the coarse quantizer that seeds [[writeIvfLayout]]'s physical
    * bucketing, with no MLlib dependency. Seeding is deterministic
    * (the k vectors with the smallest portable md5 draws of `id|salt`),
    * so the whole run — seeds, every assignment, every update — replays
    * identically across runs and engines. Each iteration is ONE corpus
    * scan (argmax over k literal centroids via the codegen'd native
    * cosine — no join, no shuffle of the vectors) plus one constant-size
    * shuffle (the per-(bucket, dim) means); the k×d centroid matrix that
    * crosses the driver each round is index METADATA, the same two-phase
    * shape as [[writeIvfLayout]]'s quantizer. At real scale, train on a
    * [[Curate.sampleByHash]] sample — Lloyd on 100 TB buys nothing over
    * Lloyd on a deterministic 0.1% sample. Empty clusters are dropped
    * (k shrinks), standard for plain Lloyd. Batch-only (driver-resident
    * centroids per iteration), like every eager index-build here.
    */
  def trainQuantizer(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, salt: String): Seq[(Int, Seq[Double])] = {
    require(k > 0, "k must be positive")
    require(iters >= 0, "iters must be non-negative")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val emb = withDoubleVec(df, vecCol)
    var cents: Seq[(Int, Seq[Double])] = emb
      .withColumn("__u", PortableHash.uniform01(
        concat(col(idCol).cast("string"), lit("|" + salt))))
      .orderBy(col("__u"), col(idCol))
      .limit(k)
      .select(col("__e")).collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0)) }
    require(cents.nonEmpty,
      "trainQuantizer: input has no rows — k-means needs at least one vector")
    (0 until iters).foreach { _ =>
      cents = centroids(assignNearest(emb, cents), "__b", vecCol)
        .collect().toSeq
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1)
    }
    cents
  }

  /** Nearest-centroid assignment against driver-resident centroids baked
    * in as literals: lexicographic struct max = highest cosine, ties to
    * the highest bucket — matching [[writeIvfLayout]] and the oracle's
    * `ORDER BY cos DESC, b DESC`. Expects the `__e` double vector.
    */
  private def assignNearest(emb: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame =
    emb.withColumn("__b",
      array_max(array(cents.map { case (b, vec) =>
        struct(
          call_function(graft.plans.GraftFunctions.CosineName,
            col("__e"), array(vec.map(lit).toIndexedSeq: _*)).as("c"),
          lit(b).as("b"))
      }.toIndexedSeq: _*)).getField("b"))

  /** Nearest-centroid cluster assignment against a driver-resident
    * centroid list, as a public operator: one codegen'd narrow projection
    * (the centroids are baked in as literals and scored with the native
    * cosine) — no join, no shuffle. Ties break highest-cosine then
    * highest bucket id (lexicographic struct max), matching
    * [[trainQuantizer]], [[writeIvfLayout]] and the SQL replays.
    */
  def assignBuckets(df: DataFrame, vecCol: String,
      cents: Seq[(Int, Seq[Double])], out: String): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    require(cents.nonEmpty, "assignBuckets: empty centroid list")
    assignNearest(withDoubleVec(df, vecCol), cents)
      .withColumnRenamed("__b", out).drop("__e")
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings with a trained coarse
    * quantizer ([[trainQuantizer]]), then exact-cosine-score pairs ONLY
    * within a cluster — semantic duplicates are near their cluster
    * centroid's other members, so the cross-cluster pairs an all-pairs
    * scan would score are pruned before they exist. The candidate volume
    * is Σ|cluster|² like every bucketed generator here (k sized to keep
    * clusters bounded at scale), never n²; the same hot-bucket cap and
    * exchange-reuse posture as [[nearDupPairs]] applies, since this IS
    * [[nearDupPairs]] with the trained assignment as the bucket.
    */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], threshold: Double,
      maxBucket: Int = 1000): DataFrame =
    nearDupPairs(assignBuckets(df, vecCol, cents, "__sem"), idCol, vecCol,
      "__sem", threshold, maxBucket)

  /** Post-training audit of [[trainQuantizer]]: assign every vector to
    * its trained centroid and report per-cluster size and mean
    * cosine-to-centroid — the balance/coherence check you run before
    * committing a quantizer to a physical layout (one giant cluster =
    * no pruning; a low avg_cos cluster = a junk-drawer centroid).
    */
  def kmeansAudit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, salt: String): DataFrame = {
    val cents = trainQuantizer(df, idCol, vecCol, k, iters, salt)
    withDoubleVec(df, vecCol)
      .withColumn("__s",
        array_max(array(cents.map { case (b, vec) =>
          struct(
            call_function(graft.plans.GraftFunctions.CosineName,
              col("__e"), array(vec.map(lit).toIndexedSeq: _*)).as("c"),
            lit(b).as("b"))
        }.toIndexedSeq: _*)))
      .groupBy(col("__s").getField("b").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__s").getField("c")), 6).as("avg_cos"))
  }

  /** Physical IVF layout: each vector is assigned to its nearest coarse
    * centroid and the corpus is written `partitionBy(ivf_bucket)`, so the
    * bucket IS a partition key. A probe then reads only the `nProbe`
    * matching directories — partition pruning at PLANNING time, zero I/O
    * for every other bucket — which is what turns ANN from a full scan
    * into an index lookup at 100 TB.
    *
    * Assignment is one codegen'd narrow projection: the k quantizer
    * centroids (`cents`, normally from [[trainQuantizer]]) are baked in
    * as literal vectors and scored with the native cosine — no join, no
    * shuffle of the corpus beyond the partitioned write itself. The
    * quantizer (k × d doubles) is index METADATA: driver-resident and
    * stored beside the data in `_quantizer`, which partition discovery
    * ignores (underscore prefix).
    */
  /** The layout also carries the SQ8 serving payload (X42 composed into
    * X10): every vector's int8 codes against the corpus-wide [min, max]
    * range, stored as a `sq8_code` column INSIDE the bucketed layout, the
    * range itself in a 2-double `_sq8` sidecar. A quantized probe
    * ([[ivfSq8Probe]]) then reads codes from the pruned partitions only —
    * partition pruning AND the 4×-smaller scan payload compose. The float
    * vectors stay in the layout for the exact-rerank (refine) tier; a
    * deployment that serves codes only would drop them at write time.
    * Codes are logically uint8 (0..255) in an int column — parquet
    * dictionary + bit-packing stores them in ~1 byte; a production format
    * would use a packed BINARY.
    */
  /** MULTI-ASSIGNMENT (`assign` > 1, Lv & Charikar's multi-probe family
    * applied at WRITE time): each vector is written to its `assign`
    * nearest coarse buckets instead of one. The e2e recall loss of an
    * IVF probe is bucket-coverage loss — a true neighbor whose single
    * home bucket the query didn't probe is invisible at ANY shortlist
    * size; spilling each vector to its top-`assign` buckets buys that
    * coverage back for `assign`× storage (and write amplification)
    * WITHOUT raising nProbe (which multiplies per-query read cost
    * instead — storage is bought once, probe cost is paid per query).
    * The float probe dedups copies at read time ([[ivfProbe]], via the
    * `_meta` sidecar); the PQ/SQ8 tiers require single-assignment
    * layouts (composing quantized codes with multi-assignment is the
    * same read-side dedup, left unbuilt until needed).
    */
  def writeIvfLayout(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Int, Seq[Double])], path: String,
      pqBooks: Seq[Seq[(Int, Seq[Double])]] = Seq.empty,
      assign: Int = 1, pqResidual: Boolean = false): Unit = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    require(cents.nonEmpty, "writeIvfLayout: empty quantizer")
    require(assign >= 1 && assign <= cents.length,
      s"writeIvfLayout: assign $assign outside 1..${cents.length}")
    require(!pqResidual || pqBooks.nonEmpty,
      "writeIvfLayout: pqResidual without pqBooks — train residual " +
        "codebooks with pqCodebooksResidual and pass them")
    require(!(pqResidual && assign > 1),
      "writeIvfLayout: residual PQ with multi-assignment would store a " +
        "different code per copy; the quantized tiers are single-assign")
    val scored = cents.map { case (b, vec) =>
      struct(
        call_function(graft.plans.GraftFunctions.CosineName,
          col("__e"), array(vec.map(lit): _*)).as("c"),
        lit(b).as("b"))
    }
    // corpus [min, max] for the SQ8 codes: the same 2-number eager
    // metadata aggregate sq8TopK documents (index build time, not probe)
    val st = withDoubleVec(df, vecCol).agg(
      min(array_min(col("__e"))).as("mn"),
      max(array_max(col("__e"))).as("mx")).collect().head
    require(!st.isNullAt(0) && !st.isNullAt(1),
      s"writeIvfLayout: empty corpus (no rows with a non-null $vecCol)")
    val (mn, mx) = (st.getDouble(0), st.getDouble(1))
    require(mx > mn, "writeIvfLayout: degenerate corpus (all components " +
      "equal) — SQ8 range quantization is undefined")
    val scale = (mx - mn) / 255.0
    // PQ codes, when codebooks are supplied: per-subspace argmax encode
    // (the shared pqCodeCol, so stored codes ≡ pqTopK's on-the-fly
    // encode), stored as an m-int array next to sq8_code — the IVF-PQ
    // serving format (m bytes/vec after parquet bit-packing)
    val withPqCode: DataFrame => DataFrame =
      if (pqBooks.isEmpty) identity
      else { d =>
        val ds = pqBooks.head.head._2.length
        // residual layouts encode r = x − c(bucket) slices (the bucket
        // column exists by now); raw layouts encode the vector slices
        val enc =
          if (pqResidual)
            zip_with(col("__e"), centArrayFor(cents, col("ivf_bucket")),
              (x, c) => x - c)
          else col("__e")
        d.withColumn("pq_code", array(pqBooks.zipWithIndex.map {
          case (book, j) =>
            pqCodeCol(book, slice(enc, j * ds + 1, ds))
        }.toIndexedSeq: _*))
      }
    // assign = 1 keeps the original array_max plan; assign > 1 takes the
    // top-`assign` of the same (cos, b) ordering — array_sort ascending +
    // reverse gives (cos DESC, b DESC), so element 1 IS array_max and the
    // tie-break can never diverge between the two paths
    val bucketed =
      if (assign == 1)
        withDoubleVec(df, vecCol).withColumn("ivf_bucket",
          array_max(array(scored.toIndexedSeq: _*)).getField("b"))
      else
        withDoubleVec(df, vecCol).withColumn("ivf_bucket",
          explode(transform(
            slice(reverse(array_sort(array(scored.toIndexedSeq: _*))),
              1, assign),
            s => s.getField("b"))))
    withPqCode(bucketed
      .withColumn("sq8_code",
        transform(col("__e"),
          x => round((x - lit(mn)) / lit(scale), 0).cast("int"))))
      .drop("__e")
      .write.partitionBy("ivf_bucket").mode("overwrite").parquet(path)
    df.sparkSession.createDataFrame(cents)
      .toDF("bucket", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_quantizer")
    df.sparkSession.createDataFrame(Seq((mn, mx)))
      .toDF("mn", "mx")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_sq8")
    df.sparkSession.createDataFrame(Seq((assign, pqResidual)))
      .toDF("assign", "pq_residual")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_meta")
    if (pqBooks.nonEmpty)
      df.sparkSession.createDataFrame(pqBooks.zipWithIndex.flatMap {
        case (book, j) => book.map { case (b, cv) => (j, b, cv) }
      }).toDF("subspace", "bucket", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/_pq")
  }

  /** Build-once gate for [[writeIvfLayout]]: the layout lives in a scratch
    * directory derived from `cacheKey` (callers should fold the source
    * file's length/mtime into the key so a regenerated corpus can never be
    * probed through a stale index) and is only rebuilt when its
    * `_SUCCESS` marker or quantizer is missing. This is the index-build /
    * query split of a real ANN service: construction is a one-time
    * write-side cost, probes pay only the pruned read.
    *
    * `quantizer` is by-name: training (several corpus scans for
    * [[trainQuantizer]]) only runs on a cache miss — a warm probe pays
    * neither the write nor the training. Fold the quantizer's parameters
    * (k, iters, salt) into `cacheKey`: two configs must never share a
    * layout.
    */
  def ensureIvfLayout(df: DataFrame, idCol: String, vecCol: String,
      quantizer: => Seq[(Int, Seq[Double])],
      cacheKey: String,
      pqBooks: => Seq[Seq[(Int, Seq[Double])]] = Seq.empty,
      withPq: Boolean = false, assign: Int = 1,
      pqResidual: Boolean = false): String = synchronized {
    // the dir is Scratch.path's: md5 of the RAW key, scoped per user.
    // The key CONTENT is the caller's contract: fold in whatever
    // invalidates the layout (file length + mtime at minimum; mtime has
    // second granularity on some filesystems, so include a content hash
    // if the corpus can be regenerated in-place sub-second).
    // "pqv5:" versions the LAYOUT FORMAT itself (v2 added sq8_code +
    // _sq8; v3 the optional pq_code + _pq; v4 the _meta assign sidecar):
    // a cache dir written by an older writer must miss, not be probed
    // with a missing column. withPq and assign are IN the key — a pq and
    // a non-pq layout, or two assignment factors, of one corpus are
    // different formats and must never share a dir.
    val path = graft.Scratch.path("ivf_layout",
      s"pqv5:$withPq:a$assign:r$pqResidual|" + cacheKey)
    // the quantizer is written AFTER the data, so its own _SUCCESS is the
    // true commit marker — checking only the directory would accept a
    // layout whose quantizer write crashed mid-flight and poison every
    // later probe from the cross-JVM cache
    val complete = new java.io.File(path, "_SUCCESS").exists() &&
      new java.io.File(s"$path/_quantizer", "_SUCCESS").exists() &&
      new java.io.File(s"$path/_sq8", "_SUCCESS").exists() &&
      new java.io.File(s"$path/_meta", "_SUCCESS").exists() &&
      (!withPq || new java.io.File(s"$path/_pq", "_SUCCESS").exists())
    if (!complete) writeIvfLayout(df, idCol, vecCol, quantizer, path,
      if (withPq) pqBooks else Seq.empty, assign, pqResidual)
    path
  }

  /** Probe an IVF layout: pick the `nProbe` buckets whose centroids are
    * nearest the query vector (driver-side over the k-row quantizer —
    * index metadata, not data), then exact native-cosine top-k over ONLY
    * those partitions. The `isin` filter on the partition column prunes
    * at planning: the scan's PartitionFilters carry it and unprobed
    * directories are never listed into the plan.
    */
  /** Concrete part-file paths of a sidecar dir. Naming the
    * underscore-prefixed dir itself would trip Spark's hidden-path filter
    * (warning + skip on some code paths), and a `part-*` GLOB makes the
    * read path's FileStreamSink metadata probe stat the literal glob
    * string — a FileNotFoundException stack logged at WARN on every
    * probe. Explicit file paths take both failure modes off the table.
    * Listing goes through the path's OWN Hadoop FileSystem (not
    * java.io.File), so a layout on any supported scheme — local, HDFS,
    * object store — resolves identically; completeness is gated by
    * [[ensureIvfLayout]] on the sidecar's own _SUCCESS.
    */
  private def sidecarParts(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(p)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(_.getPath.toString).toSeq
    require(parts.nonEmpty, s"no part files under $dir — layout incomplete " +
      "(ensureIvfLayout gates on _SUCCESS; was the dir written directly?)")
    parts
  }

  /** The k-row quantizer beside a layout, read back as driver metadata. */
  private[graft] def readQuantizer(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Seq[Double])] =
    spark.read.parquet(sidecarParts(spark, s"$path/_quantizer"): _*)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))

  /** The SQ8 [min, max] range beside a layout — 2 doubles of index
    * metadata, read like [[readQuantizer]].
    */
  private[graft] def readSq8Range(spark: org.apache.spark.sql.SparkSession,
      path: String): (Double, Double) = {
    val r = spark.read.parquet(sidecarParts(spark, s"$path/_sq8"): _*)
      .collect().head
    (r.getDouble(0), r.getDouble(1))
  }

  /** The PQ codebooks beside a layout — (subspace, bucket, centroid)
    * rows regrouped per subspace, read like [[readQuantizer]] (index
    * metadata; present only on layouts written with `withPq`).
    */
  private[graft] def readPqBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[(Int, Seq[Double])]] =
    spark.read.parquet(sidecarParts(spark, s"$path/_pq"): _*).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(t => (t._2, t._3)).toSeq)

  /** The layout's assignment factor from the `_meta` sidecar — 1 for
    * layouts written before the sidecar existed (pre-v4 cache dirs are
    * invalidated by the version key, so this only covers layouts written
    * directly via [[writeIvfLayout]] by older callers/tests).
    */
  private[graft] def layoutAssign(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = layoutMeta(spark, path)._1

  /** True when the layout's `pq_code` column encodes residuals
    * (r = x − c_bucket) rather than raw vector slices — the probe must
    * score with the matching reconstruction or every ADC value is wrong.
    */
  private[graft] def layoutPqResidual(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    layoutMeta(spark, path)._2

  /** (assign, pq_residual) from the `_meta` sidecar; (1, false) for
    * layouts written before the sidecar (or each column) existed —
    * pre-v4/v5 cache dirs are invalidated by the version key, so this
    * only covers layouts written directly via [[writeIvfLayout]] by
    * older callers/tests.
    */
  private def layoutMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) (1, false)
    else {
      val df = spark.read.parquet(sidecarParts(spark, s"$path/_meta"): _*)
      val r = df.collect().head
      val names = df.schema.fieldNames
      (r.getInt(names.indexOf("assign")),
        if (names.contains("pq_residual"))
          r.getBoolean(names.indexOf("pq_residual"))
        else false)
    }
  }

  /** Guard for the serving tiers that do not (yet) dedup multi-assigned
    * copies: quantized scoring composes with multi-assignment exactly
    * like [[ivfProbe]]'s read-side dedup, but until a caller needs it,
    * failing loudly beats silently returning duplicated candidates.
    */
  private def requireSingleAssign(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String): Unit = {
    val a = layoutAssign(spark, path)
    require(a == 1, s"$op: layout at $path is multi-assigned (assign = " +
      s"$a); only the float probe (ivfProbe) dedups copies — build a " +
      "single-assignment layout for the PQ/SQ8/batch tiers")
  }

  private def driverCos(v: Seq[Double], q: Seq[Double]): Double = {
    val dot = v.zip(q).map { case (a, b) => a * b }.sum
    dot / math.sqrt(v.map(x => x * x).sum * q.map(x => x * x).sum)
  }

  /** The `nProbe` buckets nearest a query vector — ties break to the
    * lower bucket id, mirroring the oracle's ORDER BY. ONE definition for
    * single and batch probes, so their selections can never diverge.
    */
  private[graft] def probeBuckets(cents: Array[(Int, Seq[Double])],
      qv: Seq[Double], nProbe: Int): Seq[Int] =
    cents.sortBy { case (b, v) => (-driverCos(v, qv), b) }
      .take(nProbe).map(_._1).toSeq

  def ivfProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int, excludeId: Option[Long] = None): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    val probed = probeBuckets(readQuantizer(spark, path), queryVec, nProbe)
    val qLit = array(queryVec.map(lit): _*)
    val scanned = spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(probed.toIndexedSeq: _*))
    val base = excludeId.fold(scanned)(id => scanned.filter(col(idCol) =!= id))
    // a multi-assigned layout can surface the same vector from several
    // probed buckets: collapse copies BEFORE the top-k boundary (min
    // struct = lowest bucket reported, copies carry identical vectors).
    // Single-assignment layouts skip this — no shuffle enters the probe.
    val deduped =
      if (layoutAssign(spark, path) == 1) base
      else base
        .groupBy(col(idCol))
        .agg(min(struct(col("ivf_bucket"),
          col(vecCol).cast("array<double>").as(vecCol))).as("__mv"))
        .select(col(idCol),
          col("__mv").getField("ivf_bucket").as("ivf_bucket"),
          col("__mv").getField(vecCol).as(vecCol))
    deduped
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col(vecCol).cast("array<double>"), qLit))
      .orderBy(col("__cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("ivf_bucket"), round(col("__cos"), 6).as("cosine"))
  }

  /** Quantized IVF probe — X42's int8 scoring composed INTO X10's
    * physical layout, the full production ANN serving shape: the probe
    * prunes to the `nProbe` nearest bucket partitions at PLANNING time
    * (zero I/O elsewhere, like [[ivfProbe]]) and then scores the stored
    * `sq8_code` column instead of the float vectors — the pruned scan
    * reads the 4×-smaller serving payload. Scoring is asymmetric (ADC):
    * codes are reconstructed against the [min, max] range sidecar
    * (2 doubles of driver metadata) and cosine'd against the EXACT query
    * vector, so only the database side pays quantization error. The LIMIT
    * boundary orders by the ROUNDED score + id like [[sq8TopK]] —
    * deterministic across engines, hence fully oracle-able
    * (`q_ann_ivf_sq8`); recall vs the float probe on the same pruned
    * buckets is oracled as `q_ann_ivf_sq8_recall`.
    */
  def ivfSq8Probe(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int, excludeId: Option[Long] = None): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    requireSingleAssign(spark, path, "ivfSq8Probe")
    val probed = probeBuckets(readQuantizer(spark, path), queryVec, nProbe)
    val (mn, mx) = readSq8Range(spark, path)
    val scale = (mx - mn) / 255.0
    val qLit = array(queryVec.map(lit): _*)
    val recon = transform(col("sq8_code"),
      c => lit(mn) + c.cast("double") * lit(scale))
    val scanned = spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(probed.toIndexedSeq: _*))
    excludeId.fold(scanned)(id => scanned.filter(col(idCol) =!= id))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName, recon, qLit))
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("ivf_bucket"),
        round(col("__cos"), 6).as("cosine_sq8"))
  }

  /** IVF-PQ probe — the default architecture of every large-scale vector
    * store (faiss `IVF*,PQ*`): partition pruning AND the m-byte PQ
    * serving payload compose in one read. The probe prunes to the
    * `nProbe` nearest bucket partitions at PLANNING time (like
    * [[ivfProbe]]) and scores the STORED `pq_code` column by ADC — the
    * per-(subspace, code) partial dots and squared norms are computed
    * once on the driver from the `_pq` codebook sidecar and the EXACT
    * query (only the database side pays quantization error), so the
    * pruned scan reads m small ints per row and never touches the float
    * vectors (pinned via ReadSchema in `IvfLayoutSpec`). The LIMIT
    * boundary orders by the ROUNDED score + id like every ANN query
    * here. For serving recall, [[ivfPqRerankTopK]] composes this probe
    * with an exact rerank of the shortlist against the layout's retained
    * float column — the [[pqRerankTopK]] trade, measured in
    * `ANN_RECALL.json`.
    */
  def ivfPqProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, queryVec: Seq[Double], k: Int,
      nProbe: Int, excludeId: Option[Long] = None): DataFrame =
    ivfPqProbeOn(spark, path, idCol, queryVec, k,
      probeBuckets(readQuantizer(spark, path), queryVec, nProbe), excludeId)

  /** [[ivfPqProbe]] against ALREADY-probed buckets, so a composed caller
    * ([[ivfPqRerankTopK]]) reads the quantizer sidecar once per query,
    * not once per stage.
    */
  private def ivfPqProbeOn(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, queryVec: Seq[Double], k: Int,
      probed: Seq[Int], excludeId: Option[Long]): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    requireSingleAssign(spark, path, "ivfPqProbe")
    val books = readPqBooks(spark, path)
    val ds = books.head.head._2.length
    require(queryVec.length == books.length * ds,
      s"ivfPqProbe: query dim ${queryVec.length} != m * ds = " +
        s"${books.length * ds} — layout encoded a different vector width")
    val (dots, norms) = pqAdcTables(books, queryVec, ds)
    val qNorm = math.sqrt(queryVec.map(x => x * x).sum)
    val dotSum = books.indices
      .map(j => pqLookup(element_at(col("pq_code"), j + 1), dots(j)))
      .reduce(_ + _)
    val n2Sum = books.indices
      .map(j => pqLookup(element_at(col("pq_code"), j + 1), norms(j)))
      .reduce(_ + _)
    // RESIDUAL layouts reconstruct x̂ = c_bucket + r̂: the score picks up
    // the exact coarse term and two cross terms, all driver metadata —
    //   dot(q, x̂)  = dot(q, c_b)            [per probed bucket]
    //              + Σⱼ dot(qⱼ, r̂ⱼ)         [the shared ADC dot table]
    //   ‖x̂‖²       = ‖c_b‖²                 [per probed bucket]
    //              + 2·Σⱼ dot(c_b,ⱼ, r̂ⱼ)    [per (probed bucket, j, code)]
    //              + Σⱼ ‖r̂ⱼ‖²               [the shared ADC norm table]
    // The cross tables are nProbe · m · codebookK doubles — when-chains
    // keyed on ivf_bucket over the PROBED buckets only, so the scan
    // still reads just (id, bucket, pq_code).
    val cos =
      if (!layoutPqResidual(spark, path))
        dotSum / (sqrt(n2Sum) * lit(qNorm))
      else {
        val centMap = readQuantizer(spark, path).toMap
        def slices(c: Seq[Double]) =
          books.indices.map(j => c.slice(j * ds, (j + 1) * ds))
        def bucketChain(f: Int => Column): Column =
          probed.tail.foldLeft(
            when(col("ivf_bucket") === probed.head, f(probed.head))) {
            (acc, b) => acc.when(col("ivf_bucket") === b, f(b))
          }
        val qc = bucketChain { b =>
          lit(centMap(b).zip(queryVec).map { case (x, y) => x * y }.sum)
        }
        val cn2 = bucketChain { b =>
          lit(centMap(b).map(x => x * x).sum)
        }
        val cross = bucketChain { b =>
          val cs = slices(centMap(b))
          books.indices.map { j =>
            val table = books(j).map { case (code, entry) =>
              code -> entry.zip(cs(j)).map { case (x, y) => x * y }.sum
            }.toMap
            pqLookup(element_at(col("pq_code"), j + 1), table)
          }.reduce(_ + _)
        }
        (qc + dotSum) /
          (sqrt(cn2 + lit(2.0) * cross + n2Sum) * lit(qNorm))
      }
    val scanned = spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(probed.toIndexedSeq: _*))
    excludeId.fold(scanned)(id => scanned.filter(col(idCol) =!= id))
      .withColumn("__cos", cos)
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("ivf_bucket"),
        round(col("__cos"), 6).as("cosine_pq"))
  }

  /** IVF-PQ + exact rerank — the COMPLETE production serving path
    * (faiss `IVF*,PQ*` + refine): [[ivfPqProbe]]'s pruned ADC pass
    * shortlists `shortlist` candidates reading only the m-byte codes,
    * then the float vectors the layout retains for exactly this tier
    * are read back for the shortlist rows alone and re-scored exactly.
    * PQ quantization error now only costs recall if a true neighbor
    * falls outside the shortlist — the [[pqRerankTopK]] trade, composed
    * with partition pruning so neither stage scans beyond the probed
    * buckets.
    *
    * The shortlist ids come back to the driver (≤ `shortlist` longs —
    * query-serving metadata, same class as the probe's centroid scores)
    * so stage 2 can push `id IN (…)` + the bucket filter INTO the
    * parquet scan: at 100 TB the refine tier reads float vectors for
    * `shortlist` rows out of the probed partitions' row groups, not for
    * every scanned row — which is what makes the corpus-wide float pass
    * of [[pqRerankTopK]] (the only non-flat retrieval op in the 10×
    * posture) unnecessary at scale.
    */
  def ivfPqRerankTopK(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, queryVec: Seq[Double],
      k: Int, nProbe: Int, shortlist: Int,
      excludeId: Option[Long] = None): DataFrame = {
    require(shortlist >= k,
      s"ivfPqRerankTopK: shortlist $shortlist must be >= k $k")
    graft.plans.GraftFunctions.register(spark)
    val probed = probeBuckets(readQuantizer(spark, path), queryVec, nProbe)
    val shortIds = ivfPqProbeOn(spark, path, idCol, queryVec, shortlist,
        probed, excludeId)
      .select(col(idCol)).collect().map(_.getLong(0)).toIndexedSeq
    val qLit = array(queryVec.map(lit): _*)
    spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(probed.toIndexedSeq: _*))
      .filter(col(idCol).isin(shortIds: _*))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col(vecCol).cast("array<double>"), qLit))
      .orderBy(round(col("__cos"), 6).desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("ivf_bucket"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Batch IVF probe: exact top-k for EVERY query vector in ONE plan —
    * the batch-inference shape of an ANN service. Probed buckets are
    * picked per query against the k-row quantizer (driver metadata, like
    * [[ivfProbe]]); the layout is scanned ONCE, pruned at planning time
    * to the UNION of all probed buckets, and each row is scored only
    * against the queries that probed its bucket (broadcast join on
    * `array_contains`). Per-query top-k is a rank window partitioned by
    * the query id — it rides the pruned subset, so a batch of Q queries
    * costs one pruned scan instead of Q. Ties break like [[ivfProbe]]:
    * probe to the lower bucket, rank to the lower row id.
    */
  def ivfProbeBatch(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, queries: Seq[(Long, Seq[Double])],
      k: Int, nProbe: Int, excludeSelf: Boolean = true): DataFrame = {
    graft.plans.GraftFunctions.register(spark)
    requireSingleAssign(spark, path, "ivfProbeBatch")
    require(queries.nonEmpty, "ivfProbeBatch: no query vectors")
    val cents = readQuantizer(spark, path)
    val rows = queries.map { case (qid, qv) =>
      (qid, qv, probeBuckets(cents, qv, nProbe))
    }
    val allBuckets = rows.flatMap(_._3).distinct
    import spark.implicits._
    val qdf = rows.toDF("qid", "__qv", "__probed")
    val scanned = spark.read.parquet(path)
      .filter(col("ivf_bucket").isin(allBuckets: _*))
    val self = if (excludeSelf) col(idCol) =!= col("qid") else lit(true)
    scanned
      .join(broadcast(qdf),
        array_contains(col("__probed"), col("ivf_bucket")) && self)
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col(vecCol).cast("array<double>"), col("__qv")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("__cos").desc, col(idCol))))
      .filter(col("__rn") <= k)
      .select(col("qid"), col(idCol), col("ivf_bucket"),
        round(col("__cos"), 6).as("cosine"))
  }

  /** Minimal `nProbe` meeting a target recall@k, measured ON THE LAYOUT
    * — the operational knob the `ANN_RECALL.json` sweep documents, as a
    * driver-side helper so a serving caller never reads the artifact by
    * hand: pass the query workload (or a sample of it) and a target,
    * get back `(nProbe, measuredRecall)` to plug into [[ivfProbe]] /
    * [[ivfSq8Probe]] / [[ivfPqRerankTopK]].
    *
    * The exhaustive baseline is [[ivfProbeBatch]] at nProbe =
    * #centroids (same plan, zero pruning), so approx and exact share
    * one tie-break order and recall 1.0 is reachable by construction
    * (probed-bucket supersets are monotone — pinned by the sweep's
    * `monotone_all`). Cost: O(log nCentroids) pruned scans (geometric
    * doubling to bracket, then bisection — monotonicity makes the
    * bisection answer identical to a linear ascent's minimal n), plus
    * the one full scan — tuning is a
    * deploy-time calibration over a BOUNDED query sample (its cost is
    * amortized over the serving lifetime; at 100 TB run it on the same
    * query log sample you'd use for any index calibration, not per
    * query).
    */
  def tuneNProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, queries: Seq[(Long, Seq[Double])],
      k: Int, targetRecall: Double): (Int, Double) = {
    require(targetRecall > 0 && targetRecall <= 1,
      s"tuneNProbe: targetRecall $targetRecall not in (0, 1]")
    require(queries.nonEmpty, "tuneNProbe: no query vectors")
    val nCent = readQuantizer(spark, path).length
    def topIds(nProbe: Int): Map[Long, Set[Long]] =
      ivfProbeBatch(spark, path, idCol, vecCol, queries, k, nProbe)
        .select(col("qid"), col(idCol)).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topIds(nCent)
    def recallAt(n: Int): Double = {
      val got = topIds(n)
      queries.map { case (qid, _) =>
        got.getOrElse(qid, Set.empty[Long])
          .intersect(exact.getOrElse(qid, Set.empty[Long])).size.toDouble / k
      }.sum / queries.length
    }
    // recall is monotone in nProbe (probed-bucket supersets — the
    // sweep's monotone_all pin), so: double until the target is met,
    // then bisect the bracketing interval — O(log nCentroids) pruned
    // scans instead of one per candidate nProbe
    var hi = 1
    var hiRecall = recallAt(hi)
    while (hiRecall < targetRecall && hi < nCent) {
      hi = math.min(hi * 2, nCent)
      hiRecall = recallAt(hi)
    }
    if (hiRecall < targetRecall) (nCent, hiRecall) // unreachable target < 1.0 guard
    else {
      var lo = hi / 2 // recallAt(lo) < target (or lo == 0 when hi == 1)
      var best = hi
      var bestRecall = hiRecall
      while (hi - lo > 1) {
        val mid = lo + (hi - lo) / 2
        val r = recallAt(mid)
        if (r >= targetRecall) { hi = mid; best = mid; bestRecall = r }
        else lo = mid
      }
      (best, bestRecall)
    }
  }

  /** One random-hyperplane component, derived from the portable md5
    * uniform (top 60 bits of md5("p|i|salt") / 2^60, mapped to [−1, 1)) —
    * deterministic and byte-reproducible in ANY engine that has md5, so
    * the SRP bucket below can be value-oracled. Computed on the DRIVER:
    * the planes are index metadata (nPlanes × dim doubles), baked into
    * the plan as literals — zero per-row hashing.
    */
  private[ext] def planeComponent(p: Int, i: Int, salt: String): Double =
    PortableHash.uniform01(s"$p|$i|$salt") * 2 - 1

  /** Signed-random-projection LSH bucket: bit p of the bucket is the sign
    * of the dot product with hyperplane p. Cosine-similar vectors agree
    * on each bit with probability 1 − θ/π, so near-duplicates land in the
    * same bucket with high probability while the corpus spreads over
    * 2^nPlanes buckets. A narrow codegen'd projection (dim × nPlanes
    * literal multiply-adds — no HOF lambdas, no shuffle); at 100 TB this
    * column is ALSO the natural partition key for a physical layout, the
    * same bucket-is-a-partition shape as [[writeIvfLayout]].
    */
  def srpBucket(vecCol: Column, dim: Int, nPlanes: Int, salt: String): Column =
    (0 until nPlanes).map { p =>
      val dot = (0 until dim).map { i =>
        element_at(vecCol, i + 1) * lit(planeComponent(p, i, salt))
      }.reduce(_ + _)
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /** [[nearDupPairs]] with the REAL content-derived LSH bucket (SRP sign
    * bits) instead of a pre-existing bucket column — the scale path the
    * label-bucket form stands in for. Candidates are pairs agreeing on
    * ALL nPlanes signs (one band); lower the similarity floor by adding
    * bands the way [[Dedup.minhashCandidates]] does.
    */
  def nearDupPairsSRP(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nPlanes: Int, salt: String, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    val bucketed = df.withColumn("__srp",
      srpBucket(col(vecCol).cast("array<double>"), dim, nPlanes, salt))
    nearDupPairs(bucketed, idCol, vecCol, "__srp", threshold, maxBucket)
      .withColumnRenamed("bucket", "srp_bucket")
  }

  /** Embedding-cosine near-duplicate pairs: candidates are generated by a
    * bucket-equality self-join (a coarse IVF bucket, or the SRP LSH
    * bucket from [[nearDupPairsSRP]]), then scored exactly with the
    * native codegen'd cosine — never an all-pairs cross join, so the
    * pair count stays proportional to true near-dups.
    *
    * Hinted `shuffle_hash` like [[Dedup.bandedPairs]]: a broadcast
    * self-join would scan and (for SRP) re-bucket the corpus once per
    * side; the identical shuffles on the bucket key are deduped into one
    * by the adaptive planner (pinned by `BandingReuseSpec`).
    *
    * `maxBucket` is the same hot-bucket OOM guard as [[Dedup.bandedPairs]]
    * — a bucket of m vectors pairs up m²/2 times in one join task, so a
    * degenerate corpus (one dominant bucket) blows up without a cap. The
    * count window rides the join's own bucket partitioning, adding no
    * exchange; the DuckDB oracles replay the drop with QUALIFY.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double,
      maxBucket: Int = 1000): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val emb = withDoubleVec(df, vecCol)
      .select(col(idCol), col(bucketCol), col("__e"))
      .withColumn("__bn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(bucketCol))))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
      .hint("shuffle_hash")
    val pairs = emb.as("a")
      .join(emb.as("b"),
        col(s"a.$bucketCol") === col(s"b.$bucketCol")
          && col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("__cos",
        call_function(graft.plans.GraftFunctions.CosineName,
          col("a.__e"), col("b.__e")))
      .filter(col("__cos") > threshold)
    pairs.select(
      col(s"a.$idCol").as("d1"), col(s"b.$idCol").as("d2"),
      col(s"a.$bucketCol").as("bucket"),
      round(col("__cos"), 6).as("cosine"))
  }

  /** Per-bucket embedding stats: count, mean L2 norm, mean first
    * component — corpus health checks before similarity work.
    */
  def stats(df: DataFrame, bucketCol: String, vecCol: String): DataFrame =
    withDoubleVec(df, vecCol)
      .groupBy(col(bucketCol))
      .agg(
        count(lit(1)).as("n"),
        round(avg(sqrt(dot(col("__e"), col("__e")))), 6).as("avg_norm"),
        round(avg(element_at(col("__e"), 1)), 6).as("avg_c0"))
}
