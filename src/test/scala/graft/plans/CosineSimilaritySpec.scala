package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ext.Similarity

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def callCos = {
    GraftFunctions.register(spark)
    (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function(GraftFunctions.CosineName, a, b)
  }

  test("known values: identical → 1, orthogonal → 0, opposite → −1") {
    val cos = callCos
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0)),
      (Array(1.0, 0.0), Array(0.0, 3.0)),
      (Array(1.0, 1.0), Array(-2.0, -2.0))
    ).toDF("a", "b").select(cos(col("a"), col("b")).as("c"))
    val r = df.as[Double].collect()
    assert(math.abs(r(0) - 1.0) < 1e-12)
    assert(math.abs(r(1)) < 1e-12)
    assert(math.abs(r(2) + 1.0) < 1e-12)
  }

  test("null input and length mismatch yield null") {
    val cos = callCos
    val df = Seq(
      (Some(Array(1.0, 2.0)), None: Option[Array[Double]]),
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 3.0)))
    ).toDF("a", "b").select(cos(col("a"), col("b")).as("c"))
    val r = df.collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("bit-identical to the interpreted higher-order-function formulation") {
    GraftFunctions.register(spark)
    // pseudo-random but deterministic vectors
    val df = spark.range(200)
      .select(col("id"),
        expr("transform(sequence(1, 64), i -> cast(xxhash64(id, i) % 1000 as double) / 997.0)")
          .as("a"),
        expr("transform(sequence(1, 64), i -> cast(xxhash64(id + 7, i) % 1000 as double) / 991.0)")
          .as("b"))
    val native = df.select(col("id"),
      call_function(GraftFunctions.CosineName, col("a"), col("b")).as("c"))
      .orderBy("id").select("c").as[Double].collect()
    // the session carries GraftExtensions, whose CosineRewrite would turn
    // the reference into graft_cosine too: evaluate it with the rule off
    val excluded = "spark.sql.optimizer.excludedRules"
    val prior = spark.conf.getOption(excluded)
    spark.conf.set(excluded, CosineRewrite.ruleName)
    val builtin = try {
      val q = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      assert(!q.queryExecution.optimizedPlan.toString.contains("graft_cosine"),
        s"reference was rewritten:\n${q.queryExecution.optimizedPlan}")
      q.orderBy("id").select("c").as[Double].collect()
    } finally prior match {
      case Some(v) => spark.conf.set(excluded, v)
      case None => spark.conf.unset(excluded)
    }
    assert(native.length === 200 && builtin.length === 200)
    val differ = native.indices.filter(i =>
      java.lang.Double.doubleToLongBits(native(i)) !=
        java.lang.Double.doubleToLongBits(builtin(i)))
    assert(differ.isEmpty,
      s"rows ${differ.take(5).mkString(",")}: native ${differ.take(5).map(native(_))} " +
        s"vs builtin ${differ.take(5).map(builtin(_))}")
  }

  test("CosineRewrite upgrades the HOF cosine pattern to the native expression") {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ graft.plans.CosineRewrite
    try {
      // range (not a LocalRelation) so ConvertToLocalRelation can't
      // evaluate the projection away before our rule sees it
      val df = spark.range(2).select(
        expr("CASE WHEN id = 0 THEN array(1.0d, 2.0d, 3.0d) ELSE array(1.0d, 0.0d, 0.0d) END").as("a"),
        expr("CASE WHEN id = 0 THEN array(4.0d, 5.0d, 6.0d) ELSE array(0.0d, 1.0d, 0.0d) END").as("b"),
        col("id"))
      val q = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("id"))
      assert(q.queryExecution.optimizedPlan.toString.contains("graft_cosine"),
        s"rewrite did not fire:\n${q.queryExecution.optimizedPlan}")
      val got = q.orderBy("id").select("c").as[Double].collect()
      assert(math.abs(got(0) - 32.0 / math.sqrt(14.0 * 77.0)) < 1e-12)
      assert(got(1) === 0.0)
    } finally spark.experimental.extraOptimizations = before
  }

  test("rewrite preserves null-element semantics of the HOF form") {
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ graft.plans.CosineRewrite
    try {
      val df = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
        .toDF("a", "b")
      val q = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      assert(q.collect().head.isNullAt(0))
    } finally spark.experimental.extraOptimizations = before
  }

  test("GraftExtensions injection hook and per-session registration") {
    // the extensions hook accepts injection without error…
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // …and a session the library didn't build can still register imperatively
    val s2 = spark.newSession()
    GraftFunctions.register(s2)
    assert(s2.sql("SELECT graft_cosine(array(1.0d), array(1.0d))")
      .collect().head.getDouble(0) === 1.0)
  }

  test("whole-stage codegen path agrees with interpreted eval") {
    GraftFunctions.register(spark)
    val q = "SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS c"
    val expected = 32.0 / math.sqrt(14.0 * 77.0)
    val on = spark.sql(q).as[Double].collect().head
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = spark.sql(q).as[Double].collect().head
      assert(on === off)
      assert(math.abs(on - expected) < 1e-12)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
