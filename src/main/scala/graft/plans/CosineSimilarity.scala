package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd cosine similarity over two `array<double>` columns.
  *
  * Why a custom Catalyst `Expression` (SURVEY §7.3 escalation rule —
  * built-ins first, custom only where they genuinely fall short): the
  * built-in formulation `aggregate(zip_with(a, b, *), 0d, +)` allocates an
  * intermediate array per row and evaluates through interpreted
  * higher-order lambdas outside whole-stage codegen. For embedding
  * similarity — an O(n·d) full-corpus scan and the hot inner loop of
  * ANN search — that overhead dominates. This expression fuses dot(a,b),
  * |a|² and |b|² into ONE allocation-free loop and participates in
  * whole-stage codegen via [[doGenCode]].
  *
  * Semantics exactly match the built-in/oracle formula
  * `dot(a,b) / sqrt(dot(a,a) · dot(b,b))` with identical sequential
  * summation order, so results are bit-equal to the interpreted path
  * (verified by the shared DuckDB oracle of q_cosine_topk/_fast).
  * Null input or length mismatch → null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> inputs, got $l and $r")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        // a null element nulls the whole result — the exact semantics of
        // the aggregate(zip_with(...)) formulation this expression replaces
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / math.sqrt(na * nb)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $xv = $a.getDouble($i);
         |    final double $yv = $b.getDouble($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Declarative injection point: sessions built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) get graft's native functions,
  * the [[CosineRewrite]] optimizer rule and the
  * [[graft.sources.OccDvRewrite]] analysis rule (batch `graft-occ` reads
  * over deletion vectors) in every new session, the standard deployment
  * path for a cluster-wide install; [[graft.Session.builder]] sets it.
  * [[GraftFunctions.register]] remains for sessions the library doesn't
  * construct (functions only).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
        builder))
    }
    ext.injectOptimizerRule(_ => CosineRewrite)
    ext.injectPostHocResolutionRule(graft.sources.OccDvRewrite)
  }
}

/** Registration of graft's native functions into a session's catalog —
  * idempotent, callable from any query builder (no spark.sql.extensions
  * config needed, so driver-owned sessions work too). After registration
  * the expression is available to SQL and to `call_function`.
  */
object GraftFunctions {
  val CosineName = "graft_cosine"
  val ShingleName = "graft_shingle_hashes"
  val ShingleStringsName = "graft_shingle_strings"
  val ShingleStringsAllName = "graft_shingle_strings_all"
  val SimHashName = "graft_simhash64"
  val BloomAggName = "graft_bloom_agg"
  val BloomMightContainName = "graft_bloom_might_contain"

  private def arity(name: String, n: Int, children: Seq[Expression]): Unit =
    if (children.size != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${children.size}")

  /** Foldable-integer extraction for `k`-style parameters arriving as
    * literals from `call_function`/SQL.
    */
  private def intLiteral(name: String, e: Expression): Int = {
    if (!e.foldable) throw new IllegalArgumentException(
      s"$name k must be an integer literal, got non-foldable $e")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$name k must be an integer literal, got $other")
    }
  }

  /** (name, implementing class, builder) for every graft native function. */
  private[plans] val builders: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    (CosineName, classOf[CosineSimilarity], (children: Seq[Expression]) => {
      arity(CosineName, 2, children)
      CosineSimilarity(children(0), children(1))
    }),
    (ShingleName, classOf[ShingleHashes], (children: Seq[Expression]) => {
      arity(ShingleName, 2, children)
      ShingleHashes(children(0), intLiteral(ShingleName, children(1)))
    }),
    (ShingleStringsName, classOf[ShingleStrings], (children: Seq[Expression]) => {
      arity(ShingleStringsName, 2, children)
      ShingleStrings(children(0), intLiteral(ShingleStringsName, children(1)))
    }),
    (ShingleStringsAllName, classOf[ShingleStringsAll], (children: Seq[Expression]) => {
      arity(ShingleStringsAllName, 2, children)
      ShingleStringsAll(children(0), intLiteral(ShingleStringsAllName, children(1)))
    }),
    (SimHashName, classOf[SimHash64], (children: Seq[Expression]) => {
      arity(SimHashName, 1, children)
      SimHash64(children(0))
    }),
    // Catalyst's own bloom-filter pair (the engine uses them for runtime
    // join filtering) surfaced as callable functions: the sketch path for
    // membership tests against a corpus too large to shuffle or join.
    (BloomAggName,
      classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
      (children: Seq[Expression]) => {
        arity(BloomAggName, 2, children)
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1))
      }),
    (BloomMightContainName,
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      (children: Seq[Expression]) => {
        arity(BloomMightContainName, 2, children)
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))
      }),
  )

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, clazz, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(
          ident, new ExpressionInfo(clazz.getName, name), builder)
      }
    }
  }
}
