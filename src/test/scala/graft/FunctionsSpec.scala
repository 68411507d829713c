package graft

import java.lang.Double.doubleToLongBits
import java.nio.file.Files
import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.expressions.{HigherOrderFunction, Literal, ScalaUDF}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Dot
import graft.ops.TextOps

/** Native Catalyst expressions (graft.functions): parity with the pure
  * twins and UDF-free plan shape. */
class FunctionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The fold `graft_dot` replaced: zip_with + aggregate, interpreted
    * lambdas. */
  private def foldDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Same double, or both null; 0.0 and −0.0 differ. */
  private def sameBits(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => doubleToLongBits(x) == doubleToLongBits(y)
    case _ => false
  }

  test("graft_dot: bit-identical to the zip_with/aggregate fold, codegen'd and interpreted") {
    GraftExtensions.register(spark)
    val rng = new scala.util.Random(5L)
    val dSpecial = Seq(0.0, -0.0, Double.MinPositiveValue, -4.9e-320, 2.2e-308,
      1e300, -1e300, 1.0, -1.0)
    val fSpecial = Seq(0f, -0f, Float.MinPositiveValue, -1e-40f, 3e38f, -3e38f, 1f)
    def d(): Double =
      if (rng.nextInt(4) == 0) dSpecial(rng.nextInt(dSpecial.size))
      else rng.nextGaussian() * math.pow(10, rng.nextInt(41) - 20)
    def f(): Float =
      if (rng.nextInt(4) == 0) fSpecial(rng.nextInt(fSpecial.size))
      else (rng.nextGaussian() * math.pow(10, rng.nextInt(21) - 10)).toFloat
    // dims 0–128; every tenth row pairs unequal lengths
    val data = (0 until 400).map { i =>
      val n = rng.nextInt(129)
      val m = if (i % 10 == 0) rng.nextInt(129) else n
      (i, Array.fill(n)(f()), Array.fill(m)(f()), Array.fill(n)(d()), Array.fill(m)(d()))
    }
    val pairs = Seq(("fa", "fb"), ("fa", "db"), ("da", "db"))
    // repartition keeps the projection off the driver's local-relation
    // shortcut, so the generated code is what runs
    val got = data.toDF("id", "fa", "fb", "da", "db").repartition(3)
      .select(col("id") +: pairs.flatMap { case (a, b) =>
        Seq(expr(s"graft_dot($a, $b)"), foldDot(col(a), col(b))) }: _*)
      .collect().sortBy(_.getInt(0))
    assert(got.length == data.size)
    def arrLit(v: Any, float: Boolean) =
      Literal(ArrayData.toArrayData(v), ArrayType(if (float) FloatType else DoubleType, false))
    got.zip(data).foreach { case (r, (i, fa, fb, da, db)) =>
      val vals = Map("fa" -> fa, "fb" -> fb, "da" -> da, "db" -> db)
      pairs.zipWithIndex.foreach { case ((a, b), p) =>
        val fold = r.get(2 + 2 * p)
        assert(sameBits(r.get(1 + 2 * p), fold), s"row $i graft_dot($a, $b) codegen")
        val interpreted = Dot(arrLit(vals(a), a.startsWith("f")), arrLit(vals(b), b.startsWith("f"))).eval()
        assert(sameBits(interpreted, fold), s"row $i graft_dot($a, $b) interpreted")
      }
    }
    // the sample reaches the edge cases: null rows, ±Infinity and NaN sums
    val folds = got.map(_.get(6))
    assert(folds.contains(null))
    assert(folds.exists { case x: Double => x.isNaN || x.isInfinite; case _ => false })
  }

  test("graft_dot: null, unequal-length and empty inputs") {
    GraftExtensions.register(spark)
    val cases = Seq[(Option[Seq[java.lang.Double]], Option[Seq[java.lang.Double]], Any)](
      (None, Some(Seq(1.0)), null),                      // null side
      (Some(Seq(1.0, null)), Some(Seq(1.0, 2.0)), null), // null element
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0)), null),       // unequal lengths
      (Some(Seq()), Some(Seq(1.0)), null),
      (Some(Seq()), Some(Seq()), 0.0),                   // empty: 0.0
      (Some(Seq(-0.0)), Some(Seq(1.0)), 0.0),            // 0.0 + −0.0 = 0.0
      (Some(Seq(1.5, -2.0)), Some(Seq(2.0, 0.25)), 2.5))
    val got = cases.zipWithIndex.map { case ((a, b, _), i) => (i, a, b) }
      .toDF("i", "a", "b").repartition(2)
      .select(col("i"), expr("graft_dot(a, b)"), foldDot(col("a"), col("b")))
      .collect().sortBy(_.getInt(0))
    got.zip(cases).foreach { case (r, (_, _, want)) =>
      assert(sameBits(r.get(1), want), s"case ${r.getInt(0)}: ${r.get(1)}")
      assert(sameBits(r.get(2), want), s"fold case ${r.getInt(0)}: ${r.get(2)}")
    }
  }

  test("graft_dot: callable from SQL; type and arity errors are analysis-time") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT graft_dot(array(1D, 2D), array(CAST(3 AS FLOAT), 4))")
      .head().getDouble(0) == 11.0)
    // spark.sql analyses eagerly: these fail before any job is planned
    intercept[AnalysisException](spark.sql("SELECT graft_dot(array(1, 2), array(3D, 4D))"))
    intercept[AnalysisException](spark.sql("SELECT graft_dot('x', array(3D))"))
    intercept[Exception](spark.sql("SELECT graft_dot(array(1D))"))
  }

  test("ANN query plans: dot and norm are the native kernel — no lambda fold, no UDF") {
    val dir = Files.createTempDirectory("graft-ann-plans").toString
    val rng = new scala.util.Random(3L)
    (0L until 80L).map(i => (i, Array.fill(64)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
    for (q <- Seq("q28_lsh_ann_topk", "q42_ivf_ann_topk", "q53_pq_ann", "q54_ivfpq_ann")) {
      val df = SparkEntry.queries(q)(spark, dir)
      assert(df.collect().nonEmpty, q)
      val exprs = collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
        .flatMap(_.expressions).flatMap(_.collect { case e => e })
      assert(exprs.exists(_.isInstanceOf[Dot]), s"$q: no graft_dot in the plan")
      val bad = exprs.filter(e => e.isInstanceOf[HigherOrderFunction] || e.isInstanceOf[ScalaUDF])
      assert(bad.isEmpty, s"$q: ${bad.map(_.prettyName).distinct}")
    }
  }

  test("graft_rolling_fingerprint: native expression == pure-Scala twin, UDF-free plan") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark) // idempotent re-registration

    val samples = Seq(
      "", "a", "short", "x" * 31, "y" * 32,
      "the quick brown fox jumps over the lazy dog and keeps on running",
      "ünïcode π≈3.14159 — non-ascii content with symbols ™",
      ("word " * 40).trim)
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")

    for (k <- Seq(4, 32)) {
      val native = df.select(col("id"),
          expr(s"graft_rolling_fingerprint(text, $k)").as("rfp"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      samples.zipWithIndex.foreach { case (t, i) =>
        assert(native(i.toLong) == TextOps.rollingFingerprint(t, k),
          s"mismatch for sample $i at k=$k")
      }
    }

    // the plan must carry the native expression, not a ScalaUDF
    val plan = df.select(expr("graft_rolling_fingerprint(text, 32)"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"native expression compiled to a UDF:\n$plan")
    assert(plan.contains("graft_rolling_fingerprint"))
  }

  test("graft_rolling_fingerprint: type and arity errors are analysis-time") {
    GraftExtensions.register(spark)
    val df = Seq((1L, "x")).toDF("id", "text")
    intercept[Exception] {
      df.select(expr("graft_rolling_fingerprint(id, 4)")).collect()
    }
    intercept[Exception] {
      df.select(expr("graft_rolling_fingerprint(text)")).collect()
    }
  }
}
