package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  import spark.implicits._

  test("float_dot matches the interpreted HOF fold bit-for-bit") {
    VectorExpressions.register(spark)
    val df = Seq(
      (Array(1.5f, 2.5f, -3f), Array(2f, 0.5f, 4f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.4f, 0.5f, 0.6f))).toDF("a", "b")
    val rows = df.select(
      expr("float_dot(a, b)").as("fast"),
      expr("""aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
             CAST(0 AS DOUBLE), (acc, v) -> acc + v)""").as("ref"))
      .as[(Double, Double)].collect()
    rows.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) == java.lang.Double.doubleToLongBits(ref))
    }
  }

  test("float_dot nulls propagate and empty arrays give 0") {
    VectorExpressions.register(spark)
    val df = Seq(
      (Some(Array(1f)), None: Option[Array[Float]]),
      (Some(Array.empty[Float]), Some(Array.empty[Float]))).toDF("a", "b")
    val got = df.select(expr("float_dot(a, b)")).collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toList == List(None, Some(0.0)))
  }

  test("wrong arity raises WRONG_NUM_ARGS analysis error, not IOOBE") {
    VectorExpressions.register(spark)
    SemverExpressions.register(spark)
    val df = Seq((Array(1f), "1.2.3")).toDF("a", "s")
    for (bad <- Seq("float_dot(a)", "float_dot(a, a, a)",
                    "semver_clean()", "semver_clean(s, s)")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(expr(bad)).collect()
      }
      assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"$bad → ${e.getCondition}")
    }
  }
}
