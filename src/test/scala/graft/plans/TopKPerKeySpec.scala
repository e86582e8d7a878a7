package graft.plans

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom TopKPerKey physical operator must be row-identical to the
  * sort-based window form on every input, while planning no sort.
  */
class TopKPerKeySpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def windowTopK(k: Int) = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  private def nativeTopK(k: Int) =
    TopK.perKey(
      Tables.orders(spark, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), k)

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Double)].collect().toSet

  test("row-identical to the window form for several k") {
    Seq(1, 3, 10).foreach { k =>
      val native = asSet(nativeTopK(k))
      val window = asSet(windowTopK(k))
      assert(native == window, s"k=$k: native ${native.size} vs window ${window.size}")
      assert(native.nonEmpty)
    }
  }

  test("k larger than every group keeps all rows") {
    val all = Tables.orders(spark, dir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    assert(nativeTopK(1000000).count() == all.count())
  }

  test("plans the custom exec with a hash Exchange and NO sort") {
    val plan = nativeTopK(3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), "custom operator missing from the plan")
    assert(plan.contains("Exchange hashpartitioning"),
      "requiredChildDistribution did not insert the key shuffle")
    assert(!plan.contains("Sort "), s"native top-k should not sort:\n$plan")
    // the window twin DOES sort — that's the work this operator removes
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"))
    val windowPlan = Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .queryExecution.executedPlan.toString
    assert(windowPlan.contains("Sort "))
  }

  test("ascending order and multi-column keys work") {
    val df = Seq(
      ("a", 1L, 1.0), ("a", 1L, 2.0), ("a", 1L, 3.0),
      ("a", 2L, 5.0), ("b", 1L, 4.0)).toDF("g1", "g2", "v")
    val got = TopK.perKey(df, Seq("g1", "g2"), Seq(("v", true)), 2)
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("a", 1L, 1.0), ("a", 1L, 2.0), ("a", 2L, 5.0), ("b", 1L, 4.0)))
  }

  test("works via SparkSessionExtensions registration too") {
    // on the shared test session ensureRegistered already ran — assert
    // it's idempotent rather than duplicated
    TopK.ensureRegistered(spark)
    TopK.ensureRegistered(spark)
    assert(spark.experimental.extraStrategies.count(_ == TopKPerKeyStrategy) == 1)
  }
}
