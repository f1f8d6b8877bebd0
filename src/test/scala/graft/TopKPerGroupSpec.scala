package graft

import org.apache.spark.sql.functions._

import graft.plans.TopKPerGroup

/** Edge-case tests for the custom top-k-per-group operator, compared
  * against the window formulation it replaces. */
class TopKPerGroupSpec extends SparkTestBase {

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k).drop("rn")
  }

  private def assertSame(df: org.apache.spark.sql.DataFrame, k: Int): Unit = {
    // The reference must stay a real window plan, or the operator is
    // compared with itself. Spark's own InferWindowGroupLimit adds a
    // WindowGroupLimit below it unless the input cannot exceed k rows.
    val reference = windowTopK(df, k)
    val plan = reference.queryExecution.optimizedPlan.toString
    assert(plan.contains("Window ["), s"k=$k reference is no window plan:\n$plan")
    assert(!plan.contains("TopKPerGroup"), s"k=$k reference planned as the operator:\n$plan")
    if (df.queryExecution.optimizedPlan.maxRows.forall(_ > k))
      assert(plan.contains("WindowGroupLimit"), s"k=$k reference has no group limit:\n$plan")
    val custom = TopKPerGroup(df, Seq("g"), Seq("v" -> false, "id" -> true), k)
      .orderBy("g", "id").collect().map(_.toSeq).toSeq
    val window = reference.orderBy("g", "id").collect().map(_.toSeq).toSeq
    assert(custom == window)
  }

  test("matches window formulation on groups smaller, equal, larger than k") {
    import spark.implicits._
    val df = Seq(
      // group a: 1 row (< k)
      ("a", 1L, 10.0),
      // group b: exactly k rows
      ("b", 2L, 5.0), ("b", 3L, 7.0), ("b", 4L, 6.0),
      // group c: > k rows with a duplicated value (tie broken by id)
      ("c", 5L, 9.0), ("c", 6L, 9.0), ("c", 7L, 1.0), ("c", 8L, 9.0), ("c", 9L, 2.0)
    ).toDF("g", "id", "v")
    assertSame(df, 3)
    assertSame(df, 1)
    assertSame(df, 100)
  }

  test("handles many groups across partitions") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g${i % 97}", i.toLong, (i * 37 % 101).toDouble))
      .toDF("g", "id", "v").repartition(7)
    assertSame(df, 4)
  }

  test("null group keys form their own group") {
    import spark.implicits._
    val df = Seq((Some("a"), 1L, 3.0), (None, 2L, 5.0), (None, 3L, 4.0), (None, 4L, 6.0))
      .toDF("g", "id", "v")
    assertSame(df, 2)
  }
}
