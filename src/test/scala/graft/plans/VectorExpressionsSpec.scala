package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("FloatDot matches the HOF formulation on float arrays") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -1.5f, 2.25f), Array(-2.0f, 0.25f, 8.0f))
    ).toDF("a", "b")
    val out = df.select(
      VectorExpressions.floatDot($"a", $"b").as("native"),
      References.dotHof($"a", $"b").as("hof")).as[(Double, Double)].collect()
    out.foreach { case (n, h) => assert(n == h) }
    assert(out(0)._1 == 32.0)
  }

  test("FloatDot handles double arrays and null inputs") {
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(3.0, 4.0))),
      (None, Some(Array(1.0, 1.0)))
    ).toDF("a", "b")
    val out = df.select(VectorExpressions.floatDot($"a", $"b").as("d"))
      .as[Option[Double]].collect().toSeq
    assert(out == Seq(Some(11.0), None))
  }

  test("FloatDot is null on length mismatch and null elements (no silent truncation)") {
    val mism = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(VectorExpressions.floatDot($"a", $"b")).as[Option[Double]].collect()
    assert(mism.head.isEmpty)
    val withNull = Seq((Seq(Some(1.0f), None), Seq(Some(1.0f), Some(2.0f)))).toDF("a", "b")
      .select(VectorExpressions.floatDot($"a", $"b")).as[Option[Double]].collect()
    assert(withNull.head.isEmpty)
  }

  test("float_dot is callable by SQL name once registered") {
    // getOrCreate would return the existing session and skip extensions, so
    // register into the live session's registry with the same builder the
    // extension injects
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    spark.sessionState.functionRegistry.registerFunction(
      new FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        FloatDot(children.head, children(1)))
    val r = spark.sql("SELECT float_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .as[Double].collect()
    assert(r.head == 11.0)
  }

  test("NearestCentroid nulls non-finite inputs instead of pinning cell 0") {
    val model = Array((0L, Array(0.0, 0.0)), (7L, Array(10.0, 10.0)))
    def assign(v: Array[Float]): Option[Long] = {
      val row = Seq(Tuple1(v)).toDF("v")
        .select(VectorExpressions.nearestCentroid($"v", model).as("n"))
        .select($"n.cell").collect().head
      if (row.isNullAt(0)) None else Some(row.getLong(0))
    }
    assert(assign(Array(9.0f, 9.0f)) == Some(7L))
    assert(assign(Array(Float.NaN, 1.0f)) == None)
    // +Inf gave s = +Infinity for EVERY centroid: strict < never fired and
    // the old NaN-only check silently returned (Infinity, cell 0)
    assert(assign(Array(Float.PositiveInfinity, 1.0f)) == None)
    assert(assign(Array(Float.NegativeInfinity, 1.0f)) == None)
  }
}
