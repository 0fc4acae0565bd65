package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RewriteHofDotSpec extends SparkSpec {
  import spark.implicits._

  test("RewriteHofDot rewrites aggregate(zip_with(a,b,*),0,+) to FloatDot") {
    spark.experimental.extraOptimizations = Seq(RewriteHofDot)
    try {
      // parquet-backed so ConvertToLocalRelation can't fold the projection
      // away before we can inspect the optimized plan
      val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val hof = df.select(References.dotHof($"embedding", $"embedding").as("d"))
      val optimized = hof.queryExecution.optimizedPlan.toString
      assert(optimized.contains("float_dot"),
        s"expected HOF dot rewritten to float_dot:\n$optimized")
      val native = df.select(VectorExpressions.floatDot($"embedding", $"embedding").as("d"))
      assert(hof.as[Double].collect().toSeq == native.as[Double].collect().toSeq)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("RewriteHofDot leaves non-matching aggregates untouched") {
    spark.experimental.extraOptimizations = Seq(RewriteHofDot)
    try {
      val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
      // different seed (1.0) — must NOT be rewritten
      val other = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
          lit(1.0), (acc, v) => acc + v).as("d"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("float_dot"))
      assert(other.as[Double].collect().head == 12.0)
    } finally spark.experimental.extraOptimizations = Nil
  }
}
