package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Interpreted-vs-codegen parity for the vector and set kernels: every
  * row of [[FloatDot]], [[NearestCentroid]], [[NearestCentroidIn]] and
  * [[SortedIntersectCount]] must be identical under whole-stage codegen
  * and under the interpreted projection (`nullSafeEval`), on the inputs
  * where their null, tie and non-finite rules decide the answer.
  */
class KernelEvalModeSpec extends SparkSpec {
  import spark.implicits._

  private def f(xs: Option[Float]*): Option[Seq[Option[Float]]] = Some(xs)
  private def s(xs: Float*): Option[Seq[Option[Float]]] = Some(xs.map(Some(_)))

  // (id, group, a, b, s1, s2) — `a`/`b` are array<float>; the double
  // columns are their exact widenings, so float and double element paths
  // see the same values
  private val rows = Seq(
    (0L, Some(10L), s(1f, 2f), s(3f, 4f), Some(Seq(1L, 3L, 5L, 7L)), Some(Seq(3L, 4L, 5L))),
    (1L, Some(10L), None, s(1f, 1f), None, Some(Seq(1L))),
    (2L, Some(20L), f(Some(1f), None), s(1f, 2f), Some(Seq.empty[Long]), Some(Seq(1L))),
    (3L, Some(10L), s(1f, 2f, 3f), s(1f, 2f), Some(Seq(1L, 2L, 3L)), Some(Seq(1L, 2L, 3L))),
    (4L, Some(10L), s(), s(), Some(Seq.empty[Long]), Some(Seq.empty[Long])),
    (5L, Some(10L), s(Float.NaN, 1f), s(1f, 1f), Some(Seq(1L, 3L, 5L)), Some(Seq(2L, 4L, 6L))),
    (6L, Some(20L), s(Float.PositiveInfinity, 1f), s(1f, 1f), Some(Seq(-5L, 0L, 7L)), Some(Seq(-5L, 7L, 9L))),
    (7L, Some(20L), s(Float.NegativeInfinity, 1f), s(-1f, 1f), Some(Seq(Long.MinValue, 0L)), Some(Seq(Long.MinValue, Long.MaxValue))),
    // (1, 0) is equidistant from cells 1 and 2 in both models: smaller cell wins
    (8L, Some(10L), s(1f, 0f), s(0.5f, -2.25f), Some(Seq(2L)), None),
    (9L, Some(99L), s(1f, 0f), s(1f, 0f), Some(Seq(1L, 2L)), Some(Seq(2L, 3L))),
    (10L, None, s(0.1f, 0.7f), s(1e30f, -1e30f), Some(Seq(4L)), Some(Seq(4L))))

  private val model = Array((2L, Array(2.0, 0.0)), (1L, Array(0.0, 0.0)), (9L, Array(1.0, 5.0)))
  private val grouped = Map(
    10L -> Array((2L, Array(2.0, 0.0)), (1L, Array(0.0, 0.0))),
    20L -> Array((5L, Array(1.0, 1.0))))

  // parquet-backed: a local Seq would constant-fold into a LocalRelation
  // at optimization time and never run either projection
  private lazy val input: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_evalmode").resolve("in").toString
    rows.toDF("id", "g", "a", "b", "s1", "s2")
      .withColumn("ad", $"a".cast("array<double>"))
      .withColumn("bd", $"b".cast("array<double>"))
      .write.parquet(dir)
    dir
  }

  private def kernels() =
    spark.read.parquet(input).select($"id",
      VectorExpressions.floatDot($"a", $"b").as("dot_ff"),
      VectorExpressions.floatDot($"ad", $"bd").as("dot_dd"),
      VectorExpressions.floatDot($"a", $"bd").as("dot_fd"),
      VectorExpressions.nearestCentroid($"a", model).as("nc_f"),
      VectorExpressions.nearestCentroid($"ad", model).as("nc_d"),
      VectorExpressions.nearestCentroidIn($"g", $"a", grouped).as("nci_f"),
      VectorExpressions.nearestCentroidIn($"g", $"ad", grouped).as("nci_d"),
      SetExpressions.sortedIntersectCount($"s1", $"s2").as("sic"))

  private def collect(): (Seq[Row], String) = {
    val df = kernels()
    val out = df.collect().sortBy(_.getLong(0)).toSeq
    (out, df.queryExecution.executedPlan.toString)
  }

  test("FloatDot, NearestCentroid(In), SortedIntersectCount: interpreted == codegen") {
    val (codegen, codegenPlan) = collect()
    assert(codegenPlan.contains("*(1) Project"),
      s"expected the kernels inside a codegen stage:\n$codegenPlan")
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val (interpreted, interpretedPlan) =
      try {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        collect()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(!interpretedPlan.contains("*("),
      s"expected no codegen stage:\n$interpretedPlan")
    assert(codegen.size == rows.size)
    codegen.zip(interpreted).foreach { case (c, i) =>
      assert(c == i, s"codegen $c != interpreted $i")
    }
    // the rules the two modes agree on, spot-checked
    def at(id: Int) = codegen(id)
    assert(at(0).getDouble(1) == 11.0 && at(0).getLong(8) == 2L)
    assert(at(1).isNullAt(1) && at(1).isNullAt(4) && at(1).isNullAt(8))
    assert(at(2).isNullAt(1) && at(2).isNullAt(4) && at(2).isNullAt(6))
    assert(at(3).isNullAt(1) && at(3).isNullAt(4))
    assert(at(4).getDouble(1) == 0.0 && at(4).isNullAt(4))
    assert(at(5).getDouble(1).isNaN && at(5).isNullAt(4) && at(5).isNullAt(6))
    assert(at(6).isNullAt(4) && at(7).isNullAt(6))
    assert(at(8).getStruct(4) == Row(1.0, 1L) && at(8).getStruct(6) == Row(1.0, 1L))
    assert(at(9).isNullAt(6) && at(9).getStruct(4) == Row(1.0, 1L))
    assert(at(10).isNullAt(6) && at(10).isNullAt(7))
  }
}
