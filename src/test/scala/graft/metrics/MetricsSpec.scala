package graft.metrics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The metric-layer contract: measures/metrics declared ONCE instantiate
  * over ANY dimension set and equal the hand-written SQL for that grain
  * (reference: models/semantic/semantic_models.yml — the chat-BI surface).
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // fact_visits-shaped rows: (user_id, session_seq, n_events, is_successful)
  private def visits = Seq(
    (1L, 1L, 1L, true),  // first-attempt success
    (1L, 2L, 3L, true),  // troubled success
    (2L, 1L, 2L, false), // failed
    (2L, 2L, 1L, true),  // first-attempt success
    (3L, 1L, 4L, false), // failed
    (4L, 1L, 1L, false)  // failed
  ).toDF("user_id", "session_seq", "n_events", "is_successful")

  private val allMetrics = Seq(
    "total_visits", "total_charge_attempts", "average_attempts_per_visit",
    "first_attempt_success", "troubled_success", "failed_visits",
    "first_attempt_success_rate", "troubled_success_rate", "failed_rate")

  private val model = graft.gates.KwwhatGates.visitSemanticModel

  private def handWritten(dimSql: String, groupSql: String) = {
    visits.createOrReplaceTempView("v")
    spark.sql(
      s"""SELECT $dimSql
         |  count(session_seq) AS total_visits,
         |  sum(n_events) AS total_charge_attempts,
         |  cast(sum(n_events) AS double) / cast(count(session_seq) AS double)
         |    AS average_attempts_per_visit,
         |  sum(cast(is_successful AND n_events = 1 AS bigint)) AS first_attempt_success,
         |  sum(cast(is_successful AND n_events > 1 AS bigint)) AS troubled_success,
         |  count(CASE WHEN is_successful THEN NULL ELSE session_seq END) AS failed_visits,
         |  cast(sum(cast(is_successful AND n_events = 1 AS bigint)) AS double)
         |    / cast(count(session_seq) AS double) AS first_attempt_success_rate,
         |  cast(sum(cast(is_successful AND n_events > 1 AS bigint)) AS double)
         |    / cast(count(session_seq) AS double) AS troubled_success_rate,
         |  cast(count(CASE WHEN is_successful THEN NULL ELSE session_seq END) AS double)
         |    / cast(count(session_seq) AS double) AS failed_rate
         |FROM v $groupSql""".stripMargin)
  }

  test("same declarations over dim set A (user cohort) equal hand-written SQL") {
    val out = model.query(
      visits.withColumn("cohort", pmod(col("user_id"), lit(2L))),
      Seq(col("cohort")), allMetrics)
    val expected = handWritten("user_id % 2 AS cohort,", "GROUP BY user_id % 2")
    assert(out.collect().toSet == expected.collect().toSet)
  }

  test("same declarations over dim set B (outcome flag) equal hand-written SQL") {
    val out = model.query(visits, Seq(col("is_successful")), allMetrics)
    val expected = handWritten("is_successful,", "GROUP BY is_successful")
    assert(out.collect().toSet == expected.collect().toSet)
  }

  test("empty dimension set produces the grand-total row") {
    val out = model.query(visits, Seq.empty, Seq("total_visits", "failed_rate"))
      .as[(Long, Double)].collect()
    assert(out.toSeq == Seq((6L, 0.5)))
  }

  test("one aggregation pass regardless of metric count: a single shuffle") {
    val out = model.query(
      visits.withColumn("cohort", pmod(col("user_id"), lit(2L))),
      Seq(col("cohort")), allMetrics)
    out.collect() // finalize the adaptive plan
    // AQE's toString prints the final AND the initial plan — count shuffles
    // in the final section only
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected ONE shuffle for 9 metrics, got $exchanges:\n$plan")
  }

  test("ratio metrics may reference ratio metrics; cycles are rejected") {
    val m = SemanticModel(
      measures = Seq(
        Measure("n", MeasureAgg.Count, col("session_seq")),
        Measure("s", MeasureAgg.Sum, col("n_events"))),
      metrics = Seq(
        SimpleMetric("total", "n"),
        SimpleMetric("attempts", "s"),
        RatioMetric("rate", "attempts", "total"),
        RatioMetric("rate_of_rate", "rate", "total")))
    val out = m.query(visits, Seq.empty, Seq("rate_of_rate"))
      .as[Double].collect()
    assert(out.head == (12.0 / 6.0) / 6.0)

    val cyclic = SemanticModel(
      measures = Seq(Measure("n", MeasureAgg.Count, col("session_seq"))),
      metrics = Seq(
        RatioMetric("a", "b", "b"),
        RatioMetric("b", "a", "a")))
    intercept[IllegalArgumentException] {
      cyclic.query(visits, Seq.empty, Seq("a"))
    }
  }

  test("timeDim slices a metric by a declared time granularity") {
    val withTs = visits.withColumn("visit_end_ts",
      to_timestamp(concat(lit("2024-01-0"), col("user_id"), lit(" 10:15:00"))))
    val out = model.query(withTs,
        Seq(SemanticModel.timeDim(col("visit_end_ts"), "day", "visit_day")),
        Seq("total_visits"))
      .select(col("visit_day").cast("string"), col("total_visits"))
      .as[(String, Long)].collect().toSet
    assert(out == Set(
      ("2024-01-01", 2L), ("2024-01-02", 2L), ("2024-01-03", 1L), ("2024-01-04", 1L)))
    intercept[IllegalArgumentException] {
      SemanticModel.timeDim(col("visit_end_ts"), "fortnight", "x")
    }
  }

  test("a dimension named like a measure fails with the clash spelled out") {
    val ex = intercept[IllegalArgumentException] {
      model.query(
        visits.withColumn("visits_count", pmod(col("user_id"), lit(2L))),
        Seq(col("visits_count")), Seq("total_visits"))
    }
    assert(ex.getMessage.contains("visits_count"))
  }

  test("unknown metric and unknown measure fail loudly") {
    intercept[IllegalArgumentException] {
      model.query(visits, Seq.empty, Seq("no_such_metric"))
    }
    intercept[IllegalArgumentException] {
      SemanticModel(Nil, Seq(SimpleMetric("m", "missing_measure")))
        .query(visits, Seq.empty, Seq("m"))
    }
  }
}
