package perfbench

import graft.metrics.{Measure, MeasureAgg, RatioMetric, SemanticModel, SimpleMetric}
import graft.operators.{AsOf, ChangeDetect, Intervals, Outages, Sessionize, Visits}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The kwwhat dbt pipeline as ten steps over the OCPP-shaped event log.
  * Every step writes `<out>/<step>.parquet`, and later steps read those
  * files, as dbt materializes models. Output columns follow the graft gates
  * each step mirrors, so their DuckDB oracles apply unchanged.
  */
object Kwwhat {
  def run(spark: SparkSession, in: String, out: String, step: StepRunner): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def stg = Tables.load(spark, out, "stg_frames")

    step("stg_frames") {
      val ev = Tables.events(spark, in)
      val msg = when(col("event_id") % 2 === 0,
          concat(lit("[2,\""), col("event_id"), lit("\",\""), col("event_type"),
            lit("\","), col("props"), lit("]")))
        .otherwise(concat(lit("[3,\""), col("event_id"), lit("\","), col("props"), lit("]")))
      write("stg_frames", ev
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"),
          msg.as("msg"))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"), col("value"),
          get_json_object(col("msg"), "$[0]").as("message_type_id"),
          get_json_object(col("msg"), "$[1]").as("unique_id"),
          when(get_json_object(col("msg"), "$[0]") === "2",
            get_json_object(col("msg"), "$[3].k"))
            .otherwise(get_json_object(col("msg"), "$[2].k"))
            .cast("bigint").as("k_value")))
    }

    step("status_changes") {
      write("status_changes", ChangeDetect.changes(
          stg.select("user_id", "ts", "event_id", "event_type"),
          Seq("user_id"), Seq("ts", "event_id"), "event_type")
        .select(
          col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_type").as("status"),
          col("previous_status"),
          unix_micros(col("previous_ts")).as("previous_ts_us"),
          col("next_status"),
          unix_micros(col("next_ts")).as("next_ts_us")))
    }

    step("transactions") {
      val ev = stg
      write("transactions", AsOf.correlateFirstWithin(
          ev.filter(col("event_type") === "signup").select("event_id", "user_id", "ts"),
          ev.filter(col("event_type") === "purchase"),
          Seq("user_id"), "event_id", "ts", "ts", 7L * 86400L, Seq("event_id", "value"))
        .select(
          col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("matched_ts")).as("matched_ts_us"),
          col("matched_event_id"), col("matched_value")))
    }

    step("sessions") {
      val sessionized = Sessionize.sessionize(stg, Seq("user_id"), "ts", 1800L,
        tieBreakCols = Seq("event_id"))
      write("sessions", Sessionize.sessionMetrics(sessionized, Seq("user_id"), "ts", Seq(
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          max(struct(col("ts"), col("event_id"), col("event_type"))).as("_last")))
        .select(
          col("user_id"), col("session_seq"),
          unix_micros(col("session_start_ts")).as("session_start_us"),
          unix_micros(col("session_end_ts")).as("session_end_us"),
          col("n_events"), col("total_value"), col("n_purchases"),
          col("_last.event_type").as("last_event_type")))
    }

    step("visits") {
      val attempts = stg.select(
        col("event_id"),
        col("user_id").cast("string").as("charger_id"),
        (col("event_id") % 2).cast("string").as("port_id"),
        (col("user_id") % 20).cast("string").as("location_id"),
        col("ts").as("start_ts"),
        timestamp_micros(
          unix_micros(col("ts")) + (lit(30L) + col("event_id") % 300L) * 1000000L).as("stop_ts"),
        when(col("event_type").isin("purchase", "click"),
          concat(lit("T"), (col("user_id") % 7).cast("string"))).as("id_tag"),
        col("value"))
      write("visits", Visits.visits(attempts, "location_id", Seq("charger_id", "port_id"),
          "start_ts", "stop_ts", "id_tag",
          authGapSeconds = 1800L, anonGapSeconds = 120L, chainGapSeconds = 120L,
          tieBreakCols = Seq("event_id"),
          extraAggs = Seq(
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
        .select(
          col("grouping_key"), col("visit_seq"),
          unix_micros(col("visit_start_ts")).as("visit_start_us"),
          unix_micros(col("visit_end_ts")).as("visit_end_us"),
          col("charge_attempt_count"), col("id_tag"), col("location_id"),
          col("total_value")))
    }

    step("offline_gaps") {
      val ev = stg
      val bounds = ev.agg(min(col("ts")).as("mstart"), max(col("ts")).as("mend"))
      write("offline_gaps", Intervals.heartbeatGaps(
          ev.select("user_id", "ts").crossJoin(broadcast(bounds)),
          Seq("user_id"), "ts", "mstart", "mend", 3600L)
        .select(
          col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us"),
          col("gap_seconds")))
    }

    step("uptime_daily") {
      val ev = stg.select("user_id", "ts")
      val span = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("c_start"), max(col("ts")).as("c_end"))
      val commissioned = Intervals.allocateToDays(span, "c_start", "c_end")
        .select(col("user_id"), col("date_id"), col("overlap_us").as("c_us"))
      val gaps = Intervals.heartbeatGaps(
          ev.join(span, "user_id"), Seq("user_id"), "ts", "c_start", "c_end", 3600L)
        .select(col("user_id"), col("from_ts"), col("to_ts"))
      val downtime = Intervals.allocateToDays(gaps, "from_ts", "to_ts")
        .groupBy(col("user_id"), col("date_id"))
        .agg(sum(col("overlap_us")).as("d_us"))
      write("uptime_daily", commissioned.join(downtime, Seq("user_id", "date_id"), "left")
        .withColumn("d_us", coalesce(col("d_us"), lit(0L)))
        .filter(col("c_us") > 0)
        .select(col("user_id"), col("date_id"),
          ((col("c_us") - col("d_us")).cast("double") / col("c_us").cast("double"))
            .as("uptime")))
    }

    step("interval_15m") {
      write("interval_15m", stg
        .groupBy(Intervals.timeBucket(col("ts"), 900L).as("bucket_ts"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(unix_micros(col("bucket_ts")).as("bucket_start_us"),
          col("event_type"), col("n"), col("total_value")))
    }

    step("faulted_outages") {
      val spans = stg.select(
        col("user_id"),
        (col("event_id") % 2).cast("string").as("connector_id"),
        col("ts").as("from_ts"),
        (col("ts") + expr("interval 10 minutes")).as("to_ts"))
      val required = spans.select("user_id").distinct().withColumn("n_connectors", lit(2L))
      write("faulted_outages", Outages.allFaultedOutages(spans, Seq("user_id"), "connector_id",
          "from_ts", "to_ts", required, "n_connectors")
        .select(col("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          unix_micros(col("to_ts")).as("to_us")))
    }

    step("metric_layer") {
      val visits = Tables.load(spark, out, "sessions")
        .withColumn("is_successful", col("last_event_type") === "purchase")
        .withColumn("cohort", pmod(col("user_id"), lit(10L)))
      val visitMetrics = VisitModel.query(visits, Seq(col("cohort")),
        Seq("total_visits", "total_charge_attempts", "average_attempts_per_visit",
          "first_attempt_success", "troubled_success", "failed_visits",
          "first_attempt_success_rate", "troubled_success_rate", "failed_rate"))
      // uptime quantized to 2^-40 by binary scaling: every partial sum stays
      // exact, so the mean does not depend on summation order
      val q = lit(1099511627776.0)
      val uptimeModel = SemanticModel(
        measures = Seq(Measure("uptime_average", MeasureAgg.Average, floor(col("uptime") * q) / q)),
        metrics = Seq(SimpleMetric("average_uptime", "uptime_average")))
      val uptimeMetrics = uptimeModel.query(
        Tables.load(spark, out, "uptime_daily").withColumn("cohort", pmod(col("user_id"), lit(10L))),
        Seq(col("cohort")), Seq("average_uptime"))
      write("metric_layer", visitMetrics.join(uptimeMetrics, Seq("cohort"), "left"))
    }
  }

  /** The kwwhat visit semantic model: measures over a visit-grain frame
    * (`session_seq`, `n_events`, `is_successful`) and its simple and ratio
    * metrics. */
  val VisitModel: SemanticModel = SemanticModel(
    measures = Seq(
      Measure("visits_count", MeasureAgg.Count, col("session_seq")),
      Measure("charge_attempts_count", MeasureAgg.Sum, col("n_events")),
      Measure("first_attempt_success_count", MeasureAgg.SumBoolean,
        col("is_successful") && col("n_events") === 1L),
      Measure("troubled_success_count", MeasureAgg.SumBoolean,
        col("is_successful") && col("n_events") > 1L),
      Measure("failed_visits_count", MeasureAgg.Count,
        when(!col("is_successful"), col("session_seq")))),
    metrics = Seq(
      SimpleMetric("total_visits", "visits_count"),
      SimpleMetric("total_charge_attempts", "charge_attempts_count"),
      RatioMetric("average_attempts_per_visit", "total_charge_attempts", "total_visits"),
      SimpleMetric("first_attempt_success", "first_attempt_success_count"),
      SimpleMetric("troubled_success", "troubled_success_count"),
      SimpleMetric("failed_visits", "failed_visits_count"),
      RatioMetric("first_attempt_success_rate", "first_attempt_success", "total_visits"),
      RatioMetric("troubled_success_rate", "troubled_success", "total_visits"),
      RatioMetric("failed_rate", "failed_visits", "total_visits")))
}
