package graft
package gates

import graft.functions.Text
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Query gates — Structured Streaming: every q_stream_* gate, run over an
  * ordered file replay. Each gate pairs its Spark query with the DuckDB
  * oracle SQL the correctness gate compares it against. */
private[graft] object StreamingGates {
  import Shared._

  /** Fresh memory-sink table name for a streaming gate query, dropping the
    * retained complete-mode results of EARLIER invocations first (the
    * median-of-3 bench calls each gate query three times; by the next call
    * the previous DataFrame is consumed and only the catalog entry pins
    * the old sink's rows in driver memory).
    *
    * Two declared deviations from the gate contract, shared by every
    * q_stream_* gate: (1) the LAST invocation's sink rows stay pinned in
    * driver memory for the session lifetime — the returned DataFrame lazily
    * reads the memory-sink temp view, so it cannot be dropped until the
    * caller is done with it, and the caller has no hook to say so; the cost
    * is one sf-sized result set per stream gate, bounded and driver-local.
    * (2) the q_stream_* gates execute EAGERLY (start/awaitTermination
    * inside query construction) — a streaming query has no lazy batch plan
    * to hand back, so construction runs the bounded stream to completion
    * and returns a batch view of the final sink. */
  private def freshStreamTable(s: SparkSession, prefix: String): String = {
    s.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith(prefix))
      .foreach(t => s.catalog.dropTempView(t.name))
    s"$prefix${System.nanoTime}"
  }

  /** Fresh temp path for `gate`'s ordered file replay (see
    * [[graft.streaming.FileReplay]]). Stale replay/checkpoint dirs from
    * EARLIER invocations of the same gate are removed first (same contract
    * as [[freshStreamTable]]); callers delete the dir once their query has
    * stopped.
    */
  private def replayDir(gate: String): String = {
    cleanupTmp(s"graft-replay-$gate-")
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-replay-$gate-${System.nanoTime()}").getAbsolutePath
  }

  /** Run `body` with `spark.sql.shuffle.partitions=8`, restoring after.
    * Every stream gate runs inside it: a stateful operator commits one
    * state-store delta PER SHUFFLE PARTITION PER MICRO-BATCH, so at gate
    * scale (tiny batches × ≥5 batches × several gates) the session default
    * of 32 partitions is pure commit overhead — measured 2.3× slower than
    * 8 at sf0.1. Sizing state partitions to the stream's data volume is
    * the same discipline a production job applies; the partition count is
    * baked into the checkpoint at first start anyway, so it is a per-query
    * decision, not a session one. Batch queries keep the session's 32.
    */
  private def withGateShuffle[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  /** Start the query `start` builds with the AvailableNow trigger, wait for
    * it to drain the bounded source and stop it; its last batch id (-1 when
    * no batch ran). */
  private def drain(start: Trigger => StreamingQuery): Long = {
    val q = start(Trigger.AvailableNow())
    try { q.awaitTermination(); Option(q.lastProgress).map(_.batchId).getOrElse(-1L) }
    finally q.stop()
  }

  /** ≥5 micro-batches actually ran — the multi-batch replay did not
    * degenerate into one bulk batch (cross-batch state was exercised). */
  private def assertMultiBatch(lastBatchId: Long): Unit =
    require(lastBatchId >= 4L,
      s"stream gate expected >=5 micro-batches, saw batchId=$lastBatchId — " +
        "the ordered file replay degenerated into too few batches")

  /** The stream-gate harness. Under [[withGateShuffle]], write `src` as a
    * `chunks`-file replay ordered on `orderCols`, plus one file per
    * `sentinels` frame (each its own micro-batch), then drain the query
    * `start` builds over the one-file-per-micro-batch stream and
    * [[assertMultiBatch]]. The replay dir is deleted in `finally`, which
    * also covers a failed write or start.
    */
  private[graft] def replayGate(
      s: SparkSession,
      gate: String,
      src: DataFrame,
      orderCols: Seq[String],
      chunks: Int = 6,
      sentinels: Seq[DataFrame] = Nil)(
      start: (DataFrame, Trigger) => StreamingQuery): Unit = withGateShuffle(s) {
    val rdir = replayDir(gate)
    try {
      graft.streaming.FileReplay.writeOrdered(src, orderCols, chunks, rdir)
      val stream = graft.streaming.FileReplay.stream(s, rdir, s.read.parquet(rdir).schema)
      sentinels.foreach(graft.streaming.FileReplay.appendFile(_, rdir))
      assertMultiBatch(drain(start(stream, _)))
    } finally graft.streaming.FileReplay.deleteRecursively(new java.io.File(rdir))
  }

  /** [[replayGate]] into a memory sink in output `mode`: `build` turns the
    * replay stream into the streamed result; returns the final sink table. */
  private[graft] def memoryGate(
      s: SparkSession,
      gate: String,
      src: DataFrame,
      orderCols: Seq[String],
      mode: String,
      chunks: Int = 6,
      sentinels: Seq[DataFrame] = Nil)(build: DataFrame => Dataset[_]): DataFrame = {
    val name = freshStreamTable(s, s"${gate}_")
    replayGate(s, gate, src, orderCols, chunks, sentinels) { (stream, trigger) =>
      build(stream).writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(trigger).start()
    }
    s.table(name)
  }

  /** Views joined to the same user's purchases within the next 30 minutes,
    * both sides watermarked 1 h — the stream-stream interval join of
    * q_stream_join, q_stream_left_join and q_stream_full_join. */
  private def viewPurchaseJoin(stream: DataFrame, joinType: String): DataFrame = {
    val views = stream.where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = stream.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
  }

  /** Two far-future sentinel files for the outer view/purchase joins, each
    * a view AND a purchase of fake user -1: the global watermark is the MIN
    * over both inputs' watermarks, so each side needs a far-future row or
    * the lagging side pins eviction short of the last windows. */
  private def viewPurchaseSentinels(s: SparkSession, mendUs: Long): Seq[DataFrame] = {
    val t1 = mendUs + 4L * 3600L * 1000000L
    Seq(t1, t1 + 4L * 3600L * 1000000L).map { t =>
      s.range(1).select(
        expr(s"timestamp_micros(${t}L)").as("ts"),
        lit(-1L).as("user_id"), lit(-1L).as("event_id"),
        lit("view").as("event_type"))
        .unionByName(s.range(1).select(
          expr(s"timestamp_micros(${t}L)").as("ts"),
          lit(-1L).as("user_id"), lit(-2L).as("event_id"),
          lit("purchase").as("event_type")))
    }
  }

  /** Events as `StreamChangeDetect.StatusEvent` rows — the replay source of
    * q_stream_changes and q_stream_scd2 (ordered on ts, event_id). */
  private def statusEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("user_id").cast("long").as("key"), col("ts"),
      col("event_type").as("status"), col("event_id").cast("long").as("event_id"))

  /** 30-minute gap sessions per user over a (user_id, ts) stream. */
  private def streamSessions(stream: DataFrame): DataFrame =
    graft.streaming.StreamSessionize.sessions(
      stream, Seq("user_id"), "ts", gap = "30 minutes", watermark = "0 seconds")

  /** A session sink in the session gates' columns. session_window's end is
    * last_event + gap; subtracting the gap expresses end as the last event
    * ts, matching the batch rollup. */
  private def sessionRows(sink: DataFrame): DataFrame =
    sink.select(
      col("user_id"),
      unix_micros(col("session_start_ts")).as("session_start_us"),
      (unix_micros(col("session_end_ts")) - 1800000000L).as("session_end_us"),
      col("n_events"))

  /** The session gates' oracle: the same gap sessionization as SessSql,
    * rolled up per session (session_end = last event ts). */
  private val StreamSessionsSql = SessSql +
    """
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) AS session_end_us,
      |  count(*) AS n_events
      |FROM sess GROUP BY user_id, session_seq""".stripMargin

  /** Documents with an ingest time synthesized from doc_id — the replay
    * source of q_stream_dedup and q_stream_ingest. +1 day: doc_id 0 would
    * land exactly on epoch 0 — the state store's INITIAL watermark value —
    * and be dropped as late. */
  private def ingestDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("text"),
      expr("timestamp_micros(doc_id + 86400000000)").as("ingest_ts"))

  /** Re-deliveries of the same normalized text dropped in the state store. */
  private def exactDedup(docs: DataFrame): DataFrame =
    graft.streaming.StreamDedup.exactDedup(
      docs, "text", "ingest_ts", watermarkDelay = "1 minute")

  val gates: Seq[Gate] = Seq(
    // §2#37e the SAME count-min counters built through the streaming
    // stateful-agg path: counting is associative-commutative, so the
    // complete-mode final counter table must equal the batch one across
    // real micro-batch boundaries — the frequency twin of q_stream_sketch.
    Gate("q_stream_cm", (s, dir) =>
      memoryGate(s, "q_stream_cm",
          Tables.events(s, dir).select(col("ts"), col("event_type"), col("user_id")),
          Seq("ts"), "complete") { stream =>
        Sketch.countMinCounters(
          stream.select(col("event_type"), col("user_id")),
          Seq("event_type"), col("user_id"), depth = 4, width = 256, seed = 19L)
      }.select(col("event_type"), col("r").cast("long").as("r"),
        col("bucket"), col("cnt").cast("long").as("cnt")),
      // the streaming count-min twin: same counters via the stateful-agg
      // path, compared at counter-table grain
      s"""WITH f0 AS (SELECT event_type, CAST(user_id AS VARCHAR) AS shingle
         |  FROM events WHERE user_id IS NOT NULL),
         |folded AS (SELECT event_type, $FnvFoldSql AS h FROM f0),
         |rs AS (SELECT unnest(range(4)) AS r),
         |j AS (SELECT event_type, h, r FROM folded CROSS JOIN rs),
         |z0 AS (SELECT event_type, r, CAST((CAST(h AS HUGEINT) +
         |    (19 + r) * CAST('$GoldenB' AS HUGEINT)) % 18446744073709551616
         |    AS UBIGINT) AS z FROM j),
         |z1 AS (SELECT event_type, r, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
         |z2 AS (SELECT event_type, r, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT event_type, r, xor(z, z >> 31) AS z FROM z2)
         |SELECT event_type, cast(r AS bigint) AS r,
         |  cast(z % 256 AS bigint) AS bucket,
         |  cast(count(*) AS bigint) AS cnt
         |FROM hv GROUP BY 1, 2, 3""".stripMargin),

    // §2#37c STREAMING sketch gate — the S7 batch-equivalence proof as a
    // driver-gated query: StreamSketch.registers runs over a bounded FILE
    // STREAM of the events table (Trigger.AvailableNow — the stream sees
    // the data in file-sized micro-batches through the real stateful-agg
    // path, complete-mode memory sink), and the FINAL streaming state is
    // returned and oracle-checked against the same FnvMix register replay
    // as q_card_sketch. Registers are associative/idempotent maxes, so
    // stream-final must equal batch — this gate pins that end to end
    // across ≥6 REAL micro-batch state commits.
    Gate("q_stream_sketch", (s, dir) =>
      memoryGate(s, "q_stream_sketch",
          Tables.events(s, dir).select(col("ts"), col("event_type"), col("user_id")),
          Seq("ts"), "complete") { stream =>
        graft.streaming.StreamSketch.registers(
          stream.select(col("event_type"), col("user_id")),
          Seq("event_type"), "user_id", seed = 11L)
      }.select(col("event_type"), col("bucket"),
        col("reg").cast("long").as("reg")),
      // the streaming gate replays the SAME register chain — stream-final
      // state must equal the batch registers row for row
      s"""WITH $CardRegsCtes
         |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(reg AS BIGINT) AS reg
         |FROM regs""".stripMargin),

    // §2#37h the SAME histogram built through the streaming stateful-agg
    // path: bucket counting is associative-commutative, so the complete-mode
    // final histogram must equal the batch one across real micro-batch
    // boundaries — the quantile twin of q_stream_cm / q_stream_sketch.
    Gate("q_stream_hist", (s, dir) =>
      memoryGate(s, "q_stream_hist",
          Tables.documents(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          Seq("doc_id"), "complete") { stream =>
        Sketch.logHistogram(stream, Seq("source"), col("n_chars"))
      }.select(col("source"), col("bucket"),
        col("cnt").cast("long").as("cnt")),
      // the streaming twin compares at histogram grain: stream-final
      // complete-mode state must equal the batch bucket counts row for row
      s"""WITH $HistCtes
         |SELECT source, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(cnt AS BIGINT) AS cnt FROM hist""".stripMargin),

    // §2#3b stream-STATIC enrichment join — the one streaming operator
    // class the board didn't yet gate: every micro-batch of the event
    // stream joins the static customer dimension (broadcast, the same
    // plan shape as the batch q_dim_join), then a stateful agg rolls the
    // enriched stream up per segment. Complete-mode final state must
    // equal the batch join+agg — gated across ≥5 real micro-batches.
    Gate("q_stream_enrich", (s, dir) => {
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      memoryGate(s, "q_stream_enrich",
          Tables.events(s, dir).select(col("ts"), col("user_id"), col("value")),
          Seq("ts"), "complete") { stream =>
        stream
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      }.select(col("c_mktsegment"), col("n_events"),
        col("total_value"))
    },
      // stream-static enrichment: the stream-final complete-mode state must
      // equal the batch join+agg (decimal-exact sum, cast to double at the
      // very end like q_bucket15)
      """SELECT c_mktsegment, cast(count(*) AS bigint) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1""".stripMargin),

    // §2#11d STREAM-STREAM time-interval join — the hardest streaming
    // operator class (two watermarked sides, range condition, state
    // retention governed by the watermark): each view pairs with the same
    // user's purchases within the next 30 minutes. Deterministic and
    // batch-equivalent BY CONSTRUCTION here: the replay files are ordered
    // by event time, and the 1 h watermark delay exceeds the 30 min join
    // window, so neither side's state can be evicted before every
    // possible partner has arrived — the final append output must equal
    // the batch interval join, hash-checked.
    Gate("q_stream_join", (s, dir) =>
      memoryGate(s, "q_stream_join",
          Tables.events(s, dir)
            .select(col("ts"), col("user_id"), col("event_id"), col("event_type")),
          Seq("ts"), "append") { stream =>
        viewPurchaseJoin(stream, "inner")
          .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
            unix_micros(col("v_ts")).as("view_us"),
            unix_micros(col("p_ts")).as("purchase_us"),
            (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
      },
      // stream-stream interval join: the final append output must equal the
      // batch interval join (watermark delay > join window + ordered replay
      // make eviction-before-match impossible)
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'view' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // §2#11e watermarked stream-stream LEFT OUTER interval join — the
    // state-EVICTION semantics inner joins never exercise: an unmatched
    // view row is emitted only when the watermark PROVES no purchase can
    // still arrive in its window, so outer results are produced by state
    // cleanup itself. Two far-future sentinel rows (the q_stream_outages
    // device) drive the final watermark past every open window, making the
    // emitted set deterministic and equal to the batch LEFT JOIN oracle.
    Gate("q_stream_left_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      // one-scalar bounds lookup (driver-side parameter, not data)
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      memoryGate(s, "q_stream_left_join", ev, Seq("ts"), "append",
          sentinels = viewPurchaseSentinels(s, mendUs)) { stream =>
        viewPurchaseJoin(stream, "left_outer")
          .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
            unix_micros(col("v_ts")).as("view_us"),
            unix_micros(col("p_ts")).as("purchase_us"))
      }.filter(col("user_id") =!= lit(-1L))
    },
      // watermark-evicted outer rows must reconstruct the batch LEFT JOIN
      """SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // §2#11f watermarked stream-stream FULL OUTER interval join — BOTH
    // state stores' watermark cleanup must emit null-extended rows: an
    // unmatched view when no purchase can still arrive in its window, an
    // unmatched purchase when no view can still open one over it. The
    // q_stream_left_join sentinel device generalizes: the sentinel pair
    // rides both inputs, driving the global watermark (the MIN over both)
    // past every open window on each side, so the emitted set equals the
    // batch FULL JOIN oracle exactly.
    Gate("q_stream_full_join", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      memoryGate(s, "q_stream_full_join", ev, Seq("ts"), "append",
          sentinels = viewPurchaseSentinels(s, mendUs)) { stream =>
        viewPurchaseJoin(stream, "full_outer")
          .select(coalesce(col("v_user"), col("p_user")).as("user_id"),
            col("view_id"), col("purchase_id"),
            unix_micros(col("v_ts")).as("view_us"),
            unix_micros(col("p_ts")).as("purchase_us"))
      }.filter(col("user_id") =!= lit(-1L))
    },
      // BOTH sides' watermark cleanup must reconstruct the batch FULL JOIN
      """SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  a.event_id AS view_id, b.event_id AS purchase_id,
        |  epoch_us(a.ts) AS view_us, epoch_us(b.ts) AS purchase_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') a
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE""".stripMargin),

    // §2#19d the tumbling-window stream (S3) driver-gated through the REAL
    // Structured Streaming stateful-agg path: events streamed as a bounded
    // file source, StreamBucketAgg.tumbling's final window state must equal
    // the batch 15-minute bucketing (same SQL oracle family as q_bucket15).
    // Complete mode so every window survives to the final table — the
    // watermark/append finalization semantics are spec-tested (S3 spec).
    // Multi-batch replay: count/decimal-sum window state is associative,
    // so complete-mode final windows are batching-independent — proven
    // here across ≥6 real windowed-stateful-agg micro-batch commits.
    Gate("q_stream_bucket15", (s, dir) =>
      memoryGate(s, "q_stream_bucket15",
          Tables.events(s, dir).select(col("ts"), col("event_type"), col("value")),
          Seq("ts"), "complete") { stream =>
        graft.streaming.StreamBucketAgg.tumbling(
          stream, Seq("event_type"), "ts", "15 minutes", "0 seconds",
          Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
      }.select(
        unix_micros(col("bucket_start")).as("bucket_start_us"),
        col("event_type"),
        col("n_events").as("n"),
        col("total_value")),
      // the streaming tumbling window's final state must equal the batch
      // bucketing — same oracle as q_bucket15
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts)) AS bucket_start_us,
        |  event_type, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2#7d the change-detection stream (S2) driver-gated through the REAL
    // flatMapGroupsWithState path: events replayed as an event-time-ordered
    // multi-file stream (FileReplay), so per-key last-status state crosses
    // ≥6 REAL micro-batch boundaries — the production failure mode — and
    // the append-mode transitions must still equal the batch lag-based
    // change detection. The replay orders files on (ts, event_id), so rows
    // tied on ts land in event_id order across a chunk boundary too,
    // matching the oracle's lag(... ORDER BY ts, event_id) exactly.
    // previous_ts is NOT gated: the stream states the last TRANSITION's ts
    // while the batch lags the last EVENT's ts — same previous_status (all
    // events between two transitions share a status), different timestamp
    // meaning.
    Gate("q_stream_changes", (s, dir) =>
      memoryGate(s, "q_stream_changes", statusEvents(s, dir), Seq("ts", "event_id"),
          "append") { stream =>
        graft.streaming.StreamChangeDetect.changes(stream.as(
          org.apache.spark.sql.Encoders.product[graft.streaming.StreamChangeDetect.StatusEvent]))
      }.select(
        col("key").as("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("status"),
        col("previous_status")),
      // the streaming gate projects previous_ts/next_* out (see the query's
      // comment); otherwise the same transition set as q_status_changes
      """WITH lagged AS (
        |  SELECT user_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS previous_status
        |  FROM events
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, event_type AS status, previous_status
        |FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type""".stripMargin),

    // §2#7f streaming SCD2 (live dimension history — the one batch
    // operator whose streaming twin is obviously useful): per-key state =
    // only the CURRENT open version (O(keys), history lives in emissions);
    // append mode emits a version when it opens and re-emits it when it
    // closes — the stream-to-dim-merge feed. The gate collapses emissions
    // (closed supersedes open per (key, version)) and the result must
    // equal the batch ChangeDetect.scd2 replay exactly, across ≥5 REAL
    // micro-batch boundaries (streaming/StreamScd2.scala)
    // §2#53e STREAMING last-touch attribution — conversions credited as
    // they arrive, per-key state = only the touches inside the lookback
    // window (pruned as event time advances, O(window) per user; empty
    // state removed). Append mode emits one row per conversion in its
    // arrival micro-batch; over the ordered replay the emission set must
    // equal the batch Attribution.lastTouch frame hash-exact across ≥5
    // real micro-batches (streaming/StreamAttribution.scala)
    Gate("q_stream_attribution", (s, dir) =>
      memoryGate(s, "q_stream_attribution",
          Tables.events(s, dir).select(
            col("user_id").cast("long").as("key"), col("ts"),
            col("event_id").cast("long").as("event_id"),
            col("event_type").as("etype"),
            col("event_type").isin("click", "view").as("is_touch"),
            (col("event_type") === "purchase").as("is_conv")),
          Seq("ts", "event_id"), "append") { stream =>
        graft.streaming.StreamAttribution.attributed(stream.as(
          org.apache.spark.sql.Encoders.product[
            graft.streaming.StreamAttribution.TouchStreamEvent]), 604800000000L)
      }.select(col("conversion_id"), col("key").as("user_id"),
        col("conv_ts_us"), col("touch_id"), col("touch_ts_us"),
        col("touch_type"), col("age_us"), col("n_touches_window")),
      AttributionOracleSql),

    Gate("q_stream_scd2", (s, dir) =>
      memoryGate(s, "q_stream_scd2", statusEvents(s, dir), Seq("ts", "event_id"),
          "append") { stream =>
        graft.streaming.StreamScd2.versions(stream.as(
          org.apache.spark.sql.Encoders.product[graft.streaming.StreamChangeDetect.StatusEvent]))
      }
        .groupBy(col("key"), col("version"))
        .agg(max(struct(col("valid_to").isNotNull.as("_closed"),
          col("status"), col("valid_from"), col("valid_to"),
          col("is_current"))).as("_m"))
        .select(col("key").as("user_id"), col("_m.status").as("status"),
          unix_micros(col("_m.valid_from")).as("valid_from_us"),
          unix_micros(col("_m.valid_to")).as("valid_to_us"),
          col("version"), col("_m.is_current").as("is_current")),
      // streaming SCD2: identical to the batch q_scd2 oracle — collapsing
      // the stream's open/closed emissions must reproduce the batch table
      """WITH lagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER w AS previous_status
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT * FROM lagged WHERE previous_status IS NULL OR previous_status <> event_type
        |)
        |SELECT user_id, event_type AS status,
        |  epoch_us(ts) AS valid_from_us,
        |  epoch_us(lead(ts) OVER w2) AS valid_to_us,
        |  cast(row_number() OVER w2 AS bigint) AS version,
        |  (lead(ts) OVER w2 IS NULL) AS is_current
        |FROM changes WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    // §2#8f the sessionization stream (S1) driver-gated through the REAL
    // session_window state-merge path: events streamed as a bounded file
    // source, StreamSessionize's complete-mode final table must equal the
    // batch gap-sessionization. Complete mode never evicts session state,
    // and gap-merge is order-independent, so stream-final == batch even
    // across micro-batches. session_window's end is last_event + gap; the
    // gate subtracts the gap to express end as the last event ts, matching
    // the batch rollup. Exactly-gap-length deltas would diverge (batch SQL
    // keeps the session open at delta == gap, session_window closes it) —
    // absent at nanosecond timestamp precision.
    // Multi-batch replay: session_window state MERGES across ≥6 real
    // micro-batch commits (complete mode never evicts, gap-merge is
    // order-independent), so stream-final must still equal batch.
    Gate("q_stream_sessions", (s, dir) =>
      sessionRows(memoryGate(s, "q_stream_sessions",
        Tables.events(s, dir).select(col("user_id"), col("ts")),
        Seq("ts"), "complete")(streamSessions)),
      StreamSessionsSql),

    // §2#8h the sessionization stream through APPEND mode — the
    // production emission path q_stream_sessions' complete-mode gate
    // never exercises: sessions FINALIZE when the event-time watermark
    // passes their end+gap and are emitted exactly once. Bounded-
    // deterministic via the q_stream_outages sentinel device: two
    // far-future FAKE-KEY events, each its own micro-batch — the first
    // drives the watermark past every real session's close, the second
    // guarantees a batch RUNS with that watermark under AvailableNow —
    // so the appended (finalized) session set provably equals the batch
    // gap-sessionization; the sentinel's own session never finalizes and
    // is filtered. Same oracle as q_stream_sessions.
    Gate("q_stream_sessions_append", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"))
      val mendUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val t1 = mendUs + 7200L * 1000000L
      val sentinels = Seq(t1, t1 + 7200L * 1000000L).map { t =>
        s.range(1).select(lit(-1L).as("user_id"),
          expr(s"timestamp_micros(${t}L)").as("ts"))
      }
      sessionRows(memoryGate(s, "q_stream_sessions_append", ev, Seq("ts"), "append",
        sentinels = sentinels)(streamSessions).filter(col("user_id") =!= lit(-1L)))
    },
      // append-finalized gate: with the watermark sentinel-driven past every
      // real session's close, the appended set must equal the same batch
      // sessionization the complete-mode gate checks
      StreamSessionsSql),

    // §2#8g the SAME sessionization stream driver-gated ACROSS A
    // CHECKPOINT RESTART — the production driver-loss mode: phase 1 drains
    // only the first half of the ordered replay and stops; a NEW query
    // instance resumes from the SAME checkpoint over files that land
    // after the restart. The final complete-mode state must STILL equal
    // the batch oracle, proving session_window merge state round-trips
    // the checkpoint and the file source's commit log prevents
    // reprocessing (CheckpointRecoverySpec pins the other four stateful
    // operator classes' restart behavior; this puts one on the hash gate).
    // Two drains over one checkpoint, so this gate uses the harness pieces
    // rather than replayGate.
    Gate("q_stream_restart", (s, dir) => withGateShuffle(s) {
      val rdir = replayDir("q_stream_restart")
      val ckpt = rdir + "-ckpt"
      val stash = new java.io.File(rdir + "-held")
      val name = freshStreamTable(s, "q_stream_restart_")
      val (b1, b2) =
        try {
          graft.streaming.FileReplay.writeOrdered(
            Tables.events(s, dir).select(col("user_id"), col("ts")), Seq("ts"), 6, rdir)
          val schema = s.read.parquet(rdir).schema
          stash.mkdirs()
          // hold back the replay's tail: those files "arrive" after the restart
          val files = new java.io.File(rdir).listFiles()
            .filter(f => f.isFile && f.getName.startsWith("part-"))
            .sortBy(_.lastModified())
          files.drop(files.length / 2).foreach { f =>
            require(f.renameTo(new java.io.File(stash, f.getName)), s"could not stash $f")
          }
          def phase(n: Int): Long = drain { trigger =>
            streamSessions(graft.streaming.FileReplay.stream(s, rdir, schema))
              .writeStream.format("memory").queryName(s"${name}p$n")
              .outputMode("complete")
              .option("checkpointLocation", ckpt)
              .trigger(trigger)
              .start()
          }
          val b1 = phase(1)
          // rename preserves mtime, so the restored tail keeps its replay order
          stash.listFiles().foreach { f =>
            require(f.renameTo(new java.io.File(rdir, f.getName)), s"could not restore $f")
          }
          (b1, phase(2))
        } finally {
          Seq(rdir, stash.getAbsolutePath, ckpt).foreach(d =>
            graft.streaming.FileReplay.deleteRecursively(new java.io.File(d)))
        }
      require(b1 >= 1 && b2 > b1 && b2 >= 4,
        s"restart gate did not resume the checkpoint batch sequence ($b1 -> $b2)")
      sessionRows(s.table(s"${name}p2"))
    },
      // restart-recovery gate: same semantics, same batch oracle — the
      // restart must be INVISIBLE in the final state
      StreamSessionsSql),

    // §2#25b the ingest-dedup stream (S6) driver-gated through the REAL
    // dropDuplicatesWithinWatermark state path: documents replayed as an
    // ingest-time-ordered multi-file stream, each row fingerprinted,
    // re-deliveries dropped in the state store — fingerprint state now
    // crosses ≥6 real micro-batch boundaries (every ingest_ts sits inside
    // the 1-minute watermark window, so nothing is evicted mid-replay and
    // cross-batch duplicates MUST be caught by carried state, not by
    // intra-batch dedup). WHICH duplicate row survives is arrival-order
    // dependent, so the gate projects to the surviving fingerprint SET —
    // exactly one row per distinct fingerprint, arrival-order independent.
    // Ingest time is synthesized from doc_id (documents carry no
    // timestamp; watermark EVICTION is exercised by the S6 soak spec).
    Gate("q_stream_dedup", (s, dir) =>
      memoryGate(s, "q_stream_dedup", ingestDocs(s, dir), Seq("ingest_ts"), "append") {
        stream =>
          exactDedup(stream)
            .select(graft.functions.Text.fingerprint(col("text")).as("fingerprint"))
      }.select(col("fingerprint")),
      // the streaming ingest-dedup gate: the distinct surviving-fingerprint
      // set (same normalization replay as q_fingerprint)
      """SELECT DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin),

    // §2#25c the composed ingest PIPELINE driver-gated end to end: the
    // production curation chain — stateful exact dedup
    // (dropDuplicatesWithinWatermark) → scan-side quality-classifier
    // inference — as ONE streaming job, written through the REAL
    // FileStreamSink (exactly-once commit log) and read back through its
    // _spark_metadata, the first gate on the streaming FILE write path
    // (the other stream gates use memory sinks). WHICH duplicate survives
    // is arrival-order dependent, but the output is not: scoring runs on
    // the NORMALIZED text (the dedup key's preimage), so every
    // representative of a fingerprint scores identically and the
    // (fingerprint, score) set is deterministic — hash-gated against the
    // batch DISTINCT-normalized-text formulation.
    Gate("q_stream_ingest", (s, dir) => {
      cleanupTmp("graft-ingest-")
      val outDir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-ingest-${System.nanoTime()}").getAbsolutePath
      replayGate(s, "q_stream_ingest", ingestDocs(s, dir), Seq("ingest_ts")) {
        (stream, trigger) =>
          QualityClassifier.scored(
            exactDedup(stream)
              .withColumn("norm", graft.functions.Text.normalized(col("text")))
              .withColumn("fingerprint", md5(col("norm"))),
            "fingerprint", "norm",
            QualityClassifier.seededWeights(256, seed = 29L),
            scale = 0.05, bias = 0.0, seed = 29L)
            .writeStream.format("parquet")
            .option("path", outDir)
            .option("checkpointLocation", outDir + "-ckpt")
            .outputMode("append")
            .trigger(trigger)
            .start()
      }
      // read back through the sink's commit log — gates the on-disk
      // layout, not just the plan (outDir is reaped on the next call)
      s.read.parquet(outDir)
        .select(col("fingerprint"), col("n_features"), col("sum_w"),
          col("logit"), col("pass"))
    },
      // the composed ingest pipeline: dedup survivors scored on NORMALIZED
      // text — one deterministic row per distinct fingerprint, same
      // classifier replay as q_quality_classifier keyed on the fingerprint
      {
        val wlist = QualityClassifier.seededWeights(256, 29L).mkString("[", ", ", "]")
        val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
        s"""WITH docs AS (
           |  SELECT DISTINCT trim(regexp_replace(regexp_replace(lower(text),
           |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS text
           |  FROM documents),
           |ids AS (SELECT md5(text) AS fingerprint, text FROM docs),
           |toks AS (SELECT fingerprint, $TokSql AS tk FROM ids),
           |feats AS (SELECT fingerprint, list_concat(tk,
           |    CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
           |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))
           |    ELSE [] END) AS fs
           |  FROM toks),
           |base AS (SELECT fingerprint, len(fs) AS n_features FROM feats),
           |h0 AS (SELECT fingerprint, unnest(fs) AS shingle FROM feats),
           |folded AS (SELECT fingerprint, $FnvFoldSql AS h FROM h0),
           |z0 AS (SELECT fingerprint,
           |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
           |      AS UBIGINT) AS z FROM folded),
           |z1 AS (SELECT fingerprint, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
           |z2 AS (SELECT fingerprint, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
           |hv AS (SELECT fingerprint, xor(z, z >> 31) AS z FROM z2),
           |wsum AS (SELECT fingerprint,
           |    sum(($wlist)[cast(z % 256 AS bigint) + 1]) AS sum_w
           |  FROM hv GROUP BY 1),
           |sc AS (SELECT b.fingerprint, cast(b.n_features AS bigint) AS n_features,
           |    cast(coalesce(w.sum_w, 0) AS bigint) AS sum_w
           |  FROM base b LEFT JOIN wsum w USING (fingerprint)),
           |lg AS (SELECT fingerprint, n_features, sum_w,
           |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
           |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
           |      AS logit
           |  FROM sc)
           |SELECT fingerprint, n_features, sum_w, logit, logit > 0 AS pass FROM lg""".stripMargin
      }),

    // §2#14b the heartbeat-outage stream (S4) driver-gated through the REAL
    // flatMapGroupsWithState + EventTimeTimeout path — the last stateful-
    // emission path without end-to-end gate evidence. Emission on watermark
    // FINALIZATION is made bounded-deterministic with sentinels:
    //  - a START sentinel heartbeat at the monitoring-window start per
    //    entity, so leading gaps [mstart, first event] emerge from the same
    //    state machine as every other gap;
    //  - two far-future FAKE-KEY sentinels, each its own micro-batch: the
    //    first drives the watermark past mend + threshold, the second
    //    guarantees a batch RUNS with that watermark, so every silent
    //    entity's event-time timeout provably fires under AvailableNow
    //    (no reliance on a trailing no-data batch being scheduled).
    // The raw sink rows are outage INCREMENTS (StreamHeartbeat's contract);
    // the gate re-merges touching increments into whole outages
    // (mergeIncrements — exact-µs chain endpoints make this lossless),
    // clips the sentinel-driven open tail to mend, filters the fake key,
    // and must hash-equal the batch q_offline_gaps formulation.
    // Reference: int_offline_outages.sql:70's monitoring-window edge gaps.
    Gate("q_stream_outages", (s, dir) => {
      val thresholdS = 3600L
      val ev = Tables.events(s, dir)
        .select(col("user_id").cast("long").as("key"), col("ts"))
      // one-row bounds lookup (driver-side parameters, not data)
      val b = ev.agg(
        min(unix_micros(col("ts"))).as("mstart"),
        max(unix_micros(col("ts"))).as("mend")).head()
      val (mstartUs, mendUs) = (b.getLong(0), b.getLong(1))
      val startSent = ev.select(col("key")).distinct()
        .select(col("key"), expr(s"timestamp_micros(${mstartUs}L)").as("ts"))
      val t1 = mendUs + 2L * thresholdS * 1000000L
      val sentinels = Seq(t1, t1 + 2L * thresholdS * 1000000L).map { t =>
        s.range(1).select(lit(-1L).as("key"), expr(s"timestamp_micros(${t}L)").as("ts"))
      }
      val sink = memoryGate(s, "q_stream_outages", ev.unionByName(startSent), Seq("ts"),
          "append", chunks = 7, sentinels = sentinels) { stream =>
        graft.streaming.StreamHeartbeat.gaps(stream.as(
          org.apache.spark.sql.Encoders.product[graft.streaming.StreamHeartbeat.Heartbeat]),
          thresholdS)
      }
      graft.streaming.StreamHeartbeat.mergeIncrements(sink.filter(col("key") =!= lit(-1L)))
        .select(
          col("key").as("user_id"),
          unix_micros(col("from_ts")).as("from_us"),
          // an open tail runs to the sentinel-driven watermark; the
          // monitoring window ends at mend — clip, then re-apply the
          // threshold (an entity active within threshold of mend has no
          // trailing outage once clipped)
          least(unix_micros(col("to_ts")), lit(mendUs)).as("to_us"))
        .filter(col("from_us") < lit(mendUs))
        .withColumn("gap_seconds",
          (col("to_us") - col("from_us")) / lit(1000000.0))
        .filter(col("gap_seconds") > lit(3600.0))
    },
      // the streaming heartbeat-outage gate: after sentinel clipping and
      // increment re-merging, the emitted outage set must equal the batch
      // q_offline_gaps formulation verbatim
      """WITH b AS (SELECT min(ts) AS mstart, max(ts) AS mend FROM events),
        |g AS (SELECT user_id, ts, lag(ts) OVER w AS prev, lead(ts) OVER w AS nxt
        |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
        |  UNION ALL
        |  SELECT g.user_id, b.mstart, g.ts FROM g, b WHERE g.prev IS NULL AND g.ts > b.mstart
        |  UNION ALL
        |  SELECT g.user_id, g.ts, b.mend FROM g, b WHERE g.nxt IS NULL AND g.ts < b.mend)
        |SELECT user_id, epoch_us(from_ts) AS from_us, epoch_us(to_ts) AS to_us,
        |  (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 AS gap_seconds
        |FROM gaps WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600""".stripMargin),

    // §2#18b the daily-downtime stream (S5) driver-gated through its REAL
    // foreachBatch delta-sum write path: heartbeat gaps → per-batch
    // interval→day allocation → integer-µs parquet deltas → read-side
    // re-aggregation. Timeouts are disabled (watermark delay beyond the
    // stream horizon) so only CLOSED inter-heartbeat gaps are emitted —
    // exactly the batch q_uptime downtime leg's per-entity [first, last]
    // monitoring bounds — because an ongoing-tail increment would allocate
    // downtime past each entity's own horizon, which the batch formulation
    // (and the reference's fact_downtime_daily) never does; the
    // timeout/increment path is gated by q_stream_outages. Increments are
    // delta-summable by construction: long-µs per-batch sums are exact
    // under any batch boundary, proven here across ≥7 real micro-batches.
    Gate("q_stream_uptime", (s, dir) => {
      // $base/deltas backs the returned (lazy) frame — cleaned by the
      // NEXT invocation, same retention contract as freshStreamTable
      cleanupTmp("graft-uptime-deltas-")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft-uptime-deltas-${System.nanoTime()}").getAbsolutePath
      replayGate(s, "q_stream_uptime",
          Tables.events(s, dir).select(col("user_id").cast("long").as("key"), col("ts")),
          Seq("ts"), chunks = 7) { (stream, trigger) =>
        val gaps = graft.streaming.StreamHeartbeat.gaps(
          stream.as(org.apache.spark.sql.Encoders.product[
            graft.streaming.StreamHeartbeat.Heartbeat]),
          thresholdSeconds = 3600L, watermark = "3650 days")
        graft.streaming.StreamUptime.run(gaps, s"$base/deltas", s"$base/ckpt", Some(trigger))
      }
      graft.streaming.StreamUptime.readDailyDowntime(s, s"$base/deltas")
        .select(col("key").as("user_id"), col("date_id"), col("downtime_minutes"))
    },
      // the streaming daily-downtime gate: inter-heartbeat gaps (per-entity
      // bounds — no leading/trailing edges, matching the disabled-timeout
      // stream) allocated to days in integer µs, minutes as one final divide
      """WITH g AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |big_gaps AS (
        |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g
        |  WHERE prev IS NOT NULL
        |    AND (epoch_us(ts) - epoch_us(prev)) / 1000000.0 > 3600),
        |gdays AS (
        |  SELECT user_id, from_ts, to_ts,
        |    cast(unnest(generate_series(cast(date_trunc('day', from_ts) AS timestamp),
        |      cast(date_trunc('day', to_ts) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
        |  FROM big_gaps),
        |downtime AS (
        |  SELECT user_id, date_id, sum(
        |    epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |    epoch_us(greatest(from_ts, cast(date_id AS timestamp)))) AS d_us
        |  FROM gdays
        |  WHERE epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
        |        epoch_us(greatest(from_ts, cast(date_id AS timestamp))) > 0
        |  GROUP BY 1, 2)
        |SELECT user_id, date_id, d_us / 60000000.0 AS downtime_minutes FROM downtime""".stripMargin),

    // §2#10c the metric layer over a STREAMING window (S8) driver-gated:
    // the SAME SemanticModel declaration pattern as the batch
    // q_metric_layer, instantiated over an hourly window of a bounded
    // event stream in complete mode. Count/sum measures are associative
    // and the ratio metric is a post-aggregation projection over exact
    // (decimal/long) state, so stream-final == batch regardless of
    // micro-batch boundaries — "define the metric once" gated through the
    // real streaming stateful-agg path.
    Gate("q_stream_metrics", (s, dir) => {
      import graft.metrics._
      val model = SemanticModel(
        measures = Seq(
          Measure("n_ev", MeasureAgg.Count, col("event_id")),
          Measure("total_v", MeasureAgg.Sum, col("value").cast("decimal(18,2)"))),
        metrics = Seq(
          SimpleMetric("n_events", "n_ev"),
          SimpleMetric("total_value", "total_v"),
          RatioMetric("value_per_event", "total_value", "n_events")))
      // multi-batch replay: count/decimal-sum measures are associative and
      // the ratio metric is a post-agg projection over exact state
      memoryGate(s, "q_stream_metrics",
          Tables.events(s, dir)
            .select(col("ts"), col("event_id"), col("event_type"), col("value")),
          Seq("ts"), "complete") { evts =>
        model.query(evts,
          Seq(window(col("ts"), "1 hour"), col("event_type")),
          Seq("n_events", "total_value", "value_per_event"))
      }.select(
        unix_micros(col("window.start")).as("hour_start_us"),
        col("event_type"),
        col("n_events"),
        col("total_value").cast("double").as("total_value"),
        col("value_per_event"))
    },
      // the streaming metric-layer gate: hourly metric instantiation —
      // exact decimal/long state, ratio as a final double division
      """SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS hour_start_us,
        |  event_type,
        |  cast(count(event_id) AS bigint) AS n_events,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) /
        |    cast(count(event_id) AS double) AS value_per_event
        |FROM events GROUP BY 1, 2""".stripMargin),

    // §2#38d the SAME A-ES draw maintained over a STREAM — Efraimidis–
    // Spirakis is a streaming algorithm by construction (deterministic
    // per-row priority keys), so the running top-k over micro-batches
    // must equal the batch draw exactly; state = the k-row sample
    // itself, bounded forever, no watermark. The oracle IS
    // q_weighted_sample's
    Gate("q_stream_weighted_sample", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("weight"))
      val base = gateTmpDir("graft-streamws-")
      val target = s"$base/t"
      replayGate(s, "q_stream_weighted_sample", docs, Seq("doc_id")) { (stream, trigger) =>
        stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.streaming.StreamSample.foldBatch(
              s, b, target, "doc_id", "weight", k = 100, seed = 29L)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(trigger)
          .start()
      }
      graft.streaming.StreamSample.current(s, target)
    },
      WeightedSampleSql),

    // §2#20e the SAME CDC feed materialized through Structured Streaming
    // (streaming/StreamCdc.scala), MERGE-ON-READ: each micro-batch
    // APPENDS its per-key winners as bucket-partitioned delta files
    // (O(batch) bytes — never a bucket rewrite), reads resolve
    // base ∪ deltas with the max-by-_seq winner fold, and only buckets
    // whose deltas outgrow the delta:base ratio compact (the r11
    // rewrite-on-touch, demoted to the amortized maintenance path).
    // Per-row _seq makes restart replays idempotent. Final state must
    // equal the one-shot batch apply — the oracle IS q_cdc_apply's
    Gate("q_stream_cdc", (s, dir) => {
      val (snap, logDf) = cdcSnapshotAndLog(s, dir)
      val base = gateTmpDir("graft-streamcdc-")
      val target = s"$base/t"
      graft.streaming.StreamCdc.initTarget(
        snap, target, Seq("c_custkey"), nBuckets = 16)
      // the replay harness feeds ONE file per micro-batch
      // (maxFilesPerTrigger=1); at sf10 that file is ~80 MB and the
      // default 128 MB split would decode it in a single task — shrink
      // the split so the batch scan parallelizes across row groups (the
      // standard ingest knob; 2.7 s → sub-second per batch measured).
      // Set once the replay is written, restored in `finally`: a setup
      // failure must not leak the shrunken split size into every
      // subsequent gate in the session.
      val prevSplit = s.conf.get("spark.sql.files.maxPartitionBytes")
      // compactRatio = 8: this replay is a bounded BULK load (the whole
      // feed lands before the first read), and the production practice
      // for bulk ingest is to raise/disable auto-compaction and compact
      // once at the end — mid-replay folds would be thrown-away work
      // (each later batch invalidates them; measured 8-11 s per
      // avoidable fold at sf10). Steady-state feeds keep the default
      // ratio 2.0, which the spec suite pins.
      try replayGate(s, "q_stream_cdc", logDf, Seq("seq")) { (stream, trigger) =>
        s.conf.set("spark.sql.files.maxPartitionBytes", "8m")
        stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.streaming.StreamCdc.foldBatch(
              s, b, target, Seq("c_custkey"), "seq", "op", nBuckets = 16,
              compactRatio = 8.0)
          }
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(trigger)
          .start()
      } finally s.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
      graft.streaming.StreamCdc.currentState(s, target)
    },
      // the STREAMED materialization must land on the identical state
      CdcApplySql)
  )
}
