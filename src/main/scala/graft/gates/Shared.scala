package graft
package gates

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL/CTE builders and frame helpers used by gates of several families. */
private[gates] object Shared {

  /** Delete temp-dir children left by a PREVIOUS invocation of a gate. */
  def cleanupTmp(prefix: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()
    if (tmp != null)
      tmp.filter(_.getName.startsWith(prefix))
        .foreach(graft.streaming.FileReplay.deleteRecursively)
  }

  /** Fresh temp dir for a batch write-path gate, deleting the dirs any
    * PREVIOUS invocation of the same gate left behind — the median-of-3
    * bench runs every gate three times, so an unmanaged
    * `createTempDirectory` would leak three table copies per round.
    * (Deleting after the read-back is not an option: the returned frame is
    * lazy and the driver executes it later.)
    */
  def gateTmpDir(prefix: String): String = {
    cleanupTmp(prefix)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$prefix${System.nanoTime()}")
    dir.mkdirs()
    dir.getAbsolutePath
  }

  def sessionized(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionize(Tables.events(spark, dir), Seq("user_id"), "ts", 1800L,
      tieBreakCols = Seq("event_id"))

  def sessionRollup(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessionMetrics(
      sessionized(spark, dir), Seq("user_id"), "ts",
      Seq(
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("_last")))

  /** The customer snapshot and a Debezium-shaped I/U/D change log over it,
    * derived from orders: unique o_orderkey as the sequence, status → op,
    * every 7th key brand-new. The inputs of q_cdc_apply and q_stream_cdc. */
  def cdcSnapshotAndLog(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val snap = Tables.customer(s, dir).select(
      col("c_custkey").cast("long").as("c_custkey"),
      col("c_name"),
      col("c_nationkey").cast("long").as("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))
    val log = Tables.orders(s, dir).select(
      when(pmod(col("o_orderkey"), lit(7L)) === 0L,
        col("o_custkey").cast("long") + 1000000L)
        .otherwise(col("o_custkey").cast("long")).as("c_custkey"),
      col("o_orderkey").cast("long").as("seq"),
      when(col("o_orderstatus") === "F", lit("D"))
        .when(col("o_orderstatus") === "O", lit("U"))
        .otherwise(lit("I")).as("op"),
      concat(lit("upd_"), col("o_orderkey")).as("c_name"),
      pmod(col("o_orderkey"), lit(25L)).cast("long").as("c_nationkey"),
      col("o_totalprice").as("c_acctbal"),
      col("o_orderpriority").as("c_mktsegment"))
    (snap, log)
  }

  /** DuckDB fragment: whitespace tokens of `text`, lowercased, no empties. */
  val TokSql = "list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0)"

  /** `(a * b) mod 2^64` over UBIGINT `a` and constant `b`, via 32-bit limb
    * split — a direct HUGEINT product of two near-2^64 values would overflow
    * int128, so: a*b ≡ al*bl + ((al*bh + ah*bl) mod 2^32)·2^32 (mod 2^64),
    * every intermediate < 2^66.
    */
  def mulModSql(a: String, b: BigInt): String = {
    val bh = b >> 32
    val bl = b & 0xFFFFFFFFL
    s"CAST(((CAST(($a) % 4294967296 AS HUGEINT) * $bl) + " +
      s"((CAST(($a) % 4294967296 AS HUGEINT) * $bh + " +
      s"CAST(($a) // 4294967296 AS HUGEINT) * $bl) % 4294967296) * 4294967296) " +
      "% 18446744073709551616 AS UBIGINT)"
  }

  /** Recursive-CTE replay of [[graft.operators.Unigram]]'s hard-EM
    * trajectory (requires `WITH RECURSIVE`): seed substring counts,
    * integer ilog2q scores (exponent CASE chain + shifted mantissa
    * fraction — exact integer ops only), per-word piece-score MAPs, the
    * Viterbi DP as a recursive position walk carrying the (score,
    * backpointer) list, backtrace as a second recursive walk, usage
    * counts, top-K + single-char pruning. Rounds 1..2 prune; round 3
    * applies the final artifact. Ends in `u3scr(piece, used, score)`
    * (the artifact, q_unigram_train) and `u3cnt(piece, used)` (the
    * application counts, q_unigram_tokenize).
    */
  /** The A-ES draw replay — shared by q_weighted_sample (batch) and
    * q_stream_weighted_sample (the streamed fold must land on the
    * identical k rows). */
  lazy val WeightedSampleSql: String = {

      val seedGolden = (BigInt(29) * GoldenB).mod(BigInt(2).pow(64))
      val eCase = (62 to 1 by -1)
        .map(k => s"WHEN v >= ${1L << k} THEN $k").mkString(" ")
      s"""WITH w0 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
         |    CAST(doc_id AS VARCHAR) AS shingle
         |  FROM documents WHERE length(text) >= 1),
         |f AS (SELECT doc_id, weight, $FnvFoldSql AS h FROM w0),
         |z0 AS (SELECT doc_id, weight,
         |    CAST((CAST(h AS HUGEINT) + $seedGolden)
         |      % 18446744073709551616 AS UBIGINT) AS z FROM f),
         |z1 AS (SELECT doc_id, weight, ${mulModSql("xor(z, z >> 30)", Mix1B)}
         |    AS z FROM z0),
         |z2 AS (SELECT doc_id, weight, ${mulModSql("xor(z, z >> 27)", Mix2B)}
         |    AS z FROM z1),
         |hv AS (SELECT doc_id, weight,
         |    CAST(xor(z, z >> 31) >> 24 AS BIGINT) + 1 AS v FROM z2),
         |e AS (SELECT doc_id, weight, v, CASE $eCase ELSE 0 END AS e FROM hv),
         |kq AS (SELECT doc_id, weight,
         |    -(((2621440 - (e * 65536 +
         |        (((v - (CAST(1 AS BIGINT) << e)) << 16) >> e))) << 20)
         |      // weight) AS kq
         |  FROM e)
         |SELECT doc_id, weight FROM kq
         |ORDER BY kq DESC, doc_id LIMIT 100""".stripMargin
  }

  /** The CDC fold replay — shared by q_cdc_apply (batch) and
    * q_stream_cdc (the streamed materialization must land on the
    * identical state): latest-seq winner per key (o_orderkey unique =>
    * the row_number replay equals the operator's max_by), full-outer
    * fold with D dropping the key and I/U taking the logged payload. */
  lazy val CdcApplySql: String =
    """WITH cdclog AS (SELECT
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 1000000
        |      ELSE o_custkey END AS c_custkey,
        |    o_orderkey AS seq,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D'
        |      WHEN o_orderstatus = 'O' THEN 'U' ELSE 'I' END AS op,
        |    'upd_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_orderkey % 25 AS c_nationkey,
        |    o_totalprice AS c_acctbal,
        |    o_orderpriority AS c_mktsegment
        |  FROM orders),
        |w AS (SELECT * FROM cdclog QUALIFY
        |  row_number() OVER (PARTITION BY c_custkey ORDER BY seq DESC) = 1),
        |snap AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
        |    CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal,
        |    c_mktsegment FROM customer)
        |SELECT coalesce(s.c_custkey, w.c_custkey) AS c_custkey,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_name ELSE s.c_name END AS c_name,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_nationkey ELSE s.c_nationkey END
        |    AS c_nationkey,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_acctbal ELSE s.c_acctbal END
        |    AS c_acctbal,
        |  CASE WHEN w.op IS NOT NULL THEN w.c_mktsegment ELSE s.c_mktsegment END
        |    AS c_mktsegment
        |FROM snap s FULL JOIN w ON s.c_custkey = w.c_custkey
        |WHERE w.op IS NULL OR w.op <> 'D'""".stripMargin

  val FnvPrimeB = BigInt("1099511628211")          // 0x100000001b3

  val GoldenB = BigInt("11400714819323198485")     // 0x9E3779B97F4A7C15

  val Mix1B = BigInt("13787848793156543929")       // 0xBF58476D1CE4E5B9

  val Mix2B = BigInt("10723151780598845931")       // 0x94D049BB133111EB

  /** FNV-1a fold of column `shingle` (ASCII text: codepoint == UTF-8 byte,
    * which holds for the generated documents) → UBIGINT.
    */
  val FnvFoldSql =
    "list_reduce(list_prepend(CAST(14695981039346656037 AS UBIGINT), " +
      "list_transform(range(1, length(shingle) + 1), " +
      "i -> CAST(unicode(shingle[i]) AS UBIGINT))), " +
      s"(acc, b) -> ${mulModSql("xor(acc, b)", FnvPrimeB)})"

  /** FnvMix HLL register replay (seed 11) over `events(event_type,
    * user_id)` → CTE chain ending in `regs(event_type, bucket, reg)` —
    * shared by the q_card_sketch and q_stream_sketch oracles.
    */
  lazy val CardRegsCtes: String = {
    val seedGolden = (BigInt(11) * GoldenB).mod(BigInt(2).pow(64))
    val rhoCase = (1 to 56)
      .map(r => s"WHEN rem >= ${BigInt(2).pow(64 - r)} THEN $r")
      .mkString(" ")
    s"""h0 AS (SELECT event_type, CAST(user_id AS VARCHAR) AS shingle
       |  FROM (SELECT DISTINCT event_type, user_id FROM events
       |        WHERE user_id IS NOT NULL)),
       |folded AS (SELECT event_type, $FnvFoldSql AS h FROM h0),
       |z0 AS (SELECT event_type,
       |    CAST((CAST(h AS HUGEINT) + $seedGolden) % 18446744073709551616
       |      AS UBIGINT) AS z FROM folded),
       |z1 AS (SELECT event_type, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
       |z2 AS (SELECT event_type, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
       |hv AS (SELECT event_type, xor(z, z >> 31) AS z FROM z2),
       |br AS (SELECT event_type, z >> 56 AS bucket,
       |    CAST((CAST(z AS HUGEINT) * 256) % 18446744073709551616 AS UBIGINT) AS rem
       |  FROM hv),
       |rho AS (SELECT event_type, bucket, CASE $rhoCase ELSE 57 END AS rho FROM br),
       |regs AS (SELECT event_type, bucket, max(rho) AS reg FROM rho GROUP BY 1, 2)""".stripMargin
  }

  /** Log-bucketed histogram replay (operators/Sketch.scala logHistogram)
    * over documents(source, n_chars): binary exponent from an exact integer
    * CASE chain (same no-floating-log2 rule as the HLL rank), then the
    * HdrHistogram bucket map with 4 sub-bucket bits — ends in CTE
    * `hist(source, bucket, cnt)`.
    */
  lazy val HistCtes: String = {
    val eCase = (62 to 4 by -1)
      .map(k => s"WHEN v >= ${1L << k} THEN $k").mkString(" ")
    s"""vals AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
       |  WHERE n_chars IS NOT NULL AND n_chars >= 0),
       |ve AS (SELECT source, v, CASE $eCase ELSE 0 END AS e FROM vals),
       |hist AS (SELECT source,
       |    CASE WHEN v < 16 THEN v ELSE (e - 4) * 16 + (v >> (e - 4)) END AS bucket,
       |    count(*) AS cnt
       |  FROM ve GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB fragment: sessionized events (adds session_seq per user). */
  val SessSql =
    """WITH lagged AS (
      |  SELECT event_id, user_id, ts, event_type, value, props,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS is_start
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT *, cast(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS bigint) AS session_seq
      |  FROM lagged
      |)""".stripMargin

  /** DuckDB fragment: the full uptime pipeline (commissioned spans →
    * heartbeat gaps → daily allocation → per (user, day) uptime ratio) as a
    * WITH chain ending in CTE `uptime(user_id, date_id, uptime)` — shared by
    * the q_uptime oracle and the metric-layer oracle's average_uptime.
    */
  val UptimeSql =
    """WITH spans AS (SELECT user_id, min(ts) AS c_start, max(ts) AS c_end FROM events GROUP BY 1),
      |cdays AS (
      |  SELECT user_id, c_start, c_end,
      |    cast(unnest(generate_series(cast(date_trunc('day', c_start) AS timestamp),
      |      cast(date_trunc('day', c_end) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
      |  FROM spans
      |), commissioned AS (
      |  SELECT user_id, date_id,
      |    epoch_us(least(c_end, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |    epoch_us(greatest(c_start, cast(date_id AS timestamp))) AS c_us
      |  FROM cdays
      |), g AS (
      |  SELECT e.user_id, e.ts, lag(e.ts) OVER w AS prev, lead(e.ts) OVER w AS nxt,
      |    s.c_start, s.c_end
      |  FROM events e JOIN spans s ON e.user_id = s.user_id
      |  WINDOW w AS (PARTITION BY e.user_id ORDER BY e.ts, e.event_id)
      |), gaps AS (
      |  SELECT user_id, prev AS from_ts, ts AS to_ts FROM g WHERE prev IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, c_start, ts FROM g WHERE prev IS NULL AND ts > c_start
      |  UNION ALL
      |  SELECT user_id, ts, c_end FROM g WHERE nxt IS NULL AND ts < c_end
      |), big_gaps AS (
      |  SELECT user_id, from_ts, to_ts FROM gaps
      |  WHERE (epoch_us(to_ts) - epoch_us(from_ts)) / 1000000.0 > 3600
      |), gdays AS (
      |  SELECT user_id, from_ts, to_ts,
      |    cast(unnest(generate_series(cast(date_trunc('day', from_ts) AS timestamp),
      |      cast(date_trunc('day', to_ts) AS timestamp), INTERVAL 1 DAY)) AS date) AS date_id
      |  FROM big_gaps
      |), downtime AS (
      |  SELECT user_id, date_id, sum(
      |    epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |    epoch_us(greatest(from_ts, cast(date_id AS timestamp)))) AS d_us
      |  FROM gdays
      |  WHERE epoch_us(least(to_ts, cast(date_id AS timestamp) + INTERVAL 1 DAY)) -
      |        epoch_us(greatest(from_ts, cast(date_id AS timestamp))) > 0
      |  GROUP BY 1, 2
      |), uptime AS (
      |  SELECT c.user_id, c.date_id,
      |    cast(c.c_us - coalesce(d.d_us, 0) AS double) / cast(c.c_us AS double) AS uptime
      |  FROM commissioned c LEFT JOIN downtime d
      |    ON c.user_id = d.user_id AND c.date_id = d.date_id
      |  WHERE c.c_us > 0
      |)""".stripMargin

  /** Last-touch attribution replay — shared VERBATIM by q_attribution
    * and q_stream_attribution: the streaming twin's contract is exact
    * equality with the batch frame, so both gates compare against one
    * string (the decontaminate/bloom precedent).
    */
  lazy val AttributionOracleSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    event_type IN ('click', 'view') AS is_touch,
        |    event_type = 'purchase' AS is_conv
        |  FROM events),
        |c AS (SELECT *,
        |    last_value(CASE WHEN is_touch THEN ts_us END IGNORE NULLS)
        |      OVER w1 AS touch_ts_us,
        |    last_value(CASE WHEN is_touch THEN event_id END IGNORE NULLS)
        |      OVER w1 AS touch_id,
        |    last_value(CASE WHEN is_touch THEN event_type END IGNORE NULLS)
        |      OVER w1 AS touch_type,
        |    coalesce(sum(CASE WHEN is_touch THEN 1 END) OVER w2, 0)
        |      AS n_touches_window
        |  FROM e
        |  WINDOW w1 AS (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    w2 AS (PARTITION BY user_id ORDER BY ts_us
        |      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING))
        |SELECT event_id AS conversion_id, user_id, ts_us AS conv_ts_us,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_id END
        |    AS touch_id,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_ts_us END
        |    AS touch_ts_us,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN touch_type END
        |    AS touch_type,
        |  CASE WHEN touch_ts_us >= ts_us - 604800000000 THEN ts_us - touch_ts_us
        |    END AS age_us,
        |  cast(n_touches_window AS bigint) AS n_touches_window
        |FROM c WHERE is_conv""".stripMargin
}
