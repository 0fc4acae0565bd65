package graft
package gates

import graft.functions.Text
import graft.operators._
import graft.sources.{Sink, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Query gates — TPC-H-style relational gates and the remaining curation,
  * sketch, sampling, retrieval and layout gates. Each gate pairs its Spark
  * query with the DuckDB oracle SQL the correctness gate compares it against. */
private[graft] object MiscGates {
  import Shared._

  /** Decomposed suffix appended to every third q_text_normalize doc — one
    * instance of each NFC case class: combining acute (e+U+0301 -> e-acute),
    * combining ring (A+U+030A -> A-ring), the U+212B ANGSTROM SIGN singleton
    * (-> U+00C5), a combining-class reorder (d + dot-below + dot-above),
    * plus a tab, a double space and trailing spaces for the whitespace
    * collapse/trim leg. Shared verbatim by the gate and its oracle. */
  private val TextNormSuffix =
    " Cafe\u0301 A\u030Angstrom x\u212B d\u0323\u0307\tmid  end  "

  /** Deterministic synthetic point set for the spatial/layout gates: each
    * customer gets (lat_udeg, lon_udeg) uniform in [0, side) microdegrees
    * via the same engine-portable md5 20-bit draws as ZipfCorpus
    * (u·side >> 20 is exact int64 in both engines). The region side is
    * DENSITY-NORMALIZED: side = 250k µdeg · ⌈√N⌉, i.e. about one point per
    * search cell at every SF — real geo data grows in AREA at roughly
    * constant density, and this keeps the fixed-radius neighbor join's
    * output (and candidate work) LINEAR in N; a fixed region would go N².
    * ⌈√N⌉ via IEEE sqrt is portable: sqrt is correctly rounded and N ≪ the
    * scale where ceil could land off by one. The driver tables carry no
    * coordinates; like the Zipf corpus, the construction is part of the
    * gated plan, rebuilt byte-identically by the oracle.
    */
  private def geoPoints(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.ZipfCorpus.u20
    val cust = Tables.customer(s, dir)
    val side = cust.agg(
      (ceil(sqrt(count(lit(1)).cast("double"))) * lit(250000L)).as("sz"))
    def coord(salt: String): Column = shiftright(
      u20(concat(lit(s"g:$salt:"), col("c_custkey").cast("string"))) *
        col("sz"), 20)
    cust.crossJoin(broadcast(side)).select(
      col("c_custkey"),
      coord("lat").as("lat_udeg"),
      coord("lon").as("lon_udeg"))
  }

  /** DuckDB replay of [[geoPoints]] → CTE `pts(c_custkey, lat_udeg,
    * lon_udeg)`.
    */
  private lazy val GeoPtsCte: String = {
    def coordSql(salt: String) =
      s"(${graft.sources.ZipfCorpus.u20Sql(s"'g:$salt:' || CAST(c_custkey AS varchar)")} * sz) >> 20"
    s"""side AS (SELECT CAST(ceil(sqrt(CAST(count(*) AS double))) AS bigint)
       |    * 250000 AS sz FROM customer),
       |pts AS (SELECT c_custkey,
       |    ${coordSql("lat")} AS lat_udeg,
       |    ${coordSql("lon")} AS lon_udeg
       |  FROM customer CROSS JOIN side)""".stripMargin
  }

  /** Count-min counter replay (depth 4) over a caller-provided CTE
    * `$src(shingle)` → a counter CTE `$out(r, bucket, cnt)` with
    * width-`$width` buckets — replays
    * `Sketch.countMinCounters(..., depth = 4, width, seed)`; CTE names are
    * caller-prefixed so two instances can coexist in one oracle (the
    * join-size sketch needs one per join side).
    */
  private def cmCountersCtes(src: String, out: String, width: Int,
      seed: Long): String =
    s"""${fnvMixCtes(s"${out}_", "r", src, s"$seed + r", " CROSS JOIN rs")},
       |$out AS (SELECT r, cast(z % $width AS bigint) AS bucket, count(*) AS cnt
       |  FROM ${out}_hv GROUP BY 1, 2)""".stripMargin

  /** Rank-select quantile finisher over CTE `hist`: integer cross-multiply
    * rank rule (cum·den ≥ N·num, no division), answer = the bucket's exact
    * integer lower bound. Ends in CTE `apx(source, q_label, approx_value)`.
    */
  private val HistQuantileCtes: String =
    """cum AS (SELECT source, bucket,
      |    sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS c,
      |    sum(cnt) OVER (PARTITION BY source) AS n FROM hist),
      |t(q_label, qn, qd) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100)),
      |sel AS (SELECT source, q_label, min(bucket) AS b FROM cum CROSS JOIN t
      |  WHERE c * qd >= n * qn GROUP BY 1, 2),
      |apx AS (SELECT source, q_label,
      |  CAST(CASE WHEN b < 32 THEN b
      |    ELSE (16 + b % 16) * (CAST(1 AS BIGINT) << (b // 16 - 1)) END
      |    AS BIGINT) AS approx_value FROM sel)""".stripMargin

  /** Retrieval oracle core shared by q_bm25 / q_rrf_fusion: the five seeded
    * queries, the tf/dl/df/corpus-constant folds over documents, query
    * tokens, and the BM25 term/score/rank chain (operators/Ranking.scala
    * bm25TopK) — ends in CTE `bmr(query_id, doc_id, score_q20,
    * n_terms_hit, rn)`; `tf`, `dfc`, `qt` stay visible for the TF-IDF
    * second ranker.
    */
  private lazy val RetrievalCtes: String =
    s"""q(query_id, qtext) AS (VALUES
       |  (CAST(1 AS BIGINT), 'spark window agg'),
       |  (CAST(2 AS BIGINT), 'customer join order'),
       |  (CAST(3 AS BIGINT), 'hash merge sort table'),
       |  (CAST(4 AS BIGINT), 'slow scan'),
       |  (CAST(5 AS BIGINT), 'vector stream batch data')),
       |posting AS (SELECT doc_id, unnest($TokSql) AS token FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM posting GROUP BY 1, 2),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
       |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |cs AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
       |qt AS (SELECT DISTINCT query_id, unnest(
       |    list_distinct(list_filter(string_split_regex(lower(qtext), '\\s+'),
       |      t -> len(t) > 0))) AS token FROM q),
       |term AS (SELECT qt.query_id, tf.doc_id,
       |    CAST(floor(
       |      (CAST(2 * n - 2 * df + 1 AS DOUBLE) *
       |       CAST(22 * tf * sumdl AS DOUBLE) /
       |       (CAST(2 * df + 1 AS DOUBLE) *
       |        CAST(10 * tf * sumdl + 3 * sumdl + 9 * dl * n AS DOUBLE)))
       |      * 1048576.0) AS BIGINT) AS term_q20
       |  FROM tf JOIN qt USING (token) JOIN dfc USING (token)
       |    JOIN dl USING (doc_id) CROSS JOIN cs),
       |pd AS (SELECT query_id, doc_id, sum(term_q20) AS score_q20,
       |    count(*) AS n_terms_hit FROM term GROUP BY 1, 2),
       |bmr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score_q20 DESC, doc_id) AS rn FROM pd)""".stripMargin

  /** CTE chain replaying [[LangClassifier.classify]] over a CTE/table
    * `from(doc_id, text)` with the q_lang_classify artifact (4 classes
    * en/de/fr/es, B=256, seeds 101..104, bucket seed 53, scale 0.05,
    * bias 0): char trigrams of the lowercased text, ONE shared splitmix
    * bucket chain, four literal weight-list sums, per-class affines,
    * argmax via a >=-CASE (ties to the smaller class index — the Spark
    * struct(logit, -idx) max rule). Ends in
    * `mlpred(doc_id, n_features, lang, logit)`; shared by the
    * q_lang_classify gate and the curation pipeline's lang_ml stage.
    */
  private def langClassifyCtes(from: String): String = {
    val wl = (0 until 4).map(i =>
      QualityClassifier.seededWeights(256, 101L + i).mkString("[", ", ", "]"))
    s"""mlt AS (SELECT doc_id, lower(text) AS t FROM $from),
       |mlf AS (SELECT doc_id, CASE WHEN length(t) >= 3
       |    THEN list_transform(range(1, length(t) - 1), i -> substring(t, i, 3))
       |    ELSE [] END AS fs FROM mlt),
       |mlbase AS (SELECT doc_id, len(fs) AS n_features FROM mlf),
       |mlh0 AS (SELECT doc_id, unnest(fs) AS shingle FROM mlf),
       |${fnvMixCtes("ml", "doc_id", "mlh0", "53")},
       |mlbk AS (SELECT doc_id, cast(z % 256 AS bigint) + 1 AS bk FROM mlhv),
       |mlsums AS (SELECT doc_id,
       |    sum((${wl(0)})[bk]) AS s0, sum((${wl(1)})[bk]) AS s1,
       |    sum((${wl(2)})[bk]) AS s2, sum((${wl(3)})[bk]) AS s3
       |  FROM mlbk GROUP BY 1),
       |mlsc AS (SELECT b.doc_id, b.n_features,
       |    coalesce(s0, 0) AS s0, coalesce(s1, 0) AS s1,
       |    coalesce(s2, 0) AS s2, coalesce(s3, 0) AS s3
       |  FROM mlbase b LEFT JOIN mlsums w USING (doc_id)),
       |mllg AS (SELECT doc_id, n_features,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s0 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l0,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s1 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l1,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s2 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l2,
       |    CAST(0.0 AS double) + CAST(0.05 AS double) * (cast(s3 AS double)
       |      / cast(greatest(n_features, 1) AS double)) AS l3
       |  FROM mlsc),
       |mlpred AS (SELECT doc_id, n_features,
       |  CASE WHEN l0 >= l1 AND l0 >= l2 AND l0 >= l3 THEN 'en'
       |    WHEN l1 >= l2 AND l1 >= l3 THEN 'de'
       |    WHEN l2 >= l3 THEN 'fr' ELSE 'es' END AS lang,
       |  greatest(l0, l1, l2, l3) AS logit
       |FROM mllg)""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // §2#21 array unnest → rollup — int_meter_values.sql
    Gate("q_unnest_rollup", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_distinct_tokens"),
          (sum(length(col("token"))).cast("double") / count(lit(1))).as("avg_token_len")),
      s"""WITH toks AS (SELECT doc_id, unnest($TokSql) AS token FROM documents)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_tokens,
         |  cast(count(DISTINCT token) AS bigint) AS n_distinct_tokens,
         |  cast(sum(length(token)) AS double) / count(*) AS avg_token_len
         |FROM toks GROUP BY 1""".stripMargin),

    // §2#22 wide mart aggregation (decimal-exact) — TPC-H Q1 shape.
    // Decimal sums leave as SCALED EXACT INTEGERS cast through bigint, then
    // ONE IEEE division: a direct decimal→double cast diverges by 1 ulp
    // across engines once the scaled value crosses 2^53 (DuckDB converts
    // int128→double then divides by 10^scale — two roundings; Spark's
    // BigDecimal rounds once), which sf1's scale-6 charge sums hit
    Gate("q1_pricing", (s, dir) => {
      def scaled(c: Column, scale: Long, name: String) =
        ((c * lit(scale)).cast("long").cast("double") / lit(scale.toDouble)).as(name)
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          scaled(sum(col("l_quantity").cast("decimal(12,2)")), 100L, "sum_qty"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)")), 100L, "sum_base_price"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))),
            10000L, "sum_disc_price"),
          scaled(sum(col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")) *
            (lit(1).cast("decimal(3,2)") + col("l_tax").cast("decimal(3,2)"))),
            1000000L, "sum_charge"),
          (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double") / count(lit(1)))
            .as("avg_price"),
          (sum(col("l_discount").cast("decimal(3,2)")).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      // decimal sums leave as scaled bigints + ONE IEEE division (see the
      // Spark side: direct decimal→double casts diverge by 1 ulp between
      // engines once the scaled integer crosses 2^53)
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_qty,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_base_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2)))) * 10000
        |    AS bigint) AS double) / 10000.0 AS sum_disc_price,
        |  cast(cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2))) *
        |    (cast(1 AS decimal(3,2)) + cast(l_tax AS decimal(3,2)))) * 1000000
        |    AS bigint) AS double) / 1000000.0 AS sum_charge,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) / count(*) AS avg_qty,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2))) AS double) / count(*) AS avg_price,
        |  cast(sum(cast(l_discount AS decimal(3,2))) AS double) / count(*) AS avg_disc,
        |  cast(count(*) AS bigint) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin),

    // §2#22b multi-grain aggregation in ONE pass — GROUPING SETS
    // ((flag,status),(flag),()) through Catalyst's Expand (each input row
    // fans to its grains BEFORE the map-side partial agg, so the exchange
    // carries one partial per (grain,key), never grains× the corpus); the
    // standard grouping() flags disambiguate real NULL keys from rollup
    // rows. Decimal sums keep the measure association-order-free.
    Gate("q_grouping_sets", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          ((sum(col("l_quantity").cast("decimal(12,2)")) * lit(100L)).cast("long")
            .cast("double") / lit(100.0)).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status")),
      """SELECT l_returnflag, l_linestatus,
        |  cast(cast(sum(cast(l_quantity AS decimal(12,2))) * 100 AS bigint) AS double)
        |    / 100.0 AS sum_qty,
        |  cast(count(*) AS bigint) AS n_rows,
        |  cast(grouping(l_returnflag) AS bigint) AS g_flag,
        |  cast(grouping(l_linestatus) AS bigint) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin),

    // §2#23c analytic-rank ladder — ntile/percent_rank/cume_dist/dense_rank
    // over ONE shared (partition, order) window: Catalyst plans a single
    // exchange+sort for all four (the dbt "bucket customers into quartiles"
    // mart shape). The order includes the unique key, so rank semantics are
    // tie-free and engine-deterministic; percent_rank and cume_dist are one
    // exact integer division each.
    Gate("q_rank_ladder", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        dense_rank().over(w).cast("long").as("drank"))
    },
      """SELECT o_orderpriority, o_orderkey,
        |  cast(ntile(4) OVER w AS bigint) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  cast(dense_rank() OVER w AS bigint) AS drank
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin),

    // §2#23 top-N per group — dbt "qualify rn" pattern
    Gate("q_topn_group", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    },
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    // §2#23b top-N per group via the custom TopKPerKey operator (bounded
    // heaps, no per-partition sort; see graft.plans.TopKPerKey)
    Gate("q_topk_custom", (s, dir) =>
      graft.plans.TopK.perKey(
        Tables.orders(s, dir).select("o_orderpriority", "o_orderkey", "o_totalprice"),
        Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        3),
      """SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    // §2#24 star join + agg — fact_visits join shape / TPC-H Q5-ish.
    // The per-order revenue is aggregated BELOW the orders join: the
    // partial agg shrinks the shuffled fact side ~4:1, its l_orderkey
    // exchange is the exact partitioning the join needs, and with one
    // row per orderkey the countDistinct (expand + second exchange on
    // (region, nation, orderkey)) collapses to count(1). Decimal sums
    // are associative, so revenue stays hash-exact vs the flat oracle.
    Gate("q_multi_join_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)"))).as("rev"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
        .agg(
          sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders")),
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  cast(sum(cast(l_extendedprice AS decimal(12,2)) *
        |    (cast(1 AS decimal(3,2)) - cast(l_discount AS decimal(3,2)))) AS double) AS revenue,
        |  cast(count(DISTINCT o_orderkey) AS bigint) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin),

    // §2#58 HTML boilerplate extraction, block grain: a realistic page is
    // synthesized in-plan around each document's text (nav/share/aside/
    // footer chrome, script/style/comment junk, entity escapes, an inline
    // citation link), segmented at block tags, and scored by word count +
    // link density — the jusText-family keep rule. The oracle re-runs the
    // IDENTICAL pipeline in DuckDB (same RE2 patterns, same replace
    // chains), so the hash pins every regex and threshold
    // (operators/Html.scala)
    Gate("q_html_extract", (s, dir) => {
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      Html.blocks(pages, "doc_id", "html")
        .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
          col("text"), col("n_chars"), col("n_words"), col("link_chars"),
          round(col("link_density"), 6).as("link_density"),
          col("kept").cast("int").cast("long").as("kept"))
    },
      // full DuckDB replay of the HTML pipeline: same page construction,
      // same non-content strip, same block split, same link extraction and
      // text normalization, same keep rule — every regex/threshold pinned
      s"""WITH ${Html.SynthesizePageSql},
         |${Html.blocksCoreSql()}
         |SELECT doc_id, block_idx, btext AS text, n_chars, n_words,
         |  link_chars, round(link_density, 6) AS link_density,
         |  cast(CASE WHEN kept THEN 1 ELSE 0 END AS bigint) AS kept
         |FROM bk""".stripMargin),

    // §2#58b HTML extraction composed into the text stack, doc grain: kept
    // blocks joined in block order, then the SAME token counting as
    // q_text_stats (Text.tokenCount) and a QualityFilter.decide verdict
    // over extraction-derived signals — the gated ingest→clean→score chain
    // of a web curation pipeline
    Gate("q_html_clean", (s, dir) => {
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      val cleaned = Html.extractText(pages, "doc_id", "html")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long"))
      QualityFilter.decide(cleaned, Seq(
          "too_short" -> (col("n_tokens") < 20),
          "boiler_heavy" -> (col("n_blocks_dropped") >= 10)))
        .select(col("doc_id"), col("text"), col("n_blocks_kept"),
          col("n_blocks_dropped"), col("n_tokens"),
          array_join(col("reasons"), ",").as("reasons"),
          col("keep").cast("int").cast("long").as("keep"))
    },
      s"""WITH ${Html.SynthesizePageSql},
         |${Html.blocksCoreSql()},
         |dg AS (SELECT doc_id,
         |    string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx)
         |      AS text,
         |    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint)
         |      AS n_blocks_kept,
         |    cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS bigint)
         |      AS n_blocks_dropped
         |  FROM bk GROUP BY 1
         |  HAVING sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0),
         |tok AS (SELECT *, cast(len(list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> len(t) > 0))
         |    AS bigint) AS n_tokens FROM dg),
         |r AS (SELECT *, list_filter([
         |    CASE WHEN n_tokens < 20 THEN 'too_short' END,
         |    CASE WHEN n_blocks_dropped >= 10 THEN 'boiler_heavy' END],
         |    x -> x IS NOT NULL) AS rl FROM tok)
         |SELECT doc_id, text, n_blocks_kept, n_blocks_dropped, n_tokens,
         |  coalesce(array_to_string(rl, ','), '') AS reasons,
         |  cast(CASE WHEN len(rl) = 0 THEN 1 ELSE 0 END AS bigint) AS keep
         |FROM r""".stripMargin),

    // §2#58b URL normalization — the web-curation stage before URL-level
    // dedup / per-domain weighting: scheme+host lowering, default-port
    // strip, tracking-param drop, bytewise param sort, path + fragment
    // canonicalization, registered-domain extraction (multi-label
    // public-suffix rule). Pure scan-side string/array functions (no UDF,
    // no shuffle); the messy-URL corpus is synthesized in-plan from
    // doc_id (the Zipf/HTML discipline) and the oracle rebuilds it
    // byte-identically, then replays every rule
    Gate("q_url_normalize", (s, dir) =>
      Url.normalize(
          Tables.documents(s, dir).select(col("doc_id"),
            Url.synthesizeUrl(col("doc_id")).as("url")),
          "doc_id", "url")
        .select(col("doc_id"), col("url"), col("url_canonical"),
          col("host"), col("registered_domain"), col("n_params_kept")),
      // full URL-normalization replay: byte-identical in-plan URL corpus,
      // then the same RE2 splitter, lowering, default-port strip,
      // tracking-param filter + bytewise sort, path/fragment rules, and the
      // multi-label public-suffix registered-domain rule
      s"""WITH ${graft.operators.Url.SynthesizeUrlSql},
         |${graft.operators.Url.NormalizeSql}
         |SELECT doc_id, url, url_canonical, host, registered_domain,
         |  n_params_kept
         |FROM urlnorm""".stripMargin),

    // §2#59 link-graph PageRank (Brin & Page 1998) — the authority signal
    // curation pipelines weight quality by: 2 power iterations over an
    // in-plan synthesized link graph (≤3 u20-drawn out-edges per doc;
    // every 4th candidate edge dropped so out-degrees vary, and every
    // 10th doc emits NONE so it can only appear as a target — a genuine
    // dangling node, exercising the uniform mass redistribution). Per
    // iteration one shuffle (contribution sum on dst), map-side combined,
    // 2^-40-quantized sums → association-order-free, replayed exactly
    Gate("q_pagerank", (s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cnt = docs.agg(count(lit(1)).as("n_docs"))
      val edges = docs.crossJoin(broadcast(cnt))
        .select(col("doc_id"), col("n_docs"),
          explode(sequence(lit(0L), lit(2L))).as("i"))
        .filter(pmod(col("doc_id"), lit(10)) =!= 0 &&
          pmod(col("doc_id") + col("i"), lit(4)) =!= 0)
        .select(col("doc_id").as("src"),
          shiftright(
            u20(concat(lit("pr:"), col("i").cast("string"), lit(":"),
              col("doc_id").cast("string"))) * col("n_docs"), 20).as("dst"))
      Graph.pageRank(edges, "src", "dst", iters = 2)
        .select(col("node"), col("rank"))
    },
      // PageRank replay: the same u20-drawn edge set (every 4th candidate
      // dropped), then 2 power iterations with identical IEEE op order —
      // init 1/N, 2^-40-quantized contribution/dangling sums,
      // (1-d)/N + d*(S + D/N) update; ranks match hash-exact
      {
        import graft.sources.ZipfCorpus.u20Sql
        s"""WITH ecnt AS (SELECT count(*) AS n_docs FROM documents),
           |eraw AS (SELECT doc_id, n_docs,
           |    'pr:' || CAST(i AS varchar) || ':' || CAST(doc_id AS varchar) AS ekey
           |  FROM documents CROSS JOIN ecnt
           |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
           |  WHERE doc_id % 10 <> 0 AND (doc_id + i) % 4 <> 0),
           |predges AS (SELECT doc_id AS src,
           |    (${u20Sql("ekey")} * n_docs) >> 20 AS dst
           |  FROM eraw),
           |${graft.operators.Graph.pageRankCtes("predges", iters = 2, damping = 0.85)}
           |SELECT node, rank FROM pr_r2""".stripMargin
      }),

    // §2#60 the COMPOSED batch curation pipeline — boilerplate extraction
    // → language id → quality decision → exact dedup (min-id winner), ONE
    // declarative plan with no materialization between stages: the
    // web-curation chain every corpus build runs, gated end-to-end at
    // surviving-doc grain (the batch counterpart of q_stream_ingest's
    // streaming composition). Catalyst fuses the scan-side stages
    // (lang-id, quality, fingerprint) onto their input; the chain plans
    // exactly TWO exchanges — the block re-assembly aggregation and the
    // dedup window — and never joins an intermediate (plan-spec-pinned)
    Gate("q_curation_pipeline", (s, dir) => {
      val names = Text.Langs.map(_._1)
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      val cleaned = Html.extractText(pages, "doc_id", "html")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long"))
      val hits = cleaned.withColumn("_lh",
        graft.plans.TextExpressions.langHits(col("text"), Text.Langs))
      val best = names.map(l => col(s"_lh.${l}_hits")).reduce(greatest(_, _))
      val pick = names.foldRight(lit("und"): Column) { (l, rest) =>
        when(col(s"_lh.${l}_hits") === best, lit(l)).otherwise(rest)
      }
      val lang = hits
        .withColumn("predicted_lang", when(best > 0, pick).otherwise(lit("und")))
        .drop("_lh")
      // the LEARNED langid (q_lang_classify's artifact) rides NEXT TO the
      // heuristic — same cleaned-text scan, still zero extra exchanges:
      // features hashed once into _bk, four literal-vector folds, argmax
      val mlWeights =
        (0 until 4).map(i => QualityClassifier.seededWeights(256, 101L + i))
      val langMl = lang
        .withColumn("_sums", LangClassifier.classSums(col("text"), mlWeights, 53L))
        .withColumn("lang_ml",
          LangClassifier.predictedFromSums(col("_sums"),
            LangClassifier.nFeatures(col("text")),
            Seq("en", "de", "fr", "es"), 0.05, 0.0).getField("lang"))
        .drop("_sums")
      val decided = QualityFilter.decide(langMl, Seq(
        "too_short" -> (col("n_tokens") < 20),
        "boiler_heavy" -> (col("n_blocks_dropped") >= 10)))
      val keepers = decided.filter(col("keep"))
        .withColumn("fingerprint", Text.fingerprint(col("text")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
      keepers
        .withColumn("_winner", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("_winner"))
        .select(col("doc_id"), col("predicted_lang"), col("lang_ml"),
          col("n_tokens"), col("n_blocks_kept"), col("n_blocks_dropped"),
          col("fingerprint"))
    },
      // the full chain replay: extraction (q_html_clean's dg), lang-id over
      // the CLEANED text (q_lang_id's hit ladder), the two quality rules,
      // the fingerprint normalization, min-id dedup winner per fingerprint
      {
        val langLists = Text.Langs.map { case (l, words) =>
          l -> words.map(w => s"'$w'").mkString("[", ",", "]")
        }
        val hitCols = langLists.map { case (l, arr) =>
          s"cast(len(list_filter(tk, t -> list_contains($arr, t))) AS bigint) AS ${l}_hits"
        }.mkString(",\n  ")
        val names = Text.Langs.map(_._1)
        val best = "greatest(" + names.map(l => s"${l}_hits").mkString(", ") + ")"
        val pick = names.reverse.foldLeft("'und'") { (rest, l) =>
          s"CASE WHEN ${l}_hits = best THEN '$l' ELSE $rest END"
        }
        s"""WITH ${Html.SynthesizePageSql},
           |${Html.blocksCoreSql()},
           |dg AS (SELECT doc_id,
           |    string_agg(CASE WHEN kept THEN btext END, ' ' ORDER BY block_idx)
           |      AS text,
           |    cast(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS bigint)
           |      AS n_blocks_kept,
           |    cast(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS bigint)
           |      AS n_blocks_dropped
           |  FROM bk GROUP BY 1
           |  HAVING sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0),
           |${toksCte("dg", "ctok0", "*")},
           |ctok AS (SELECT *, cast(len(tk) AS bigint) AS n_tokens FROM ctok0),
           |${langClassifyCtes("dg")},
           |ch AS (SELECT doc_id,
           |  $hitCols
           |  FROM ctok),
           |cb AS (SELECT *, $best AS best FROM ch),
           |clang AS (SELECT doc_id,
           |    CASE WHEN best > 0 THEN $pick ELSE 'und' END AS predicted_lang
           |  FROM cb),
           |cq AS (SELECT ctok.doc_id, ctok.text, ctok.n_tokens,
           |    ctok.n_blocks_kept, ctok.n_blocks_dropped, clang.predicted_lang,
           |    mlpred.lang AS lang_ml
           |  FROM ctok JOIN clang USING (doc_id) JOIN mlpred USING (doc_id)
           |  WHERE NOT (n_tokens < 20) AND NOT (n_blocks_dropped >= 10)),
           |cfp AS (SELECT *, md5(trim(regexp_replace(regexp_replace(lower(text),
           |    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint FROM cq),
           |cwin AS (SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS w
           |  FROM cfp)
           |SELECT doc_id, predicted_lang, lang_ml, n_tokens, n_blocks_kept,
           |  n_blocks_dropped, fingerprint
           |FROM cwin WHERE doc_id = w""".stripMargin
      }),

    // §2#26 text quality stats via the native single-pass TokenStats
    // expression (graft.plans.TokenStats): one scan per document instead of
    // a tokenization per referenced statistic
    Gate("q_text_stats", (s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val nTok = col("_st.n_tokens")
      val punct = col("_st.punct_cnt")
      val stop = col("_st.stopword_cnt")
      val nChars = col("n_chars_calc")
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars_calc"),
          stats.as("_st"))
        .select(
          col("doc_id"), nChars, nTok.as("n_tokens"), punct.as("punct_cnt"),
          stop.as("stopword_cnt"),
          round(Text.qualityScoreFrom(nTok, punct, stop, nChars), 6).as("quality"))
    },
      s"""WITH ${toksCte("documents", "t", "doc_id, text")},
         |x AS (SELECT doc_id,
         |  cast(length(text) AS bigint) AS n_chars_calc,
         |  cast(len(tk) AS bigint) AS n_tokens,
         |  cast(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS bigint) AS punct_cnt,
         |  cast(len(list_filter(tk, t -> list_contains(['the','a','an','of','and','to','in','is','it','that'], t))) AS bigint) AS stopword_cnt,
         |  cast(length(text) AS double) AS n_chars_d
         |  FROM t)
         |SELECT doc_id, n_chars_calc, n_tokens, punct_cnt, stopword_cnt,
         |  round(least(cast(n_tokens AS double) / 100.0, 1.0) * 0.4 +
         |    (1.0 - CASE WHEN n_chars_d > 0 THEN punct_cnt / n_chars_d ELSE 0.0 END) * 0.3 +
         |    CASE WHEN n_tokens > 0 THEN cast(stopword_cnt AS double) / n_tokens ELSE 0.0 END * 0.3,
         |    6) AS quality
         |FROM x""".stripMargin),

    // §2#26c Unicode NFC normalization + whitespace canonicalization —
    // the curation normalizer every web pipeline runs BEFORE tokenizing
    // (CCNet-style), so composed and decomposed spellings of the same
    // text dedup/count identically: NFC via the native NfcNormalize
    // kernel (JDK reference UAX #15 implementation, isNormalized
    // fast path returns the input untouched on the already-normalized
    // common case), then [ \t\r\n]+ runs collapse to one space and the
    // result trims. A third of the docs get a deterministically injected
    // decomposed suffix (combining acute/ring, the U+212B singleton, a
    // tab and a double space — the q_redact seeding discipline) so
    // composition, singleton replacement, reordering, collapse and trim
    // are all exercised; DuckDB's nfc_normalize implements the same
    // standard algorithm, so text bytes hash-match end to end
    Gate("q_text_normalize", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0L,
          concat(col("text"), lit(TextNormSuffix))).otherwise(col("text")).as("t"))
      docs
        .select(col("doc_id"), col("t"),
          graft.plans.TextExpressions.nfcNormalize(col("t")).as("_nfc"))
        .select(col("doc_id"),
          trim(regexp_replace(col("_nfc"), "[ \t\r\n]+", " ")).as("text_norm"),
          (length(col("t")) - length(col("_nfc"))).cast("long").as("n_composed"),
          col("t"))
        .select(col("doc_id"), col("text_norm"),
          length(col("text_norm")).cast("long").as("norm_len"),
          col("n_composed"),
          (col("text_norm") =!= col("t")).as("changed"))
    },
      // NFC normalization + whitespace canonicalization: DuckDB's
      // nfc_normalize is the same UAX #15 algorithm as the JDK kernel; the
      // injected decomposed suffix is the shared TextNormSuffix constant
      s"""WITH inj AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$TextNormSuffix'
         |      ELSE text END AS t
         |  FROM documents),
         |n AS (SELECT doc_id, t, nfc_normalize(t) AS nfc FROM inj),
         |c AS (SELECT doc_id, t,
         |    trim(regexp_replace(nfc, '[ \t\r\n]+', ' ', 'g')) AS text_norm,
         |    CAST(length(t) - length(nfc) AS BIGINT) AS n_composed
         |  FROM n)
         |SELECT doc_id, text_norm,
         |  CAST(length(text_norm) AS BIGINT) AS norm_len,
         |  n_composed, text_norm <> t AS changed
         |FROM c""".stripMargin),

    // §2#27 language-ID heuristic via the native single-pass LangHits
    // expression (one string scan for all 5 languages)
    Gate("q_lang_id", (s, dir) => {
      val names = Text.Langs.map(_._1)
      val hitCols = names.map(l => col(s"_lh.${l}_hits").as(s"${l}_hits"))
      val best = names.map(l => col(s"${l}_hits")).reduce(greatest(_, _))
      val pick = names.foldRight(lit("und"): Column) { (l, rest) =>
        when(col(s"${l}_hits") === best, lit(l)).otherwise(rest)
      }
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.plans.TextExpressions.langHits(col("text"), Text.Langs).as("_lh"))
        .select((col("doc_id") +: hitCols): _*)
        .withColumn("predicted_lang", when(best > 0, pick).otherwise(lit("und")))
    },
      {
        val langLists = Text.Langs.map { case (l, words) =>
          l -> words.map(w => s"'$w'").mkString("[", ",", "]")
        }
        val hitCols = langLists.map { case (l, arr) =>
          s"cast(len(list_filter(tk, t -> list_contains($arr, t))) AS bigint) AS ${l}_hits"
        }.mkString(",\n  ")
        val names = Text.Langs.map(_._1)
        val best = "greatest(" + names.map(l => s"${l}_hits").mkString(", ") + ")"
        val pick = names.reverse.foldLeft("'und'") { (rest, l) =>
          s"CASE WHEN ${l}_hits = best THEN '$l' ELSE $rest END"
        }
        s"""WITH ${toksCte("documents", "t")},
           |h AS (SELECT doc_id,
           |  $hitCols
           |  FROM t),
           |b AS (SELECT *, $best AS best FROM h)
           |SELECT doc_id, ${names.map(l => s"${l}_hits").mkString(", ")},
           |  CASE WHEN best > 0 THEN $pick ELSE 'und' END AS predicted_lang
           |FROM b""".stripMargin
      }),

    // §2#27b LEARNED multiclass language-id (fastText-langid shape) —
    // the stage real pipelines run after the stopword heuristic: hashed
    // char-trigram features × four per-class int8 weight vectors (seeded
    // stand-in artifacts, the q_quality_classifier discipline), exact
    // integer per-class sums, one IEEE affine per logit, argmax with ties
    // to the smaller class index. Zero shuffle — a pure map over the scan;
    // the whole decision (hash chain, sums, logits, argmax) replays
    // bit-for-bit in DuckDB
    Gate("q_lang_classify", (s, dir) =>
      LangClassifier.classify(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text",
        labels = Seq("en", "de", "fr", "es"),
        weightsPerClass =
          (0 until 4).map(i => QualityClassifier.seededWeights(256, 101L + i)),
        scale = 0.05, bias = 0.0, seed = 53L),
      // multiclass langid replay: ONE shared splitmix bucket chain over the
      // char trigrams, four literal weight-list sums, per-class affines,
      // argmax via a >=-CASE (ties to the smaller class index, the Spark
      // struct(logit, -idx) max rule)
      s"""WITH ${langClassifyCtes("documents")}
         |SELECT doc_id, cast(n_features AS bigint) AS n_features, lang, logit
         |FROM mlpred""".stripMargin),

    // §2#21b nested JSON array unnest + keyed rollup — int_meter_values.sql
    // shape: build a meter-values-like JSON payload, re-parse with from_json,
    // explode the array<struct>, aggregate per measurand
    Gate("q_json_unnest", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.withColumn("payload",
          concat(
            lit("[{\"m\":\"value\",\"v\":"), col("value").cast("string"),
            lit("},{\"m\":\"key\",\"v\":"), col("k").cast("string"), lit("}]")))
        .select(col("event_type"),
          explode(from_json(col("payload"),
            org.apache.spark.sql.types.DataType.fromDDL("array<struct<m:string,v:double>>"))).as("mv"))
        .select(col("event_type"), col("mv.m").as("m"), col("mv.v").as("v"))
        .groupBy(col("event_type"), col("m"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
          max(col("v")).as("max_v"))
    },
      """WITH e AS (SELECT event_type, value,
        |    cast(json_extract_string(props, '$.k') AS bigint) AS k FROM events),
        |p AS (SELECT event_type,
        |    '[{"m":"value","v":' || cast(value AS varchar) || '},{"m":"key","v":' ||
        |    cast(k AS varchar) || '}]' AS payload FROM e),
        |u AS (SELECT event_type, unnest(cast(payload AS JSON[])) AS j FROM p),
        |x AS (SELECT event_type, j->>'m' AS m, cast(j->>'v' AS double) AS v FROM u)
        |SELECT event_type, m, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(v AS decimal(18,2))) AS double) AS total_v, max(v) AS max_v
        |FROM x GROUP BY 1, 2""".stripMargin),

    // §2#21c TWO-level nested JSON array unnest — int_meter_values.sql:92:
    // meterValue[] × sampledValue[] (outer group × inner measurand), double
    // lateral explode then keyed rollup. Parsing goes through Spark 4
    // the NATIVE MeterFrames kernel: one scan of the payload bytes emits
    // the flattened (grp, m, v) rows — one explode replaces parse → nested
    // cast → two explodes. The generic routes (from_json / parse_json →
    // VARIANT, both measured 1.2–1.9 s/round at sf0.1 by the r4 interleaved
    // A/B that landed the kernel; that harness is retired, SURVEY §6)
    // build a JSON tree per row in an interpreted projection; the kernel
    // stays inside whole-stage codegen and its Double.parseDouble is the
    // same correctly-rounded conversion, so the hash is unchanged.
    Gate("q_nested_unnest", (s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val payload = concat(
        lit("[{\"grp\":\"a\",\"sv\":[{\"m\":\"value\",\"v\":"), col("value").cast("string"),
        lit("},{\"m\":\"key\",\"v\":"), col("k").cast("string"),
        lit("}]},{\"grp\":\"b\",\"sv\":[{\"m\":\"key2\",\"v\":"), col("k").cast("string"),
        lit("}]}]"))
      ev.withColumn("payload", payload)
        .select(col("event_type"),
          explode(graft.plans.JsonExpressions.meterFrames(col("payload"))).as("r"))
        .select(col("event_type"), col("r.grp").as("grp"), col("r.m").as("m"),
          col("r.v").as("v"))
        .groupBy(col("event_type"), col("grp"), col("m"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
          min(col("v")).as("min_v"),
          max(col("v")).as("max_v"))
    },
      """WITH e AS (SELECT event_type, value,
        |    cast(json_extract_string(props, '$.k') AS bigint) AS k FROM events),
        |p AS (SELECT event_type,
        |    '[{"grp":"a","sv":[{"m":"value","v":' || cast(value AS varchar) ||
        |    '},{"m":"key","v":' || cast(k AS varchar) ||
        |    '}]},{"grp":"b","sv":[{"m":"key2","v":' || cast(k AS varchar) ||
        |    '}]}]' AS payload FROM e),
        |u1 AS (SELECT event_type, unnest(cast(payload AS JSON[])) AS mv FROM p),
        |u2 AS (SELECT event_type, mv->>'grp' AS grp,
        |    unnest(cast(mv->'sv' AS JSON[])) AS s FROM u1),
        |x AS (SELECT event_type, grp, s->>'m' AS m, cast(s->>'v' AS double) AS v FROM u2)
        |SELECT event_type, grp, m, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(v AS decimal(18,2))) AS double) AS total_v,
        |  min(v) AS min_v, max(v) AS max_v
        |FROM x GROUP BY 1, 2, 3""".stripMargin),

    // §2#24b salted skew join — equals the plain join, skew-proof shuffle
    Gate("q_salted_join", (s, dir) =>
      Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_quantity"),
          Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
            .withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", "l_linenumber", 4)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty")),
      """SELECT o_orderpriority, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),

    // §2#24c Bloom runtime-filter join — the OTHER big-join lever next to
    // salting: the build side's key set rides as a bounded bit array and
    // prunes probe rows BEFORE their shuffle (a ~20%-selective build side
    // cuts probe shuffle bytes ~5×). No false negatives, so the result is
    // byte-identical to the plain join and the oracle is the plain SQL join.
    Gate("q_bloom_join", (s, dir) =>
      RuntimeFilter.bloomJoin(
          Tables.lineitem(s, dir)
            .select(col("l_orderkey").as("orderkey"), col("l_returnflag"),
              col("l_quantity")),
          Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey").as("orderkey"), col("o_orderstatus")),
          "orderkey", bloomBits = 1 << 16, nHashes = 4)
        .groupBy(col("o_orderstatus"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty")),
      // Bloom pruning has no false negatives => plain-join oracle
      """SELECT o_orderstatus, l_returnflag, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2""".stripMargin),

    // §2#24d bucketed co-located join — the one-time-layout answer to the
    // recurring fact⋈fact shuffle: both sides written bucketed on their
    // join key (REAL bucketBy write path, external tables), then joined
    // with ZERO exchange on either side (BucketJoinPlanSpec pins it; the
    // only exchange in the gate plan is the final aggregation's). Content
    // gate: the join result must equal the plain SQL join on the originals.
    Gate("q_bucket_join", (s, dir) => {
      Bucketing.dropPrefixed(s, "graft_bkt_")
      val tmp = gateTmpDir("graft_bucket-")
      val n = System.nanoTime()
      val ot = s"graft_bkt_o_$n"
      val lt = s"graft_bkt_l_$n"
      Bucketing.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_orderpriority"),
        ot, s"$tmp/orders", "o_orderkey", nBuckets = 8)
      Bucketing.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_returnflag", "l_quantity"),
        lt, s"$tmp/lineitem", "l_orderkey", nBuckets = 8)
      s.table(lt)
        .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty"))
    },
      // the bucketed layout must be a no-op on join content
      """SELECT o_orderpriority, l_returnflag, cast(count(*) AS bigint) AS n,
        |  cast(sum(cast(l_quantity AS decimal(12,2))) AS double) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2""".stripMargin),

    // §2#37 sketch aggregates: HLL distinct sketch (mergeable across
    // partitions/days — the scale path for distinct counts) next to the
    // exact count. The datasketches estimate itself is engine-specific,
    // so the gate hash-checks its ERROR ENVELOPE instead: the estimate
    // must land within ±5% of the exact distinct computed alongside it
    // (default lgK=12 ⇒ rsd ≈ 1.6%; measured rel-err ≤ 2.03% at sf10,
    // ≤ 0.99% at sf1, 0 below — ≥ 2.4× headroom), making the row a real
    // driver-verified gate rather than rows-only.
    Gate("q_hll_sketch", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          (abs(hll_sketch_estimate(hll_sketch_agg(col("user_id"))) -
            countDistinct(col("user_id"))) <=
            countDistinct(col("user_id")) * 0.05).as("hll_within_5pct"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events")),
      // HLL envelope gate: the datasketches estimate is engine-specific,
      // but the gate emits only its ±5% error-envelope verdict next to
      // the exact count — both fully SQL-replayable (TRUE iff the sketch
      // behaves; measured rel-err ≤ 2.03% at sf10, ≥ 2.4× headroom)
      """SELECT event_type, TRUE AS hll_within_5pct,
        |  count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin),

    // §2#37b engine-portable mergeable cardinality sketch: same distinct-
    // count surface as q_hll_sketch but with row-shaped FnvMix registers and
    // an exact-arithmetic raw-HLL estimator, so the WHOLE sketch pipeline
    // (hash -> bucket -> rank -> max-register -> estimate) hash-matches the
    // DuckDB oracle bit-for-bit. The estimate rides next to the exact count.
    Gate("q_card_sketch", (s, dir) => {
      val ev = Tables.events(s, dir)
      val est = Sketch.estimate(
        Sketch.registers(ev, Seq("event_type"), col("user_id"), seed = 11L),
        Seq("event_type"))
      val exact = ev.groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
      est.withColumnRenamed("approx_distinct", "approx_users")
        .join(exact, "event_type")
    },
      // Full FnvMix replay -> bucket/rank via exact integer CASE thresholds
      // (no floating log2) -> max registers -> scaled-integer harmonic sum in
      // HUGEINT -> one exact power-of-two division + one IEEE division. The
      // estimator constants are the SAME Scala doubles Spark embeds
      // (shortest-round-trip literals parse back to identical bits).
      s"""WITH $CardRegsCtes,
         |est AS (SELECT event_type,
         |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
         |    count(*) AS nb
         |  FROM regs GROUP BY 1),
         |ex AS (SELECT event_type,
         |    cast(count(DISTINCT user_id) AS bigint) AS exact_users,
         |    cast(count(*) AS bigint) AS n_events
         |  FROM events GROUP BY 1)
         |SELECT e.event_type,
         |  CAST(${Sketch.Numer} AS double) /
         |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
         |       AS double) / CAST(144115188075855872 AS double)) AS approx_users,
         |  cast(nb AS bigint) AS n_buckets_used,
         |  ex.exact_users, ex.n_events
         |FROM est e JOIN ex ON e.event_type = ex.event_type""".stripMargin
    ),

    // §2#37d count-min frequency sketch — the FREQUENCY member of the
    // portable sketch family (HLL registers = cardinality,
    // q_quantile_phase = quantiles): plain-row counters (r, bucket, cnt)
    // over the FnvMix family, point estimates = min over depth cells for
    // the exact top-20 tokens. Every step (hash, bucket, counter, min)
    // replays in the oracle; est >= true by construction and the emitted
    // overcount column shows the sketch error directly.
    Gate("q_count_min", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      val counters = Sketch.countMinCounters(toks, Nil, col("token"),
        depth = 4, width = 1024, seed = 17L)
      val truth = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
      val probes = truth.orderBy(col("true_cnt").desc, col("token")).limit(20)
      Sketch.countMinEstimate(counters, probes.select(col("token")), Nil,
          "token", depth = 4, width = 1024, seed = 17L)
        .join(probes, Seq("token"))
        .select(col("token"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") - col("true_cnt")).as("overcount"))
    },
      // count-min: full FnvMix replay per hash-family member (seed 17+r),
      // power-of-two bucket mod (signed pmod == unsigned % on low bits),
      // counters grouped, probe estimate = min over depth cells with absent
      // cells as 0 — every step exact integer arithmetic
      s"""WITH toks AS (SELECT unnest($TokSql) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY 1),
         |probes AS (SELECT token, true_cnt FROM tc
         |  ORDER BY true_cnt DESC, token LIMIT 20),
         |rs AS (SELECT unnest(range(4)) AS r),
         |f0 AS (SELECT token AS shingle FROM toks),
         |${fnvMixCtes("", "r", "f0", "17 + r", " CROSS JOIN rs")},
         |cm AS (SELECT r, cast(z % 1024 AS bigint) AS bucket, count(*) AS cnt
         |  FROM hv GROUP BY 1, 2),
         |p0 AS (SELECT token AS shingle, true_cnt FROM probes),
         |${fnvMixCtes("p", "shingle, true_cnt, r", "p0", "17 + r", " CROSS JOIN rs")},
         |pe AS (SELECT shingle AS token, true_cnt, r,
         |    cast(z % 1024 AS bigint) AS bucket FROM phv),
         |est AS (SELECT token, true_cnt,
         |    min(coalesce(cm.cnt, 0)) AS est_cnt
         |  FROM pe LEFT JOIN cm USING (r, bucket) GROUP BY 1, 2)
         |SELECT token, cast(true_cnt AS bigint) AS true_cnt,
         |  cast(est_cnt AS bigint) AS est_cnt,
         |  cast(est_cnt - true_cnt AS bigint) AS overcount FROM est""".stripMargin),

    // §2#37f log-bucketed histogram — the QUANTILE member of the portable
    // sketch family (HLL = cardinality, count-min = frequency): HdrHistogram-
    // style integer bucketing (binary exponent + 4 sub-bucket bits, pure
    // shifts, no log()), rank-select estimates with relative error < 2^-4.
    // The approx quantile rides NEXT TO the exact order statistic computed
    // by the same rank definition, so the emitted rel_err shows the sketch
    // error directly — and every step replays in the oracle.
    Gate("q_quantile_sketch", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val targets = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))
      val approx = Sketch.histQuantiles(
        Sketch.logHistogram(docs, Seq("source"), col("n_chars")),
        Seq("source"), targets)
      // exact order statistic, SAME rank rule (min v with cum ≥ ceil(qN)) —
      // not percentile_disc, whose tie handling varies across engines
      val vc = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("_c"))
        .withColumn("_cum", sum("_c").over(
          Window.partitionBy(col("source")).orderBy(col("n_chars"))))
        .withColumn("_n", sum("_c").over(Window.partitionBy(col("source"))))
      val exact = vc
        .select(col("source"), col("n_chars"), col("_cum"), col("_n"),
          explode(array(targets.map { case (l, n, d) =>
            struct(lit(l).as("q_label"), lit(n.toLong).as("_qn"),
              lit(d.toLong).as("_qd"))
          }: _*)).as("_t"))
        .where(col("_cum") * col("_t._qd") >=
          col("_n") * col("_t._qn")) // cum ≥ ceil(n·qn/qd) ⇔ cum·qd ≥ n·qn
        .groupBy(col("source"), col("_t.q_label").as("q_label"))
        .agg(min(col("n_chars")).as("exact_value"))
      approx.join(exact, Seq("source", "q_label"))
        .select(col("source"), col("q_label"), col("approx_value"),
          col("exact_value"),
          ((col("exact_value") - col("approx_value")).cast("double") /
            col("exact_value").cast("double")).as("rel_err"))
    },
      // log-histogram quantile sketch: exact integer bucket map (CASE-chain
      // exponent, shifts), cross-multiply rank select, lower-bound answer —
      // next to the exact order statistic by the SAME rank rule
      s"""WITH $HistCtes,
         |$HistQuantileCtes,
         |vcc AS (SELECT source, v, count(*) AS c2 FROM vals GROUP BY 1, 2),
         |vcum AS (SELECT source, v,
         |    sum(c2) OVER (PARTITION BY source ORDER BY v) AS c,
         |    sum(c2) OVER (PARTITION BY source) AS n FROM vcc),
         |ext AS (SELECT source, q_label, min(v) AS exact_value
         |  FROM vcum CROSS JOIN t WHERE c * qd >= n * qn GROUP BY 1, 2)
         |SELECT a.source, a.q_label, a.approx_value,
         |  CAST(e.exact_value AS BIGINT) AS exact_value,
         |  CAST(e.exact_value - a.approx_value AS DOUBLE) /
         |    CAST(e.exact_value AS DOUBLE) AS rel_err
         |FROM apx a JOIN ext e ON a.source = e.source
         |  AND a.q_label = e.q_label""".stripMargin),

    // §2#37g histogram MERGE algebra driver-gated: histograms built over two
    // disjoint corpus halves, merged, then quantiled — hash-equal to the
    // oracle's single-pass histogram over the whole corpus. This is the
    // 100 TB mode: per-day/per-shard histograms persist and roll up to any
    // range without touching raw data (exact percentiles can never do this).
    Gate("q_hist_merge", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val half = (r: Int) => docs.where(pmod(col("doc_id"), lit(2)) === r)
      val merged = Sketch.mergeHistograms(
        Sketch.logHistogram(half(0), Seq("source"), col("n_chars")),
        Sketch.logHistogram(half(1), Seq("source"), col("n_chars")),
        Seq("source"))
      Sketch.histQuantiles(merged, Seq("source"),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
    },
      // merge gate: the oracle histograms the WHOLE corpus in one pass; the
      // Spark side built two half-corpus histograms and merged — hash
      // equality proves the merge algebra cross-engine
      s"""WITH $HistCtes,
         |$HistQuantileCtes
         |SELECT source, q_label, approx_value FROM apx""".stripMargin),

    // §2#38 deterministic stratified sampling (hash-mod bucketing, pure
    // scan-side filter — the 100 TB sampling pattern; modulus bucketing here
    // so the oracle can replicate, xxhash64 bucketing in production)
    Gate("q_stratified_sample", (s, dir) =>
      Sampling.stratified(
          Tables.events(s, dir), "event_type",
          bucket = pmod(col("event_id"), lit(100L)), buckets = 100,
          rates = Map("purchase" -> 50, "click" -> 20, "view" -> 5),
          defaultRate = 10)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sampled_value")),
      """SELECT event_type, cast(count(*) AS bigint) AS n_sampled,
        |  cast(sum(cast(value AS decimal(18,2))) AS double) AS sampled_value
        |FROM events
        |WHERE event_id % 100 < CASE event_type
        |  WHEN 'purchase' THEN 50 WHEN 'click' THEN 20 WHEN 'view' THEN 5 ELSE 10 END
        |GROUP BY event_type""".stripMargin),

    // §2#39 intra-document repetition quality signal (dup-token ratio).
    // Token total from the native single-pass TokenStats kernel; only the
    // distinct count needs the interpreted array pass (naively sharing one
    // tokens() alias would inline the tokenization into both consumers —
    // interpreted projections get no CSE).
    Gate("q_repetition", (s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          graft.plans.TextExpressions.tokenStats(col("text"), Nil)
            .getField("n_tokens").as("n_tokens"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_tokens") > 0,
            (col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens").cast("double"))
            .otherwise(lit(0.0))),
      s"""SELECT doc_id,
         |  cast(len($TokSql) AS bigint) AS n_tokens,
         |  cast(len(list_distinct($TokSql)) AS bigint) AS n_distinct,
         |  CASE WHEN len($TokSql) > 0
         |    THEN cast(len($TokSql) - len(list_distinct($TokSql)) AS double)
         |      / cast(len($TokSql) AS double)
         |    ELSE 0.0 END AS dup_ratio
         |FROM documents""".stripMargin),

    // §2#39b the Gopher repetition-filter signal family (Rae et al. 2021,
    // arXiv:2112.11446 Table A1), token-grain: per doc the top-n-gram
    // coverage fraction for n=2,3,4 (count(most frequent n-gram)·n ÷
    // tokens, the Dolma/DataTrove formulation) and the DUPLICATE-5-gram
    // POSITIONAL coverage fraction — occurrences of any 5-gram appearing
    // ≥2× in the doc, their [pos, pos+5) intervals merged (the
    // gaps-islands core at token grain) so overlapping duplicates never
    // double-count. Scale shape: one explode per n with doc-local keys
    // (groupBy/window partitions are (doc_id, shingle) — bounded per doc,
    // no hot corpus-wide key), linear shuffle ≈ 4× corpus tokens; the
    // three subtrees are independent so their map stages schedule
    // concurrently (fusing them MEASURED 2× slower — see the gate body).
    // A quarter of the docs get a deterministically injected repeated
    // phrase (the q_redact seeding discipline) — the driver corpus's
    // random text almost never repeats an exact 5-gram, and a signal the
    // gate never exercises would pin nothing.
    Gate("q_rep_signals", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4L)) === 0L,
          concat(col("text"),
            lit(" lorem ipsum dolor sit amet lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      val base = docs.select(col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      // grams shuffle as 8-byte xxhash64 longs, not ~30-byte strings (the
      // Dedup posting discipline): per-doc counts are key-identity-
      // invariant, so the oracle's string-grouped counts match exactly.
      // MEASURED DECISION (r15 interleaved A/B at sf10, SURVEY §6 r15
      // "rep-signals fuse adjudicated AGAINST"):
      // fusing the three families into ONE explode with n in the grouping
      // key — the r14 verdict's suggestion, tried as both a struct key and
      // a packed-long key — is 2× SLOWER (split 7.7-13.0 s vs fused
      // 15.5-23.3 s): the three topCover subtrees are independent, so
      // their 1/3-size map-side-combined shuffles schedule CONCURRENTLY
      // inside one job, while the fused form serializes 3× the key
      // cardinality through one hash-aggregate chain with an extra
      // aggregation stage. The three-pass form stays.
      def topCover(n: Int) =
        docs.select(col("doc_id"),
            explode(transform(Text.wordShinglesAll(col("text"), n),
              g => xxhash64(g))).as("sh"))
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg((max(col("c")) * n).as(s"_top$n"))
      val dup5 = docs.select(col("doc_id"),
          posexplode(transform(Text.wordShinglesAll(col("text"), 5),
            g => xxhash64(g))).as(Seq("pos", "sh")))
        .withColumn("c",
          count(lit(1)).over(Window.partitionBy(col("doc_id"), col("sh"))))
        .filter(col("c") >= 2)
        .select(col("doc_id"), col("pos").cast("long").as("start"),
          (col("pos") + 5).cast("long").as("end"))
      val cover5 = Intervals.mergeIntervals(dup5, Seq("doc_id"), "start", "end")
        .groupBy(col("doc_id")).agg(sum(col("end") - col("start")).as("_cov5"))
      def frac(c: Column) =
        when(col("n_tokens") > 0,
          least(lit(1.0), c.cast("double") / col("n_tokens").cast("double")))
          .otherwise(lit(0.0))
      base
        .join(topCover(2), Seq("doc_id"), "left")
        .join(topCover(3), Seq("doc_id"), "left")
        .join(topCover(4), Seq("doc_id"), "left")
        .join(cover5, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          frac(coalesce(col("_top2"), lit(0L))).as("top2_frac"),
          frac(coalesce(col("_top3"), lit(0L))).as("top3_frac"),
          frac(coalesce(col("_top4"), lit(0L))).as("top4_frac"),
          frac(coalesce(col("_cov5"), lit(0L))).as("dup5_cover_frac"))
    },
      // Gopher repetition signals: same n-gram strings as the pair family,
      // top counts per (doc, gram), the 5-gram coverage via islands merge
      s"""WITH inj AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN text ||
         |    ' lorem ipsum dolor sit amet lorem ipsum dolor sit amet'
         |  ELSE text END AS text FROM documents),
         |${toksCte("inj")},
         |base AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens FROM toks),
         |g2 AS (SELECT doc_id, max(c) * 2 AS top2 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |      i -> array_to_string(list_slice(tk, i, i + 1), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |g3 AS (SELECT doc_id, max(c) * 3 AS top3 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
         |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |g4 AS (SELECT doc_id, max(c) * 4 AS top4 FROM (
         |  SELECT doc_id, sh, count(*) AS c FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 2),
         |      i -> array_to_string(list_slice(tk, i, i + 3), ' '))) AS sh
         |    FROM toks) GROUP BY 1, 2) GROUP BY 1),
         |p5 AS (SELECT doc_id, u.i - 1 AS pos, u.s AS sh FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
         |    i -> struct_pack(i := i,
         |      s := array_to_string(list_slice(tk, i, i + 4), ' ')))) AS u
         |  FROM toks)),
         |d5 AS (SELECT doc_id, pos AS s_, pos + 5 AS e_ FROM p5
         |  QUALIFY count(*) OVER (PARTITION BY doc_id, sh) >= 2),
         |fl AS (SELECT *, CASE WHEN prev_max IS NULL OR prev_max < s_
         |    THEN 1 ELSE 0 END AS ni
         |  FROM (SELECT *, max(e_) OVER (PARTITION BY doc_id ORDER BY s_, e_
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
         |    FROM d5)),
         |isl AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY s_, e_
         |    ROWS UNBOUNDED PRECEDING) AS g FROM fl),
         |cov AS (SELECT doc_id, sum(e - s) AS cov5 FROM (
         |  SELECT doc_id, g, min(s_) AS s, max(e_) AS e FROM isl GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g2.top2, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top2_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g3.top3, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top3_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(g4.top4, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS top4_frac,
         |  CASE WHEN b.n_tokens > 0 THEN least(1.0,
         |    cast(coalesce(cov.cov5, 0) AS double) / cast(b.n_tokens AS double))
         |    ELSE 0.0 END AS dup5_cover_frac
         |FROM base b
         |LEFT JOIN g2 ON b.doc_id = g2.doc_id
         |LEFT JOIN g3 ON b.doc_id = g3.doc_id
         |LEFT JOIN g4 ON b.doc_id = g4.doc_id
         |LEFT JOIN cov ON b.doc_id = cov.doc_id""".stripMargin),

    // §2#40 PII-style redaction: digit runs ≥4 scrubbed (synthetic ids
    // injected deterministically so the pass has something to redact)
    Gate("q_redact", (s, dir) => {
      val injected = concat(
        col("text"), lit(" phone="), (lit(1000000L) + col("doc_id") * 7919L).cast("string"),
        lit(" id="), col("doc_id").cast("string"))
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.longNumberCount(injected).cast("long").as("n_long_numbers"),
        Text.redactLongNumbers(injected).as("redacted"))
    },
      """WITH injected AS (
        |  SELECT doc_id,
        |    text || ' phone=' || cast(1000000 + doc_id * 7919 AS varchar)
        |      || ' id=' || cast(doc_id AS varchar) AS t
        |  FROM documents
        |)
        |SELECT doc_id,
        |  cast(len(regexp_extract_all(t, '[0-9]{4,}')) AS bigint) AS n_long_numbers,
        |  regexp_replace(t, '[0-9]{4,}', '[NUM]', 'g') AS redacted
        |FROM injected""".stripMargin),

    // §2#40b typed PII scan/redaction — the full privacy pass: typed
    // detectors (email → IPv4 → intl phone → residual long digit runs)
    // applied in a FIXED chain, each counted on the text as the previous
    // redactions left it (a phone's digits never double-count as a long
    // number). Seeded deterministically from doc_id so every type fires.
    Gate("q_pii_scan", (s, dir) => {
      val injected = concat(
        col("text"),
        lit(" contact=u"), col("doc_id").cast("string"), lit("@example.com"),
        lit(" ip=10."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(expr("doc_id div 256"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id"), lit(200L)).cast("string"),
        lit(" tel=+"), (lit(490000000L) + col("doc_id") * lit(37L)).cast("string"))
      val t1 = Text.redactPattern(injected, Text.EmailPattern, "[EMAIL]")
      val t2 = Text.redactPattern(t1, Text.Ipv4Pattern, "[IP]")
      val t3 = Text.redactPattern(t2, Text.PhonePattern, "[PHONE]")
      Tables.documents(s, dir).select(
        col("doc_id"),
        Text.patternCount(injected, Text.EmailPattern).as("n_emails"),
        Text.patternCount(t1, Text.Ipv4Pattern).as("n_ipv4"),
        Text.patternCount(t2, Text.PhonePattern).as("n_phones"),
        Text.longNumberCount(t3).cast("long").as("n_long_numbers"),
        Text.redactLongNumbers(t3).as("redacted"))
    },
      // same fixed redaction chain; each stage's count runs on the previous
      // stage's output, exactly like the Spark projection
      """WITH injected AS (
        |  SELECT doc_id,
        |    text || ' contact=u' || cast(doc_id AS varchar) || '@example.com'
        |      || ' ip=10.' || cast(doc_id % 256 AS varchar)
        |      || '.' || cast((doc_id // 256) % 256 AS varchar)
        |      || '.' || cast(doc_id % 200 AS varchar)
        |      || ' tel=+' || cast(490000000 + doc_id * 37 AS varchar) AS t0
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |    cast(len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS bigint) AS n_emails,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM injected
        |), s2 AS (
        |  SELECT doc_id, n_emails,
        |    cast(len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS bigint) AS n_ipv4,
        |    regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g') AS t2
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id, n_emails, n_ipv4,
        |    cast(len(regexp_extract_all(t2, '\+[0-9]{7,12}')) AS bigint) AS n_phones,
        |    regexp_replace(t2, '\+[0-9]{7,12}', '[PHONE]', 'g') AS t3
        |  FROM s2
        |)
        |SELECT doc_id, n_emails, n_ipv4, n_phones,
        |  cast(len(regexp_extract_all(t3, '[0-9]{4,}')) AS bigint) AS n_long_numbers,
        |  regexp_replace(t3, '[0-9]{4,}', '[NUM]', 'g') AS redacted
        |FROM s3""".stripMargin),

    // §2#41 data-quality assertion layer — marts.yml:10-31 schema tests
    // (not_null / unique / accepted_values / relationships) as production
    // operators emitting ONE violations report. Violations are seeded
    // deterministically (nulled segments, duplicated keys, a truncated
    // parent set) so every check type reports a non-zero count the oracle
    // reproduces.
    Gate("q_quality_checks", (s, dir) => {
      val customers = Tables.customer(s, dir)
      val seeded = customers.select(
          col("c_custkey"),
          when(col("c_custkey") % 97 =!= 0, col("c_mktsegment")).as("segment"),
          col("c_nationkey"))
        .unionAll(customers.filter(col("c_custkey") <= 5).select(
          col("c_custkey"), col("c_mktsegment").as("segment"), col("c_nationkey")))
      val parent = Tables.nation(s, dir).filter(col("n_nationkey") < 20)
      Checks.violations(seeded, Seq(
        Checks.NotNull("segment"),
        Checks.NotNull("c_custkey"),
        Checks.Unique(Seq("c_custkey")),
        Checks.AcceptedValues("segment",
          Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY")),
        Checks.Relationships("c_nationkey", parent, "n_nationkey", "nation20")))
    },
      """WITH seeded AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 97 <> 0 THEN c_mktsegment END AS segment,
        |    c_nationkey
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer WHERE c_custkey <= 5
        |)
        |SELECT 'not_null' AS check_type, 'segment' AS target,
        |  cast(count(CASE WHEN segment IS NULL THEN 1 END) AS bigint) AS violations
        |FROM seeded
        |UNION ALL
        |SELECT 'not_null', 'c_custkey',
        |  cast(count(CASE WHEN c_custkey IS NULL THEN 1 END) AS bigint) FROM seeded
        |UNION ALL
        |SELECT 'unique', 'c_custkey',
        |  cast((SELECT count(*) FROM (
        |    SELECT c_custkey FROM seeded WHERE c_custkey IS NOT NULL
        |    GROUP BY 1 HAVING count(*) > 1)) AS bigint)
        |UNION ALL
        |SELECT 'accepted_values', 'segment',
        |  cast(count(CASE WHEN segment IS NOT NULL AND segment NOT IN
        |    ('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'MACHINERY') THEN 1 END) AS bigint)
        |FROM seeded
        |UNION ALL
        |SELECT 'relationships', 'c_nationkey->nation20.n_nationkey',
        |  cast(count(*) AS bigint) FROM seeded
        |WHERE c_nationkey IS NOT NULL
        |  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_nationkey < 20)""".stripMargin),

    // §2#42 sequence packing: documents → fixed token-budget chunks
    // (concat-then-chunk pretraining layout), computed per shard so the
    // running sum is one window per hash bucket — no global ordering.
    // Reported at chunk grain: docs per chunk and chunk token totals.
    Gate("q_token_packing", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").as("n_tokens"))
      Packing.packChunks(docs, "doc_id", "n_tokens",
          budgetTokens = 512L, shardCol = pmod(col("doc_id"), lit(8L)))
        .groupBy(col("shard"), col("chunk_seq"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("chunk_offset")).as("chunk_start_offset"))
    },
      s"""WITH toks AS (SELECT doc_id, cast(len($TokSql) AS bigint) AS n_tokens FROM documents),
         |sh AS (SELECT doc_id, n_tokens, doc_id % 8 AS shard FROM toks),
         |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) AS cum FROM sh),
         |b AS (SELECT shard, doc_id, n_tokens,
         |    cast(cum - n_tokens AS bigint) AS chunk_offset,
         |    cast((cum - n_tokens) // 512 AS bigint) AS chunk_seq FROM c)
         |SELECT shard, chunk_seq, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n_tokens) AS bigint) AS total_tokens,
         |  min(chunk_offset) AS chunk_start_offset
         |FROM b GROUP BY 1, 2""".stripMargin),

    // §2#42e doc-ATOMIC bin packing, next-fit-decreasing — the padding-
    // free layout next to q_token_packing's concat-then-chunk: when
    // training examples must not cross document boundaries, docs pack
    // WHOLE into fixed-budget bins (longest-first greedy, new bin when
    // the running fill cannot take the next doc; an over-budget doc sits
    // alone in its own bin). One shuffle on a corpus-derived shard key,
    // the sequential NFD fold runs inside `aggregate` over each bounded
    // shard's sorted items (a bin break depends on the running fill — not
    // window-expressible), portable md5 shard draw; the oracle replays
    // the fold as a per-shard lockstep recursive CTE
    Gate("q_pack_nosplit", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      val shards = Layout.shardsFor(docs.count(), targetPerShard = 512L)
      Packing.packBinsNoSplit(docs, "doc_id", "len", budget = 4096L,
        shardCol = pmod(graft.sources.ZipfCorpus.u20(
            concat(lit("pk:"), col("doc_id").cast("string"))),
          lit(shards.toLong)))
    },
      // no-split NFD packing: the sequential per-shard fold replayed as a
      // lockstep recursive CTE — one recursion step advances EVERY shard by
      // one rank, so depth = max shard size (bounded by the derived shard
      // count), and the (fill, bin, pos) chain is the exact greedy
      {
        val shardU20 = graft.sources.ZipfCorpus.u20Sql(
          "'pk:' || CAST(doc_id AS varchar)")
        s"""WITH RECURSIVE ns AS (SELECT greatest(8, (count(*) + 511) // 512) AS sh
           |  FROM documents),
           |d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
           |    $shardU20 % ns.sh AS shard FROM documents, ns),
           |r AS (SELECT doc_id, len, shard,
           |    row_number() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS rn
           |  FROM d),
           |walk AS (
           |  SELECT shard, rn, doc_id, len,
           |      CAST(0 AS BIGINT) AS bin, len AS fill, CAST(1 AS BIGINT) AS pos
           |    FROM r WHERE rn = 1
           |  UNION ALL
           |  SELECT n.shard, n.rn, n.doc_id, n.len,
           |      CASE WHEN w.fill + n.len > 4096 THEN w.bin + 1 ELSE w.bin END,
           |      CASE WHEN w.fill + n.len > 4096 THEN n.len ELSE w.fill + n.len END,
           |      CASE WHEN w.fill + n.len > 4096 THEN CAST(1 AS BIGINT)
           |        ELSE w.pos + 1 END
           |    FROM walk w JOIN r n ON n.shard = w.shard AND n.rn = w.rn + 1)
           |SELECT shard, doc_id, len, bin, pos, fill AS fill_after FROM walk""".stripMargin
      }),

    // §2#36b inverted index with capped postings: exact df per token, the
    // 50 smallest doc ids kept through bounded heaps (hot tokens never
    // sort their corpus-sized postings), truncation flagged
    Gate("q_inverted_index", (s, dir) =>
      Index.invertedIndex(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", maxPostings = 50),
      s"""WITH p AS (SELECT DISTINCT doc_id, token FROM
         |    (SELECT doc_id, unnest($TokSql) AS token FROM documents)),
         |agg AS (SELECT token, count(*) AS df_cnt,
         |    list_sort(list(doc_id)) AS post FROM p GROUP BY 1)
         |SELECT token, cast(df_cnt AS bigint) AS df_cnt,
         |  array_to_string(list_slice(post, 1, 50), ',') AS postings_csv,
         |  cast(CASE WHEN df_cnt > 50 THEN 1 ELSE 0 END AS bigint) AS truncated
         |FROM agg""".stripMargin),

    // §2#36c BM25 ranked retrieval — the relevance stage over the inverted-
    // index representation: rational log-free idf (TfIdf's device), k1=6/5
    // b=3/4 folded into exact integer products, per-term scores quantized to
    // 2^-20 before the sum (order-free), top-10 per query through bounded
    // heaps. The query side broadcasts; only query-term postings ever flow.
    Gate("q_bm25", (s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      Ranking.bm25TopK(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", queries, "query_id", "qtext", k = 10)
    },
      // BM25: rational log-free idf (2N-2df+1)/(2df+1), k1=6/5 b=3/4 folded
      // into exact integer products, each term one IEEE multiply per side +
      // one divide, quantized to 2^-20 (floor) before the order-free integer
      // sum — the SAME expression tree Spark evaluates, so scores hash-match
      s"""WITH $RetrievalCtes
         |SELECT query_id, doc_id, CAST(score_q20 AS BIGINT) AS score_q20,
         |  CAST(n_terms_hit AS BIGINT) AS n_terms_hit
         |FROM bmr WHERE rn <= 10""".stripMargin),

    // §2#36d reciprocal-rank fusion — the hybrid-retrieval combiner: BM25
    // and the exact-integer TF-IDF scorer disagree by design (saturation +
    // length norm vs raw tf·idf), and RRF fuses their top-10s with integer
    // 2^30 div (60+rank) contributions. Fusion touches candidates only
    // (queries × k rows per side); hybridTopK tokenizes and folds the
    // corpus exactly ONCE for both scorers (localCheckpoint'ed tf — the
    // naive composition re-derives the fold 7×, spec-pinned).
    Gate("q_rrf_fusion", (s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Ranking.hybridTopK(docs, "doc_id", "text",
        queries, "query_id", "qtext", k = 10)
    },
      // RRF hybrid fusion: both scorers' top-10 tables re-ranked, each rank's
      // contribution the exact integer 2^30 div (60 + rank), summed over a
      // full-outer candidate join — bit-identical fused order
      s"""WITH $RetrievalCtes,
         |nn2 AS (SELECT count(*) AS n2 FROM documents),
         |tft AS (SELECT qt.query_id, tf.doc_id,
         |    (tf * (n2 + 1) * 1048576) // (df + 1) AS term_q20
         |  FROM tf JOIN qt USING (token) JOIN dfc USING (token) CROSS JOIN nn2),
         |tfpd AS (SELECT query_id, doc_id, sum(term_q20) AS score_q20
         |  FROM tft GROUP BY 1, 2),
         |tfr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_q20 DESC, doc_id) AS rn FROM tfpd),
         |ra AS (SELECT query_id, doc_id, 1073741824 // (60 + rn) AS ca
         |  FROM bmr WHERE rn <= 10),
         |rb AS (SELECT query_id, doc_id, 1073741824 // (60 + rn) AS cb
         |  FROM tfr WHERE rn <= 10),
         |fused AS (SELECT coalesce(ra.query_id, rb.query_id) AS query_id,
         |    coalesce(ra.doc_id, rb.doc_id) AS doc_id,
         |    coalesce(ca, 0) + coalesce(cb, 0) AS rrf_q30,
         |    (CASE WHEN ca IS NOT NULL THEN 1 ELSE 0 END +
         |     CASE WHEN cb IS NOT NULL THEN 1 ELSE 0 END) AS n_rankers
         |  FROM ra FULL OUTER JOIN rb
         |    ON ra.query_id = rb.query_id AND ra.doc_id = rb.doc_id),
         |fr AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_q30 DESC, doc_id) AS rn2 FROM fused)
         |SELECT query_id, doc_id, CAST(rrf_q30 AS BIGINT) AS rrf_q30,
         |  CAST(n_rankers AS BIGINT) AS n_rankers
         |FROM fr WHERE rn2 <= 10""".stripMargin),

    // §2#36e retrieval evaluation — MRR / AP / recall@k of the BM25 ranking
    // against rule-derived judgments (docs containing EVERY query token —
    // conjunctive containment, computable in both engines), all metrics in
    // floor-quantized exact integers. Closes the retrieval loop: rank →
    // fuse → EVALUATE. nDCG is deliberately absent (log2 discount is not
    // bit-portable); RR/AP/recall carry the ordering-quality signal.
    Gate("q_retrieval_eval", (s, dir) => {
      val queries = s.createDataFrame(Seq(
        (1L, "spark window agg"),
        (2L, "customer join order"),
        (3L, "hash merge sort table"),
        (4L, "slow scan"),
        (5L, "vector stream batch data"))).toDF("query_id", "qtext")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // ONE materialized posting fold feeds both the ranking under
      // evaluation and the judgments: tf's grain IS the distinct
      // (doc, token) pair set, so conjunctive containment derives from it
      // without re-tokenizing the corpus (same reuse story as hybridTopK)
      val folds = Ranking.postingFolds(docs, "doc_id", "text",
        materialize = true)
      val ranking = Ranking.bm25TopKOn(folds, "doc_id",
        queries, "query_id", "qtext", k = 10)
      val qtok = queries.select(col("query_id"),
        explode(array_distinct(Text.tokens(col("qtext")))).as("token"))
      val qsize = qtok.groupBy(col("query_id")).agg(count(lit(1)).as("_qn"))
      val qrels = folds.tf
        .join(broadcast(qtok), "token")
        .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("_m"))
        .join(broadcast(qsize), "query_id")
        .where(col("_m") === col("_qn"))
        .select(col("query_id"), col("doc_id"))
      Ranking.evalRanking(ranking, qrels, "query_id", "doc_id")
    },
      // retrieval eval: conjunctive-containment qrels, floor-quantized
      // RR/AP, recall as an exact (hits, n_rel) pair — rank == the BM25
      // chain's rn for the kept top-10 rows, so both engines agree on it
      s"""WITH $RetrievalCtes,
         |qsz AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY 1),
         |dtok AS (SELECT DISTINCT doc_id, token FROM posting),
         |qrels AS (SELECT q2.query_id, d.doc_id
         |  FROM dtok d JOIN qt q2 ON d.token = q2.token
         |  JOIN qsz ON q2.query_id = qsz.query_id
         |  GROUP BY 1, 2, qsz.qn HAVING count(*) = qsz.qn),
         |rk AS (SELECT query_id, doc_id, CAST(rn AS BIGINT) AS rank
         |  FROM bmr WHERE rn <= 10),
         |h AS (SELECT r.query_id, r.rank,
         |    count(*) OVER (PARTITION BY r.query_id ORDER BY r.rank) AS hsf
         |  FROM rk r JOIN qrels USING (query_id, doc_id)),
         |pq AS (SELECT query_id, min(rank) AS frr, count(*) AS nh,
         |    sum((hsf * 1048576) // rank) AS apn FROM h GROUP BY 1),
         |nr AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1)
         |SELECT nr.query_id, CAST(n_rel AS BIGINT) AS n_rel,
         |  CAST(coalesce(nh, 0) AS BIGINT) AS n_hits_at_k,
         |  CAST(coalesce(frr, -1) AS BIGINT) AS first_rel_rank,
         |  CAST(CASE WHEN frr IS NOT NULL THEN 1073741824 // frr
         |    ELSE 0 END AS BIGINT) AS rr_q30,
         |  CAST(coalesce(apn, 0) // n_rel AS BIGINT) AS ap_q20
         |FROM nr LEFT JOIN pq USING (query_id)""".stripMargin),

    // §2#49b exact quantile curriculum phases WITHOUT a global sort:
    // thresholds from a bounded cell-table CDF (integer rank arithmetic),
    // assignment = scan-side count vs a broadcast threshold array
    Gate("q_quantile_phase", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id"),
        graft.plans.TextExpressions.tokenStats(col("text"), Nil)
          .getField("n_tokens").cast("long").as("n_tokens"))
      val thr = Stats.quantileThresholds(docs, "n_tokens",
        Seq((1, 4), (1, 2), (3, 4)))
      Stats.assignQuantileBucket(docs, "n_tokens", thr, "phase")
        .select(col("doc_id"), col("n_tokens"), col("phase"))
    },
      // type-1 quantile: rank = ceil(p*n) in integer arithmetic, threshold =
      // rank-th smallest counting duplicates; phase = thresholds strictly
      // below the value (one row per prob, so equal thresholds still count)
      s"""WITH t AS (SELECT doc_id, cast(len($TokSql) AS bigint) AS n_tokens
         |  FROM documents),
         |n AS (SELECT count(*) AS n FROM t),
         |ranks AS (SELECT q_num, q_den, (n * q_num + q_den - 1) // q_den AS rk
         |  FROM (VALUES (1, 4), (1, 2), (3, 4)) AS q(q_num, q_den), n),
         |cells AS (SELECT n_tokens AS v, count(*) AS cnt FROM t GROUP BY 1),
         |cdf AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM cells),
         |thr AS (SELECT q_num, q_den, min(v) AS threshold
         |  FROM cdf JOIN ranks ON cum >= rk GROUP BY 1, 2)
         |SELECT doc_id, n_tokens,
         |  cast((SELECT count(*) FROM thr WHERE t.n_tokens > thr.threshold)
         |    AS bigint) AS phase
         |FROM t""".stripMargin),

    // §2#26b TF-IDF top terms per doc (rational idf — bit-portable scores;
    // top-k through the custom TopKPerKey bounded-heap operator)
    Gate("q_tfidf_terms", (s, dir) =>
      TfIdf.topTerms(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 5),
      // same rational-idf arithmetic in the same operation order; ties in
      // score break on the token, so the top-5 set is deterministic
      s"""WITH tok AS (SELECT doc_id, unnest($TokSql) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfc AS (SELECT token, count(*) AS df_cnt FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS nd FROM documents),
         |sc AS (SELECT doc_id, tf.token AS token, tf, df_cnt,
         |    CAST(tf AS double) * (CAST(nd + 1 AS double) /
         |      CAST(df_cnt + 1 AS double)) AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY CAST(tf AS double) * (CAST(nd + 1 AS double) /
         |        CAST(df_cnt + 1 AS double)) DESC, tf.token) AS rn
         |  FROM tf JOIN dfc USING (token), n)
         |SELECT doc_id, token, cast(tf AS bigint) AS tf,
         |  cast(df_cnt AS bigint) AS df_cnt, score
         |FROM sc WHERE rn <= 5""".stripMargin),

    // §2#48b fastText-style linear quality-classifier inference: hashed
    // bag-of-n-grams (unigrams + bigrams) → int8-quantized weight vector
    // compiled into the plan → exact integer dot product, thresholded
    // logit (sigmoid-monotone, so no transcendental enters the gate).
    // Zero shuffle — a pure map over the corpus scan (plan spec-pinned).
    // Weights are a seeded stand-in artifact: training is offline, the
    // INFERENCE contract is what's gated.
    Gate("q_quality_classifier", (s, dir) =>
      QualityClassifier.scored(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text",
        QualityClassifier.seededWeights(256, seed = 29L),
        scale = 0.05, bias = 0.0, seed = 29L),
      // fastText-style classifier inference: full FnvMix replay per feature
      // (unigrams + bigrams), bucket = unsigned z mod 256 (power of two ==
      // Spark's pmod of the signed value), weight lookup from the SAME
      // seeded int8 vector compiled into the Spark plan, one exact integer
      // sum per doc, logit as one divide+multiply — engine-identical IEEE
      {
        s"""WITH ${toksCte("documents")},
           |${classifierSumCtes("doc_id", "toks")},
           |lg AS (SELECT doc_id, n_features, sum_w,
           |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
           |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
           |      AS logit
           |  FROM sc)
           |SELECT doc_id, n_features, sum_w, logit, logit > 0 AS pass FROM lg""".stripMargin
      }),

    // §2#48d classifier EVALUATION over the corpus — bucketed ROC-AUC
    // (Mann–Whitney with average-rank ties at bucket grain, the MLlib
    // numBins device) + threshold confusion metrics, measuring the learned
    // classifier against the rule filter's labels (the distillation check
    // a production quality model ships with). One corpus scan computes
    // score AND label; the rank statistic aggregates a bounded bucket
    // table. Every rank is a multiple of 0.5 < 2^52 ⇒ exact doubles, one
    // rounding step (the final division) — hash-exact cross-engine.
    Gate("q_classifier_eval", (s, dir) => {
      val w = QualityClassifier.seededWeights(256, seed = 29L)
      val st = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val sig = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .select(col("doc_id"),
          st.as("_st"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"),
          size(QualityClassifier.features(col("text"))).cast("long").as("n_features"),
          QualityClassifier.weightSum(col("text"), w, seed = 29L).as("sum_w"))
        .select(col("doc_id"), col("n_features"), col("sum_w"),
          (!(col("_st.n_tokens") < 32 ||
            (col("_st.n_tokens") - col("n_distinct")).cast("double")
              > lit(0.6) * col("_st.n_tokens").cast("double") ||
            col("_st.stopword_cnt").cast("double")
              < lit(0.03) * col("_st.n_tokens").cast("double"))).as("label"))
      Eval.binaryMetrics(sig,
        bucket = floor(col("sum_w").cast("double") * lit(16.0)
          / greatest(col("n_features"), lit(1L)).cast("double")).cast("long"),
        label = col("label"),
        predicted = col("sum_w") > 0)
    },
      // eval replay: the SAME classifier chain + the SAME rule labels, then
      // bucketed average-rank AUC — every rank a multiple of 0.5 (exact
      // doubles), one rounding step per ratio
      {
        s"""WITH ${toksCte("documents")},
           |${classifierSumCtes("doc_id", "toks")},
           |lab AS (SELECT doc_id, NOT (len(tk) < 32
           |    OR cast(len(tk) - len(list_distinct(tk)) AS double)
           |      > 0.6 * cast(len(tk) AS double)
           |    OR cast(len(list_filter(tk, t -> list_contains(
           |        ['the','a','an','of','and','to','in','is','it','that'], t)))
           |        AS double)
           |      < 0.03 * cast(len(tk) AS double)) AS label
           |  FROM toks),
           |ev AS (SELECT sc.doc_id,
           |    cast(floor(cast(sum_w AS double) * 16.0
           |      / cast(greatest(n_features, 1) AS double)) AS bigint) AS bucket,
           |    lab.label AS label, sum_w > 0 AS pred
           |  FROM sc JOIN lab USING (doc_id)),
           |g AS (SELECT bucket, count(*) AS cnt,
           |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS pos,
           |    sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS tp,
           |    sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS fp,
           |    sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS fn
           |  FROM ev GROUP BY 1),
           |r AS (SELECT *, sum(cnt) OVER (ORDER BY bucket
           |    ROWS UNBOUNDED PRECEDING) - cnt AS cum_less FROM g),
           |a AS (SELECT cast(sum(pos) AS bigint) AS n_pos,
           |    cast(sum(cnt - pos) AS bigint) AS n_neg,
           |    sum(cast(pos AS double) * (cast(cum_less AS double)
           |      + (cast(cnt AS double) + 1.0) / 2.0)) AS rank_sum,
           |    cast(sum(tp) AS bigint) AS tp, cast(sum(fp) AS bigint) AS fp,
           |    cast(sum(fn) AS bigint) AS fn, cast(sum(cnt) AS bigint) AS n
           |  FROM r)
           |SELECT n_pos, n_neg,
           |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |    (rank_sum - cast(n_pos AS double) * (cast(n_pos AS double) + 1.0)
           |      / 2.0)
           |    / (cast(n_pos AS double) * cast(n_neg AS double)) END AS auc,
           |  tp, fp, fn, n - tp - fp - fn AS tn,
           |  CASE WHEN tp + fp > 0
           |    THEN cast(tp AS double) / cast(tp + fp AS double) END AS "precision",
           |  CASE WHEN tp + fn > 0
           |    THEN cast(tp AS double) / cast(tp + fn AS double) END AS recall,
           |  CASE WHEN 2 * tp + fp + fn > 0
           |    THEN cast(2 * tp AS double) / cast(2 * tp + fp + fn AS double)
           |    END AS f1
           |FROM a""".stripMargin
      }),

    // §2#48b segment-grain quality classification — the learned filter at
    // the grain where production boilerplate removal operates: every
    // aligned 8-word segment (WordSegments kernel) is scored by the SAME
    // classifier artifact as q_quality_classifier, and the doc decision
    // aggregates segments with EXACT integer pooling (total feature-weight
    // sum over total features — long sums, one IEEE divide, association-
    // order-free) plus the worst-segment logit (min over identically-
    // computed doubles, order-free) and the failing-segment count. Scan +
    // one doc-grain agg; the weight vector rides the plan as before.
    Gate("q_segment_classify", (s, dir) => {
      val segs = Tables.documents(s, dir).select(
        col("doc_id"),
        posexplode(graft.plans.TextExpressions.wordSegments(col("text"), 8))
          .as(Seq("seg_idx", "seg")))
      val pooled = lit(0.0) + lit(0.05) *
        (col("_sw").cast("double") /
          greatest(col("_nf"), lit(1L)).cast("double"))
      QualityClassifier.scored(segs, "doc_id", "seg",
          QualityClassifier.seededWeights(256, seed = 29L),
          scale = 0.05, bias = 0.0, seed = 29L)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("pass"), 0L).otherwise(1L)).as("n_fail"),
          min(col("logit")).as("worst_logit"),
          sum(col("sum_w")).as("_sw"),
          sum(col("n_features")).as("_nf"))
        .select(col("doc_id"), col("n_segs"), col("n_fail"),
          col("worst_logit"), pooled.as("pooled_logit"),
          (pooled > lit(0.0)).as("doc_pass"))
    },
      // segment-grain classifier: the q_segment_dedup segmenter CTEs feed
      // the q_quality_classifier chain keyed on (doc_id, seg_idx); doc
      // pooling is exact integer sums with one IEEE divide, mirrored
      // operation-for-operation
      {
        val pooledSql = "CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) * " +
          "(cast(sum(sum_w) AS double) / cast(greatest(sum(n_features), 1) AS double))"
        s"""WITH ${toksCte("documents")},
           |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
           |st AS (SELECT doc_id, tk, n,
           |    list_filter(range(0, greatest(n, 1), 8), i -> i < n) AS ss FROM c),
           |segs AS (SELECT doc_id, u.j - 1 AS seg_idx,
           |    array_to_string(list_slice(tk, u.s + 1, u.s + 8), ' ') AS seg
           |  FROM (SELECT doc_id, tk,
           |      unnest(list_transform(range(1, len(ss) + 1),
           |        j -> struct_pack(j := j, s := ss[j]))) AS u
           |    FROM st)),
           |${toksCte("(SELECT doc_id, seg_idx, seg AS text FROM segs)", "stoks",
                "doc_id, seg_idx")},
           |${classifierSumCtes("doc_id, seg_idx", "stoks")},
           |lg AS (SELECT doc_id, seg_idx, n_features, sum_w,
           |    CAST(0.0 AS DOUBLE) + CAST(0.05 AS DOUBLE) *
           |      (cast(sum_w AS double) / cast(greatest(n_features, 1) AS double))
           |      AS logit
           |  FROM sc)
           |SELECT doc_id,
           |  cast(count(*) AS bigint) AS n_segs,
           |  cast(sum(CASE WHEN logit > 0 THEN 0 ELSE 1 END) AS bigint) AS n_fail,
           |  min(logit) AS worst_logit,
           |  $pooledSql AS pooled_logit,
           |  ($pooledSql) > 0 AS doc_pass
           |FROM lg GROUP BY 1""".stripMargin
      }),

    // §2#42b overlapping sliding-window chunking (RAG/embedding layout —
    // the other chunking discipline next to q_token_packing's concat-then-
    // chunk): zero-shuffle scan-side generator; bounded to a 5 % doc slice
    // so the gate output stays row-comparable at every SF.
    Gate("q_chunk_overlap", (s, dir) =>
      Packing.chunkSliding(
        Tables.documents(s, dir)
          .where(pmod(col("doc_id"), lit(20L)) === 0L)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", window = 6, stride = 3),
      s"""WITH ${toksCte("documents WHERE doc_id % 20 = 0")},
         |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
         |st AS (SELECT doc_id, tk, n,
         |    list_filter(range(0, greatest(n, 1), 3),
         |      i -> (i = 0 AND n > 0) OR (i > 0 AND i + 3 < n)) AS ss
         |  FROM c),
         |ex AS (SELECT doc_id, tk, n,
         |    unnest(list_transform(range(1, len(ss) + 1),
         |      j -> struct_pack(j := j, s := ss[j]))) AS u
         |  FROM st)
         |SELECT doc_id, cast(u.j - 1 AS bigint) AS chunk_idx,
         |  cast(u.s AS bigint) AS start_tok,
         |  cast(least(6, n - u.s) AS bigint) AS n_tokens,
         |  array_to_string(list_slice(tk, u.s + 1, u.s + 6), ' ') AS chunk_text
         |FROM ex""".stripMargin),

    // §2#49 dataset-card corpus statistics: the per-(source, lang) rollup a
    // curated corpus publishes — doc/token/char totals, distinct-token-mass
    // ratio bounds. One map-side-combined pass over scan-side signals.
    Gate("q_corpus_stats", (s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          length(col("text")).cast("long").as("n_chars"),
          stats.getField("n_tokens").as("n_tokens"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .groupBy(col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_distinct")).as("total_distinct"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    },
      s"""WITH t AS (SELECT source, lang,
         |    cast(length(text) AS bigint) AS n_chars,
         |    cast(len($TokSql) AS bigint) AS n_tokens,
         |    cast(len(list_distinct($TokSql)) AS bigint) AS n_distinct
         |  FROM documents)
         |SELECT source, lang, cast(count(*) AS bigint) AS n_docs,
         |  cast(sum(n_tokens) AS bigint) AS total_tokens,
         |  cast(sum(n_chars) AS bigint) AS total_chars,
         |  cast(sum(n_distinct) AS bigint) AS total_distinct,
         |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
         |FROM t GROUP BY 1, 2""".stripMargin),

    // §2#48 composite quality-filter decision (Gopher-rules style): text
    // signals → auditable keep/drop with violated-rule names. Pure
    // scan-side projection; the per-doc verdicts AND the per-reason report
    // are both oracle-checked (report via the deterministic reasons array).
    Gate("q_quality_filter", (s, dir) => {
      val stats = graft.plans.TextExpressions.tokenStats(col("text"), Text.EnStopwords)
      val signals = Tables.documents(s, dir)
        .select(col("doc_id"), stats.as("_st"),
          size(array_distinct(Text.tokens(col("text")))).cast("long").as("n_distinct"))
        .select(col("doc_id"),
          col("_st.n_tokens").as("n_tokens"),
          col("_st.stopword_cnt").as("stopword_cnt"),
          col("n_distinct"))
      // ratio thresholds multiplied out (x/n > t ⇔ x > t·n): no division,
      // so the empty-document edge can't hit NaN-comparison divergence
      // between engines (DuckDB orders NaN greatest, Spark compares false)
      QualityFilter.decide(signals, Seq(
          "too_short" -> (col("n_tokens") < 32),
          "too_repetitive" ->
            ((col("n_tokens") - col("n_distinct")).cast("double")
              > lit(0.6) * col("n_tokens").cast("double")),
          "low_stopword" ->
            (col("stopword_cnt").cast("double")
              < lit(0.03) * col("n_tokens").cast("double"))))
        // array serialized for the hash gate (same convention as q_span_enrich)
        .select(col("doc_id"), col("keep"),
          array_join(col("reasons"), ",").as("reasons"))
    },
      // same signals as q_text_stats, thresholds multiplied out so no
      // division can produce NaN; reasons array order = rule order
      s"""WITH ${toksCte("documents", "t")},
         |x AS (SELECT doc_id,
         |    cast(len(tk) AS bigint) AS n,
         |    cast(len(list_distinct(tk)) AS bigint) AS nd,
         |    cast(len(list_filter(tk, t -> list_contains(['the','a','an','of','and','to','in','is','it','that'], t))) AS bigint) AS st
         |  FROM t),
         |d AS (SELECT doc_id,
         |    list_filter([
         |      CASE WHEN n < 32 THEN 'too_short' END,
         |      CASE WHEN cast(n - nd AS double) > 0.6 * cast(n AS double)
         |        THEN 'too_repetitive' END,
         |      CASE WHEN cast(st AS double) < 0.03 * cast(n AS double)
         |        THEN 'low_stopword' END], r -> r IS NOT NULL) AS reasons
         |  FROM x)
         |-- coalesce: DuckDB array_to_string([]) is NULL, Spark array_join is ''
         |SELECT doc_id, len(reasons) = 0 AS keep,
         |  coalesce(array_to_string(reasons, ','), '') AS reasons FROM d""".stripMargin),

    // §2#45 n-gram LM quality scoring (the CCNet/KenLM-style fluency
    // filter): bigram model trained on the corpus itself, each doc scored
    // by add-one-smoothed mean/min bigram probability. Probabilities are
    // binary-quantized to 2^-40 multiples so per-doc sums are
    // association-order-free → the whole score hash-matches DuckDB.
    Gate("q_ngram_lm", (s, dir) =>
      NgramLM.selfScoreBigram(Tables.documents(s, dir), "doc_id", "text"),
      // counts are integers, each probability is one exact double division
      // binary-quantized to a 2^-40 multiple (floor/×2^40/÷2^40 exact IEEE
      // ops) → per-doc sums are association-order-free and the score is
      // engine-exact; context totals derive from the bigram model, V from the
      // distinct unigram stream — mirroring NgramLM exactly
      s"""WITH ${toksCte("documents")},
         |big AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram FROM toks),
         |c12 AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM c12 GROUP BY 1),
         |v AS (SELECT cast(count(DISTINCT t) AS bigint) AS v
         |  FROM (SELECT unnest(tk) AS t FROM toks)),
         |sc AS (SELECT doc_id,
         |    floor(cast(c12.c12 + 1 AS double) / cast(c1.c1 + v.v AS double)
         |      * 1099511627776) / 1099511627776 AS p
         |  FROM big JOIN c12 USING (bigram)
         |  JOIN c1 ON split_part(big.bigram, ' ', 1) = c1.w1
         |  CROSS JOIN v)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
         |  sum(p) / count(*) AS avg_prob, min(p) AS min_prob
         |FROM sc GROUP BY 1""".stripMargin),

    // §2#45c CCNet-style perplexity bucketing (Wenzek et al. 2020):
    // LM-score every doc, cut the corpus into head/middle/tail thirds at
    // exact rational quantiles of the score, assign each doc its bucket
    // scan-side — the chain COMPOSES two gated operators (selfScoreBigram
    // + quantileThresholds/assignQuantileBucket); bucket 0 = lowest
    // avg_prob = highest perplexity = the tail CCNet drops first
    Gate("q_ppl_bucket", (s, dir) => {
      val scored = NgramLM
        .selfScoreBigram(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("avg_prob"))
      val thr = Stats.quantileThresholds(scored, "avg_prob", Seq((1, 3), (2, 3)))
      Stats.assignQuantileBucket(scored, "avg_prob", thr, "ppl_bucket")
        .select(col("doc_id"), col("avg_prob"), col("ppl_bucket"))
    },
      // the LM-score replay feeding the exact rational-quantile cut: both
      // stages reuse their own gates' oracle shapes; avg_prob doubles are
      // identical (quantized-p sums), so the threshold comparison is exact
      s"""WITH ${toksCte("documents")},
         |big AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram FROM toks),
         |c12 AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, sum(c12) AS c1
         |  FROM c12 GROUP BY 1),
         |v AS (SELECT cast(count(DISTINCT t) AS bigint) AS v
         |  FROM (SELECT unnest(tk) AS t FROM toks)),
         |sc AS (SELECT doc_id,
         |    floor(cast(c12.c12 + 1 AS double) / cast(c1.c1 + v.v AS double)
         |      * 1099511627776) / 1099511627776 AS p
         |  FROM big JOIN c12 USING (bigram)
         |  JOIN c1 ON split_part(big.bigram, ' ', 1) = c1.w1
         |  CROSS JOIN v),
         |scored AS (SELECT doc_id, sum(p) / count(*) AS avg_prob
         |  FROM sc GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM scored),
         |ranks AS (SELECT q_num, q_den, (n * q_num + q_den - 1) // q_den AS rk
         |  FROM (VALUES (1, 3), (2, 3)) AS q(q_num, q_den), n),
         |cells AS (SELECT avg_prob AS v, count(*) AS cnt FROM scored GROUP BY 1),
         |cdf AS (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM cells),
         |thr AS (SELECT q_num, q_den, min(v) AS threshold
         |  FROM cdf JOIN ranks ON cum >= rk GROUP BY 1, 2)
         |SELECT doc_id, avg_prob,
         |  cast((SELECT count(*) FROM thr WHERE scored.avg_prob > thr.threshold)
         |    AS bigint) AS ppl_bucket
         |FROM scored""".stripMargin),

    // §2#46d DSIR importance selection: hashed-unigram target (lang=en)
    // vs raw models trained IN-PLAN (one map-side-combined bucket count,
    // exchange ≤ B rows/partition), B-entry ratio table compiled into the
    // scoring scan as a literal (zero-join scoring), global top-50 via
    // TakeOrdered. Ratios quantized to the 2^-20 grid → order-free sums,
    // hash-exact incl. the trained model (the oracle re-derives it in SQL).
    Gate("q_dsir_select", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = Dsir.importanceWeights(docs, "text", col("lang") === "en",
        buckets = 4096, seed = 41L)
      Dsir.select(docs, "doc_id", "text", w, seed = 41L, k = 50)
    },
      // DSIR replay: the SAME fnv_mix token-bucket chain as the classifier
      // (seed 41), then the ratio table is re-derived IN SQL from the bucket
      // counts — cast-to-double factors in exactly the operator's association
      // so all three IEEE roundings match, floor-quantized to the 2^-20 grid
      {
        s"""WITH ${toksCte("documents")},
           |tl AS (SELECT doc_id, unnest(tk) AS shingle FROM toks),
           |${fnvMixCtes("", "doc_id", "tl", "41")},
           |bk AS (SELECT doc_id, cast(z % 4096 AS bigint) AS b FROM hv),
           |tgt AS (SELECT doc_id FROM documents WHERE lang = 'en'),
           |cnt AS (SELECT b,
           |    sum(CASE WHEN t.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS ct,
           |    count(*) AS cr
           |  FROM bk LEFT JOIN tgt t USING (doc_id) GROUP BY b),
           |tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM cnt),
           |w AS (SELECT b,
           |    floor(cast(ct + 1 AS double) * cast(nr + 4096 AS double)
           |      / (cast(cr + 1 AS double) * cast(nt + 4096 AS double))
           |      * 1048576) / 1048576 AS wt
           |  FROM cnt, tot),
           |ds AS (SELECT bk.doc_id, sum(w.wt) AS importance
           |  FROM bk JOIN w USING (b) GROUP BY 1),
           |base AS (SELECT doc_id, cast(len(tk) AS bigint) AS n_tokens FROM toks),
           |sc AS (SELECT base.doc_id, base.n_tokens,
           |    coalesce(ds.importance, 0.0) AS importance,
           |    coalesce(ds.importance, 0.0)
           |      / cast(greatest(base.n_tokens, 1) AS double) AS avg_importance
           |  FROM base LEFT JOIN ds USING (doc_id))
           |SELECT doc_id, n_tokens, importance, avg_importance,
           |  cast(row_number() OVER (ORDER BY avg_importance DESC, doc_id) AS bigint) AS rank
           |FROM sc
           |QUALIFY rank <= 50""".stripMargin
      }),

    Gate("q_mixture_sample", (s, dir) =>
      Sampling.toMixture(Tables.documents(s, dir), "doc_id", "source",
          weights = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.15,
            "src3" -> 0.1, "src4" -> 0.05),
          budget = 150L, seed = 7L)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum")),
      // full FnvMix replay on CAST(doc_id AS VARCHAR) (ASCII digits, so
      // unicode(c) == UTF-8 byte); seed 7 enters as +7·golden mod 2^64; the
      // uniform is the top 40 bits. Weights/budget forced to double so both
      // engines run the identical (150.0 · w) / n IEEE op sequence (DuckDB
      // bare decimal literals would compute exact-decimal rates instead).
      {
        s"""WITH w(source, wt) AS (VALUES
           |  ('src0', CAST(0.4 AS double)), ('src1', CAST(0.3 AS double)),
           |  ('src2', CAST(0.15 AS double)), ('src3', CAST(0.1 AS double)),
           |  ('src4', CAST(0.05 AS double))),
           |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |r AS (SELECT w.source,
           |    least(CAST(1 AS double), CAST(150 AS double) * wt / CAST(n AS double)) AS rate
           |  FROM w JOIN cnt USING (source)),
           |h0 AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS shingle FROM documents),
           |${fnvMixCtes("", "doc_id, source", "h0", "7")},
           |u AS (SELECT doc_id, source,
           |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv)
           |SELECT u.source, cast(count(*) AS bigint) AS n_kept,
           |  cast(sum(doc_id) AS bigint) AS id_sum
           |FROM u JOIN r ON u.source = r.source WHERE u.u < r.rate
           |GROUP BY 1""".stripMargin
      }),

    // §2#46c temperature-balanced downsampling (α = 1/2 via IEEE-exact
    // sqrt): language shares flatten from ∝ n to ∝ √n — the multilingual
    // balancing move — with the smallest language kept whole. Scan-side
    // FnvMix keep decision; the corpus never shuffles. n_orig rides along
    // so the flattening is visible in the gate output.
    Gate("q_temperature_sample", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val orig = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      Sampling.temperatureBalance(docs, "doc_id", "lang", seed = 13L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .join(orig, "lang")
        .select(col("lang"), col("n_orig"), col("n_kept"), col("id_sum"))
    },
      // temperature balancing: rate = sqrt(n_min)/sqrt(n) — sqrt is the one
      // power IEEE requires correctly rounded, so the rate doubles (and the
      // keep decision) are bit-identical cross-engine; same FnvMix uniform
      // replay as q_mixture_sample, seed 13
      {
        s"""WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
           |mn AS (SELECT min(n) AS n_min FROM cnt),
           |r AS (SELECT lang, n,
           |    sqrt(CAST(n_min AS DOUBLE)) / sqrt(CAST(n AS DOUBLE)) AS rate
           |  FROM cnt CROSS JOIN mn),
           |h0 AS (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) AS shingle
           |  FROM documents),
           |${fnvMixCtes("", "doc_id, lang", "h0", "13")},
           |u AS (SELECT doc_id, lang,
           |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv)
           |SELECT u.lang, CAST(r.n AS BIGINT) AS n_orig,
           |  cast(count(*) AS bigint) AS n_kept,
           |  cast(sum(doc_id) AS bigint) AS id_sum
           |FROM u JOIN r ON u.lang = r.lang WHERE u.u < r.rate
           |GROUP BY 1, 2""".stripMargin
      }),

    // §2#49e incremental aggregate-state maintenance: facts fold ONCE into
    // per-(type, day) monoid state (count / decimal sum / min / max / HLL
    // registers); month metrics derive entirely from merged state — the
    // materialized-rollup pattern that never re-scans facts. The oracle
    // exploits register-merge associativity: max-merged daily registers ==
    // registers built at month grain directly (operators/AggState.scala)
    Gate("q_agg_merge", (s, dir) => {
      val ev = Tables.events(s, dir)
      val scalars = AggState.dailyScalarState(
        ev, Seq("event_type"), col("ts"), col("value"))
      val regs = AggState.dailyRegisterState(
        ev, Seq("event_type"), col("ts"), col("user_id"))
      AggState.mergeToGrain(scalars, regs, Seq("event_type"),
          d => to_date(date_trunc("month", d)))
        .select(col("event_type"), col("grain").as("month"),
          col("n_events"), col("total_value"),
          col("min_value"), col("max_value"),
          col("approx_distinct").as("approx_users"))
    },
      // mergeable-state rollup: the scalar monoids re-derive exactly at month
      // grain; the register component exploits max-merge associativity —
      // daily registers merged to month == registers built on the month
      // directly, so the oracle builds them directly (seed 29) and applies
      // the same exact-integer raw-HLL estimator as q_card_sketch
      {
        s"""WITH exact AS (SELECT event_type,
           |    date_trunc('month', cast(ts AS date)) AS month,
           |    count(*) AS n_events,
           |    cast(sum(cast(value AS decimal(18,2))) AS double) AS total_value,
           |    min(value) AS min_value, max(value) AS max_value
           |  FROM events GROUP BY 1, 2),
           |hsrc AS (SELECT event_type, month, CAST(user_id AS VARCHAR) AS shingle
           |  FROM (SELECT DISTINCT event_type,
           |      date_trunc('month', cast(ts AS date)) AS month, user_id
           |    FROM events WHERE user_id IS NOT NULL)),
           |${hllRegsCtes("event_type, month", AggState.HllSeed)},
           |est AS (SELECT event_type, month,
           |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
           |    count(*) AS nb
           |  FROM regs GROUP BY 1, 2)
           |SELECT x.event_type, x.month, x.n_events, x.total_value,
           |  x.min_value, x.max_value,
           |  CAST(${Sketch.Numer} AS double) /
           |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
           |       AS double) / CAST(144115188075855872 AS double)) AS approx_users
           |FROM exact x LEFT JOIN est e
           |  ON x.event_type = e.event_type AND x.month = e.month""".stripMargin
      }),

    // §2#37i sketch-estimated equi-join cardinality (count-min inner
    // product, Cormode & Muthukrishnan 2005 §4.2): |purchases ⋈ clicks on
    // user| sized from two depth×width counter tables that build in each
    // side's own scan — the optimizer-support op that prices a 100 TB join
    // before running it. est ≥ true by construction (collisions only add)
    Gate("q_join_size_sketch", (s, dir) => {
      val ev = Tables.events(s, dir)
      val pur = ev.filter(col("event_type") === "purchase").select(col("user_id"))
      val clk = ev.filter(col("event_type") === "click").select(col("user_id"))
      val est = Sketch.countMinJoinSize(
        Sketch.countMinCounters(pur, Nil, col("user_id"),
          depth = 4, width = 1024, seed = 23L),
        Sketch.countMinCounters(clk, Nil, col("user_id"),
          depth = 4, width = 1024, seed = 23L))
      val exact = pur.groupBy(col("user_id")).agg(count(lit(1)).as("na"))
        .join(clk.groupBy(col("user_id")).agg(count(lit(1)).as("nb")), "user_id")
        .agg(sum(col("na") * col("nb")).as("true_pairs"))
      est.crossJoin(exact).select(
        col("est_pairs"), col("true_pairs"),
        (col("est_pairs") - col("true_pairs")).as("overcount"))
    },
      // join-size sketch: one counter replay per join side (same seed so
      // bucket ids align), bucket-wise inner product per hash row, min over
      // rows; the exact pair count comes from the real per-user frequency
      // join the sketch is pricing
      {
        s"""WITH rs AS (SELECT unnest(range(4)) AS r),
           |pa AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
           |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
           |pb AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
           |  WHERE event_type = 'click' AND user_id IS NOT NULL),
           |${cmCountersCtes("pa", "cma", 1024, 23L)},
           |${cmCountersCtes("pb", "cmb", 1024, 23L)},
           |ipp AS (SELECT r, sum(cma.cnt * cmb.cnt) AS ip
           |  FROM cma JOIN cmb USING (r, bucket) GROUP BY 1),
           |est AS (SELECT min(ip) AS est_pairs FROM ipp),
           |ex AS (SELECT sum(na * nb) AS true_pairs FROM
           |    (SELECT user_id, count(*) AS na FROM events
           |      WHERE event_type = 'purchase' GROUP BY 1) a
           |  JOIN (SELECT user_id, count(*) AS nb FROM events
           |      WHERE event_type = 'click' GROUP BY 1) b USING (user_id))
           |SELECT cast(est_pairs AS bigint) AS est_pairs,
           |  cast(true_pairs AS bigint) AS true_pairs,
           |  cast(est_pairs - true_pairs AS bigint) AS overcount
           |FROM est CROSS JOIN ex""".stripMargin
      }),

    // §2#37l join-strategy ADVICE consuming the join-size sketches: three
    // scenarios through Skew.adviseJoin — a dimension-sized side
    // (broadcast), two fact sides with no hot key (shuffle), and a planted
    // hot key taking 25% of one side (salt, with the bucket count sized
    // from the sketch's hot-key upper bound). Every threshold is an
    // integer comparison over sketch-derived numbers, so the whole
    // decision table hash-matches the DuckDB replay
    // (operators/Skew.scala:adviseJoin)
    Gate("q_join_advise", (s, dir) => {
      val ev = Tables.events(s, dir)
      def cm(df: DataFrame, v: Column) =
        Sketch.countMinCounters(df, Nil, v, depth = 4, width = 4096, seed = 23L)
      val pur = cm(ev.filter(col("event_type") === "purchase"), col("user_id"))
      val clk = cm(ev.filter(col("event_type") === "click"), col("user_id"))
      val dim = cm(Tables.nation(s, dir), col("n_nationkey"))
      val hotv = cm(ev.filter(col("event_type") === "view"),
        when(pmod(col("user_id"), lit(4L)) < 1L, lit(-1L))
          .otherwise(col("user_id")))
      def one(name: String, a: DataFrame, b: DataFrame) =
        Skew.adviseJoin(a, b, broadcastMaxRows = 1000L, hotKeyThreshold = 500L)
          .select(lit(name).as("scenario"), col("est_pairs"), col("n_rows_a"),
            col("n_rows_b"), col("hot_a"), col("hot_b"), col("decision"),
            col("broadcast_side"), col("salt_buckets"))
      one("dim_join", pur, dim)
        .unionByName(one("fact_fact", pur, clk))
        .unionByName(one("skewed", hotv, clk))
    },
      // join advice: same sketch replay (4 scenarios' worth of counter
      // tables), then the identical integer decision chain per scenario
      {
        def adviseCtes(p: String, scenario: String, cma: String, cmb: String) =
          s"""${p}_sa AS (SELECT min(s) AS n_rows_a, min(mx) AS hot_a FROM
             |  (SELECT r, sum(cnt) AS s, max(cnt) AS mx FROM $cma GROUP BY 1)),
             |${p}_sb AS (SELECT min(s) AS n_rows_b, min(mx) AS hot_b FROM
             |  (SELECT r, sum(cnt) AS s, max(cnt) AS mx FROM $cmb GROUP BY 1)),
             |${p}_ip AS (SELECT r, sum($cma.cnt * $cmb.cnt) AS ip
             |  FROM $cma JOIN $cmb USING (r, bucket) GROUP BY 1),
             |${p}_e AS (SELECT min(ip) AS est_pairs FROM ${p}_ip),
             |${p}_adv AS (SELECT '$scenario' AS scenario,
             |  cast(est_pairs AS bigint) AS est_pairs,
             |  cast(n_rows_a AS bigint) AS n_rows_a,
             |  cast(n_rows_b AS bigint) AS n_rows_b,
             |  cast(hot_a AS bigint) AS hot_a, cast(hot_b AS bigint) AS hot_b,
             |  CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN 'broadcast'
             |    WHEN greatest(hot_a, hot_b) > 500 THEN 'salt'
             |    ELSE 'shuffle' END AS decision,
             |  CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN
             |      (CASE WHEN n_rows_a <= n_rows_b THEN 'a' ELSE 'b' END)
             |    ELSE 'none' END AS broadcast_side,
             |  cast(CASE WHEN least(n_rows_a, n_rows_b) <= 1000 THEN 1
             |    WHEN greatest(hot_a, hot_b) > 500
             |      THEN (greatest(hot_a, hot_b) + 499) // 500
             |    ELSE 1 END AS bigint) AS salt_buckets
             |  FROM ${p}_e CROSS JOIN ${p}_sa CROSS JOIN ${p}_sb)""".stripMargin
        s"""WITH rs AS (SELECT unnest(range(4)) AS r),
           |p1a AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
           |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
           |p1b AS (SELECT CAST(n_nationkey AS VARCHAR) AS shingle FROM nation),
           |p2b AS (SELECT CAST(user_id AS VARCHAR) AS shingle FROM events
           |  WHERE event_type = 'click' AND user_id IS NOT NULL),
           |p3a AS (SELECT CAST(CASE WHEN user_id % 4 < 1 THEN -1 ELSE user_id
           |    END AS VARCHAR) AS shingle FROM events
           |  WHERE event_type = 'view' AND user_id IS NOT NULL),
           |${cmCountersCtes("p1a", "cm1a", 4096, 23L)},
           |${cmCountersCtes("p1b", "cm1b", 4096, 23L)},
           |${cmCountersCtes("p2b", "cm2b", 4096, 23L)},
           |${cmCountersCtes("p3a", "cm3a", 4096, 23L)},
           |${adviseCtes("s1", "dim_join", "cm1a", "cm1b")},
           |${adviseCtes("s2", "fact_fact", "cm1a", "cm2b")},
           |${adviseCtes("s3", "skewed", "cm3a", "cm2b")}
           |SELECT * FROM s1_adv UNION ALL
           |SELECT * FROM s2_adv UNION ALL
           |SELECT * FROM s3_adv""".stripMargin
      }),

    // §2#24f the advisor's decisions EXECUTED (operators/Skew.scala:
    // executeAdvised): the same three scenarios run through the advised
    // physical strategy — dim join takes the broadcast hint, the balanced
    // fact×fact takes a sort-merge shuffle, the planted hot key takes the
    // salted join with the sketch-derived bucket count. The gate digests
    // each joined result (count + column checksums) and the oracle is the
    // PLAIN SQL join — content identity is exactly what the three
    // strategies must preserve. Spec pins the three plan shapes.
    Gate("q_join_advise_exec", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purDim = ev.filter(col("event_type") === "purchase")
        .select(pmod(col("user_id"), lit(25L)).as("k"), col("event_id").as("a_id"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("k"), col("event_id").as("a_id"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("k"), col("event_id").as("b_id"))
      val dim = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("k"),
          (col("n_regionkey").cast("long") * 1000L +
            col("n_nationkey").cast("long")).as("b_id"))
      val hotv = ev.filter(col("event_type") === "view")
        .select(when(pmod(col("user_id"), lit(4L)) < 1L, lit(-1L))
          .otherwise(col("user_id")).as("k"), col("event_id").as("a_id"))
      def digest(name: String, a: DataFrame, b: DataFrame) =
        Skew.executeAdvised(a, b, "k", "a_id", "b_id",
            broadcastMaxRows = 1000L, hotKeyThreshold = 500L)
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            coalesce(sum(col("a_id")), lit(0L)).cast("long").as("sum_a_id"),
            coalesce(sum(col("b_id")), lit(0L)).cast("long").as("sum_b_id"),
            coalesce(sum(col("k")), lit(0L)).cast("long").as("sum_k"))
          .select(lit(name).as("scenario"), col("n_pairs"), col("sum_a_id"),
            col("sum_b_id"), col("sum_k"))
      digest("dim_join", purDim, dim)
        .unionByName(digest("fact_fact", pur, clk))
        .unionByName(digest("skewed", hotv, clk))
    },
      // the advised strategies executed: whatever physical shape the advisor
      // picked, the result must equal the PLAIN SQL equi-join — digested as
      // count + column checksums per scenario
      """WITH purd AS (SELECT user_id % 25 AS k, event_id AS a_id FROM events
        |  WHERE event_type = 'purchase'),
        |dim AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
        |  CAST(n_regionkey AS BIGINT) * 1000 + CAST(n_nationkey AS BIGINT) AS b_id
        |  FROM nation),
        |purf AS (SELECT user_id AS k, event_id AS a_id FROM events
        |  WHERE event_type = 'purchase'),
        |clk AS (SELECT user_id AS k, event_id AS b_id FROM events
        |  WHERE event_type = 'click'),
        |hotv AS (SELECT CASE WHEN user_id % 4 < 1 THEN -1 ELSE user_id END AS k,
        |  event_id AS a_id FROM events WHERE event_type = 'view'),
        |dg AS (
        |  SELECT 'dim_join' AS scenario, a.a_id, b.b_id, a.k
        |  FROM purd a JOIN dim b USING (k)
        |  UNION ALL
        |  SELECT 'fact_fact', a.a_id, b.b_id, a.k FROM purf a JOIN clk b USING (k)
        |  UNION ALL
        |  SELECT 'skewed', a.a_id, b.b_id, a.k FROM hotv a JOIN clk b USING (k))
        |SELECT scenario, cast(count(*) AS bigint) AS n_pairs,
        |  cast(coalesce(sum(a_id), 0) AS bigint) AS sum_a_id,
        |  cast(coalesce(sum(b_id), 0) AS bigint) AS sum_b_id,
        |  cast(coalesce(sum(k), 0) AS bigint) AS sum_k
        |FROM dg GROUP BY 1""".stripMargin),

    // §2#54 spatial neighbor join by grid-cell blocking: all point pairs
    // within 0.25° (flat-grid µdeg metric, exact int64 — no trig), cell =
    // radius so the 3×3 neighborhood is a complete cover. The oracle is the
    // EXHAUSTIVE cross-product answer, so the gate proves the cover: a pair
    // the blocking missed would hash-mismatch (operators/Geo.scala)
    Gate("q_geo_join", (s, dir) =>
      Geo.neighborPairs(geoPoints(s, dir), "c_custkey",
          cellUdeg = 250000L, radiusUdeg = 250000L)
        .select(col("id_a"), col("id_b"), col("d2")),
      // spatial neighbor join: the oracle is exhaustive MODULO A THEOREM —
      // the join carries only the |Δlat| <= r band, which d² <= r² implies,
      // so correctness equals the full cross product while DuckDB's IEJoin
      // keeps the sf1 replay feasible; it knows nothing of cells, so a
      // candidate the blocking missed would hash-mismatch
      {
        s"""WITH $GeoPtsCte
           |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           |  (a.lat_udeg - b.lat_udeg) * (a.lat_udeg - b.lat_udeg) +
           |  (a.lon_udeg - b.lon_udeg) * (a.lon_udeg - b.lon_udeg) AS d2
           |FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
           |  AND b.lat_udeg >= a.lat_udeg - 250000
           |  AND b.lat_udeg <= a.lat_udeg + 250000
           |  AND b.lon_udeg >= a.lon_udeg - 250000
           |  AND b.lon_udeg <= a.lon_udeg + 250000
           |WHERE (a.lat_udeg - b.lat_udeg) * (a.lat_udeg - b.lat_udeg) +
           |  (a.lon_udeg - b.lon_udeg) * (a.lon_udeg - b.lon_udeg)
           |  <= ${250000L * 250000L}""".stripMargin
      }),

    // §2#47d deterministic multi-epoch training-order shuffle — the
    // data-loader layout contract (WebDataset/tf.data shard-shuffle
    // discipline as a query): every (doc, epoch) gets a (shard, pos)
    // placement, each epoch an independent pseudorandom permutation, the
    // whole assignment a pure function of (id, epoch, seed) — resumable
    // from any step and regenerable on any cluster size with zero
    // coordination. Portable md5 draws; one window per (epoch, shard),
    // with the shard count DERIVED from the corpus (Layout.shardsFor —
    // ceil(n/target), floored at 8) so each window sorts a bounded
    // ~target-row slice at any corpus size instead of an O(N/8) global-
    // sort shape; no global ordering (operators/Layout.scala; permutation,
    // epoch-independence and shard-rule properties spec-pinned). The
    // oracle derives the identical shard count from its own count(*).
    Gate("q_epoch_shuffle", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      Layout.epochShuffle(docs, "doc_id", epochs = 3,
        shards = Layout.shardsFor(docs.count()))
    },
      // epoch shuffle: the same md5 20-bit draw chain as the Spark side,
      // positions from the identical (key, id)-ordered window; the shard
      // count replays Layout.shardsFor from the oracle's own count(*)
      s"""WITH ns AS (SELECT greatest(8, (count(*) + 8191) // 8192) AS sh
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(range(0, 3)) AS ep FROM documents),
         |k AS (SELECT doc_id, ep, ${graft.sources.ZipfCorpus.u20Sql(
             "CAST(doc_id AS varchar) || ':ep:' || CAST(ep AS varchar)")} AS key
         |  FROM e),
         |ks AS (SELECT doc_id, ep, key, key % ns.sh AS shard FROM k, ns)
         |SELECT doc_id, CAST(ep AS bigint) AS epoch, shard,
         |  CAST(row_number() OVER (PARTITION BY ep, shard
         |    ORDER BY key, doc_id) AS bigint) AS pos
         |FROM ks""".stripMargin),

    // §2#54b z-order (Morton) layout: bit-interleaved cell keys + the
    // range-bucket assignment a layout write would partition by — the
    // file-skipping device (Delta/Iceberg ZORDER BY) as pure int64
    // arithmetic, zero shuffle (operators/Layout.scala; the bbox-tightness
    // claim vs a single-column layout is spec-proven)
    Gate("q_zorder", (s, dir) => {
      val p = geoPoints(s, dir)
      val (y, x) = Geo.cellOf(col("lat_udeg"), col("lon_udeg"), 10000L)
      p.select(col("c_custkey"), x.as("x_cell"), y.as("y_cell"),
          Layout.zValue(x, y).as("zval"))
        .withColumn("bucket", shiftright(col("zval"), 15))
    },
      // z-order: the same mask-doubling Morton spread as int64 literals
      {
        s"""WITH $GeoPtsCte,
           |cells AS (SELECT c_custkey, lon_udeg // 10000 AS x_cell,
           |    lat_udeg // 10000 AS y_cell FROM pts)
           |SELECT c_custkey, x_cell, y_cell,
           |  ${Layout.zValueSql("x_cell", "y_cell")} AS zval,
           |  ${Layout.zValueSql("x_cell", "y_cell")} >> 15 AS bucket
           |FROM cells""".stripMargin
      }),

    // §2#55 fuzzy entity resolution (record linkage): misspelled names
    // (one deterministic char deletion on 50% of customers) matched back to
    // the canonical dim by DELETION-NEIGHBORHOOD blocking (FastSS/SymSpell
    // family — prefix blocking degenerates to O(N) blocks on shared-prefix
    // names), levenshtein ≤ 1 verify. Oracle = exhaustive cross product, so
    // the gate proves blocking completeness
    // (operators/EntityResolution.scala)
    Gate("q_fuzzy_match", (s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val canon = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(col("n_name"), lit("-"), col("c_custkey").cast("string"))
            .as("canon_name"))
      val ck = col("c_custkey").cast("string")
      val p = lit(1L) + shiftright(
        u20(concat(lit("fp:"), ck)) * length(col("canon_name")), 20)
      val dirty = canon
        .where(u20(concat(lit("fz:"), ck)) < lit(524288L))
        .select(col("c_custkey").as("dirty_id"),
          concat(
            col("canon_name").substr(lit(1), (p - 1L).cast("int")),
            col("canon_name").substr((p + 1L).cast("int"), lit(200)))
            .as("dirty_name"))
      EntityResolution.matchByEditDistance(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 1)
        .select(col("dirty_id"), col("c_custkey").as("match_key"),
          col("edit_dist").cast("long").as("edit_dist"))
    },
      // fuzzy match: the oracle brute-forces the full dirty × canon product
      // (with the free |len diff| <= 1 prefilter, valid because distance >=
      // length difference) — blocking completeness is exactly what the hash
      // equality then proves
      {
        val u20fp = graft.sources.ZipfCorpus.u20Sql(
          "'fp:' || CAST(c_custkey AS varchar)")
        val u20fz = graft.sources.ZipfCorpus.u20Sql(
          "'fz:' || CAST(c_custkey AS varchar)")
        s"""WITH canon AS (SELECT c_custkey,
           |    n_name || '-' || CAST(c_custkey AS varchar) AS canon_name
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
           |dd AS (SELECT c_custkey, canon_name,
           |    1 + (($u20fp * length(canon_name)) >> 20) AS p
           |  FROM canon WHERE $u20fz < 524288),
           |dirty AS (SELECT c_custkey AS dirty_id,
           |    substring(canon_name, 1, CAST(p - 1 AS int)) ||
           |    substring(canon_name, CAST(p + 1 AS int), 200) AS dirty_name
           |  FROM dd)
           |SELECT d.dirty_id, c.c_custkey AS match_key,
           |  cast(levenshtein(d.dirty_name, c.canon_name) AS bigint) AS edit_dist
           |FROM dirty d JOIN canon c
           |  ON abs(length(d.dirty_name) - length(c.canon_name)) <= 1
           |WHERE levenshtein(d.dirty_name, c.canon_name) <= 1""".stripMargin
      }),

    // §2#55b fuzzy entity resolution at DISTANCE 2: depth-2 deletion
    // neighborhoods both sides (fan-out ≈ len²/2 keys per row — still a
    // per-name constant), thresholded-levenshtein verify. The corpus
    // plants a mix of one-deletion (d=1) and two-deletion (d=2)
    // corruptions; the exhaustive cross-product oracle again proves
    // blocking completeness at the wider radius
    Gate("q_fuzzy_match2", (s, dir) => {
      import graft.sources.ZipfCorpus.u20
      val canon = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(col("n_name"), lit("-"), col("c_custkey").cast("string"))
            .as("canon_name"))
      val ck = col("c_custkey").cast("string")
      def del(nameCol: Column, p: Column): Column =
        concat(nameCol.substr(lit(1), (p - 1L).cast("int")),
          nameCol.substr((p + 1L).cast("int"), lit(200)))
      val p1 = lit(1L) + shiftright(
        u20(concat(lit("f2a:"), ck)) * length(col("canon_name")), 20)
      val n1 = del(col("canon_name"), p1)
      // second deletion position drawn over the ALREADY-SHORTENED name
      val p2 = lit(1L) + shiftright(u20(concat(lit("f2b:"), ck)) * length(n1), 20)
      val n2 = del(n1, p2)
      val dirty = canon
        .where(u20(concat(lit("fz2:"), ck)) < lit(524288L))
        .select(col("c_custkey").as("dirty_id"),
          when(pmod(u20(concat(lit("fn:"), ck)), lit(3L)) === 0L, n1)
            .otherwise(n2).as("dirty_name"))
      EntityResolution.matchByEditDistance(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 2)
        .select(col("dirty_id"), col("c_custkey").as("match_key"),
          col("edit_dist").cast("long").as("edit_dist"))
    },
      // distance-2 fuzzy match: exhaustive cross product again (|len diff|
      // <= 2 prefilter is free: distance >= length difference) — a
      // distance-2 pair the depth-2 neighborhood blocking missed would
      // hash-mismatch
      {
        val u2a = graft.sources.ZipfCorpus.u20Sql(
          "'f2a:' || CAST(c_custkey AS varchar)")
        val u2b = graft.sources.ZipfCorpus.u20Sql(
          "'f2b:' || CAST(c_custkey AS varchar)")
        val ufz = graft.sources.ZipfCorpus.u20Sql(
          "'fz2:' || CAST(c_custkey AS varchar)")
        val ufn = graft.sources.ZipfCorpus.u20Sql(
          "'fn:' || CAST(c_custkey AS varchar)")
        s"""WITH canon AS (SELECT c_custkey,
           |    n_name || '-' || CAST(c_custkey AS varchar) AS canon_name
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
           |dd AS (SELECT c_custkey, canon_name,
           |    1 + (($u2a * length(canon_name)) >> 20) AS p1,
           |    $ufn % 3 AS fn
           |  FROM canon WHERE $ufz < 524288),
           |d1 AS (SELECT c_custkey, fn,
           |    substring(canon_name, 1, CAST(p1 - 1 AS int)) ||
           |    substring(canon_name, CAST(p1 + 1 AS int), 200) AS n1
           |  FROM dd),
           |d2 AS (SELECT c_custkey, fn, n1,
           |    1 + (($u2b * length(n1)) >> 20) AS p2
           |  FROM d1),
           |dirty AS (SELECT c_custkey AS dirty_id,
           |    CASE WHEN fn = 0 THEN n1
           |    ELSE substring(n1, 1, CAST(p2 - 1 AS int)) ||
           |      substring(n1, CAST(p2 + 1 AS int), 200) END AS dirty_name
           |  FROM d2)
           |SELECT d.dirty_id, c.c_custkey AS match_key,
           |  cast(levenshtein(d.dirty_name, c.canon_name) AS bigint) AS edit_dist
           |FROM dirty d JOIN canon c
           |  ON abs(length(d.dirty_name) - length(c.canon_name)) <= 2
           |WHERE levenshtein(d.dirty_name, c.canon_name) <= 2""".stripMargin
      }),

    // §2#56 small-file compaction: 64 micro-files rewritten into
    // size-targeted files through the REAL write path; the gate is content
    // identity (read-back of the compacted copy vs the oracle over the
    // original table) — compaction must be a no-op on the row multiset
    // (operators/Compaction.scala; file-count math is spec-pinned)
    Gate("q_compaction", (s, dir) => {
      val tmp = gateTmpDir("graft_compact-")
      val small = s"$tmp/small"
      val packed = s"$tmp/packed"
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .repartition(64).write.mode("overwrite").parquet(small)
      val (nb, na, _) = Compaction.compact(s, small, packed,
        targetBytes = 8L * 1024 * 1024)
      require(na <= nb, s"compaction grew the file count: $nb -> $na")
      s.read.parquet(packed)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
    },
      // compaction content identity: the oracle reads the ORIGINAL table —
      // the rewrite must be a no-op on the row multiset
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
        |FROM events""".stripMargin),

    // §2#37j bitmap-index EXACT distinct (the roaring-bitmap device next
    // to the HLL sketch): presence bits OR-folded into 63-key words
    // (sign-bit-free, engine-portable), popcount sum == count_distinct —
    // proven in-row by emitting both (operators/Bitmap.scala)
    Gate("q_bitmap_distinct", (s, dir) => {
      val ev = Tables.events(s, dir)
      Bitmap.cardinality(
          Bitmap.words(ev, Seq("event_type"), col("user_id")),
          Seq("event_type"))
        .join(ev.groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_exact")), "event_type")
        .select(col("event_type"), col("n_distinct"), col("n_exact"))
    },
      // bitmap distinct: same 63-bit words (sign-free: engines range-check
      // 1<<63), popcount sum next to the exact count — equality is visible
      // in the row itself
      """WITH w AS (SELECT event_type, user_id // 63 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS int)) AS bits
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |bc AS (SELECT event_type, sum(bit_count(bits)) AS n_distinct FROM w GROUP BY 1),
        |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT event_type, cast(n_distinct AS bigint) AS n_distinct,
        |  cast(n_exact AS bigint) AS n_exact
        |FROM bc JOIN ex USING (event_type)""".stripMargin),

    // §2#37k bitmap set algebra — audience overlap/reach without touching
    // raw events twice: |purchasers ∩ clickers| = popcount(AND) over word
    // tables, |∪| = popcount of the OR-merge; the oracle re-derives all
    // four from exact distinct sets, pinning the algebra
    Gate("q_bitmap_setops", (s, dir) => {
      val ev = Tables.events(s, dir)
      def bm(t: String) = Bitmap.words(
        ev.filter(col("event_type") === t), Nil, col("user_id"))
      val (pur, clk) = (bm("purchase"), bm("click"))
      Bitmap.cardinality(pur, Nil).withColumnRenamed("n_distinct", "n_purchase")
        .crossJoin(Bitmap.cardinality(clk, Nil)
          .withColumnRenamed("n_distinct", "n_click"))
        .crossJoin(Bitmap.andCardinality(pur, clk)
          .withColumnRenamed("n_and", "n_both"))
        .crossJoin(Bitmap.orCardinality(pur, clk)
          .withColumnRenamed("n_or", "n_either"))
    },
      // bitmap set algebra: the oracle derives all four cardinalities from
      // exact distinct sets — the AND/OR word algebra must agree
      """WITH p AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |c AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click' AND user_id IS NOT NULL)
        |SELECT
        |  cast((SELECT count(*) FROM p) AS bigint) AS n_purchase,
        |  cast((SELECT count(*) FROM c) AS bigint) AS n_click,
        |  cast((SELECT count(*) FROM p JOIN c USING (user_id)) AS bigint) AS n_both,
        |  cast((SELECT count(*) FROM (SELECT user_id FROM p
        |     UNION SELECT user_id FROM c)) AS bigint) AS n_either""".stripMargin),

    // §2#57 one-pass table statistics (ANALYZE): per-column null count,
    // min/max, approx ndv from ONE scan — melt on the scan, one agg per
    // statistic family; the double column hashes through decimal(18,2)
    // (raw double→string is not engine-portable)
    // (operators/TableStats.scala)
    // §2#57b distribution-drift detection between two corpus snapshots —
    // the training-data monitoring op (PSI / two-sample chi-square
    // family): the event stream splits at its time midpoint into
    // base/new snapshots, both bucket on (event_type, value bucket), and
    // each bucket gets the Pearson two-sample chi-square contribution as
    // an exact-integer-products-then-one-double-divide quantized long
    // (operators/Drift.scala — chosen over PSI's Σ(p−q)ln(p/q) because
    // it needs no transcendental, so the oracle replays it bit-exact).
    // Drift is INJECTED into the new half deterministically (a user slice
    // relabeled to a new event type + another slice's values scaled
    // 1.5×) — the no-drift corpus would pin nothing. Scale shape: two
    // map-side-combined scans to bounded bucket tables, bucket-sized
    // full-outer join, one-row total broadcasts; nothing corpus-sized
    // shuffles. vbucket width 32 = a power of two, so the double divide
    // is exact in both engines
    Gate("q_dist_drift", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"), col("value"))
      val rng = ev.agg(min(col("us")).as("_lo"), max(col("us")).as("_hi"))
      val flagged = ev.crossJoin(broadcast(rng))
        .withColumn("is_new", col("us") * 2 >= col("_lo") + col("_hi"))
        .withColumn("etype",
          when(col("is_new") && pmod(col("user_id"), lit(5L)) === 0L,
            lit("drifted")).otherwise(col("event_type")))
        .withColumn("v",
          when(col("is_new") && pmod(col("user_id"), lit(7L)) === 0L,
            col("value") * lit(1.5)).otherwise(col("value")))
        .withColumn("vbucket",
          least(lit(15L), floor(col("v") / lit(32.0)).cast("long")))
      Drift.driftTable(
        flagged.filter(!col("is_new")).select(col("etype"), col("vbucket")),
        flagged.filter(col("is_new")).select(col("etype"), col("vbucket")),
        Seq("etype", "vbucket"))
    },
      // drift table: same midpoint split, same injections, same integer
      // products → one double square/divide → floor·2^20 quantization
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us, value
         |  FROM events),
         |rng AS (SELECT min(us) AS lo, max(us) AS hi FROM ev),
         |f AS (SELECT
         |    CASE WHEN us * 2 >= lo + hi AND user_id % 5 = 0 THEN 'drifted'
         |      ELSE event_type END AS etype,
         |    least(15, CAST(floor(
         |      (CASE WHEN us * 2 >= lo + hi AND user_id % 7 = 0
         |        THEN value * 1.5 ELSE value END) / 32.0) AS BIGINT)) AS vbucket,
         |    us * 2 >= lo + hi AS is_new
         |  FROM ev, rng),
         |b AS (SELECT etype, vbucket, count(*) AS n_base FROM f
         |  WHERE NOT is_new GROUP BY 1, 2),
         |n AS (SELECT etype, vbucket, count(*) AS n_new FROM f
         |  WHERE is_new GROUP BY 1, 2),
         |tt AS (SELECT count(*) FILTER (WHERE NOT is_new) AS tb,
         |    count(*) FILTER (WHERE is_new) AS tn FROM f),
         |j AS (SELECT coalesce(b.etype, n.etype) AS etype,
         |    coalesce(b.vbucket, n.vbucket) AS vbucket,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_new, 0) AS n_new
         |  FROM b FULL OUTER JOIN n ON b.etype = n.etype AND b.vbucket = n.vbucket)
         |SELECT etype, vbucket, n_base, n_new,
         |  CASE WHEN tb = 0 OR tn = 0 THEN 0 ELSE CAST(floor(least(
         |    (CAST(n_base AS DOUBLE) * CAST(tn AS DOUBLE)
         |      - CAST(n_new AS DOUBLE) * CAST(tb AS DOUBLE)) *
         |    (CAST(n_base AS DOUBLE) * CAST(tn AS DOUBLE)
         |      - CAST(n_new AS DOUBLE) * CAST(tb AS DOUBLE)) /
         |    ((CAST(n_base AS DOUBLE) + CAST(n_new AS DOUBLE))
         |      * CAST(tb AS DOUBLE) * CAST(tn AS DOUBLE)) * 1048576.0,
         |    4611686018427387904.0)) AS BIGINT)
         |  END AS chi2_q20
         |FROM j, tt""".stripMargin),

    Gate("q_table_stats", (s, dir) => {
      import TableStats.ProfiledCol
      val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      TableStats.profile(ev, Seq(
        ProfiledCol("event_id", col("event_id"), Some(col("event_id"))),
        ProfiledCol("ts_us", col("ts_us"), Some(col("ts_us"))),
        ProfiledCol("user_id", col("user_id"), Some(col("user_id"))),
        ProfiledCol("value", col("value").cast("decimal(18,2)"), Some(col("value"))),
        ProfiledCol("event_type", col("event_type"), None)), seed = 31L)
    },
      // table profile: melt via UNION ALL, exact scalar stats, ndv via the
      // same register replay + exact-integer estimator as q_agg_merge
      {
        s"""WITH melted AS (
           |  SELECT 'event_id' AS col_name, CAST(event_id AS VARCHAR) AS sval,
           |    CAST(event_id AS double) AS nval FROM events
           |  UNION ALL SELECT 'ts_us', CAST(epoch_us(ts) AS VARCHAR),
           |    CAST(epoch_us(ts) AS double) FROM events
           |  UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR),
           |    CAST(user_id AS double) FROM events
           |  UNION ALL SELECT 'value', CAST(CAST(value AS DECIMAL(18,2)) AS VARCHAR),
           |    CAST(value AS double) FROM events
           |  UNION ALL SELECT 'event_type', event_type, NULL FROM events),
           |sc AS (SELECT col_name, count(*) AS n_rows,
           |    sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS n_nulls,
           |    min(nval) AS min_num, max(nval) AS max_num
           |  FROM melted GROUP BY 1),
           |hsrc AS (SELECT col_name, sval AS shingle
           |  FROM (SELECT DISTINCT col_name, sval FROM melted WHERE sval IS NOT NULL)),
           |${hllRegsCtes("col_name", 31L)},
           |est AS (SELECT col_name,
           |    sum(CAST(power(2.0, 57 - reg) AS HUGEINT)) AS s_present,
           |    count(*) AS nb
           |  FROM regs GROUP BY 1)
           |SELECT s.col_name, cast(s.n_rows AS bigint) AS n_rows,
           |  cast(s.n_nulls AS bigint) AS n_nulls, s.min_num, s.max_num,
           |  CAST(${Sketch.Numer} AS double) /
           |    (CAST(s_present + (256 - nb) * CAST(144115188075855872 AS HUGEINT)
           |       AS double) / CAST(144115188075855872 AS double)) AS approx_ndv
           |FROM sc s LEFT JOIN est e USING (col_name)""".stripMargin
      }),

    // §2#53d last-touch attribution (click/view → purchase, 7-day
    // lookback): the latest in-window touch carried to each conversion by
    // last(ignoreNulls) over ONE (user, ts, id)-sorted pass, plus the
    // lookback touch count (range frame on event-time micros) a
    // linear-credit model divides by; conversions with no in-window touch
    // keep NULL touch columns (the direct/unattributed bucket). One
    // shuffle, one shared sort, no self-join (operators/Attribution.scala)
    Gate("q_attribution", (s, dir) =>
      Attribution.lastTouch(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type",
          isTouch = col("event_type").isin("click", "view"),
          isConversion = col("event_type") === "purchase",
          lookbackUs = 604800000000L)
        .select(col("conversion_id"), col("user").as("user_id"),
          col("conv_ts_us"), col("touch_id"), col("touch_ts_us"),
          col("touch_type"), col("age_us"), col("n_touches_window")),
      // identical window semantics both engines: last_value IGNORE NULLS
      // over the (ts, id)-ordered rows-preceding frame; the range frame
      // counts touches in [conv−7d, conv−1µs]; ages in integer µs.
      // Shared VERBATIM with the streaming twin — the stream's per-key
      // touch-window state must reproduce the batch frame exactly
      AttributionOracleSql),

    // §2#53 ordered funnel (view → click → purchase within 24 h): earliest
    // qualifying event per stage, one row per user, ONE exchange for all
    // stage windows
    Gate("q_funnel", (s, dir) =>
      Behavioral.funnel(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
          "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          maxGapSeconds = Some(86400L), tieBreakCols = Seq("event_id"))
        .select(
          col("user_id"),
          unix_micros(col("stage_1_ts")).as("stage1_ts_us"),
          unix_micros(col("stage_2_ts")).as("stage2_ts_us"),
          unix_micros(col("stage_3_ts")).as("stage3_ts_us"),
          col("stages_completed")),
      // earliest-qualifying-event funnel semantics are tie-independent (min ts
      // is a total choice); gap compared in integer µs. The rn=1 trick picks
      // one row per user; stage cols are constant within the user partition.
      """WITH w1 AS (SELECT user_id, ts, event_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t1 FROM events),
        |w2 AS (SELECT *, min(CASE WHEN event_type = 'click'
        |      AND epoch_us(ts) >= epoch_us(t1)
        |      AND epoch_us(ts) <= epoch_us(t1) + 86400000000
        |      THEN ts END) OVER (PARTITION BY user_id) AS t2
        |  FROM (SELECT user_id, ts, event_id, event_type, t1 FROM w1
        |        JOIN events USING (user_id, ts, event_id))),
        |w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase'
        |      AND epoch_us(ts) >= epoch_us(t2)
        |      AND epoch_us(ts) <= epoch_us(t2) + 86400000000
        |      THEN ts END) OVER (PARTITION BY user_id) AS t3 FROM w2),
        |r AS (SELECT *, row_number()
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM w3)
        |SELECT user_id, epoch_us(t1) AS stage1_ts_us,
        |  epoch_us(t2) AS stage2_ts_us, epoch_us(t3) AS stage3_ts_us,
        |  cast(CASE WHEN t1 IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS bigint)
        |    AS stages_completed
        |FROM r WHERE rn = 1""".stripMargin),

    // §2#53b cohort retention matrix: first-seen week × weeks-since, active
    // user counts; weeks are pure integer µs arithmetic (engine-portable)
    Gate("q_cohort_retention", (s, dir) =>
      Behavioral.cohortRetention(
        Tables.events(s, dir).select(col("user_id"), col("ts")),
        "user_id", "ts"),
      // integer-µs week ids (div 604800000000) — no calendar semantics to
      // diverge on; DISTINCT (user, week) then count per (cohort, offset)
      """WITH wk AS (SELECT user_id, epoch_us(ts) // 604800000000 AS w
        |    FROM events),
        |u AS (SELECT user_id, min(w) AS cohort_week FROM wk GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, w FROM wk)
        |SELECT u.cohort_week, a.w - u.cohort_week AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN u USING (user_id) GROUP BY 1, 2""".stripMargin),

    // §2#53c first-order event-type transition matrix with row-conditional
    // probabilities (one lag shuffle, map-side-combined counts)
    Gate("q_transitions", (s, dir) =>
      Behavioral.transitions(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type", tieBreakCols = Seq("event_id")),
      // p is ONE IEEE division of two exact bigints — identical both engines
      """WITH l AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM l WHERE prev_type IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(n AS double) / CAST(sum(n) OVER (PARTITION BY prev_type)
        |    AS double) AS p
        |FROM c""".stripMargin),

    // §2#45b top-k collocations by rational PMI lift (multiword-expression
    // mining for tokenizer vocab / entity phrases); global top-k plans as
    // TakeOrdered, never a global sort
    Gate("q_collocations", (s, dir) =>
      NgramLM.collocations(Tables.documents(s, dir), "text",
        minCount = 5L, k = 20),
      // identical lift operation order (doubles before any multiply); the
      // LIMIT is deterministic because (lift DESC, w1, w2) is a total order
      s"""WITH ${toksCte("documents")},
         |big AS (SELECT unnest(list_transform(range(1, len(tk)),
         |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
         |  FROM toks WHERE len(tk) >= 2),
         |bi AS (SELECT bigram, count(*) AS c12 FROM big GROUP BY 1),
         |nb AS (SELECT sum(c12) AS nb FROM bi),
         |tok AS (SELECT unnest(tk) AS w FROM toks),
         |uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         |nu AS (SELECT sum(c) AS nu FROM uni),
         |sc AS (SELECT string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2, c12,
         |    (CAST(c12 AS double) * (CAST(nu AS double) / CAST(nb AS double))) *
         |      (CAST(nu AS double) /
         |        (CAST(u1.c AS double) * CAST(u2.c AS double))) AS lift
         |  FROM bi
         |  JOIN uni u1 ON string_split(bigram, ' ')[1] = u1.w
         |  JOIN uni u2 ON string_split(bigram, ' ')[2] = u2.w, nb, nu
         |  WHERE c12 >= 5)
         |SELECT w1, w2, cast(c12 AS bigint) AS c12, lift FROM sc
         |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin),

    // §2#47b corpus snapshot diff (dataset versioning): old = corpus minus
    // every 10th doc, with every 7th doc's text edited; new = the corpus.
    // Fingerprints computed scan-side, the join ships (id, fp) not text.
    Gate("q_snapshot_diff", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val old = docs
        .where(pmod(col("doc_id"), lit(10L)) =!= 0L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7L)) === 0L,
            concat(col("text"), lit(" v1"))).otherwise(col("text")).as("text"))
      Diff.snapshotDiff(old, docs, "doc_id", "text")
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    },
      // the oracle diffs CONTENT equality directly — Spark's internal
      // xxhash64 fingerprint never leaves the plan
      """WITH old AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' v1' ELSE text END AS text
        |  FROM documents WHERE doc_id % 10 <> 0
        |), d AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM old o FULL OUTER JOIN documents n ON o.doc_id = n.doc_id
        |)
        |SELECT status, cast(count(*) AS bigint) AS n_docs,
        |  cast(sum(doc_id) AS bigint) AS id_sum
        |FROM d GROUP BY 1""".stripMargin),

    // §2#46b deterministic train/val/test split assignment: disjoint +
    // exhaustive by construction (cumulative-fraction ladder on a portable
    // uniform; last split is the catch-all), scan-side, zero shuffle
    Gate("q_split_assign", (s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id", seed = 13L,
          splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum")),
      // the ladder thresholds are the SAME Scala-computed doubles the Spark
      // side embeds (0.9 + 0.05 = 0.9500000000000001 — both engines compare
      // against that exact value)
      {
        val cums = Sampling.cumFractions(
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        s"""WITH h0 AS (SELECT doc_id, source,
           |    CAST(doc_id AS VARCHAR) AS shingle FROM documents),
           |${fnvMixCtes("", "doc_id, source", "h0", "13")},
           |u AS (SELECT doc_id, source,
           |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS u FROM hv),
           |a AS (SELECT doc_id, source,
           |    CASE WHEN u < CAST(${cums(0)} AS double) THEN 'train'
           |         WHEN u < CAST(${cums(1)} AS double) THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM u)
           |SELECT source, split, cast(count(*) AS bigint) AS n_docs,
           |  cast(sum(doc_id) AS bigint) AS id_sum
           |FROM a GROUP BY 1, 2""".stripMargin
      }),

    // §2#38b deterministic FIXED-SIZE per-stratum sample (exactly k rows
    // per event_type, identical across reruns/partitionings): k smallest
    // portable-hash uniforms via the TopKPerKey bounded-heap operator —
    // not a full per-stratum sort
    Gate("q_sample_fixedk", (s, dir) =>
      Sampling.fixedPerStratum(
          Tables.events(s, dir).select(col("event_id"), col("event_type")),
          Seq("event_type"), "event_id", k = 20, seed = 5L)
        .select(col("event_type"), col("event_id"), col("sample_u")),
      // same FnvMix-uniform replay as q_mixture_sample; the fixed-k draw is
      // a row_number here vs the bounded-heap TopKPerKey in Spark — identical
      // selection, different physical operator
      {
        s"""WITH h0 AS (SELECT event_id, event_type,
           |    CAST(event_id AS VARCHAR) AS shingle FROM events),
           |${fnvMixCtes("", "event_id, event_type", "h0", "5")},
           |u AS (SELECT event_id, event_type,
           |    CAST(z >> 24 AS double) / CAST(1099511627776 AS double) AS sample_u
           |  FROM hv),
           |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
           |    ORDER BY sample_u, event_id) AS rn FROM u)
           |SELECT event_type, event_id, sample_u FROM r WHERE rn <= 20""".stripMargin
      }),

    // §2#38c weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // A-ES): exactly k docs with inclusion ∝ length(text), via the
    // quantized-integer priority key −((40·2^16 − ilog2q(u40+1))·2^20
    // div w) over the portable FnvMix draw — scan-side arithmetic + one
    // TakeOrdered, the corpus never shuffled; bit-replayable in SQL
    Gate("q_weighted_sample", (s, dir) => {
      val docs = Tables.documents(s, dir).select(
        col("doc_id").cast("long").as("doc_id"),
        length(col("text")).cast("long").as("weight"))
      Sampling.weightedFixedK(docs, "doc_id", "weight", k = 100, seed = 29L)
    },
      // A-ES weighted sample: full FnvMix replay on the doc id, the exact
      // ilog2q ladder, the same integer floor-div key, top-100 by
      // (key desc, doc_id)
      WeightedSampleSql),

    // §2#47 sharded training-data export through the REAL write path:
    // deterministic fnv_mix(id) mod 8 membership (engine-portable — the
    // oracle recomputes every doc's shard), one directory per shard, rows
    // read BACK from the written files so the gate checks what landed on
    // disk, manifest row counts cross-checked against the read-back
    Gate("q_shard_export", (s, dir) => {
      val tmp = gateTmpDir("graft_shards-")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val manifest = Sink.writeShards(docs, tmp, "doc_id", 8)
        .select(col("shard"), col("n_rows"))
      s.read.parquet(tmp)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_rows_read"), sum(col("doc_id")).as("id_sum"))
        .join(manifest, Seq("shard"))
        .select(col("shard"), col("n_rows_read"), col("n_rows").as("n_rows_manifest"),
          col("id_sum"))
    },
      // full FnvMix replay on CAST(doc_id AS VARCHAR), seed 13; shard =
      // unsigned z mod 8 (power-of-two count, so it equals Spark's pmod of
      // the signed value). The Spark side reads the written files back, so a
      // match here proves the on-disk layout, not just the plan.
      {
        s"""WITH h0 AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS shingle FROM documents),
           |${fnvMixCtes("", "doc_id", "h0", "13")}
           |SELECT cast(z % 8 AS bigint) AS shard,
           |  cast(count(*) AS bigint) AS n_rows_read,
           |  cast(count(*) AS bigint) AS n_rows_manifest,
           |  cast(sum(doc_id) AS bigint) AS id_sum
           |FROM hv GROUP BY 1""".stripMargin
      }),

    // §2#47c multi-format source/sink roundtrip — ORC, JSON lines and CSV
    // through the REAL write+read paths (schema-steered reads, header CSV):
    // one signature row per format (count, id/ts sums, decimal-exact value
    // sum) that must equal the parquet source exactly — the interchange
    // guarantee a pipeline needs before handing data to tools that don't
    // speak parquet. Doubles survive text formats via shortest-roundtrip
    // printing; the oracle derives the same signature from the source table
    Gate("q_format_roundtrip", (s, dir) => {
      val tmp = gateTmpDir("graft_fmt-")
      val base = Tables.events(s, dir).select(
        col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"), col("value"))
      base.write.mode("overwrite").orc(s"$tmp/orc")
      base.write.mode("overwrite").json(s"$tmp/json")
      base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
      // ts checksum mod a prime: a raw µs sum overflows int64 past ~5k rows
      def sig(df: DataFrame, fmt: String): DataFrame =
        df.agg(
          count(lit(1)).as("n_rows"),
          sum(col("event_id")).as("id_sum"),
          sum(pmod(col("ts_us"), lit(1000000007L))).as("ts_check"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("value_sum"))
          .select(lit(fmt).as("format"), col("n_rows"), col("id_sum"),
            col("ts_check"), col("value_sum"))
      sig(s.read.orc(s"$tmp/orc"), "orc")
        .unionAll(sig(s.read.schema(base.schema).json(s"$tmp/json"), "json"))
        .unionAll(sig(s.read.schema(base.schema).option("header", "true")
          .csv(s"$tmp/csv"), "csv"))
    },
      // the roundtrip signature must equal the source table's, once per
      // format — identity through each write/read path is the claim
      """WITH s AS (SELECT cast(count(*) AS bigint) AS n_rows,
        |    cast(sum(event_id) AS bigint) AS id_sum,
        |    cast(sum(epoch_us(ts) % 1000000007) AS bigint) AS ts_check,
        |    cast(sum(cast(value AS decimal(18,2))) AS double) AS value_sum
        |  FROM events)
        |SELECT f.format, s.n_rows, s.id_sum, s.ts_check, s.value_sum
        |FROM s CROSS JOIN (VALUES ('orc'), ('json'), ('csv')) AS f(format)""".stripMargin)
  )
}
