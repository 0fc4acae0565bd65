package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator matching the driver test tables'
  * schemas and distributions (TESTDATA.md), for scale factors the driver
  * does not ship — the sf1 (10× bench) scale-validation run. Distributions
  * were measured off /root/testdata/sf0.1: categorical value sets, the
  * exponential event values (mean 50), the 30-word document vocabulary with
  * a 5% "dup"-suffix stratum and ~8 exact-duplicate pairs per 5000 docs,
  * unit-norm uniform 64-d embeddings.
  *
  * Everything derives from `spark.range` + hash-seeded uniforms (codegen'd
  * xxhash64 — no RNG state, no driver-side loops), so any row is
  * reproducible from (table, id, seed) alone and generation parallelizes
  * to any cluster size: the 100 TB version of this generator is the same
  * code with a bigger multiplier.
  *
  * Usage: `runMain graft.GenData <sf> <outDir>` (e.g. `1` →
  * lineitem 6M / orders 1.5M / events 1M / documents 50k / embeddings 20k).
  */
object GenData {

  /** Uniform [0,1) from any column set, decorrelated by `salt`. */
  private def u01(salt: Int, cols: org.apache.spark.sql.Column*) =
    (pmod(xxhash64(cols :+ lit(salt): _*), lit(1L << 40)).cast("double")
      / lit((1L << 40).toDouble))

  private def pick(salt: Int, values: Seq[String], id: org.apache.spark.sql.Column) =
    element_at(
      array(values.map(lit): _*),
      (u01(salt, id) * values.size).cast("int") + 1)

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("1").toDouble
    val outDir = args.drop(1).headOption.getOrElse("target/testdata/sf1")
    // optional third arg: comma-separated table subset (e.g.
    // "documents,embeddings" for a near-dup-family-only sf10 run — the
    // full sf10 lineitem is 60M rows nothing in that family reads)
    val tables = args.drop(2).headOption.map(_.split(",").toSet)
    // fail fast on typos: a silently-skipped table leaves stale parquet
    // from a previous run in outDir, and a later Profile/Verify run would
    // measure a mixed-scale corpus with no error anywhere
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { ts =>
      val bad = ts -- known
      require(bad.isEmpty,
        s"unknown tables: ${bad.toSeq.sorted.mkString(",")} " +
          s"(known: ${known.toSeq.sorted.mkString(",")})")
    }
    val cpus = Sessions.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-gendata")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def write(df: DataFrame, name: String): Unit =
      if (tables.forall(_.contains(name))) {
        df.coalesce(8).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[gendata] wrote $name")
      }

    // --- dimension tables (fixed content, same at every sf) ---
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    write(spark.range(25).select(
      $"id".cast("int").as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).cast("int").as("n_regionkey")), "nation")

    val nCustomer = (150000 * sf).toLong max 1500L
    val nSupplier = (10000 * sf).toLong max 100L
    val nPart = (200000 * sf).toLong max 2000L
    val nOrders = (1500000 * sf).toLong max 15000L
    val nEvents = (1000000 * sf).toLong max 10000L
    val nUsers = (15000 * sf).toLong max 150L
    val nDocs = (50000 * sf).toLong max 500L
    val nVecs = (20000 * sf).toLong max 500L

    write(spark.range(nCustomer).select(
      $"id".as("c_custkey"),
      format_string("Customer#%09d", $"id").as("c_name"),
      (u01(1, $"id") * 25).cast("int").as("c_nationkey"),
      round(u01(2, $"id") * 11000 - 1000, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY"), $"id").as("c_mktsegment")), "customer")

    write(spark.range(nSupplier).select(
      $"id".as("s_suppkey"),
      format_string("Supplier#%09d", $"id").as("s_name"),
      (u01(4, $"id") * 25).cast("int").as("s_nationkey"),
      round(u01(5, $"id") * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    val adjectives = Seq("large", "hot", "blue", "old", "cold", "dark",
      "light", "small", "new", "fast")
    val nouns = Seq("ring", "bolt", "plate", "screw", "gear", "wheel",
      "pipe", "valve", "cable", "lens")
    write(spark.range(nPart).select(
      $"id".as("p_partkey"),
      concat(pick(6, adjectives, $"id"), lit(" "),
        pick(7, nouns, $"id")).as("p_name"),
      concat(lit("Brand#"),
        ((u01(8, $"id") * 25).cast("int") + 1)).as("p_brand"),
      pick(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD"), $"id").as("p_type"),
      ((u01(10, $"id") * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + ($"id" % 20000) / 10.0, 2).as("p_retailprice")),
      "part")

    // orders span 1995-01-01 .. 2001-08-01 (2404 days), date-granular
    val orders = spark.range(nOrders).select(
      $"id".as("o_orderkey"),
      (u01(11, $"id") * nCustomer).cast("long").as("o_custkey"),
      pick(12, Seq("O", "P", "F"), $"id").as("o_orderstatus"),
      round(u01(13, $"id") * 499000 + 1000, 2).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) // 1995-01-01 UTC
        + (u01(14, $"id") * 2404).cast("long") * 86400L).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW"), $"id").as("o_orderpriority"))
    write(orders, "orders")

    // ~4 lineitems per order (1..7 uniform), shipdate = orderdate + 1..95 d
    write(orders.select($"o_orderkey", $"o_orderdate")
      .withColumn("l_linenumber",
        explode(sequence(lit(1),
          (u01(16, $"o_orderkey") * 7).cast("int") + 1)))
      .select(
        $"o_orderkey".as("l_orderkey"),
        (u01(17, $"o_orderkey", $"l_linenumber") * nPart).cast("long")
          .as("l_partkey"),
        (u01(18, $"o_orderkey", $"l_linenumber") * nSupplier).cast("long")
          .as("l_suppkey"),
        $"l_linenumber",
        ((u01(19, $"o_orderkey", $"l_linenumber") * 50).cast("int") + 1)
          .cast("double").as("l_quantity"),
        round(u01(20, $"o_orderkey", $"l_linenumber") * 104100 + 900, 2)
          .as("l_extendedprice"),
        ((u01(21, $"o_orderkey", $"l_linenumber") * 11).cast("int")
          .cast("double") / 100).as("l_discount"),
        ((u01(22, $"o_orderkey", $"l_linenumber") * 9).cast("int")
          .cast("double") / 100).as("l_tax"),
        pick(23, Seq("A", "N", "R"), xxhash64($"o_orderkey", $"l_linenumber"))
          .as("l_returnflag"),
        pick(24, Seq("O", "F"), xxhash64($"o_orderkey", $"l_linenumber", lit(1)))
          .as("l_linestatus"),
        timestamp_seconds(unix_timestamp($"o_orderdate")
          + ((u01(25, $"o_orderkey", $"l_linenumber") * 95).cast("long") + 1)
            * 86400L).as("l_shipdate")), "lineitem")

    // events: 30 days of Jan 2024, exponential(mean 50) values
    write(spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(lit(1704067200000000L) // 2024-01-01 UTC µs
        + (u01(26, $"id") * 30L * 86400L * 1000000L).cast("long")).as("ts"),
      (u01(27, $"id") * nUsers).cast("long").as("user_id"),
      pick(28, Seq("view", "click", "purchase", "signup", "error"), $"id")
        .as("event_type"),
      round(-log(lit(1.0) - u01(29, $"id")) * 50, 2).as("value"),
      format_string("{\"k\": %d}", (u01(30, $"id") * 100).cast("int"))
        .as("props")), "events")

    // documents: 10..100 words from the 30-word vocabulary; 5% carry the
    // trailing "dup" marker; ~8 exact-duplicate pairs per 5000 docs (dup
    // target copies the SOURCE's text via a self-join on the pair mapping)
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "the", "row", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val baseDocs = spark.range(nDocs).select(
      $"id".as("doc_id"),
      concat(
        array_join(transform(
          sequence(lit(1), (u01(31, $"id") * 91).cast("int") + 10),
          i => element_at(vocabArr,
            (u01(32, $"id", i) * vocab.size).cast("int") + 1)), " "),
        when(u01(33, $"id") < 0.05, lit(" dup")).otherwise(lit("")))
        .as("text"),
      when(u01(34, $"id") < 0.41, "en")
        .otherwise(pick(35, Seq("de", "fr", "zh", "es"), $"id")).as("lang"),
      concat(lit("src"), (u01(36, $"id") * 20).cast("int")).as("source"))
    // dup pairs: docs with u < 8/5000 copy the text of a hash-derived source
    val dupPairs = baseDocs
      .where(u01(37, $"doc_id") < 8.0 / 5000)
      .select($"doc_id".as("_dup_id"),
        (u01(38, $"doc_id") * nDocs).cast("long").as("_src_id"))
      .where($"_dup_id" =!= $"_src_id")
    val srcText = baseDocs.select($"doc_id".as("_src_id"),
      $"text".as("_src_text"))
    write(baseDocs
      .join(broadcast(dupPairs), $"doc_id" === $"_dup_id", "left")
      .join(broadcast(dupPairs.join(srcText, "_src_id")
        .select($"_dup_id".as("_d"), $"_src_text")),
        $"doc_id" === $"_d", "left")
      .select($"doc_id",
        coalesce($"_src_text", $"text").as("text"),
        $"lang", $"source",
        length(coalesce($"_src_text", $"text")).cast("long").as("n_chars")),
      "documents")

    // embeddings: uniform on the unit 64-sphere (Box–Muller gaussians from
    // hash uniforms, then L2-normalize), float32, labels 0..9
    val gauss = transform(sequence(lit(1), lit(64)), i =>
      sqrt(-lit(2.0) * log(lit(1.0) - u01(39, $"id", i)))
        * cos(lit(2.0 * math.Pi) * u01(40, $"id", i)))
    write(spark.range(nVecs)
      .select($"id", gauss.as("_g"))
      .select($"id",
        aggregate($"_g", lit(0.0), (acc, x) => acc + x * x).as("_n2"),
        $"_g")
      .select(
        $"id".as("vec_id"),
        transform($"_g", x => (x / sqrt($"_n2")).cast("float"))
          .as("embedding"),
        (u01(41, $"id") * 10).cast("int").as("label")), "embeddings")

    spark.stop()
  }
}
