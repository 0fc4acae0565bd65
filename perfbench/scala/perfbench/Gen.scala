package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Follows the `events` and `documents` recipes of
  * graft.GenData (same columns, value sets and distributions) with the run
  * seed folded into every hash salt, so one seed always yields the same
  * tables and different seeds yield independent ones.
  */
final class Gen(seed: Long) {

  /** Uniform [0,1) from `cols`, decorrelated by `salt` and the seed. */
  private def u01(salt: Int, cols: Column*): Column =
    (pmod(xxhash64(cols :+ lit(seed * 1000003L + salt): _*), lit(1L << 40)).cast("double")
      / lit((1L << 40).toDouble))

  private def pick(salt: Int, values: Seq[String], id: Column): Column =
    element_at(array(values.map(lit): _*), (u01(salt, id) * values.size).cast("int") + 1)

  /** 30 days of January 2024; user ids uniform over `nUsers`; exponential
    * values with mean 50; `props` a one-key JSON object. */
  def events(spark: SparkSession, nEvents: Long, nUsers: Long): DataFrame = {
    import spark.implicits._
    spark.range(nEvents).select(
      $"id".as("event_id"),
      timestamp_micros(lit(1704067200000000L)
        + (u01(26, $"id") * 30L * 86400L * 1000000L).cast("long")).as("ts"),
      (u01(27, $"id") * nUsers).cast("long").as("user_id"),
      pick(28, Seq("view", "click", "purchase", "signup", "error"), $"id").as("event_type"),
      round(-log(lit(1.0) - u01(29, $"id")) * 50, 2).as("value"),
      format_string("{\"k\": %d}", (u01(30, $"id") * 100).cast("int")).as("props"))
  }

  /** 10..100 words from a 30-word vocabulary, 5 % with a trailing "dup"
    * marker, ~8 exact-duplicate pairs per 5000 documents. */
  def documents(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "the", "row", "agg", "key", "query", "a", "scan", "batch")
    val vocabArr = array(vocab.map(lit): _*)
    val base = spark.range(nDocs).select(
      $"id".as("doc_id"),
      concat(
        array_join(transform(
          sequence(lit(1), (u01(31, $"id") * 91).cast("int") + 10),
          i => element_at(vocabArr, (u01(32, $"id", i) * vocab.size).cast("int") + 1)), " "),
        when(u01(33, $"id") < 0.05, lit(" dup")).otherwise(lit(""))).as("text"),
      when(u01(34, $"id") < 0.41, "en")
        .otherwise(pick(35, Seq("de", "fr", "zh", "es"), $"id")).as("lang"),
      concat(lit("src"), (u01(36, $"id") * 20).cast("int")).as("source"))
    val dupPairs = base
      .where(u01(37, $"doc_id") < 8.0 / 5000)
      .select($"doc_id".as("_dup_id"), (u01(38, $"doc_id") * nDocs).cast("long").as("_src_id"))
      .where($"_dup_id" =!= $"_src_id")
    val srcText = base.select($"doc_id".as("_src_id"), $"text".as("_src_text"))
    base
      .join(broadcast(dupPairs.join(srcText, "_src_id")
        .select($"_dup_id", $"_src_text")), $"doc_id" === $"_dup_id", "left")
      .select($"doc_id",
        coalesce($"_src_text", $"text").as("text"),
        $"lang", $"source",
        length(coalesce($"_src_text", $"text")).cast("long").as("n_chars"))
  }

  /** Write `df` as `dir/name.parquet` in `files` files. */
  def write(df: DataFrame, dir: String, name: String, files: Int): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$name.parquet")
}

object Gen {
  /** Check the declared row count and entity cardinality of a written table. */
  def assertShape(spark: SparkSession, path: String, rows: Long, entityCol: String,
      minEntities: Long, maxEntities: Long): Unit = {
    val r = spark.read.parquet(path)
      .agg(count(lit(1)), countDistinct(col(entityCol))).head()
    val (n, k) = (r.getLong(0), r.getLong(1))
    require(n == rows, s"$path: $n rows, expected $rows")
    require(k >= minEntities && k <= maxEntities,
      s"$path: $k distinct $entityCol, expected $minEntities..$maxEntities")
  }
}
