package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side helpers: partitioned and sharded parquet layouts (bucketed
  * tables: [[graft.operators.Bucketing]]).
  *
  * The reference materializes incremental dbt models with `cluster_by`
  * (e.g. models/intermediate/int_transactions.sql config) so downstream
  * reads prune; the Spark-native equivalents are (a) directory partitioning
  * for coarse pruning keys (dates), and (b) hash bucketing for join keys —
  * two tables bucketed on the same key join with zero shuffle.
  */
object Sink {

  /** Directory-partitioned parquet — partition pruning for free on
    * `partitionCols` predicates. Choose low-cardinality columns (date, not
    * user id): each distinct tuple is a directory.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Training-data shard layout: rows land in `shard=K` directories by a
    * DETERMINISTIC hash of `idCol` — the same corpus always produces the
    * same shard membership, so a resumed/rerun export is reproducible and
    * downstream loaders can address shards stably (`shard = fnv_mix(id)
    * mod n`, not task-dependent round-robin; the engine-portable FnvMix
    * family means any engine — including the gate's DuckDB oracle — can
    * recompute membership to audit an export). `repartition` on the shard key
    * co-locates each shard's rows so every shard directory gets O(1) files
    * instead of one file per task; trainer-side readers stream shards
    * independently. Returns a per-shard manifest (rows via a metadata-only
    * parquet count, bytes/files from the file system) for the export's
    * consumers.
    */
  def writeShards(
      df: DataFrame,
      path: String,
      idCol: String,
      numShards: Int,
      format: String = "parquet"): DataFrame = {
    val spark = df.sparkSession
    val sharded = df
      // cross-engine note: pmod of the SIGNED hash equals the UNSIGNED
      // value's modulus only when numShards divides 2^64 (signed value =
      // unsigned − 2^64, and 2^64 ≡ 0 mod n only for power-of-two n) —
      // use a power-of-two shard count when membership must be replayed
      // from the unsigned-arithmetic side (the gate query uses n = 8)
      .withColumn("shard",
        pmod(graft.plans.HashExpressions.fnvMix(col(idCol).cast("string"), 13L),
          lit(numShards.toLong)))
      .repartition(col("shard"))
    sharded.write.mode(SaveMode.Overwrite).partitionBy("shard").format(format).save(path)
    val manifest = spark.read.format(format).load(path)
      .groupBy(col("shard")).agg(count(lit(1)).as("n_rows"))
    // bytes and file counts come from the filesystem, not the data
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
      .map { dir =>
        val files = fs.listStatus(dir.getPath).filter(_.isFile)
        (dir.getPath.getName.stripPrefix("shard=").toLong,
          files.length.toLong, files.map(_.getLen).sum)
      }.toSeq
    import spark.implicits._
    manifest.join(
      stats.toDF("shard", "n_files", "bytes"), Seq("shard"), "left")
  }
}
