package graft.sources

import graft.SparkSpec
import graft.operators.Bucketing
import org.apache.spark.sql.functions._

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("writePartitioned lays out partition directories and prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val df = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-02", 20.0))
      .toDF("id", "day", "v")
    Sink.writePartitioned(df, dir, Seq("day"))
    assert(new java.io.File(s"$dir/day=2024-01-01").exists())
    val read = spark.read.parquet(dir).filter($"day" === "2024-01-02")
    assert(read.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val a = (1L to 100L).map(i => (i, s"a$i")).toDF("k", "va")
    val b = (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "vb")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Bucketing.writeBucketed(a, "sinkspec_bucketed_a", s"$dir/a", "k", 4)
      Bucketing.writeBucketed(b, "sinkspec_bucketed_b", s"$dir/b", "k", 4)
      // force a sort-merge join so the plan demonstrates bucketing
      // (broadcast would win at this toy size and hide it)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("sinkspec_bucketed_a")
        .join(spark.table("sinkspec_bucketed_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing not used:\n$plan")
      assert(joined.count() == 100L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Bucketing.dropPrefixed(spark, "sinkspec_bucketed_")
    }
  }

  test("writeShards: deterministic membership, complete manifest, pruned reads") {
    import org.apache.spark.sql.functions._
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id")).as("text"))
    val dir = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = Sink.writeShards(docs, dir, "doc_id", 8)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(manifest.map(_._1).toSeq == (0L to 7L), "every shard present")
    assert(manifest.map(_._2).sum == 1000L, "row counts cover the corpus")
    assert(manifest.forall(m => m._3 >= 1L && m._4 > 0L), "files and bytes reported")
    // deterministic: a second export yields the identical shard membership
    val dir2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Sink.writeShards(docs, dir2, "doc_id", 8)
    val m1 = spark.read.parquet(dir).select("doc_id", "shard")
      .as[(Long, Long)].collect().toSet
    val m2 = spark.read.parquet(dir2).select("doc_id", "shard")
      .as[(Long, Long)].collect().toSet
    assert(m1 == m2)
    // a shard predicate prunes to one directory (partition pruning)
    val one = spark.read.parquet(dir).filter(col("shard") === 3L)
    val scanned = one.queryExecution.executedPlan.toString
    assert(one.count() == m1.count(_._2 == 3L))
    assert(scanned.contains("PartitionFilters: [isnotnull(shard"),
      s"shard filter must prune partitions:\n$scanned")
  }
}
