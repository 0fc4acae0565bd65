package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Plan-shape pin for bucketed co-located joins: two tables bucketed on
  * their join keys with the same bucket count must join with ZERO exchange
  * on either join input — the whole point of paying the layout shuffle
  * once at write time. Also pins content identity vs the plain join.
  */
class BucketJoinPlanSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join plans no exchange below the join; content equals plain join") {
    Bucketing.dropPrefixed(spark, "bktspec_")
    val tmp = java.nio.file.Files.createTempDirectory("bktspec").toFile
    try {
      val left = spark.range(0, 10000)
        .select(col("id").as("k"), (col("id") % 97).as("lv"))
      val right = spark.range(0, 2000)
        .select(col("id").as("k"), (col("id") % 13).as("rv"))
      Bucketing.writeBucketed(left, "bktspec_l", s"$tmp/l", "k", 4)
      Bucketing.writeBucketed(right, "bktspec_r", s"$tmp/r", "k", 4)
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bktspec_l").join(spark.table("bktspec_r"), Seq("k"))
        val phys = joined.queryExecution.executedPlan.toString
        assert(!phys.contains("Exchange"),
          s"bucketed join must not shuffle either side:\n$phys")
        val viaBuckets = joined.select("k", "lv", "rv")
          .as[(Long, Long, Long)].collect().toSet
        val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
          .as[(Long, Long, Long)].collect().toSet
        assert(viaBuckets == plain)
        assert(viaBuckets.size == 2000)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    } finally {
      Bucketing.dropPrefixed(spark, "bktspec_")
      graft.streaming.FileReplay.deleteRecursively(tmp)
    }
  }

  test("the gate's join stage itself is exchange-free (only the final agg shuffles)") {
    val df = graft.SparkEntry.gate("q_bucket_join").run(spark, graft.SparkEntry.SmokeDir)
    val phys = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(phys).length
    assert(exchanges == 1,
      s"expected ONLY the aggregation exchange above the bucketed join, got $exchanges:\n$phys")
  }
}
