package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Plan-shape pin for the banded-candidate operators (MinHash, SimHash and
  * embedding sign-LSH near-dup, self-join and batch-vs-corpus probe): the
  * number of hash and broadcast exchanges and the join strategies of each
  * operator's physical plan on small inputs, once with the planner free to
  * broadcast and once with broadcast joins off (the shape a corpus too big
  * to broadcast plans). A refactor of the shared candidate chain that adds
  * a shuffle, drops the map-side pair reduction or changes a join strategy
  * fails here before it shows in a bench.
  */
class BandedPairsPlanSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
    (3L, "completely different words about spark catalyst optimizer plans here"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today")
  ).toDF("doc_id", "text")

  private def vecs = (1 to 6).map { i =>
    (i.toLong, Array.tabulate(8)(d => ((i * 7 + d * 3) % 5).toFloat - 2f))
  }.toDF("id", "emb")

  /** `hash=<n> broadcast=<n> joins=<strategy,…>` of the initial physical
    * plan, joins in plan order. */
  private def shape(df: DataFrame): String = {
    val phys = df.queryExecution.executedPlan.toString
    val hash = "Exchange hashpartitioning".r.findAllIn(phys).length
    val bcast = "BroadcastExchange".r.findAllIn(phys).length
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)"
      .r.findAllIn(phys).toSeq
    s"hash=$hash broadcast=$bcast joins=${joins.mkString(",")}"
  }

  /** The shape with the planner's defaults and with broadcast joins off. */
  private def shapes(build: => DataFrame): (String, String) = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    val free = shape(build)
    spark.conf.set(key, "-1")
    try (free, shape(build)) finally spark.conf.set(key, saved)
  }

  private def mhIndex(df: DataFrame) =
    Dedup.minhashIndex(df, "doc_id", "text", shingleLen = 3, numHashes = 16, bands = 4)

  private def embIndex(df: DataFrame) =
    Similarity.embeddingBandIndex(df, "id", "emb", bands = 2, bandBits = 4, dim = 8)

  private val cases: Seq[(String, () => DataFrame, (String, String))] = Seq(
    ("Dedup.minhashLsh",
      () => Dedup.minhashLsh(docs, "doc_id", "text",
        shingleLen = 3, numHashes = 16, bands = 4, threshold = 0.5),
      ("hash=2 broadcast=1 joins=BroadcastHashJoin",
        "hash=5 broadcast=0 joins=SortMergeJoin")),
    ("Dedup.minhashLshAgainst",
      () => Dedup.minhashLshAgainst(mhIndex(docs.filter($"doc_id" > 2L)), mhIndex(docs),
        numHashes = 16, threshold = 0.5),
      ("hash=2 broadcast=1 joins=BroadcastHashJoin",
        "hash=5 broadcast=0 joins=SortMergeJoin")),
    ("Dedup.simhashNearDup",
      () => Dedup.simhashNearDup(docs, "doc_id", "text", shingleLen = 3, maxHamming = 3),
      ("hash=2 broadcast=1 joins=BroadcastHashJoin",
        "hash=5 broadcast=0 joins=SortMergeJoin")),
    ("Similarity.embeddingNearDup",
      () => Similarity.embeddingNearDup(vecs, "id", "emb", threshold = 0.5,
        bands = 2, bandBits = 4, dim = 8),
      ("hash=1 broadcast=1 joins=BroadcastHashJoin",
        "hash=3 broadcast=0 joins=SortMergeJoin")),
    ("Similarity.embeddingNearDupAgainst",
      () => Similarity.embeddingNearDupAgainst(embIndex(vecs.filter($"id" > 3L)),
        embIndex(vecs), threshold = 0.5),
      ("hash=1 broadcast=1 joins=BroadcastHashJoin",
        "hash=3 broadcast=0 joins=SortMergeJoin")))

  for ((name, build, expected) <- cases)
    test(s"$name: exchanges and join strategies") {
      val got = shapes(build())
      assert(got == expected, s"$name plan shape (default, no-broadcast) changed")
    }
}
