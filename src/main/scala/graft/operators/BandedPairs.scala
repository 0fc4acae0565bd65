package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-candidate core of the LSH near-duplicate operators (MinHash
  * [[Dedup.minhashLsh]], SimHash [[Dedup.simhashNearDup]], embedding
  * sign-LSH [[Similarity.embeddingNearDup]] and their batch-vs-corpus
  * probes): one band step, one pair step and one reduce step. Each operator
  * keeps only its signature, its bucket expression and its pair score.
  *
  *   - Band: [[bands]] turns a per-row array of bucket values into one
  *     `(id, payload…, band, bucket)` row per band — the index an operator
  *     self-joins, or persists and probes.
  *   - Pair: two index frames meet on `(band, bucket)`. Each payload column
  *     `c` is `c_a` on the left side and `c_b` on the right.
  *   - Reduce: the score is computed per collision, one aggregate per pair
  *     keeps the best score, then the threshold applies. Every score here
  *     depends only on the pair — estimated Jaccard over the whole
  *     signature, Hamming over the whole fingerprint, exact cosine — so a
  *     pair that collides in several bands scores the same in each and the
  *     per-pair aggregate is pure dedup. Scoring below the aggregate keeps
  *     the shuffle at (id, id, score) rows, combined map-side.
  */
private[graft] object BandedPairs {

  /** A pair score: `value` over the `_a`/`_b` payload columns, output as
    * `name`. Higher-is-better scores keep the max per pair and pass at
    * `>= threshold`; the others keep the min and pass at `<= threshold`. */
  final case class Score(name: String, value: Column, higherIsBetter: Boolean, threshold: Double)

  /** The columns an index row is banded and joined on. */
  private val BandKey = Seq("band", "bucket")

  /** `rows` with one row per element of `buckets` (an array column over
    * `rows`' columns): the element's 0-based position as `band` and the
    * element as `bucket`. */
  def bands(rows: DataFrame, buckets: Column): DataFrame =
    rows.select(col("*"), posexplode(buckets).as(BandKey))

  /** Fraction of equal positions of two same-length signature arrays of
    * length `n` — MinHash's estimated Jaccard. */
  def agreement(a: Column, b: Column, n: Int): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), eq => eq)).cast("double") / n

  /** Self-join of one index: each pair once, as `id_a < id_b`, with its
    * best score. */
  def selfPairs(index: DataFrame, score: Score): DataFrame =
    best(collide(index, index, "id_a", "id_b", col("id_a") < col("id_b")),
      "id_a", "id_b", score)

  /** A `batch` index probing a `corpus` index built with the same geometry:
    * `(id_new, id_corpus, score)`; batch-internal pairs are the self-join's
    * job. The guard `id_new ≠ id_corpus` exists because the documented
    * workflow appends each batch to the corpus index and may probe it
    * afterwards: without the guard every such row collides with itself in
    * every band and reports itself as a perfect duplicate. */
  def probePairs(batch: DataFrame, corpus: DataFrame, score: Score): DataFrame =
    best(collide(batch, corpus, "id_new", "id_corpus", col("id_new") =!= col("id_corpus")),
      "id_new", "id_corpus", score)

  /** Index rows of `left` and `right` that share a `(band, bucket)`,
    * filtered by `guard`. Index columns are positional: id first, band and
    * bucket last, payload between. */
  private def collide(left: DataFrame, right: DataFrame, leftId: String, rightId: String,
      guard: Column): DataFrame = {
    def side(index: DataFrame, id: String, suffix: String) = {
      val payload = index.columns.slice(1, index.columns.length - 2)
      index.toDF((id +: payload.map(_ + suffix)) ++ BandKey: _*)
    }
    side(left, leftId, "_a").join(side(right, rightId, "_b"), BandKey)
      .filter(guard)
  }

  private def best(collisions: DataFrame, leftId: String, rightId: String,
      score: Score): DataFrame = {
    val s = col(score.name)
    collisions.select(col(leftId), col(rightId), score.value.as(score.name))
      .groupBy(leftId, rightId)
      .agg((if (score.higherIsBetter) max(s) else min(s)).as(score.name))
      .filter(if (score.higherIsBetter) s >= score.threshold else s <= score.threshold)
  }
}
