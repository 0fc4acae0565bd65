package graft.operators

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet/KenLM-style filter a
  * pretraining pipeline runs to rank documents by fluency: train bigram
  * counts on a reference corpus, then score each document by the
  * add-one-smoothed probability of its bigrams,
  *
  *   p(w2 | w1) = (c(w1 w2) + 1) / (c(w1·) + V)
  *
  * where `c(w1·)` is the count of bigrams whose context is `w1` and `V` the
  * unigram vocabulary size. Low average / minimum probability flags
  * boilerplate, gibberish and OCR noise.
  *
  * Scale shape (100 TB corpus): training is one corpus scan into a
  * map-side-combined `groupBy(bigram).count` — hot bigrams ("of the")
  * collapse to partial aggregates before the shuffle, so the model build has
  * no skew by construction. Context totals derive from the MODEL table
  * (distinct bigrams ≪ corpus), not by re-counting the token stream; the
  * vocabulary size is one map-side-combined distinct-count pass over the
  * tokens. Scoring is one more corpus scan joined to the model on the
  * bigram key: the context table is vocabulary-sized and BROADCAST; the
  * bigram join shuffles, and a hot probe bigram lands in one partition —
  * exactly the shape AQE skew-join splits (spec-exercised in SkewSpec), and
  * when a pruned model fits in memory the caller can broadcast it and score
  * with zero corpus shuffle (KenLM's in-memory model, declaratively).
  *
  * Engine-exactness: counts are integers; each probability is one exact
  * double division, then binary-quantized to k/2^-40 (floor/×2^40/÷2^40 are
  * exact IEEE ops) so per-document sums are association-order-free — the
  * whole score hash-matches an external SQL engine (see
  * the q_ngram_lm gate's oracle in `graft.gates.MiscGates`).
  */
object NgramLM {

  private val Q = 1099511627776.0 // 2^40

  /** Bigram occurrence counts (the model): one scan, map-side combined. */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Text.wordShinglesAll(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("c12"))

  /** Score `docs` against a bigram `model` (from [[bigramCounts]], possibly
    * of a different reference corpus) and unigram vocabulary size `vocab`
    * (1-row DataFrame with column `v`). Emits one row per document with ≥1
    * bigram: `n_bigrams`, `avg_prob`, `min_prob`. Unseen bigrams back off to
    * c=0 through the same smoothing.
    */
  def scoreBigram(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      vocab: DataFrame): DataFrame = {
    // context totals derive from the model (distinct bigrams, tiny vs the
    // corpus) — vocabulary-sized, so broadcast onto the probe stream
    val contexts = model
      .groupBy(substring_index(col("bigram"), " ", 1).as("_w1"))
      .agg(sum(col("c12")).as("c1"))
    val probe = docs.select(
      col(idCol),
      explode(Text.wordShinglesAll(col(textCol), 2)).as("bigram"))
    probe
      .join(model, Seq("bigram"), "left")
      .join(broadcast(contexts),
        substring_index(col("bigram"), " ", 1) === col("_w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_p",
        floor(
          (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("v")).cast("double") * lit(Q))
          / lit(Q))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("_p")) / count(lit(1))).as("avg_prob"),
        min(col("_p")).as("min_prob"))
  }

  /** Train on the corpus itself and score it — the self-perplexity ranking
    * used when no external reference corpus exists.
    */
  def selfScoreBigram(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val vocab = docs
      .select(explode(Text.tokens(col(textCol))).as("_tok"))
      .agg(count_distinct(col("_tok")).as("v"))
    scoreBigram(docs, idCol, textCol, bigramCounts(docs, textCol), vocab)
  }

  /** Top-k collocations by RATIONAL pointwise mutual information — the
    * multiword-expression miner (tokenizer vocab candidates, entity
    * phrases). PMI's `log` is monotone, so ranking by the lift itself,
    *
    *   lift(w1, w2) = (c12/Nb) / ((c1/Nu)·(c2/Nu))
    *                = (c12·Nu/Nb) · (Nu/(c1·c2)),
    *
    * gives the identical top-k with pure IEEE arithmetic — bit-portable
    * scores, like TfIdf's rational idf. `minCount` is the classic PMI
    * guard: without it, hapax pairs (c12 = c1 = c2 = 1) dominate.
    *
    * Scale shape: bigram and unigram counts are both map-side-combined
    * single scans (hot pairs collapse before their shuffles); the unigram
    * table is vocabulary-sized and BROADCAST twice onto the (already
    * aggregated, minCount-pruned) bigram table; the global top-k plans as
    * TakeOrdered (per-partition bounded top-k, then one merge at the
    * driver of k rows per partition — never a global sort).
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"need minCount, k >= 1")
    val bi = bigramCounts(docs, textCol)
    val nb = bi.agg(sum(col("c12")).as("_nb")) // total occurrences, pre-prune
    val uni = docs
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("_c"))
    val nu = uni.agg(sum(col("_c")).as("_nu"))
    // doubles BEFORE any multiply: c1·c2 in int64 would overflow at corpus
    // scale (each can approach Nu); the operation ORDER is part of the
    // operator contract so external engines reproduce scores bitwise
    val lift = (col("c12").cast("double") *
        (col("_nu").cast("double") / col("_nb").cast("double"))) *
      (col("_nu").cast("double") /
        (col("c1").cast("double") * col("c2").cast("double")))
    bi.filter(col("c12") >= minCount)
      .select(
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"),
        col("c12"))
      .join(broadcast(uni.toDF("w1", "c1")), Seq("w1"))
      .join(broadcast(uni.toDF("w2", "c2")), Seq("w2"))
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(nu))
      .select(col("w1"), col("w2"), col("c12"), lift.as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(k)
  }
}
