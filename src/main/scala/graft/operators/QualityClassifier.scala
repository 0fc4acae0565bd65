package graft.operators

import graft.functions.Text
import graft.plans.HashExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style LINEAR quality-classifier inference — the learned-model
  * stage most production curation stacks run after rule filters (Gopher,
  * [[QualityFilter]]) and LM scoring ([[NgramLM]]): a document's hashed
  * bag-of-n-grams features (unigrams + word bigrams, fastText
  * `wordNgrams=2`) index an integer-quantized weight vector, and the
  * decision is a thresholded linear score.
  *
  *   logit = bias + scale · (Σ_f w[bucket(f)]) / max(n_features, 1)
  *
  * `bucket(f) = fnv_mix(f) mod B` — the same engine-portable hash family
  * the samplers and sketches use, so an external engine can replay the
  * score bit-for-bit from the (B, weights, scale, bias, seed) artifact.
  * The integer feature sum is exact; the only floating-point steps are one
  * divide, one multiply, one add, identical in any IEEE engine — and the
  * PASS decision thresholds the logit at 0 (sigmoid is monotone, so
  * `sigmoid(logit) > 0.5 ⟺ logit > 0`; no transcendental enters the gate).
  *
  * Scan-side only: features are hashed and summed INSIDE a per-row
  * projection (`aggregate` over the n-gram array) against a weight-vector
  * LITERAL compiled into the plan — the int8-quantized vector is a few KB,
  * the model broadcast cost every executor pays once per plan, zero
  * shuffles, zero joins. At 100 TB this is a pure map over the corpus scan.
  *
  * TRAINING is out of scope (offline, like any model artifact);
  * [[seededWeights]] derives a deterministic stand-in vector so the full
  * inference contract is oracle-checkable without shipping a binary.
  */
object QualityClassifier {

  /** Deterministic int8-quantized stand-in weight vector (splitmix64-style
    * finalizer over the bucket index — public-domain mixing constants),
    * values in [-127, 127]. A real deployment loads trained weights and
    * passes them straight to [[scored]]; everything downstream is
    * identical.
    */
  def seededWeights(buckets: Int, seed: Long): Array[Int] = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    Array.tabulate(buckets) { i =>
      var z = i.toLong * 0x9E3779B97F4A7C15L + seed * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (math.floorMod(z, 255L) - 127L).toInt
    }
  }

  /** The hashed feature bag: word unigrams + bigrams, multiplicity kept
    * (bag semantics, like fastText's input layer). */
  def features(text: Column): Column = {
    val tk = Text.tokens(text)
    concat(tk, when(size(tk) >= 2, Text.wordShinglesAll(text, 2))
      .otherwise(array().cast("array<string>")))
  }

  /** Exact integer feature-weight sum: Σ_f w[fnv_mix(f, seed) mod B].
    *
    * B must be a POWER OF TWO: the cross-engine replay guarantee reduces
    * `fnv_mix(f) mod B` to a mask of the low bits, which every engine
    * computes identically on the signed 64-bit mix; for other B, engines
    * disagree on signed-mod conventions and the bit-for-bit contract is
    * void — so it is required, mirroring `Sketch.countMinCounters`.
    */
  def weightSum(text: Column, weights: Array[Int], seed: Long): Column = {
    require(
      weights.length > 0 && (weights.length & (weights.length - 1)) == 0,
      s"weights.length must be a power of two for engine-portable bucketing, got ${weights.length}")
    val wlit = array(weights.map(w => lit(w.toLong)): _*)
    aggregate(
      features(text),
      lit(0L),
      (acc, f) =>
        acc + element_at(wlit,
          (pmod(HashExpressions.fnvMix(f, seed), lit(weights.length.toLong)) + 1L)
            .cast("int")))
  }

  /** Per-doc scores: `n_features`, exact `sum_w`, `logit`, boolean `pass`
    * (logit > 0 ⟺ sigmoid probability > 0.5). */
  def scored(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: Array[Int],
      scale: Double,
      bias: Double,
      seed: Long): DataFrame =
    df.select(
        col(idCol),
        size(features(col(textCol))).cast("long").as("n_features"),
        weightSum(col(textCol), weights, seed).as("sum_w"))
      .withColumn("logit",
        lit(bias) + lit(scale) *
          (col("sum_w").cast("double") / greatest(col("n_features"), lit(1L)).cast("double")))
      .withColumn("pass", col("logit") > lit(0.0))
}
