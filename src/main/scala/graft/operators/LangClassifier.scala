package graft.operators

import graft.plans.HashExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style multiclass LANGUAGE-ID inference — the learned langid
  * stage real curation pipelines run (fastText lid.176 and its kin),
  * generalizing [[QualityClassifier]]'s hashed-features × literal-weights
  * machinery from one binary logit to per-class logits + argmax:
  *
  *   logit_c = bias + scale · (Σ_f w_c[bucket(f)]) / max(n_features, 1)
  *   lang    = argmax_c logit_c   (ties toward the smaller class index)
  *
  * Features are character trigrams of the lowercased text — the classic
  * langid signal (scripts and letter-sequence statistics separate
  * languages long before word identity does). ONE shared bucket hash
  * (`fnv_mix mod B`, the engine-portable family every sampler/sketch
  * here uses) indexes C per-class weight vectors — exactly a hashed
  * linear layer, evaluated as: hash each feature once into an int bucket
  * array, then each class folds its own literal weight vector over that
  * same array with exact integer sums. The only floating-point steps are
  * one divide/multiply/add per class plus the argmax over identically-
  * computed doubles — all IEEE-exact, so the whole decision replays
  * bit-for-bit in an external engine.
  *
  * Scan-side only: the C int8-quantized vectors ride the plan as literals
  * (a few KB), zero shuffles, zero joins — at 100 TB a pure map over the
  * corpus scan, like the quality classifier it generalizes. TRAINING is
  * offline (a model artifact); [[QualityClassifier.seededWeights]] with
  * per-class seeds supplies deterministic stand-ins so the inference
  * contract is oracle-checkable without shipping a binary.
  */
object LangClassifier {

  /** Trigram-bag size: `max(len(lower(text)) − 2, 0)` — the number of
    * character trigrams of the lowercased text, multiplicity kept (bag
    * semantics — fastText's input layer over `minn=maxn=3`), computed
    * without building them. Texts shorter than 3 characters contribute no
    * features (logits collapse to the shared bias and the argmax tie rule
    * picks class 0). */
  def nFeatures(text: Column): Column =
    greatest(length(lower(text)) - 2, lit(0)).cast("long")

  /** Per-class exact integer feature-weight sums as ONE native string
    * pass ([[graft.plans.TrigramClassSums]] — whole-stage codegen,
    * bit-identical to hashing each character trigram of the lowercased
    * text with `fnv_mix mod B` and folding the literal weight vectors,
    * which as interpreted higher-order functions dominated the sf10
    * decade).
    * Returns `array<bigint>` of length C.
    */
  def classSums(
      text: Column,
      weightsPerClass: Seq[Array[Int]],
      seed: Long): Column = {
    val b = weightsPerClass.head.length
    require(b > 0 && (b & (b - 1)) == 0 && weightsPerClass.forall(_.length == b),
      s"all weight vectors must share one power-of-two length, got " +
        weightsPerClass.map(_.length).mkString(","))
    HashExpressions.trigramClassSums(text, weightsPerClass, seed)
  }

  /** `struct(n_features, lang, logit)` from a [[classSums]] column: one
    * IEEE affine per logit, argmax with ties toward the smaller class
    * index (max over struct(logit, -index) sorts by logit first, then by
    * the SMALLER index).
    */
  def predictedFromSums(
      sums: Column,
      nFeat: Column,
      labels: Seq[String],
      scale: Double,
      bias: Double): Column = {
    require(labels.size >= 2, s"need >= 2 labels, got ${labels.size}")
    val logits = labels.indices.map { i =>
      lit(bias) + lit(scale) * (element_at(sums, i + 1).cast("double") /
        greatest(nFeat, lit(1L)).cast("double"))
    }
    val best = array_max(array(logits.zipWithIndex.map { case (lg, i) =>
      struct(lg.as("l"), lit(-i).as("ni"))
    }: _*))
    struct(
      nFeat.as("n_features"),
      element_at(array(labels.map(lit): _*),
        (-best.getField("ni")) + 1).as("lang"),
      best.getField("l").as("logit"))
  }

  /** Per-doc predictions: `(idCol, n_features, lang, logit)` where `lang`
    * is the argmax label and `logit` its score. `weightsPerClass(i)`
    * pairs with `labels(i)`; all vectors share one power-of-two bucket
    * count B (the [[QualityClassifier.weightSum]] portability rule).
    */
  def classify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labels: Seq[String],
      weightsPerClass: Seq[Array[Int]],
      scale: Double,
      bias: Double,
      seed: Long): DataFrame = {
    require(labels.size == weightsPerClass.size,
      s"one weight vector per label (got ${labels.size} labels, " +
        s"${weightsPerClass.size} vectors)")
    df.select(col(idCol),
        classSums(col(textCol), weightsPerClass, seed).as("_sums"),
        nFeatures(col(textCol)).as("_nf"))
      .select(col(idCol),
        predictedFromSums(col("_sums"), col("_nf"), labels, scale, bias)
          .as("_p"))
      .select(col(idCol), col("_p.n_features").as("n_features"),
        col("_p.lang").as("lang"), col("_p.logit").as("logit"))
  }
}
