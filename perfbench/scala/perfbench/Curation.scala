package perfbench

import graft.functions.Text
import graft.operators.{Bpe, Dedup, Html, LangClassifier, Packing, QualityClassifier, QualityFilter}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The training-data curation pipeline as six steps over `documents`:
  * HTML extraction, language and quality tagging, exact then near dedup,
  * BPE tokenization and sequence packing. Each step writes
  * `<out>/<step>.parquet` and later steps read it.
  */
object Curation {
  def run(spark: SparkSession, in: String, out: String, step: StepRunner): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def load(name: String) = Tables.load(spark, out, name)
    def kept = load("lang_quality").filter(col("keep")).select("doc_id", "text")
    def exactSurvivors = kept.join(load("exact_dedup").select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")
    def survivors = exactSurvivors.join(load("near_dedup").select(col("id_b").as("doc_id")),
      Seq("doc_id"), "left_anti")

    step("html_extract") {
      val pages = Tables.documents(spark, in).select(col("doc_id"),
        Html.synthesizePage(col("doc_id"), col("text")).as("html"))
      write("html_extract", Html.extractText(pages, "doc_id", "html")
        .select("doc_id", "text", "n_blocks_kept", "n_blocks_dropped"))
    }

    step("lang_quality") {
      val names = Text.Langs.map(_._1)
      val hits = load("html_extract")
        .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long"))
        .withColumn("_lh", graft.plans.TextExpressions.langHits(col("text"), Text.Langs))
      val best = names.map(l => col(s"_lh.${l}_hits")).reduce(greatest(_, _))
      val pick = names.foldRight(lit("und"): Column) { (l, rest) =>
        when(col(s"_lh.${l}_hits") === best, lit(l)).otherwise(rest)
      }
      val weights = (0 until 4).map(i => QualityClassifier.seededWeights(256, 101L + i))
      val tagged = hits
        .withColumn("predicted_lang", when(best > 0, pick).otherwise(lit("und")))
        .withColumn("_sums", LangClassifier.classSums(col("text"), weights, 53L))
        .withColumn("lang_ml",
          LangClassifier.predictedFromSums(col("_sums"), LangClassifier.nFeatures(col("text")),
            Seq("en", "de", "fr", "es"), 0.05, 0.0).getField("lang"))
      write("lang_quality", QualityFilter.decide(tagged, Seq(
          "too_short" -> (col("n_tokens") < 20),
          "boiler_heavy" -> (col("n_blocks_dropped") >= 10)))
        .select(col("doc_id"), col("text"), col("n_tokens"), col("n_blocks_kept"),
          col("n_blocks_dropped"), col("predicted_lang"), col("lang_ml"), col("keep"),
          array_join(col("reasons"), ",").as("reasons")))
    }

    step("exact_dedup") {
      write("exact_dedup", Dedup.exact(kept, "doc_id", "text"))
    }

    step("near_dedup") {
      write("near_dedup", Dedup.minhashLsh(exactSurvivors, "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5))
    }

    step("tokenize") {
      val vocab = Bpe.wordVocab(survivors, "text").localCheckpoint(true)
      write("tokenize", Bpe.subwordCountsOnWords(vocab, Bpe.trainOnWords(vocab, m = 6), k = 40))
    }

    step("pack") {
      val docs = survivors.select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      write("pack", Packing.packChunks(docs, "doc_id", "n_tokens",
          budgetTokens = 512L, shardCol = pmod(col("doc_id"), lit(8L)))
        .groupBy(col("shard"), col("chunk_seq"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          min(col("chunk_offset")).as("chunk_start_offset")))
    }
  }
}
