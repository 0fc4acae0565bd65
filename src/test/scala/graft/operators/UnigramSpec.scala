package graft.operators

import graft.SparkSpec
import graft.plans.References
import org.apache.spark.sql.functions._

class UnigramSpec extends SparkSpec {
  import spark.implicits._

  test("ilog2q: exact at powers of two, monotone between them") {
    val vals = Seq(1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L, 1025L, 1L << 40)
    val out = vals.toDF("c").select($"c",
        Unigram.ilog2q($"c").as("lg")).as[(Long, Long)].collect().toMap
    assert(out(1L) == 0L)
    assert(out(2L) == 65536L)
    assert(out(4L) == 2L * 65536L)
    assert(out(8L) == 3L * 65536L)
    assert(out(1024L) == 10L * 65536L)
    assert(out(1L << 40) == 40L * 65536L)
    // monotone across the sampled points
    val sorted = vals.sorted.map(out)
    assert(sorted == sorted.sorted)
    // 3 is strictly between 2 and 4, with the interpolated mid fraction
    assert(out(3L) == 65536L + 32768L)
  }

  test("ilog2q on a Long equals the Catalyst expression, past 2^47 too") {
    val vals = Seq(1L, 2L, 3L, 5L, 6L, 1000L, 65535L, 65537L, (1L << 47) + 12345L,
      (1L << 50) + (1L << 49) + 7L, Long.MaxValue)
    val out = vals.toDF("c").select($"c", Unigram.ilog2q($"c").as("lg"))
      .as[(Long, Long)].collect().toMap
    vals.foreach(c => assert(Unigram.ilog2q(c) == out(c), s"c = $c"))
  }

  test("viterbi segmentation prefers high-score pieces and backtraces them") {
    // corpus: 'abab' dominant => piece 'ab' should absorb it
    val docs = Seq.fill(50)((1L, "abab")).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) } ++ Seq((999L, "ba"))
    val art = Unigram.trainArtifact(docs.toDF("doc_id", "text"), "text",
      rounds = 2, keepK = 4)
    val pieces = art.select($"piece").as[String].collect().toSet
    // the whole word is itself ≤ MaxPieceLen: one 'abab' piece beats two
    // 'ab's (fewer pieces, higher total log-likelihood), so the unigram
    // trainer should keep the full-word piece
    assert(pieces.contains("abab"), s"expected 'abab' to survive pruning: $pieces")
    assert(pieces.contains("a") && pieces.contains("b"),
      s"single chars must never be pruned: $pieces")
    val toks = Subwords.counts(
        Unigram.segment(Bpe.wordVocab(docs.toDF("doc_id", "text"), "text"), art), k = 10)
      .as[(String, Long)].collect().toMap
    // 'abab' segments into high-scoring pieces covering the corpus; 50
    // copies dominate the counts (exact split depends on learned scores,
    // but 'ba' from the 1-copy doc can contribute at most 1)
    assert(toks.values.max >= 50L, s"dominant word mass missing: $toks")
  }

  test("ties resolve toward the longest piece deterministically") {
    // one word, all pieces scored equally by construction: a single word
    // 'aa' whose seed counts give 'aa' : 1, 'a' : 2 — after scoring,
    // s(aa) < 2·s(a) is possible; instead verify determinism: two runs
    // produce identical segmentations
    val docs = Seq((1L, "aaa bbb aaa")).toDF("doc_id", "text")
    def run() = Subwords.counts(Unigram.segment(Bpe.wordVocab(docs, "text"),
        Unigram.trainArtifact(docs, "text", rounds = 1, keepK = 8)), k = 10)
      .as[(String, Long)].collect().toSeq
    assert(run() == run())
  }

  test("every word stays segmentable after aggressive pruning") {
    val docs = Seq((1L, "zq xv jw kq mzz qqj")).toDF("doc_id", "text")
    // keepK=1 prunes almost everything; singles guarantee coverage
    val art = Unigram.trainArtifact(docs, "text", rounds = 2, keepK = 1)
    val segs = Subwords.counts(Unigram.segment(Bpe.wordVocab(docs, "text"), art), k = 50)
      .agg(sum($"n_occurrences")).as[Long].collect().head
    // total subword occurrences must cover all 6 words (each ≥ 1 piece)
    assert(segs >= 6L)
  }

  test("native kernel segmentation == HOF reference, OOV shapes included") {
    // train on one corpus, segment ANOTHER containing unknown chars and
    // partially-known words — the shapes where tie rules and UNK edges
    // could diverge. The native UnigramSegment kernel must equal the
    // interpreted fold formulation word for word, piece for piece.
    val train = Seq((1L, "the cat sat on the mat"), (2L, "a cat ate a rat"),
      (3L, "thermostat stat chat 2024 404")).toDF("doc_id", "text")
    val art = Unigram.trainArtifact(train, "text", rounds = 2, keepK = 12)
    val apply = Seq("the", "cat", "thermostat", "xyzzy", "c4tz", "qqqq",
      "a", "statistic", "2024", "zz9cat").zipWithIndex
      .map { case (w, i) => (w, i.toLong + 1L) }
      .toDF("word", "cnt")
    def byWord(df: org.apache.spark.sql.DataFrame) =
      df.select($"word", $"pieces").as[(String, Seq[String])]
        .collect().toMap
    val native = byWord(Unigram.segmented(apply, art))
    val hof = byWord(References.segmentedHof(apply, art))
    assert(native == hof, s"kernel/HOF divergence:\n$native\nvs\n$hof")
    // and the kernel plan stays inside whole-stage codegen (the point)
    val plan = Unigram.segmented(apply, art)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CodegenFallback") ||
      !plan.contains("unigram_segment"),
      s"unigram_segment must not fall back to interpretation:\n$plan")
  }

  test("doc token ids decode back to the document's eligible text") {
    val docs = Seq(
      (1L, "the data data engine"),
      (2L, "engine Data! the"), // 'Data!' fails [a-z0-9]+ and is skipped
      (3L, "!!! ???")) // no eligible words -> absent from output
      .toDF("doc_id", "text")
    val art = Unigram.trainArtifact(docs, "text", rounds = 2, keepK = 16)
    val idToPiece = art.select($"piece").as[String].collect()
      .sorted.zipWithIndex.map { case (p, i) => (i + 1L, p) }.toMap
    val out = Unigram.docTokenIds(docs, "doc_id", "text", art)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    out.foreach { case (docId, n, csv) =>
      val ids = csv.split(",").map(_.toLong)
      assert(ids.length == n)
      val decoded = ids.map(idToPiece).mkString
      val expected = (if (docId == 1L) "the data data engine" else "engine the")
        .replace(" ", "")
      assert(decoded == expected, s"doc $docId decoded '$decoded' != '$expected'")
    }
  }

  test("OOV pieces map to the reserved UNK id 0, never silently drop") {
    // artifact trained on a/b/c text only; apply to documents with chars
    // the artifact has never seen
    val train = Seq((1L, "abc abc cab")).toDF("doc_id", "text")
    val art = Unigram.trainArtifact(train, "text", rounds = 1, keepK = 8)
    val docs = Seq(
      (10L, "abc"), // fully in-vocab
      (11L, "abz"), // 'z' unknown -> UNK mid-sequence, a+b still counted
      (12L, "xyz")) // no known substring at all -> one word-grain UNK
      .toDF("doc_id", "text")
    val out = Unigram.docTokenIds(docs, "doc_id", "text", art)
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(10L, 11L, 12L), "no document may vanish")
    val byDoc = out.map(o => o._1 -> o).toMap
    assert(!byDoc(10L)._3.split(",").contains("0"))
    val ids11 = byDoc(11L)._3.split(",").map(_.toLong)
    assert(ids11.contains(0L) && ids11.exists(_ > 0L))
    assert(byDoc(11L)._2 == ids11.length)
    assert(byDoc(12L)._3 == "0" && byDoc(12L)._2 == 1L)
  }

  test("training rounds run on the vocab table (no corpus rescan per round)") {
    // structural: trainArtifact only scans docs inside wordVocab; the
    // returned artifact's plan must not reference the documents source
    // (checkpointed vocab breaks the lineage)
    val docs = Seq((1L, "some words some words more")).toDF("doc_id", "text")
    val art = Unigram.trainArtifact(docs, "text", rounds = 1, keepK = 8)
    val plan = art.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("localtablescan") ||
      !plan.contains("text"), "artifact lineage should start from the checkpointed vocab")
  }
}
