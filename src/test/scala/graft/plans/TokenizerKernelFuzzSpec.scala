package graft.plans

import graft.SparkSpec
import graft.operators.Unigram
import org.apache.spark.sql.functions._

/** Seeded random differential tests for the r11 native tokenizer
  * kernels — each kernel against an independent formulation over inputs
  * the curated gate corpora cannot produce (random OOV shapes, unicode,
  * adversarial tie patterns).
  */
class TokenizerKernelFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260815L)

  test("UnigramSegment == the HOF fold on random words and score tables") {
    val alphabet = "abc12"
    def word() = (1 to (1 + rnd.nextInt(12)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val words = Seq.fill(150)(word()).distinct
    // random piece table: a random subset of all substrings ≤ 4, with
    // random negative scores — plus deliberately-missing singles so the
    // UNK edge and the dropped-word (no known substring) shapes occur
    val pieces = words
      .flatMap(w => for {
        i <- 0 until w.length; l <- 1 to math.min(4, w.length - i)
      } yield w.substring(i, i + l))
      .distinct
      .filter(_ => rnd.nextBoolean())
      .map(p => (p, -(1L + rnd.nextInt(1 << 20)).toLong))
    val vocab = words.zipWithIndex.map { case (w, i) => (w, i.toLong + 1) }
      .toDF("word", "cnt")
    val scores = pieces.toDF("piece", "score")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.select($"word", $"pieces").as[(String, Seq[String])]
        .collect().toMap
    val native = run(Unigram.segmented(vocab, scores))
    val hof = run(References.segmentedHof(vocab, scores))
    assert(native == hof,
      s"kernel/HOF divergence on ${native.size} random words")
    // every segmentation concatenates back to its word
    native.foreach { case (w, ps) => assert(ps.mkString == w, s"$w -> $ps") }
  }

  test("WordPieceEncode == a clean-room greedy reference, unicode included") {
    val alphabet = "abαβ😀1"
    def word() = (1 to (1 + rnd.nextInt(8)))
      .map(_ => alphabet(rnd.nextInt(4))).mkString +
      (if (rnd.nextBoolean()) "😀" else "")
    def refEncode(w: String, vocab: Set[String]): Seq[String] = {
      val cps = w.codePoints().toArray
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var pos = 0
      while (pos < cps.length) {
        val hit = (cps.length - pos to 1 by -1).iterator
          .map(l => new String(cps, pos, l))
          .map(sub => if (pos == 0) sub else "##" + sub)
          .find(vocab.contains)
        hit match {
          case None => return Seq("[UNK]")
          case Some(h) =>
            out += h
            pos += (if (h.startsWith("##")) h.substring(2) else h)
              .codePointCount(0, (if (h.startsWith("##")) h.substring(2) else h).length)
        }
      }
      out.toSeq
    }
    val words = Seq.fill(120)(word()).distinct
    val vocabSet = words.flatMap { w =>
      val cps = w.codePoints().toArray
      for {
        i <- 0 until cps.length; l <- 1 to math.min(3, cps.length - i)
      } yield {
        val sub = new String(cps, i, l)
        if (i == 0) sub else "##" + sub
      }
    }.distinct.filter(_ => rnd.nextInt(3) > 0).toSet
    val vocab = vocabSet.toArray.sorted
    val out = words.toDF("word")
      .select($"word",
        TextExpressions.wordPieceEncode($"word", vocab, "[UNK]").as("ps"))
      .as[(String, Seq[String])].collect().toMap
    words.foreach { w =>
      assert(out(w) == refEncode(w, vocabSet), s"greedy mismatch on '$w'")
    }
  }

  test("Gpt2Pretokens == the java.util.regex GPT-2 pattern (lookahead included) on adversarial fuzz") {
    // the reference IS the published pattern, lookahead and all —
    // UNICODE_CHARACTER_CLASS makes java \s = White_Space, matching the
    // kernel's class definitions; the kernel must reproduce every match
    val P = java.util.regex.Pattern.compile(
      raw"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def ref(s: String): Seq[String] = {
      val m = P.matcher(s)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (m.find()) out += m.group()
      out.toSeq
    }
    // pool covers every scanner rule: real/fake/uppercase contractions,
    // unicode letters (incl. supplementary-plane 𐐷 — code-point
    // iteration), Nd/Nl/No numerics, curly vs straight apostrophes,
    // emoji (So → punct class), and the whitespace zoo (\x0B, NEL \x85,
    // NBSP, LINE SEPARATOR, ideographic space) in runs of every length
    val pool = Seq("'s", "'t", "'re", "'ve", "'m", "'ll", "'d", "'S", "'x",
      "'l", "'v", "''", "don't", "CAN'T", "naïve", "στο", "𐐷𐐷", "ab", "Z",
      "3", "٣٤", "Ⅻ", "²", "!", "?!.", "'", "’", "😀", "🇺🇸", " ", "  ",
      "   ", "\t", "\n", "\r\n", "\u00A0", "\u2028", "\u000B", "\u0085",
      "\u3000", "\f", " \t ", "word", "ltd.", "e.g", "+7")
    def mk() = (0 to rnd.nextInt(20)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    val cases = (Seq("", " ", "x", "'", "don't", "a  b", "a \t b", "trailing  ",
      "  don'tx 'll''d", " naïve ", "𐐷 123Ⅻ² ٣", "!!!'s don'thing",
      "a \tb", "x'll  y", "'re'm", "can''t") ++ Seq.fill(500)(mk())).distinct
    val got = cases.toDF("t")
      .select($"t", TextExpressions.gpt2Pretokens($"t").as("ks"))
      .as[(String, Seq[String])].collect().toMap
    cases.foreach { s =>
      assert(got(s) == ref(s),
        s"kernel/regex divergence on ${s.map(c => f"\\u${c.toInt}%04x").mkString}: " +
          s"${got(s)} vs ${ref(s)}")
      assert(got(s).mkString == s, "pre-tokenization must PARTITION the input")
    }
  }

  test("TokenSeqJoin == the HOF chain it replaced, long and string ids") {
    val rows = (1 to 80).map { i =>
      val n = rnd.nextInt(6)
      val toks = (1 to n).map { j =>
        // even groups draw from a tiny position range to FORCE duplicate
        // positions: the kernel's full-struct tie-break (pos, then ids
        // array) must match array_sort's struct ordering there too —
        // collect_list input order is nondeterministic, so without the
        // tie-break this is exactly where the two sides could diverge
        (rnd.nextInt(if (i % 2 == 0) 4 else 1000),
          (1 to 1 + rnd.nextInt(4)).map(_ => rnd.nextLong(100)).toSeq)
      }
      (i.toLong, toks)
    }
    val df = rows.toDF("id", "toks")
      .select($"id", explode($"toks").as("t"))
      .select($"id", $"t._1".as("wpos"), $"t._2".as("ids"))
      .groupBy($"id")
      .agg(collect_list(struct($"wpos", $"ids")).as("_t"))
    val native = df
      .select($"id", TextExpressions.tokenSeqJoin($"_t").as("r"))
      .select($"id", $"r.n_tokens", $"r.token_ids")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // the HOF formulation, computed over the same grouped frame
    val hof2 = df
      .select($"id",
        array_join(
          transform(
            flatten(transform(
              array_sort($"_t"),
              x => x.getField("ids"))),
            t => t.cast("string")), ",").as("joined"),
        aggregate(transform($"_t", x => size(x.getField("ids"))),
          lit(0L), (a, b) => a + b).as("n"))
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._3, r._2)).toMap
    assert(native == hof2)
  }
}
