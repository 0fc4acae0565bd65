package graft.operators

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The in-memory merge loop against the distributed one: the same merge
  * table for char BPE, byte BPE and WordPiece on the same vocab. `bound`
  * 0 sends any non-empty vocab to the distributed loop. */
class MergeLoopSpec extends SparkSpec {
  import spark.implicits._

  private def vocab(words: (String, Int)*): DataFrame =
    words.map { case (w, c) => (w, c.toLong) }.toDF("word", "cnt")

  /** Every trainer, in memory and distributed, on `v`; returns the
    * in-memory tables so a case can pin their content too. */
  private def sameOnBothPaths(v: DataFrame, m: Int) = {
    val char = Bpe.trainOnWords(v, m)
    assert(char.toSeq == Bpe.trainOnWords(v, m, bound = 0).toSeq, "char BPE")
    val bytes = Bpe.trainBytesOnWords(v, m)
    assert(bytes.toSeq == Bpe.trainBytesOnWords(v, m, bound = 0).toSeq, "byte BPE")
    val wp = WordPiece.trainOnWords(v, m)
    assert(wp.toSeq == WordPiece.trainOnWords(v, m, bound = 0).toSeq, "WordPiece")
    (char, bytes, wp)
  }

  test("tied pair counts break toward the smaller pair on both paths") {
    val (char, _, wp) = sameOnBothPaths(
      vocab("ab" -> 2, "cd" -> 2, "ba" -> 2, "dc" -> 2, "low" -> 3, "lowest" -> 2), m = 6)
    assert(char.take(2).toSeq == Seq((1, "l", "o", 5L), (2, "lo", "w", 5L)))
    assert(wp.length == 6)
  }

  test("overlapping repeats merge greedily left to right on both paths") {
    val (char, bytes, _) = sameOnBothPaths(
      vocab("aaaa" -> 3, "aaa" -> 2, "aaaaa" -> 1, "aa" -> 1), m = 4)
    // aaaa → [aa, aa], aaa → [aa, a], aaaaa → [aa, aa, a], aa → [aa]
    assert(char(0) == ((1, "a", "a", 3L * 3 + 2L * 2 + 1L * 4 + 1L)))
    assert(char(1)._2 == "aa" && char(1)._3 == "aa")
    assert(bytes(0)._2 == "61" && bytes(0)._3 == "61")
  }

  test("a vocab of single-symbol words stops at step 1 with no merge") {
    val (char, bytes, wp) = sameOnBothPaths(vocab("a" -> 5, "b" -> 3, "7" -> 1), m = 3)
    assert(char.isEmpty && bytes.isEmpty && wp.isEmpty)
  }

  test("m beyond the possible merges stops when no pair is left") {
    val (char, bytes, wp) = sameOnBothPaths(vocab("abc" -> 2, "de" -> 1), m = 10)
    assert(char.length == 3 && bytes.length == 3 && wp.length == 3)
  }

  test("multi-byte UTF-8 merges bytes inside characters on both paths") {
    val (_, bytes, _) = sameOnBothPaths(
      vocab("Über" -> 3, " naïve" -> 2, "日本語" -> 2, "😀x" -> 1, "über" -> 1), m = 8)
    // merges reach inside multi-byte characters (bytes ≥ 0x80)
    assert(bytes.exists { case (_, a, b, _) =>
      (a + b).grouped(2).exists(h => Integer.parseInt(h, 16) >= 0x80) }, bytes.toSeq)
  }

  test("ties between symbols compare as UTF-8 bytes, Spark's string order") {
    // U+FF58 (EF BD 98) sorts before U+1F600 (F0 9F 98 80) as UTF-8,
    // after it as UTF-16 code units
    val (char, _, _) = sameOnBothPaths(
      vocab("ｘa" -> 2, "😀a" -> 2), m = 1)
    assert(char.toSeq == Seq((1, "ｘ", "a", 2L)))
  }

  test("a vocab of exactly bound rows trains in memory, bound + 1 rows does not") {
    val bound = 5
    val rows = Seq("low" -> 3, "lower" -> 2, "newest" -> 4, "widest" -> 1,
      "new" -> 2, "wide" -> 2)
    for (n <- Seq(bound, bound + 1)) {
      val v = vocab(rows.take(n): _*)
      assert(MergeLoop.collect(v.select($"word".as("s"), $"cnt"), bound).isDefined == (n == bound),
        s"$n rows")
      val char = Bpe.trainOnWords(v, 6, bound)
      assert(char.toSeq == Bpe.trainOnWords(v, 6).toSeq, s"char BPE, $n rows")
      assert(char.toSeq == Bpe.trainOnWords(v, 6, bound = 0).toSeq, s"char BPE, $n rows")
      val bytes = Bpe.trainBytesOnWords(v, 6, bound)
      assert(bytes.toSeq == Bpe.trainBytesOnWords(v, 6, bound = 0).toSeq, s"byte BPE, $n rows")
      val wp = WordPiece.trainOnWords(v, 6, bound)
      assert(wp.toSeq == WordPiece.trainOnWords(v, 6, bound = 0).toSeq, s"WordPiece, $n rows")
    }
  }

  test("a training that fits in memory starts as many jobs for m = 1 as for m = 6") {
    val sc = spark.sparkContext
    val v = vocab("lowest" -> 3, "newer" -> 2, "wider" -> 2, "low" -> 5, "new" -> 4,
      "widest" -> 1).repartition(3).localCheckpoint(true)
    def jobs(m: Int): Int = {
      val started = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
      }
      ListenerDrain(sc)
      sc.addSparkListener(listener)
      try {
        assert(Bpe.trainOnWords(v, m).length == m)
        ListenerDrain(sc)
        started.get
      } finally sc.removeSparkListener(listener)
    }
    val (one, six) = (jobs(1), jobs(6))
    assert(one >= 1 && one == six, s"m = 1: $one jobs, m = 6: $six jobs")
  }
}
