package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The merge rounds of subword training: the one loop behind [[Bpe]]
  * (char and byte grain) and [[WordPiece]], in memory or distributed.
  *
  * A merge round needs the whole vocabulary's pair statistics, and the
  * vocabulary (distinct words with counts) is small next to the corpus:
  * thousands to hundreds of thousands of rows. When it fits under
  * [[InMemoryRows]] the sentinel-delimited `(s, cnt)` vocab is collected
  * ONCE and all `m` rounds run on the driver, so a training costs one
  * Spark job (a few incremental scan jobs on a many-partition vocab)
  * whatever `m` is; the distributed loop costs one job plus one set of
  * generated classes per round. A larger vocab falls back to the
  * distributed loop, the only path that handles a vocab too large for the
  * driver.
  *
  * Both paths apply the same rules and give the same merge table (pinned
  * by `MergeLoopSpec`): pair counts over every adjacent pair weighted by
  * `cnt`; argmax by `(score desc, a, b)` with strings in UTF-8 byte order
  * (Spark's string order); the merge a greedy left-to-right
  * non-overlapping scan, which is what one literal `replace` of
  * `<D>a<D><D>b<D>` does on the sentinel encoding ([[Bpe.applyMerges]]);
  * stop when no pair is left.
  */
private[operators] object MergeLoop {

  /** The largest vocab, in rows, trained in memory. A row of a word of
    * ~10 symbols takes ~200 bytes of driver heap (its delimited string,
    * its count and its interned symbol ids), so 2^20 rows stay near
    * 200 MB — room on any driver that runs Spark. Word and GPT-2
    * pre-token vocabularies of large corpora are in the 10^5–10^6 range,
    * so they train in memory; past the bound the collect itself would
    * risk the driver's heap, and the distributed loop takes over.
    */
  val InMemoryRows: Int = 1 << 20

  /** One merge: (step, sym_a, sym_b, pair_cnt, score). */
  type Merge = (Int, String, String, Long, Long)

  /** Up to `m` merges of the sentinel-delimited `(s, cnt)` vocab: in
    * memory when it has at most `bound` rows, else by the distributed
    * loop. Each round scores its pairs by the trainer's rule, given twice:
    * `score` maps `(pair_cnt, cnt_a, cnt_b)` to the argmax key on the
    * driver, where `cnt_a` and `cnt_b` are the count-weighted symbol
    * frequencies, and `scored` maps a round's `(s, cnt)` frame to its
    * scored pairs `(a, b, pcnt, score)`. `merged` names the merged symbol
    * of a pair.
    */
  def train(
      vocab: DataFrame,
      m: Int,
      bound: Int,
      score: (Long, Long, Long) => Long,
      scored: DataFrame => DataFrame,
      merged: (String, String) => String): Array[Merge] = {
    require(m > 0, s"need at least one merge, got $m")
    collect(vocab, bound) match {
      case Some(rows) => inMemory(rows, m, score, merged)
      case None => distributed(vocab, m, scored, merged)
    }
  }

  /** The `(s, cnt)` vocab's rows when it has at most `bound` of them,
    * else `None`: `limit(bound + 1).collect()`, one job over the
    * projection the distributed loop would checkpoint. */
  def collect(vocab: DataFrame, bound: Int): Option[Array[(String, Long)]] = {
    val rows = vocab.select(col("s"), col("cnt").cast("long"))
      .limit(bound + 1).collect()
    if (rows.length > bound) None
    else Some(rows.map(r => (r.getString(0), r.getLong(1))))
  }

  /** Symbols of a delimited string — [[Bpe.symsOf]] on the driver: strip
    * the outer sentinels, split on the doubled inner one (Spark's `split`
    * keeps trailing empties, as `limit = -1` does). */
  private def symbols(s: String): Array[String] =
    s.substring(1, s.length - 1).split(Bpe.D + Bpe.D, -1)

  /** Up to `m` merge rounds over collected `(s, cnt)` rows. */
  private def inMemory(
      vocab: Array[(String, Long)],
      m: Int,
      score: (Long, Long, Long) => Long,
      merged: (String, String) => String): Array[Merge] = {
    val names = mutable.ArrayBuffer.empty[String]
    val keys = mutable.ArrayBuffer.empty[UTF8String]
    val ids = mutable.HashMap.empty[String, Int]
    def intern(s: String): Int = ids.getOrElseUpdate(s, {
      names += s
      keys += UTF8String.fromString(s)
      names.length - 1
    })
    val words = vocab.map { case (s, _) => symbols(s).map(intern) }
    val cnts = vocab.map(_._2)
    val out = Array.newBuilder[Merge]
    var step = 1
    var done = false
    while (step <= m && !done) {
      val symCnt = new Array[Long](names.length)
      val pairCnt = mutable.LongMap.empty[Long]
      var w = 0
      while (w < words.length) {
        val syms = words(w)
        val c = cnts(w)
        var i = 0
        while (i < syms.length) {
          symCnt(syms(i)) += c
          if (i + 1 < syms.length) {
            val k = (syms(i).toLong << 32) | syms(i + 1).toLong
            pairCnt(k) = pairCnt.getOrElse(k, 0L) + c
          }
          i += 1
        }
        w += 1
      }
      if (pairCnt.isEmpty) done = true
      else {
        var bestA = -1
        var bestB = -1
        var bestCnt = 0L
        var bestScore = 0L
        pairCnt.foreachEntry { (k, pc) =>
          val (a, b) = ((k >>> 32).toInt, k.toInt)
          val sc = score(pc, symCnt(a), symCnt(b))
          val wins = bestA < 0 || sc > bestScore || (sc == bestScore && {
            val byA = keys(a).binaryCompare(keys(bestA))
            byA < 0 || (byA == 0 && keys(b).binaryCompare(keys(bestB)) < 0)
          })
          if (wins) { bestA = a; bestB = b; bestCnt = pc; bestScore = sc }
        }
        out += ((step, names(bestA), names(bestB), bestCnt, bestScore))
        val ab = intern(merged(names(bestA), names(bestB)))
        w = 0
        while (w < words.length) {
          words(w) = mergePair(words(w), bestA, bestB, ab)
          w += 1
        }
        step += 1
      }
    }
    out.result()
  }

  /** Merges the distributed loop chains before folding them into a fresh
    * checkpoint, so the expression depth of a round stays bounded for
    * large-m trainings. */
  private val FoldEvery = 16

  /** The merge loop for a vocab too large for the driver. Each round:
    * one vocab-sized scored pair count + a 1-row argmax collect.
    *
    * The vocab is materialized ONCE (`localCheckpoint`); each round's
    * merge is then a CHAINED literal `replace` over that base, so a round
    * costs exactly one Spark job (the argmax) instead of two — an eager
    * re-checkpoint per round would be a full extra job per merge for a
    * vocab-sized table (guide §1.2: the sequential-job count IS the wall
    * clock of a driver loop). The replace chain is re-applied scan-side
    * each round (O(step) cheap string ops per vocab row) and folded back
    * into a fresh checkpoint every [[FoldEvery]] merges. Pair statistics,
    * and therefore the merge trajectory, are bit-identical to the
    * materialize-every-round form.
    */
  private def distributed(
      vocab: DataFrame,
      m: Int,
      scored: DataFrame => DataFrame,
      merged: (String, String) => String): Array[Merge] = {
    var base = vocab.localCheckpoint(true)
    var sym: Column = col("s")
    var depth = 0
    val out = Array.newBuilder[Merge]
    var step = 1
    var done = false
    while (step <= m && !done) {
      val best = scored(base.select(sym.as("s"), col("cnt")))
        .orderBy(col("score").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        out += ((step, a, b, best(0).getLong(2), best(0).getLong(3)))
        sym = Bpe.applyMerges(sym, Seq((a, b, merged(a, b))))
        depth += 1
        if (depth >= FoldEvery) {
          base = base.select(sym.as("s"), col("cnt")).localCheckpoint(true)
          sym = col("s")
          depth = 0
        }
        step += 1
      }
    }
    out.result()
  }

  /** `syms` with every (a, b) occurrence, scanned left to right without
    * overlap, replaced by `ab`; `syms` itself when the pair is absent. */
  private def mergePair(syms: Array[Int], a: Int, b: Int, ab: Int): Array[Int] = {
    var i = 0
    while (i + 1 < syms.length && !(syms(i) == a && syms(i + 1) == b)) i += 1
    if (i + 1 >= syms.length) syms
    else {
      val out = Array.newBuilder[Int]
      out.addAll(syms, 0, i)
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += ab
          i += 2
        } else {
          out += syms(i)
          i += 1
        }
      }
      out.result()
    }
  }
}
