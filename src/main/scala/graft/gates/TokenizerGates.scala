package graft
package gates

import graft.functions.Text
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Query gates — tokenizer training and encoding: BPE, byte-level BPE, GPT-2
  * pre-tokenization, WordPiece and Unigram. Each gate pairs its Spark query
  * with the DuckDB oracle SQL the correctness gate compares it against. */
private[graft] object TokenizerGates {
  import Shared._

  /** DuckDB CTE chain replaying `Bpe.train(documents, "text", m)`: v0 is
    * the sentinel-delimited character vocab; each round j emits pair counts
    * `pj`, the argmax merge `bj`, and the merged vocab `vj`.
    */
  private def bpeOracleCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |tw AS (SELECT unnest(tk) AS word FROM toks),
         |wv AS (SELECT word, count(*) AS cnt FROM tw
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |v0 AS (SELECT chr(1) || array_to_string(
         |    list_transform(range(1, length(word) + 1), i -> word[i]),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt FROM wv)""".stripMargin)
    for (j <- 1 to m) {
      sb.append(
        s""",
           |p$j AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
           |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
           |    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
           |      chr(1) || chr(1)) AS sy, cnt FROM v${j - 1})
           |  ) GROUP BY 1, 2),
           |b$j AS (SELECT a, b, pcnt FROM p$j ORDER BY pcnt DESC, a, b LIMIT 1),
           |v$j AS (SELECT replace(v${j - 1}.s,
           |    chr(1) || b$j.a || chr(1) || chr(1) || b$j.b || chr(1),
           |    chr(1) || b$j.a || b$j.b || chr(1)) AS s, v${j - 1}.cnt
           |  FROM v${j - 1}, b$j)""".stripMargin)
    }
    sb.toString
  }

  /** DuckDB CTE chain replaying the EXACT GPT-2 pre-tokenizer
    * ([[graft.plans.Gpt2Pretokens]]) over `rel(doc_id, text)` — RE2 has
    * no lookahead, so the oracle replays the scanner's LOCAL rules per
    * character with window functions instead of a regex: classify every
    * code point (S = space, T = other White_Space, L = `\pL`, N = `\pN`,
    * P = rest), detect contraction starts (apostrophe at a scan
    * position — previous char L/N/T/BOS — with the lowercase pair
    * tables), then mark token starts: contraction interiors never start,
    * the char after a contraction always starts, a whitespace char
    * starts at its run start OR as the run's last char before a
    * non-space (the `\s+(?!\S)` split), and a letter/number/punct char
    * starts on class change except after an attaching space. Running-sum
    * the starts into token ids and reassemble. Pre-flighted against
    * `java.util.regex` (lookahead included) on 396 adversarial cases —
    * contraction quirks, the whitespace zoo, supplementary-plane
    * letters. Ends in `gtok(doc_id, wpos, word)`, 1-based wpos in token
    * order. */
  /** Adversarial text appended to every q_gpt2_pretok doc — one instance
    * of every scanner rule: real/fake/uppercase contractions, a tab and
    * an NBSP adjacent to words, double spaces before a word (the
    * `\s+(?!\S)` split), ideographic space, Nd/Nl/No numerics, a
    * supplementary-plane letter, contraction-with-no-boundary, and
    * trailing whitespace. Shared verbatim by the gate and its oracle. */
  private val Gpt2AdversarialSuffix =
    " don't CAN'T  x\ty z ٣Ⅻ² 𐐷 !!!'s" +
      " don'thing 'll''d e.g　+7  "

  private def gpt2PretokCtes(rel: String): String =
    s"""gchars AS (SELECT doc_id, u.i AS i, u.ch FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, length(text) + 1),
       |      i -> struct_pack(i := i, ch := text[i]))) AS u
       |    FROM $rel)),
       |gcls AS (SELECT doc_id, i, ch,
       |    CASE WHEN ch = ' ' THEN 'S'
       |         WHEN regexp_matches(ch, '^[\\x{09}-\\x{0D}\\x{85}\\p{Z}]$$') THEN 'T'
       |         WHEN regexp_matches(ch, '^\\pL$$') THEN 'L'
       |         WHEN regexp_matches(ch, '^\\pN$$') THEN 'N'
       |         ELSE 'P' END AS cls
       |  FROM gchars),
       |gctx AS (SELECT doc_id, i, ch, cls,
       |    lag(cls) OVER gw1 AS pc,
       |    lead(cls) OVER gw1 AS nc,
       |    lead(ch, 1) OVER gw1 AS n1,
       |    lead(ch, 2) OVER gw1 AS n2
       |  FROM gcls WINDOW gw1 AS (PARTITION BY doc_id ORDER BY i)),
       |gact AS (SELECT doc_id, i, ch, cls, pc, nc,
       |    CASE WHEN ch = chr(39) AND (pc IS NULL OR pc IN ('L','N','T'))
       |         THEN CASE WHEN n1 IN ('s','t','m','d') THEN 2
       |                   WHEN (n1='r' AND n2='e') OR (n1='v' AND n2='e')
       |                     OR (n1='l' AND n2='l') THEN 3
       |                   ELSE 0 END
       |         ELSE 0 END AS clen
       |  FROM gctx),
       |gb AS (SELECT doc_id, i, ch, cls, pc, nc, clen,
       |    lag(clen, 1) OVER gw2 AS c1,
       |    lag(clen, 2) OVER gw2 AS c2,
       |    lag(clen, 3) OVER gw2 AS c3
       |  FROM gact WINDOW gw2 AS (PARTITION BY doc_id ORDER BY i)),
       |gstart AS (SELECT doc_id, i, ch,
       |    CASE
       |      WHEN coalesce(c1, 0) >= 2 OR coalesce(c2, 0) = 3 THEN 0
       |      WHEN coalesce(c2, 0) = 2 OR coalesce(c3, 0) = 3 THEN 1
       |      WHEN clen > 0 THEN 1
       |      WHEN cls IN ('S','T') THEN
       |        CASE WHEN pc IS NULL OR pc NOT IN ('S','T') THEN 1
       |             WHEN nc IS NOT NULL AND nc NOT IN ('S','T') THEN 1
       |             ELSE 0 END
       |      ELSE CASE WHEN pc IS NULL OR pc = 'T' THEN 1
       |                WHEN pc = 'S' THEN 0
       |                WHEN pc <> cls THEN 1 ELSE 0 END
       |    END AS b
       |  FROM gb),
       |gtid AS (SELECT doc_id, i, ch, sum(b) OVER (
       |    PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS tid
       |  FROM gstart),
       |gtok AS (SELECT doc_id, cast(tid AS bigint) AS wpos,
       |    string_agg(ch, '' ORDER BY i) AS word
       |  FROM gtid GROUP BY doc_id, tid)""".stripMargin

  /** DuckDB CTE chain replaying `Bpe.trainBytes(documents, "text", m)`:
    * the byte-level (GPT-2) variant of [[bpeOracleCtes]] — the EXACT
    * GPT-2 pre-tokenizer ([[gpt2PretokCtes]]) chunks raw text (no
    * lowercase, no filter), each pre-token encodes to
    * sentinel-delimited 2-digit-hex BYTE symbols (`hex(encode(word))`),
    * then the identical merge-round replay.
    */
  private def bpeBytesOracleCtes(m: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""${gpt2PretokCtes("documents")},
         |bbwv AS (SELECT word, count(*) AS cnt FROM gtok GROUP BY 1),
         |bbv0 AS (SELECT word, chr(1) || array_to_string(
         |    list_transform(range(1, length(hx) // 2 + 1),
         |      i -> substring(hx, i * 2 - 1, 2)),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt
         |  FROM (SELECT word, hex(encode(word)) AS hx, cnt FROM bbwv))""".stripMargin)
    for (j <- 1 to m) {
      sb.append(
        s""",
           |bbp$j AS (SELECT u.a AS a, u.b AS b, sum(cnt) AS pcnt FROM (
           |    SELECT cnt, unnest(list_transform(range(1, len(sy)),
           |      i -> struct_pack(a := sy[i], b := sy[i + 1]))) AS u
           |    FROM (SELECT string_split(substring(s, 2, length(s) - 2),
           |      chr(1) || chr(1)) AS sy, cnt FROM bbv${j - 1})
           |  ) GROUP BY 1, 2),
           |bbb$j AS (SELECT a, b, pcnt FROM bbp$j ORDER BY pcnt DESC, a, b LIMIT 1),
           |bbv$j AS (SELECT bbv${j - 1}.word, replace(bbv${j - 1}.s,
           |    chr(1) || bbb$j.a || chr(1) || chr(1) || bbb$j.b || chr(1),
           |    chr(1) || bbb$j.a || bbb$j.b || chr(1)) AS s, bbv${j - 1}.cnt
           |  FROM bbv${j - 1}, bbb$j)""".stripMargin)
    }
    sb.toString
  }

  /** WordPiece trajectory replay (operators/WordPiece.scala): sentinel
    * `##`-prefixed symbol encoding, per-round pair + symbol counts, the
    * quantized-likelihood argmax `ilog2q(pcnt) − ilog2q(ca) − ilog2q(cb)`
    * (exact integer ops, ties (score desc, a, b)), literal-replace
    * merges, then GREEDY longest-match-first segmentation of the word
    * vocab against the final vocabulary as a recursive position walk
    * (list_max over the per-position match lengths; an unmatchable
    * position collapses the word to one '[UNK]'). Ends in
    * `wpm1..wpmM` (the merges), `wpseg(word, cnt, ps)` (greedy
    * segmentations) and `wpid(sym, tid)` (dense ids). A round whose
    * corpus has NO mergeable pair left (every word already one symbol)
    * produces an empty `wpm$$r`; the vocab CTE LEFT-JOINs the merge row
    * and falls back to the previous round's strings, matching
    * `WordPiece.train`'s early stop — so the replay is total, not just
    * valid on corpora with ≥ m merges.
    */
  private def wordPieceOracleCtes(m: Int): String = {
    def eCase(v: String) = (62 to 1 by -1)
      .map(k => s"WHEN $v >= ${1L << k} THEN $k").mkString(" ")
    def lg(v: String, e: String) =
      s"($e * 65536 + ((($v - (CAST(1 AS BIGINT) << $e)) << 16) >> $e))"
    val strip = "CASE WHEN b LIKE '##%' THEN substring(b, 3) ELSE b END"
    def roundCtes(r: Int) =
      s"""wp${r}sy AS MATERIALIZED (SELECT cnt, string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1)) AS sy FROM wpv${r - 1}),
         |wp${r}pr AS (SELECT sy[i] AS a, sy[i + 1] AS b, sum(cnt) AS pcnt
         |  FROM wp${r}sy CROSS JOIN unnest(range(1, len(sy))) AS g(i)
         |  GROUP BY 1, 2),
         |wp${r}s AS MATERIALIZED (SELECT sym, sum(cnt) AS scnt
         |  FROM (SELECT unnest(sy) AS sym, cnt FROM wp${r}sy) GROUP BY 1),
         |wp${r}e AS (SELECT a, b, pcnt, sa.scnt AS ca, sb.scnt AS cb,
         |    CASE ${eCase("pcnt")} ELSE 0 END AS ep,
         |    CASE ${eCase("sa.scnt")} ELSE 0 END AS ea,
         |    CASE ${eCase("sb.scnt")} ELSE 0 END AS eb
         |  FROM wp${r}pr JOIN wp${r}s sa ON sa.sym = a
         |  JOIN wp${r}s sb ON sb.sym = b),
         |wpm$r AS MATERIALIZED (SELECT a, b, pcnt,
         |    ${lg("pcnt", "ep")} - ${lg("ca", "ea")} - ${lg("cb", "eb")}
         |      AS score
         |  FROM wp${r}e ORDER BY score DESC, a, b LIMIT 1),
         |wpv$r AS MATERIALIZED (SELECT CASE WHEN a IS NULL THEN s
         |    ELSE replace(s, chr(1) || a || chr(1) || chr(1) || b || chr(1),
         |      chr(1) || a || ($strip) || chr(1)) END AS s, cnt
         |  FROM wpv${r - 1} LEFT JOIN wpm$r ON TRUE)""".stripMargin
    val base =
      s"""wptoks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wpwv AS MATERIALIZED (SELECT word, count(*) AS cnt
         |  FROM (SELECT unnest(tk) AS word FROM wptoks)
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |wpv0 AS MATERIALIZED (SELECT chr(1) || array_to_string(
         |    list_transform(range(1, length(word) + 1),
         |      i -> CASE WHEN i = 1 THEN substring(word, CAST(i AS INT), 1)
         |        ELSE '##' || substring(word, CAST(i AS INT), 1) END),
         |    chr(1) || chr(1)) || chr(1) AS s, cnt, word
         |  FROM wpwv)""".stripMargin
    val fv =
      s"""wpfv AS MATERIALIZED (SELECT DISTINCT sym FROM (
         |  SELECT unnest(sy) AS sym FROM wp1sy
         |  ${(1 to m).map(r =>
              s"UNION ALL SELECT a || ($strip) AS sym FROM wpm$r")
              .mkString("\n  ")})),
         |wpfl AS MATERIALIZED (SELECT list(sym) AS vl FROM wpfv),
         |wpg AS (
         |  SELECT word, cnt, vl, 1 AS pos, CAST([] AS VARCHAR[]) AS ps
         |  FROM wpwv CROSS JOIN wpfl
         |  UNION ALL
         |  SELECT word, cnt, vl,
         |    CASE WHEN L = 0 THEN length(word) + 1 ELSE pos + L END AS pos,
         |    CASE WHEN L = 0 THEN ['[UNK]']
         |      WHEN pos = 1 THEN list_append(ps, substring(word, CAST(pos AS INT), CAST(L AS INT)))
         |      ELSE list_append(ps, '##' || substring(word, CAST(pos AS INT), CAST(L AS INT)))
         |      END AS ps
         |  FROM (
         |    SELECT word, cnt, vl, pos, ps,
         |      CAST(coalesce(list_max(list_filter(range(1, length(word) - pos + 2),
         |        l -> list_contains(vl, CASE WHEN pos = 1
         |          THEN substring(word, CAST(pos AS INT), CAST(l AS INT))
         |          ELSE '##' || substring(word, CAST(pos AS INT), CAST(l AS INT)) END))),
         |        0) AS BIGINT) AS L
         |    FROM wpg WHERE pos <= length(word))),
         |wpseg AS MATERIALIZED (SELECT word, cnt, ps FROM wpg WHERE pos = length(word) + 1),
         |wpid AS (SELECT sym, row_number() OVER (ORDER BY sym) AS tid
         |  FROM (SELECT DISTINCT sym FROM
         |    (SELECT sym FROM wpfv UNION ALL SELECT '[UNK]')))""".stripMargin
    (Seq(base) ++ (1 to m).map(roundCtes) :+ fv).mkString(",\n")
  }

  private lazy val unigramOracleCtes: String = {
    val neg = -(1L << 40)
    val neg2 = 2L * neg
    def eCase(v: String) = (62 to 1 by -1)
      .map(k => s"WHEN $v >= ${1L << k} THEN $k").mkString(" ")
    def ilogCtes(src: String, p: String) =
      s"""${p}e AS (SELECT piece, used, CASE ${eCase("used")} ELSE 0 END AS e
         |  FROM $src),
         |${p}lg AS (SELECT piece, used,
         |    (e * 65536 + (((used - (CAST(1 AS BIGINT) << e)) << 16) >> e)) AS lg
         |  FROM ${p}e),
         |${p}t AS (SELECT sum(used) AS t FROM $src),
         |${p}te AS (SELECT t, CASE ${eCase("t")} ELSE 0 END AS e FROM ${p}t),
         |${p}tl AS (SELECT
         |    (e * 65536 + (((t - (CAST(1 AS BIGINT) << e)) << 16) >> e)) AS lgt
         |  FROM ${p}te),
         |${p}scr AS (SELECT piece, used, lg - lgt AS score
         |  FROM ${p}lg CROSS JOIN ${p}tl)""".stripMargin
    def roundCtes(r: Int) = {
      def cand(k: Int) =
        s"""CASE WHEN j + 1 - $k >= 0 THEN {'s': acc[j + 2 - $k].s +
           |      coalesce(map_extract(m, substring(word, CAST(j + 2 - $k AS INT), $k))[1],
           |        CAST($neg AS BIGINT)), 'bp': j + 1 - $k}
           |      ELSE {'s': CAST($neg2 AS BIGINT), 'bp': -1} END""".stripMargin
      val best =
        s"""list_reduce(list_prepend(
           |      ${cand(4)},
           |      [${Seq(3, 2, 1).map(cand).mkString(",\n      ")}]),
           |      (b, c) -> CASE WHEN c.s > b.s THEN c ELSE b END)""".stripMargin
      s"""u${r}wm AS (SELECT w.word, MAP(list(w.piece), list(s.score)) AS m
         |  FROM uwp w JOIN u${r}scr s USING (piece) GROUP BY w.word),
         |u${r}dp AS (
         |  SELECT v.word, v.cnt, m.m, 0 AS j,
         |    [{'s': CAST(0 AS BIGINT), 'bp': 0}] AS acc
         |  FROM uwv v JOIN u${r}wm m USING (word)
         |  UNION ALL
         |  SELECT word, cnt, m, j + 1, list_append(acc, $best)
         |  FROM u${r}dp WHERE j < length(word)),
         |u${r}acc AS (SELECT word, cnt, acc FROM u${r}dp WHERE j = length(word)),
         |u${r}bt AS (
         |  SELECT word, cnt, acc, length(word) AS j, CAST([] AS VARCHAR[]) AS ps
         |  FROM u${r}acc
         |  UNION ALL
         |  SELECT word, cnt, acc, acc[j + 1].bp,
         |    list_prepend(substring(word, CAST(acc[j + 1].bp + 1 AS INT),
         |      j - acc[j + 1].bp), ps)
         |  FROM u${r}bt WHERE j > 0),
         |u${r}cnt AS (SELECT piece, sum(cnt) AS used
         |  FROM (SELECT cnt, unnest(ps) AS piece FROM u${r}bt WHERE j = 0)
         |  GROUP BY 1)""".stripMargin
    }
    def keepCtes(r: Int) =
      s"""u${r}top AS (SELECT piece, used FROM u${r}cnt
         |  ORDER BY used DESC, piece LIMIT 48),
         |u${r}sng AS (SELECT s.piece, coalesce(c.used, 1) AS used
         |  FROM usingles s LEFT JOIN u${r}cnt c USING (piece)),
         |u${r}kept AS (SELECT piece, max(used) AS used
         |  FROM (SELECT * FROM u${r}top UNION ALL SELECT * FROM u${r}sng)
         |  GROUP BY 1)""".stripMargin
    val base =
      s"""utoks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |utw AS (SELECT unnest(tk) AS word FROM utoks),
         |uwv AS (SELECT word, count(*) AS cnt FROM utw
         |  WHERE regexp_full_match(word, '[a-z0-9]+') GROUP BY 1),
         |usub AS (SELECT word, cnt,
         |    substring(word, CAST(i AS INT), CAST(l AS INT)) AS piece
         |  FROM (SELECT word, cnt, unnest(range(1, length(word) + 1)) AS i
         |    FROM uwv) t,
         |  range(1, 5) q(l)
         |  WHERE i + l - 1 <= length(word)),
         |useed AS (SELECT piece, sum(cnt) AS used FROM usub GROUP BY 1),
         |usingles AS (SELECT DISTINCT piece FROM useed WHERE length(piece) = 1),
         |uwp AS (SELECT DISTINCT word, piece FROM usub)""".stripMargin
    Seq(base,
      ilogCtes("useed", "u1"), roundCtes(1), keepCtes(1),
      ilogCtes("u1kept", "u2"), roundCtes(2), keepCtes(2),
      ilogCtes("u2kept", "u3"), roundCtes(3)).mkString(",\n")
  }

  val gates: Seq[Gate] = Seq(
    // §2#36 regex tokenization + token histogram
    Gate("q_token_hist", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(Text.regexTokens("text")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt")),
      """SELECT token, cast(count(*) AS bigint) AS cnt FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+(?:''[a-z]+)?|[0-9]+', 0)) AS token
        |  FROM documents) GROUP BY 1""".stripMargin),

    // §2#46 target-mixture downsampling (DoReMi-style static domain
    // weights): per-class rate min(1, budget·w/n), keep decision from a
    // deterministic engine-portable FnvMix uniform — rates broadcast, the
    // corpus is never shuffled. Report: achieved per-domain counts plus an
    // id checksum proving the exact row selection.
    // §2#36f distributed BPE tokenizer TRAINING: one corpus scan builds
    // the word-count vocab; every merge round runs on the VOCAB table
    // (corpus never rescanned — the classic trainer trick) with a 1-row
    // parameter collect per round. Merge = one literal sentinel-delimited
    // replace (left-to-right non-overlap = BPE greedy semantics = SQL
    // replace semantics), so the full 6-round trajectory hash-matches.
    Gate("q_bpe_train", (s, dir) =>
      Bpe.mergeTable(s, Bpe.train(Tables.documents(s, dir), "text", m = 6)),
      // BPE trajectory replay: m rounds of (pair count over the delimited
      // vocab, argmax with (count desc, pair asc) tie-break, one replace) —
      // replace() has identical left-to-right non-overlap semantics in both
      // engines, which IS the BPE greedy merge rule
      s"""WITH ${bpeOracleCtes(6)}
         |${(1 to 6).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt FROM b$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    // §2#36g the trained tokenizer APPLIED: segmentation on the word vocab
    // (per-word cost, weighted by count), global top-40 subwords.
    // ONE checkpointed vocab feeds training AND application (r17: the
    // corpus scan + vocab groupBy was paid twice)
    Gate("q_bpe_tokenize", (s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      Bpe.subwordCountsOnWords(vocab, Bpe.trainOnWords(vocab, m = 6), k = 40)
    },
      s"""WITH ${bpeOracleCtes(6)},
         |sw AS (SELECT unnest(string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1))) AS subword, cnt FROM v6),
         |agg AS (SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |  FROM sw GROUP BY 1)
         |SELECT subword, n_occurrences FROM agg
         |ORDER BY n_occurrences DESC, subword LIMIT 40""".stripMargin),

    // §2#36r the EXACT GPT-2 pre-tokenizer pinned directly at token
    // grain: every (doc, position, pre-token) for a deterministic doc
    // slice whose text is augmented with an adversarial suffix covering
    // every scanner rule — contractions (real/fake/uppercase), tabs and
    // NBSP inside words, multi-space runs, trailing whitespace, Nd/Nl/No
    // numerics, a supplementary-plane letter. The corpus-wide pin is the
    // byte-BPE family downstream (any pre-token drift moves those
    // hashes); this row pins exact token CONTENT against the
    // window-function oracle replay of the scanner rules
    Gate("q_gpt2_pretok", (s, dir) =>
      Tables.documents(s, dir)
        .where(pmod(col("doc_id"), lit(53L)) === 0L)
        .select(col("doc_id"),
          concat(col("text"), lit(Gpt2AdversarialSuffix)).as("text"))
        .select(col("doc_id"),
          posexplode(Bpe.pretokens(col("text"))).as(Seq("wpos", "word")))
        .select(col("doc_id"), (col("wpos") + 1).cast("long").as("wpos"),
          col("word")),
      // the exact GPT-2 pre-tokenizer pinned at token grain: the scanner
      // rules replayed per character with window functions (gpt2PretokCtes
      // scaladoc) over the suffix-augmented doc slice
      s"""WITH gdocs AS (SELECT doc_id,
         |    text || '${Gpt2AdversarialSuffix.replace("'", "''")}' AS text
         |  FROM documents WHERE doc_id % 53 = 0),
         |${gpt2PretokCtes("gdocs")}
         |SELECT doc_id, wpos, word FROM gtok""".stripMargin),

    // §2#36k BYTE-level BPE training (the GPT-2/tiktoken shape): the
    // EXACT GPT-2 pre-tokenizer (native scanner kernel) chunks raw text,
    // the alphabet is UTF-8 BYTES as hex symbols (any input tokenizes,
    // no unknown symbol), then the same vocab-table merge discipline —
    // corpus scanned once, each round one vocab-sized pair count + a
    // 1-row argmax + one literal replace
    Gate("q_bpe_bytes_train", (s, dir) =>
      Bpe.mergeTable(s, Bpe.trainBytes(Tables.documents(s, dir), "text", m = 8)),
      // byte-level BPE trajectory replay: regex pre-tokens, hex byte
      // symbols, then the identical merge-round replay (replace semantics
      // again identical in both engines)
      s"""WITH ${bpeBytesOracleCtes(8)}
         |${(1 to 8).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt FROM bbb$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    // §2#36l the byte-level tokenizer APPLIED: segmentation on the
    // pre-token vocab, global top-40 subword byte sequences (hex)
    Gate("q_bpe_bytes_tokenize", (s, dir) => {
      val vocab = Bpe.byteVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      Bpe.byteSubwordCountsOnWords(vocab,
        Bpe.trainBytesOnWords(vocab, m = 8), k = 40)
    },
      s"""WITH ${bpeBytesOracleCtes(8)},
         |bsw AS (SELECT unnest(string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1))) AS subword, cnt FROM bbv8),
         |bagg AS (SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |  FROM bsw GROUP BY 1)
         |SELECT subword, n_occurrences FROM bagg
         |ORDER BY n_occurrences DESC, subword LIMIT 40""".stripMargin),

    // §2#36m doc-grain byte tokenization — what packing consumes at the
    // GPT-2 grain: each DISTINCT pre-token segments once (vocab-table
    // trick), documents re-assemble into ordered hex-token sequences
    Gate("q_bpe_bytes_doc_ids", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the training vocab IS the distinct pre-token set the doc-grain
      // pass needs — build it once, train on it, segment against it
      val vocab = Bpe.byteVocab(docs, "text").localCheckpoint(true)
      Bpe.docByteTokensOnVocab(docs, "doc_id", "text",
        Bpe.trainBytesOnWords(vocab, m = 8), vocab)
    },
      s"""WITH ${bpeBytesOracleCtes(8)},
         |bwt AS (SELECT word, string_split(substring(s, 2, length(s) - 2),
         |    chr(1) || chr(1)) AS toks FROM bbv8),
         |bdw AS (SELECT doc_id, wpos, word FROM gtok)
         |SELECT doc_id,
         |  cast(sum(len(toks)) AS bigint) AS n_tokens,
         |  array_to_string(flatten(list(toks ORDER BY wpos)), ',') AS token_hex
         |FROM bdw JOIN bwt USING (word)
         |GROUP BY doc_id""".stripMargin),

    // §2#36h unigram-LM tokenizer TRAINING (SentencePiece family, Kudo
    // 2018) — the other standard subword vocabulary next to BPE, as
    // hard-EM: seed = all ≤4-char substrings of the word vocab, two
    // rounds of (Viterbi-segment the vocab under integer ilog2q scores →
    // usage counts → prune to top-48 + all single chars), final scores.
    // The Bpe discipline: corpus scanned once, every round runs on the
    // vocab table; the DP is a per-row fold; the WHOLE trajectory —
    // scores, segmentations, pruning — replays in DuckDB recursive CTEs
    Gate("q_unigram_train", (s, dir) =>
      Unigram.trainArtifact(Tables.documents(s, dir), "text",
        rounds = 2, keepK = 48),
      // unigram-LM trajectory replay: seed counts, integer ilog2q scores,
      // recursive Viterbi DP + backtrace, two pruning rounds, final artifact
      // (u3scr) — the whole hard-EM trajectory in exact integers
      "WITH RECURSIVE " + unigramOracleCtes +
        "\nSELECT piece, cast(used AS bigint) AS used_cnt, " +
        "cast(score AS bigint) AS score FROM u3scr"),

    // §2#36i applying the trained unigram artifact: Viterbi-segment the
    // corpus vocab under the final piece scores, emit the top-40 subword
    // corpus frequencies (the q_bpe_tokenize twin — same output shape,
    // different learned vocabulary)
    Gate("q_unigram_tokenize", (s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      val art = Unigram.trainArtifactOnVocab(vocab, rounds = 2, keepK = 48)
      Unigram.subwordCountsOnVocab(vocab, art, k = 40)
    },
      // application replay: round-3 segmentation counts under the artifact
      "WITH RECURSIVE " + unigramOracleCtes +
        "\nSELECT piece AS subword, cast(used AS bigint) AS n_occurrences " +
        "FROM u3cnt ORDER BY used DESC, subword LIMIT 40"),

    // §2#36j doc-grain tokenization under the trained unigram artifact —
    // what packing consumes: every eligible word Viterbi-segments ONCE
    // (vocab-table trick), pieces map to dense ids, documents re-assemble
    // into their ordered token-id sequences (comma-joined — a string
    // sequence hashes engine-portably)
    Gate("q_unigram_doc_ids", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val art = Unigram.trainArtifact(docs, "text", rounds = 2, keepK = 48)
        .localCheckpoint(true)
      Unigram.docTokenIds(docs, "doc_id", "text", art)
    },
      // doc-grain replay: the round-3 per-word segmentations (u3bt) mapped
      // to dense ids (rank by piece over the artifact), documents
      // re-assembled by word position then piece position
      "WITH RECURSIVE " + unigramOracleCtes + """,
          |dtw AS (SELECT doc_id, i AS wpos, tk[i] AS word
          |  FROM utoks CROSS JOIN unnest(generate_series(1, len(tk))) AS g(i)
          |  WHERE regexp_full_match(tk[i], '[a-z0-9]+')),
          |tid AS (SELECT piece, row_number() OVER (ORDER BY piece) AS tid
          |  FROM u3scr),
          |wseg AS (SELECT word, ps FROM u3bt WHERE j = 0),
          |wp AS (SELECT word, i AS ppos, ps[i] AS piece
          |  FROM wseg CROSS JOIN unnest(generate_series(1, len(ps))) AS g(i)),
          |wids AS (SELECT word, list(tid ORDER BY ppos) AS ids
          |  FROM wp JOIN tid USING (piece) GROUP BY word)
          |SELECT d.doc_id,
          |  cast(sum(len(w.ids)) AS bigint) AS n_tokens,
          |  string_agg(array_to_string(w.ids, ','), ',' ORDER BY d.wpos)
          |    AS token_ids
          |FROM dtw d JOIN wids w USING (word)
          |GROUP BY d.doc_id""".stripMargin),

    // §2#36n WordPiece TRAINING (the BERT vocabulary, Schuster &
    // Nakajima 2012 / Devlin et al. 2018) — the third subword family:
    // merges maximize the quantized-likelihood ratio ilog2q(pcnt) −
    // ilog2q(cnt_a) − ilog2q(cnt_b) (NOT the raw pair count — BPE's one
    // differing rule), non-initial symbols carry the ## continuation
    // prefix. The Bpe vocab-table discipline: corpus scanned once, each
    // round one vocab-sized pair count + symbol count + 1-row argmax +
    // literal replace
    Gate("q_wordpiece_train", (s, dir) =>
      WordPiece.mergeTable(s,
        WordPiece.train(Tables.documents(s, dir), "text", m = 8)),
      // WordPiece trajectory replay: ##-prefixed sentinel symbols, per-round
      // quantized-likelihood argmax in exact integers, literal-replace
      // merges — then the merge table re-derived round by round
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)}
         |${(1 to 8).map(j =>
            s"SELECT cast($j AS bigint) AS step, a AS sym_a, b AS sym_b, " +
              s"cast(pcnt AS bigint) AS pair_cnt, cast(score AS bigint) " +
              s"AS score_q FROM wpm$j")
            .mkString("", "\nUNION ALL\n", "")}""".stripMargin),

    // §2#36o the WordPiece tokenizer APPLIED — greedy longest-match-first
    // against the BOUNDED final vocabulary (alphabet + one symbol per
    // merge; no merge replay): each DISTINCT word encodes once through
    // the native whole-stage-codegen kernel (plans/TextExpressions.scala:
    // WordPieceEncode — the vocab rides as a reference object, never a
    // join), unmatchable words collapse to one [UNK]; top-40 subwords
    Gate("q_wordpiece_tokenize", (s, dir) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, dir), "text")
        .localCheckpoint(true)
      val merges = WordPiece.trainOnWords(vocab, m = 8)
      WordPiece.subwordCountsOnWords(vocab,
        WordPiece.finalVocabOnWords(vocab, merges), k = 40)
    },
      // greedy longest-match-first replay: recursive position walk per
      // vocab word against the final vocabulary (list_max over matching
      // lengths), [UNK] collapse included
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)}
         |SELECT subword, cast(sum(cnt) AS bigint) AS n_occurrences
         |FROM (SELECT cnt, unnest(ps) AS subword FROM wpseg)
         |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 40""".stripMargin),

    // §2#36p doc-grain WordPiece tokenization — the packing consumable
    // at the BERT grain: greedy pieces map to dense ids (rank over the
    // bounded vocab), documents re-assemble into ordered id sequences
    Gate("q_wordpiece_doc_ids", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
      val merges = WordPiece.trainOnWords(vocab, m = 8)
      WordPiece.docTokenIds(docs, "doc_id", "text",
        WordPiece.finalVocabOnWords(vocab, merges))
    },
      // doc-grain replay: greedy segmentations mapped to dense ids (rank
      // by symbol over vocab + [UNK]), re-assembled by word then piece pos
      s"""WITH RECURSIVE ${wordPieceOracleCtes(8)},
         |wpdw AS (SELECT doc_id, i AS wpos, tk[i] AS word
         |  FROM wptoks CROSS JOIN unnest(generate_series(1, len(tk))) AS g(i)
         |  WHERE regexp_full_match(tk[i], '[a-z0-9]+')),
         |wpwp AS (SELECT word, i AS ppos, ps[i] AS piece
         |  FROM wpseg CROSS JOIN unnest(generate_series(1, len(ps))) AS g(i)),
         |wpwi AS (SELECT word, list(tid ORDER BY ppos) AS ids
         |  FROM wpwp JOIN wpid ON piece = sym GROUP BY word)
         |SELECT d.doc_id,
         |  cast(sum(len(w.ids)) AS bigint) AS n_tokens,
         |  string_agg(array_to_string(w.ids, ','), ',' ORDER BY d.wpos)
         |    AS token_ids
         |FROM wpdw d JOIN wpwi w USING (word)
         |GROUP BY d.doc_id""".stripMargin),

    // §2#36q the tokenizer-family COMPARISON row — the "which tokenizer"
    // question a pipeline answers before committing token budgets: all
    // four families train on the corpus and report exact integer totals
    // (unit occurrences, count-weighted chars, tokens) over their own
    // eligible universe (word-grain for char-BPE/unigram/WordPiece;
    // raw pre-tokens for byte-BPE — its n_chars is its own basis).
    // Pure integers, no division — consumers compute chars/token
    Gate("q_tokenizer_eval", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def row(name: String, df: DataFrame) =
        df.select(lit(name).as("tokenizer"), col("n_units"),
          col("n_chars"), col("n_tokens"))
      // r17: ONE word vocab + ONE pre-token vocab feed all four families
      // (this gate used to pay 9 corpus scans), and the four trainings —
      // independent driver-side job loops of small jobs — run from a
      // thread pool so their jobs backfill the cluster instead of
      // serializing (guide §2.6). Each training's trajectory, and so the
      // four output rows, are unchanged.
      val vocab = Bpe.wordVocab(docs, "text").localCheckpoint(true)
      val bvocab = Bpe.byteVocab(docs, "text").localCheckpoint(true)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      try {
        val fChar = Future(Bpe.trainOnWords(vocab, m = 6))
        val fBytes = Future(Bpe.trainBytesOnWords(bvocab, m = 8))
        val fUni = Future(
          Unigram.trainArtifactOnVocab(vocab, rounds = 2, keepK = 48))
        val fWp = Future(WordPiece.trainOnWords(vocab, m = 8))
        // one sequenced await with a generous finite bound: the first
        // failed training propagates immediately (not after every earlier
        // await drains), and a hung training fails the gate instead of
        // blocking it forever on a non-daemon pool (r17 advice); the
        // typed awaits below are instant once the sequence resolves
        val bound = Duration(1, java.util.concurrent.TimeUnit.HOURS)
        Await.result(
          Future.sequence(Seq[Future[Unit]](
            fChar.map(_ => ()), fBytes.map(_ => ()),
            fUni.map(_ => ()), fWp.map(_ => ()))), bound)
        val charMerges = Await.result(fChar, bound)
        val byteMerges = Await.result(fBytes, bound)
        val uniArtifact = Await.result(fUni, bound)
        val wpMerges = Await.result(fWp, bound)
        row("bpe_char", Bpe.charTokenTotalsOnWords(vocab, charMerges))
          .unionByName(row("bpe_bytes",
            Bpe.byteTokenTotalsOnWords(bvocab, byteMerges)))
          .unionByName(row("unigram",
            Unigram.tokenTotalsOnVocab(vocab, uniArtifact)))
          .unionByName(row("wordpiece",
            WordPiece.tokenTotalsOnWords(vocab,
              WordPiece.finalVocabOnWords(vocab, wpMerges))))
      } finally pool.shutdown()
    },
      // tokenizer comparison: all four trajectory replays in one statement,
      // totals as scalar subqueries over each family's final vocab table
      "WITH RECURSIVE " +
        Seq(bpeOracleCtes(6), bpeBytesOracleCtes(8), unigramOracleCtes,
          wordPieceOracleCtes(8)).mkString(",\n") + """
        |SELECT 'bpe_char' AS tokenizer,
        |  (SELECT cast(sum(cnt) AS bigint) FROM wv) AS n_units,
        |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM wv) AS n_chars,
        |  (SELECT cast(sum(len(string_split(substring(s, 2, length(s) - 2),
        |     chr(1) || chr(1))) * cnt) AS bigint) FROM v6) AS n_tokens
        |UNION ALL SELECT 'bpe_bytes',
        |  (SELECT cast(sum(cnt) AS bigint) FROM bbwv),
        |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM bbwv),
        |  (SELECT cast(sum(len(string_split(substring(s, 2, length(s) - 2),
        |     chr(1) || chr(1))) * cnt) AS bigint) FROM bbv8)
        |UNION ALL SELECT 'unigram',
        |  (SELECT cast(sum(cnt) AS bigint) FROM uwv),
        |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM uwv),
        |  (SELECT cast(sum(cnt * len(ps)) AS bigint) FROM u3bt WHERE j = 0)
        |UNION ALL SELECT 'wordpiece',
        |  (SELECT cast(sum(cnt) AS bigint) FROM wpwv),
        |  (SELECT cast(sum(length(word) * cnt) AS bigint) FROM wpwv),
        |  (SELECT cast(sum(cnt * len(ps)) AS bigint) FROM wpseg)""".stripMargin)
  )
}
