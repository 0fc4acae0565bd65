package graft
package gates

import graft.functions.Text
import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Query gates — exact, near- and span-level deduplication and
  * decontamination. Each gate pairs its Spark query with the DuckDB oracle
  * SQL the correctness gate compares it against. */
private[graft] object DedupGates {
  import Shared._

  /** DuckDB fragment: distinct 3-word shingles per document of table/CTE
    * `from` → CTE `posting(id, shingle)` (shared by the minhash/simhash
    * oracles, on both the driver corpus and the Zipf corpus).
    */
  private def shinglePostingSql(from: String): String =
    s"""toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
       |  FROM toks WHERE len(tk) >= 3),
       |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh)""".stripMargin

  private val ShinglePostingSql = shinglePostingSql("documents")

  /** DuckDB fragment: the exact-pair core shared by the jaccard/containment
    * oracles — distinct shingles, hot-shingle suppression under the
    * CORPUS-DERIVED cap (max(128, 16384·n_docs ÷ postings), integer
    * division — replaying Dedup.derivedDocFreqCap exactly), per-doc sizes
    * over the FILTERED space, pair intersection counts. Ends in CTE
    * `pairs(id_a, id_b, sa, sb, inter)`; scorers select from it.
    */
  private def ngramPairCoreSql(from: String): String =
    s"""toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
       |  FROM toks WHERE len(tk) >= 3),
       |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
       |capn AS (SELECT greatest(128, (16384 * count(DISTINCT doc_id)) // count(*)) AS cap
       |  FROM posting),
       |rare AS (SELECT shingle FROM posting GROUP BY 1
       |  HAVING count(*) <= (SELECT cap FROM capn)),
       |f0 AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS set_size FROM f0 GROUP BY 1),
       |f AS (SELECT f0.doc_id, f0.shingle, sizes.set_size FROM f0 JOIN sizes USING (doc_id)),
       |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.set_size AS sa, b.set_size AS sb,
       |    count(*) AS inter
       |  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  private val JaccardSelectSql =
    """SELECT id_a, id_b, cast(inter AS double) / (sa + sb - inter) AS jaccard
      |FROM pairs WHERE cast(inter AS double) / (sa + sb - inter) >= 0.8""".stripMargin

  private val ContainmentSelectSql =
    """SELECT id_a, id_b, cast(sa AS bigint) AS size_a, cast(sb AS bigint) AS size_b,
      |  cast(inter AS double) / cast(least(sa, sb) AS double) AS overlap
      |FROM pairs
      |WHERE cast(inter AS double) / cast(least(sa, sb) AS double) >= 0.8""".stripMargin

  /** Segment-dedup oracle over table/CTE `from` cut into `segWords`-token
    * segments; `lead` prepends corpus-construction CTEs.
    */
  private def segmentDedupOracleSql(lead: String, from: String, segWords: Int): String =
    s"""WITH ${lead}toks AS (SELECT doc_id, $TokSql AS tk FROM $from),
       |c AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
       |st AS (SELECT doc_id, tk, n,
       |    list_filter(range(0, greatest(n, 1), $segWords), i -> i < n) AS ss FROM c),
       |segs AS (SELECT doc_id, u.j - 1 AS seg_idx,
       |    array_to_string(list_slice(tk, u.s + 1, u.s + $segWords), ' ') AS seg
       |  FROM (SELECT doc_id, tk,
       |      unnest(list_transform(range(1, len(ss) + 1),
       |        j -> struct_pack(j := j, s := ss[j]))) AS u
       |    FROM st)),
       |th AS (SELECT greatest(3, count(*) // 100) AS t FROM c),
       |dfc AS (SELECT seg, count(*) AS dc
       |  FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY 1),
       |hot AS (SELECT seg FROM dfc, th WHERE dc > t)
       |SELECT s.doc_id, cast(count(*) AS bigint) AS n_segs,
       |  cast(count(h.seg) AS bigint) AS n_removed,
       |  coalesce(string_agg(CASE WHEN h.seg IS NULL THEN s.seg END,
       |    ' ' ORDER BY s.seg_idx), '') AS clean_text
       |FROM segs s LEFT JOIN hot h ON s.seg = h.seg
       |GROUP BY 1""".stripMargin

  /** DuckDB replay of the FnvMix minhash signature + banding pipeline over
    * leading CTEs that must end in `posting(id, shingle)`: one FNV fold per
    * shingle, splitmix finalizer per permutation, signature mins as SIGNED
    * 64-bit like Spark's LongType, 8×4 banding — the WITH-chain through CTE
    * `banded(id, sig, band, bucket)`, shared by the self-join and
    * incremental (batch-vs-corpus) finishers. */
  private def minhashBandedCtes(lead: String): String =
    s"""$lead,
       |folded AS (SELECT id, $FnvFoldSql AS h FROM posting),
       |hx AS (SELECT id, h, unnest(range(0, 32)) AS i FROM folded),
       |z0 AS (SELECT id, i, CAST((CAST(h AS HUGEINT) +
       |    CAST(${mulModSql("CAST(i AS UBIGINT)", GoldenB)} AS HUGEINT))
       |    % 18446744073709551616 AS UBIGINT) AS z FROM hx),
       |z1 AS (SELECT id, i, ${mulModSql("xor(z, z >> 30)", Mix1B)} AS z FROM z0),
       |z2 AS (SELECT id, i, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
       |hv AS (SELECT id, i, CAST(CAST(xor(z, z >> 31) AS HUGEINT) -
       |    CASE WHEN xor(z, z >> 31) >= 9223372036854775808
       |      THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS h FROM z2),
       |hm AS (SELECT id, i, min(h) AS m FROM hv GROUP BY 1, 2),
       |sigs AS (SELECT id, list(m ORDER BY i) AS sig FROM hm GROUP BY 1),
       |banded AS (SELECT id, sig, u.b AS band,
       |    array_to_string(list_transform(list_slice(sig, u.b * 4 + 1, u.b * 4 + 4),
       |      v -> cast(v AS varchar)), ',') AS bucket
       |  FROM sigs, (SELECT unnest(range(0, 8)) AS b) u)""".stripMargin

  /** q_dedup_eval replay: the LSH candidate set (the q_minhash_lsh_zipf
    * chain at τ = 0.5) full-outer-joined against EXACT Jaccard ≥ 0.5
    * ground truth computed over the SAME shingle posting (no df filter
    * — the Zipf corpus's rare shingles keep the self-join linear), then
    * one counts row: precision = tp/cand, recall = tp/truth.
    */
  private def dedupEvalSql: String =
    s"""WITH ${minhashBandedCtes(
          s"""${graft.sources.ZipfCorpus.ZdocsSql},
             |zsam AS (SELECT * FROM zdocs WHERE doc_id < 2000),
             |${shinglePostingSql("zsam")}""".stripMargin)},
       |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT id_a, id_b,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p),
       |lsh AS (SELECT id_a, id_b FROM est
       |  GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5),
       |tsz AS (SELECT id, count(*) AS ss FROM posting GROUP BY 1),
       |tp0 AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
       |  FROM posting a JOIN posting b
       |    ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2),
       |truth AS (SELECT id_a, id_b FROM tp0
       |  JOIN tsz ta ON ta.id = tp0.id_a JOIN tsz tb ON tb.id = tp0.id_b
       |  WHERE cast(inter AS double) / (ta.ss + tb.ss - inter) >= 0.5),
       |j AS (SELECT t.id_a IS NOT NULL AS in_t, l.id_a IS NOT NULL AS in_l
       |  FROM truth t FULL JOIN lsh l
       |    ON t.id_a = l.id_a AND t.id_b = l.id_b)
       |SELECT
       |  cast(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS bigint) AS n_truth,
       |  cast(sum(CASE WHEN in_l THEN 1 ELSE 0 END) AS bigint) AS n_cand,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS bigint) AS n_tp,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS double) /
       |    cast(sum(CASE WHEN in_l THEN 1 ELSE 0 END) AS double) AS precision_,
       |  cast(sum(CASE WHEN in_t AND in_l THEN 1 ELSE 0 END) AS double) /
       |    cast(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS double) AS recall_
       |FROM j""".stripMargin

  private def minhashLshReplaySql(lead: String): String =
    s"""WITH ${minhashBandedCtes(lead)},
       |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |est AS (SELECT id_a, id_b,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p)
       |SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est
       |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin

  /** Incremental finisher: signatures are per-doc, so banding ALL docs and
    * splitting batch/corpus at the pair join is byte-identical to banding
    * the two filtered inputs separately (what the Spark side does). */
  private def minhashAgainstReplaySql(lead: String): String =
    s"""WITH ${minhashBandedCtes(lead)},
       |p AS (SELECT a.id AS id_new, b.id AS id_corpus,
       |    a.sig AS sig_a, b.sig AS sig_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.id % 5 = 0 AND b.id % 5 <> 0),
       |est AS (SELECT id_new, id_corpus,
       |    cast(len(list_filter(range(1, 33), i -> sig_a[i] = sig_b[i])) AS double) / 32
       |      AS est_jaccard
       |  FROM p)
       |SELECT id_new, id_corpus, max(est_jaccard) AS est_jaccard FROM est
       |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin

  /** The decontamination oracle replay — shared VERBATIM by
    * q_decontaminate and q_decontaminate_bloom: the Bloom prefilter's
    * contract is result identity, so both gates compare against one
    * string. */
  private lazy val DecontaminateSql: String =
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |dp AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh
         |  WHERE doc_id % 25 <> 0 OR doc_id >= 12500),
         |bp AS (SELECT doc_id AS bench_id, unnest(shingles) AS shingle FROM sh
         |  WHERE doc_id % 25 = 0 AND doc_id < 12500),
         |hot AS (SELECT shingle FROM dp GROUP BY 1 HAVING count(*) > 1000),
         |dpc AS (SELECT * FROM dp WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |bpc AS (SELECT * FROM bp WHERE shingle NOT IN (SELECT shingle FROM hot)),
         |o AS (SELECT dpc.doc_id, bpc.bench_id, count(*) AS n_overlap
         |  FROM dpc JOIN bpc USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT doc_id, cast(count(*) AS bigint) AS n_bench_hits,
         |  cast(max(n_overlap) AS bigint) AS max_overlap
         |FROM o GROUP BY 1""".stripMargin

  val gates: Seq[Gate] = Seq(
    // §2#25 exact dedup
    Gate("q_dedup_exact", (s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
        |cast(count(*) AS bigint) AS dup_count FROM documents GROUP BY 1""".stripMargin),

    // §2#25d INCREMENTAL exact dedup — the missing `_inc` twin in the exact
    // family (minhash/embed/semdedup/ivf/graph all have one; q_stream_dedup
    // is the streaming sibling): the new batch (doc_id ≡ 0 mod 5, ~20 %)
    // probes a persisted corpus fingerprint index by equi-join on the
    // q_fingerprint key — the corpus is never re-grouped, only the batch's
    // fingerprints shuffle. Every batch doc gets a decision (dup_corpus /
    // dup_batch / new) plus its canonical keep_id; 'new' rows ARE the
    // append-only index delta. DedupSpec pins index-side batch exclusion
    // (a batch-only fingerprint can never report dup_corpus), merged-index
    // ≡ full-corpus fingerprint coverage, and the no-re-group plan shape.
    Gate("q_dedup_exact_inc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      Dedup.exactAgainst(
        Dedup.fingerprintIndex(corpus, "doc_id", "text"),
        batch, "doc_id", "text")
    },
      // incremental EXACT dedup: the q_fingerprint key, corpus index as a
      // grouped CTE, batch decisions via left join + per-fingerprint window
      """WITH fpall AS (SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents),
        |idx AS (SELECT fingerprint, min(doc_id) AS corpus_keep
        |  FROM fpall WHERE doc_id % 5 <> 0 GROUP BY 1),
        |b AS (SELECT doc_id, fingerprint,
        |    min(doc_id) OVER (PARTITION BY fingerprint) AS batch_keep
        |  FROM fpall WHERE doc_id % 5 = 0)
        |SELECT b.doc_id, b.fingerprint,
        |  CASE WHEN idx.corpus_keep IS NOT NULL THEN 'dup_corpus'
        |       WHEN b.batch_keep < b.doc_id THEN 'dup_batch'
        |       ELSE 'new' END AS status,
        |  coalesce(idx.corpus_keep,
        |    CASE WHEN b.batch_keep < b.doc_id THEN b.batch_keep
        |         ELSE b.doc_id END) AS keep_id
        |FROM b LEFT JOIN idx USING (fingerprint)""".stripMargin),

    // §2#28 document fingerprint
    Gate("q_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), Text.fingerprint(col("text")).as("fingerprint")),
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text),
        |'[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fingerprint FROM documents""".stripMargin),

    // §2#29 n-gram Jaccard near-dup pairs. The hot-shingle cap is CORPUS-
    // DERIVED (r14, closing the r13 sf100-decade finding): max(128,
    // 16384·n_docs ÷ postings) bounds candidates at ≤ 16k pairs/doc —
    // linear in N — where the old fixed 1000 measured 18.9e9 candidates
    // (70 GB spill) at sf10. Value ≈ 309–314 on every driver corpus/SF:
    // identical suppression to the old cap at sf0.001–sf1 (max df there
    // ≤ 138 on the dense corpus), and the oracle re-derives it in-query.
    Gate("q_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(Tables.documents(s, dir), "doc_id", "text", 3, 0.8),
      s"""WITH ${ngramPairCoreSql("documents")}
         |$JaccardSelectSql""".stripMargin),

    // §2#29e the SAME operator gated on the OTHER corpus shape: the
    // deterministic open-vocabulary Zipf corpus (graft.sources.ZipfCorpus —
    // power-law word frequencies, planted near-dup/quote/boilerplate
    // structure). The driver corpus is the adversarial density ceiling
    // (every shingle's df grows with N); this is what production corpora
    // look like, and the prefix-filter math is corpus-shape-sensitive by
    // design — both shapes need hash-exact evidence.
    // runs through the EXPLICIT multi-scorer reuse path (Dedup.shingleSets
    // localCheckpoint + ngramJaccardOn) so the checkpoint hook itself is
    // driver-gated: its hashes must match the same DuckDB oracle as the
    // recompute path. (The plain-corpus q_ngram_jaccard keeps the default
    // single-scorer plan — PairMiningReuseSpec pins it checkpoint-free.)
    Gate("q_ngram_jaccard_zipf", (s, dir) =>
      Dedup.ngramJaccardOn(
        Dedup.shingleSets(
          graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
          "doc_id", "text", 3), 0.8),
      // the SAME pair-family oracles replayed over the generated open-
      // vocabulary corpus (graft.sources.ZipfCorpus.ZdocsSql builds it
      // byte-identically in DuckDB) — the realistic-shape gate the dense
      // driver corpus cannot provide
      s"""WITH ${graft.sources.ZipfCorpus.ZdocsSql},
         |${ngramPairCoreSql("zdocs")}
         |$JaccardSelectSql""".stripMargin),

    // §2#29d containment/overlap-coefficient pairs |∩|/min(|A|,|B|):
    // catches quote/partial-copy inclusions whose jaccard is diluted by the
    // larger doc; same bounded inverted-index core as q_ngram_jaccard
    Gate("q_containment", (s, dir) =>
      Dedup.overlapPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8),
      // identical pair core as q_ngram_jaccard; only the scorer differs
      // (min-size denominator), so the two oracles share the CTE chain
      s"""WITH ${ngramPairCoreSql("documents")}
         |$ContainmentSelectSql""".stripMargin),

    // §2#29f containment on the Zipf corpus — the planted 12-word quote
    // docs are the exact quote-inclusion case (containment 1.0, jaccard
    // far below threshold) on a realistic corpus shape
    // reuse path, like q_ngram_jaccard_zipf (overlapPairsOn over the
    // checkpointed shingle sets)
    Gate("q_containment_zipf", (s, dir) =>
      Dedup.overlapPairsOn(
        Dedup.shingleSets(
          graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
          "doc_id", "text", 3), 0.8),
      s"""WITH ${graft.sources.ZipfCorpus.ZdocsSql},
         |${ngramPairCoreSql("zdocs")}
         |$ContainmentSelectSql""".stripMargin),

    // §2#29b dedup DECISION: near-dup pairs → connected components →
    // canonical survivor per duplicate cluster (min doc_id reachable).
    // Every document is labeled with its cluster's keeper; is_canonical
    // marks the row a training pipeline would retain.
    Gate("q_dedup_canonical", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      docs.select(col("doc_id"))
        .join(comp, docs("doc_id") === comp("id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("canonical_id"))
        .withColumn("is_canonical", col("canonical_id") === col("doc_id"))
    },
      // near-dup pairs → transitive closure (recursive CTE) → min reachable
      // id per component — the oracle computes the same canonical keeper the
      // label-propagation operator converges to
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |capn AS (SELECT greatest(128, (16384 * count(DISTINCT doc_id)) // count(*)) AS cap
         |  FROM posting),
         |rare AS (SELECT shingle FROM posting GROUP BY 1
         |  HAVING count(*) <= (SELECT cap FROM capn)),
         |f0 AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS set_size FROM f0 GROUP BY 1),
         |f AS (SELECT f0.doc_id, f0.shingle, sizes.set_size FROM f0 JOIN sizes USING (doc_id)),
         |cnt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.set_size AS sa, b.set_size AS sb,
         |    count(*) AS inter
         |  FROM f a JOIN f b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4),
         |pairs AS (SELECT id_a, id_b FROM cnt
         |  WHERE cast(inter AS double) / (sa + sb - inter) >= 0.8),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a
         |),
         |comp AS (SELECT id, min(r) AS canonical FROM reach GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(c.canonical, d.doc_id) AS canonical_id,
         |  coalesce(c.canonical, d.doc_id) = d.doc_id AS is_canonical
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin),

    // §2#30 MinHash+LSH near-dup. The signature hash family is FnvMix
    // (FNV-1a + splitmix64 — graft.plans.HashExpressions), which DuckDB
    // replays exactly (limb-split wraparound multiplication), so the FULL
    // fast path — signatures, banding, est_jaccard — is hash-checked.
    Gate("q_minhash_lsh", (s, dir) =>
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5),
      // full fast-path replay: FnvMix per (shingle, permutation) — one FNV
      // fold per shingle, then the splitmix finalizer per permutation —
      // signature mins compared as SIGNED 64-bit like Spark's LongType
      minhashLshReplaySql(ShinglePostingSql)),

    // §2#30f the LSH banding PLAN made explicit (the adviseJoin device
    // for dedup): every divisor split b·r = 32 scored by its S-curve
    // threshold's quantized-log2 distance to τ = 7/10, minimum chosen
    // (ties toward more bands = higher recall) — the parameters-sized
    // planner row that q_dedup_eval's precision/recall then measures
    Gate("q_lsh_plan", (s, _) =>
      Dedup.lshPlan(s, numHashes = 32, tauNum = 7L, tauDen = 10L),
      // LSH banding plan: divisor splits of 32, the same ilog2q ladder on
      // b, the (ilog2q(7) − ilog2q(10)) constant inlined exactly
      {
        def ilog2qConst(v: Long): Long = {
          val e = 63 - java.lang.Long.numberOfLeadingZeros(v)
          e.toLong * 65536L + (((v - (1L << e)) << 16) >> e)
        }
        val lt = ilog2qConst(7L) - ilog2qConst(10L)
        val eCase = (62 to 1 by -1)
          .map(k => s"WHEN b >= ${1L << k} THEN $k").mkString(" ")
        s"""WITH bp AS (SELECT b, 32 // b AS r
           |  FROM (SELECT unnest(range(1, 33)) AS b) t WHERE 32 % b = 0),
           |be AS (SELECT b, r, CASE $eCase ELSE 0 END AS e FROM bp),
           |sc AS (SELECT b AS bands, r AS rows_per_band,
           |    abs(r * ($lt) + (e * 65536 +
           |      (((b - (CAST(1 AS BIGINT) << e)) << 16) >> e))) AS score_q
           |  FROM be)
           |SELECT bands, rows_per_band, cast(score_q AS bigint) AS score_q,
           |  (row_number() OVER (ORDER BY score_q * bands, bands DESC) = 1) AS chosen
           |FROM sc""".stripMargin
      }),

    // §2#30c the full minhash fast path on the Zipf corpus: banding must
    // collapse candidates to ≈ the planted pairs when shingles are rare —
    // the linearity the profile measured, now hash-gated
    Gate("q_minhash_lsh_zipf", (s, dir) =>
      Dedup.minhashLsh(
        graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
        "doc_id", "text",
        shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5),
      // the same full replay over the generated open-vocabulary corpus
      minhashLshReplaySql(
        s"""${graft.sources.ZipfCorpus.ZdocsSql},
           |${shinglePostingSql("zdocs")}""".stripMargin)),

    // §2#30e dedup-quality EVALUATION — the measurement loop every
    // curation stack needs before trusting an approximate dedup pass:
    // the LSH candidate set (exact q_minhash_lsh_zipf pipeline, τ = 0.5)
    // scored against EXACT Jaccard ≥ τ ground truth over the SAME
    // shingle sets (no df suppression); one row of counts + precision +
    // recall. Exact truth is inherently quadratic — that is WHY LSH
    // exists — so the eval runs on a FIXED-SIZE AUDIT BLOCK (the first
    // 2000 doc ids): constant cost at every SF (the q_semdedup lesson —
    // the first cut ran truth corpus-wide and went 18× for 10× at sf1,
    // timing out at sf10), and a CONTIGUOUS block, because the planted
    // near-dup pairs live between adjacent ids — an id-modulus sample
    // keeps a pair only when BOTH endpoints survive and measured zero
    // candidates. Auditing a block is the standard dedup-QA methodology
    Gate("q_dedup_eval", (s, dir) => {
      val docs = graft.sources.ZipfCorpus.docs(s, dir)
        .filter(col("doc_id") < 2000L)
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1).as("_c"))
      val truth = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.5,
          maxShingleDocFreq = Long.MaxValue)
        .select(col("id_a"), col("id_b"), lit(1).as("_t"))
      truth.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          count(col("_t")).as("n_truth"),
          count(col("_c")).as("n_cand"),
          count(when(col("_t").isNotNull && col("_c").isNotNull, 1))
            .as("n_tp"))
        .select(col("n_truth"), col("n_cand"), col("n_tp"),
          (col("n_tp").cast("double") / col("n_cand").cast("double"))
            .as("precision_"),
          (col("n_tp").cast("double") / col("n_truth").cast("double"))
            .as("recall_"))
    },
      // the dedup-quality evaluation row (see dedupEvalSql)
      dedupEvalSql),

    // §2#30d INCREMENTAL dedup — the production mode at corpus scale: a new
    // batch (docs with doc_id ≡ 0 mod 5, ~20 %) is deduped AGAINST the
    // existing corpus (the other 80 %) via the persistable minhash band
    // index; the corpus is never self-joined, only the increment's banded
    // rows probe it. Signatures are per-doc, so the oracle bands the whole
    // table once and splits at the pair join — byte-identical.
    Gate("q_dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      Dedup.minhashLshAgainst(
        Dedup.minhashIndex(batch, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8),
        Dedup.minhashIndex(corpus, "doc_id", "text",
          shingleLen = 3, numHashes = 32, bands = 8),
        numHashes = 32, threshold = 0.5)
    },
      // incremental batch-vs-corpus finisher over the same banding replay
      minhashAgainstReplaySql(ShinglePostingSql)),

    // §2#30b MinHash+LSH with a PORTABLE hash family: the exact pipeline of
    // q_minhash_lsh (signature mins → band buckets → bucket join → estimated
    // Jaccard) but with md5-derived 64-bit hashes that DuckDB can replicate
    // digit-for-digit — so the banding/bucketing/estimation math itself is
    // oracle-checked, not just row counts. (q_minhash_lsh keeps codegen'd
    // xxhash64 as the fast path; DuckDB has no xxhash64.)
    Gate("q_minhash_md5", (s, dir) => {
      val numHashes = 16
      val bands = 4
      val rowsPer = numHashes / bands
      // validation slice: md5 is ~5x costlier than xxhash64, so the
      // hash-exact check runs on a bounded sample (the whole table at the
      // sf0.01 gate); the fast xxhash64 variant covers full-scale timing
      val shingled = Tables.documents(s, dir).filter(col("doc_id") < 1000).select(
        col("doc_id").as("id"),
        explode(Text.wordShingles(col("text"), 3)).as("shingle"))
      val hashCols = (0 until numHashes).map(i =>
        conv(substring(md5(concat(lit(s"$i|"), col("shingle"))), 1, 16), 16, 10)
          .cast("decimal(20,0)").as(s"_h$i"))
      val hashed = shingled.select(col("id") +: hashCols: _*)
      val minAggs = (0 until numHashes).map(i => min(col(s"_h$i")).as(s"_m$i"))
      val sigs = hashed.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
      val banded = sigs.select(
          col("id"),
          array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"),
          explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"),
              concat_ws(",",
                (b * rowsPer until (b + 1) * rowsPer).map(i => col(s"_m$i").cast("string")): _*)
                .as("bucket"))): _*)).as("bb"))
        .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val l = banded.toDF("id_a", "sig_a", "band", "bucket")
      val r = banded.toDF("id_b", "sig_b", "band", "bucket")
      l.join(r, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast("double") / numHashes).as("est_jaccard"))
        .groupBy("id_a", "id_b").agg(max("est_jaccard").as("est_jaccard"))
        .filter(col("est_jaccard") >= 0.5)
    },
      // md5-hex folded to a 64-bit unsigned decimal via hugeint — matches
      // Spark's conv(substring(md5(x),1,16),16,10) digit-for-digit
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh),
         |hashed AS (SELECT id,
         |  list_transform(range(0, 16), i ->
         |    cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |      list_transform(split(substring(md5(cast(i AS varchar) || '|' || shingle), 1, 16), ''),
         |        c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |      (acc, x) -> acc * 16 + x) AS decimal(20,0))) AS hs
         |  FROM posting),
         |hx AS (SELECT id, unnest(range(0, 16)) AS i, unnest(hs) AS h FROM hashed),
         |hm AS (SELECT id, i, min(h) AS m FROM hx GROUP BY 1, 2),
         |sigs AS (SELECT id, list(m ORDER BY i) AS sig FROM hm GROUP BY 1),
         |banded AS (SELECT id, sig, u.b AS band,
         |    array_to_string(list_transform(list_slice(sig, u.b * 4 + 1, u.b * 4 + 4),
         |      v -> cast(v AS varchar)), ',') AS bucket
         |  FROM sigs, (SELECT unnest(range(0, 4)) AS b) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.sig AS sig_a, b.sig AS sig_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
         |est AS (SELECT id_a, id_b,
         |    cast(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) AS double) / 16
         |      AS est_jaccard
         |  FROM p)
         |SELECT id_a, id_b, max(est_jaccard) AS est_jaccard FROM est
         |GROUP BY 1, 2 HAVING max(est_jaccard) >= 0.5""".stripMargin),

    // §2#31b SimHash with the portable md5 hash family: bit-sum folding,
    // sign fingerprint (as four 16-bit chunks), chunk-bucket join and
    // Hamming filter — the full simhash math, oracle-checked digit-for-
    // digit (the 64-bit hash rides as two 32-bit halves so both engines
    // can shift/mask it in plain bigint arithmetic).
    Gate("q_simhash_md5", (s, dir) => {
      // validation slice — see q_minhash_md5
      val shingled = Tables.documents(s, dir).filter(col("doc_id") < 1000).select(
        col("doc_id").as("id"),
        explode(Text.wordShingles(col("text"), 3)).as("shingle"))
      val hx = shingled
        .select(col("id"), md5(col("shingle")).as("_md5"))
        .select(col("id"),
          conv(substring(col("_md5"), 1, 8), 16, 10).cast("long").as("hi"),
          conv(substring(col("_md5"), 9, 8), 16, 10).cast("long").as("lo"))
      val bitSums = (0 until 64).map { b =>
        val src = if (b < 32) col("lo") else col("hi")
        sum(shiftright(src, b % 32).bitwiseAND(lit(1L)) * 2 - 1).as(s"_s$b")
      }
      val sums = hx.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
      val chunkCols = (0 until 4).map { c =>
        (0 until 16).map(j =>
          when(col(s"_s${c * 16 + j}") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as(s"chunk$c")
      }
      val fp = sums.select(col("id") +: chunkCols: _*)
      val banded = fp.select(
          col("id"), col("chunk0"), col("chunk1"), col("chunk2"), col("chunk3"),
          explode(array((0 until 4).map(c =>
            struct(lit(c).as("cidx"), col(s"chunk$c").as("piece"))): _*)).as("cp"))
        .select(col("id"), col("chunk0"), col("chunk1"), col("chunk2"), col("chunk3"),
          col("cp.cidx").as("cidx"), col("cp.piece").as("piece"))
      val l = banded.toDF("id_a", "c0a", "c1a", "c2a", "c3a", "cidx", "piece")
      val r = banded.toDF("id_b", "c0b", "c1b", "c2b", "c3b", "cidx", "piece")
      l.join(r, Seq("cidx", "piece"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (bit_count(col("c0a").bitwiseXOR(col("c0b"))) +
            bit_count(col("c1a").bitwiseXOR(col("c1b"))) +
            bit_count(col("c2a").bitwiseXOR(col("c2b"))) +
            bit_count(col("c3a").bitwiseXOR(col("c3b")))).cast("long").as("hamming"))
        .groupBy("id_a", "id_b").agg(min("hamming").as("hamming"))
        .filter(col("hamming") <= 3)
    },
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents WHERE doc_id < 1000),
         |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(tk) - 1),
         |    i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS shingles
         |  FROM toks WHERE len(tk) >= 3),
         |posting AS (SELECT doc_id AS id, unnest(shingles) AS shingle FROM sh),
         |hs AS (SELECT id, md5(shingle) AS m FROM posting),
         |hv AS (SELECT id,
         |  cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |    list_transform(split(substring(m, 1, 8), ''),
         |      c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |    (acc, x) -> acc * 16 + x) AS bigint) AS hi,
         |  cast(list_reduce(list_prepend(cast(0 AS hugeint),
         |    list_transform(split(substring(m, 9, 8), ''),
         |      c -> cast(strpos('0123456789abcdef', c) - 1 AS hugeint))),
         |    (acc, x) -> acc * 16 + x) AS bigint) AS lo
         |  FROM hs),
         |bits AS (SELECT id, unnest(range(0, 64)) AS b,
         |  unnest(list_transform(range(0, 64), b ->
         |    CASE WHEN b < 32 THEN (lo >> b) & 1 ELSE (hi >> (b - 32)) & 1 END)) AS bit
         |  FROM hv),
         |bs AS (SELECT id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
         |chunks AS (SELECT id, b // 16 AS cidx,
         |    cast(sum(CASE WHEN s > 0 THEN 1 << (b % 16) ELSE 0 END) AS bigint) AS piece
         |  FROM bs GROUP BY 1, 2),
         |fp AS (SELECT id, list(piece ORDER BY cidx) AS cs FROM chunks GROUP BY 1),
         |banded AS (SELECT id, cs, u.c AS cidx, cs[u.c + 1] AS piece
         |  FROM fp, (SELECT unnest(range(0, 4)) AS c) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.cs AS cs_a, b.cs AS cs_b
         |  FROM banded a JOIN banded b
         |    ON a.cidx = b.cidx AND a.piece = b.piece AND a.id < b.id),
         |h AS (SELECT id_a, id_b,
         |    bit_count(xor(cs_a[1], cs_b[1])) + bit_count(xor(cs_a[2], cs_b[2])) +
         |    bit_count(xor(cs_a[3], cs_b[3])) + bit_count(xor(cs_a[4], cs_b[4])) AS hamming
         |  FROM p)
         |SELECT id_a, id_b, cast(min(hamming) AS bigint) AS hamming FROM h
         |GROUP BY 1, 2 HAVING min(hamming) <= 3""".stripMargin),

    // §2#31 SimHash near-dup — hash-exact oracle via the FnvMix family
    // (see q_minhash_lsh); the 64-bit fingerprint, chunk banding and
    // Hamming filter are all replayed by the oracle.
    Gate("q_simhash", (s, dir) =>
      Dedup.simhashNearDup(Tables.documents(s, dir), "doc_id", "text",
        shingleLen = 3, maxHamming = 3),
      // FnvMix with seed 0 (the +seed·golden term vanishes), bits extracted
      // from the unsigned value — identical raw bits to Spark's signed long
      s"""WITH $ShinglePostingSql,
         |folded AS (SELECT id, $FnvFoldSql AS h FROM posting),
         |z1 AS (SELECT id, ${mulModSql("xor(h, h >> 30)", Mix1B)} AS z FROM folded),
         |z2 AS (SELECT id, ${mulModSql("xor(z, z >> 27)", Mix2B)} AS z FROM z1),
         |hv AS (SELECT id, xor(z, z >> 31) AS z FROM z2),
         |bits AS (SELECT id, unnest(range(0, 64)) AS b,
         |    unnest(list_transform(range(0, 64), b -> CAST((z >> b) & 1 AS BIGINT))) AS bit
         |  FROM hv),
         |bs AS (SELECT id, b, sum(bit * 2 - 1) AS s FROM bits GROUP BY 1, 2),
         |-- SimHashAgg resolves a tied vote (sum == 0) to bit 1, so >= here
         |chunks AS (SELECT id, b // 16 AS cidx,
         |    cast(sum(CASE WHEN s >= 0 THEN 1 << (b % 16) ELSE 0 END) AS bigint) AS piece
         |  FROM bs GROUP BY 1, 2),
         |fp AS (SELECT id, list(piece ORDER BY cidx) AS cs FROM chunks GROUP BY 1),
         |banded AS (SELECT id, cs, u.c AS cidx, cs[u.c + 1] AS piece
         |  FROM fp, (SELECT unnest(range(0, 4)) AS c) u),
         |p AS (SELECT a.id AS id_a, b.id AS id_b, a.cs AS cs_a, b.cs AS cs_b
         |  FROM banded a JOIN banded b
         |    ON a.cidx = b.cidx AND a.piece = b.piece AND a.id < b.id),
         |hm AS (SELECT id_a, id_b,
         |    bit_count(xor(cs_a[1], cs_b[1])) + bit_count(xor(cs_a[2], cs_b[2])) +
         |    bit_count(xor(cs_a[3], cs_b[3])) + bit_count(xor(cs_a[4], cs_b[4])) AS hamming
         |  FROM p)
         |SELECT id_a, id_b, cast(min(hamming) AS bigint) AS hamming FROM hm
         |GROUP BY 1, 2 HAVING min(hamming) <= 3""".stripMargin),

    // §2#29c segment-level boilerplate removal (C4-style line dedup):
    // hot segments (doc frequency > max(3, N/100), threshold computed
    // in-plan) removed from every doc, text reassembled in order
    Gate("q_segment_dedup", (s, dir) =>
      Dedup.segmentDedup(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", segWords = 3),
      // hot set derived on the segment STRING here (Spark groups by an
      // internal xxhash64 of it — same set, the hash never leaves the plan);
      // string_agg skips the CASE's nulls exactly like Spark's array_join
      segmentDedupOracleSql("", "documents", 3)),

    // §2#29g segment dedup on the Zipf corpus: the planted 8-word
    // boilerplate header (25 % of docs, aligned to two 4-word segments)
    // is exactly the C4-style hot-segment target; zipf body segments stay
    // under the corpus-relative threshold and survive
    Gate("q_segment_dedup_zipf", (s, dir) =>
      Dedup.segmentDedup(
        graft.sources.ZipfCorpus.docs(s, dir, materializeBase = true),
        "doc_id", "text", segWords = 4),
      // segment dedup over the generated open-vocabulary corpus: the planted
      // 8-word boilerplate header (25 % of docs) is the hot-segment target,
      // a realistic shape the uniform driver corpus cannot produce
      segmentDedupOracleSql(
        s"${graft.sources.ZipfCorpus.ZdocsSql},\n", "zdocs", 4)),

    // §2#29h window-grain exact-substring duplicate marking (ExactSubstr
    // family): every 5-token sliding window, a span is duplicated when its
    // exact text occupies ≥2 (doc, position) slots corpus-wide — catches
    // copies at ARBITRARY offsets, where the aligned-segment C4 pass
    // (q_segment_dedup) only sees block-aligned repetition
    Gate("q_dup_spans", (s, dir) =>
      Dedup.duplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 5),
      // window-grain exact-substring duplicate marking: 5-token sliding
      // windows with multiplicity; a window is duplicated when its text
      // occupies >= 2 (doc, position) slots corpus-wide
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, unnest(w) AS win FROM wins),
         |occ AS (SELECT win FROM (SELECT win, count(*) AS c FROM posting GROUP BY 1)
         |  WHERE c >= 2),
         |dpd AS (SELECT doc_id, count(*) AS n_dup
         |  FROM posting JOIN occ USING (win) GROUP BY 1)
         |SELECT w.doc_id,
         |  cast(len(w.w) AS bigint) AS n_windows,
         |  cast(coalesce(d.n_dup, 0) AS bigint) AS n_dup_windows,
         |  CASE WHEN len(w.w) > 0
         |    THEN round(coalesce(d.n_dup, 0) / cast(len(w.w) AS double), 6) END
         |    AS dup_ratio
         |FROM wins w LEFT JOIN dpd d USING (doc_id)""".stripMargin),

    // §2#29i span-grain exact-substring duplicate REMOVAL (ExactSubstr's
    // production endpoint): duplicated 5-token windows (non-first
    // occurrence corpus-wide) merged into maximal spans and cut, survivors
    // reassembled — marking (q_dup_spans) is the signal, this is the knife
    Gate("q_dup_span_removal", (s, dir) =>
      Dedup.removeDuplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", windowTokens = 5),
      // span-grain duplicate REMOVAL: duplicated windows minus the
      // corpus-first occurrence (row_number formulation — Spark uses the
      // equivalent min-(doc,pos) witness), islands on window position,
      // token-level cut, order-preserving reassembly. 1-based list positions
      // throughout (Spark side is 0-based; both self-consistent).
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, u.j AS pos, u.win FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
         |    j -> struct_pack(j := j, win := w[j]))) AS u FROM wins)),
         |ranked AS (SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY win) AS c
         |  FROM posting),
         |cut AS (SELECT doc_id, pos FROM ranked WHERE c >= 2 AND rn > 1),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         |      THEN 1 ELSE 0 END AS brk FROM cut)),
         |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 4 AS e
         |  FROM isl GROUP BY 1, 2),
         |stats AS (SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS n_removed
         |  FROM spans GROUP BY 1),
         |remtok AS (SELECT doc_id, unnest(generate_series(s, e)) AS tp FROM spans),
         |tokens AS (SELECT doc_id, u.j AS tp, u.t FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
         |    j -> struct_pack(j := j, t := tk[j]))) AS u FROM toks)),
         |clean AS (SELECT t.doc_id, string_agg(t.t, ' ' ORDER BY t.tp) AS clean_text
         |  FROM tokens t LEFT JOIN remtok r ON t.doc_id = r.doc_id AND t.tp = r.tp
         |  WHERE r.tp IS NULL GROUP BY 1)
         |SELECT k.doc_id,
         |  cast(len(k.tk) AS bigint) AS n_tokens,
         |  cast(coalesce(st.n_removed, 0) AS bigint) AS n_removed_tokens,
         |  cast(coalesce(st.n_spans, 0) AS bigint) AS n_spans,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM toks k
         |LEFT JOIN stats st USING (doc_id)
         |LEFT JOIN clean c ON k.doc_id = c.doc_id""".stripMargin),

    // §2#29j VARIABLE-LENGTH maximal duplicated spans (Lee et al. 2022
    // ExactSubstr semantics): every maximal run of token positions covered
    // by a corpus-duplicated substring of length ≥ 5, one row per span
    // with its actual length — the L-window coverage theorem (scaladoc on
    // Dedup.maximalDuplicateSpans, brute-force-proven in
    // MaximalDuplicateSpansSpec) makes this computable without a suffix
    // array, at the linear posting cost of the fixed-window family
    Gate("q_dup_spans_var", (s, dir) =>
      Dedup.maximalDuplicateSpans(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", minLen = 5),
      // variable-length maximal duplicated spans: ALL occurrences of
      // duplicated 5-windows (no keep-first), islands on window position,
      // span rows with 0-based token offsets (posting positions are 1-based
      // in the list replay, shifted on output)
      s"""WITH toks AS (SELECT doc_id, $TokSql AS tk FROM documents),
         |wins AS (SELECT doc_id,
         |    CASE WHEN len(tk) >= 5 THEN list_transform(range(1, len(tk) - 3),
         |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))
         |    ELSE [] END AS w
         |  FROM toks),
         |posting AS (SELECT doc_id, u.j AS pos, u.win FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
         |    j -> struct_pack(j := j, win := w[j]))) AS u FROM wins)),
         |occ AS (SELECT win FROM (SELECT win, count(*) AS c FROM posting GROUP BY 1)
         |  WHERE c >= 2),
         |cut AS (SELECT doc_id, pos FROM posting JOIN occ USING (win)),
         |isl AS (SELECT doc_id, pos, sum(brk) OVER (
         |    PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM (SELECT doc_id, pos,
         |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         |      THEN 1 ELSE 0 END AS brk FROM cut))
         |SELECT doc_id,
         |  cast(min(pos) - 1 AS bigint) AS span_start,
         |  cast(max(pos) + 3 AS bigint) AS span_end,
         |  cast(max(pos) + 3 - (min(pos) - 1) + 1 AS bigint) AS span_len
         |FROM isl GROUP BY doc_id, island""".stripMargin),

    // §2#43 benchmark decontamination: training docs sharing ≥ 3 distinct
    // 3-gram shingles with any "benchmark" doc (every 25th document UP TO
    // id 12500 stands in as the eval set — the corpus's seeded near-dups
    // guarantee real contamination hits). The id cap encodes the real-world
    // invariant that a benchmark suite is a FIXED artifact: an eval set
    // that grew as a fraction of the corpus made the shingle join
    // quadratic (measured 3× cost for 2× data at sf2); below sf0.25 every
    // doc id is under the cap, so driver-SF results are unchanged.
    // Benchmark postings broadcast: one pass over the corpus, no corpus
    // shuffle.
    Gate("q_decontaminate", (s, dir) => {
      val all = Tables.documents(s, dir)
      Contamination.flagContaminated(
        all.filter(col("doc_id") % 25 =!= 0 || col("doc_id") >= 12500L),
        "doc_id", "text",
        all.filter(col("doc_id") % 25 === 0 && col("doc_id") < 12500L),
        "doc_id", "text",
        n = 3, minOverlap = 3L, maxShingleDocFreq = 1000L)
    },
      DecontaminateSql),

    // §2#43b the same decontamination behind a Bloom prefilter on the
    // corpus side (the broadcast-bytes scale lever); exactness is the
    // CONTRACT — no false negatives, false positives die in the exact
    // join — so this shares q_decontaminate's oracle SQL verbatim, and the
    // gate proves the equality end to end. 2^17 bits ≈ 8% fpp here: small
    // enough that pruning is real, big enough that false positives occur
    // and must be eliminated.
    Gate("q_decontaminate_bloom", (s, dir) => {
      val all = Tables.documents(s, dir)
      Contamination.flagContaminatedBloom(
        all.filter(col("doc_id") % 25 =!= 0 || col("doc_id") >= 12500L),
        "doc_id", "text",
        all.filter(col("doc_id") % 25 === 0 && col("doc_id") < 12500L),
        "doc_id", "text",
        n = 3, minOverlap = 3L, maxShingleDocFreq = 1000L,
        bloomBits = 1 << 17, bloomHashes = 3)
    },
      // the Bloom-prefiltered path must produce the IDENTICAL result —
      // same oracle string, not a copy, so the contract can't drift
      DecontaminateSql)
  )
}
