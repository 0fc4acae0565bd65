package graft.operators

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All candidate generation is bounded
  * (LSH bands / hot-shingle caps) so pair counts stay near-linear in corpus
  * size — the property that matters at 100 TB, where naive all-pairs is
  * impossible.
  */
object Dedup {

  /** Sentinel for `maxShingleDocFreq`: derive the hot-shingle cap from the
    * corpus itself — see [[derivedDocFreqCap]]. The default everywhere: a
    * FIXED cap is a scale trap in both directions (the r13 sf100 decade's
    * measurement): on the dense driver corpus the df distribution parks
    * just under 1000 at sf10 (Σ min(df,cap)² = 18.9e9 candidate pairs,
    * 70 GB spill) and entirely above it at sf100 (everything suppressed —
    * silent recall collapse).
    */
  val DeriveDocFreqCap: Long = -1L

  /** Per-doc candidate-pair budget behind [[derivedDocFreqCap]]: with
    * cap = budget / shinglesPerDoc, each doc's shingles can generate at
    * most ≈ budget candidate pairs, so total candidates ≤ N·budget —
    * linear in corpus size with an EXPLICIT constant (16k pairs/doc ≈ the
    * sf1 driver-corpus workload that measured 12 s, vs the implicit
    * 200k-pairs/doc constant a fixed cap=1000 carries).
    */
  val PairBudgetPerDoc: Long = 16384L

  /** Lower bound on the derived cap: rare-shingle evidence (df up to the
    * floor) always survives suppression regardless of how shingle-dense
    * the docs are, so planted near-dup/quote pairs that share genuinely
    * rare shingles stay findable even on corpora whose per-doc shingle
    * count pushes budget/shinglesPerDoc very low.
    */
  val DocFreqCapFloor: Long = 128L

  /** Exact dedup by content hash: one row per distinct text with the kept
    * (minimum) id and the duplicate count. Single hash-shuffle groupBy.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Persistable EXACT-dedup index: one row per distinct NORMALIZED
    * fingerprint ([[graft.functions.Text.fingerprint]] — the q_fingerprint
    * key: lowercase, punctuation stripped, whitespace collapsed, md5) with
    * the canonical kept id and the duplicate count. This is what a corpus
    * materializes once so that every new ingest batch deduplicates by
    * PROBING it instead of re-scanning the corpus — the batch counterpart
    * of the streaming ingest-dedup state store. At production scale write
    * it bucketed by `fingerprint`, so each batch's probe join co-locates.
    */
  def fingerprintIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(Text.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Incremental exact dedup: classify each `batch` document against a
    * persisted corpus [[fingerprintIndex]] — the production mode at corpus
    * scale (the corpus is NEVER re-grouped; only the batch's fingerprints
    * shuffle, and they probe the index by equi-join).
    *
    * Output, one row per batch document:
    *   - `status` = 'dup_corpus' (fingerprint already in the index — keep_id
    *     is the corpus canonical), 'dup_batch' (first seen inside this batch
    *     by a smaller id — keep_id is that batch keeper), or 'new' (keep_id
    *     = the doc itself: it becomes the index entry the merged index
    *     carries forward).
    *
    * Corpus keepers are stable by construction — an existing fingerprint
    * keeps its canonical id no matter what the batch contains (the contract
    * that makes the index APPEND-only: merging = index ∪ the batch's 'new'
    * rows, no rewrites).
    */
  def exactAgainst(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val w = Window.partitionBy(col("fingerprint"))
    val fp = batch.select(col(idCol),
        Text.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("_batch_keep", min(col(idCol)).over(w))
    fp.join(index.select(col("fingerprint"), col("keep_id").as("_corpus_keep")),
        Seq("fingerprint"), "left")
      .select(
        col(idCol),
        col("fingerprint"),
        when(col("_corpus_keep").isNotNull, lit("dup_corpus"))
          .when(col("_batch_keep") < col(idCol), lit("dup_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("_corpus_keep"),
          when(col("_batch_keep") < col(idCol), col("_batch_keep"))
            .otherwise(col(idCol))).as("keep_id"))
  }

  /** Append-only merge of a [[fingerprintIndex]] with a probed batch's
    * [[exactAgainst]] decisions: the index rows pass through UNCHANGED
    * (canonical keep_ids are stable by contract — a fingerprint already in
    * the index keeps its corpus canonical no matter what later batches
    * contain), and the batch contributes one row per fingerprint it
    * introduced (its 'new' keeper plus that keeper's 'dup_batch'
    * followers: keep_id = the batch keeper, dup_count = the batch
    * occurrence count). The groupBy shuffles only the batch — the index
    * side is a pass-through union, so merging stays O(batch) no matter
    * how large the persisted index has grown. The merged index covers
    * exactly [[fingerprintIndex]](corpus ∪ batch)'s fingerprint set
    * (spec-pinned, with the one documented divergence: a fingerprint
    * present in BOTH corpus and batch keeps the CORPUS canonical id,
    * where a from-scratch rebuild would take the global min id — keep_id
    * stability is the property that makes the index append-only).
    */
  def mergeIndex(index: DataFrame, decided: DataFrame): DataFrame =
    index.unionByName(
      decided.filter(col("status") =!= "dup_corpus")
        .groupBy(col("fingerprint"))
        .agg(min(col("keep_id")).as("keep_id"), count(lit(1)).as("dup_count")))

  /** N-gram Jaccard near-duplicate pairs.
    *
    * doc → distinct word `n`-shingles → explode → inverted index join on the
    * shingle → per-pair intersection count → Jaccard = |∩|/(|A|+|B|−|∩|).
    * Shingles occurring in more than `maxShingleDocFreq` docs are dropped
    * before the join (stopword-shingle suppression): this caps per-shingle
    * join fan-out, the only superlinear term. The default derives the cap
    * from the corpus ([[derivedDocFreqCap]]). Output: id_a < id_b, jaccard.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = DeriveDocFreqCap): DataFrame =
    ngramJaccardOn(docShingleSets(df, idCol, textCol, n, maxShingleDocFreq), threshold)

  /** Jaccard scorer over a docsets frame: the lazy one [[ngramJaccard]]
    * builds, or a [[shingleSets]] checkpoint — the multi-scorer
    * amortization path.
    */
  def ngramJaccardOn(sets: DataFrame, threshold: Double): DataFrame =
    pairStatsOn(sets, threshold, containment = false)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("size_a") + col("size_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** N-gram OVERLAP-COEFFICIENT pairs: |A∩B| / min(|A|,|B|) — the
    * containment score. Jaccard misses subset relations (a paragraph quoted
    * inside a 100× longer doc has |∩|/|∪| ≈ 1 %); the overlap coefficient
    * is ~1.0 whenever the smaller document is contained in the larger,
    * which is exactly the quote/partial-copy/boilerplate-inclusion case a
    * curation pipeline must catch SEPARATELY from whole-doc near-dups.
    * Same bounded candidate generation as [[ngramJaccard]] (shared core).
    * Output: id_a < id_b, sizes, overlap.
    */
  def overlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = DeriveDocFreqCap): DataFrame =
    overlapPairsOn(docShingleSets(df, idCol, textCol, n, maxShingleDocFreq), threshold)

  /** Overlap-coefficient scorer over a docsets frame (see
    * [[ngramJaccardOn]]).
    */
  def overlapPairsOn(sets: DataFrame, threshold: Double): DataFrame =
    pairStatsOn(sets, threshold, containment = true)
      .withColumn("overlap",
        col("inter").cast("double") /
          least(col("size_a"), col("size_b")).cast("double"))
      .filter(col("overlap") >= threshold)
      .select("id_a", "id_b", "size_a", "size_b", "overlap")

  /** EXPLICIT materialization hook for the pair-mining intermediate: the
    * per-doc (id, sorted shingle array, set size) frame all scorers branch
    * from, computed once and pinned with `localCheckpoint`.
    *
    * Why this exists, and why checkpoint instead of cache: inside one
    * scorer call, Catalyst plans each of the 3–4 `docsets` consumers as a
    * fresh subtree (~8 shingling scans per query — measured cheaper than
    * persisting, because a CACHED relation's size statistics push the
    * planner into broadcasting the exploded full-posting side of the
    * candidate join: 12 s → 114 s at sf1). A caller running BOTH scorers
    * pays those scans twice. `localCheckpoint` materializes the frame as
    * an RDD scan with NO size statistics — the planner keeps the shuffle
    * join for the posting side (the broadcast trap cannot re-trigger) and
    * every scorer branch reads document-bounded rows instead of re-running
    * the corpus scan.
    *
    * Default paths ([[ngramJaccard]]/[[overlapPairs]]) run the same `…On`
    * scorers over the lazy, uncheckpointed frame: the single-scorer
    * recompute plan remains the measured optimum. Use this
    * when running ≥2 scorers (or thresholds) over one corpus:
    * {{{
    *   val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    *   val jac = Dedup.ngramJaccardOn(sets, 0.8)
    *   val con = Dedup.overlapPairsOn(sets, 0.8)
    * }}}
    * Results are row-identical to the default paths (spec-pinned).
    * `localCheckpoint` trades lineage for executor-local blocks — on a
    * cluster, prefer it only when the pair run consumes the result
    * promptly (same trade [[connectedComponents]] already makes).
    */
  def shingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long = DeriveDocFreqCap): DataFrame =
    docShingleSets(df, idCol, textCol, n, maxShingleDocFreq).localCheckpoint(true)

  /** Corpus-derived hot-shingle cap: `max(floor, budget · n_docs ÷
    * postings)` in integer arithmetic (both engines floor the division the
    * same way, so the DuckDB oracles re-derive the identical value).
    *
    * Why this shape: with shinglesPerDoc = postings/n_docs, a cap of
    * budget/shinglesPerDoc bounds each doc's candidate fan-out at
    * ≈ shinglesPerDoc · cap = budget pairs, so total candidate volume is
    * ≤ N · [[PairBudgetPerDoc]] — LINEAR in corpus size with an explicit,
    * chosen constant. A fixed cap has no such bound: the r13 sf100 decade
    * measured Σ min(df,cap=1000)² of 262M at sf1 but 18.9e9 at sf10 (the
    * driver corpus's df distribution parks just under 1000 there — 70 GB
    * of spill, job failed), then 70M at sf100 (df all OVER the cap —
    * near-total suppression). The derived cap lands at ~309 on both driver
    * corpus shapes: identical behavior to the old 1000 at every driver SF
    * (max df there: 25 dense / 131 zipf at sf0.01) and at sf1 (max df
    * 138), and at sf10+ it suppresses the saturated df≈900·(N/500k) bulk
    * the fixed cap let through.
    *
    * Recall boundary, measured (r14, §6): on OPEN-vocabulary (Zipf-shaped,
    * i.e. realistic) corpora, near-dup pairs share abundant df≈2 shingles
    * — suppression never touches them at any scale, and [[DocFreqCapFloor]]
    * guarantees that rare evidence survives even when budget/shinglesPerDoc
    * is small. On the driver's CLOSED-vocabulary corpus the planted dup
    * pairs' rarest shared shingle sits at df p50 ≈ 911 at sf10 (≈ 9100 at
    * sf100): NO df cap can be both bounded-work and recall-preserving
    * there — full recall requires cap ≥ max df, which IS the Σ df²
    * blowup. That is the data, not the plan (the q_fuzzy_match2
    * adjudication): a vocabulary-saturated corpus is where exact
    * inverted-index mining stops and [[minhashLsh]] (band-collision-bounded
    * candidates, identical sets always collide) is the production path.
    *
    * Cost: one extra scan-bound aggregate job over the shingling scan
    * (n_docs + postings), the same eager-parameter discipline as the
    * corpus-derived LSH band bits.
    */
  def derivedDocFreqCap(posting: DataFrame): Long = {
    val row = posting.agg(
      countDistinct(col("id")).as("n_docs"),
      count(lit(1)).as("n_postings")).head()
    val nDocs = row.getLong(0)
    val nPostings = row.getLong(1)
    if (nPostings <= 0L) DocFreqCapFloor
    else math.max(DocFreqCapFloor, PairBudgetPerDoc * nDocs / nPostings)
  }

  /** The shared docsets intermediate: (id, sorted shingle-hash array,
    * set_size), df-capped. NOT materialized here — the default scorer paths
    * compose it lazily (the measured single-scorer optimum) and
    * [[shingleSets]] checkpoints it for multi-scorer reuse.
    */
  private def docShingleSets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long): DataFrame = {
    // shingles are joined/grouped only by identity, so hash them to 8-byte
    // longs before the downstream shuffles (~4× less shuffle volume than
    // ~30-byte strings; collision odds at 2^64 are negligible and a
    // collision only perturbs one count)
    val posting = df
      .select(col(idCol).as("id"), explode(Text.wordShingles(col(textCol), n)).as("_sh"))
      .select(col("id"), xxhash64(col("_sh")).as("shingle"))
    val cap =
      if (maxShingleDocFreq == DeriveDocFreqCap) derivedDocFreqCap(posting)
      else maxShingleDocFreq
    // hot-shingle suppression via a map-side-combined groupBy + BROADCAST
    // anti-join, NOT a window over the shingle key: a window has no partial
    // aggregation, so every occurrence of a stopword shingle would cross the
    // network into ONE task just to be counted and discarded — the exact hot
    // key the cap exists to suppress would bottleneck a stage earlier. The
    // groupBy collapses hot keys map-side; the surviving hot set is tiny by
    // definition (df_cnt > maxShingleDocFreq ⇒ at most |postings|/max such
    // shingles), so the anti-join is a broadcast hash join that does NOT
    // re-plan or reshuffle the big posting side. Cost: one recompute of the
    // cheap shingling scan for the count pass.
    val hotShingles = posting
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") > cap)
      .select(col("shingle"))
    // Per-doc set sizes are counted over the SAME filtered shingle space as
    // the intersection — otherwise a doc containing one hot (suppressed)
    // shingle could never reach jaccard 1.0 even for an exact duplicate.
    // One shuffle on the doc id builds the sorted array (= the global-order
    // prefix), the size, and the verification set in a single aggregation.
    // NOTE: three consumers branch from docsets (prefix generation + both
    // verification joins; four with the containment full side) and Catalyst
    // plans each branch as a fresh subtree — ~8 corpus scans in the runtime
    // plan. Persisting here was MEASURED WORSE (containment 12 s → 114 s at
    // sf1): the cached relation's size statistics push the planner into
    // broadcasting the exploded full-posting side of the candidate join.
    // The recompute is shingling + a broadcast anti-join per branch —
    // scan-bound and OS-cache-friendly — so recompute wins; callers that
    // reuse pair mining across MANY queries should checkpoint docsets-like
    // intermediates themselves with an explicit caching policy.
    posting
      .join(broadcast(hotShingles), Seq("shingle"), "left_anti")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("shingle"))).as("shingles"))
      .withColumn("set_size", size(col("shingles")))
  }

  /** Shared PREFIX-FILTERED pair core (AllPairs/PPJoin family — Bayardo et
    * al. 2007, Xiao et al. 2008) over a docsets frame (from
    * [[docShingleSets]] or a [[shingleSets]] checkpoint): prefix-filtered
    * candidate generation → exact verification on the per-doc shingle
    * arrays. Returns (id_a < id_b, size_a, size_b, inter); scorers divide.
    *
    * Prefix principle: fix ANY global total order on shingles; if
    * |A∩B| ≥ α, the first |A|−α+1 shingles of A and first |B|−α+1 of B
    * must share an element. For Jaccard ≥ t, α = ⌈t·max(|A|,|B|)⌉ works
    * (J ≥ t ⇒ |∩| ≥ t·|∪| ≥ t·max), so each doc indexes only its first
    * |S|−⌈t·|S|⌉+1 shingles and candidates come from a PREFIX×PREFIX join
    * — candidate volume drops by (1−t)² (25× at t=0.8) versus the full
    * inverted-index self-join, which is what made the exact pair scan
    * super-linear on shingle-dense corpora (measured 174 s at sf1; the
    * per-shingle join fan-out is Σ df², and df grows with corpus size).
    * For the overlap coefficient ≥ t, α = ⌈t·min⌉ depends on the SMALLER
    * side only, so the smaller doc's prefix joins the larger doc's FULL
    * posting list (one-sided (1−t) reduction).
    *
    * The global order is the shingle's 64-bit hash VALUE itself — order-by-
    * hash needs no doc-frequency join (df-ascending order à la PPJoin would
    * put rarer shingles in prefixes, but costs a full posting⋈df shuffle
    * join; the hot-shingle cap already bounds the df skew that ordering
    * would exploit, so the shuffle-free order wins at scale).
    *
    * Verification is exact: candidates (deduplicated) join the per-doc
    * SORTED shingle arrays and count `array_intersect` — arrays are
    * document-bounded, never corpus-bounded. Lossless end to end: every
    * pair at-or-above threshold shares a prefix shingle by the principle
    * above (prefix lengths use an ε-guard so float rounding can only
    * LENGTHEN a prefix, never drop a qualifying pair).
    */
  private def pairStatsOn(
      docsets: DataFrame,
      threshold: Double,
      containment: Boolean): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs a threshold in (0, 1], got $threshold")
    // prefix length |S| − ⌈t·|S|⌉ + 1; the 1e-9 slack keeps an fp product
    // that lands a hair ABOVE an exact integer (0.8·55 = 44.000…004) from
    // ceiling one too high and shortening the prefix below the safe bound
    val pLen = (col("set_size")
      - ceil(col("set_size").cast("double") * lit(threshold) - lit(1e-9)).cast("int")
      + 1)
    // 1-based position rides along for the POSITIONAL filter (PPJoin): a
    // shingle matched at position p leaves only |S| − p + 1 shingles at or
    // after it, and the FIRST common shingle of a qualifying pair has no
    // common shingles before it in either doc — so
    // min(suffix_a, suffix_b) upper-bounds the overlap, and a pair whose
    // every prefix match fails the bound cannot reach the threshold
    val prefixes = docsets.select(
      col("id"), col("set_size"),
      posexplode(slice(col("shingles"), lit(1), pLen)).as(Seq("_p0", "shingle")))
      .select(col("id"), col("set_size"), (col("_p0") + 1).as("pos"), col("shingle"))
    val candidates =
      if (!containment) {
        // Jaccard: prefix × prefix; size-ratio bound (J ≥ t ⇒ min/max ≥ t)
        // and positional bound vs the overlap requirement
        // α = ⌈t/(1+t)·(|A|+|B|)⌉ — both with the ε slack on fp products
        val a = prefixes.select(col("shingle"), col("id").as("id_a"),
          col("set_size").as("size_a"), col("pos").as("_pa"))
        val b = prefixes.select(col("shingle"), col("id").as("id_b"),
          col("set_size").as("size_b"), col("pos").as("_pb"))
        a.join(b, Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .filter(least(col("size_a"), col("size_b")).cast("double")
            >= greatest(col("size_a"), col("size_b")).cast("double")
              * lit(threshold) - lit(1e-9))
          .filter(least(col("size_a") - col("_pa"), col("size_b") - col("_pb"))
            .cast("double") + 1.0
            >= (col("size_a") + col("size_b")).cast("double")
              * lit(threshold / (1.0 + threshold)) - lit(1e-9))
          .select(col("id_a"), col("id_b"))
          .distinct()
      } else {
        // overlap coefficient: α = ⌈t·min⌉ constrains only the smaller
        // side, so its prefix joins the larger side's full postings (with
        // positions for the same suffix bound); equal sizes generate in
        // both directions and dedupe below
        val full = docsets.select(
          col("id").as("id_f"), col("set_size").as("size_f"),
          posexplode(col("shingles")).as(Seq("_pf0", "shingle")))
          .select(col("id_f"), col("size_f"), (col("_pf0") + 1).as("_pf"),
            col("shingle"))
        prefixes
          .select(col("shingle"), col("id").as("id_s"),
            col("set_size").as("size_s"), col("pos").as("_ps"))
          .join(full, Seq("shingle"))
          .filter(col("size_s") < col("size_f")
            || (col("size_s") === col("size_f") && col("id_s") =!= col("id_f")))
          .filter(least(col("size_s") - col("_ps"), col("size_f") - col("_pf"))
            .cast("double") + 1.0
            >= col("size_s").cast("double") * lit(threshold) - lit(1e-9))
          .select(least(col("id_s"), col("id_f")).as("id_a"),
            greatest(col("id_s"), col("id_f")).as("id_b"))
          .distinct()
      }
    // exact verification on the bounded per-doc arrays — candidate volume
    // is prefix-filtered, array sizes are document-bounded. The intersect
    // count is the codegen'd two-pointer merge walk over the SORTED arrays:
    // size(array_intersect(...)) hash-builds per row and was measured as
    // the dominant cost at millions of candidates
    candidates
      .join(docsets.select(col("id").as("id_a"), col("set_size").as("size_a"),
        col("shingles").as("_sha")), Seq("id_a"))
      .join(docsets.select(col("id").as("id_b"), col("set_size").as("size_b"),
        col("shingles").as("_shb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
        graft.plans.SetExpressions.sortedIntersectCount(col("_sha"), col("_shb"))
          .as("inter"))
  }

  /** Connected components over an undirected near-dup pair list: every id
    * is labeled with the MINIMUM id reachable through the pair graph — the
    * canonical survivor of its duplicate cluster. This is the step that
    * turns pair-finding into an actual dedup decision (keep one doc per
    * cluster, drop the rest).
    *
    * Algorithm: min-label propagation with POINTER JUMPING — labels are
    * seeded with `min(id, min(neighbor))` (round 1 for the price of one
    * aggregation, no join), then each round folds three label sources
    * through one map-side-combined min aggregation: neighbour labels
    * (edges⋈labels), the node's own label, and `label(label(id))` (a
    * labels⋈labels hop). The jump makes label values themselves conduct —
    * a chain that plain propagation crosses one hop per round collapses in
    * O(log diameter) rounds (hash-to-min); dense near-dup clusters converge
    * in one or two. `localCheckpoint` truncates the lineage so the plan
    * does not grow with rounds. The fixpoint — every edge and every
    * label-pointer agrees — is the same min-reachable-id labeling as plain
    * propagation (a jump target is always an id reachable through the pair
    * graph), so results are byte-identical. If `maxIter` rounds do not
    * converge the operator THROWS rather than returning silently-unmerged
    * components — raise `maxIter` for adversarially chain-shaped inputs.
    *
    * Output: (`id`, `component`) for every id that appears in `pairs`;
    * singletons (ids with no pairs) are absent — coalesce on the consumer
    * side (see q_dedup_canonical).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20): DataFrame = {
    // both edge directions from ONE pass of the pairs subtree: a unionAll
    // of two projections would plan (and execute) the expensive candidate
    // generation twice — ReuseExchange only dedupes identical exchanges
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("_e"))
      .select(col("_e.src").as("src"), col("_e.dst").as("dst"))
      .distinct()
      .localCheckpoint(true)
    // seed = min(id, min(neighbor)): the effect of a full propagation round
    // from identity labels, for the cost of one map-side-combined agg over
    // the already-checkpointed edge set (no join, no convergence probe)
    var labels = edges
      .groupBy(col("src"))
      .agg(min(col("dst")).as("_mn"))
      .select(col("src").as("id"), least(col("src"), col("_mn")).as("component"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // one aggregation shuffle per round folds three label sources: the
      // neighbour hop, the pointer jump label(label(id)) (label values are
      // ids with label rows of their own, so the inner-join hop is total),
      // and the node's own label — which ALSO rides along self-tagged so
      // convergence is a cheap filter over the materialized checkpoint
      // instead of an extra join against the old labels
      val jump = labels.as("l1")
        .join(labels.as("l2"), col("l1.component") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.component").as("component"),
          lit(false).as("_self"))
      val propagated = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"), lit(false).as("_self"))
        .unionAll(jump)
        .unionAll(labels.withColumn("_self", lit(true)))
        .groupBy(col("id"))
        .agg(
          min(col("component")).as("component"),
          min(when(col("_self"), col("component"))).as("_old"))
        .localCheckpoint(true)
      val changed = propagated
        .filter(col("component") < col("_old"))
        .limit(1).count()
      labels = propagated.select(col("id"), col("component"))
      converged = changed == 0
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — component " +
          "diameter exceeds maxIter; raise it for chain-shaped inputs")
    labels
  }

  /** LSH banding PLAN — the (bands, rows-per-band) choice behind every
    * [[minhashLsh]] call, made explicit (the adviseJoin device for
    * dedup): for each divisor split b·r = numHashes, the band S-curve
    * crosses ~(1/b)^(1/r); the plan row scores each split's distance to
    * the target threshold τ = tauNum/tauDen in the exact-integer
    * quantized log2 domain — `score_q = |r·(ilog2q(tauNum) −
    * ilog2q(tauDen)) + ilog2q(b)|` (the |log2 gap| scaled by r·2^16).
    * The CHOICE minimizes the scale-free per-split distance score_q/r
    * (= |log2 τ + (log2 b)/r|·2^16, the exact S-curve gap): implemented
    * as the exact-integer key score_q·b, order-equivalent because
    * b = numHashes/r and numHashes is constant across splits. Scoring
    * by raw score_q would weight each split by its own r and is NOT
    * order-equivalent (numHashes=32, τ=9/10 ties (2,16)/(4,8) where the
    * exact distance uniquely picks 2 bands — LshPlanSpec pins this).
    * Ties go toward MORE bands = higher recall.
    * Output: (bands, rows_per_band, score_q, chosen), one row per
    * divisor — a parameters-sized table, engine-exact, the knob
    * q_dedup_eval's precision/recall row then measures.
    */
  def lshPlan(
      spark: org.apache.spark.sql.SparkSession,
      numHashes: Int,
      tauNum: Long,
      tauDen: Long): DataFrame = {
    require(numHashes >= 1 && tauNum >= 1 && tauDen > tauNum,
      "need numHashes >= 1 and 0 < tau < 1 as tauNum/tauDen")
    import spark.implicits._
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b.toLong, (numHashes / b).toLong))
      .toDF("bands", "rows_per_band")
    val lt = Unigram.ilog2q(lit(tauNum)) - Unigram.ilog2q(lit(tauDen))
    val scored = splits.select(col("bands"), col("rows_per_band"),
      abs(col("rows_per_band") * lt + Unigram.ilog2q(col("bands")))
        .as("score_q"))
    // divisor-count rows: the window is parameters-sized, not data
    scored.withColumn("chosen",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q") * col("bands"), col("bands").desc)) === 1)
  }

  /** MinHash + LSH banding near-duplicate candidates.
    *
    * Signature of `numHashes` min-hashes split into `bands` bands; docs
    * agreeing on all rows of any band meet in a bucket; the
    * [[BandedPairs]] self-join emits candidate pairs with the estimated
    * Jaccard (fraction of agreeing signature positions). No all-pairs
    * anywhere: cost is Σ_bucket |bucket|², controlled by band width.
    *
    * The signature is computed posting-list style: explode the distinct
    * shingle set, hash each (permutation, shingle) with the codegen'd
    * FnvMix family (oracle-replayable), take `numHashes` min-aggregates
    * per doc (map-side combined — one shuffle of (id, numHashes·8B)).
    * This stays inside whole-stage codegen; a nested higher-order-function
    * formulation re-evaluates the shingle array per permutation and falls
    * out of codegen — ~30× slower measured at 500 docs.
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int,
      threshold: Double): DataFrame =
    BandedPairs.selfPairs(minhashIndex(df, idCol, textCol, shingleLen, numHashes, bands),
      estJaccard(numHashes, threshold))

  /** The banded MinHash signature INDEX: `(id, sig, band, bucket)` — the
    * persistable artifact [[minhashLsh]] self-joins and
    * [[minhashLshAgainst]] probes.
    *
    * At production scale this frame is what you WRITE (partitioned/bucketed
    * by `(band, bucket)`): re-deduplicating a 100 TB corpus for every daily
    * increment is the anti-pattern; the index is computed once, appended
    * per batch, and each new batch shuffles only its own `bands × N_batch`
    * rows against it.
    */
  def minhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val shingled = df.select(
      col(idCol).as("id"),
      explode(Text.wordShingles(col(textCol), shingleLen)).as("shingle"))
    // FnvMix (FNV-1a fold + splitmix64-seeded finalizer): same speed class
    // as xxhash64 but replayable by the DuckDB oracle, so the whole banding
    // pipeline is hash-checked, not rows-only (graft.plans.FnvMix)
    val hashCols = (0 until numHashes).map(i =>
      graft.plans.HashExpressions.fnvMix(col("shingle"), i).as(s"_h$i"))
    val hashed = shingled.select(col("id") +: hashCols: _*)
    val minAggs = (0 until numHashes).map(i => min(col(s"_h$i")).as(s"_m$i"))
    val sigs = hashed.groupBy(col("id"))
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
    BandedPairs.bands(sigs, transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)).cast("string"))))
  }

  /** INCREMENTAL near-dup: candidates of a new `batch` against an existing
    * `corpus` index (both from [[minhashIndex]] with the same parameters) —
    * the production dedup mode: the corpus is never re-shuffled against
    * itself, only the increment's banded rows meet the (pre-bucketed,
    * typically disk-resident) corpus side, and batch-internal duplicates
    * are left to the intra-batch [[minhashLsh]] pass.
    *
    * Output: `(id_new, id_corpus, est_jaccard)`, the max signature
    * agreement across colliding bands, thresholded.
    */
  def minhashLshAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      numHashes: Int,
      threshold: Double): DataFrame =
    BandedPairs.probePairs(batch, corpus, estJaccard(numHashes, threshold))

  /** Estimated Jaccard of a signature pair: the fraction of agreeing
    * positions over the whole signature. */
  private def estJaccard(numHashes: Int, threshold: Double) =
    BandedPairs.Score("est_jaccard",
      BandedPairs.agreement(col("sig_a"), col("sig_b"), numHashes),
      higherIsBetter = true, threshold)

  /** SimHash near-duplicate pairs: 64-bit simhash, banded into 4×16-bit
    * chunks (Hamming ≤ 3 guarantees agreement on ≥1 chunk); chunk-bucket
    * join then exact Hamming filter via `bit_count(xor)`.
    *
    * Like [[minhashLsh]], the fingerprint is built posting-list style:
    * explode shingles, one codegen'd FnvMix hash per shingle, 64 ±1 bit-sum
    * aggregates per doc, sign → bit. Map-side combined, single shuffle.
    */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int,
      maxHamming: Int): DataFrame = {
    // 4 chunks guarantee a shared chunk only for Hamming <= 3 (pigeonhole);
    // a larger threshold would silently lose recall
    require(maxHamming <= 3, s"4x16-bit banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val hashed = df.select(
        col(idCol).as("id"),
        explode(Text.wordShingles(col(textCol), shingleLen)).as("shingle"))
      // portable hash family (see minhashLsh) → the fingerprint and the
      // banded pairs are oracle-replayable
      .select(col("id"), graft.plans.HashExpressions.fnvMix(col("shingle"), 0L).as("_h"))
    val sims = hashed.groupBy(col("id"))
      .agg(graft.plans.SimHashAgg.simhashAgg(col("_h")).as("simhash"))
    val chunked = BandedPairs.bands(sims, array((0 until 4).map(c =>
      shiftright(col("simhash"), c * 16).bitwiseAND(lit(65535L))): _*))
    BandedPairs.selfPairs(chunked, BandedPairs.Score("hamming",
      bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))),
      higherIsBetter = false, maxHamming))
  }

  /** Segment-level boilerplate removal (C4/RefinedWeb line-dedup style):
    * documents are cut into consecutive `segWords`-token segments, segments
    * whose document frequency exceeds a corpus-relative threshold are
    * removed from every document, and the remaining segments are reassembled
    * in order. This is dedup WITHIN documents — headers/footers/navigation
    * boilerplate repeated across many docs disappears while each document
    * survives — complementing [[exact]]/[[ngramJaccard]], which drop whole
    * documents.
    *
    * The hot threshold is `max(minHotDf, nDocs / hotDocShare)` computed
    * in-plan from a one-row count broadcast (no driver action), so the same
    * pipeline definition is correct at any corpus size — at 100 TB "appears
    * in more than 1 % of documents" is boilerplate, not a fixed df=3.
    *
    * Scale shape: segment doc-frequency comes from a distinct + map-side-
    * combined count (hot segments collapse before the shuffle — same
    * discipline as [[ngramJaccard]]'s hot-shingle cap), the hot set is tiny
    * by definition (≤ totalSegments/threshold) and BROADCAST back, and
    * reassembly is one groupBy on the document id — three bounded shuffles,
    * none keyed on a hot segment. Documents with zero tokens are dropped
    * (they have no segments; callers keep them with an anti-join if needed).
    */
  def segmentDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int,
      minHotDf: Long = 3L,
      hotDocShare: Long = 100L): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    require(minHotDf > 0 && hotDocShare > 0,
      "minHotDf and hotDocShare must be positive")
    // native single-pass segmenter (WordSegments kernel) — equivalent to
    // tokens -> sequence/slice/array_join HOFs (spec cross-checked), one
    // scan instead of an interpreted HOF chain over a token array column
    val segs = df
      .select(
        col(idCol),
        posexplode(graft.plans.TextExpressions.wordSegments(
          col(textCol), segWords)).as(Seq("seg_idx", "seg")))
      // 8-byte join/group key instead of the segment string (see ngramJaccard)
      .withColumn("_seg_hash", xxhash64(col("seg")))
    val thresh = df.agg(
      expr(s"greatest($minHotDf, count(1) div $hotDocShare)").as("_hot_thresh"))
    val hot = segs.select(col(idCol), col("_seg_hash")).distinct()
      .groupBy(col("_seg_hash")).agg(count(lit(1)).as("_df_cnt"))
      .crossJoin(broadcast(thresh))
      .filter(col("_df_cnt") > col("_hot_thresh"))
      .select(col("_seg_hash"), lit(true).as("_hot"))
    segs.join(broadcast(hot), Seq("_seg_hash"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("_hot"), 1L).otherwise(0L)).as("n_removed"),
        // removed segments ride as nulls so every doc keeps its row;
        // array_join drops nulls after the order-restoring sort
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg_idx"),
              when(col("_hot").isNull, col("seg")).as("seg")))),
            x => x.getField("seg")),
          " ").as("clean_text"))
  }

  /** Window-grain exact-substring duplicate marking — the ExactSubstr
    * dedup family (suffix-array substring dedup in the literature) at
    * fixed token-window grain: every W-token window of every document is
    * a span; a span is DUPLICATED if its exact text occupies
    * `minOccurrences`+ (doc, position) slots corpus-wide (cross-document
    * copies and intra-document repetition both count). Output is per-doc:
    * how many windows the doc has, how many sit under duplicated spans,
    * and the duplicated fraction — the signal a curation pipeline
    * thresholds on before cutting spans or dropping docs.
    *
    * Scale: the posting is one row per (doc, window position) — linear in
    * corpus tokens. The occurrence count is a map-side-combined groupBy on
    * the window text and the mark-back a semi join on the same key; no
    * pair join anywhere, so unlike pair mining the output CANNOT go
    * quadratic — a window shared by k docs costs k posting rows, never
    * k² pairs. (Complements segmentDedup: segments are aligned blocks
    * with a corpus-relative hotness threshold; spans slide one token at a
    * time and catch copies at arbitrary offsets.)
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      minOccurrences: Long = 2L): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(minOccurrences > 1, s"minOccurrences must be > 1, got $minOccurrences")
    // multiplicity-keeping windows (wordShinglesAll): position matters,
    // a window repeated inside one doc is already a duplicated span
    val wins = df.select(col(idCol).as("id"),
      graft.functions.Text.wordShinglesAll(col(textCol), windowTokens).as("w"))
    val posting = wins.select(col("id"), explode(col("w")).as("win"))
    val dup = posting.groupBy(col("win"))
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOccurrences)
      .select(col("win"))
    val dupPerDoc = posting.join(dup, Seq("win"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("_nd"))
    wins.select(col("id"), size(col("w")).cast("long").as("n_windows"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_windows"),
        coalesce(col("_nd"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("_nd"), lit(0L)).cast("double") /
            col("n_windows").cast("double"), 6)).as("dup_ratio"))
  }

  /** Span-grain exact-substring duplicate REMOVAL — the production endpoint
    * of the ExactSubstr family ([[duplicateSpans]] marks; this cuts). Every
    * W-token window whose exact text occupies `minOccurrences`+ (doc,
    * position) slots corpus-wide is a duplicated span; the corpus-FIRST
    * occurrence of each such window text (minimal (doc, position)) is kept,
    * every later occurrence is cut. Overlapping and adjacent cut windows
    * are first merged into MAXIMAL spans (gaps-and-islands on window
    * position: windows p and q share or abut tokens iff q − p ≤ W), so a
    * long copied passage counts once — the span count and removed-token
    * count are literature-grain, not inflated by W-fold window overlap.
    * Remaining tokens are reassembled in order.
    *
    * Output per input doc: `clean_text` (surviving tokens joined by single
    * spaces — whitespace is normalized, like [[segmentDedup]]), `n_tokens`,
    * `n_removed_tokens`, `n_spans`. Keep-first is best-effort at the token
    * level: a kept first occurrence loses tokens that ALSO sit under some
    * other cut span (the classic ExactSubstr seam case).
    *
    * Scale: same linear skeleton as [[duplicateSpans]] — one posting row
    * per (doc, window position), map-side-combined occurrence counts
    * carrying the min-(doc, pos) witness, one shuffle of the posting back
    * on the window key, then doc-grain windows/joins only. The only
    * explode beyond the posting is over REMOVED token positions (islands
    * are disjoint, so it is bounded by the removed-token count, not by
    * windows × W). No pair join anywhere — output cannot go quadratic.
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      minOccurrences: Long = 2L): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(minOccurrences > 1, s"minOccurrences must be > 1, got $minOccurrences")
    val posting = df.select(
        col(idCol).as("id"),
        posexplode(Text.wordShinglesAll(col(textCol), windowTokens))
          .as(Seq("pos", "win")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("win"))
    // occurrence count + corpus-first witness in ONE map-side-combinable
    // aggregate (min over a (doc, pos) struct is lexicographic)
    val occ = posting.groupBy(col("win"))
      .agg(
        count(lit(1)).as("_occ"),
        min(struct(col("id").as("fid"), col("pos").as("fpos"))).as("_first"))
      .filter(col("_occ") >= minOccurrences)
      .select(col("win"), col("_first.fid").as("_fid"), col("_first.fpos").as("_fpos"))
    val cut = posting.join(occ, Seq("win"))
      .filter(!(col("id") === col("_fid") && col("pos") === col("_fpos")))
      .select(col("id"), col("pos"))
    // maximal disjoint token spans: windows p < q share or abut tokens
    // iff q − p ≤ W, exactly when [p, p+W] and [q, q+W] merge
    val spans = Intervals.mergeIntervals(
        cut.withColumn("_to", col("pos") + windowTokens.toLong), Seq("id"), "pos", "_to")
      .select(col("id"), col("pos").as("s"), (col("_to") - 1L).as("e"))
    val spanStats = spans.groupBy(col("id")).agg(
      count(lit(1)).as("_n_spans"),
      sum(col("e") - col("s") + 1L).as("_n_removed"))
    val remTok = spans.select(col("id"), explode(sequence(col("s"), col("e"))).as("tok_pos"))
    val toks = df.select(
        col(idCol).as("id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("tok_pos", "tok")))
      .select(col("id"), col("tok_pos").cast("long").as("tok_pos"), col("tok"))
    val clean = toks.join(remTok, Seq("id", "tok_pos"), "left_anti")
      .groupBy(col("id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("tok_pos"), col("tok")))),
          x => x.getField("tok")),
        " ").as("_clean"))
    df.select(col(idCol).as("id"),
        size(Text.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(spanStats, Seq("id"), "left")
      .join(clean, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        col("n_tokens"),
        coalesce(col("_n_removed"), lit(0L)).as("n_removed_tokens"),
        coalesce(col("_n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("_clean"), lit("")).as("clean_text"))
  }

  /** VARIABLE-LENGTH maximal duplicated spans — the length-threshold
    * ExactSubstr semantics of Lee et al. 2022 ("Deduplicating Training
    * Data Makes Language Models Better"): a token position is DUPLICATED
    * iff it lies inside some substring of length ≥ `minLen` tokens whose
    * exact text occupies `minOccurrences`+ (doc, position) slots
    * corpus-wide; the output is each doc's MAXIMAL runs of duplicated
    * positions, one row per span with its actual (variable) length —
    * exactly the byte ranges the suffix-array formulation emits for
    * cutting, at token grain.
    *
    * Why fixed windows compute the variable-length answer (the coverage
    * theorem this operator rests on, spec-proven against brute force over
    * ALL substrings in MaximalDuplicateSpansSpec): a duplicated substring
    * of length m ≥ L at position p covers [p, p+m-1], and every position
    * in it lies inside one of its length-L subwindows, each of which
    * occurs everywhere the parent occurs — so it is itself duplicated.
    * Conversely a duplicated L-window IS a duplicated substring of length
    * ≥ L. The two covered-position sets are therefore IDENTICAL, and the
    * maximal runs of L-window coverage (islands: consecutive duplicated
    * window starts p < q overlap-or-abut iff q − p ≤ L) are the maximal
    * duplicated spans — no suffix array needed. Note the spans are maximal
    * duplicated REGIONS: a span may be the union of several distinct
    * duplicated substrings (each repeated elsewhere) rather than one
    * substring repeated whole — the same output grain as the reference
    * implementation's range merge.
    *
    * Scale: identical linear skeleton to [[duplicateSpans]] — one posting
    * row per (doc, window position), a map-side-combined occurrence count
    * on the window text, a semi join back, then doc-grain islands. No
    * pair join; a window shared by k docs costs k posting rows, never k²
    * pairs. Output is one row per span (bounded by covered tokens / L).
    */
  def maximalDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int,
      minOccurrences: Long = 2L): DataFrame = {
    require(minLen > 0, s"minLen must be positive, got $minLen")
    require(minOccurrences > 1, s"minOccurrences must be > 1, got $minOccurrences")
    val posting = df.select(
        col(idCol).as("id"),
        posexplode(Text.wordShinglesAll(col(textCol), minLen))
          .as(Seq("pos", "win")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("win"))
    val dup = posting.groupBy(col("win"))
      .agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= minOccurrences)
      .select(col("win"))
    val cov = posting.join(dup, Seq("win"), "left_semi")
      .select(col("id"), col("pos"))
    // islands: windows p < q overlap or abut iff q − p ≤ L, exactly when
    // [p, p+L] and [q, q+L] merge
    Intervals.mergeIntervals(
        cov.withColumn("_to", col("pos") + minLen.toLong), Seq("id"), "pos", "_to")
      .select(col("id").as(idCol), col("pos").as("span_start"),
        (col("_to") - 1L).as("span_end"), (col("_to") - col("pos")).as("span_len"))
  }
}
