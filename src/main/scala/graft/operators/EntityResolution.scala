package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fuzzy entity resolution (record linkage) by deletion-neighborhood
  * blocking: dirty strings matched to a canonical dimension WITHOUT the
  * all-pairs distance matrix.
  *
  * The classic curation problem (Fellegi & Sunter 1969): a raw feed
  * carries misspelled entity names; match each to its canonical row under
  * Levenshtein distance ≤ 1. At 100 TB the distance can never run on the
  * cross product, and the OBVIOUS blocking (shared prefix/suffix keys) is
  * a trap on real name distributions: entity names share long common
  * prefixes ("ALGERIA-…", "Acme Corp …"), so prefix blocks grow O(N) and
  * the verify step goes quadratic — measured here as a 450M-levenshtein
  * stall at a 150k-row dimension before this implementation replaced it.
  *
  * The scalable scheme is the DELETION NEIGHBORHOOD (FastSS, Bocek et al.
  * 2007; the SymSpell family): block key = the string itself plus every
  * single-character deletion of it. Two strings within one edit ALWAYS
  * share a key — substitution at i: deleting position i from both yields
  * the same string; indel: the shorter string IS a deletion of the longer;
  * equality: the strings themselves — so the cover is complete by
  * construction, with no length-regime case split at all. Fan-out is
  * len+1 keys per row (LINEAR, a constant per name), and a block holds
  * only strings whose neighborhoods genuinely collide — block size tracks
  * the true match count, not the table size, regardless of how skewed the
  * name distribution is. Shared keys can also witness distance-2 pairs
  * (delete different chars from each side), which is why the exact
  * `levenshtein ≤ maxDist` verify stays — it prunes, never recalls.
  *
  * Levenshtein itself is exact integer dynamic programming, bit-identical
  * in every engine that implements it (Spark `levenshtein`, DuckDB
  * `levenshtein`) — which is what lets the whole operator hash-gate
  * against an EXHAUSTIVE oracle: a pair the blocking missed would
  * hash-mismatch.
  */
object EntityResolution {

  /** Match `dirty(idCol, nameCol)` against `canon(canonIdCol, canonNameCol)`
    * with edit distance ≤ `maxDist` (1 or 2) via deletion-neighborhood
    * blocking at the same depth (complete by the FastSS cover theorem:
    * ed(a,b) ≤ d ⟹ the depth-d neighborhoods of a and b intersect).
    * Output: one row per (dirty id, canonical id) match with the distance.
    * The verify uses Spark's THRESHOLDED
    * levenshtein (bounded-band DP, O(len·maxDist) per candidate instead of
    * O(len²)), computed once and reused for filter and projection.
    */
  def matchByEditDistance(dirty: DataFrame, idCol: String, nameCol: String,
      canon: DataFrame, canonIdCol: String, canonNameCol: String,
      maxDist: Int = 1): DataFrame = {
    // the block key shuffles as xxhash64(int64), not the neighborhood
    // STRING: at depth 2 each row explodes into ≈len²/2 variable-length
    // keys, and hashing them before the explode+join cuts the exchange to
    // 8 bytes per key with no semantic change — equal strings keep
    // colliding (completeness preserved), and the rare extra hash
    // collision only adds a candidate pair the exact levenshtein verify
    // discards anyway (blocking never decides, it only proposes).
    // Key GENERATION is the native DeletionKeyHashes kernel: the HOF
    // formulation (the test-side References.deletionNeighborhood ∘
    // transform(xxhash64)) is CodegenFallback and was the measured
    // dominant stage (r18 stage decomposition, OPTIMIZATION_r18 "VERDICT
    // item 7"); the kernel emits
    // the identical hash set (valid UTF-8) inside the scan's codegen span
    // (EntityResolutionSpec pins set identity)
    def keyed(df: DataFrame, name: String): DataFrame =
      df.withColumn("_bk",
        explode(graft.plans.EntityExpressions.deletionKeyHashes(
          col(name), maxDist)))
    keyed(dirty.select(col(idCol), col(nameCol)), nameCol)
      .join(keyed(canon.select(col(canonIdCol), col(canonNameCol)), canonNameCol), "_bk")
      // the distinct collapses shared-key multiplicity; Catalyst then
      // pushes the levenshtein filter through the aggregate into the join
      // condition, which MEASURED FASTER than forcing it post-distinct
      // with a pushdown barrier (sf10 d=2: 65 s vs 98 s): early
      // filtering discards the dominant non-matching collisions before
      // the distinct's shuffle, which outweighs re-running the bounded
      // DP on a matching pair's shared keys
      .select(col(idCol), col(nameCol), col(canonIdCol), col(canonNameCol))
      .distinct()
      .withColumn("edit_dist",
        levenshtein(col(nameCol), col(canonNameCol), maxDist))
      .where(col("edit_dist") >= 0) // thresholded form returns -1 past maxDist
      .select(col(idCol), col(canonIdCol), col("edit_dist"))
  }

  /** [[matchByEditDistance]] at DISTINCT-NAME grain with id-only block
    * keys — the disk-scale path for real name feeds (SURVEY §6 r14).
    *
    * Two scale problems of the eager form, both measured at 15M Zipf
    * names on one box:
    *   1. the block join carries the NAME STRINGS (≈40 bytes/key row ×
    *      len²/2 keys per row at depth 2 — ~200 GB of shuffle);
    *   2. IDENTICAL names (real feeds have thousands of each common
    *      full name; Zipf gives ~1.6k copies of the head name at 15M
    *      rows) share their entire deletion neighborhood, so each
    *      duplicate GROUP contributes |group|²·keys candidate rows —
    *      quadratic in N within every group.
    * Fix: the FastSS dictionary is DISTINCT STRINGS. Block keys join at
    * distinct-name grain as (xxhash64(name), xxhash64(key)) — 16-byte
    * rows, map-side-combinable distinct — the levenshtein verify runs
    * ONCE per distinct name pair, and ids expand only on the verified
    * matches (the output's own size, irreducible). Identical-name
    * multiplicity never enters the join. Same key-cover completeness
    * proof; the spec pins row-identical output vs [[matchByEditDistance]].
    * (Name-hash collisions: a 2⁻⁶⁴ collision merely adds one candidate
    * name pair that the exact verify discards.)
    */
  def matchByEditDistanceLean(dirty: DataFrame, idCol: String, nameCol: String,
      canon: DataFrame, canonIdCol: String, canonNameCol: String,
      maxDist: Int = 1): DataFrame = {
    def names(df: DataFrame, name: String, h: String): DataFrame =
      df.select(col(name)).distinct()
        .select(col(name), xxhash64(col(name)).as(h))
    val dn = names(dirty, nameCol, "_ha")
    val cn = names(canon, canonNameCol, "_hb")
    def keyed(df: DataFrame, name: String, h: String): DataFrame =
      df.select(col(h),
        explode(graft.plans.EntityExpressions.deletionKeyHashes(
          col(name), maxDist)).as("_bk"))
    val candidates = keyed(dn, nameCol, "_ha")
      .join(keyed(cn, canonNameCol, "_hb"), "_bk")
      .select(col("_ha"), col("_hb"))
      .distinct()
    val verified = candidates
      .join(dn, Seq("_ha"))
      .join(cn, Seq("_hb"))
      .withColumn("edit_dist",
        levenshtein(col(nameCol), col(canonNameCol), maxDist))
      .where(col("edit_dist") >= 0)
      .select(col(nameCol), col(canonNameCol), col("edit_dist"))
    // the join-back projections are distinct'd: the eager form's distinct
    // collapses exactly-duplicate (id, name) input rows, and row-identity
    // with it (the spec's contract) requires the id expansion to do the
    // same — the distinct is id-grain, output-sized, not corpus-sized
    verified
      .join(dirty.select(col(idCol), col(nameCol)).distinct(), Seq(nameCol))
      .join(canon.select(col(canonIdCol), col(canonNameCol)).distinct(),
        Seq(canonNameCol))
      .select(col(idCol), col(canonIdCol), col("edit_dist"))
  }

  /** [[matchByEditDistanceLean]] in `slices` BOUNDED-SCRATCH passes — the
    * grace-hash-join answer to the one-box disk bound (SURVEY §6 r14: the
    * single-pass lean join at 15M names needs ≈150 GB of shuffle scratch;
    * a box has what it has). The block-key space is hash-partitioned into
    * `slices`; pass s shuffles ONLY keys with pmod(key, slices) = s — a
    * 1/slices share of the volume, the explode itself is scan-side and
    * free — verifies that slice's distinct name pairs, and materializes
    * the verified pairs (output-sized, tiny) to `scratchDir`. Completeness:
    * every shared key lands in exactly ONE slice, and one shared key
    * witnesses the pair, so the union of per-slice verified pairs covers
    * every ≤ maxDist pair; a pair sharing keys in several slices verifies
    * in each and the final distinct collapses it. Peak scratch =
    * single-pass ÷ slices (+ the verified-pair parquet). At cluster scale
    * set slices = 1 (the shuffle spreads across executors); slices > 1 is
    * the single-node / few-node mode.
    */
  def matchByEditDistanceSliced(dirty: DataFrame, idCol: String, nameCol: String,
      canon: DataFrame, canonIdCol: String, canonNameCol: String,
      maxDist: Int = 1, slices: Int = 4, scratchDir: String): DataFrame = {
    require(slices >= 1, "need at least one slice")
    val spark = dirty.sparkSession
    // this pass OWNS scratchDir: stale slice=N directories from a prior
    // run with a different slice count (or different inputs) would be
    // silently unioned into the result by the slice=* read below, so the
    // directory is cleared before the first pass writes — but only if it
    // holds nothing except slices (Scratch.claimSliceDir)
    Scratch.claimSliceDir(spark, scratchDir)
    def names(df: DataFrame, name: String, h: String): DataFrame =
      df.select(col(name)).distinct()
        .select(col(name), xxhash64(col(name)).as(h))
    val dn = names(dirty, nameCol, "_ha")
    val cn = names(canon, canonNameCol, "_hb")
    def keyed(df: DataFrame, name: String, h: String, s: Int): DataFrame =
      df.select(col(h),
          explode(graft.plans.EntityExpressions.deletionKeyHashes(
            col(name), maxDist)).as("_bk"))
        .filter(pmod(col("_bk"), lit(slices.toLong)) === s.toLong)
    (0 until slices).foreach { s =>
      keyed(dn, nameCol, "_ha", s)
        .join(keyed(cn, canonNameCol, "_hb", s), "_bk")
        .select(col("_ha"), col("_hb"))
        .distinct()
        .join(dn, Seq("_ha"))
        .join(cn, Seq("_hb"))
        .withColumn("edit_dist",
          levenshtein(col(nameCol), col(canonNameCol), maxDist))
        .where(col("edit_dist") >= 0)
        .select(col(nameCol), col(canonNameCol), col("edit_dist"))
        .write.mode("overwrite").parquet(s"$scratchDir/slice=$s")
    }
    spark.read.parquet(s"$scratchDir/slice=*")
      .distinct() // a pair witnessed in several slices verified in each
      // distinct'd join-back: row-identity with the eager form on inputs
      // carrying exactly-duplicate (id, name) rows (same as the lean path)
      .join(dirty.select(col(idCol), col(nameCol)).distinct(), Seq(nameCol))
      .join(canon.select(col(canonIdCol), col(canonNameCol)).distinct(),
        Seq(canonNameCol))
      .select(col(idCol), col(canonIdCol), col("edit_dist"))
  }
}
