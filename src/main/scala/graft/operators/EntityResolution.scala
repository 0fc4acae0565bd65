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
}
