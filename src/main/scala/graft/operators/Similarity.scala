package graft.operators

import graft.functions.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute-force cosine top-k is the correctness baseline (probe set is
  * broadcast, so the "cross" join is a broadcast nested loop over a small
  * side — linear scans of the corpus, never corpus×corpus). The LSH variant
  * (random-hyperplane sign buckets) is the scale path: candidate generation
  * is a bucket equi-join, cost Σ_bucket |bucket|·|probes in bucket|.
  */
object Similarity {

  /** cosine from a per-pair dot and per-side precomputed norms — the norms
    * live in projections below the join, so they are computed once per row
    * per side instead of once per candidate pair.
    */
  private def cosine(v: String, nv: String, p: String, np: String) = {
    val nn = col(nv) * col(np)
    when(nn > 0, Vectors.dot(col(v), col(p)) / nn).otherwise(lit(0.0))
  }

  /** [[cosine]] of a corpus row (`_v`, `_nv`) and a probe (`_p`, `_np`). */
  private def pairCosine = cosine("_v", "_nv", "_p", "_np")

  /** Each probe's top `k` scored rows by cosine, ties broken by ascending
    * `neighbor` id for determinism, numbered 1..k in `rank`. */
  private def topKPerProbe(scored: DataFrame, neighbor: String, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("cosine").desc, col(neighbor))))
      .filter(col("rank") <= k)

  /** Exact cosine top-k for each probe. `probes` must be small (broadcast).
    * Ties broken by ascending corpus id for determinism.
    */
  def knnBruteForce(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int): DataFrame = {
    val joined = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("_v"),
        Vectors.norm(col(vecCol)).as("_nv"))
      .join(broadcast(probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("_p"),
          Vectors.norm(col(probeVecCol)).as("_np"))),
        col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", pairCosine)
    topKPerProbe(joined, "neighbor_id", k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic ENGINE-PORTABLE pseudo-random hyperplanes: `planes` ×
    * `dim`, components uniform in [-0.5, 0.5) from pure integer arithmetic
    * (exact in 64-bit ints and in doubles), so an external engine can replay
    * the exact planes — this is what lets the gate hash-check the LSH fast
    * paths end-to-end instead of rows-only (a `scala.util.Random` gaussian
    * is not replayable in SQL). For sign-LSH the uniform family is as valid
    * as gaussian: only the sign of w·x matters and the distribution is
    * symmetric around 0.
    *
    * The map is QUADRATIC mod a prime — w(k) for k = p·dim + d + seed·c —
    * NOT the classic linear spatial-hash fold (p·A + d·B + seed·C) mod M.
    * The linear family is a lattice: stepping p adds a CONSTANT vector
    * mod 1, so consecutive planes are strongly correlated and the sign
    * bits of a b-bit band carry far fewer than b bits of entropy. Measured
    * at 200k vectors / 12-bit bands (sf10, the r5 occupancy experiment,
    * SURVEY §6 r5): the linear family leaves 40-60 % of buckets empty with
    * Σ|bucket|² of 250-435M per band (25-44× the uniform ideal — the
    * banded-candidate linearity claim collapses); the quadratic map lands
    * at 13.3-14.5M per band, statistically indistinguishable from true
    * gaussian planes (13.8-16.2M). Every intermediate stays < 2^47, exact
    * in int64 and in IEEE doubles on any engine.
    */
  private[operators] def hyperplanes(
      planes: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(planes, dim) { (p, d) =>
      // floorMod, not %: a negative seed (or a seed large enough that
      // seed*83492791 wraps) would otherwise yield a negative k and plane
      // weights outside [-0.5, 0.5). Identical to % for the non-negative
      // small seeds the oracle SQL replays.
      val k = math.floorMod(p.toLong * dim + d + seed * 83492791L, 1000003L)
      (math.floorMod((k * k % 1000003L) * 73856093L + k * 19349663L, 1000003L)).toDouble /
        1000003.0 - 0.5
    }

  /** Lazy per-row dim guard. A dim mismatch would make `float_dot` return
    * null for every vector×hyperplane pair, so every row would silently hash
    * to bucket 0 and the LSH join would degenerate to a full quadratic
    * self-join. Raising from inside the projection (rather than an eager
    * `head(1)` job at construction time) keeps explain-only paths and
    * streaming inputs job-free AND covers every row, not one sampled row —
    * mixed-dimension data fails loudly instead of skewing to bucket 0.
    */
  private def checkedDim(vec: org.apache.spark.sql.Column, dim: Int) =
    when(size(vec) === dim, vec).otherwise(raise_error(concat(
      lit(s"embedding dim mismatch: LSH hyperplanes declared dim=$dim but vector has "),
      size(vec).cast("string"), lit(" elements"))))

  /** Sign-bucket code for a vector column under the given hyperplanes. */
  private def bucketCode(vec: org.apache.spark.sql.Column, hp: Array[Array[Double]]) = {
    val bits = hp.zipWithIndex.map { case (plane, i) =>
      val planeLit = array(plane.map(lit): _*)
      when(Vectors.dot(vec, planeLit) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** LSH-bucketed ANN: probes and corpus hashed into sign buckets over
    * `planes` random hyperplanes; candidates = bucket collisions (probe side
    * broadcast); exact cosine rerank to top-k within candidates.
    * Fewer planes → bigger buckets → higher recall & cost. Like
    * [[embeddingNearDup]]'s `bandBits`, `planes` should grow with the
    * corpus (≈ log2(corpusSize / targetBucketSize), see [[bandBitsFor]]) so
    * expected bucket size — and the per-bucket scan each probe pays — stays
    * bounded as the corpus scales; multi-probe then recovers recall at
    * (planes+1)× probe fan-out instead of bigger buckets.
    */
  def knnLsh(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      planes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      multiProbe: Boolean = true,
      hyperplanesOverride: Option[Array[Array[Double]]] = None): DataFrame = {
    val hp = hyperplanesOverride.getOrElse(hyperplanes(planes, dim, seed))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        checkedDim(col(vecCol), dim).as("_v"),
        Vectors.norm(col(vecCol)).as("_nv"))
      .withColumn("bucket", bucketCode(col("_v"), hp))
    // multi-probe: each probe also searches every 1-bit-flip neighbor
    // bucket — the standard recall fix for sign LSH, costing (planes+1)×
    // probe fan-out instead of more hash tables
    val probeBuckets =
      if (multiProbe)
        explode(array((lit(0L) +: (0 until planes).map(i => lit(1L << i))): _*))
      else explode(array(lit(0L)))
    val p = probes.select(col(probeIdCol).as("probe_id"),
        checkedDim(col(probeVecCol), dim).as("_p"),
        Vectors.norm(col(probeVecCol)).as("_np"))
      .withColumn("_flip", probeBuckets)
      .withColumn("bucket", bucketCode(col("_p"), hp).bitwiseXOR(col("_flip")))
      .drop("_flip")
    val cand = c.join(broadcast(p), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", pairCosine)
    topKPerProbe(cand, "neighbor_id", k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** Spherical k-means coarse quantizer, trained driver-side over a
    * deterministic pseudo-random sample (hash-ordered). The model is
    * nlist×dim floats — parameters, not data — so Lloyd iterations on the
    * driver are the right trade; everything query-time stays distributed.
    */
  def trainCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int = 10,
      sampleSize: Int = 4096): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = df
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(col(idCol)))
      .limit(sampleSize)
      .collect()
      .map(_.getAs[scala.collection.Seq[Any]](1).iterator.map {
        case f: Float => f
        case d: Double => d.toFloat // array<double> vectors are supported too
        case other => throw new IllegalArgumentException(
          s"$vecCol must be array<float>/array<double>, found element $other")
      }.toArray)
    require(sample.length >= nlist, s"need >= $nlist sample vectors, got ${sample.length}")
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      if (n == 0) v else v.map(x => (x / n).toFloat)
    }
    val data = sample.map(normalize)
    var centroids = data.take(nlist).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](data.head.length))
      val counts = new Array[Long](nlist)
      data.foreach { v =>
        var best = 0
        var bestDot = Double.MinValue
        var c = 0
        while (c < nlist) {
          var d = 0.0
          var i = 0
          while (i < v.length) { d += v(i) * centroids(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else normalize(sums(c).map(_.toFloat))
      }
      it += 1
    }
    centroids
  }

  /** Cosine similarity to every centroid, as one array column: one FloatDot
    * per centroid, reusing the row's precomputed norm (`nv`); centroid
    * norms are driver-side constants. (Vectors.cosine would recompute
    * norm(v) — itself a dot — per centroid: 3× the flops.)
    */
  private def cellSims(centroids: Array[Array[Float]])(
      vec: org.apache.spark.sql.Column, nv: org.apache.spark.sql.Column) =
    array(centroids.map { c =>
      val nc = math.sqrt(c.foldLeft(0.0)((s, x) => s + x.toDouble * x))
      if (nc == 0.0) lit(0.0)
      else when(nv > 0, Vectors.dot(vec, array(c.map(lit): _*)) / (nv * lit(nc)))
        .otherwise(lit(0.0))
    }: _*)

  /** 1-based argmax cell id. Let-binding via single-element transform:
    * `array_position(s, array_max(s))` references the sims array twice, and
    * CollapseProject would inline the nlist-dot expression into both
    * references (no CSE for this projection).
    */
  private def argmaxCell(sims: org.apache.spark.sql.Column) =
    element_at(transform(array(sims), s => array_position(s, array_max(s))), 1)

  /** The IVF INDEX: `(id, _v, _n, cell)` — the persistable coarse-quantizer
    * assignment [[knnIvf]] builds internally and [[knnIvfAgainst]] probes.
    * The ANN sibling of [[graft.operators.Dedup.minhashIndex]] /
    * [[embeddingBandIndex]]: at production scale this is what you WRITE
    * (partitioned/bucketed by `cell`), so new probe batches pay only their
    * own cell assignment plus an equi-join against the pre-assigned corpus
    * — the corpus is never re-scanned, re-assigned, or re-shuffled per
    * batch. Probe sides must use the SAME `centroids` artifact.
    */
  def ivfIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("_v"),
        Vectors.norm(col(vecCol)).as("_n"))
      .withColumn("cell", argmaxCell(cellSims(centroids)(col("_v"), col("_n"))))

  /** Probe an existing IVF index: each probe searches its `nprobe` nearest
    * cells and reranks in-cell candidates by exact cosine. Probe-side cost
    * is ∝ probes × (nlist dots + visited-cell sizes) — independent of how
    * the index was built and of corpus re-assignment (spec-pinned). A
    * self-pair guard keeps append-then-probe callers from reporting every
    * indexed probe as its own nearest neighbor.
    */
  def knnIvfAgainst(
      probes: DataFrame,
      index: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      nprobe: Int,
      centroids: Array[Array[Float]]): DataFrame = {
    val c = index.toDF("neighbor_id", "_v", "_nv", "cell")
    val p0 = probes.select(col(probeIdCol).as("probe_id"), col(probeVecCol).as("_p"),
        Vectors.norm(col(probeVecCol)).as("_np"))
      .withColumn("_sims", cellSims(centroids)(col("_p"), col("_np")))
      .select(col("probe_id"), col("_p"), col("_np"),
        posexplode(col("_sims")).as(Seq("_cpos", "_csim")))
    val wp = Window.partitionBy(col("probe_id")).orderBy(col("_csim").desc, col("_cpos"))
    val p = p0.withColumn("_crank", row_number().over(wp))
      .filter(col("_crank") <= nprobe)
      .select(col("probe_id"), col("_p"), col("_np"), (col("_cpos") + 1).cast("long").as("cell"))
    val cand = c.join(broadcast(p), Seq("cell"))
      .filter(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cosine", pairCosine)
    topKPerProbe(cand, "neighbor_id", k)
      .select("probe_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-Flat ANN: corpus vectors are assigned to the nearest of `nlist`
    * coarse centroids (k-means-trained via [[trainCentroids]] unless
    * supplied); each probe searches its `nprobe` nearest cells and reranks
    * by exact cosine. The query-time dataflow — cell assignment via argmax
    * over broadcast centroids, cell equi-join, in-cell rerank — is fully
    * distributed. Composition of [[ivfIndex]] + [[knnIvfAgainst]]; persist
    * the index to skip corpus re-assignment across probe batches.
    */
  def knnIvf(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      trainedCentroids: Option[Array[Array[Float]]] = None): DataFrame = {
    val centroids: Array[Array[Float]] =
      trainedCentroids.getOrElse(trainCentroids(corpus, idCol, vecCol, nlist))
    knnIvfAgainst(probes, ivfIndex(corpus, idCol, vecCol, centroids),
      probeIdCol, probeVecCol, k, nprobe, centroids)
  }

  /** `bandBits` for a target expected bucket size: buckets per table =
    * 2^bandBits ≈ corpusSize / targetBucketSize, so the candidate join cost
    * Σ_bucket |bucket|² ≈ bands · corpusSize · targetBucketSize stays LINEAR
    * in corpus size instead of quadratic-within-few-buckets.
    *
    * Pure integer arithmetic (smallest b with target·2^b ≥ corpus) — a
    * float `ceil(log2(...))` can land one off across engines at exact
    * power-of-two boundaries (ln(32)/ln(2) rounds above 5.0 in IEEE), and
    * the DuckDB oracles replay this ladder with integer CASE thresholds.
    */
  def bandBitsFor(corpusSize: Long, targetBucketSize: Long = 1024L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0)
    var b = 1
    while (b < 20 && (targetBucketSize << b) < corpusSize) b += 1
    b
  }

  // ------------------------------------------------------------------
  // Graph ANN — the HNSW family, rebuilt data-parallel
  // ------------------------------------------------------------------

  /** Graph degree derived from corpus size — the measured parameter rule
    * (SURVEY §6 r14 sweep) as CODE instead of scaladoc: recall is flat in
    * the walk parameters and binding in GRAPH quality, and the measured
    * quality lever is degree (sf10 uniform: degree 16 → 32 lifted
    * recall@5 0.100 → 0.225–0.300 where an 8× walk budget moved nothing;
    * r13 measured the same 2× from 8 → 16 at sf1). So degree DOUBLES per
    * decade above the 1e5-row class where the collapse was measured —
    * HNSW's scale-M-with-log-N guidance — capped at 256.
    *
    * The growth is gated by `buildBudget`: each NN-descent round scores
    * ≈ n·degree² candidate pairs (the build's only superlinear knob), and
    * the rule halves degree until n·degree² fits. The default budget
    * (2³¹ ≈ 2.1e9 candidate rows/round) is the single-box setting that
    * keeps the sf100-class build tractable; on a real cluster pass a
    * budget ∝ executor count to follow the log-N rule further. Floor =
    * `base`: past the budget the honest uniform-corpus retrieval paths
    * are brute force or IVF's bounded scan fraction (nswIndex scaladoc).
    *
    * Integer arithmetic only — the q_knn_graph oracle derives the
    * identical degree from its own count(*).
    */
  def degreeFor(n: Long, base: Int = 16, buildBudget: Long = 1L << 31): Int = {
    require(n > 0 && base > 0 && buildBudget > 0)
    var d = base
    var decade = 100000L
    while (decade <= n && d < 256) { d *= 2; decade *= 10 }
    while (d > base && n * d.toLong * d > buildBudget) d /= 2
    d
  }

  /** Beam width derived from the degree: at the base degree the walk is
    * measured flat in beam (8 suffices at every corpus size swept); at
    * scaled-up degrees the beam becomes the lever again (sf10 uniform,
    * degree 32: beam 8 → 32 lifted recall 0.225 → 0.300), so the beam
    * follows the degree. Search cost stays O(1) per probe:
    * entries + degree + hops·beam·2·degree. */
  def beamFor(degree: Int, base: Int = 8): Int =
    if (degree > 16) degree else base

  /** Vector-table size bound under which the NN-descent rescore
    * broadcasts the corpus vectors instead of equi-joining them
    * (nswIndex). Broadcast network cost is bytes × executors — a bound
    * that ignores cluster width lets a 1000-executor deployment pay
    * ~600 GB of re-sends for a 600 MB table (the r16 verdict flag). So
    * the bound caps TOTAL network at 32 GiB and never exceeds the 1 GiB
    * single-process bound: min(1 GiB, 32 GiB / executors). With no
    * `spark.executor.instances` set (local mode) executors = 1 and the
    * bound is the unchanged 1 GiB; at 32 executors it is still 1 GiB; at
    * 1000 it is ~32 MiB and the equi-join shape (which an id-bucketed
    * layout co-locates at that scale) returns. Integer arithmetic,
    * spec-pinned (KnnGraphSpec). */
  def rescoreBroadcastBound(executors: Int): Long =
    math.min(1L << 30, (32L << 30) / math.max(1, executors))

  /** Cluster width for [[rescoreBroadcastBound]]. `spark.executor.instances`
    * alone under-detects dynamic-allocation clusters (they don't set it, so
    * the width read 1 and the bound stayed 1 GiB — the r17 verdict flag:
    * bytes × executors re-sends come back exactly on the deployments the
    * bound exists for). Resolution order, most- to least-authoritative:
    *   1. `spark.executor.instances` (static allocation: the contract);
    *   2. `spark.dynamicAllocation.maxExecutors` when dynamic allocation is
    *      enabled and the ceiling is explicitly set (the width the cluster
    *      may GROW to mid-job — sizing the bound for fewer would re-open the
    *      re-send bill the moment it scales up);
    *   3. the LIVE executor count (`getExecutorMemoryStatus` minus the
    *      driver's own entry) — covers dynamic allocation with no explicit
    *      ceiling; never below 1, so local mode keeps the 1 GiB bound.
    * Spec-pinned (KnnGraphSpec "executorCountOf"). */
  private def executorCountOf(
      spark: org.apache.spark.sql.SparkSession): Int =
    executorCountFrom(
      key => spark.conf.getOption(key),
      // getExecutorMemoryStatus includes the driver's own entry; local
      // mode therefore reads 1 − 1 = 0, floored back to 1 below
      spark.sparkContext.getExecutorMemoryStatus.size - 1)

  /** [[executorCountOf]]'s resolution rule over an abstract conf reader —
    * the testable core (core Spark configs cannot be set through
    * RuntimeConfig in a running local session, so the spec pins this
    * directly). */
  private[operators] def executorCountFrom(
      conf: String => Option[String],
      live: => Int): Int = {
    def confInt(key: String): Option[Int] = conf(key)
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0)
    val dynEnabled = conf("spark.dynamicAllocation.enabled").contains("true")
    confInt("spark.executor.instances")
      .orElse(if (dynEnabled) confInt("spark.dynamicAllocation.maxExecutors")
              else None)
      .getOrElse(math.max(1, live))
  }

  /** A built graph-ANN index: `near` = the degree-bounded refined kNN
    * adjacency (src, dst, cosine); `longEdges` = node → its coarse-bucket
    * hubs (the flattened HNSW upper layer); `hubs` = (cbk, hub) for
    * query-local entry points; `coarse` = the coarse plane family that
    * maps a query vector to its cbk. */
  final case class NswIndex(
      near: DataFrame,
      longEdges: DataFrame,
      hubs: DataFrame,
      coarse: Array[Array[Double]])

  /** Deterministic navigable-small-world index — the graph layer of graph
    * ANN (NSW/HNSW family), built in bounded bulk passes instead of
    * HNSW's insertion loop.
    *
    * WHY NOT literal HNSW (the written decision carried from r11): HNSW
    * (Malkov & Yashunin 2018) constructs by SEQUENTIAL greedy insertion —
    * every insert beam-searches the graph built so far, a serial chain
    * over mutable global state. On a 1000-executor cluster that either
    * serializes onto one machine or degrades to per-partition graphs that
    * answer nothing globally. What makes HNSW SEARCH work is not the
    * insertion order but the graph's properties, each of which builds
    * data-parallel:
    *   - SEED short-range edges: all pairs within deterministic sign-LSH
    *     buckets (portable quadratic-mod hyperplanes), bucket width
    *     derived from corpus size via [[bandBitsFor]] so Σ|bucket|² — the
    *     only quadratic term — stays LINEAR in N;
    *   - GRAPH QUALITY via NN-DESCENT (Dong et al., WWW 2011 — the
    *     published bulk-parallel kNN-graph algorithm): `refineRounds`
    *     rounds of "my neighbors' neighbors are my neighbor candidates" —
    *     candidates = current edges ∪ reversed edges ∪ 2-hop closure,
    *     re-ranked to the top-`degree` by exact cosine. Each round is
    *     N·degree² candidate rows — linear. This recovers what HNSW gets
    *     from insertion-time search (measured: beam recall at sf1
    *     saturated at 0.20 on the raw LSH seed graph; NN-descent lifts
    *     the ceiling — SURVEY §6);
    *   - LONG-range edges + ENTRY points: every node → its COARSE
    *     bucket's `degree` smallest-id hubs (half the fine bits). This
    *     flattens HNSW's level hierarchy: hubs are the sparse upper-layer
    *     nodes (the deterministic smallest-id draw replacing the random
    *     level draw), queries ENTER at their own coarse bucket's hubs
    *     (HNSW's descend-from-top, query-local), and from a hub the
    *     search descends via the hub's refined near edges. Hub
    *     out-degree stays bounded — hub→node back-edges are NOT
    *     materialized, exactly like HNSW's layer separation.
    * Every step — buckets, hubs, cosines, descent rounds, ranking — is
    * integer/IEEE-deterministic, so the DuckDB oracle replays the whole
    * index hash-exact, which no RNG insertion order could.
    *
    * PARAMETER-SCALING RULE (measured, SURVEY §6 r14 — the full (beam,
    * hops, degree) sweep across sf0.01→sf10 on both recall corpora):
    * recall is FLAT in the WALK parameters — beam 8→32 × hops 4→8 (an 8×
    * scored-candidate budget) moved recall@5 at most 0.1 at every corpus
    * size measured, on both corpus shapes. The binding constraint is
    * GRAPH quality: `degree` (sf10 uniform: degree 16 → 32 lifted recall
    * 0.100 → 0.225–0.300 where no walk budget moved it at all; r13
    * measured the same 2× from degree 8 → 16 at sf1) and `refineRounds`
    * (the raw LSH seed graph saturates at 0.20 regardless of the walk).
    * So: scale DEGREE with log N — HNSW's M guidance, implemented as
    * [[degreeFor]] (doubling per decade above 1e5 rows under an
    * n·degree² build budget; [[knnGraph]] applies it by default) — and
    * keep the walk budget fixed up to the beam-follows-degree rule
    * ([[beamFor]]); build cost grows as N·degree² per NN-descent round
    * (the offline persist-once leg), search stays O(1) per probe. Corpus
    * shape bounds what any parameter buys: on clustered (production)
    * corpora recall holds ~0.83–0.98 across decades at fixed degree 16;
    * on STRUCTURELESS uniform random vectors recall decays ~0.5 → 0.1
    * per decade at any fixed degree (concentration of measure — no
    * navigable neighborhood structure exists), and the honest retrieval
    * paths there are brute force or IVF's bounded scan fraction.
    *
    * Fault-tolerance boundary: the build pins its intermediates with
    * `localCheckpoint`, which truncates lineage and stores blocks only on
    * executors — an executor lost MID-BUILD fails the build job instead of
    * recomputing (single-session gate scale; the repo-wide localCheckpoint
    * trade). The cluster path is the one the index's own contract already
    * implies: the build is the offline persist-ONCE leg — write `near`/
    * `longEdges`/`hubs` to reliable storage (or use `checkpoint()` on a
    * reliable dir) and serve searches from the persisted graph, which also
    * makes build-time executor loss a retry of an idempotent batch job.
    */
  def nswIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      degree: Int,
      fineBits: Int,
      refineRounds: Int = 2,
      dim: Int = 64,
      seed: Long = 42L,
      buildSlices: Int = 1,
      rescoreBroadcastCap: Long = 0L,
      knownN: Long = 0L): NswIndex = {
    require(degree > 0 && fineBits > 0 && refineRounds >= 0 && buildSlices >= 1)
    val coarseBits = math.max(1, fineBits / 2)
    val fine = hyperplanes(fineBits, dim, seed)
    val coarse = hyperplanes(coarseBits, dim, seed + 1)
    // INVARIANT while knownN is plumbed through (knnGraph passes its own
    // corpus count): this projection must preserve the corpus row count —
    // no filter may be added here without dropping the knownN shortcut,
    // or the broadcast-size decision below silently uses a stale count
    val base = corpus.select(col(idCol).as("id"),
        checkedDim(col(vecCol), dim).as("_vec"),
        Vectors.norm(col(vecCol)).as("_n"))
      .withColumn("fb", bucketCode(col("_vec"), fine))
      .withColumn("cb", bucketCode(col("_vec"), coarse))
      .localCheckpoint()
    val vecs = base.select(col("id").as("dst"), col("_vec").as("_p"), col("_n").as("_np"))
    // The candidate frame is the build's N·degree² term; equi-joining it
    // against the corpus vector table TWICE per round shuffles it twice.
    // The vector table itself is tiny next to the candidates
    // (n·(dim·4+overhead) bytes — 52 MB at n=200k, ~600 MB at n=2M), so
    // BROADCAST it and the rescore becomes map-side (measured r16,
    // same-host interleaved A/B at sf10 n=200k degree=32: uniform build
    // 637 → 235 s with recall identical at every walk point; clustered
    // 131 → 142 s — the broadcast/flag bookkeeping costs ~8 % where the
    // closure was already cheap, and buys 2.7× where the budget binds).
    // Above the 1 GiB bound the equi-join shape returns (the >16M-vector
    // regime, where an id-bucketed layout co-locates the join at cluster
    // scale).
    // callers that already counted the corpus (knnGraph's parameter rule)
    // pass it through — the count job is skipped, not re-run
    val nBase = if (knownN > 0L) knownN else base.count()
    // the cap scales down with cluster width unless the caller pins it:
    // broadcast cost is bytes × executors (rescoreBroadcastBound)
    val bcastCap =
      if (rescoreBroadcastCap > 0L) rescoreBroadcastCap
      else rescoreBroadcastBound(executorCountOf(corpus.sparkSession))
    val bcastVecs = nBase * (dim * 4L + 48L) <= bcastCap
    def side(df: DataFrame): DataFrame = if (bcastVecs) broadcast(df) else df
    // Closure dedup (measured r16 A/B, sf10 n=200k degree=32, same host):
    // the pre-rescore distinct is one shuffle of 16-byte id pairs that
    // caps the map-side rescore at distinct pairs. Skipping it and letting
    // topDegree's partial max fold the dups was TRIED: uniform build
    // 235 → 120-130 s (dups are rare there, the distinct shuffle is pure
    // overhead) but clustered 142 → 175-242 s across runs (closure dup
    // factor ~degree: neighbors share neighbors inside a tight cluster)
    // WITH one OOM at the default 8 GiB heap (the un-deduped frame lifts
    // hash-agg pressure ~degree-fold on clustered shapes). A fine-bucket
    // skew switch was also tried and REJECTED: bandBitsFor caps bucket
    // width by construction, so bucket skew under-reads the graph-level
    // dup factor and picked the wrong branch on the clustered corpus.
    // The distinct stays: clustered is the production shape, memory
    // head-room is part of the contract, and the uniform (budget-binding)
    // wall is still 2.7× under the same-host r15 code with it paid.
    def rescore(pairs: DataFrame): DataFrame =
      pairs
        .join(side(base.select(col("id").as("src"), col("_vec").as("_v"),
          col("_n").as("_nv"))), Seq("src"))
        .join(side(vecs), Seq("dst"))
        .withColumn("cosine", pairCosine)
        .select(col("src"), col("dst"), col("cosine"))
    def topDegree(scored: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
      scored.groupBy(col("src"), col("dst"))
        .agg(max(col("cosine")).as("cosine")) // dup pairs carry equal cosines
        .withColumn("_nr", row_number().over(w))
        .filter(col("_nr") <= degree)
        .select(col("src"), col("dst"), col("cosine"))
    }
    // The rescore/rank leg, optionally SLICED by src (`buildSlices` > 1):
    // the closure's pre-distinct candidate frame is the build's DISK-peak
    // term — N·degree²·dup rows with dup ~degree on clustered corpora,
    // which at sf100 n=2M filled a 250 GB box's disk 15 min into the
    // closure (SURVEY §6 r16, `No space left on device` in the distinct's
    // HashAggregate spill). Hash-partitioning the src space into S slices
    // runs S SEQUENTIAL jobs (the per-slice localCheckpoint forces each
    // before the next plans), so the periodic cleaner reclaims a slice's
    // dead shuffle generations before the next slice writes its own —
    // peak scratch ≈ 1/S of the single-job build (grace-hash style: each
    // pass shuffles only its own hash slice of the key space). The result
    // is BIT-IDENTICAL to the unsliced leg: topDegree ranks per src, and
    // filter / distinct / rescore / carried-cosine rows are all src-local,
    // so slicing the src space partitions every per-src candidate set
    // intact (spec-pinned row-identical, KnnGraphSpec).
    def rankedOf(pairs: DataFrame, carry: Option[DataFrame],
        dedup: Boolean): DataFrame = {
      def leg(p: DataFrame, c: Option[DataFrame]) = {
        val scored = rescore(if (dedup) p.distinct() else p)
        topDegree(c.fold(scored)(scored.unionByName(_)))
      }
      if (buildSlices <= 1) leg(pairs, carry)
      else (0 until buildSlices).map { s =>
        val pred = pmod(xxhash64(col("src")), lit(buildSlices)) === lit(s.toLong)
        leg(pairs.filter(pred), carry.map(_.filter(pred))).localCheckpoint()
      }.reduce(_ unionByName _)
    }
    val hw = Window.partitionBy(col("cb")).orderBy(col("id"))
    val hubs = base.withColumn("_hr", row_number().over(hw))
      .filter(col("_hr") <= degree)
      .select(col("cb").as("cbk"), col("id").as("hub"))
      .localCheckpoint()
    val finePairs = base.select(col("fb"), col("id").as("src"))
      .join(base.select(col("fb"), col("id").as("dst")), Seq("fb"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    val hubPairs = base.select(col("cb").as("cbk"), col("id"))
      .join(hubs, Seq("cbk"))
      .filter(col("id") =!= col("hub"))
    val seedPairs = finePairs
      .unionByName(hubPairs.select(col("id").as("src"), col("hub").as("dst")))
      .unionByName(hubPairs.select(col("hub").as("src"), col("id").as("dst")))
    // MEASURED DECISION (r15): Dong et al. 2011 §2.3's ρ-sampling of the
    // 2-hop closure — each node contributing only ⌈ρ·degree⌉ edges to the
    // round's only N·degree² term, drawn by a portable md5 u20 so the
    // oracle replays it — was implemented, hash-verified, and REJECTED at
    // ρ = 1/2: the sf10 uniform build fell 550 → 139 s (4×) but recall@5
    // at the rule's default walk collapsed 0.300 → 0.125, i.e. the
    // sampling destroys exactly the graph quality the degree-32 rule
    // exists to buy (on structureless corpora discovery is proportional
    // to explored closure pairs). The FULL closure stays; the build cost
    // is the budgeted trade degreeFor's buildBudget already gates.
    //
    // What DOES hold recall while cutting the closure is Dong 2011 §2.2's
    // NEW/OLD flags (r16): a candidate pair whose generating edges were
    // BOTH already present in the previous round's graph was already in
    // that round's candidate set — it either survives in `near` (its
    // cosine rides along below, no rescore) or was rejected below the
    // per-src top-degree bar, and the bar is monotone non-decreasing in
    // (cosine desc, dst asc) order because every round ranks a SUPERSET
    // of the edges it kept last round. So skipping old×old pairs yields
    // the BIT-IDENTICAL final graph (not merely equal recall) while
    // scoring only the closure fringe that changed: the oracle's full-
    // closure replay stays hash-exact by construction, and the flags
    // themselves are deterministic (presence in the prior round's graph).
    var near = rankedOf(seedPairs, None, dedup = false)
      .withColumn("_new", lit(true)).localCheckpoint()
    for (round <- 1 to refineRounds) {
      val edges = near.select(col("src"), col("dst"), col("_new"))
      // 2-hop src→mid→dst: rescore only if either hop edge is new
      val twoHop = edges.toDF("src", "dst", "_n1")
        .join(edges.toDF("dst", "d2", "_n2"), Seq("dst"))
        .filter(col("_n1") || col("_n2"))
        .select(col("src"), col("d2").as("dst"))
        .filter(col("src") =!= col("dst"))
      // reversed edges: an old edge's reverse was a candidate last round;
      // the distinct (dedup = true, per slice when sliced) is the closure
      // dedup adjudicated above
      val cands = edges.filter(col("_new"))
        .select(col("dst").as("src"), col("src").as("dst"))
        .unionByName(twoHop)
      // current edges keep their known cosines — only the fringe rescored;
      // dup (src,dst) pairs carry equal cosines, topDegree's max() folds them
      val ranked = rankedOf(cands,
        Some(near.select("src", "dst", "cosine")), dedup = true)
      // the marking join exists only to feed the NEXT round's flag filter
      // — on the final round the flags are dead, so skip it
      near =
        (if (round == refineRounds) ranked.withColumn("_new", lit(false))
         else ranked
           .join(near.select(col("src"), col("dst"), lit(true).as("_kept")),
             Seq("src", "dst"), "left")
           .withColumn("_new", col("_kept").isNull)
           .select(col("src"), col("dst"), col("cosine"), col("_new")))
        .localCheckpoint()
    }
    val longEdges = hubPairs.select(col("id").as("src"), col("hub").as("dst"))
    NswIndex(near.select("src", "dst", "cosine"), longEdges, hubs, coarse)
  }

  /** Beam search over an [[nswIndex]]: each probe ENTERS at its own
    * coarse bucket's hubs plus the `entries` smallest corpus ids (the
    * global fallback for out-of-distribution queries), then for `hops`
    * rounds expands its current top-`beam` frontier through near + long
    * edges, scoring only NEW nodes (anti-join against everything already
    * scored). Output is the exact-cosine top-k of every node visited.
    *
    * Scale shape: per hop the frontier is probes × beam rows; expansion
    * touches ≤ probes × beam × 2·degree candidate ids, joined against the
    * id-keyed vector table (an equi-join — at cluster scale an
    * id-bucketed layout co-locates it). Candidates SCORED per probe ≤
    * entries + degree + hops × beam × 2·degree — O(1) in corpus size, vs
    * IVF's nprobe/nlist corpus FRACTION: the reason graph ANN wins at
    * disk scale, and the SURVEY §6 budget comparison.
    */
  def knnGraphSearch(
      index: NswIndex,
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      beam: Int,
      hops: Int,
      entries: Int,
      dim: Int = 64): DataFrame = {
    require(k > 0 && beam >= k && hops >= 0 && entries > 0)
    // the adjacency union-distinct is consumed once per hop; left lazy the
    // distinct is a FULL shuffle of near ∪ longEdges re-run every hop
    // (hops× the work at any scale — near is already checkpointed, so no
    // lineage risk). Materialize it once; contents are deterministic, so
    // gate hashes are unaffected (guide §2.4: remove repeated shuffles).
    val adjacency = index.near.select(col("src"), col("dst"))
      .unionByName(index.longEdges).distinct().localCheckpoint()
    val vecs = corpus.select(col(idCol).as("nid"),
      checkedDim(col(vecCol), dim).as("_v"), Vectors.norm(col(vecCol)).as("_nv"))
    val p = broadcast(probes.select(col(probeIdCol).as("probe_id"),
      checkedDim(col(probeVecCol), dim).as("_p"),
      Vectors.norm(col(probeVecCol)).as("_np")))
    def score(cands: DataFrame): DataFrame =
      cands.join(vecs, Seq("nid")).join(p, Seq("probe_id"))
        .withColumn("cosine", pairCosine)
        .select(col("probe_id"), col("nid"), col("cosine"))
    val globalEntry = vecs.orderBy(col("nid")).limit(entries).select(col("nid"))
    val localEntry = p.select(col("probe_id"),
        bucketCode(col("_p"), index.coarse).as("cbk"))
      .join(index.hubs, Seq("cbk"))
      .select(col("probe_id"), col("hub").as("nid"))
    val entry = p.select(col("probe_id")).crossJoin(globalEntry)
      .unionByName(localEntry).distinct()
    // each hop references the accumulated `best` THREE times (frontier,
    // visited anti-join, union) — left lazy, the plan re-derives hop h-1
    // 2^h times (measured 19 s for 8 probes at sf0.001). localCheckpoint
    // materializes the tiny probes×visited frame once per hop; contents
    // are deterministic, so gate hashes are unaffected (the Ranking
    // posting-fold precedent).
    var best = score(entry).localCheckpoint()
    for (_ <- 1 to hops) {
      val frontier = topKPerProbe(best, "nid", beam)
        .select(col("probe_id"), col("nid").as("src"))
      val expand = frontier
        .join(adjacency, Seq("src"))
        .select(col("probe_id"), col("dst").as("nid"))
        .distinct()
        .join(best.select(col("probe_id"), col("nid")),
          Seq("probe_id", "nid"), "left_anti")
      best = best.unionByName(score(expand)).localCheckpoint()
    }
    topKPerProbe(best.filter(col("probe_id") =!= col("nid")), "nid", k)
      .select(col("probe_id"), col("nid").as("neighbor_id"), col("cosine"),
        col("rank").cast("long").as("rank"))
  }

  /** Graph ANN end to end: derive the fine bucket width AND the graph
    * degree/beam from the corpus size (ONE scalar count — the same
    * bounded-collect class as the IVF centroid trainer; [[degreeFor]] /
    * [[beamFor]] are the measured parameter rule), build the NSW index,
    * beam-search the probes. Pass `degree`/`beam` > 0 to override the
    * rule (the sweep/spec path). At cluster scale the index persists once
    * and serves every query batch; localCheckpoint inside the build is
    * the single-session equivalent.
    *
    * `buildBudget` is the [[degreeFor]] n·degree² gate — the knob a
    * cluster deployment raises ∝ executor count. The sf100 sweep
    * (n=2M, SURVEY §6 r16) is WHY it must be reachable here: at the
    * single-box default the budget caps degree at 32 and uniform
    * recall@5 sits at 0.100 with the walk budget measured FLAT (beam
    * 8→32 all 0.100 at the decade — same flatness as every smaller SF),
    * so the only recall lever at that scale is the degree the budget
    * buys (2³⁴ → degree 64), not any walk parameter this API could tune.
    *
    * `buildSlices` > 1 runs the build's rescore/rank legs as that many
    * sequential src-sliced jobs — bit-identical output, peak shuffle
    * scratch ≈ 1/slices (the sf100 clustered disk-bound contingency;
    * rankedOf in nswIndex). `rescoreBroadcastCap` pins the rescore
    * broadcast bound; 0 derives it from cluster width
    * ([[rescoreBroadcastBound]]).
    */
  def knnGraph(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      probeIdCol: String,
      probeVecCol: String,
      k: Int,
      degree: Int = 0, // 0 = derive from corpus size (degreeFor)
      beam: Int = 0, // 0 = derive from the degree (beamFor)
      hops: Int = 4,
      entries: Int = 4,
      refineRounds: Int = 2,
      targetBucket: Long = 96L,
      dim: Int = 64,
      seed: Long = 42L,
      buildBudget: Long = 1L << 31,
      buildSlices: Int = 1,
      rescoreBroadcastCap: Long = 0L): DataFrame = {
    // rawN feeds nswIndex(knownN): the RAW count, not the max-clamped one
    // the parameter rules use — an empty corpus must report nBase = 0, not
    // 1 (and a 0 knownN makes nswIndex recount, which is then free)
    val rawN = corpus.count()
    val n = math.max(rawN, 1L)
    val fineBits = bandBitsFor(n, targetBucket)
    val deg = if (degree > 0) degree else degreeFor(n, buildBudget = buildBudget)
    val bm = if (beam > 0) beam else math.max(k, beamFor(deg))
    val index = nswIndex(corpus, idCol, vecCol, deg, fineBits, refineRounds, dim,
      seed, buildSlices, rescoreBroadcastCap, knownN = rawN)
    knnGraphSearch(index, corpus, probes, idCol, vecCol, probeIdCol, probeVecCol,
      k, bm, hops, entries, dim)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`.
    *
    * Candidate generation is BANDED sign-LSH — `bands` independent hash
    * tables of `bandBits` hyperplanes each (the same table-OR construction
    * [[graft.operators.Dedup.minhashLsh]] uses for signatures): a pair is a
    * candidate if all `bandBits` signs agree in ANY band. All
    * `bands·bandBits` dots are computed in one projection and packed into a
    * single 64-bit code; band buckets are shift/mask slices of it.
    *
    * Scale bound (the reason for banding instead of one wide-or-narrow
    * table): per band the join cost is Σ_bucket |bucket|² with 2^bandBits
    * buckets, so the expected candidate volume on spread-out data is
    * bands·N²/2^bandBits — pick `bandBits` ≈ log2(N / targetBucketSize) via
    * [[bandBitsFor]] to keep expected bucket size (and per-bucket skew)
    * bounded as the corpus grows; recall is recovered through the band OR:
    * P(candidate) = 1 − (1 − p^bandBits)^bands for per-plane agreement p.
    * A single 4-plane table (the r2 formulation) had only 16 buckets —
    * quadratic within ~N/16-sized buckets and a 16-way skewed shuffle at
    * 100 TB; banding removes that shape entirely.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = 4,
      bandBits: Int = 16,
      dim: Int = 64,
      seed: Long = 7L,
      hyperplanesOverride: Option[Array[Array[Double]]] = None): DataFrame =
    BandedPairs.selfPairs(
      embeddingBandIndex(df, idCol, vecCol, bands, bandBits, dim, seed, hyperplanesOverride),
      bandCosine(threshold))

  /** The banded sign-LSH INDEX: `(id, _v, _n, band, bucket)` — the
    * persistable artifact [[embeddingNearDup]] self-joins and
    * [[embeddingNearDupAgainst]] probes. As with
    * [[graft.operators.Dedup.minhashIndex]], at production scale this is
    * what you write (bucketed by `(band, bucket)`), so each new embedding
    * batch shuffles only its own banded rows against the corpus. The two
    * sides of an incremental probe must be built with the SAME geometry
    * (bands, bandBits, dim, seed / hyperplanes).
    */
  def embeddingBandIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      bands: Int = 4,
      bandBits: Int = 16,
      dim: Int = 64,
      seed: Long = 7L,
      hyperplanesOverride: Option[Array[Array[Double]]] = None): DataFrame = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 63,
      s"bands*bandBits must fit a long: got $bands*$bandBits")
    val hp = hyperplanesOverride.getOrElse(hyperplanes(bands * bandBits, dim, seed))
    require(hp.length == bands * bandBits,
      s"need ${bands * bandBits} hyperplanes, got ${hp.length}")
    val mask = (1L << bandBits) - 1L
    // the packed code is referenced once per band; let-bind it through a
    // single-element transform so CollapseProject cannot inline the
    // bands·bandBits-dot expression into every band slice (interpreted
    // projections get no CSE — see RewriteHofDot notes)
    val buckets = element_at(
      transform(array(bucketCode(col("_v"), hp)), code =>
        array((0 until bands).map(b =>
          shiftright(code, b * bandBits).bitwiseAND(lit(mask))): _*)), 1)
    BandedPairs.bands(
      df.select(col(idCol).as("id"),
        checkedDim(col(vecCol), dim).as("_v"),
        Vectors.norm(col(vecCol)).as("_n")),
      buckets)
  }

  /** INCREMENTAL embedding near-dup: candidates of a new `batch` against an
    * existing `corpus` band index (both from [[embeddingBandIndex]] with
    * identical geometry). The corpus is never self-joined; batch-internal
    * duplicates are the intra-batch [[embeddingNearDup]] pass's job.
    * Output: `(id_new, id_corpus, cosine)`, thresholded.
    */
  def embeddingNearDupAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      threshold: Double): DataFrame =
    BandedPairs.probePairs(batch, corpus, bandCosine(threshold))

  /** Exact cosine of two [[embeddingBandIndex]] rows. */
  private def bandCosine(threshold: Double) =
    BandedPairs.Score("cosine", cosine("_v_a", "_n_a", "_v_b", "_n_b"),
      higherIsBetter = true, threshold)

  /** Deterministic random projection D → d (Johnson–Lindenstrauss style):
    * out[j] = vec · plane_j over the same engine-portable integer-derived
    * hyperplane family the LSH operators use, so the projected values — not
    * just their signs — replay bit-for-bit in any IEEE engine (each dot is
    * the [[graft.plans.FloatDot]] sequential fold). The embedding
    * preprocessing step before cheaper ANN / clustering: distances are
    * approximately preserved while vectors shrink D/d ×.
    *
    * Scale shape: pure scan-side projection — d native dots per row, one
    * explode to (id, pos, val) grain, zero shuffle (spec-asserted).
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dimIn: Int,
      dimOut: Int,
      seed: Long): DataFrame = {
    require(dimIn >= 1 && dimOut >= 1 && dimOut <= dimIn,
      s"need 1 <= dimOut <= dimIn, got dimIn=$dimIn dimOut=$dimOut")
    val hp = hyperplanes(dimOut, dimIn, seed)
    val comps = array(hp.zipWithIndex.map { case (plane, j) =>
      struct(lit(j).as("pos"),
        Vectors.dot(col("_v"), array(plane.map(lit): _*)).as("val"))
    }: _*)
    df.select(col(idCol), checkedDim(col(vecCol), dimIn).as("_v"))
      .withColumn("_c", explode(comps))
      .select(col(idCol), col("_c.pos").cast("long").as("pos"),
        col("_c.val").as("val"))
  }
}
