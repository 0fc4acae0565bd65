package graft

import graft.operators.{Dedup, EntityResolution, Similarity}
import graft.sources.Tables
import graft.sources.ZipfCorpus.u20
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Scale-out measurements no gate, spec or `graft.Bench` run takes: ANN
  * recall and graph-index cost at scale, the merged dedup index round trip,
  * scale variants of shipped product paths, the state-store A/B, and one
  * plan audit. Per-gate timing is Bench's job.
  *
  * Usage: `runMain graft.Profile <sfDir> <mode> [args]` (modes below).
  * `SPARK_GRAFT_PARTS` overrides the shuffle partition count.
  */
object Profile {
  private val Modes = Seq(
    "explain" -> "[outDir|-] [q1,q2,...]  plan signature per gate; formatted plans to outDir",
    "recall" -> "                        LSH/IVF recall@10 vs brute force",
    "graphrecall" -> "[degree] [corpus] [slices]  graph-ANN recall sweep (uniform|clustered)",
    "graphbuild" -> "[degree] [maxVecId]     NSW build at refineRounds 0, 1, 2",
    "graphinc" -> "                        q_knn_graph_inc index build vs probe leg",
    "dedupinc" -> "                        q_dedup_exact_inc split + merged-index round trip",
    "fuzzy" -> "                        edit-distance matcher on Zipf names",
    "statestore" -> "                        big-state stream gates, HDFS vs RocksDB store")

  /** The headline gates `explain` audits when no names are given. */
  private val HeadlineGates = Seq("q1_pricing", "q_multi_join_agg", "q_sessionize",
    "q_dim_join", "q_bucket15", "q_knn_brute", "q_minhash_lsh", "q_visits",
    "q_faulted_outages", "q_interval_sweep", "q_ngram_jaccard", "q_asof_backward",
    "q_offline_gaps", "q_span_enrich", "q_nested_unnest", "q_metric_layer",
    "q_quality_checks", "q_ngram_lm", "q_mixture_sample", "q_dedup_canonical",
    "q_embed_quantize", "q_token_packing", "q_decontaminate", "q_card_sketch",
    "q_tfidf_terms", "q_segment_dedup", "q_chunk_overlap", "q_sample_fixedk",
    "q_quantile_phase", "q_inverted_index", "q_clip_filter", "q_epoch_shuffle",
    "q_rep_signals", "q_context_order", "q_pack_nosplit", "q_knn_graph_inc")

  private def usage(problem: String): Nothing = {
    System.err.println(s"$problem\nusage: runMain graft.Profile <sfDir> <mode> [args]\n" +
      Modes.map { case (m, help) => f"  $m%-12s $help" }.mkString("\n"))
    sys.exit(2)
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    if (args.length < 2) usage("missing <sfDir> or <mode>")
    val Array(sfDir, mode) = args.take(2)
    val rest = args.drop(2)
    // every argument a mode can reject is checked before Spark starts
    mode match {
      case "explain" =>
        val unknown = rest.lift(1).toSeq.flatMap(_.split(","))
          .filterNot(n => SparkEntry.gates.exists(_.name == n))
        if (unknown.nonEmpty) usage(s"unknown gates: ${unknown.mkString(",")}")
      case "graphrecall" if rest.lift(1).exists(c => c != "uniform" && c != "clustered") =>
        usage(s"unknown graphrecall corpus: ${rest(1)}")
      case "fuzzy" if rest.nonEmpty => usage(s"fuzzy takes no arguments: ${rest.mkString(" ")}")
      case m if Modes.exists(_._1 == m) =>
      case m => usage(s"unknown mode: $m")
    }
    val spark = Sessions.builder()
      // decade-scale runs (sf100-class frames: the 2e9-row NSW closure) need
      // more shuffle partitions than cpus or a single distinct/groupBy task
      // holds 64M+ rows and OOMs; AQE coalesces the excess on small runs
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_PARTS", Sessions.cpus))
      // decade-scale runs chain multi-10-GB shuffle generations across jobs;
      // the default 30 min periodic GC lets dead generations pile up on one
      // box's disk — collect them promptly so peak scratch ≈ one round's
      .config("spark.cleaner.periodicGC.interval", "45s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "explain" => explain(spark, sfDir, rest)
      case "recall" => recall(spark, sfDir)
      case "graphrecall" => graphRecall(spark, sfDir, rest)
      case "graphbuild" => graphBuild(spark, sfDir, rest)
      case "graphinc" => graphInc(spark, sfDir)
      case "dedupinc" => dedupInc(spark, sfDir)
      case "fuzzy" => fuzzy(spark, sfDir)
      case "statestore" => stateStore(spark, sfDir)
    } finally spark.stop()
  }

  /** Plan audit: one signature line per gate (exchanges, broadcast joins,
    * pushed filters); with an out dir, also `<outDir>/<gate>.txt` holding
    * the formatted plan. `-` as the out dir prints signatures only. */
  private def explain(spark: SparkSession, sfDir: String, rest: Array[String]): Unit = {
    val outDir = rest.headOption.filter(_ != "-")
    val names = rest.lift(1).map(_.split(",").toSeq).getOrElse(HeadlineGates)
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))
    names.foreach { name =>
      val plan = SparkEntry.gate(name).run(spark, sfDir)
        .queryExecution.explainString(FormattedMode)
      val lines = plan.linesIterator.toSeq
      val pushed = lines.map(_.trim).filter(_.startsWith("PushedFilters:"))
        .map(_.stripPrefix("PushedFilters:").trim).filter(_ != "[]")
      println(s"[explain] $name exchanges=${lines.count(_.contains("Exchange"))} " +
        s"broadcastJoins=${lines.count(_.contains("BroadcastHashJoin"))} " +
        s"pushedFilters=${pushed.mkString("; ")}")
      outDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"), plan))
    }
  }

  /** The (probe_id, neighbor_id) pairs of a kNN result. */
  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("probe_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The clustered ANN corpus with `n` vectors: 20 unit-sphere centers,
    * vectors = normalize(center + 0.35·gaussian noise), in-cluster cosine
    * ≈ 0.9 — the case users have, where uniform `embeddings` is the
    * adversarial floor. Hash-seeded like GenData, so reproducible anywhere.
    * Checkpointed: Lloyd's per-iteration jobs would otherwise recompute the
    * 128-hash Box–Muller tree every pass (measured 314 s vs ~3 s at 2k). */
  private def clusteredCorpus(spark: SparkSession, n: Long): DataFrame = {
    def u01(salt: Int, cols: Column*) =
      (pmod(xxhash64(cols :+ lit(salt): _*), lit(1L << 40)).cast("double")
        / lit((1L << 40).toDouble))
    def gauss(salt: Int, keyCol: Column) =
      transform(sequence(lit(1), lit(64)), i =>
        sqrt(-lit(2.0) * log(lit(1.0) - u01(salt, keyCol, i)))
          * cos(lit(2.0 * math.Pi) * u01(salt + 1, keyCol, i)))
    spark.range(n)
      .select(col("id"), (col("id") % 20).as("_c"))
      .select(col("id"),
        zip_with(gauss(50, col("_c")), gauss(60, col("id")),
          (c, g) => c + lit(0.35) * g).as("_v"))
      .select(col("id"),
        aggregate(col("_v"), lit(0.0), (acc, x) => acc + x * x).as("_n2"),
        col("_v"))
      .select(col("id").as("vec_id"),
        transform(col("_v"), x => (x / sqrt(col("_n2"))).cast("float"))
          .as("embedding"))
      .localCheckpoint(true)
  }

  /** recall@10 of the LSH and IVF variants vs exact brute force, on the
    * uniform `embeddings` table and the clustered corpus. */
  private def recall(spark: SparkSession, sfDir: String): Unit = {
    val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val k = 10
    for ((corpus, emb) <- Seq("uniform" -> uniform,
        "clustered" -> clusteredCorpus(spark, uniform.count()))) {
      val probes = emb.filter(col("vec_id") < 50)
      val t0 = System.nanoTime()
      val exact = pairs(Similarity.knnBruteForce(
        emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
      println(f"[recall] $corpus brute ${since(t0)}%.1fs")
      Seq(
        "lsh(multiProbe=false)" -> Similarity.knnLsh(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, planes = 8, multiProbe = false),
        "lsh(multiProbe=true)" -> Similarity.knnLsh(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, planes = 8, multiProbe = true),
        "ivf(nlist=16,nprobe=4)" -> Similarity.knnIvf(emb, probes, "vec_id", "embedding",
          "vec_id", "embedding", k, nlist = 16, nprobe = 4)
      ).foreach { case (name, df) =>
        val t1 = System.nanoTime()
        val got = pairs(df)
        val recall = (exact & got).size.toDouble / exact.size
        println(f"[recall] $corpus%-10s $name%-24s recall@$k = $recall%.3f " +
          f"(candidates returned: ${got.size}; ${since(t1)}%.1fs)")
      }
    }
  }

  /** Graph-ANN recall@5 vs brute force over a (beam, hops) sweep of ONE
    * built index per corpus — the r13 decade question (recall fell 1.00 →
    * 0.50 across sf0.01→sf1 at fixed degree 16 / beam 8 / 4 hops) that the
    * degree and beam rules answer. args: degree (0 = `degreeFor`), corpus
    * filter, buildSlices (>1 = the disk-bounded sliced build). */
  private def graphRecall(spark: SparkSession, sfDir: String, rest: Array[String]): Unit = {
    val degreeArg = rest.headOption.map(_.toInt).getOrElse(0)
    val corpusFilter = rest.lift(1)
    val slices = rest.lift(2).map(_.toInt).getOrElse(1)
    val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
    lazy val clustered = clusteredCorpus(spark, uniform.count())
    val k = 5
    for (corpus <- Seq("uniform", "clustered") if corpusFilter.forall(_ == corpus)) {
      val emb = if (corpus == "uniform") uniform else clustered
      val n = emb.count()
      val probes = emb.filter(col("vec_id") < 8).localCheckpoint(true)
      val t0 = System.nanoTime()
      val exact = pairs(Similarity.knnBruteForce(
        emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
      println(f"[graphrecall] $corpus n=$n brute ${since(t0)}%.1fs")
      val degree = if (degreeArg > 0) degreeArg else Similarity.degreeFor(n)
      val bits = Similarity.bandBitsFor(n, 96)
      val t1 = System.nanoTime()
      val index = Similarity.nswIndex(emb, "vec_id", "embedding",
        degree = degree, fineBits = bits, buildSlices = slices)
      index.near.count() // force the build before timing searches
      println(f"[graphrecall] $corpus index build ${since(t1)}%.1fs " +
        s"(degree=$degree fineBits=$bits slices=$slices)")
      // (beamFor(degree), 4) first — the rule's own default walk point
      for ((beam, hops) <- Seq((Similarity.beamFor(degree), 4),
          (8, 4), (16, 4), (8, 6), (16, 6), (32, 6), (32, 8)).distinct) {
        val t2 = System.nanoTime()
        val got = pairs(Similarity.knnGraphSearch(index, emb, probes,
          "vec_id", "embedding", "vec_id", "embedding",
          k, beam = beam, hops = hops, entries = 4))
        val recall = (exact & got).size.toDouble / exact.size
        val budget = 4 + degree + hops * beam * 2 * degree
        println(f"[graphrecall] $corpus%-10s beam=$beam%-3d hops=$hops%-2d " +
          f"recall@$k = $recall%.3f (scored/probe ≤ $budget; ${since(t2)}%.1fs)")
      }
    }
  }

  /** NSW index build cost by refine round: three cumulative rebuilds at
    * refineRounds 0, 1, 2, so a round's own cost is the difference between
    * adjacent legs. args: degree (0 = `degreeFor`), corpus cap on vec_id. */
  private def graphBuild(spark: SparkSession, sfDir: String, rest: Array[String]): Unit = {
    val degreeArg = rest.headOption.map(_.toInt).getOrElse(0)
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb = rest.lift(1).map(_.toLong)
      .fold(emb0)(cap => emb0.filter(col("vec_id") < cap))
      .localCheckpoint(true)
    val n = emb.count()
    val degree = if (degreeArg > 0) degreeArg else Similarity.degreeFor(n)
    val bits = Similarity.bandBitsFor(n, 96)
    println(s"[graphbuild] n=$n degree=$degree fineBits=$bits")
    for (rounds <- 0 to 2) {
      val t0 = System.nanoTime()
      Similarity.nswIndex(emb, "vec_id", "embedding", degree, bits,
        refineRounds = rounds).near.count()
      println(f"[graphbuild] rounds=$rounds total ${since(t0)}%.1fs")
    }
  }

  /** q_knn_graph_inc's build/probe split: the corpus-only NSW build (the
    * persist-once leg) timed apart from the serving leg (coarse assignment
    * + beam walk), which must stay O(batch). Mirrors the gate: corpus =
    * vec_id >= 8, batch = vec_id < 8, k = 5, rule-derived degree/beam. */
  private def graphInc(spark: SparkSession, sfDir: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val corpus = emb.filter(col("vec_id") >= 8)
    val batch = emb.filter(col("vec_id") < 8).localCheckpoint(true)
    val n = corpus.count()
    val degree = Similarity.degreeFor(n)
    val bits = Similarity.bandBitsFor(n, 96)
    val beam = math.max(5, Similarity.beamFor(degree))
    val t0 = System.nanoTime()
    val index = Similarity.nswIndex(corpus, "vec_id", "embedding", degree, bits)
    index.near.count(); index.longEdges.count(); index.hubs.count()
    println(f"[graphinc] n=$n degree=$degree fineBits=$bits index build ${since(t0)}%.1fs")
    val t1 = System.nanoTime()
    val rows = Similarity.knnGraphSearch(index, corpus, batch,
      "vec_id", "embedding", "vec_id", "embedding",
      k = 5, beam = beam, hops = 4, entries = 4).count()
    println(f"[graphinc] probe leg (8 probes, beam=$beam) ${since(t1)}%.1fs rows=$rows")
  }

  /** q_dedup_exact_inc's index/probe split, then the merged-index round
    * trip (SURVEY §6 r17): fold the batch's delta into the index, re-probe
    * a second disjoint batch against it and against a from-scratch rebuild
    * over corpus ∪ batch. Fingerprint sets and every (doc_id, status) must
    * agree; a mismatch throws. (keep_ids may differ where a fingerprint is
    * in both corpus and batch: merged keeps the corpus canonical, a rebuild
    * the global min id; statuses depend only on the fingerprint set.) */
  private def dedupInc(spark: SparkSession, sfDir: String): Unit = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    def slice(r: Long) = docs.filter(pmod(col("doc_id"), lit(5L)) === r)
    val batch = slice(0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
    val t0 = System.nanoTime()
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text").localCheckpoint(true)
    println(f"[dedupinc] corpus index ${since(t0)}%.1fs (${index.count()} fingerprints)")
    val t1 = System.nanoTime()
    val decided = Dedup.exactAgainst(index, batch, "doc_id", "text").localCheckpoint(true)
    val byDecision = decided.groupBy(col("status")).count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
    println(f"[dedupinc] batch probe ${since(t1)}%.1fs " + byDecision.mkString("(", " ", ")"))
    // order-free multiset hash; decimal so the sum cannot overflow
    def setHash(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
        .head().getDecimal(0)
    val batch2 = slice(1L)
    val t2 = System.nanoTime()
    val merged = Dedup.mergeIndex(index, decided).localCheckpoint(true)
    println(f"[dedupinc] merge delta ${since(t2)}%.1fs (${merged.count()} fingerprints)")
    val t3 = System.nanoTime()
    val probe2Hash = setHash(Dedup.exactAgainst(merged, batch2, "doc_id", "text")
      .select(col("doc_id"), col("status")))
    println(f"[dedupinc] batch2 re-probe ${since(t3)}%.1fs")
    val t4 = System.nanoTime()
    val scratch = Dedup.fingerprintIndex(
      corpus.unionByName(batch), "doc_id", "text").localCheckpoint(true)
    val fpOk = setHash(merged.select("fingerprint")) == setHash(scratch.select("fingerprint"))
    val probeOk = probe2Hash == setHash(Dedup.exactAgainst(scratch, batch2, "doc_id", "text")
      .select(col("doc_id"), col("status")))
    def verdict(ok: Boolean) = if (ok) "MATCH" else "MISMATCH"
    println(f"[dedupinc] from-scratch rebuild+probe ${since(t4)}%.1fs; " +
      s"fingerprint-set ${verdict(fpOk)}, batch2 decisions ${verdict(probeOk)}")
    if (!fpOk || !probeOk) throw new IllegalStateException(
      "merged index disagrees with a from-scratch rebuild")
  }

  /** The edit-distance matcher on a realistic name distribution. The
    * gate's `NATION-custkey` names give every name ~81 distance-1 digit
    * neighbours (that is the data, not the plan); here names are three
    * cube-Zipf tokens ("surname given discriminator", ZipfCorpus's portable
    * draw), so collisions within distance 2 are O(1) per name like real
    * name feeds. Dirty side: 50 % of names with 1–2 planted character
    * deletions, the gate's construction. */
  private def fuzzy(spark: SparkSession, sfDir: String): Unit = {
    val ck = col("c_custkey").cast("string")
    def ztok(salt: String, vocab: Long): Column = {
      val u = u20(concat(lit(s"$salt:"), ck))
      concat(lit(salt), shiftright(shiftright(u * u * u, 40) * lit(vocab), 20)
        .cast("string"))
    }
    val canon = Tables.customer(spark, sfDir)
      .select(col("c_custkey"),
        concat_ws(" ", ztok("s", 20000L), ztok("g", 2000L), ztok("d", 20000L))
          .as("canon_name"))
      .localCheckpoint(true)
    val nCanon = canon.count()
    def del(nameCol: Column, p: Column): Column =
      concat(nameCol.substr(lit(1), (p - 1L).cast("int")),
        nameCol.substr((p + 1L).cast("int"), lit(200)))
    val p1 = lit(1L) + shiftright(
      u20(concat(lit("f2a:"), ck)) * length(col("canon_name")), 20)
    val n1 = del(col("canon_name"), p1)
    val p2 = lit(1L) + shiftright(u20(concat(lit("f2b:"), ck)) * length(n1), 20)
    val n2 = del(n1, p2)
    val dirty = canon
      .where(u20(concat(lit("fz2:"), ck)) < lit(524288L))
      .select(col("c_custkey").as("dirty_id"),
        when(pmod(u20(concat(lit("fn:"), ck)), lit(3L)) === 0L, n1)
          .otherwise(n2).as("dirty_name"))
    val t0 = System.nanoTime()
    val m = EntityResolution.matchByEditDistance(dirty, "dirty_id", "dirty_name",
        canon, "c_custkey", "canon_name", maxDist = 2)
      .groupBy().agg(count(lit(1)), countDistinct(col("dirty_id"))).head()
    println(f"[fuzzy] zipf-names canon=$nCanon " +
      f"matches=${m.getLong(0)} dirty_matched=${m.getLong(1)} " +
      f"density=${m.getLong(0).toDouble / math.max(1L, m.getLong(1))}%.2f " +
      f"wall=${since(t0)}%.1fs")
  }

  /** RocksDB vs the default HDFS-backed state store for the big-state
    * stream gates, at an SF where state matters (sf1/sf10, not the sf0.1
    * board where per-trigger overhead dominates). The provider class is
    * read at stream start, so setting it on the session flips every
    * stateful operator of the next gate run. */
  private def stateStore(spark: SparkSession, sfDir: String): Unit = {
    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    for (round <- 1 to 2; key <- Seq("q_stream_scd2", "q_stream_cdc", "q_stream_full_join");
        (pname, pclass) <- providers) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", pclass)
      val t0 = System.nanoTime()
      SparkEntry.gate(key).run(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[statestore] $key%-22s $pname%-8s round $round ${since(t0)}%8.2fs")
    }
  }
}
