package graft

import graft.functions.Text
import graft.sources.Tables
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Ad-hoc stage profiler: time labeled sub-plans of the hot queries.
  * Usage: runMain graft.Profile <sfDir>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    // decade-scale harness runs (sf100-class frames: the 2e9-row NSW
    // closure) need more shuffle partitions than the gate default (= cpus)
    // or a single distinct/groupBy task holds 64M+ rows and OOMs — exactly
    // the spill sizing a cluster deployment would tune; AQE coalesces the
    // excess away on small runs, so the override is safe at every SF
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      // decade-scale runs chain multi-10-GB shuffle generations across
      // jobs (the NSW closure rounds); the default 30 min periodic GC
      // lets dead generations pile up on one box's disk — collect them
      // promptly so peak scratch ≈ one round's live generations
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
    }

    if (args.length > 1 && args(1) == "explain") {
      // plan audit: dump formatted plans for the headline queries and grep-
      // friendly markers (PushedFilters, BroadcastHashJoin, Exchange count)
      Seq("q1_pricing", "q_multi_join_agg", "q_sessionize", "q_dim_join",
        "q_bucket15", "q_knn_brute", "q_minhash_lsh", "q_visits",
        "q_faulted_outages", "q_interval_sweep", "q_ngram_jaccard",
        "q_asof_backward", "q_offline_gaps", "q_span_enrich",
        "q_nested_unnest", "q_metric_layer", "q_quality_checks",
        "q_ngram_lm", "q_mixture_sample", "q_dedup_canonical",
        "q_embed_quantize", "q_token_packing", "q_decontaminate",
        "q_card_sketch", "q_tfidf_terms", "q_segment_dedup", "q_chunk_overlap",
        "q_sample_fixedk", "q_quantile_phase", "q_inverted_index",
        "q_clip_filter", "q_epoch_shuffle", "q_rep_signals",
        "q_context_order", "q_pack_nosplit", "q_knn_graph_inc").foreach { name =>
        val plan = SparkEntry.gate(name).run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val exchanges = plan.linesIterator.count(_.contains("Exchange"))
        val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
        val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString("; ")
        println(s"[explain] $name exchanges=$exchanges broadcastJoins=$bhj")
        if (pushed.nonEmpty) println(s"[explain]   $pushed")
        sys.env.get("GRAFT_FULL_PLAN").foreach(_ => println(plan))
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "metric") {
      // decompose q_metric_layer: which part of the 4-5 s is the metric
      // layer itself vs its two input pipelines?
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); 0L
      }
      time("uptime input frame") { noop(SparkEntry.gate("q_uptime").run(spark, sfDir)) }
      time("visit input frame (sessionRollup shape)") {
        noop(SparkEntry.gate("q_session_metrics").run(spark, sfDir))
      }
      time("full q_metric_layer") { noop(SparkEntry.gate("q_metric_layer").run(spark, sfDir)) }
      time("full q_metric_layer (2nd)") { noop(SparkEntry.gate("q_metric_layer").run(spark, sfDir)) }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "variantab") {
      // interleaved A/B: q_nested_unnest's parse stage as from_json (Jackson
      // tree walk) vs parse_json→VARIANT cast — 3 rounds each, noop sink
      val ev = Tables.events(spark, sfDir).select(
        col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      val payload = concat(
        lit("[{\"grp\":\"a\",\"sv\":[{\"m\":\"value\",\"v\":"), col("value").cast("string"),
        lit("},{\"m\":\"key\",\"v\":"), col("k").cast("string"),
        lit("}]},{\"grp\":\"b\",\"sv\":[{\"m\":\"key2\",\"v\":"), col("k").cast("string"),
        lit("}]}]"))
      val base = ev.withColumn("payload", payload)
      def downstream(parsed: org.apache.spark.sql.Column) =
        base.select(col("event_type"), explode(parsed).as("mv"))
          .select(col("event_type"), col("mv.grp").as("grp"), explode(col("mv.sv")).as("s"))
          .select(col("event_type"), col("grp"), col("s.m").as("m"), col("s.v").as("v"))
          .groupBy(col("event_type"), col("grp"), col("m"))
          .agg(count(lit(1)).as("n"),
            sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      val ddl = "array<struct<grp:string,sv:array<struct<m:string,v:double>>>>"
      val viaFromJson = downstream(
        from_json(col("payload"), org.apache.spark.sql.types.DataType.fromDDL(ddl)))
      val viaVariant = downstream(
        expr(s"variant_get(parse_json(payload), '$$', '$ddl')"))
      // the kernel emits flattened rows — same downstream aggregate, one explode
      val viaKernel = base
        .select(col("event_type"),
          explode(graft.plans.JsonExpressions.meterFrames(col("payload"))).as("r"))
        .select(col("event_type"), col("r.grp").as("grp"), col("r.m").as("m"),
          col("r.v").as("v"))
        .groupBy(col("event_type"), col("grp"), col("m"))
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,2)")).cast("double").as("total_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      base.write.format("noop").mode("overwrite").save() // warm the scan
      (1 to 3).foreach { i =>
        time(s"from_json round $i") {
          viaFromJson.write.format("noop").mode("overwrite").save(); 0L }
        time(s"variant   round $i") {
          viaVariant.write.format("noop").mode("overwrite").save(); 0L }
        time(s"kernel    round $i") {
          viaKernel.write.format("noop").mode("overwrite").save(); 0L }
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "slow") {
      // decompose the slowest bench queries into labeled stages
      import graft.operators.Similarity
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); 0L
      }
      val emb = Tables.embeddings(spark, sfDir)
      emb.count()
      val probes = emb.filter(col("vec_id") < 8)
      time("ivf: trainCentroids") {
        Similarity.trainCentroids(emb, "vec_id", "embedding", 16); 0L
      }
      val trained = Similarity.trainCentroids(emb, "vec_id", "embedding", 16)
      time("ivf: query w/ pretrained") {
        noop(Similarity.knnIvf(emb, probes, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 2, trainedCentroids = Some(trained)))
      }
      time("ivf: full") {
        noop(Similarity.knnIvf(emb, probes, "vec_id", "embedding", "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 2))
      }
      val docs = Tables.documents(spark, sfDir)
      docs.count()
      time("ngram_jaccard full") {
        noop(graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8))
      }
      time("simhash full") {
        noop(graft.operators.Dedup.simhashNearDup(docs, "doc_id", "text", 3, 3))
      }
      time("minhash full") {
        noop(graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 32, 8, 0.5))
      }
      val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_linenumber", "l_quantity")
      val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      li.count(); ord.count()
      time("salted_join full") {
        noop(graft.operators.Skew.saltedJoin(li, ord, "l_orderkey", "l_linenumber", 4)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty")))
      }
      time("plain join (reference)") {
        noop(li.join(ord, Seq("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("total_qty")))
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "zipf") {
      // pair mining on a REALISTIC corpus: open 20k-word Zipf vocabulary
      // (real text), same doc count/length as the sfDir documents table.
      // The driver's 30-word synthetic vocabulary is the adversarial
      // density ceiling (every shingle shared by ~N/27000 docs); Zipf is
      // what production corpora look like, and candidate volume there
      // should collapse to ≈ true near-dup pairs
      val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
      def u01(salt: Int, cols: org.apache.spark.sql.Column*) =
        (pmod(xxhash64(cols :+ lit(salt): _*), lit(1L << 40)).cast("double")
          / lit((1L << 40).toDouble))
      // inverse-CDF Zipf(s=1.1) over ranks 1..20000: rank ≈ u^(-1/(s-1))
      // capped — heavy head, long tail, like word frequencies
      val word = (u: org.apache.spark.sql.Column) => concat(lit("w"),
        // clamp in DOUBLE space: u^-10 overflows bigint for small u
        least(pow(u + lit(1e-12), lit(-1.0 / 0.1)), lit(19999.0)).cast("long"))
      val zipfDocs = spark.range(nDocs).select(
        col("id").as("doc_id"),
        array_join(transform(
          sequence(lit(1), (u01(70, col("id")) * 91).cast("int") + 10),
          i => word(u01(71, col("id"), i))), " ").as("text"))
        // plant exact dups at the same ~8/5000 rate as the driver corpus
        .withColumn("text",
          when(u01(72, col("doc_id")) < 8.0 / 5000,
            concat(lit("planted duplicate body shared verbatim "),
              (col("doc_id") % 40).cast("string"))).otherwise(col("text")))
      zipfDocs.write.format("noop").mode("overwrite").save()
      time("zipf jaccard candidates") {
        graft.operators.Dedup.pairStatsForProfile(
          zipfDocs, "doc_id", "text", 3, 0.8, 1000L, containment = false).count()
      }
      time("zipf containment candidates") {
        graft.operators.Dedup.pairStatsForProfile(
          zipfDocs, "doc_id", "text", 3, 0.8, 1000L, containment = true).count()
      }
      time("zipf jaccard full") {
        graft.operators.Dedup.ngramJaccard(zipfDocs, "doc_id", "text", 3, 0.8)
          .count()
      }
      time("zipf containment full") {
        graft.operators.Dedup.overlapPairs(zipfDocs, "doc_id", "text", 3, 0.8)
          .count()
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "bands") {
      // hyperplane-family quality: Σ_bucket |bucket|² per band (the
      // bucket-join cost driver) for (a) the shipped LCG integer family,
      // (b) a quadratic-mod integer family (portable fix candidate),
      // (c) JVM gaussian planes (non-portable quality reference).
      // Uniform-ideal per band ≈ N²/2^bits + N.
      import graft.functions.Vectors
      val emb = Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val bits = math.min(15, graft.operators.Similarity.bandBitsFor(n, 64L))
      val bands = 4
      println(s"[profile] n=$n bands=$bands bits=$bits ideal-per-band=" +
        (n.toDouble * n / (1L << bits) + n).toLong)
      val M = 1000003L
      def lcg(p: Int, d: Int, seed: Long): Double =
        ((p * 73856093L + d * 19349663L + seed * 83492791L) % M).toDouble / M - 0.5
      def quad(p: Int, d: Int, seed: Long): Double = {
        val k0 = (p.toLong * 64 + d + seed * 83492791L) % M
        (((k0 * k0 % M) * 73856093L + k0 * 19349663L) % M).toDouble / M - 0.5
      }
      val rng = new scala.util.Random(7L)
      val gauss = Array.fill(bands * bits, 64)(rng.nextGaussian())
      def occupancy(label: String, hp: Array[Array[Double]]): Unit = {
        val bitsCols = hp.zipWithIndex.map { case (plane, i) =>
          when(Vectors.dot(col("embedding"), array(plane.map(lit): _*)) >= 0,
            shiftleft(lit(1L), i)).otherwise(lit(0L))
        }
        val code = bitsCols.reduce(_ bitwiseOR _)
        val mask = (1L << bits) - 1L
        val sums = emb.select(code.as("_code"))
          .select((0 until bands).map(b =>
            shiftright(col("_code"), b * bits).bitwiseAND(lit(mask)).as(s"b$b")): _*)
          .select(explode(array((0 until bands).map(b =>
            struct(lit(b).as("band"), col(s"b$b").as("bucket"))): _*)).as("bb"))
          .groupBy(col("bb.band"), col("bb.bucket")).agg(count(lit(1)).as("c"))
          .groupBy(col("band")).agg(sum(col("c") * col("c")).as("sumsq"),
            max(col("c")).as("maxb"), count(lit(1)).as("nbuckets"))
          .orderBy(col("band")).collect()
        sums.foreach(r => println(f"[profile] $label%-10s band=${r.getInt(0)} " +
          f"sumsq=${r.getLong(1)}%,d maxBucket=${r.getLong(2)}%,d buckets=${r.getLong(3)}"))
      }
      occupancy("lcg", Array.tabulate(bands * bits, 64)((p, d) => lcg(p, d, 7L)))
      occupancy("quad", Array.tabulate(bands * bits, 64)((p, d) => quad(p, d, 7L)))
      occupancy("gauss", gauss)
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "trend") {
      // sf10-decade trend point for the near-dup family's LINEAR paths:
      // wall time + candidate volume vs output pairs, one decade beyond
      // the sf1 validation (dense exact containment is excluded — its
      // ~N² candidate growth on the dense corpus is root-caused and
      // documented in SURVEY §6; the zipf mode covers the realistic shape)
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); 0L
      }
      val docs = Tables.documents(spark, sfDir)
      docs.count()
      time("minhash_lsh full") {
        graft.operators.Dedup.minhashLsh(docs, "doc_id", "text", 3, 32, 8, 0.5).count()
      }
      time("simhash full") {
        graft.operators.Dedup.simhashNearDup(docs, "doc_id", "text", 3, 3).count()
      }
      time("segment_dedup full") {
        noop(graft.operators.Dedup.segmentDedup(
          docs.select(col("doc_id"), col("text")), "doc_id", "text", 3))
      }
      val emb = Tables.embeddings(spark, sfDir)
      val n = emb.count()
      val bits = math.min(15, graft.operators.Similarity.bandBitsFor(n, 64L))
      println(s"[profile] embeddings n=$n bandBits=$bits")
      time("embed_neardup full (t=0.25)") {
        graft.operators.Similarity.embeddingNearDup(
          emb, "vec_id", "embedding", threshold = 0.25, bands = 4, bandBits = bits).count()
      }
      time("embed banded candidates (deduped)") {
        // threshold -1 keeps every bucket-join pair after group-max dedup —
        // the banded candidate volume that must stay ≈ 64·N per band
        graft.operators.Similarity.embeddingNearDup(
          emb, "vec_id", "embedding", threshold = -1.0, bands = 4, bandBits = bits).count()
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "dumpplans") {
      // write .explain("formatted") for the named queries to a directory:
      //   runMain graft.Profile <sfDir> dumpplans <outDir> <q1,q2,...> [suffix]
      // (the r17 plans/ artifact generator — judge-checkable plan claims)
      if (args.length < 4) {
        System.err.println(
          "usage: runMain graft.Profile <sfDir> dumpplans <outDir> <q1,q2,...> [suffix]")
        spark.stop()
        sys.exit(2)
      }
      val outDir = args(2)
      val names = args(3).split(",").toSeq
      val suffix = args.drop(4).headOption.getOrElse("")
      new java.io.File(outDir).mkdirs()
      names.foreach { name =>
        val plan = SparkEntry.gate(name).run(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        val p = java.nio.file.Paths.get(outDir, s"$name$suffix.txt")
        java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
        println(s"[dumpplans] wrote $p (${plan.linesIterator.size} lines)")
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "zipfgate") {
      // decompose the q_*_zipf pair gates: ZipfCorpus generation vs the
      // shingleSets checkpoint vs each scorer leg (r17 board triage)
      import graft.operators.Dedup
      val docs = graft.sources.ZipfCorpus.docs(spark, sfDir)
      time("zipf corpus noop") {
        docs.write.format("noop").mode("overwrite").save(); 0L }
      time("shingleSets (checkpoint)") {
        Dedup.shingleSets(docs, "doc_id", "text", 3).count() }
      val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
      time("jaccardOn over sets") { Dedup.ngramJaccardOn(sets, 0.8).count() }
      time("overlapOn over sets") { Dedup.overlapPairsOn(sets, 0.8).count() }
      time("full q_ngram_jaccard_zipf") {
        SparkEntry.gate("q_ngram_jaccard_zipf").run(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L }
      time("full q_containment_zipf") {
        SparkEntry.gate("q_containment_zipf").run(spark, sfDir)
          .write.format("noop").mode("overwrite").save(); 0L }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "fuzzygate") {
      // decompose q_fuzzy_match2 on the GATE's own data (r18 VERDICT item
      // 7 triage): inputs vs deletion-neighborhood key construction vs the
      // block join + thresholded-levenshtein verify — which stage owns the
      // ~5-6 s board cost?
      import graft.operators.EntityResolution
      import graft.sources.ZipfCorpus.u20
      val canon = Tables.customer(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"),
          concat(col("n_name"), lit("-"), col("c_custkey").cast("string"))
            .as("canon_name"))
      val ck = col("c_custkey").cast("string")
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
      def keyedHof(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame =
        df.withColumn("_bk",
          explode(transform(EntityResolution.deletionNeighborhood(col(name), 2),
            s => xxhash64(s))))
      def keyedKernel(df: org.apache.spark.sql.DataFrame, name: String): org.apache.spark.sql.DataFrame =
        df.withColumn("_bk",
          explode(graft.plans.EntityExpressions.deletionKeyHashes(col(name), 2)))
      def full(k: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame) =
        k(dirty, "dirty_name")
          .join(k(canon, "canon_name"), "_bk")
          .select(col("dirty_id"), col("dirty_name"),
            col("c_custkey"), col("canon_name"))
          .distinct()
          .withColumn("edit_dist",
            levenshtein(col("dirty_name"), col("canon_name"), 2))
          .where(col("edit_dist") >= 0)
      canon.write.format("noop").mode("overwrite").save() // warm
      (1 to 3).foreach { i =>
        time(s"inputs (canon+dirty)   round $i") {
          canon.write.format("noop").mode("overwrite").save()
          dirty.write.format("noop").mode("overwrite").save(); 0L }
        time(s"keys canon HOF         round $i") {
          keyedHof(canon, "canon_name").write.format("noop").mode("overwrite").save(); 0L }
        time(s"keys canon KERNEL      round $i") {
          keyedKernel(canon, "canon_name").write.format("noop").mode("overwrite").save(); 0L }
        time(s"match HOF keys         round $i") { full(keyedHof).count() }
        time(s"match KERNEL keys      round $i") { full(keyedKernel).count() }
        time(s"full q_fuzzy_match2    round $i") {
          SparkEntry.gate("q_fuzzy_match2").run(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); 0L }
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "reuse") {
      // the multi-scorer amortization question: jaccard + containment over
      // one corpus — default recompute paths (back to back) vs ONE
      // checkpointed shingleSets feeding both scorers. Hash-equality of the
      // two is gate-checked (q_*_zipf run the reuse path); this measures
      // the amortization.
      val docs = Tables.documents(spark, sfDir)
      docs.count()
      time("default jaccard") {
        graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8).count()
      }
      time("default containment") {
        graft.operators.Dedup.overlapPairs(docs, "doc_id", "text", 3, 0.8).count()
      }
      time("reuse BOTH (incl. checkpoint)") {
        val sets = graft.operators.Dedup.shingleSets(docs, "doc_id", "text", 3)
        graft.operators.Dedup.ngramJaccardOn(sets, 0.8).count() +
          graft.operators.Dedup.overlapPairsOn(sets, 0.8).count()
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "pairs") {
      // decompose the prefix-filtered pair core: docsets vs candidates vs
      // verification, for jaccard and containment
      val docs = Tables.documents(spark, sfDir)
      docs.count()
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); 0L
      }
      time("jaccard full") {
        noop(graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8))
      }
      time("containment full") {
        noop(graft.operators.Dedup.overlapPairs(docs, "doc_id", "text", 3, 0.8))
      }
      time("containment candidate count") {
        graft.operators.Dedup.pairStatsForProfile(
          docs, "doc_id", "text", 3, 0.8, 1000L, containment = true).count()
      }
      time("jaccard candidate count") {
        graft.operators.Dedup.pairStatsForProfile(
          docs, "doc_id", "text", 3, 0.8, 1000L, containment = false).count()
      }
      // runtime plan shape: is the docsets subtree recomputed per consumer,
      // or does AQE's exchange reuse collapse it?
      val jac = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
      jac.write.format("noop").mode("overwrite").save()
      val p = jac.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(p).length
      println(s"[profile] jaccard runtime plan: Exchange=${n("Exchange")} " +
        s"ReusedExchange=${n("ReusedExchange")} scans=${n("Scan parquet")} " +
        s"aqeReads=${n("AQEShuffleRead")} shuffleStages=${n("ShuffleQueryStage")} " +
        s"tableCache=${n("InMemoryTableScan")}")
      sys.env.get("GRAFT_FULL_PLAN").foreach(_ => println(p))
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "cc") {
      // decompose q_dedup_canonical: candidate pairs vs label propagation
      def noop(df: org.apache.spark.sql.DataFrame): Long = {
        df.write.format("noop").mode("overwrite").save(); 0L
      }
      val docs = Tables.documents(spark, sfDir)
      docs.count()
      val pairs = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
      time("pairs: ngramJaccard") { noop(pairs) }
      val cached = pairs.localCheckpoint(true)
      time("cc rounds (pairs pre-materialized)") {
        graft.operators.Dedup.connectedComponents(cached, "id_a", "id_b").count()
      }
      time("full q_dedup_canonical") {
        noop(SparkEntry.gate("q_dedup_canonical").run(spark, sfDir))
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "capstats") {
      // Candidate-pair volume audit for the shingle-pair family: the
      // derived hot-shingle cap (Dedup.derivedDocFreqCap) vs the retired
      // fixed cap=1000, measured as Σ min(df, cap)² over the posting df
      // distribution — the r13 decade metric that exposed the fixed cap's
      // 18.9e9-pair blowup at sf10. Run on both corpus shapes.
      import graft.operators.Dedup
      def stats(label: String, docsDf: org.apache.spark.sql.DataFrame,
          idc: String, txc: String): Unit = {
        val posting = docsDf
          .select(col(idc).as("id"),
            explode(Text.wordShingles(col(txc), 3)).as("_sh"))
          .select(col("id"), xxhash64(col("_sh")).as("shingle"))
        val derived = Dedup.derivedDocFreqCap(posting)
        val df_ = posting.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .localCheckpoint(true)
        // the implementation DROPS df>cap shingles (suppression), so the
        // true candidate volume is Σ_{df≤cap} df²; Σ min(df,cap)² is the
        // upper bound a CLAMPING cap would give — report both
        def sumSq(cap: Long): (Long, Long) = {
          val r = df_.agg(
            sum(when(col("df") <= cap, col("df") * col("df")).otherwise(0L)),
            sum(least(col("df"), lit(cap)) * least(col("df"), lit(cap)))).head()
          (r.getLong(0), r.getLong(1))
        }
        val row = posting.agg(countDistinct(col("id")), count(lit(1))).head()
        val (dDrop, dMin) = sumSq(derived)
        val (fDrop, fMin) = sumSq(1000L)
        println(s"[capstats] $label n_docs=${row.getLong(0)} " +
          s"postings=${row.getLong(1)} derivedCap=$derived " +
          s"drop: derived=$dDrop fixed1000=$fDrop | min: derived=$dMin fixed1000=$fMin")
      }
      stats("dense", Tables.documents(spark, sfDir), "doc_id", "text")
      stats("zipf", graft.sources.ZipfCorpus.docs(spark, sfDir), "doc_id", "text")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "fuzzy") {
      // q_fuzzy_match2 on a REALISTIC name distribution (the r13 triage
      // ask): the gate's synthetic `NATION-custkey` names give every name
      // ~81 edit-distance-1 digit-neighbors (true-match density ~90×N —
      // that's the data, not the plan), so measure the production case:
      // three-token Zipf names ("surname given discriminator", each token
      // cube-Zipf over its own vocab via the ZipfCorpus portable-draw
      // primitive), where full-name collisions within edit distance 2 are
      // O(1) per name like real name feeds. Dirty side = 50 % of names
      // with 1–2 planted character deletions (the gate's construction).
      import graft.sources.ZipfCorpus.u20
      import graft.operators.EntityResolution
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
      // optional args(2): "lean" = distinct-name-grain blocking;
      // "sliced[:S]" = lean in S bounded-scratch key-space passes
      val variant = args.drop(2).headOption.getOrElse("eager")
      val t0 = System.nanoTime()
      val matches = variant.split(":") match {
        case Array("lean") => EntityResolution.matchByEditDistanceLean(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 2)
        case Array("sliced", rest @ _*) =>
          val s = rest.headOption.map(_.toInt).getOrElse(4)
          EntityResolution.matchByEditDistanceSliced(
            dirty, "dirty_id", "dirty_name",
            canon, "c_custkey", "canon_name", maxDist = 2, slices = s,
            scratchDir = java.nio.file.Files
              .createTempDirectory("graft_fuzzy_sliced").toString)
        case _ => EntityResolution.matchByEditDistance(
          dirty, "dirty_id", "dirty_name",
          canon, "c_custkey", "canon_name", maxDist = 2)
      }
      val m = matches.groupBy().agg(
        count(lit(1)), countDistinct(col("dirty_id"))).head()
      println(f"[fuzzy] zipf-names variant=$variant " +
        f"canon=$nCanon matches=${m.getLong(0)} " +
        f"dirty_matched=${m.getLong(1)} " +
        f"density=${m.getLong(0).toDouble / math.max(1L, m.getLong(1))}%.2f " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "graphbuild") {
      // stage shares of the NSW index build (where do the N·degree²
      // candidate rows actually cost?): three CUMULATIVE full rebuilds at
      // refineRounds = 0, 1, 2 — each leg re-pays (and re-times) the seed
      // stages, so a round's own cost is the difference between adjacent
      // legs. args: (2) degree override (0 = rule), (3) optional corpus
      // cap n.
      import graft.operators.Similarity
      val degreeArg = args.drop(2).headOption.map(_.toInt).getOrElse(0)
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val emb = args.drop(3).headOption.map(_.toLong)
        .fold(emb0)(cap => emb0.filter(col("vec_id") < cap))
        .localCheckpoint(true)
      val n = emb.count()
      val degree = if (degreeArg > 0) degreeArg else Similarity.degreeFor(n)
      val bits = Similarity.bandBitsFor(n, 96)
      println(s"[graphbuild] n=$n degree=$degree fineBits=$bits")
      // mirror nswIndex's stages with explicit timing (kept in lockstep
      // with Similarity.nswIndex — measurement harness, not the operator)
      val t0 = System.nanoTime()
      val idx = Similarity.nswIndex(emb, "vec_id", "embedding", degree, bits,
        refineRounds = 0)
      idx.near.count()
      println(f"[graphbuild] seed graph (rounds=0) ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val idx1 = Similarity.nswIndex(emb, "vec_id", "embedding", degree, bits,
        refineRounds = 1)
      idx1.near.count()
      println(f"[graphbuild] rounds=1 total ${(System.nanoTime() - t1) / 1e9}%.1fs")
      val t2 = System.nanoTime()
      val idx2 = Similarity.nswIndex(emb, "vec_id", "embedding", degree, bits,
        refineRounds = 2)
      idx2.near.count()
      println(f"[graphbuild] rounds=2 total ${(System.nanoTime() - t2) / 1e9}%.1fs")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "graphinc") {
      // q_knn_graph_inc decade rows: the build/probe SPLIT — the index leg
      // (corpus-only NSW build, the offline persist-once cost) timed apart
      // from the serving leg (batch coarse assignment + the O(1)-per-probe
      // beam walk), proving the _inc serving leg is O(batch) while the
      // index amortizes. Mirrors the gate exactly: corpus = vec_id >= 8,
      // batch = vec_id < 8, k = 5, rule-derived degree/beam.
      import graft.operators.Similarity
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
      println(f"[graphinc] n=$n degree=$degree fineBits=$bits " +
        f"index build ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val rows = Similarity.knnGraphSearch(index, corpus, batch,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 5, beam = beam, hops = 4, entries = 4).count()
      println(f"[graphinc] probe leg (8 probes, beam=$beam) " +
        f"${(System.nanoTime() - t1) / 1e9}%.1fs rows=$rows")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "dedupinc") {
      // q_dedup_exact_inc decade rows: the index/probe SPLIT — the corpus
      // fingerprint index (one groupBy over the corpus, the persist-once
      // leg) timed apart from the serving leg (batch fingerprints probe
      // the index by equi-join; only the batch shuffles). Mirrors the
      // gate exactly: batch = doc_id % 5 == 0 (~20 %), corpus = the rest.
      import graft.operators.Dedup
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val batch = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      val corpus = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L)
      val t0 = System.nanoTime()
      val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
        .localCheckpoint(true)
      val nIdx = index.count()
      println(f"[dedupinc] corpus index ${(System.nanoTime() - t0) / 1e9}%.1fs " +
        f"(${nIdx} fingerprints)")
      val t1 = System.nanoTime()
      val decided = Dedup.exactAgainst(index, batch, "doc_id", "text")
        .localCheckpoint(true)
      val byDecision = decided.groupBy(col("status")).count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
      println(f"[dedupinc] batch probe ${(System.nanoTime() - t1) / 1e9}%.1fs " +
        byDecision.mkString("(", " ", ")"))
      // merged-index ROUND-TRIP (§6 r17): fold the batch's delta into the
      // persisted index (O(batch) — the index side passes through), then
      // re-probe a SECOND disjoint batch against the merged index and
      // against a from-scratch rebuild over corpus ∪ batch. The two must
      // agree on every (doc_id, status) decision AND on the fingerprint
      // set — the append-only contract at the decade, not just on the
      // spec's hand-built tables. (keep_ids can legitimately differ where
      // a fingerprint lives in both corpus and batch: merged keeps the
      // corpus canonical — the stability contract — where a rebuild takes
      // the global min id; statuses are unaffected because they depend
      // only on the fingerprint SET.)
      def setHash(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(xxhash64(df.columns.map(col): _*))).head().getLong(0)
      val batch2 = docs.filter(pmod(col("doc_id"), lit(5L)) === 1L)
      val t2 = System.nanoTime()
      val merged = Dedup.mergeIndex(index, decided).localCheckpoint(true)
      println(f"[dedupinc] merge delta ${(System.nanoTime() - t2) / 1e9}%.1fs " +
        f"(${merged.count()} fingerprints)")
      val t3 = System.nanoTime()
      val viaMerged = Dedup.exactAgainst(merged, batch2, "doc_id", "text")
        .select(col("doc_id"), col("status"))
      val probe2Hash = setHash(viaMerged)
      println(f"[dedupinc] batch2 re-probe ${(System.nanoTime() - t3) / 1e9}%.1fs")
      val t4 = System.nanoTime()
      val scratch = Dedup.fingerprintIndex(
        corpus.unionByName(batch), "doc_id", "text").localCheckpoint(true)
      val viaScratch = Dedup.exactAgainst(scratch, batch2, "doc_id", "text")
        .select(col("doc_id"), col("status"))
      val fpOk = setHash(merged.select("fingerprint")) ==
        setHash(scratch.select("fingerprint"))
      val probeOk = probe2Hash == setHash(viaScratch)
      println(f"[dedupinc] from-scratch rebuild+probe " +
        f"${(System.nanoTime() - t4) / 1e9}%.1fs; " +
        s"fingerprint-set ${if (fpOk) "MATCH" else "MISMATCH"}, " +
        s"batch2 decisions ${if (probeOk) "MATCH" else "MISMATCH"}")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "repab") {
      // interleaved A/B for q_rep_signals' top-n-gram stage: three separate
      // topCover passes (r14 shape) vs one fused explode with n in the
      // grouping key (r15 shape) — same output, different shuffle layout
      val docs = Tables.documents(spark, sfDir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4L)) === 0L,
          concat(col("text"),
            lit(" lorem ipsum dolor sit amet lorem ipsum dolor sit amet")))
          .otherwise(col("text")).as("text"))
      def topCover(n: Int) =
        docs.select(col("doc_id"),
            explode(transform(Text.wordShinglesAll(col("text"), n),
              g => xxhash64(g))).as("sh"))
          .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id")).agg((max(col("c")) * n).as(s"_top$n"))
      val split = docs.select(col("doc_id"))
        .join(topCover(2), Seq("doc_id"), "left")
        .join(topCover(3), Seq("doc_id"), "left")
        .join(topCover(4), Seq("doc_id"), "left")
      val fused = docs.select(col("doc_id"),
          explode(flatten(array(Seq(2, 3, 4).map(n =>
            transform(Text.wordShinglesAll(col("text"), n),
              g => struct(lit(n).as("n"), xxhash64(g).as("sh")))): _*))).as("g"))
        .select(col("doc_id"), col("g.n").as("n"), col("g.sh").as("sh"))
        .groupBy(col("doc_id"), col("n"), col("sh")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("n")).agg(max(col("c")).as("m"))
        .groupBy(col("doc_id")).agg(
          max(when(col("n") === 2, col("m") * 2)).as("_top2"),
          max(when(col("n") === 3, col("m") * 3)).as("_top3"),
          max(when(col("n") === 4, col("m") * 4)).as("_top4"))
      // third variant: one scan, no struct — (n, gram) packed into one
      // long key (shift the hash, n in the low bits; key identity is all
      // the count needs), n recovered post-agg
      val fusedLong = docs.select(col("doc_id"),
          explode(flatten(array(Seq(2, 3, 4).map(n =>
            transform(Text.wordShinglesAll(col("text"), n),
              g => shiftleft(xxhash64(g), 2) + lit(n.toLong - 2L))): _*))).as("k"))
        .groupBy(col("doc_id"), col("k")).agg(count(lit(1)).as("c"))
        .withColumn("n", pmod(col("k"), lit(4L)) + lit(2L))
        .groupBy(col("doc_id"), col("n")).agg(max(col("c")).as("m"))
        .groupBy(col("doc_id")).agg(
          max(when(col("n") === 2, col("m") * 2)).as("_top2"),
          max(when(col("n") === 3, col("m") * 3)).as("_top3"),
          max(when(col("n") === 4, col("m") * 4)).as("_top4"))
      docs.write.format("noop").mode("overwrite").save() // warm the scan
      (1 to 3).foreach { i =>
        time(s"split     round $i") {
          split.write.format("noop").mode("overwrite").save(); 0L }
        time(s"fused     round $i") {
          fused.write.format("noop").mode("overwrite").save(); 0L }
        time(s"fusedlong round $i") {
          fusedLong.write.format("noop").mode("overwrite").save(); 0L }
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "streamfloor") {
      // decompose the ~2.5-3 s fixed cost every q_stream_* gate pays
      // (r14 verdict #6): writeOrdered harness leg vs the streaming
      // query's own micro-batch machinery, with per-batch durationMs
      // from the engine's own progress events. Two consecutive runs in
      // the SAME session separate one-time session warm-up (codegen,
      // state-store provider classes) from the per-query floor.
      import graft.streaming.{FileReplay, StreamBucketAgg}
      val events = Tables.events(spark, sfDir)
        .select(col("ts"), col("event_type"), col("value"))
      for (round <- 1 to 2) {
        val t0 = System.nanoTime()
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_streamfloor_$round").toString
        FileReplay.writeOrdered(events, Seq("ts"), 6, dir)
        val tWrite = (System.nanoTime() - t0) / 1e9
        val stream = FileReplay.stream(spark, dir, spark.read.parquet(dir).schema)
        val buckets = StreamBucketAgg.tumbling(
          stream, Seq("event_type"), "ts", "15 minutes", "0 seconds",
          Seq(sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value")))
        val t1 = System.nanoTime()
        val q = buckets.writeStream.format("memory")
          .queryName(s"streamfloor_$round").outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val tQuery = (System.nanoTime() - t1) / 1e9
        val prog = q.asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
          .recentProgress
        q.stop()
        println(f"[streamfloor] round=$round writeOrdered=$tWrite%.2fs " +
          f"query=$tQuery%.2fs batches=${prog.length}")
        prog.foreach { p =>
          val d = p.durationMs
          def g(k: String) = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
          println(s"[streamfloor]   batch=${p.batchId} trigger=${g("triggerExecution")}ms " +
            s"plan=${g("queryPlanning")}ms addBatch=${g("addBatch")}ms " +
            s"getBatch=${g("getBatch")}ms wal=${g("walCommit")}ms " +
            s"offsets=${g("commitOffsets")}ms rows=${p.numInputRows}")
        }
        FileReplay.deleteRecursively(new java.io.File(dir))
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "statestore") {
      // r18 VERDICT item 6: RocksDB vs the default HDFS-backed state store
      // for the big-state streaming gates, at an SF where state is large
      // enough to matter (sf1/sf10 — NOT the sf0.1 board, where per-trigger
      // overhead dominates and state is KBs). The board methodology is
      // unchanged; this measures the 100 TB deployment decision only.
      // providerClass is read at stream START, so setting it per-run on the
      // session conf flips the whole gate's stateful operators.
      val keys = Seq("q_stream_scd2", "q_stream_cdc", "q_stream_full_join")
      val providers = Seq(
        "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      for (round <- 1 to 2; key <- keys; (pname, pclass) <- providers) {
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", pclass)
        time(f"$key%-22s $pname%-8s round $round") {
          SparkEntry.gate(key).run(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); 0L
        }
      }
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "bpedocs") {
      // doc-grain byte tokenization at scale: the single-pass form's
      // collect_list exchange carries the corpus's whole hex-token volume
      // (spill-bound at sf100 — §6 r13: 181.9 s, 14.4×/decade); the sliced
      // form bounds peak shuffle scratch at 1/slices. args: (2) slices
      // (0 = single-pass), e.g. `Profile /tmp/sf100 bpedocs 4`
      import graft.operators.Bpe
      val slices = args.drop(2).headOption.map(_.toInt).getOrElse(0)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val t0 = System.nanoTime()
      val merges = Bpe.trainBytes(docs, "text", m = 8)
      println(f"[bpedocs] train m=8 ${(System.nanoTime() - t0) / 1e9}%.1fs")
      val t1 = System.nanoTime()
      val out =
        if (slices <= 0) Bpe.docByteTokens(docs, "doc_id", "text", merges)
        else Bpe.docByteTokensSliced(docs, "doc_id", "text", merges, slices,
          scratchDir = java.nio.file.Files
            .createTempDirectory("graft_bpedocs_sliced").toString)
      val agg = out.agg(count(lit(1)), sum(col("n_tokens"))).head()
      println(f"[bpedocs] variant=${if (slices <= 0) "single" else s"sliced-$slices"} " +
        f"docs=${agg.getLong(0)} tokens=${agg.getLong(1)} " +
        f"wall=${(System.nanoTime() - t1) / 1e9}%.1fs")
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "graphrecall") {
      // Graph-ANN recall vs the exact brute-force top-k on the same two
      // corpora as the `recall` mode (uniform = the adversarial floor,
      // clustered = the production case), with a (beam, hops) sweep over
      // ONE built index per corpus — the r13 decade question: recall@5
      // fell 1.00 → 0.80 → 0.50 across sf0.01→sf1 at fixed (deg 16,
      // beam 8, 4 hops), so measure sf10 and derive the parameter rule
      // (candidates scored per probe ≈ entries + degree + hops·beam·
      // 2·degree stays O(1) in N either way).
      import graft.operators.Similarity
      // optional args: (2) degree override (0 = the degreeFor rule),
      // (3) corpus filter, (4) buildSlices (1 = the single-job build;
      // >1 = the src-sliced disk-bounded build, SURVEY §6 r17)
      val degreeArg = args.drop(2).headOption.map(_.toInt).getOrElse(0)
      val corpusFilter = args.drop(3).headOption
      val slicesArg = args.drop(4).headOption.map(_.toInt).getOrElse(1)
      def runGraphRecall(corpus: String, emb: org.apache.spark.sql.DataFrame): Unit = {
        if (corpusFilter.exists(_ != corpus)) return
        val n = emb.count()
        val probes = emb.filter(col("vec_id") < 8).localCheckpoint(true)
        val k = 5
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select(col("probe_id").cast("long"), col("neighbor_id").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val t0 = System.nanoTime()
        val exact = pairs(Similarity.knnBruteForce(
          emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
        println(f"[graphrecall] $corpus n=$n brute ${(System.nanoTime() - t0) / 1e9}%.1fs")
        val degree = if (degreeArg > 0) degreeArg else Similarity.degreeFor(n)
        val bits = Similarity.bandBitsFor(n, 96)
        val t1 = System.nanoTime()
        val index = Similarity.nswIndex(emb, "vec_id", "embedding",
          degree = degree, fineBits = bits, buildSlices = slicesArg)
        index.near.count() // force the build before timing searches
        println(f"[graphrecall] $corpus index build ${(System.nanoTime() - t1) / 1e9}%.1fs " +
          s"(degree=$degree fineBits=$bits slices=$slicesArg)")
        // (beamFor(degree), 4) first — the rule's own default walk point
        for ((beam, hops) <- (Seq((Similarity.beamFor(degree), 4),
            (8, 4), (16, 4), (8, 6), (16, 6), (32, 6), (32, 8))).distinct) {
          val t2 = System.nanoTime()
          val got = pairs(Similarity.knnGraphSearch(index, emb, probes,
            "vec_id", "embedding", "vec_id", "embedding",
            k, beam = beam, hops = hops, entries = 4))
          val recall = (exact & got).size.toDouble / exact.size
          val budget = 4 + degree + hops * beam * 2 * degree
          println(f"[graphrecall] $corpus%-10s beam=$beam%-3d hops=$hops%-2d " +
            f"recall@$k = $recall%.3f (scored/probe ≤ $budget; " +
            f"${(System.nanoTime() - t2) / 1e9}%.1fs)")
        }
      }
      def u01g(salt: Int, cols: org.apache.spark.sql.Column*) =
        (pmod(xxhash64(cols :+ lit(salt): _*), lit(1L << 40)).cast("double")
          / lit((1L << 40).toDouble))
      def gaussg(salt: Int, keyCol: org.apache.spark.sql.Column) =
        transform(sequence(lit(1), lit(64)), i =>
          sqrt(-lit(2.0) * log(lit(1.0) - u01g(salt, keyCol, i)))
            * cos(lit(2.0 * math.Pi) * u01g(salt + 1, keyCol, i)))
      val uniformG = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val nG = uniformG.count()
      val clusteredG = spark.range(nG)
        .select(col("id"), (col("id") % 20).as("_c"))
        .select(col("id"),
          zip_with(gaussg(50, col("_c")), gaussg(60, col("id")),
            (c, g) => c + lit(0.35) * g).as("_v"))
        .select(col("id"),
          aggregate(col("_v"), lit(0.0), (acc, x) => acc + x * x).as("_n2"),
          col("_v"))
        .select(col("id").as("vec_id"),
          transform(col("_v"), x => (x / sqrt(col("_n2"))).cast("float"))
            .as("embedding"))
        .localCheckpoint(true)
      runGraphRecall("uniform", uniformG)
      runGraphRecall("clustered", clusteredG)
      spark.stop()
      return
    }

    if (args.length > 1 && args(1) == "recall") {
      // ANN quality harness: recall@k of the LSH and IVF variants vs the
      // exact brute-force baseline, on TWO corpora — the driver's uniform
      // embeddings table (the adversarial floor: no cluster structure, so a
      // coarse quantizer can't beat ~2× random scan) and a synthetic
      // mixture-of-Gaussians corpus (the case users actually have, where
      // cell routing carries real signal)
      import graft.operators.Similarity
      def runRecall(corpus: String, emb: org.apache.spark.sql.DataFrame): Unit = {
        val probes = emb.filter(col("vec_id") < 50)
        val k = 10
        def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
          df.select(col("probe_id").cast("long"), col("neighbor_id").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val t0 = System.nanoTime()
        val exact = pairs(Similarity.knnBruteForce(
          emb, probes, "vec_id", "embedding", "vec_id", "embedding", k))
        println(f"[recall] $corpus brute ${(System.nanoTime() - t0) / 1e9}%.1fs")
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
            f"(candidates returned: ${got.size}; ${(System.nanoTime() - t1) / 1e9}%.1fs)")
        }
      }
      val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val n = uniform.count()
      // clustered corpus, same size: 20 unit-sphere centers, vectors =
      // normalize(center + 0.35·gaussian noise) — in-cluster cosine ≈ 0.9.
      // All hash-seeded (same discipline as GenData): reproducible anywhere.
      def u01(salt: Int, cols: org.apache.spark.sql.Column*) =
        (pmod(xxhash64(cols :+ lit(salt): _*), lit(1L << 40)).cast("double")
          / lit((1L << 40).toDouble))
      def gauss(salt: Int, keyCol: org.apache.spark.sql.Column) =
        transform(sequence(lit(1), lit(64)), i =>
          sqrt(-lit(2.0) * log(lit(1.0) - u01(salt, keyCol, i)))
            * cos(lit(2.0 * math.Pi) * u01(salt + 1, keyCol, i)))
      val clustered = spark.range(n)
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
        // materialize once: Lloyd's per-iteration jobs would otherwise
        // recompute the 128-hash Box–Muller generation tree every pass
        // (measured 314 s vs ~3 s at 2k vectors)
        .localCheckpoint(true)
      runRecall("uniform", uniform)
      runRecall("clustered", clustered)
      spark.stop()
      return
    }

    val docs = Tables.documents(spark, sfDir)
    docs.count()

    val shingled = docs.select(
      col("doc_id").as("id"), Text.wordShingles(col("text"), 3).as("sh"))
      .withColumn("set_size", size(col("sh")))
      .filter(col("set_size") > 0)
    time("shingle+size")(shingled.count())
    val posting = shingled
      .select(col("id"), col("set_size"), explode(col("sh")).as("shingle"))
    time("posting(no barrier)")(posting.count())
    val posting2 = posting.repartition(col("shingle"))
    val rare = posting2.groupBy(col("shingle")).agg(count(lit(1)).as("df_cnt"))
      .filter(col("df_cnt") <= 1000).select("shingle")
    time("rare")(rare.count())
    val filtered = posting2.join(rare, "shingle")
    time("filtered")(filtered.count())
    val a = filtered.toDF("shingle", "id_a", "size_a")
    val b = filtered.toDF("shingle", "id_b", "size_b")
    val joined = a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
    time("self-join")(joined.count())
    val pairs = joined
      .groupBy(col("id_a"), col("id_b"), col("size_a"), col("size_b"))
      .agg(count(lit(1)).as("inter"))
    time("pairs")(pairs.count())
    spark.stop()
  }
}
