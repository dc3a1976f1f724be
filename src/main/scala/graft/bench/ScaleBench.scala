package graft.bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Empirical scale validation: amplify the sf0.1 documents/embeddings
 * fixtures N× (union with re-keyed ids — every original doc becomes an
 * N-clone family, the worst case for dedup paths) and measure the
 * dedup/retrieval query families at each factor. The design claims this
 * run checks:
 *
 *  - bucketed paths (LSH bands, winnow fingerprints, BM25 postings, TF
 *    aggregates, bounded-heap top-k) should scale ~linearly in corpus
 *    size — a quadratic explosion shows up immediately as super-linear
 *    wall-clock;
 *  - the distributed connected-components path must ENGAGE once the mined
 *    edge set exceeds the 2²⁰ driver threshold (identical-clone families
 *    of 30 × 5 000 docs mine ≈ 2.2 M edges) and converge in few rounds —
 *    measured directly via connectedComponentsWithRounds, not inferred.
 *
 * Timing protocol mirrors [[graft.Bench]]: one untimed warmup pass (JIT +
 * codegen + artifact caches), two timed passes, per-query minimum. Output:
 * one JSON line on stdout + a durable copy at bench_out/scale.json.
 */
object ScaleBench {
  // The families whose scale behavior the design document argues for.
  // dedup_clusters is the CC consumer; bm25_index_topk the pruned-postings
  // path; sparse_knn the newest corpus-exploding kernel. The span pair is
  // the round-11 addition: N-clone amplification makes EVERY gram
  // cross-document duplicated — the worst case for the duplicate-set join
  // — and the design claims cost stays linear (no bucket self-join
  // anywhere in the plan).
  // jaccard_join_pairs is the round-12 exact prefix-filter join: N-clone
  // amplification is its worst case on paper (every family multiplies
  // every prefix-token bucket by N), and the design claims the
  // exact-collapse pre-pass keeps MINING constant-cost while only the
  // (output-sized) family expansion scales — ~N²/2 pair rows per family.
  // bpe_tokens and frame_hist are the round-12 map-side families: encode
  // cost should be strictly linear in corpus size (training is
  // sample-bounded and memoized; stripe features are one projection).
  // budget_select's claim is that the cumulative sweep is bounded by the
  // 6-dp bucket table, never the corpus — its wall-clock should track the
  // two quality scans (linear), with the N-clone amplification adding no
  // new buckets. split_leakfree rides the shared pair mining + CC and adds
  // only a map-side hash: it should shadow dedup_clusters' trend.
  // media_meta / audio_env / video_meta / video_frames are the round-14
  // decode-family additions: synthesis + decode fuse into one map-side
  // projection per doc, so the design claims STRICTLY LINEAR per-byte
  // cost in N (no shuffle touches a payload; amplification multiplies
  // docs, not per-doc decode work). ivf_partitioned_recall is the 100 TB
  // scan-shape witness: the persisted cell-partitioned probe (build
  // absorbed in warmup, fingerprint-keyed per factor) against the exact
  // comparator — the exact side is the linear cost, the probe side reads
  // ~nProbe/nList of the amplified corpus through static pruning.
  // curation_pipeline is the round-14 composed pass (near-dup gate →
  // quality gate → budget select → pack): every stage is individually
  // linear above, and the design claims composition adds NO new scaling
  // term — its trend should track the sum of its stages, not a product.
  private val queryNames = Seq(
    "dedup_exact", "dedup_minhash", "dedup_near_keep", "dedup_clusters",
    "winnow_pairs", "bm25_topk", "bm25_index_topk", "knn_topk", "sparse_knn",
    "doc_dup_spans", "dedup_span_cut", "jaccard_join_pairs",
    "bpe_tokens", "frame_hist", "budget_select", "split_leakfree",
    "media_meta", "audio_env", "video_meta", "video_frames",
    "ivf_partitioned_recall", "curation_pipeline")

  private[bench] val Stride = 10_000_000L // far above any fixture id

  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 10, 30)
    // r17 deep-sweep knobs (factors past 100×): SPARK_GRAFT_SCALE_QUERIES
    // subsets the query sweep, SPARK_GRAFT_SCALE_SECTIONS (csv of
    // cc,span,streamflat,ivf) subsets the extra sections. The default runs
    // everything — the knobs exist because N-clone amplification makes
    // pair-EXPANSION outputs quadratic in N by construction (a 1000-clone
    // family mines ~N²/2 pair rows), so a factor-1000 run of the pair
    // families measures a deliberately degenerate output, not an engine
    // term; the deep sweep measures the flagship linear families and
    // records the expansion cliff analytically (BENCH_SCALE.md).
    val queryNamesEff = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(queryNames)
    val sections = sys.env.get("SPARK_GRAFT_SCALE_SECTIONS")
      .map(_.split(',').map(_.trim).toSet)
      .getOrElse(Set("cc", "span", "streamflat", "ivf"))
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Deep sweeps must scale partition count with data, exactly as a real
    // cluster would: at 300× the 32-partition default gives each task a
    // ~7M-row aggregation state and 32 concurrent tasks exhaust the single
    // JVM's execution memory before the hash agg can even allocate (the
    // factor-300 cliff in BENCH_SCALE.md, "deep sweep past 100×").
    val spark = graft.GraftSession("graft-scalebench",
      sys.env.get("SPARK_GRAFT_SCALE_PARTITIONS").toSeq
        .map("spark.sql.shuffle.partitions" -> _): _*)
    // Opt-in durable-materialization sweep (MAINTENANCE.md
    // "Eager-materialization modes"): measures the preemptible-cluster
    // mode's cost at scale — identical results by DedupSpec's identity
    // pin, different placement (parquet write+read-back per mined pair
    // set / CC round instead of localCheckpoint blocks).
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty).foreach {
      dir => spark.conf.set(graft.dedup.Dedup.CheckpointDirConf, dir)
    }

    def jNum(d: Double): String = "%.4f".format(d)
    val perFactor = factors.map { n =>
      val dir = amplified(spark, srcDir, n)
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
      val fns = queryNamesEff.map(q => q -> graft.SparkEntry.queries(q))
      // Full evaluation via the noop sink — same rationale as graft.Bench:
      // a count() would let Catalyst prune projection-only query bodies
      // (bpe_tokens' encode, frame_hist's stripe features) down to a
      // row-count scan, and the sweep would "measure" a no-op flat in N.
      def run(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      fns.foreach { case (_, fn) => // warmup: JIT, codegen, artifact builds
        try run(fn(spark, dir)) catch { case _: Throwable => () }
      }
      // A throwing query must surface in `errors`, never as a fast
      // "timing" — the same contract graft.Bench enforces since the
      // round-10 fixture incident (exception latencies read as 10x
      // speedups otherwise).
      val errs = scala.collection.mutable.TreeSet[String]()
      def pass(): Map[String, Double] = fns.map { case (q, fn) =>
        val t0 = System.nanoTime()
        try run(fn(spark, dir)) catch { case _: Throwable => errs += q }
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap
      val (p1, p2) = (pass(), pass())
      val times = queryNamesEff.filterNot(errs).map(q => q -> math.min(p1(q), p2(q)))
      System.err.println(s"factor $n done: " +
        times.map { case (q, t) => f"$q=$t%.2f" }.mkString(" ") +
        (if (errs.nonEmpty) s" ERRORS=${errs.mkString(",")}" else ""))
      // Release this factor's memoized per-dir state (pair-frame
      // checkpoint blocks, BPE merges) before moving to the next —
      // otherwise every factor's materialized pair set stays pinned in
      // executor memory for the whole sweep. The operator-internal
      // tracked checkpoints (DupSpans/Selection frames) are released
      // here too: between factors nothing is in flight, the contract
      // the app-wide release requires.
      graft.SparkEntry.evictDirCaches(spark, dir)
      graft.dedup.Dedup.releaseTracked(spark)
      n -> (nDocs, nVecs, times, errs.toSeq)
    }

    // Distributed-CC engagement at the largest factor: mine the same LSH
    // pair set dedup_clusters uses and run CC with the round counter.
    val maxDir = amplified(spark, srcDir, factors.max)
    val ccStats: Option[(Long, Int, Long)] = if (sections("cc")) {
      val docs = graft.Tables.documents(spark, maxDir)
      val pairs = graft.dedup.Dedup.minHashNearDups(docs, "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.8)
      val edgeCount = pairs.count()
      val (labels, rounds) = graft.dedup.Dedup.connectedComponentsWithRounds(
        docs, "doc_id", pairs, "id_a", "id_b")
      val nComponents = labels.select(col("component")).distinct().count()
      Some((edgeCount, rounds, nComponents))
    } else None

    // Streaming span-cut ADMISSION at the largest factor — the round-11
    // family's only unit-scale-tested surface. A stable reference corpus
    // (the EVEN-doc_id half of the original fixture — so the stream
    // carries both corpus-duplicated grams, cut via the bucket-pruned
    // (bucket, h) foreign join, and corpus-novel grams that only
    // duplicate within/across batches, cut via batch-min ownership plus
    // the per-batch upsert) persists a SpanIndex; the replica remainder
    // of the amplified corpus streams in as foreign AvailableNow
    // micro-batches (disjoint higher ids — the admission id contract).
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val spanStats: Option[(Long, Double, Double, Int, Long, Long)] =
      if (sections("span")) {
        val spanRoot = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scale_spanadmit_x${factors.max}")
        hfs.delete(new org.apache.hadoop.fs.Path(spanRoot.toString), true)
        val corpusDocs = graft.Tables.documents(spark, srcDir)
          .filter(col("doc_id") % 2 === 0)
        val tb0 = System.nanoTime()
        val spanIdx = graft.index.SpanIndex(spark, s"$spanRoot/index", "documents")
        spanIdx.build(corpusDocs, "doc_id", "text", n = 5)
        val buildSecs = (System.nanoTime() - tb0) / 1e9
        val corpusCount = corpusDocs.count()
        val docSchema = spark.read.parquet(s"$maxDir/documents.parquet").schema
        val incoming = spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", "4")
          .parquet(s"$maxDir/documents.parquet")
          .filter(col("doc_id") >= Stride) // replicas only: ids disjoint & higher
        val ta0 = System.nanoTime()
        val sq = graft.streaming.Streaming.cutStream(incoming, "doc_id", "text",
          spanIdx, cleanDir = s"$spanRoot/clean", checkpointDir = s"$spanRoot/ckpt")
        sq.awaitTermination()
        val admitSecs = (System.nanoTime() - ta0) / 1e9
        val admitBatches = sq.recentProgress.count(_.numInputRows > 0)
        // Zero admitted rows (e.g. a factors=[1] run, where the replica filter
        // matches nothing) never creates cleanDir — don't lose the whole
        // sweep's measurements to an AnalysisException on the read-back.
        val (admitted, fullyCut) =
          if (hfs.exists(new org.apache.hadoop.fs.Path(s"$spanRoot/clean"))) {
            val admittedDf = spark.read.parquet(s"$spanRoot/clean")
            (admittedDf.count(), admittedDf.filter(length(col("text")) === 0).count())
          } else (0L, 0L)
        System.err.println(f"span admit done: build=$buildSecs%.2f " +
          f"admit=$admitSecs%.2f batches=$admitBatches admitted=$admitted fully_cut=$fullyCut")
        Some((corpusCount, buildSecs, admitSecs, admitBatches, admitted, fullyCut))
      } else None

    // ------------------------------------------------------------------
    // Streaming-admission FLAT-COST evidence: the "artifact IS the state,
    // O(batch) per micro-batch" claim (Streaming.admitStream / cutStream)
    // predicts near-flat per-micro-batch time as the ADMITTED CORPUS
    // grows — the batch only ever touches the corpus through the
    // band-key-pruned signature table (near-dup), the (bucket, h)-pruned
    // gram table (span-cut), and one pass over the compact id SIDECAR for
    // the replay guard. Measured directly: a FIXED 128-doc batch (4 files →
    // 4 micro-batches via maxFilesPerTrigger=1, ids offset far above
    // every replica id) streams against a 1×/10×/30× admitted corpus
    // with its index built per factor; each factor records the index
    // build time (expected ~linear in corpus) and every micro-batch's
    // triggerExecution duration (expected ~flat). Batch texts are
    // verbatim base-corpus clones, so the near-dup path exercises full
    // mine+verify+reject and the span path cuts every token — the
    // worst-case per-batch work, not the empty fast path.
    val streamFlat = (if (sections("streamflat")) factors else Nil).map { n =>
      val dir = amplified(spark, srcDir, n)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_scale_streamflat_x$n")
      hfs.delete(new org.apache.hadoop.fs.Path(root.toString), true)
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
      val nCorpus = corpus.count()
      // fixed foreign batch: 128 base docs, ids disjoint from all replicas
      spark.read.parquet(s"$srcDir/documents.parquet")
        .orderBy(col("doc_id")).limit(128)
        .withColumn("doc_id", col("doc_id") + lit(1000L * Stride))
        .repartition(4)
        .write.mode("overwrite").parquet(s"$root/stream")
      val docSch = spark.read.parquet(s"$root/stream").schema
      def fixedStream = spark.readStream.schema(docSch)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/stream")
      def batchMs(sq: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] = {
        sq.awaitTermination()
        sq.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").longValue())
      }
      // near-dup admission: MinHashIndex over the n× corpus, with the
      // band table materialized — the probe-heavy configuration the
      // artifact recommends for admission sinks (materializeBands
      // scaladoc); build time reported includes it
      val tmh = System.nanoTime()
      val mh = graft.index.MinHashIndex(spark, s"$root/mh_index", "documents")
      mh.build(corpus, "doc_id", "text", n = 3, numHashes = 128, bands = 32)
      mh.materializeBands()
      corpus.write.mode("overwrite").parquet(s"$root/admitted")
      val mhBuildS = (System.nanoTime() - tmh) / 1e9
      val admitMs = batchMs(graft.streaming.Streaming.admitStream(
        fixedStream, "doc_id", "text", mh, s"$root/admitted",
        threshold = 0.8, checkpointDir = s"$root/ckpt_admit"))
      // span-cut admission: SpanIndex over the same n× corpus
      val tsp = System.nanoTime()
      val sp = graft.index.SpanIndex(spark, s"$root/span_index", "documents")
      sp.build(corpus, "doc_id", "text", n = 5)
      val spBuildS = (System.nanoTime() - tsp) / 1e9
      val cutMs = batchMs(graft.streaming.Streaming.cutStream(
        fixedStream, "doc_id", "text", sp,
        cleanDir = s"$root/clean", checkpointDir = s"$root/ckpt_cut"))
      System.err.println(f"stream flat x$n: corpus=$nCorpus " +
        f"mh_build=$mhBuildS%.1f admit_ms=${admitMs.mkString("/")} " +
        f"span_build=$spBuildS%.1f cut_ms=${cutMs.mkString("/")}")
      graft.SparkEntry.evictDirCaches(spark, dir)
      graft.dedup.Dedup.releaseTracked(spark)
      n -> (nCorpus, mhBuildS, admitMs, spBuildS, cutMs)
    }
    // ------------------------------------------------------------------
    // IVF ladder at scale (r18): the designed 100 TB ANN path, measured
    // with clean attribution (the ivf_*_recall QUERIES fold build + exact
    // comparator + probe into one timing). Deployment sizing rule under
    // test: nList tracks the corpus so CELLS stay ~TargetCellRows vectors
    // (nList = nVecs/TargetCellRows), nProbe stays fixed — a probe then
    // scores ~nProbe·TargetCellRows candidates per query REGARDLESS of
    // corpus size. Per factor and per codec (float32, int8): build time
    // (one bounded-sample k-means + one linear assignment pass), probe
    // latency for a FIXED 100-query batch (warmup + min of 2 — expected
    // ~flat in corpus when the candidate term dominates), brute-force
    // exact latency for the same batch (the linear comparator), and
    // recall@10 vs that exact answer (the floor must hold at every
    // factor; amplification keeps it honest — every base vector has N
    // byte-identical replicas that MUST land in the probed cell).
    val ivfStats = (if (sections("ivf")) factors else Nil).map { n =>
      val dir = amplified(spark, srcDir, n)
      // Non-degenerate ground truth (r18 verdict): byte-identical replicas
      // land in the query's own cell by construction, so a measured
      // recall@10 = 1.0 was necessary-but-weak evidence. Deterministic
      // per-(replica, dim) jitter — seeded from xxhash64(vec_id, dim), no
      // RNG state, so every pass (build, exact comparator, probe) sees the
      // identical values — spreads each clone family into a tight cloud
      // around its base vector (perturbation norm ≈ eps·sqrt(dim/3) ≈ 0.37
      // on unit 64-dim vectors, well inside the ~1.2 inter-base distances):
      // the exact top-10 then has real cross-cell structure and the probe's
      // recall honestly reflects the nProbe trade. Base vectors (the
      // queries, vec_id < Stride) stay exact; factor 1 is all-base and
      // reduces to the unjittered oracle-floor configuration.
      val eps = 0.08
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .withColumn("embedding",
          when(col("vec_id") < Stride, col("embedding")).otherwise(
            transform(col("embedding"), (x, i) =>
              (x + lit(eps) * (pmod(xxhash64(col("vec_id"), i), lit(20001L))
                .cast("double") / lit(10000.0) - lit(1.0))).cast("float"))))
      val nVecs = emb.count()
      val nList = math.max(16L, nVecs / 8192L).toInt
      val queries = emb.filter(col("vec_id") < Stride)
        .orderBy(col("vec_id")).limit(100).localCheckpoint(true)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val exact = graft.search.Knn.knnJoin(queries, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, roundScoreTo = Some(6))
        .select(col("query_id"), col("vec_id").as("result_id"))
        .localCheckpoint(true)
      val exactS = (System.nanoTime() - t0) / 1e9
      val exactN = exact.count()
      val perCodec = Seq(false, true).map { int8 =>
        val tag = if (int8) "int8" else "f32"
        val root = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft_scale_ivf_x${n}_$tag")
        hfs.delete(new org.apache.hadoop.fs.Path(root.toString), true)
        // finally-cleanup: a deep-factor collection is a full copy of the
        // amplified corpus (2M vectors twice at 1000×) — leaking one per
        // factor per codec in java.io.tmpdir starves later sections
        try {
          val ivfc = graft.index.IvfCollection(spark, root.toString, "embeddings")
          val tb = System.nanoTime()
          ivfc.build(emb, "vec_id", "embedding", nList = nList, seed = 42L,
            int8 = int8)
          val buildS = (System.nanoTime() - tb) / 1e9
          def probe() = ivfc.query(queries, "vec_id", "embedding",
            "vec_id", "embedding", k = 10, nProbe = 4, roundScoreTo = Some(6))
          noop(probe()) // warmup: codegen + meta/centroid caches
          val probeS = (1 to 2).map { _ =>
            val tp = System.nanoTime(); noop(probe())
            (System.nanoTime() - tp) / 1e9
          }.min
          val hits = exact.join(
              probe().select(col("query_id"), col("vec_id").as("result_id")),
              Seq("query_id", "result_id"), "left_semi").count()
          val recall = if (exactN == 0) 0.0 else hits.toDouble / exactN
          System.err.println(f"ivf x$n $tag%s: nList=$nList build=$buildS%.1f " +
            f"probe=$probeS%.2f exact=$exactS%.2f recall=$recall%.4f")
          tag -> ((buildS, probeS, recall))
        } finally hfs.delete(new org.apache.hadoop.fs.Path(root.toString), true)
      }
      org.apache.spark.sql.GraftInternal.unpersistLocalCheckpoint(exact)
      org.apache.spark.sql.GraftInternal.unpersistLocalCheckpoint(queries)
      n -> ((nVecs, nList, exactS, perCodec))
    }
    val ivfJson = ivfStats.map { case (n, (nv, nl, es, codecs)) =>
      s""""$n":{"n_vecs":$nv,"n_list":$nl,"exact_s":${jNum(es)},""" +
        codecs.map { case (tag, (b, p, r)) =>
          s""""${tag}_build_s":${jNum(b)},"${tag}_probe_s":${jNum(p)},""" +
            s""""${tag}_recall":${jNum(r)}"""
        }.mkString(",") + "}"
    }.mkString("{", ",", "}")

    val streamFlatJson = streamFlat.map { case (n, (nc, mb, am, sb, cm)) =>
      s""""$n":{"corpus_docs":$nc,"mh_build_s":${jNum(mb)},""" +
        s""""admit_batch_ms":${am.mkString("[", ",", "]")},""" +
        s""""span_build_s":${jNum(sb)},""" +
        s""""cut_batch_ms":${cm.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")

    val factorJson = perFactor.map { case (n, (nd, nv, times, errs)) =>
      s""""$n":{"n_docs":$nd,"n_vecs":$nv,"queries":{""" +
        times.map { case (q, t) => s""""$q":${jNum(t)}""" }.mkString(",") +
        s"""},"errors":${errs.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val ccJson = ccStats.fold("") { case (edgeCount, rounds, nComponents) =>
      s""""cc":{"factor":${factors.max},"edges":$edgeCount,"rounds":$rounds,""" +
        s""""components":$nComponents,"driver_threshold":${1L << 20}},"""
    }
    val spanJson = spanStats.fold("") {
      case (corpusCount, buildSecs, admitSecs, admitBatches, admitted, fullyCut) =>
        s""""span_admit":{"factor":${factors.max},"corpus_docs":$corpusCount,""" +
          s""""build_s":${jNum(buildSecs)},"admit_s":${jNum(admitSecs)},""" +
          s""""batches":$admitBatches,"admitted":$admitted,"fully_cut":$fullyCut},"""
    }
    val line = s"""{"metric":"scale","sf_dir":"$srcDir","cores":${spark.sparkContext.defaultParallelism},""" +
      s""""factors":${factors.mkString("[", ",", "]")},""" +
      s""""per_factor":$factorJson,""" +
      ccJson + spanJson +
      (if (ivfStats.nonEmpty) s""""ivf":$ivfJson,""" else "") +
      s""""stream_flat":$streamFlatJson}"""
    println(line)
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/root/repo/bench_out/scale.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    // Durable-mode sweep hygiene: every memoized frame was evicted and
    // every tracked materialization released above (the boundary contract
    // cleanCheckpoints requires), so this app's graft_ckpt_* dirs still
    // under the checkpoint root are exactly the abandoned FINAL
    // outputs (noop-written query results) — sweep them via the
    // operational cleanup instead of leaving the documented-but-manual
    // clean-between-runs step to the operator (r19 ADVICE #2 shape; the
    // r20 durable sweep left 1.4 GB of them before this call existed).
    // Gate on the CONF (the knob Dedup itself consults), not the env var
    // that merely seeds it — durable mode supplied via spark-defaults or
    // --conf must get the same end-of-run sweep.
    spark.conf.getOption(graft.dedup.Dedup.CheckpointDirConf)
      .map(_.trim).filter(_.nonEmpty).foreach { _ =>
        graft.dedup.Dedup.cleanCheckpoints(spark)
      }
    spark.stop()
  }

  /** N-fold union of documents/embeddings with replica-offset ids (replica
    * r shifts ids by r·Stride, keeping every other column byte-identical —
    * exact N-clone families). Cached under java.io.tmpdir per (src, N). */
  private[bench] def amplified(spark: SparkSession, srcDir: String, n: Int): String = {
    if (n == 1) return srcDir
    // v2: write 16 files per table (the fixture collapses to one split,
    // which would make the admission stream below a single micro-batch
    // and serialize every scan until the rebalance guard kicks in).
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_scale_${new java.io.File(srcDir).getName}_x${n}_v2")
    val marker = new java.io.File(out, "_SCALE_OK")
    if (marker.exists) return out.toString
    def amplify(table: String, idCol: String): Unit = {
      val base = spark.read.parquet(s"$srcDir/$table.parquet")
      base.crossJoin(broadcast(spark.range(n).toDF("__rep")))
        .withColumn(idCol, col(idCol) + col("__rep") * lit(Stride))
        .drop("__rep")
        .repartition(16)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    amplify("documents", "doc_id")
    amplify("embeddings", "vec_id")
    marker.createNewFile()
    out.toString
  }
}
