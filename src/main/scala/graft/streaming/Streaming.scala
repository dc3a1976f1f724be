package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}

import graft.embed.EmbedModel
import graft.index.{MinHashIndex, VectorCollection}

/**
 * Structured Streaming surface. The reference is batch-only (its ingest
 * loop `main.py:122-125` is eager chunking), so these are the engine's
 * forward-looking stream equivalents, built on the standard primitives:
 * event-time windows + watermarks, foreachBatch idempotent sinks, and
 * mapGroupsWithState for custom state.
 *
 * The windowed aggregation is expressed identically for batch and stream
 * frames — Spark's unified Dataset API means the SAME function is
 * oracle-checked in batch mode (SparkEntry `events_windowed`) and driven
 * through a real StreamingQuery in StreamingSpec.
 *
 * Every stream starter here defaults to `Trigger.AvailableNow()` — drain
 * what is currently available, then STOP (the test/bench discipline, and
 * the right shape for scheduled catch-up runs). A continuous deployment
 * that should keep watching its source passes an explicit `trigger`
 * (e.g. `Trigger.ProcessingTime("1 minute")`); the batch callbacks are
 * trigger-agnostic.
 */
object Streaming {

  /** Tumbling event-time window counts/sums per event type. On a streaming
    * frame the watermark bounds state and drops data later than
    * `lateness`; on a batch frame the watermark is a no-op and the result
    * is the exact grouped aggregate. Money-style sums run on DECIMAL for
    * cross-engine determinism. */
  def windowedEventStats(
      events: DataFrame,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes",
      slide: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLength, slide.getOrElse(windowLength)),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        col("window.start").as("w_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /**
   * Streaming ingest into a [[VectorCollection]]: embed each micro-batch
   * with a pre-fitted model and upsert by deterministic id — the
   * foreachBatch + keyed-idempotent-sink pattern that makes restarts and
   * reprocessing exactly-once BY KEY (the streaming analogue of the
   * reference's `collection_exists` skip + deterministic UUID points).
   *
   * `maxSinkFiles` auto-compaction note: when the trigger fires, the
   * fold is a WHOLE-`data/` rewrite (the only crash-safe shape plain
   * parquet allows — incremental add-then-delete of files is not
   * atomic), i.e. O(collection) work inside the batch callback, recurring
   * every ~`maxSinkFiles` batches. Fine up to mid-sized collections; for
   * a multi-TB collection set `maxSinkFiles = 0` and schedule
   * `collection.compactFiles()` in explicit maintenance windows instead
   * (MAINTENANCE.md "scheduling guidance").
   */
  def ingestStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      model: EmbedModel,
      collection: VectorCollection,
      checkpointDir: String,
      maxSinkFiles: Int = 256,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // auto-maintenance inside the single-writer batch window (same
        // trigger discipline as admitStream): each upsert appends one
        // data/ file per batch, so fold the layout once the count passes
        // maxSinkFiles; 0 disables. Row-identical — upsert's anti-join
        // and the live view read the same table either way.
        if (maxSinkFiles > 0) collection.compactFiles(minFiles = maxSinkFiles)
        val embedded = model.transform(batch, textCol, "vec")
        collection.upsert(embedded, idCol)
      }
      .start()

  /**
   * Streaming document ingest from a WATCHED DIRECTORY of raw files: the
   * full reference ingest lifecycle (dir walk → charset-detected decode →
   * embed → upsert, `main.py:122-125`) as a live stream. New files
   * matching `glob` become micro-batches via the binaryFile source
   * ([[graft.ingest.DirSource.filesStream]] — identical decode kernel and
   * projection as the batch dir scan), each batch is embedded with the
   * pre-fitted model and upserted keyed by file path, so re-delivered or
   * re-listed files are exactly-once BY KEY like every other sink here.
   * Completes the ingest story: events streamed before; now collections
   * ingest continuously too.
   */
  def ingestFileStream(
      spark: SparkSession,
      dir: String,
      model: EmbedModel,
      collection: VectorCollection,
      checkpointDir: String,
      glob: String = "*.txt",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ingestStream(graft.ingest.DirSource.filesStream(spark, dir, glob),
      "path", "text", model, collection, checkpointDir, trigger = trigger)

  /**
   * Streaming NEAR-duplicate admission: each micro-batch of documents is
   * admitted only if it near-duplicates neither the already-admitted
   * corpus nor an earlier document of the same batch — the continuous
   * form of the daily-batch admission query (`batch_near_dup`), built on
   * the persisted [[MinHashIndex]] so the corpus-side shingle+MinHash
   * kernel is never re-paid.
   *
   * Per micro-batch (foreachBatch — the stateful artifact IS the state,
   * so no in-engine dedup state grows with the corpus):
   *   1. replay guard: drop ids already in the admitted corpus
   *      (exactly-once BY KEY, like every sink here);
   *   2. in-batch: [[graft.dedup.Dedup.dropNearDuplicates]] under the
   *      index's own (n, numHashes, bands) parameters — batch-sized work;
   *   3. vs corpus: [[MinHashIndex.nearDupAgainstExact]] band-joins the
   *      batch against the persisted band table and exact-verifies only
   *      candidate pairs; survivors are admitted;
   *   4. admitted rows append to the corpus parquet and incrementally
   *      upsert into the index (both O(batch)).
   *
   * At 100 TB the only corpus-sized artifact touched per batch is the
   * band table (columnar, band-key join) — probe-heavy deployments
   * should [[graft.index.MinHashIndex.materializeBands]] once after
   * build (the ~15×-cheaper narrow probe; the per-batch
   * `index.compact()` below keeps it fresh). The replay guard anti-joins
   * the ADMITTED-ID SIDECAR (`<admittedDir>__ids` — ids plus a
   * per-batch commit record, ~tens of bytes/row) rather than re-reading
   * the corpus parquet's id column per micro-batch — the guard needs id
   * membership, not the table, and on a wide corpus the id-column scan
   * was the measured super-flat term (BENCH_SCALE.md round-15
   * `stream_flat`: 2.4 → 10.2 s/batch at 100×). The sidecar
   * self-bootstraps from an existing corpus on first use (one id scan,
   * ever) and is the batch's DECISION RECORD for crash recovery — see
   * [[admitBatch]] for the exact commit protocol. Each batch appends one
   * small file to the corpus, one to the sidecar AND one to the index's
   * signature table; when any exceeds `maxSinkFiles` files the batch
   * callback folds it first (corpus: [[graft.index.Compaction.compactDir]];
   * sidecar: [[foldSidecar]] into the bucketed base; index:
   * [[MinHashIndex.compact]] — the callback IS the guaranteed
   * single-writer window; 0 disables), so file counts stay bounded by
   * data size, not by batches ever admitted. Single-writer contract per
   * index/admitted-dir, like the index upsert itself.
   *
   * `admittedDir` must hold the same corpus the index was built from
   * (schema: idCol, textCol, payload...).
   */
  def admitStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      index: MinHashIndex,
      admittedDir: String,
      threshold: Double,
      checkpointDir: String,
      maxBucketSize: Int = 10000,
      maxSinkFiles: Int = 256,
      sidecarBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireNonReservedIdCol(idCol) // fail at stream definition, not mid-fold
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitBatch(batch, batchId, idCol, textCol, index, admittedDir,
          threshold, checkpointDir, maxBucketSize, maxSinkFiles,
          sidecarBuckets)
      }
      .start()
  }

  /** The admitted-id sidecar dir for `admittedDir` (ids + commit record,
    * the replay guard's compact membership table). Shared shape with
    * [[cutStream]]'s sidecar (`<cleanDir>__ids`). Path-normalized (a
    * trailing slash in `admittedDir` must NOT nest the sidecar inside
    * the data dir, where maintenance rewrites would destroy it — the
    * sidecar is always the data dir's SIBLING). */
  def admitIdsDir(admittedDir: String): String =
    new org.apache.hadoop.fs.Path(admittedDir).toString + "__ids"

  /** Read a parquet dir that HAS data files; None when the dir is absent
    * or holds no data files (nothing committed — e.g. only a crashed
    * write's `_temporary`, or the exists-but-empty race a concurrent
    * cleaner could leave). A dir WITH data files that fails to read is a
    * real fault (torn footer, foreign layout) and propagates LOUDLY —
    * swallowing it would silently disable the replay guard (and, on the
    * bootstrap path, re-append the full corpus id set per batch). */
  private def readIfData(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val base = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    var hasData = false
    while (!hasData && it.hasNext) {
      val f = it.next()
      // hidden iff any path component BELOW the dir starts with _/.
      // (Spark's readers skip those, so they are not data)
      val rel = f.getPath.toString.stripPrefix(base).stripPrefix("/")
      if (f.isFile &&
        !rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
        hasData = true
    }
    if (hasData) Some(spark.read.parquet(dir)) else None
  }

  // ------------------------------------------------------------------
  // Id-sidecar storage: two levels (r17).
  //
  //  - L0: per-batch append files at the TOP of `<idsDir>` — schema
  //    (idCol, __ckpt, __batch), one tiny file per batch, exactly the
  //    pre-r17 layout. Holds the recent DECISION RECORDS (the heal path
  //    only ever needs the stream's latest batch, which by the
  //    fold-after-heal ordering in admitBatch/cutBatch is always still
  //    here) and stays bounded: at most ~maxSinkFiles batches.
  //  - BASE: `<idsDir>_base/bucket=N/` — a SIBLING dir (see
  //    [[sidecarBaseDir]] for why it is not a hidden child) holding the
  //    folded history, hive-
  //    partitioned by `pmod(xxhash64(id), buckets)` (the exact layout
  //    Bm25Index postings and SpanIndex grams use). The per-batch replay
  //    guard computes the batch's touched buckets and reads ONLY those
  //    partitions, so guard cost is O(|base|·touched/buckets + |L0| +
  //    |batch|) instead of one full pass over every id ever admitted —
  //    the difference between a trickle batch costing O(batch) and
  //    costing O(corpus) forever. Bucket count is pinned in
  //    `_base/_meta.json` (written into the shadow, so it swaps
  //    atomically with the layout); a base with lost meta reads
  //    UNPRUNED — correct, just slower.
  //
  // The fold (L0 → base) rides the existing maxSinkFiles maintenance
  // trigger: rewrite base ∪ L0 bucketed via the shared shadow+two-rename
  // swap, then retire exactly the L0 files that were folded. Crash
  // windows: torn base swap heals on every entry (same protocol as
  // Compaction.compactDir); a crash between the swap and the L0 retire
  // leaves rows present in BOTH levels — benign for every consumer
  // (membership and decision semantics are idempotent) and deduped by
  // the next fold's dropDuplicates. Decision records retired into the
  // base stop being consulted by the heal (scoped to L0): safe by the
  // fold-after-heal ordering — see the commit-protocol scaladoc.
  // ------------------------------------------------------------------

  /** The sidecar's folded base level — a SIBLING of the L0 dir, not a
    * hidden child: Spark's PARALLEL partition discovery (>32 partition
    * dirs) filters out roots whose name is hidden, so a `_`-prefixed
    * nested base silently reads as empty exactly when the bucket count
    * makes pruning worthwhile (found at 256 buckets, BENCH_SCALE.md
    * "sidecar probe — bucketed base for the admission replay guard"; the
    * 4-bucket spec fixture sat under the parallel-listing threshold and
    * hid the failure). A sibling keeps L0 reads pure without relying on
    * hidden-path filtering at all. */
  private[graft] def sidecarBaseDir(idsDir: String): String = idsDir + "_base"

  /** Refuse id columns that collide with sidecar-owned names. The fold
    * ATTACHES a `bucket` column (and the sidecar schema owns
    * __ckpt/__batch): a colliding id column would be silently
    * overwritten there and dropped by every base reader. Validated at
    * STREAM/BATCH ENTRY, not only inside [[foldSidecar]] — a
    * fold-triggered failure would otherwise fire mid-stream, after the
    * sidecar has already accumulated maxSinkFiles batches of ambiguous
    * columns. */
  private def requireNonReservedIdCol(idCol: String): Unit =
    require(!Set("bucket", "__ckpt", "__batch").contains(idCol),
      s"sidecar id column '$idCol' collides with a reserved sidecar " +
        "column (bucket, __ckpt, __batch)")

  private def sidecarBucketOf(id: org.apache.spark.sql.Column,
      buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(id), lit(buckets.toLong)).cast("int")

  /** Heal a fold's torn base swap on entry (base missing, __old present =
    * crash between the two renames) — every sidecar reader goes through
    * here, or a torn fold would silently hide the ENTIRE base from the
    * replay guard and re-admit history. */
  private def healTornBaseSwap(spark: SparkSession, idsDir: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir))
    val old = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir) + "__old")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base) && fs.exists(old))
      require(fs.rename(old, base), s"could not heal torn sidecar fold of $idsDir")
  }

  /** Bucket count of the folded base (None = no base or meta lost). */
  private def sidecarBaseBuckets(spark: SparkSession, idsDir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir) + "/_meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      } finally in.close()
      graft.index.FlatJson.parse(txt).get("buckets").map(_.toInt)
    }
  }

  private def emptySidecar(spark: SparkSession, idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.range(0).select(lit(null).cast(idType).as(idCol),
      lit("").as("__ckpt"), lit(-1L).as("__batch"))

  /** The sidecar's L0 level (recent per-batch appends + decision
    * records). Bootstraps from the data dir's id column when NEITHER
    * level exists (a pre-sidecar deployment — the one full-corpus id
    * scan this sink ever takes outside the heal path); yields an empty
    * typed frame when nothing exists yet. A PRESENT but unreadable
    * level fails loudly (see [[readIfData]]). */
  private def sidecarL0(spark: SparkSession, idsDir: String,
      dataDir: String, idCol: String,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    healTornBaseSwap(spark, idsDir)
    readIfData(spark, idsDir).getOrElse {
      if (readIfData(spark, sidecarBaseDir(idsDir)).isEmpty) {
        readIfData(spark, dataDir).foreach {
          _.select(col(idCol), lit("").as("__ckpt"), lit(-1L).as("__batch"))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(idsDir)
        }
      }
      readIfData(spark, idsDir).getOrElse(emptySidecar(spark, idCol, idType))
    }
  }

  /** The replay guard's membership frame for an existing sidecar —
    * probe/maintenance surface (the batch callbacks inline the same
    * steps with their already-derived L0 frame). */
  private[graft] def guardIdsFor(spark: SparkSession, idsDir: String,
      batch: DataFrame, idCol: String): DataFrame = {
    healTornBaseSwap(spark, idsDir)
    val l0 = readIfData(spark, idsDir).getOrElse(
      emptySidecar(spark, idCol, batch.schema(idCol).dataType))
    sidecarGuardIds(spark, idsDir, l0, batch, idCol)
  }

  /** The replay guard's id-membership frame: L0 ids ∪ the base buckets
    * `batch`'s ids actually touch (hive partition pruning skips the
    * rest — ids outside a touched bucket cannot match any batch id by
    * construction of the bucket function). */
  private def sidecarGuardIds(spark: SparkSession, idsDir: String,
      l0: DataFrame, batch: DataFrame, idCol: String): DataFrame =
    readIfData(spark, sidecarBaseDir(idsDir)).fold(l0.select(col(idCol))) { base =>
      val pruned = sidecarBaseBuckets(spark, idsDir) match {
        case Some(bk) =>
          // Hash in the BASE's id type, not the batch's: xxhash64 hashes
          // IntegerType and LongType (or otherwise equal-but-differently-
          // typed ids) to DIFFERENT values, so an id-type drift in the
          // stream's source schema would prune the wrong buckets and
          // silently re-admit already-admitted ids. A cast that nulls any
          // non-null batch id (drift the base type cannot represent)
          // falls back to the unpruned full-base read — correct, slower.
          // The null check must ride the bucket expression itself:
          // xxhash64 SKIPS null inputs (yielding the seed's hash, never
          // null), so hashing the cast column directly would map a
          // cast-nulled id to the seed's bucket and the fallback would
          // never fire — while the join's own type coercion could still
          // match that id in an unpruned bucket (e.g. long 100 vs
          // drifted string '1e2' under double coercion), silently
          // re-admitting folded history. try_cast, not cast: under ANSI
          // (the Spark 4 default) a plain cast THROWS on malformed input
          // and a single drifted id would kill the stream — the guard
          // wants the null (→ unpruned fallback), never the error.
          val baseIdType = base.schema(idCol).dataType
          val castId = col(idCol).try_cast(baseIdType)
          val touched = batch.filter(col(idCol).isNotNull)
            .select(when(castId.isNull, lit(null))
              .otherwise(sidecarBucketOf(castId, bk)).cast("int").as("__b"))
            .distinct().collect()
          if (touched.exists(_.isNullAt(0))) base
          else base.filter(col("bucket").isin(touched.map(_.getInt(0)).toSeq: _*))
        case None => base
      }
      pruned.select(col(idCol)).union(l0.select(col(idCol)))
    }

  /** Fold the sidecar's L0 batch appends into the bucketed base: one
    * rewrite of base ∪ L0 (shadow + two-rename swap, meta inside the
    * shadow), then retire exactly the folded L0 files. Triggered by the
    * maxSinkFiles maintenance pass; also the migration path for a
    * pre-r17 flat sidecar (its top-level files ARE an L0). */
  private[graft] def foldSidecar(spark: SparkSession, idsDir: String,
      idCol: String, buckets: Int): Unit = {
    require(buckets > 0, s"sidecar buckets must be positive, got $buckets")
    requireNonReservedIdCol(idCol)
    healTornBaseSwap(spark, idsDir)
    val p = new org.apache.hadoop.fs.Path(idsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir))
    val shadow = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir) + "__shadow")
    val old = new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir) + "__old")
    fs.delete(shadow, true)
    fs.delete(old, true)
    if (!fs.exists(p)) return
    val l0Files = fs.listStatus(p).toSeq.filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    val l0 = if (l0Files.nonEmpty)
      Some(spark.read.parquet(l0Files.map(_.getPath.toString): _*)) else None
    val baseRows = readIfData(spark, base.toString).map(_.drop("bucket"))
    val all = (l0.toSeq ++ baseRows.toSeq).reduceOption(_ unionByName _)
      .getOrElse(return)
    all
      .dropDuplicates(idCol, "__ckpt", "__batch") // heals swap-then-crash double-presence
      .withColumn("bucket", sidecarBucketOf(col(idCol), buckets))
      .repartition(col("bucket")) // one task per bucket value → one file per bucket
      .write.partitionBy("bucket").parquet(shadow.toString)
    // meta rides the shadow so layout + bucket count swap atomically
    val metaOut = fs.create(new org.apache.hadoop.fs.Path(shadow, "_meta.json"), true)
    try metaOut.write(s"""{"buckets":$buckets}""".getBytes("UTF-8"))
    finally metaOut.close()
    if (fs.exists(base))
      require(fs.rename(base, old), s"could not stage old sidecar base of $idsDir")
    require(fs.rename(shadow, base), s"could not swap folded sidecar base of $idsDir")
    fs.delete(old, true)
    l0Files.foreach(s => fs.delete(s.getPath, false))
  }

  /** [[foldSidecar]] when the L0 file count exceeds `maxFiles` (the same
    * trigger discipline as Compaction.compactDir). */
  private def foldSidecarIfNeeded(spark: SparkSession, idsDir: String,
      idCol: String, buckets: Int, maxFiles: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(idsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val n = fs.listStatus(p).count(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
    if (n > maxFiles) foldSidecar(spark, idsDir, idCol, buckets)
  }

  /** Canonical decision-record key for a checkpoint path. Restarting a
    * stream with an equivalent-but-respelled path must produce the same
    * key, or ids decided in the 2→3 crash window are silently stranded
    * (guard-dropped until a manual [[reconcileSidecar]]) even though the
    * checkpoint never moved. FULLY QUALIFIED against the path's own
    * filesystem: `Path.toString` alone normalizes slashes but keeps
    * `/x` and `file:///x` distinct spellings of the same directory —
    * Spark's checkpointLocation resolves both identically, so the key
    * must too. Both the sidecar APPEND and [[decisionOf]]'s filter go
    * through here so the two sides can never disagree. */
  private def ckptKey(
      spark: org.apache.spark.sql.SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  private def decisionOf(sidecar: DataFrame, checkpointDir: String,
      batchId: Long): DataFrame =
    // Match the LEGACY spellings too: records written before the key was
    // normalized (verbatim), or before it was fs-qualified (bare
    // Path.toString), must still heal after an upgrade — they would
    // otherwise stay guard-dropped until a manual reconcileSidecar.
    sidecar.filter(col("__ckpt").isin(checkpointDir,
        new org.apache.hadoop.fs.Path(checkpointDir).toString,
        ckptKey(sidecar.sparkSession, checkpointDir)) &&
      col("__batch") === lit(batchId))

  /**
   * MAINTENANCE: drop id-sidecar rows whose id never reached the data
   * dir — the explicit repair for a stream whose checkpoint was
   * RELOCATED inside the crash window between the decision record and
   * the data append (the heal keyed to the old checkpoint path can never
   * fire, and the replay guard would drop those ids forever; see the
   * commit-protocol scaladoc on [[admitBatch]]). After the rewrite the
   * stranded ids re-admit when re-delivered. One data-dir id scan — the
   * rare-repair cost, not a per-batch one. Single-writer window only
   * (shadow + two-rename swap; rename-atomicity caveat: MAINTENANCE.md).
   *
   * For [[admitStream]] sinks note the index may still hold a stranded
   * id's signature from the crashed attempt: admission re-verifies
   * against corpus TEXT (an absent row can't match), so the id
   * re-admits, but `MinHashIndex.upsert`'s anti-join then keeps the
   * STORED signature — rebuild the index if the re-delivered text can
   * differ from the crashed attempt's.
   *
   * @return number of stranded sidecar rows dropped (0 = nothing to do)
   */
  def reconcileSidecar(spark: SparkSession, dataDir: String,
      idCol: String): Long = {
    val idsDir = admitIdsDir(dataDir)
    val p = new org.apache.hadoop.fs.Path(idsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shadow = new org.apache.hadoop.fs.Path(idsDir + "__shadow")
    val old = new org.apache.hadoop.fs.Path(idsDir + "__old")
    // heal a torn predecessor on entry (ours, or the compaction pass's —
    // the __old/__shadow names are deliberately the shared protocol):
    // dir missing with __old present means a crash between the renames
    if (!fs.exists(p) && fs.exists(old))
      require(fs.rename(old, p), s"could not heal torn sidecar swap of $idsDir")
    healTornBaseSwap(spark, idsDir)
    // BOTH levels: the stranded record may already have been folded into
    // the bucketed base. The reconciled rewrite lands as all-L0 (the old
    // base is swapped out with the old dir); the next maintenance fold
    // re-buckets it.
    val l0 = readIfData(spark, idsDir)
    val baseRows = readIfData(spark, sidecarBaseDir(idsDir)).map(_.drop("bucket"))
    val sc = (l0.toSeq ++ baseRows.toSeq).reduceOption(_ unionByName _)
      .getOrElse(return 0L)
    val committed = readIfData(spark, dataDir)
    val keep = committed
      .fold(sc.limit(0))(d => sc.join(d.select(col(idCol)), Seq(idCol), "left_semi"))
      .localCheckpoint(true)
    val dropped = sc.count() - keep.count()
    if (dropped == 0L) return 0L
    fs.delete(shadow, true)
    fs.delete(old, true)
    keep.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(shadow.toString)
    require(fs.rename(p, old), s"could not stage old sidecar $idsDir")
    require(fs.rename(shadow, p), s"could not swap reconciled sidecar $idsDir")
    fs.delete(old, true)
    // the survivors landed as all-L0, so the (sibling) base is now
    // superseded history: drop it. A crash between the swap above and
    // this delete resurfaces the stranded rows from the base — they stay
    // harmlessly guard-dropped, and RE-RUNNING reconcileSidecar (the
    // documented repair idiom) clears them.
    fs.delete(new org.apache.hadoop.fs.Path(sidecarBaseDir(idsDir)), true)
    dropped
  }

  /**
   * One micro-batch of [[admitStream]] — extracted so the crash-recovery
   * protocol is directly testable. Sidecar schema: `idCol`, `__ckpt`
   * (the query's checkpoint dir — batch ids restart at 0 for every new
   * checkpoint, so the commit key must be the PAIR), `__batch`.
   *
   * Commit protocol, in write order:
   *   1. [[MinHashIndex.upsert]] of the admitted rows (idempotent by
   *      key; a crash here replays the batch against orphan signatures,
   *      benign: self-candidates are id-filtered and exact-verify reads
   *      text from the not-yet-appended corpus);
   *   2. sidecar append of `(id, checkpointDir, batchId)` — the DECISION
   *      RECORD: from here the batch's admitted id set is durable;
   *   3. corpus append — the data commit.
   * A replayed batch whose (ckpt, batch) already appears in the sidecar
   * takes the HEAL path instead of recomputing: the recorded ids are the
   * admitted set, and only rows missing from the corpus (a crash between
   * 2 and 3) are appended — that one rare path re-reads the corpus id
   * column; steady-state batches never do. The sidecar is therefore
   * always a superset-or-equal of the corpus ids, which is exactly what
   * the replay guard needs (transiently-decided ids are dropped by the
   * guard and committed by the heal, never lost, never duplicated).
   *
   * CHECKPOINT-LIFECYCLE CONTRACT: `checkpointDir` is part of the commit
   * key. Deleting a checkpoint but REUSING its path restarts batchIds at
   * 0 and collides with the old run's records — the heal detects it
   * (decided ids not in the delivered batch) and fails loudly instead of
   * silently dropping the new batch; start replacement streams with a
   * FRESH checkpointDir. Relocating the checkpoint after a crash inside
   * the 2→3 window strands the decided ids (the heal keyed to the old
   * path can never fire; the guard keeps dropping them):
   * [[reconcileSidecar]] is the explicit repair — it removes sidecar
   * rows with no committed data row so those ids re-admit when
   * re-delivered.
   */
  private[graft] def admitBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      index: MinHashIndex,
      admittedDir: String,
      threshold: Double,
      checkpointDir: String,
      maxBucketSize: Int = 10000,
      maxSinkFiles: Int = 256,
      sidecarBuckets: Int = 64): Unit = {
    requireNonReservedIdCol(idCol) // batch entry: before any sidecar write
    val spark = batch.sparkSession
    val idsDir = admitIdsDir(admittedDir)
    // DECISION CHECK FIRST, maintenance after: the heal consults L0 only,
    // so a crashed batch's record must be healed BEFORE the sidecar fold
    // could retire it into the base (where the replay guard would then
    // silently drop the decided-but-uncommitted rows — the data loss the
    // record exists to prevent). Safe because a decision record is only
    // ever consulted for the stream's latest batch, which this ordering
    // guarantees is still in L0.
    val sidecar = sidecarL0(spark, idsDir, admittedDir, idCol,
      batch.schema(idCol).dataType)
    val decision = decisionOf(sidecar, checkpointDir, batchId)
    if (!decision.isEmpty) {
      // HEAL: the decision record is authoritative; commit whatever the
      // crash left uncommitted, recompute nothing. Guard the key first:
      // a RESET checkpoint (deleted but path reused) restarts batchIds
      // at 0 and would collide with an old run's record — a true crash
      // replay re-delivers the same rows, so every decided id must be in
      // this batch; anything else means the checkpoint's lifecycle broke
      // the commit key and silently healing would DROP the new batch.
      require(decision.select(col(idCol))
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti").isEmpty,
        s"decision record for (checkpoint=$checkpointDir, batch=$batchId) " +
          "holds ids that are not in the delivered batch — the checkpoint " +
          "was reset (path reused) or its source changed; start a new " +
          "stream with a FRESH checkpointDir (commit-protocol scaladoc)")
      val rows = batch.join(decision.select(col(idCol)), Seq(idCol), "left_semi")
      val missing = readIfData(spark, admittedDir)
        .fold(rows)(c =>
          graft.plans.Joins.antiSmallLeft(rows, c.select(col(idCol)), idCol))
        .localCheckpoint(true)
      if (!missing.isEmpty) {
        index.upsert(missing, idCol, textCol) // idempotent; usually a no-op
        missing.write.mode(org.apache.spark.sql.SaveMode.Append)
          .parquet(admittedDir)
      }
      return
    }
    // auto-maintenance INSIDE the batch callback — the one place the
    // single-writer window is guaranteed: when any append target (the
    // corpus dir, the id sidecar, the signature table) has accumulated
    // more than maxSinkFiles files, fold it before this batch reads it.
    // Bounded-frequency by construction (a compacted dir is ~total/
    // target files, so the trigger re-arms only after ~maxSinkFiles
    // further batches); 0 disables.
    if (maxSinkFiles > 0) {
      graft.index.Compaction.compactDir(spark, admittedDir,
        minFiles = maxSinkFiles)
      foldSidecarIfNeeded(spark, idsDir, idCol, sidecarBuckets, maxSinkFiles)
      index.compact(minFiles = maxSinkFiles)
    }
    val m = index.meta
    // Greenfield-tolerant like every other corpus access here (the heal
    // path's readIfData, the sidecar bootstrap): an admission stream over
    // a brand-new corpus reaches this read on batch 0 with admittedDir
    // absent or holding only a crashed write's droppings — an unguarded
    // read would throw and kill the StreamingQuery.
    val corpus = readIfData(spark, admittedDir)
      .getOrElse(batch.select(col(idCol), col(textCol)).limit(0))
    // replay guard: touched-bucket-pruned base ∪ L0 (the fold above may
    // have retired the earlier L0 frame's files — re-derive it), probed
    // with the reversed join so the big side is never shuffled
    val l0 = readIfData(spark, idsDir)
      .getOrElse(emptySidecar(spark, idCol, batch.schema(idCol).dataType))
    val replayFree = graft.plans.Joins.antiSmallLeft(
      batch, sidecarGuardIds(spark, idsDir, l0, batch, idCol), idCol)
    val inBatch = graft.dedup.Dedup.dropNearDuplicates(
      replayFree, idCol, textCol,
      n = m.n, numHashes = m.numHashes, bands = m.bands,
      threshold = threshold, maxBucketSize = maxBucketSize)
    val matched = index.nearDupAgainstExact(
        inBatch, idCol, textCol, corpus, idCol, textCol,
        threshold, maxBucketSize)
      .select(col("batch_id").as(idCol)).distinct()
    // eager: the admitted frame feeds three writes; localCheckpoint also
    // severs it from the sidecar/corpus reads, so the appends below can't
    // invalidate their own input listings
    val admitted = inBatch.join(matched, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    if (!admitted.isEmpty) {
      index.upsert(admitted, idCol, textCol)
      // The decision record must appear ATOMICALLY: a multi-file append
      // can tear mid-job-commit (FileOutputCommitter renames task files
      // one by one), and the heal treats the record as authoritative —
      // a torn record would heal only the visible subset while the
      // checkpoint commits the batch, losing the rest forever. One file
      // = one rename = all-or-nothing; the record is batch-sized ids,
      // so the coalesce costs nothing.
      admitted.select(col(idCol), lit(ckptKey(spark, checkpointDir)).as("__ckpt"),
          lit(batchId).as("__batch"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(idsDir)
      admitted.write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(admittedDir)
    }
  }

  /**
   * Streaming SPAN-CUT admission: each micro-batch is cut against the
   * persisted [[graft.index.SpanIndex]] — tokens covered by an n-gram the
   * admitted corpus (or an earlier doc of the same batch) already
   * contains are removed, the cleaned rows append to `cleanDir`, and the
   * index upserts with the CLEANED text's grams so later batches dedup
   * against exactly what was committed. The continuous form of
   * `index_span_cut`, and the span-level sibling of [[admitStream]]
   * (which rejects whole near-duplicate documents; this keeps every
   * document but strips its duplicated passages).
   *
   * Per micro-batch (foreachBatch; the artifact IS the state): replay
   * guard by key against the id SIDECAR (`<cleanDir>__ids`, same
   * decision-record protocol as [[admitBatch]] — the guard needs id
   * membership, never a scan of the clean corpus's id column),
   * [[graft.index.SpanIndex.cut]] in foreign-batch mode, append,
   * [[graft.index.SpanIndex.upsert]] — all O(batch) plus the
   * bucket-pruned gram-table join. Output schema:
   * `idCol`, `n_tokens`, `n_cut`, `textCol` (the cleaned text).
   * Each batch appends one small file to `cleanDir` and one to the
   * sidecar (the gram table itself is shadow-rewritten per upsert, never
   * appended) — when a file count exceeds `maxSinkFiles` the batch
   * callback folds it first (cleanDir: [[graft.index.Compaction.compactDir]];
   * sidecar: [[foldSidecar]] into the bucketed base; 0 disables), so
   * file counts stay bounded by data size, not by
   * batches ever admitted.
   * Single-writer contract per index/cleanDir, and batch ids must be
   * disjoint from the indexed corpus (the index ownership contract).
   */
  def cutStream(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      index: graft.index.SpanIndex,
      cleanDir: String,
      checkpointDir: String,
      preserveCase: Boolean = false,
      maxSinkFiles: Int = 256,
      sidecarBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    requireNonReservedIdCol(idCol) // fail at stream definition, not mid-fold
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cutBatch(batch, batchId, idCol, textCol, index, cleanDir,
          checkpointDir, preserveCase, maxSinkFiles, sidecarBuckets)
      }
      .start()
  }

  /**
   * One micro-batch of [[cutStream]] — the span-cut sibling of
   * [[admitBatch]], with the same id-sidecar replay guard
   * (`<cleanDir>__ids`) and (checkpoint, batch)-keyed decision record:
   * the guard anti-joins the compact sidecar instead of re-reading the
   * clean corpus's id column per micro-batch.
   *
   * Commit protocol, in write order: [[graft.index.SpanIndex.upsert]] of
   * the cleaned rows' grams → sidecar append (the decision record) →
   * clean-corpus append. The HEAL path (replay whose decision exists)
   * RE-CUTS only the decided-but-uncommitted rows rather than replaying
   * the recorded text (the sidecar stores ids, not documents): that
   * recompute is stable because the crashed attempt's upsert already
   * committed the batch's grams with their owners, ownership coalesce
   * keeps the stored owner, and `cutWithOwners` exempts a gram's owner —
   * each doc keeps exactly what it kept the first time (the same
   * argument that made full-batch replay safe before the sidecar
   * existed). No re-upsert on heal: the grams are already committed, and
   * skipping it avoids the n_docs inflation a full-batch replay pays.
   */
  private[graft] def cutBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      index: graft.index.SpanIndex,
      cleanDir: String,
      checkpointDir: String,
      preserveCase: Boolean = false,
      maxSinkFiles: Int = 256,
      sidecarBuckets: Int = 64): Unit = {
    requireNonReservedIdCol(idCol) // batch entry: before any sidecar write
    val spark = batch.sparkSession
    val idsDir = admitIdsDir(cleanDir)
    // decision check BEFORE maintenance — the heal consults L0 only, so
    // a crashed batch's record must heal before the sidecar fold could
    // retire it into the base (see admitBatch)
    val sidecar = sidecarL0(spark, idsDir, cleanDir, idCol,
      batch.schema(idCol).dataType)
    val decision = decisionOf(sidecar, checkpointDir, batchId)
    if (!decision.isEmpty) {
      // HEAL: re-cut only the rows whose append the crash lost. Same
      // checkpoint-lifecycle guard as admitBatch: a reset checkpoint's
      // colliding record must fail loudly, not silently drop the batch.
      require(decision.select(col(idCol))
          .join(batch.select(col(idCol)), Seq(idCol), "left_anti").isEmpty,
        s"decision record for (checkpoint=$checkpointDir, batch=$batchId) " +
          "holds ids that are not in the delivered batch — the checkpoint " +
          "was reset (path reused) or its source changed; start a new " +
          "stream with a FRESH checkpointDir (commit-protocol scaladoc)")
      val rows = batch.join(decision.select(col(idCol)), Seq(idCol), "left_semi")
      val missing = readIfData(spark, cleanDir)
        .fold(rows)(c =>
          graft.plans.Joins.antiSmallLeft(rows, c.select(col(idCol)), idCol))
      val recut = index.cut(missing, idCol, textCol, preserveCase = preserveCase)
        .withColumnRenamed("text_clean", textCol)
        .localCheckpoint(true)
      if (!recut.isEmpty)
        recut.write.mode(org.apache.spark.sql.SaveMode.Append).parquet(cleanDir)
      return
    }
    // auto-maintenance in the guaranteed single-writer window — see
    // admitStream; the passes no-op while the dirs are small/absent
    if (maxSinkFiles > 0) {
      graft.index.Compaction.compactDir(spark, cleanDir,
        minFiles = maxSinkFiles)
      foldSidecarIfNeeded(spark, idsDir, idCol, sidecarBuckets, maxSinkFiles)
    }
    // replay guard over touched-bucket-pruned base ∪ L0 (re-derived: the
    // fold above may have retired the earlier L0 frame's files)
    val l0 = readIfData(spark, idsDir)
      .getOrElse(emptySidecar(spark, idCol, batch.schema(idCol).dataType))
    val fresh = graft.plans.Joins.antiSmallLeft(
      batch, sidecarGuardIds(spark, idsDir, l0, batch, idCol), idCol)
    val cleaned = index.cut(fresh, idCol, textCol, preserveCase = preserveCase)
      .withColumnRenamed("text_clean", textCol)
      .localCheckpoint(true)
    if (!cleaned.isEmpty) {
      // Upsert FIRST (a crash before the decision record replays the full
      // batch against an index that already holds the cleaned grams — the
      // cut is unchanged because ownership coalesce keeps the stored owner
      // and cutWithOwners exempts a gram's owner; the re-upsert only
      // inflates n_docs for this batch's grams, harmless in foreign mode,
      // which tests presence). The reverse order's crash left cleaned ids
      // committed with their grams permanently missing — later duplicates
      // of admitted passages were never cut. Then the decision record,
      // then the data append (see admitBatch for the window analysis).
      index.upsert(cleaned, idCol, textCol)
      // atomic decision record — same torn-append analysis as admitBatch
      cleaned.select(col(idCol), lit(ckptKey(spark, checkpointDir)).as("__ckpt"),
          lit(batchId).as("__batch"))
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(idsDir)
      cleaned.write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(cleanDir)
    }
  }

  /**
   * Streaming exact-dedup: drop rows whose key was already seen, keeping
   * state only within the watermark horizon — the streaming twin of
   * [[graft.dedup.Dedup.dropExactDuplicates]]. Unbounded dedup state is the
   * classic streaming-pipeline OOM (at corpus-ingest rates the seen-keys
   * set grows forever); `dropDuplicatesWithinWatermark` expires keys once
   * the watermark passes them, so state is O(keys per horizon) and a
   * duplicate arriving outside the horizon is a documented re-admit.
   * Batch frames take the exact, horizon-free `dropDuplicates`.
   *
   * Key on a content digest (e.g. `md5(text)`) computed upstream to dedup
   * by content rather than by id without carrying document text in state.
   */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      lateness: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, lateness).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /**
   * Batch sessionization — the exact, replayable twin of the streaming
   * [[sessionize]]: events more than `gapSeconds` apart start a new
   * session per user. Standard two-window shape: a lag over
   * (user, event-time) marks boundaries, a running sum numbers sessions —
   * one shuffle keyed by user, state never leaves the window operator.
   * Gaps are compared in whole SECONDS-BOUNDARY counts (unix_timestamp
   * truncation), which is sub-second-precision-agnostic and therefore
   * cross-engine exact.
   *
   * @return one row per (user, session): user id, 1-based session_id,
   *         n_events, session start/end timestamps
   */
  def sessionizeBatch(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      gapSeconds: Long = 1800L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(w)
    val boundary = when(prev.isNull ||
      unix_timestamp(col(tsCol)) - unix_timestamp(prev) > gapSeconds, 1).otherwise(0)
    events
      .withColumn("__b", boundary)
      .withColumn("session_id",
        sum(col("__b")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("int"))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("t_start"),
        max(col(tsCol)).as("t_end"))
  }

  /**
   * Interval join, batch AND stream: left rows joined to right rows of the
   * same key whose time falls in `[leftTime - horizonSeconds, leftTime]` —
   * the streaming counterpart of [[graft.ops.AsOfJoin]]'s tolerance form
   * (stream-stream joins cannot express "latest match only", so this
   * yields ALL matches in the horizon; reduce downstream if one is
   * needed).
   *
   * On streaming frames both sides carry watermarks and the time-range
   * condition bounds join state: each side buffers only `horizon +
   * lateness` of events per key, the exact requirement for Spark to GC
   * stream-stream join state. On batch frames the watermark is a no-op
   * and the plan is a key-hash equi-join + range filter (no BNL — the
   * equi-key anchors the join), which is the oracle-checked twin
   * (`events_interval_join`).
   *
   * Column names must be disjoint across sides (rename upstream).
   */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      on: String,
      rightOn: String,
      leftTime: String,
      rightTime: String,
      horizonSeconds: Long,
      lateness: String = "10 minutes"): DataFrame = {
    val overlap = left.columns.intersect(right.columns)
    require(overlap.isEmpty,
      s"intervalJoin requires disjoint column names across sides; rename upstream: " +
        overlap.mkString("[", ", ", "]") +
        " appear on both (an overlapping name would make the join condition " +
        "ambiguous or silently self-compare)")
    val (l, r) =
      if (left.isStreaming || right.isStreaming)
        (left.withWatermark(leftTime, lateness),
          right.withWatermark(rightTime, lateness))
      else (left, right)
    l.join(r,
      col(on) === col(rightOn) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $horizonSeconds SECONDS") &&
        col(rightTime) <= col(leftTime))
  }

  /**
   * Stream-static enrichment join: each streaming row joined (left) to a
   * static dimension — the standard "attach user/doc metadata to an event
   * stream" step. The dimension is broadcast explicitly: stream-static
   * joins re-plan the static side per micro-batch, and a broadcast keeps
   * that per-batch cost a map-side lookup with NO shuffle of the stream
   * (stateless — nothing to watermark, unlike stream-stream joins). For a
   * dimension too large to broadcast, pre-bucket both sides instead
   * ([[graft.index.BucketedCorpus]]).
   *
   * Works identically on batch frames (same unified plan), which is how
   * the spec cross-checks it.
   */
  def enrichStream(stream: DataFrame, dim: DataFrame, on: String): DataFrame =
    stream.join(broadcast(dim), Seq(on), "left")

  final case class SessionUpdate(userId: Long, nEvents: Long, totalValue: Double, closed: Boolean)

  /**
   * Per-user sessionization via mapGroupsWithState: accumulates event
   * count/value per user; with `timeoutMs` set, emits the closed session
   * when the user goes quiet that long (processing-time timeout — note
   * the engine then schedules extra micro-batches to evaluate timeouts,
   * so `processAllAvailable` never settles; production queries use a real
   * trigger). `timeoutMs = None` keeps state open-ended. State is
   * O(active users).
   */
  def sessionize(
      events: Dataset[(Long, Double)], // (user_id, value)
      timeoutMs: Option[Long] = Some(30000L)): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    val conf = timeoutMs.fold(GroupStateTimeout.NoTimeout())(_ =>
      GroupStateTimeout.ProcessingTimeTimeout())
    events.groupByKey(_._1)
      .mapGroupsWithState(conf) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, v) = state.get
            state.remove()
            SessionUpdate(userId, n, v, closed = true)
          } else {
            val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
            val batch = rows.toSeq
            val updated = (n0 + batch.size, v0 + batch.map(_._2).sum)
            state.update(updated)
            timeoutMs.foreach(state.setTimeoutDuration)
            SessionUpdate(userId, updated._1, updated._2, closed = false)
          }
      }
  }

  /** Normalize the fixture's `ts` column to session-zone `TimestampType`,
    * whatever physical type the parquet writer chose:
    *   - `TIMESTAMP`/`TIMESTAMP_NTZ` (micro-precision writers; the current
    *     fixture) pass through with an NTZ→LTZ cast — values are UTC and
    *     the session zone is UTC, so instants are unchanged;
    *   - `BIGINT` (int64-nanos writers read under the nanosAsLong legacy
    *     conf) truncates nanos → micros, Spark's native precision.
    * Everything downstream (windows, watermarks, sessionization, as-of)
    * sees one stable type regardless of fixture vintage. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** Convenience: batch-read the events fixture with streaming-compatible
    * types (see [[normalizeTs]]). Legacy int64-nanos fixtures are only
    * readable at all under `spark.sql.legacy.parquet.nanosAsLong`, which
    * must stay set session-wide for the lazy scan to execute — that path
    * is entered only when the plain read rejects the file's footer. */
  def eventsBatch(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(
      try graft.Tables.events(spark, dir)
      catch { case scala.util.control.NonFatal(_) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        graft.Tables.events(spark, dir)
      })

  /** A file-source stream over a DIRECTORY of event parquet files (file
    * streams watch directories; new files become micro-batches). Schema is
    * pinned from the existing files; same `ts` normalization as
    * [[eventsBatch]]. */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val schema =
      (try spark.read.parquet(eventsDir)
      catch { case scala.util.control.NonFatal(_) =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(eventsDir)
      }).schema
    normalizeTs(spark.readStream.schema(schema).parquet(eventsDir))
  }
}
