package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/**
 * Persisted MinHash signature index — the build-once/query-many artifact
 * for near-duplicate work over a stable corpus. [[Dedup.minHashNearDups]]
 * recomputes the shingle+MinHash kernel inside every call (cached for the
 * call's lifetime); a pipeline that runs MANY near-dup queries — different
 * thresholds, repeated cluster refreshes, incremental batches — should pay
 * the kernel once and query the artifact, exactly like [[IvfCollection]]
 * amortizes centroid assignment.
 *
 * Layout: `<root>/<name>/sig/` (parquet: id, sig array<long>) +
 * `<root>/<name>/_meta.json` (n, numHashes, bands — pinned so queries can
 * never mix parameters with a mismatched artifact). Band keys are not
 * stored BY DEFAULT: they derive from the stored signature with builtin
 * column ops (slice + xxhash64 — trivial next to the text kernel the
 * artifact amortizes, and paid once per query in batch use). Probe-heavy
 * deployments — the streaming admission sink scans the band table once
 * per MICRO-BATCH — opt into [[materializeBands]], which persists the
 * narrow (id, band) table (`bands/` + a coverage snapshot) for ~15×
 * cheaper probes at ~25% extra storage.
 *
 * Docs with fewer than n tokens have no shingles and can never pass an
 * exact-Jaccard verify; they are excluded at build time (their sentinel
 * signatures would otherwise all collide and estimate-match each other).
 *
 * Verification is by SIGNATURE ESTIMATE (agreement fraction,
 * ±≈sqrt(j(1−j)/numHashes)): the artifact deliberately does not carry the
 * text. Pipelines needing exact-Jaccard confirmation re-join the candidate
 * ids to the corpus and use [[Dedup.jaccard]] — candidates are tiny, so
 * that join is cheap.
 */
final case class MinHashIndexMeta(n: Int, numHashes: Int, bands: Int)

class MinHashIndex(
    protected val spark: SparkSession,
    protected val root: String,
    val name: String) extends FsArtifact {
  private lazy val sigPath = new Path(base, "sig")
  private lazy val bandsPath = new Path(base, "bands")
  private lazy val bandsMetaPath = new Path(base, "_bands.json")

  def build(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32): this.type = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    // meta invalidated first / written last: `exists` stays false for the
    // whole rebuild window (FsArtifact build protocol), so a crashed
    // rebuild can't pair stale parameters with fresh signatures.
    invalidateMeta()
    // a previous build's materialized band table derives from the sig
    // rows about to be overwritten — drop it with the meta (the coverage
    // snapshot's file names would mismatch and force fallback anyway;
    // this keeps the layout clean)
    fs.delete(bandsMetaPath, false)
    fs.delete(bandsPath, true)
    // ONE kernel pass, no build-time filter: a shingle-based filter would
    // re-derive the tokenize+shingle kernel (predicate pushdown
    // substitutes the alias into the predicate — no CSE across the
    // Filter/Project operators). Shingle-less docs write their sentinel
    // signature and are excluded cheaply at READ time on the stored
    // column ([[signatures]]).
    df.select(col(idCol).as("id"),
        Dedup.minHashSignature(Dedup.shingles(col(textCol), n), numHashes).as("sig"))
      .write.mode(SaveMode.Overwrite).parquet(sigPath.toString)
    writeMetaJson(s"""{"n":$n,"numHashes":$numHashes,"bands":$bands$foldStampJson}""")
    this
  }

  def meta: MinHashIndexMeta = {
    val s = readMetaJson()
    requireFoldCurrent(s) // signatures derive from folded shingle text
    MinHashIndexMeta(metaField(s, "n").toInt, metaField(s, "numHashes").toInt,
      metaField(s, "bands").toInt)
  }

  /** Incremental ingest: append signatures for rows whose id is not
    * already indexed (idempotent by key, like
    * [[VectorCollection.upsert]]) — the daily-batch workflow: one kernel
    * pass over the NEW docs only, then near-dup queries over the whole
    * artifact. Parameters come from the pinned meta, so a batch can never
    * be signed with mismatched settings. Single-writer contract. */
  def upsert(df: DataFrame, idCol: String, textCol: String): Unit = {
    require(exists, s"index $name does not exist - build() it first")
    val m = meta
    // reversed anti probe: one streaming pass over the stored id column,
    // no shuffle of it, at any corpus size ([[graft.plans.Joins]])
    val fresh = graft.plans.Joins.antiSmallLeft(df,
        signaturesRaw().select(col("id").as(idCol)), idCol)
      .select(col(idCol).as("id"),
        Dedup.minHashSignature(Dedup.shingles(col(textCol), m.n), m.numHashes).as("sig"))
    fresh.write.mode(SaveMode.Append).parquet(sigPath.toString)
  }

  /** Fold the per-upsert appended files into ~target-sized ones
    * ([[Compaction.compactDir]]): every [[upsert]] (one per admitted
    * micro-batch in the streaming path) appends a small file, and at
    * scale the signature table would otherwise accumulate one file per
    * batch ever admitted. Row-identical rewrite — queries and the upsert
    * anti-join see the same table. Scheduled maintenance under the same
    * single-writer contract as upsert itself. A real fold rewrites the
    * sig file names, which invalidates the [[materializeBands]] coverage
    * snapshot (the band source would fall back to full derivation) — so
    * a materialized index re-materializes inside the same maintenance
    * window, folding the accumulated derive-tail in with it. */
  def compact(targetFileBytes: Long = 128L << 20, minFiles: Int = 8): (Int, Int) = {
    val r = Compaction.compactDir(spark, sigPath.toString, targetFileBytes,
      minFiles = minFiles)
    if (r._1 != r._2 && fs.exists(bandsMetaPath)) materializeBands()
    r
  }

  /**
   * Materialize the band table as its own narrow artifact (`bands/`:
   * id, band) — the 100 TB flip for PROBE-HEAVY use (the streaming
   * admission sink probes the band table once per micro-batch): deriving
   * bands from stored signatures decodes the full `numHashes`-long
   * signature array and computes `bands` hashes per row on EVERY probe,
   * where the materialized table is a bare two-column columnar scan
   * (measured ~15× cheaper at a 500k-doc corpus — BENCH_SCALE.md round
   * 16) for ~25% extra artifact storage. Opt-in, like
   * [[graft.text.DupSpans]]'s `materializeGrams`: build once after
   * `build()`, and [[compact]] keeps it fresh from then on.
   *
   * Consistency protocol (single-writer, like every mutation here): the
   * table is valid only together with its COVERAGE SNAPSHOT
   * (`_bands.json` — the sig data-file names it was derived from,
   * captured before derivation). Readers union the materialized table
   * with bands derived from sig files NOT in the snapshot (the
   * O(recent-batches) upsert tail), and fall back to full derivation the
   * moment any covered file is missing (a compaction or rebuild rewrote
   * the sig layout). Writes go shadow → two-rename swap → coverage LAST,
   * so a crash anywhere leaves a missing/stale coverage and the reader
   * falls back — never wrong, only slower. Rename-atomicity caveat:
   * MAINTENANCE.md.
   */
  def materializeBands(): Unit = {
    require(exists, s"index $name does not exist - build() it first")
    val m = meta
    // snapshot BEFORE deriving: files appended after it land in the tail
    val covered = sigFileNames()
    fs.delete(bandsMetaPath, false) // invalidate first (build protocol)
    val shadow = new Path(base, "bands_shadow")
    val old = new Path(base, "bands_old")
    fs.delete(shadow, true)
    fs.delete(old, true)
    derivedBands(m).write.mode(SaveMode.Overwrite).parquet(shadow.toString)
    if (fs.exists(bandsPath))
      require(fs.rename(bandsPath, old), s"could not stage old bands of $name")
    require(fs.rename(shadow, bandsPath), s"could not swap bands of $name")
    fs.delete(old, true)
    covered.foreach(f => require(!f.contains(";"),
      s"sig file name '$f' would corrupt the coverage snapshot"))
    val out = fs.create(bandsMetaPath, true)
    try out.write(s"""{"files":"${covered.mkString(";")}"}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Sig data-file names (no `_SUCCESS`/dot files), sorted — the
    * coverage-snapshot domain. `sig/` is a flat dir (never
    * hive-partitioned), so a non-recursive listing is exact. */
  private def sigFileNames(): Seq[String] =
    if (!fs.exists(sigPath)) Nil
    else {
      val it = fs.listFiles(sigPath, false)
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        val n = f.getPath.getName
        if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) out += n
      }
      out.result().sorted
    }

  /** Band rows derived from stored signatures — the always-correct
    * source the materialized path must equal. */
  private def derivedBands(m: MinHashIndexMeta): DataFrame =
    signatures().select(col("id"), explode(bandKeys(m)).as("band"))

  /** The (id, band) stream every candidate-generation path scans: the
    * materialized `bands/` table plus the derive-tail of sig files
    * appended since [[materializeBands]] when the coverage snapshot is
    * valid; the full signature derivation otherwise (absent coverage,
    * torn materialization, or a sig rewrite under the snapshot). */
  private def bandSource(m: MinHashIndexMeta): DataFrame = {
    if (!fs.exists(bandsMetaPath) || !fs.exists(bandsPath)) return derivedBands(m)
    val covered =
      try {
        val in = fs.open(bandsMetaPath)
        val s = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        FlatJson.parse(s).get("files")
          .map(_.split(';').toSeq.filter(_.nonEmpty))
      } catch { case scala.util.control.NonFatal(_) => None }
    covered match {
      case None => derivedBands(m)
      case Some(c) =>
        val current = sigFileNames()
        val cur = current.toSet
        if (!c.forall(cur)) derivedBands(m) // sig layout rewritten: stale
        else {
          val tail = current.filterNot(c.toSet)
          val mat = spark.read.parquet(bandsPath.toString)
          if (tail.isEmpty) mat
          else {
            val tailSigs = spark.read
              .parquet(tail.map(f => new Path(sigPath, f).toString): _*)
              .where(element_at(col("sig"), 1) =!= Long.MaxValue)
            mat.unionByName(
              tailSigs.select(col("id"), explode(bandKeys(m)).as("band")))
          }
        }
    }
  }

  /** All stored (id, sig) rows, sentinel rows included — the id universe
    * for the upsert anti-join (a shingle-less doc IS indexed; dropping it
    * from the id set would re-sign it on every upsert). */
  private def signaturesRaw(): DataFrame = spark.read.parquet(sigPath.toString)

  /** (id, sig), shingle-less docs excluded: a doc with no shingles stores
    * the all-sentinel signature (every slot Long.MaxValue — a real doc's
    * slot-1 minimum hits the sentinel only if every one of its shingle
    * hashes equals MaxValue, i.e. never), and such docs can never pass an
    * exact-Jaccard verify, so they are filtered on the STORED column —
    * a cheap columnar predicate, no text kernel. */
  def signatures(): DataFrame =
    signaturesRaw().where(element_at(col("sig"), 1) =!= Long.MaxValue)

  /** Band-key array over a `sig` column under meta `m` — THE single
    * derivation shared by [[bandTable]] and the batch side of
    * [[nearDupAgainstExact]] (a mismatched derivation would silently
    * produce zero candidates, not an error). */
  private def bandKeys(m: MinHashIndexMeta): org.apache.spark.sql.Column = {
    val rows = m.numHashes / m.bands
    array((0 until m.bands).map { b =>
      xxhash64(lit(b) +: (0 until rows).map(i =>
        element_at(col("sig"), b * rows + i + 1)): _*)
    }: _*)
  }

  /** (id, band) — one salted 64-bit key per band (slice + xxhash64; the
    * band index salts the key so bands can't collide across positions).
    * Served from the [[materializeBands]] fast path when valid, derived
    * from stored signatures otherwise — identical rows either way. */
  def bandTable(): DataFrame = bandSource(meta)

  /**
   * Incremental batch-vs-corpus near-dup — the daily-batch admission
   * check: which INCOMING docs near-duplicate something already indexed,
   * without re-running the corpus-wide kernel (the artifact paid it) and
   * without any all-pairs scan. The batch is signed on the fly with the
   * PINNED meta, its band keys join the stored band table (corpus-side
   * buckets over `maxBucketSize` dropped — the same boilerplate guard as
   * the self-join path), and candidates are verified by exact shingle
   * Jaccard against the two text sources (shingles recomputed only for
   * candidate docs, semi-join first). `corpus` must be the corpus the
   * index was built from.
   *
   * @return (batch_id, match_id, jaccard), jaccard ≥ threshold,
   *         batch_id ≠ match_id — eager
   */
  def nearDupAgainstExact(
      batch: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double, maxBucketSize: Int = 10000): DataFrame = {
    require(exists, s"index $name does not exist - build() it first")
    val cand = candidatePairsAgainst(batch, idCol, textCol, maxBucketSize)
    verifyCandidatesExact(cand, batch, idCol, textCol,
      corpus, corpusIdCol, corpusTextCol, threshold)
  }

  /** Stage 1 of [[nearDupAgainstExact]] — the LSH BAND JOIN: batch
    * signatures broadcast onto the corpus band table, bucket-capped,
    * distinct (bid, id) candidate pairs out. Split from the verify so
    * each stage can be priced and tested on its own (BENCH_SCALE.md,
    * "admission stage split"); composition unchanged.
    *
    * @return eager (bid, id) candidate pairs */
  private[graft] def candidatePairsAgainst(
      batch: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int): DataFrame = {
    val m = meta
    // batch side is small by contract — pay its text kernel once (eager;
    // two consumers below) and broadcast it onto the corpus band stream.
    // The localCheckpoints in both stages are deliberately NOT routed
    // through the durable mode (spark.graft.checkpointDir): the frames
    // are BATCH-sized and micro-batch-scoped — an executor loss mid-batch
    // fails only that batch, which the streaming admission's
    // decision-record replay heals — so parquet round-trips per
    // micro-batch would buy nothing but latency.
    val bBands = batch
      .select(col(idCol).as("bid"),
        Dedup.minHashSignature(Dedup.shingles(col(textCol), m.n), m.numHashes).as("sig"))
      .where(element_at(col("sig"), 1) =!= Long.MaxValue)
      .select(col("bid"), explode(bandKeys(m)).as("band"))
      .localCheckpoint(true)
    // ONE streaming pass over the corpus band table: semi-filter to the
    // batch's bands (broadcast hash, no corpus shuffle), then apply the
    // bucket-size cap as a windowed count over the MATCHED rows only —
    // matched rows per band ARE that band's full corpus bucket (the join
    // key is the band itself), so this is the same guard as the old
    // full-table aggregate without persisting the banded corpus or
    // shuffling its ~|corpus|·bands mostly-unique keys per call (the
    // measured per-micro-batch cost of the streaming admission sink).
    // The window's shuffle moves only matched rows: batch-candidate-sized
    // in the common case, and even a pathological hot band stays below
    // the old full-table aggregate it replaces.
    val matched = bandTable()
      .join(broadcast(bBands.select(col("band")).distinct()), Seq("band"), "left_semi")
    val underCap = matched
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("band"))))
      .filter(col("__n") <= maxBucketSize)
    // Eager (localCheckpoint): three consumers below, and the empty case
    // must short-circuit WITHOUT planning the corpus-side verify — a
    // no-candidate batch (the streaming common case) otherwise pays a
    // full corpus id+text column scan for the semi-join that will
    // match nothing.
    underCap
      .join(broadcast(bBands), Seq("band"))
      .filter(col("bid") =!= col("id"))
      .select(col("bid"), col("id")).distinct()
      .localCheckpoint(true)
  }

  /** Stage 2 of [[nearDupAgainstExact]] — the EXACT VERIFY: shingles
    * recomputed for candidate docs only (semi-join first), exact Jaccard
    * over the candidate pairs. Empty candidates short-circuit WITHOUT
    * planning the corpus-side scan (the streaming common case).
    *
    * @return eager (batch_id, match_id, jaccard) ≥ threshold */
  private[graft] def verifyCandidatesExact(
      cand: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double): DataFrame = {
    val m = meta
    if (cand.isEmpty) {
      // Independent empty frame, NOT a projection over `cand`: the
      // non-empty branch returns an owned checkpoint, so callers may
      // release the returned frame (plan-walk unpersist) — a plan that
      // aliased cand's lineage-cut blocks would let that release destroy
      // the caller's candidate frame unrecoverably.
      val s = cand.sparkSession
      s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "batch_id", cand.schema("bid").dataType),
          org.apache.spark.sql.types.StructField(
            "match_id", cand.schema("id").dataType),
          org.apache.spark.sql.types.StructField(
            "jaccard", org.apache.spark.sql.types.DoubleType))))
    } else {
      val bIds = cand.select(col("bid")).distinct()
      val cIds = cand.select(col("id")).distinct()
      val bSh = batch.join(bIds, batch(idCol) === bIds("bid"), "left_semi")
        .select(col(idCol).as("bid"), Dedup.shingles(col(textCol), m.n).as("__sa"))
      val cSh = corpus.join(cIds, corpus(corpusIdCol) === cIds("id"), "left_semi")
        .select(col(corpusIdCol).as("id"), Dedup.shingles(col(corpusTextCol), m.n).as("__sb"))
      cand.join(bSh, Seq("bid")).join(cSh, Seq("id"))
        .withColumn("jaccard", Dedup.jaccard(col("__sa"), col("__sb")))
        .filter(col("jaccard") >= threshold)
        .select(col("bid").as("batch_id"), col("id").as("match_id"), col("jaccard"))
        .localCheckpoint(true)
    }
  }

  /**
   * Near-duplicate pairs from the artifact alone: LSH band candidates
   * (THE shared guard+candidate definition, [[Dedup.lshCandidatePairs]])
   * verified by signature estimate. The band frame feeds the sizing pass
   * and both self-join sides — persisted for the call's lifetime (same
   * scoped-persist + eager-result shape as the direct operator) so the
   * signature parquet is scanned once, not ~5 times.
   *
   * @return (id_a, id_b, jaccard_est) with id_a < id_b — eager
   */
  def nearDupPairs(threshold: Double, maxBucketSize: Int = 10000): DataFrame = {
    val bands = bandTable()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The capped band frame feeds both candidate-join sides; persist it
      // so the cache scan + anti-join run once, not twice (r22 — same
      // discipline as the in-query miners).
      val capped = Dedup.cappedBands(bands, maxBucketSize, weightCol = None)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cand = Dedup.pairsFromCapped(capped)
        val sa = signatures().select(col("id").as("id_a"), col("sig").as("__sa"))
        val sb = signatures().select(col("id").as("id_b"), col("sig").as("__sb"))
        // Mined-pair output: same eager discipline as Dedup's own miners
        // (DISK_ONLY blocks; durable parquet under
        // spark.graft.checkpointDir on preemptible clusters) — a pair set
        // is quadratic in the duplication factor in the worst case, the
        // one frame shape that must not pin the storage floor or die with
        // an executor.
        Dedup.eagerPairs(
          cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
            .withColumn("jaccard_est", Dedup.minHashEstimate(col("__sa"), col("__sb")))
            .filter(col("jaccard_est") >= threshold)
            .select(col("id_a"), col("id_b"), col("jaccard_est")))
      } finally capped.unpersist(false)
    } finally bands.unpersist(false)
  }

  /** Index-backed one-call near-dup removal: [[nearDupPairs]] →
    * [[graft.dedup.Dedup.connectedComponents]] → anti-join the duplicate
    * set (same shape as [[Dedup.dropNearDuplicates]], minus the text
    * kernel — the artifact already paid it). `df` must be the corpus the
    * index was built from (ids are the join key). */
  def dropNearDuplicates(df: DataFrame, idCol: String,
      threshold: Double, maxBucketSize: Int = 10000): DataFrame = {
    val pairs = nearDupPairs(threshold, maxBucketSize)
    val comps = Dedup.connectedComponents(df.select(col(idCol)), idCol,
      pairs, "id_a", "id_b")
    val dupes = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(dupes, df(idCol) === dupes("id"), "left_anti")
  }

  /**
   * Candidate pairs from the artifact verified by EXACT shingle Jaccard
   * against the corpus text — bit-identical to
   * [[Dedup.minHashNearDups]]'s output for the same parameters: the
   * candidates come from THE shared band/guard definition
   * ([[Dedup.lshCandidatePairs]]), and the verify recomputes the same
   * exact Jaccard. The difference is cost shape: the corpus-wide
   * tokenize+shingle+MinHash kernel was paid once at build time; here the
   * shingle kernel runs only over the docs that appear in a candidate
   * pair (semi-join first, so it runs once per candidate DOC, not once
   * per pair). `df` must be the corpus the index was built from.
   *
   * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold — eager
   */
  def nearDupPairsExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxBucketSize: Int = 10000): DataFrame = {
    val m = meta
    val bands = bandTable()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Candidates are consumed three times (two semi-join id sides + the
      // verify join) — keep the persist; the capped frame inside
      // lshCandidatePairs is join-side-doubled the same way, but the pair
      // set here is the smaller frame and the dominant reuse.
      val cand = Dedup.lshCandidatePairs(bands, maxBucketSize)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val candIds = cand.select(col("id_a").as("id"))
          .union(cand.select(col("id_b").as("id"))).distinct()
        val withSh = df.join(candIds, df(idCol) === candIds("id"), "left_semi")
          .select(col(idCol).as("id"),
            Dedup.shingles(col(textCol), m.n).as("sh"))
        // Mined-pair output — same mode-aware discipline as nearDupPairs
        Dedup.eagerPairs(cand
          .join(withSh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
          .join(withSh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
          .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard")))
      } finally cand.unpersist(false)
    } finally bands.unpersist(false)
  }

  /** [[dropNearDuplicates]] with the exact-Jaccard verify of
    * [[nearDupPairsExact]] — output-identical to
    * [[Dedup.dropNearDuplicates]] at the same parameters, at the
    * amortized index cost. */
  def dropNearDuplicatesExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxBucketSize: Int = 10000): DataFrame = {
    val pairs = nearDupPairsExact(df, idCol, textCol, threshold, maxBucketSize)
    val comps = Dedup.connectedComponents(df.select(col(idCol)), idCol,
      pairs, "id_a", "id_b")
    val dupes = comps.filter(col("id") =!= col("component")).select(col("id"))
    df.join(dupes, df(idCol) === dupes("id"), "left_anti")
  }
}

object MinHashIndex {
  def apply(spark: SparkSession, root: String, name: String): MinHashIndex =
    new MinHashIndex(spark, root, name)
}
