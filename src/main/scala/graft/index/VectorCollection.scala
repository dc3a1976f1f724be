package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Parquet-backed vector collection — the engine's stand-in for the
 * reference's external vector store (collection create `main.py:60-65`,
 * existence check `main.py:59`, point upsert `bcb_utils.py:117-121`).
 *
 * Layout: `<root>/<name>/data/` (parquet, bucket-friendly base rows) +
 * `_meta.json` (dim, metric, normalized flag — the knobs the reference
 * encodes in its collection name, `main.py:28-34`, kept as real metadata
 * instead of name-mangling) + `_key` (the id column name, recorded at
 * first upsert) + two merge-on-read sidecars that exist only once the
 * collection has been mutated:
 *
 *  - `tombstones/` — `(key, __seq)` delete markers ([[delete]])
 *  - `patches/`    — full updated rows + `__seq` ([[setPayload]], and
 *                    re-upserts of previously deleted keys)
 *
 * Mutation model (merge-on-read, the Iceberg/Delta shape): a mutation
 * APPENDS a mutation-sized sidecar instead of rewriting the collection —
 * a one-point delete on a 100 TB collection costs one tombstone row, not
 * a 100 TB write job. [[load]] resolves visibility lazily: base rows are
 * implicitly sequence 0, sidecar records carry a strictly increasing
 * `__seq`, and the LAST writer per key wins (a tombstone winner hides the
 * key; a patch winner replaces the row). Only keys that appear in a
 * sidecar pay the resolution — the untouched remainder of the corpus is
 * separated by a BROADCAST anti-join (sidecars are mutation-sized by
 * construction) and streams through unshuffled, so merge-on-read adds a
 * per-row hash probe, not an exchange, at any corpus size. An unmutated
 * collection short-circuits to a plain scan of `data/`.
 * [[compact]] folds the sidecars into `data/` (the old full rewrite, now
 * an explicitly scheduled maintenance job) and restores the fast path.
 *
 * Schema contract: one schema per collection. The first [[upsert]] fixes
 * it; every later append (base rows, revival and [[setPayload]] patches)
 * must carry exactly its column names and types or fails loudly, so
 * `data/` never holds parquet files whose footers disagree. Sidecar
 * schemas are derived from it (`tombstones/` = key + `__seq`, `patches/`
 * = base + `__seq`), and every read is pinned to it with
 * `spark.read.schema(...)` — no read starts a schema-inference job.
 *
 * What a handle caches: only facts the write contract fixes — the `data/`
 * schema, inferred once per build and cached against the `_meta.json`
 * text [[create]] writes (it carries a fresh build id), so a
 * drop-and-recreate through another handle is noticed at the next call.
 * Sidecar presence ([[mutated]]), the file listings and the key file are
 * read on every call, so deletes, upserts and compactions through other
 * handles are visible at once.
 *
 * Idempotency: the reference skips ingest when the collection exists and
 * relies on deterministic UUID point ids for re-upload safety; here upsert
 * anti-joins new rows against the stored ids so re-ingesting a batch is a
 * no-op (exactly-once by key, not by attempt), while re-upserting a
 * DELETED key lands as a patch that out-sequences its tombstone. A
 * re-ingested batch is schema-checked like any other append. Note:
 * read-then-append is not atomic under CONCURRENT writers —
 * single-writer-per-collection is the supported contract (same as the
 * reference's sequential ingest loop).
 *
 * Scale notes: all filesystem access goes through the Hadoop `FileSystem`
 * API resolved from the session's Hadoop conf, so the same code runs on
 * local disk, HDFS, or S3A. Data is plain parquet → any number of
 * executors can scan it with pushdown/pruning; the upsert anti-join
 * shuffles only on the id key and broadcast-flips automatically when one
 * side is small. For 100 TB collections the id anti-join is the one
 * full-shuffle op — partitioning `data/` by a stable id prefix (bucketing)
 * makes it a co-located join.
 */
final case class CollectionMeta(dim: Int, metric: String, normalized: Boolean)

class VectorCollection(
    protected val spark: SparkSession,
    protected val root: String,
    val name: String) extends FsArtifact {
  private lazy val dataPath = new Path(base, "data")
  private lazy val tombPath = new Path(base, "tombstones")
  private lazy val patchPath = new Path(base, "patches")
  private lazy val keyPath = new Path(base, "_key")

  def create(meta: CollectionMeta): this.type = {
    // commas/braces in values are fine (FlatJson reads them); a raw quote
    // or backslash would need escaping the writers don't do — refuse loudly
    require(!meta.metric.exists(c => c == '"' || c == '\\'),
      s"metric '${meta.metric}' may not contain '\"' or '\\'")
    writeMetaJson(
      s"""{"dim":${meta.dim},"metric":"${meta.metric}","normalized":${meta.normalized}$buildStampJson}""")
    this
  }

  /** Create with a payload-PARTITIONED layout (the backend's payload
    * index, realized the Spark way): `data/` is directory-partitioned by
    * `partitionBy`, so every filtered search / scroll / count whose
    * predicate touches that field prunes whole directories at planning
    * time instead of scanning the collection — the same write-time-layout
    * / read-time-pruning trade as [[IvfCollection]]'s cell partitioning,
    * applied to a payload field. Pick a low-cardinality field (language,
    * source, tenant): one directory per distinct value. */
  def create(meta: CollectionMeta, partitionBy: String): this.type = {
    require(partitionBy.nonEmpty && !partitionBy.contains("\""),
      s"bad partition field '$partitionBy'")
    require(!meta.metric.exists(c => c == '"' || c == '\\'),
      s"metric '${meta.metric}' may not contain '\"' or '\\'")
    writeMetaJson(
      s"""{"dim":${meta.dim},"metric":"${meta.metric}","normalized":${meta.normalized},"partition_by":"$partitionBy"$buildStampJson}""")
    this
  }

  /** The payload field `data/` is directory-partitioned by, if any. */
  def partitionField: Option[String] =
    metaFieldOpt(readMetaJson(), "partition_by")

  /** Every `data/` append goes through here so the partitioned layout is
    * preserved. The first append fixes the collection's schema; every
    * later one must match it ([[conformToSchema]]). */
  private def appendData(df: DataFrame): Unit = {
    val partition = partitionField
    partition.foreach(f => require(df.columns.contains(f),
      s"collection $name is partitioned by '$f' but the batch lacks that column"))
    val rows =
      if (fs.exists(dataPath)) conformToSchema(df, dataSchema(), "upsert", partition.toSeq)
      else df
    val w = rows.write.mode(SaveMode.Append)
    partition.fold(w)(w.partitionBy(_)).parquet(dataPath.toString)
  }

  /** Create a collection with NAMED vectors: points carry several vector
    * columns (e.g. a text embedding and a code embedding per document),
    * each registered here with its dim; searches select one by name
    * ([[graft.search.Knn.searchCollection]]'s `vectorName`). The first
    * entry is the default vector and doubles as `meta.dim`; `normalized`
    * and `metric` apply to every registered vector (mixing metrics per
    * vector would make `normalized` meaningless as a collection fact). */
  def create(metric: String, normalized: Boolean,
      vectors: Seq[(String, Int)]): this.type = {
    require(vectors.nonEmpty, "named-vector collections need at least one vector")
    require(!metric.exists(c => c == '"' || c == '\\'),
      s"metric '$metric' may not contain '\"' or '\\'")
    vectors.foreach { case (n, d) =>
      require(!n.contains(";") && !n.contains("=") && n.nonEmpty,
        s"vector name '$n' may not contain ';' or '='")
      require(d > 0, s"vector '$n' has non-positive dim $d")
    }
    val enc = vectors.map { case (n, d) => s"$n=$d" }.mkString(";")
    writeMetaJson(
      s"""{"dim":${vectors.head._2},"metric":"$metric","normalized":$normalized,"vectors":"$enc"$buildStampJson}""")
    this
  }

  /** Registered named vectors `(name, dim)` in declaration order; empty
    * for single-vector collections created via [[create(CollectionMeta)]]. */
  def vectorDims: Seq[(String, Int)] =
    metaFieldOpt(readMetaJson(), "vectors").map(_.split(";").toSeq.map { s =>
      val Array(n, d) = s.split("=")
      (n, d.toInt)
    }).getOrElse(Seq.empty)

  def meta: CollectionMeta = {
    val s = readMetaJson()
    CollectionMeta(metaField(s, "dim").toInt, metaField(s, "metric"),
      metaField(s, "normalized").toBoolean)
  }

  /** The id column the collection is keyed by (recorded at first upsert). */
  def key: Option[String] =
    if (fs.exists(keyPath)) {
      val in = fs.open(keyPath)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    } else None

  private def recordKey(idCol: String): Unit = key match {
    case Some(k) => require(k == idCol,
      s"collection $name is keyed by '$k' but this call used '$idCol' - one key per collection")
    case None =>
      val out = fs.create(keyPath, true)
      try out.write(idCol.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
  }

  private def requireKey(op: String): String = key.getOrElse(
    throw new IllegalArgumentException(
      s"$op on $name needs the collection key - upsert() at least once first"))

  /** Whether merge-on-read sidecars are present (mutated since last compact). */
  def mutated: Boolean = fs.exists(tombPath) || fs.exists(patchPath)

  /** The `data/` schema, inferred from the parquet footers once per build
    * of the collection (cached against `_meta.json`, which [[create]]
    * writes); every read of `data/` and of the sidecars is pinned to it,
    * so no read runs a schema-inference job. The first upsert fixes it. */
  private val schemas = new PerBuild[StructType](_ =>
    spark.read.parquet(dataPath.toString).schema)

  private def dataSchema(): StructType = schemas(readMetaJson())

  private def read(p: Path, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(p.toString)

  /** Sidecar schemas, derived from the base schema: tombstones carry the
    * key and `__seq`, patches a full row and `__seq`. */
  private def tombSchema(base: StructType, k: String): StructType =
    StructType(Seq(base(k), SeqField))
  private def patchSchema(base: StructType): StructType = base.add(SeqField)
  private val SeqField = StructField("__seq", LongType)

  /** Highest sidecar sequence + 1 (base rows are sequence 0). Sidecars are
    * mutation-sized, so this scan is metadata-cheap; single-writer makes
    * the read-allocate-write race-free by contract. */
  private def nextSeq(): Long =
    Seq(tombPath, patchPath).filter(fs.exists)
      .map(read(_, StructType(Seq(SeqField))))
      .reduceOption(_ union _)
      .flatMap(seqs => Option(seqs.agg(max(col("__seq"))).head().get(0)))
      .fold(0L)(_.asInstanceOf[Long]) + 1L

  /** Append rows whose `idCol` is not already LIVE (idempotent by key).
    * Never-seen ids append straight to `data/`; ids that exist in `data/`
    * but were deleted land as patches that out-sequence their tombstones
    * (revival with the new values). Appending zero rows is a valid no-op. */
  def upsert(df: DataFrame, idCol: String): Unit = {
    recordKey(idCol)
    require(!df.columns.contains("__seq") && !df.columns.contains("__del"),
      "__seq/__del are reserved merge-on-read column names")
    if (!fs.exists(dataPath)) {
      appendData(df)
      return
    }
    // id-membership probes via the reversed broadcast shape
    // ([[graft.plans.Joins]]): the stored id column outgrows the
    // broadcast threshold with the collection, and the streaming ingest
    // sink upserts once per micro-batch — each probe must stay one
    // streaming pass over it, never a per-batch shuffle+sort of it.
    val rawIds = read(dataPath, dataSchema()).select(col(idCol))
    // brand-new keys: never present in data/ -> base rows (sequence 0)
    appendData(graft.plans.Joins.antiSmallLeft(df, rawIds, idCol))
    if (!mutated) return
    // revived keys: present in data/ but not live -> patch rows that
    // out-sequence the tombstone. (The plan lists data/ lazily, but the
    // append above only ADDED ids that are live-by-construction, so the
    // result is the same whichever listing this job snapshots.)
    val revived = graft.plans.Joins.antiSmallLeft(
      graft.plans.Joins.semiSmallLeft(df.dropDuplicates(idCol), rawIds, idCol),
      load().select(col(idCol)), idCol)
    if (!revived.isEmpty) appendPatches(revived)
  }

  /** The live view: base rows overlaid with patches minus tombstones,
    * last writer (highest `__seq`) per key winning. Unmutated collections
    * return the plain schema-pinned scan of `data/`. */
  def load(): DataFrame = {
    val schema = dataSchema()
    val base = read(dataPath, schema)
    if (!mutated) return base
    val k = requireKey("load of a mutated collection")
    val baseCols = base.columns.toSeq
    def sidecar(p: Path, s: StructType) =
      if (fs.exists(p)) read(p, s)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), s)
    val tomb = sidecar(tombPath, tombSchema(schema, k))
    val patch = sidecar(patchPath, patchSchema(schema))
    // Only sidecar-touched keys pay resolution; the clean remainder is
    // split off by a BROADCAST anti-join (sidecars are mutation-sized)
    // and never shuffles.
    val dirtyKeys = tomb.select(col(k)).union(patch.select(col(k))).distinct()
    val clean = base.join(broadcast(dirtyKeys), Seq(k), "left_anti")
    val dirtyBase = base.join(broadcast(dirtyKeys), Seq(k), "left_semi")
      .withColumn("__seq", lit(0L)).withColumn("__del", lit(false))
    val contenders = dirtyBase
      .unionByName(patch.withColumn("__del", lit(false)))
      .unionByName(tomb.withColumn("__del", lit(true)),
        allowMissingColumns = true) // tombstones carry key+seq only
    val w = Window.partitionBy(col(k)).orderBy(col("__seq").desc)
    val survivors = contenders
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__del"))
      .select(baseCols.map(col): _*)
    clean.unionByName(survivors)
  }

  /** Patch rows land with exactly the base schema (+ `__seq`), checked
    * like every append ([[conformToSchema]]). */
  private def appendPatches(rows: DataFrame): Unit =
    conformToSchema(rows, dataSchema(), "patch")
      .withColumn("__seq", lit(nextSeq()))
      .write.mode(SaveMode.Append).parquet(patchPath.toString)

  /** Delete points matching `predicate` (the backend's delete-by-filter
    * API; pass `col(id).isin(...)` for delete-by-ids). Appends tombstones
    * for the matching LIVE keys — O(matched) written bytes; the one read
    * is a predicate-pushed scan of the live view, never a rewrite. Rows
    * where the predicate is null survive (standard SQL delete semantics).
    * Run [[compact]] to fold accumulated tombstones into the base. */
  def delete(predicate: Column): Unit = {
    if (!fs.exists(dataPath)) return
    val k = requireKey("delete")
    val victims = load().filter(coalesce(predicate, lit(false))).select(col(k))
    if (!victims.isEmpty)
      victims.withColumn("__seq", lit(nextSeq()))
        .write.mode(SaveMode.Append).parquet(tombPath.toString)
  }

  /** Update payload columns for points matching `predicate` (the backend's
    * `set_payload` API): appends patched copies of the matching live rows —
    * O(matched) written bytes, last writer wins at read. Assignments must
    * target EXISTING columns with their existing types (adding columns
    * would fork the schema for old rows). */
  def setPayload(predicate: Column,
      assignments: Map[String, Column]): Unit = {
    if (!fs.exists(dataPath)) return
    requireKey("setPayload")
    val existing = dataSchema().fieldNames.toSet
    val unknown = assignments.keySet -- existing
    require(unknown.isEmpty, s"setPayload targets unknown columns: $unknown")
    val matched = load().filter(coalesce(predicate, lit(false)))
    val patched = assignments.foldLeft(matched) { case (acc, (c, value)) =>
      acc.withColumn(c, value)
    }
    if (!patched.isEmpty) appendPatches(patched)
  }

  /** Exact point count, optionally filtered (the backend's `count` API) —
    * on an unmutated collection the predicate pushes into the scan; on a
    * mutated one it applies to the live merge-on-read view. */
  def count(filter: Option[Column] = None): Long =
    filter.fold(load())(load().filter).count()

  /** Fold the merge-on-read sidecars into `data/`: materialize the live
    * view into a shadow directory, swap it in (two renames), drop the old
    * data and the sidecars. This is the only full-rewrite job left — an
    * explicitly scheduled maintenance pass, not a per-mutation cost.
    * Idempotent across crashes: a crash after the swap leaves sidecars
    * whose re-application onto the already-merged base is a no-op
    * (tombstoned keys are gone, patch values equal the merged rows), and
    * re-running compact finishes the cleanup. Single-writer contract;
    * rename-atomicity caveat and scheduling guidance in MAINTENANCE.md. */
  def compact(): Unit = {
    if (!fs.exists(dataPath) || !mutated) return
    val shadow = new Path(base, "data_shadow")
    fs.delete(shadow, true) // leftover from a crashed earlier compact
    val w = load().write.mode(SaveMode.Overwrite)
    partitionField.fold(w)(f => w.partitionBy(f)).parquet(shadow.toString)
    val old = new Path(base, "data_old")
    fs.delete(old, true)
    require(fs.rename(dataPath, old), s"could not stage old data dir of $name")
    require(fs.rename(shadow, dataPath), s"could not swap new data dir of $name")
    fs.delete(old, true)
    fs.delete(tombPath, true)
    fs.delete(patchPath, true)
    ()
  }

  /** File-LAYOUT maintenance ([[Compaction.compactDir]] over `data/` and
    * both mutation sidecars): every [[upsert]] appends a file to `data/`
    * (one per micro-batch under streaming ingest) and every
    * [[delete]]/[[setPayload]] appends one to its sidecar, so file counts
    * otherwise grow with batches/mutations ever applied — the same
    * small-file explosion the streaming admission sinks compact away.
    * Row-identical rewrites (the `__seq` overlay algebra is untouched, so
    * the live view is byte-identical); a payload-partitioned `data/`
    * keeps its hive layout. This is NOT [[compact]]: that FOLDS the
    * sidecars into the base (a full merge); this only fixes layout and is
    * safe to run far more often. Single-writer contract; see
    * MAINTENANCE.md for the rename-atomicity caveat.
    *
    * @return (before, after) file counts per dir that was touched */
  def compactFiles(targetFileBytes: Long = 128L << 20,
      minFiles: Int = 8): Map[String, (Int, Int)] =
    Seq(
      "data" -> (dataPath, partitionField.toSeq),
      "tombstones" -> (tombPath, Nil),
      "patches" -> (patchPath, Nil)
    ).map { case (label, (p, parts)) =>
      label -> Compaction.compactDir(spark, p.toString, targetFileBytes,
        minFiles, partitionBy = parts)
    }.toMap

  /** Keyset-paginated point listing (the backend's `scroll` API): the
    * first `limit` rows with `idCol` strictly greater than `after`,
    * optionally `filter`-restricted, ordered by id — the page's last id is
    * the next page's `after`. Keyset instead of OFFSET by design: OFFSET m
    * re-scans and discards m rows per page (a full scroll goes quadratic
    * at collection scale), while the id predicate and the filter both push
    * into the parquet scan and each page plans as one TakeOrdered over the
    * qualifying remainder — per-page cost is O(qualifying rows) with
    * row-group skipping, independent of scroll position. On a mutated
    * collection the predicates still push into the clean-majority branch
    * of the live view; only the sidecar-touched keys take the resolution
    * path. */
  def scroll(idCol: String, limit: Int, after: Option[Any] = None,
      filter: Option[Column] = None): DataFrame = {
    val base = load()
    val fromKey = after.fold(base)(a => base.filter(col(idCol) > lit(a)))
    filter.fold(fromKey)(fromKey.filter)
      .orderBy(col(idCol))
      .limit(limit)
  }

  /** Scroll ordered by a PAYLOAD field (the backend's scroll `order_by`):
    * keyset pagination over the composite (orderCol, idCol) — `after` is
    * the last row of the previous page as (order-value, id), and the next
    * page is `(o > v) OR (o = v AND id > lastId)`, so pages are stable
    * under concurrent appends and cost O(page) with pushdown, exactly
    * like [[scroll]]; an OFFSET would re-scan every earlier page. Rows
    * with a NULL order value are excluded (their keyset position is
    * undefined — the backend likewise skips unset order_by fields). */
  def scrollBy(orderCol: String, idCol: String, limit: Int,
      after: Option[(Any, Any)] = None,
      filter: Option[Column] = None): DataFrame = {
    val base = load().filter(col(orderCol).isNotNull)
    val fromKey = after.fold(base) { case (v, lastId) =>
      base.filter(col(orderCol) > lit(v) ||
        (col(orderCol) === lit(v) && col(idCol) > lit(lastId)))
    }
    filter.fold(fromKey)(fromKey.filter)
      .orderBy(col(orderCol), col(idCol))
      .limit(limit)
  }

  /** Facet counts (the backend's `facet` API): distinct values of a
    * payload field with their point counts, optionally under a filter,
    * most-frequent first (ties by ascending value for determinism). One
    * partial+final aggregate over the pruned column scan — the filter and
    * the single-column projection both reach the parquet scan, so at
    * 100 TB this reads one column of the qualifying row groups, nothing
    * else. Output: `value`, `count`, capped at `limit` values. */
  def facet(field: String, filter: Option[Column] = None,
      limit: Int = 10): DataFrame = {
    val base = load()
    filter.fold(base)(base.filter)
      .groupBy(col(field).as("value"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("value").asc)
      .limit(limit)
  }
}

object VectorCollection {
  def apply(spark: SparkSession, root: String, name: String): VectorCollection =
    new VectorCollection(spark, root, name)

  /** Open a collection by name OR alias ([[Aliases.resolve]]): the read
    * path of the alias indirection — readers keep using the stable alias
    * while reindexing repoints it underneath them. */
  def open(spark: SparkSession, root: String, nameOrAlias: String): VectorCollection =
    new VectorCollection(spark, root, Aliases.resolve(spark, root, nameOrAlias))

  /** Create (or open) a collection for `(dataset, model)` with the dim
    * DERIVED from the model registry — the reference's `setup_qdrant`
    * shape (`main.py:59-65` + `draft.py:1-2`: name from
    * dataset/model/normalized, size from the encoder), so callers never
    * hand-pass a dim that can drift from the embedder actually used.
    * Idempotent: an existing collection is returned as-is after a
    * dim check (a registry/meta mismatch is a corrupt pairing — fail). */
  def createFor(spark: SparkSession, root: String, dataset: String,
      model: String, normalized: Boolean,
      metric: String = "cosine"): VectorCollection = {
    val spec = graft.embed.EmbedderRegistry(model)
    val c = new VectorCollection(spark, root,
      CollectionNaming.collectionName(dataset, model, normalized))
    if (!c.exists) c.create(CollectionMeta(spec.dim, metric, normalized))
    else require(c.meta.dim == spec.dim,
      s"collection ${c.name} has dim ${c.meta.dim} but model $model embeds " +
        s"at ${spec.dim} — refusing to mix")
    c
  }
}
