package graft.index

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Shared filesystem plumbing for persisted artifacts (vector collections,
 * signature indexes): `<root>/<name>` layout, Hadoop `FileSystem`
 * resolution from the session conf (same code on local disk, HDFS, S3A),
 * and the `_meta.json` lifecycle.
 *
 * Build protocol: implementations call [[invalidateMeta]] BEFORE
 * overwriting data files and [[writeMetaJson]] AFTER — so `exists` is
 * false for the whole rebuild window and a crash mid-build can't leave an
 * artifact that looks readable but pairs old metadata with new data.
 * Because the marker is written last, its text also names the build: a
 * handle caches facts fixed by a build ([[PerBuild]]) against it.
 */
private[index] trait FsArtifact {
  protected def spark: SparkSession
  protected def root: String
  def name: String

  protected final lazy val base = new Path(s"$root/$name")
  private lazy val metaPath = new Path(base, "_meta.json")

  protected final def fs: FileSystem =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  final def exists: Boolean = fs.exists(metaPath)

  /** Drop the meta marker before touching data files (rebuild window). */
  protected final def invalidateMeta(): Unit = {
    fs.delete(metaPath, false)
    ()
  }

  protected final def writeMetaJson(json: String): Unit = {
    fs.mkdirs(base)
    val out = fs.create(metaPath, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  protected final def readMetaJson(): String = {
    val in = fs.open(metaPath)
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** [[readMetaJson]], or None when the artifact does not exist — the
    * existence check and the read in one filesystem round trip. */
  protected final def metaJsonOpt(): Option[String] =
    try Some(readMetaJson())
    catch { case _: java.io.FileNotFoundException => None }

  /** The `"build"` meta field: a fresh id on every write of the marker, so
    * two builds of one artifact (a rebuild, or a drop-and-recreate under
    * the same name) never share meta text — the key [[PerBuild]] caches
    * are checked against. */
  protected final def buildStampJson: String =
    s""","build":"${java.util.UUID.randomUUID()}""""

  /** A fact fixed by one build of the artifact (a schema, centroids,
    * codebooks), computed at most once per build per handle. The value is
    * cached against the `_meta.json` text it was computed under, and every
    * read passes the current text: a rebuild or drop-and-recreate through
    * any handle rewrites the marker, which recomputes the value. A
    * computation that throws caches nothing. */
  protected final class PerBuild[A](compute: String => A) {
    private var cached: Option[(String, A)] = None

    def apply(metaJson: String): A = synchronized {
      cached.collect { case (json, a) if json == metaJson => a }.getOrElse {
        val a = compute(metaJson)
        cached = Some(metaJson -> a)
        a
      }
    }
  }

  /** One schema per artifact directory: an append must carry exactly the
    * stored column names, each with the stored type (compared by
    * `catalogString`, so nullability-insensitive: a local batch often
    * carries containsNull=false where parquet reads back true). A batch
    * that differed would write parquet files whose footers disagree with
    * the rest, and schema-pinned reads would silently drop or null its
    * columns. Partition columns are checked by name only: their values
    * live in directory names, not in the footers. Returns `rows` in the
    * stored column order. */
  protected final def conformToSchema(rows: DataFrame, stored: StructType,
      what: String, partitionCols: Seq[String] = Nil): DataFrame = {
    require(rows.columns.sorted.toSeq == stored.fieldNames.sorted.toSeq,
      s"$name: $what columns ${rows.columns.sorted.mkString(",")} != stored " +
        s"columns ${stored.fieldNames.sorted.mkString(",")}")
    stored.fields.filterNot(f => partitionCols.contains(f.name)).foreach { f =>
      val got = rows.schema(f.name).dataType.catalogString
      require(got == f.dataType.catalogString,
        s"$name: $what column ${f.name} has type $got but the stored " +
          s"type is ${f.dataType.catalogString}")
    }
    rows.select(stored.fieldNames.toSeq.map(org.apache.spark.sql.functions.col): _*)
  }

  /** Field extractor for the flat one-object meta JSON artifacts write
    * (a real tokenizer, [[FlatJson]] — quoted commas/braces in values
    * parse correctly). */
  protected final def metaField(json: String, k: String): String =
    FlatJson.parse(json).getOrElse(k,
      throw new IllegalArgumentException(s"$name: meta has no field '$k': $json"))

  /** Like [[metaField]] but None when the field is absent — for fields
    * added after artifacts of this kind already existed on disk. */
  protected final def metaFieldOpt(json: String, k: String): Option[String] =
    FlatJson.parse(json).get(k)

  /** The `"fold"` meta stamp for TEXT-KEY artifacts (signatures, grams,
    * postings all derive from the canonical fold): the JSON fragment to
    * append at write, the loud check at read, and the silent-currency
    * probe the engine's own tmpdir caches use to rebuild instead of
    * refuse. An ABSENT stamp means a pre-versioning artifact built under
    * Spark's full-mapping lower() — incompatible by construction. */
  protected final def foldStampJson: String =
    s""","fold":"${graft.expr.SimpleCaseFold.Version}""""

  protected final def requireFoldCurrent(json: String): Unit = {
    val got = metaFieldOpt(json, "fold")
    require(got.contains(graft.expr.SimpleCaseFold.Version),
      s"$name: artifact was built under canonical fold " +
        s"${got.getOrElse("<pre-versioning full-mapping lower()>")} but this " +
        s"engine folds with ${graft.expr.SimpleCaseFold.Version} — its text " +
        "keys would silently disagree on İ/Σ-class characters; rebuild the " +
        "artifact (rebuildIfStale(...) does this in place)")
  }

  /** Migration path for USER-OWNED artifacts hitting the
    * [[requireFoldCurrent]] refusal (the engine's own tmpdir caches
    * auto-rebuild via [[foldCurrent]]; user artifacts should opt in
    * explicitly): when the artifact is absent or carries a stale fold
    * stamp, run `build` — the caller's own `build(...)` invocation, which
    * the FsArtifact build protocol (invalidate → write data → stamp meta)
    * makes crash-safe — and return true. A current artifact is left
    * untouched (false). The closure must rebuild THIS artifact; a closure
    * that doesn't restamp it is a caller bug and fails loudly rather than
    * leaving the stale artifact to refuse again later. Only meaningful for
    * FOLD-STAMPED artifacts (MinHashIndex, SpanIndex, Bm25Index) — an
    * un-stamped artifact kind (vector collections) reads as never-current
    * and would rebuild every call. */
  final def rebuildIfStale(build: => Unit): Boolean =
    if (foldCurrent) false
    else {
      build
      require(foldCurrent,
        s"$name: the rebuildIfStale closure ran but the artifact still is " +
          "not current — it must invoke this artifact's own build(...)")
      true
    }

  /** True iff the artifact exists AND was built under the current fold —
    * the rebuild predicate for engine-owned caches. */
  final def foldCurrent: Boolean =
    exists && metaFieldOpt(readMetaJson(), "fold")
      .contains(graft.expr.SimpleCaseFold.Version)

  def drop(): Unit = {
    fs.delete(base, true)
    ()
  }
}
