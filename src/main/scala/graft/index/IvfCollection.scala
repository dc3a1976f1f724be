package graft.index

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.{int8_scale, quantize_int8}
import graft.search.Ivf

/**
 * IVF-partitioned vector collection: the assigned corpus is written
 * `partitionBy(ivf_cell)`, so a probe query reads ONLY the nProbe cell
 * directories — Spark's static partition pruning turns the IVF selectivity
 * (nProbe/nList) into a physical I/O reduction, which is the difference
 * between scanning 100 TB and scanning 100 TB × nProbe/nList.
 *
 * `int8 = true` additionally stores the vectors as int8 codes + per-vector
 * scales ([[graft.expr.Int8VectorOps]]) instead of float arrays — the
 * probe then reads a QUARTER of the vector bytes per probed cell and
 * scores in integer arithmetic ([[graft.functions.int8_cosine]]; the
 * symmetric per-vector scale cancels in cosine, so codes alone are the
 * search index). `pq = true` goes further: product quantization
 * ([[graft.expr.PqVectorOps]], Jégou 2011) stores ONE BYTE per subspace —
 * 32× compression at 64-dim/m=8 — scoring the float query asymmetrically
 * against the codebook reconstruction, so only the corpus side pays the
 * quantization loss. `binary = true` is the extreme end: packed sign
 * bits ([[graft.expr.BitVectorOps]]) — 32× with no codebooks, rescued by
 * query()'s full-precision `rescore` (over-fetch candidates, re-rank
 * exactly — only |Q|·k·oversample rows ever touch float vectors).
 * Composed, the levers multiply: nProbe/nList × the
 * codec's byte reduction through scan, cache, and scoring — IVF-int8,
 * IVF-PQ, and IVF-binary+rescore are the production artifact shapes for
 * 100 TB corpora (binary/PQ when memory/bandwidth dominates, int8 when
 * recall headroom is tight).
 * Centroid training and probe routing stay full-float (centroids are
 * nList rows — compressing them saves nothing and would perturb routing).
 *
 * Build once (train + assign + write), query many: the layout is the
 * persisted analogue of [[graft.search.Ivf.knnJoinIvf]]'s in-flight
 * assignment. The `_meta.json` completion marker is written LAST
 * ([[FsArtifact]] protocol), so `exists` is false for any crashed or
 * in-flight build.
 *
 * Schema contract: one `cells/` schema per build. [[upsert]] encodes with
 * the build's codec and checks every appended batch against the stored
 * schema (names and types; `ivf_cell` by name), so cell files never
 * disagree, and every read of `cells/` is pinned to that schema.
 *
 * What a handle caches: the routing state of the current build — the
 * layout flags, the centroids, the PQ codebooks and the `cells/` schema —
 * all fixed by [[build]]. A query reads `_meta.json` once and reuses the
 * state while the marker is unchanged; [[build]] writes a fresh build id
 * into it, so a rebuild through any handle is noticed at the next call.
 * File listings are not cached: rows an upsert appends through another
 * handle are visible at once.
 */
class IvfCollection(
    protected val spark: SparkSession,
    protected val root: String,
    val name: String) extends FsArtifact {
  private val dataPath = new org.apache.hadoop.fs.Path(base, "cells").toString
  private val centroidsPath = new org.apache.hadoop.fs.Path(base, "centroids").toString

  /** Train centroids, assign every row, write cell-partitioned parquet.
    * Rows are deduplicated by `idCol` (last-writer-indifferent) so a
    * rebuilt collection stays keyed like [[VectorCollection.upsert]]. */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String,
      nList: Int, seed: Long = 42L, int8: Boolean = false,
      pq: Boolean = false, pqM: Int = 8, pqCodebookSize: Int = 256,
      binary: Boolean = false): this.type = {
    require(Seq(int8, pq, binary).count(identity) <= 1,
      "pick ONE compression codec: int8, pq, or binary")
    invalidateMeta()
    val centroids = Ivf.trainCentroids(corpus, idCol, vecCol, nList, seed)
    val assigned = Ivf.assign(corpus.dropDuplicates(idCol), vecCol, centroids)
    val codebooks = if (!pq) None else {
      val cb = graft.search.Pq.trainCodebooks(corpus, idCol, vecCol, pqM,
        pqCodebookSize, seed)
      writeCodebooks(cb)
      Some(cb)
    }
    encode(assigned, vecCol, int8, codebooks, binary).write.mode(SaveMode.Overwrite)
      .partitionBy("ivf_cell")
      .parquet(dataPath)
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(centroidsPath)
    writeMetaJson(s"""{"int8":$int8,"pq":$pq,"pqM":$pqM,"binary":$binary,"nList":$nList,"seed":$seed,"routingVersion":${IvfCollection.RoutingVersion}$buildStampJson}""")
    this
  }

  /** The stored form of assigned rows: the float vector replaced by the
    * build's codec columns (none for a float layout). */
  private def encode(assigned: DataFrame, vecCol: String, int8: Boolean,
      codebooks: Option[Array[Array[Array[Float]]]], binary: Boolean): DataFrame =
    if (int8) assigned
      .withColumn(codeCol(vecCol), quantize_int8(col(vecCol)))
      .withColumn(scaleCol(vecCol), int8_scale(col(vecCol)))
      .drop(vecCol)
    else codebooks.map { cb =>
      assigned
        .withColumn(pqCol(vecCol), graft.functions.pq_encode(col(vecCol), cb))
        .drop(vecCol)
    }.getOrElse {
      if (binary) assigned
        .withColumn(bitsCol(vecCol), graft.functions.binary_quantize(col(vecCol)))
        .drop(vecCol)
      else assigned
    }

  /** The routing state of one build: the layout flags from `_meta.json`,
    * and the centroids, PQ codebooks and `cells/` schema (with its
    * `ivf_cell` partition column), each loaded on first use and kept for
    * as long as the marker [[build]] writes last is unchanged — a rebuild
    * through any handle writes a new one. */
  private final class Routing(json: String) {
    val int8: Boolean = metaField(json, "int8").toBoolean
    val pq: Boolean = metaFieldOpt(json, "pq").exists(_.toBoolean)
    val binary: Boolean = metaFieldOpt(json, "binary").exists(_.toBoolean)
    private val version =
      metaFieldOpt(json, "routingVersion").map(_.toInt).getOrElse(1)

    lazy val centroids: Array[Array[Float]] =
      spark.read.schema("cell int, centroid array<float>").parquet(centroidsPath)
        .collect().sortBy(_.getInt(0))
        .map(_.getSeq[Float](1).toArray)

    lazy val codebooks: Option[Array[Array[Array[Float]]]] =
      if (!pq) None
      else Some(spark.read
        .schema("subspace int, centroid_id int, centroid array<float>")
        .parquet(codebooksPath).collect()
        .sortBy(r => (r.getInt(0), r.getInt(1)))
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getSeq[Float](2).toArray))
        .toArray)

    lazy val cellsSchema: StructType = spark.read.parquet(dataPath).schema

    def cells: DataFrame = spark.read.schema(cellsSchema).parquet(dataPath)

    /** Stored cell assignments are only valid under the EXACT
      * centroid-routing arithmetic that produced them: query() trusts the
      * persisted ivf_cell (reuseCellCol) and upsert() appends under current
      * routing, so a collection built under older routing would silently
      * lose recall (its rows sit in cells the current router never probes
      * for them). The routing version is pinned in _meta.json at build;
      * any mismatch — including a pre-versioning artifact, recorded as
      * version 1 — refuses loudly with a rebuild instruction instead of
      * degrading quietly. */
    def checkVersion(): Unit =
      require(version == IvfCollection.RoutingVersion,
        s"collection $name was built under centroid-routing version $version but this " +
          s"engine routes with version ${IvfCollection.RoutingVersion}; stored " +
          "ivf_cell assignments would not match query-time probe routing " +
          "(silent recall loss) - rebuild the collection with build()")
  }

  private val routings = new PerBuild(new Routing(_))

  /** The current build's routing state: one read of `_meta.json`. */
  private def routing(): Routing = routings(metaJsonOpt().getOrElse(
    throw new IllegalArgumentException(s"collection $name does not exist - build() it first")))

  /** Whether the persisted layout stores int8 codes instead of floats. */
  def isInt8: Boolean = routing().int8

  /** Whether the persisted layout stores product-quantization codes
    * (m bytes per vector — 32× compression at 64-dim/m=8, vs int8's 4×). */
  def isPq: Boolean = routing().pq

  /** Whether the persisted layout stores packed sign bits (1 bit per
    * component — 32× compression with no codebooks; pair with query()'s
    * rescore to recover recall). */
  def isBinary: Boolean = routing().binary

  private def codeCol(vecCol: String) = s"${vecCol}_code"
  private def scaleCol(vecCol: String) = s"${vecCol}_scale"
  private def pqCol(vecCol: String) = s"${vecCol}_pq"
  private def bitsCol(vecCol: String) = s"${vecCol}_bits"

  private lazy val codebooksPath =
    new org.apache.hadoop.fs.Path(base, "pq_codebooks").toString

  private def writeCodebooks(cb: Array[Array[Array[Float]]]): Unit = {
    import spark.implicits._
    cb.zipWithIndex.toSeq.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toDF("subspace", "centroid_id", "centroid")
      .write.mode(SaveMode.Overwrite).parquet(codebooksPath)
  }

  /** The persisted PQ codebooks (m × k × d/m floats — a plan constant;
    * metadata-sized driver collect, same precedent as [[centroids]]),
    * loaded once per build. */
  def codebooks(): Array[Array[Array[Float]]] =
    routing().codebooks.getOrElse(
      throw new IllegalArgumentException(s"collection $name has no PQ codebooks"))
      .map(_.map(_.clone()))

  /** Incremental ingest: assign NEW rows (id anti-join — idempotent by
    * key, like [[VectorCollection.upsert]]) against the EXISTING
    * centroids and append them to their cell partitions. One kernel pass
    * over the batch, no re-train, no rewrite of resident cells — the
    * daily-batch workflow for a growing corpus. Centroids drift as the
    * distribution shifts; rebuild when probe recall decays (the standard
    * IVF operational contract). Single-writer, like every artifact here. */
  def upsert(batch: DataFrame, idCol: String, vecCol: String): Unit = {
    val r = routing()
    r.checkVersion()
    // reversed anti probe ([[graft.plans.Joins]]): one streaming pass
    // over the stored id column, never a per-batch shuffle of it
    val fresh = graft.plans.Joins.antiSmallLeft(batch.dropDuplicates(idCol),
      r.cells.select(col(idCol)), idCol)
    val assigned = Ivf.assign(fresh, vecCol, r.centroids)
    // encode against the PERSISTED codebooks — like the centroids, they
    // are frozen at build; re-training would orphan stored codes
    val stored = encode(assigned, vecCol, r.int8, r.codebooks, r.binary)
    conformToSchema(stored, r.cellsSchema, "upsert", Seq("ivf_cell"))
      .write.mode(SaveMode.Append)
      .partitionBy("ivf_cell")
      .parquet(dataPath)
  }

  /** The build's centroids, in cell order (loaded once per build). */
  def centroids(): Array[Array[Float]] = routing().centroids.map(_.clone())

  /** The full assigned corpus (all cells), read with the build's schema. */
  def load(): DataFrame = routing().cells

  /** Only the given cells — a plan whose parquet scan carries a partition
    * filter on ivf_cell (static pruning; verify with explain()). */
  def loadCells(cells: Seq[Int]): DataFrame =
    load().filter(col("ivf_cell").isin(cells: _*))

  /**
   * Top-k cosine probe against the persisted layout: compute each query's
   * nProbe cells, read only those partitions, score and rank. Same output
   * contract as [[graft.search.Ivf.knnJoinIvf]]. Queries always arrive as
   * float vectors; against an int8 layout they are quantized on the fly
   * (|Q| rows — negligible) and scored code-vs-code.
   *
   * `filter` is payload-filtered vector search (same contract as
   * [[graft.search.Knn.knnJoin]]'s `corpusFilter`): it restricts the
   * probed cells BEFORE scoring, and because it sits directly above the
   * parquet relation it composes with the cell pruning — the scan carries
   * BOTH the ivf_cell partition filter and the predicate as PushedFilters
   * (plan-asserted in IvfCollectionSpec). Rows failing the predicate are
   * row-group-skipped at the source, not scored and discarded.
   *
   * `rescore` refines a lossy codec's ranking at full precision (the
   * binary-quantization recall recovery, Qdrant's oversampling pattern):
   * the codec ranks k·`oversample` candidates per query, then ONLY those
   * candidate ids are joined back to the given full-precision frame
   * (`corpusId` + float `corpusVec` columns) and re-ranked by exact
   * cosine to the final k. The exact kernel runs on |Q|·k·oversample
   * rows, never the corpus; the candidate side is broadcast into the
   * full-precision scan, so at 100 TB the fetch reads the (id, vec)
   * columns of one keyed table — bucket that table by id and the fetch
   * prunes too. Codec-agnostic (useful for binary, pq, int8 alike).
   */
  def query(
      queries: DataFrame, queryId: String, queryVec: String,
      corpusId: String, corpusVec: String,
      k: Int, nProbe: Int,
      excludeSelf: Boolean = true,
      roundScoreTo: Option[Int] = None,
      filter: Option[Column] = None,
      rescore: Option[DataFrame] = None,
      oversample: Int = 4): DataFrame = {
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    val r = routing()
    rescore match {
      case Some(full) =>
        val approx = queryCodec(r, queries, queryId, queryVec, corpusId, corpusVec,
          k = k * oversample, nProbe, excludeSelf, roundScoreTo = None, filter)
        rescoreExact(approx, queries, queryId, queryVec, full, corpusId,
          corpusVec, k, roundScoreTo)
      case None =>
        queryCodec(r, queries, queryId, queryVec, corpusId, corpusVec,
          k, nProbe, excludeSelf, roundScoreTo, filter)
    }
  }

  private def queryCodec(
      r: Routing,
      queries: DataFrame, queryId: String, queryVec: String,
      corpusId: String, corpusVec: String,
      k: Int, nProbe: Int,
      excludeSelf: Boolean,
      roundScoreTo: Option[Int],
      filter: Option[Column]): DataFrame = {
    r.checkVersion()
    val cents = r.centroids
    // Driver-side probe-cell union: |Q| is small by the query contract, so
    // collecting the cell ids gives the scan a LITERAL partition filter
    // (static pruning) instead of a runtime join. The union is taken on the
    // driver, not by a distinct() shuffle, and a projection over a local
    // query frame folds into a local relation, so routing it runs no job.
    val probeCells = queries
      .select(graft.functions.nearest_centroids(col(queryVec), cents, nProbe))
      .collect()
      .flatMap(row => if (row.isNullAt(0)) Nil else row.getSeq[Int](0))
      .distinct.toSeq
    val cells = r.cells.filter(col("ivf_cell").isin(probeCells: _*))
    val corpus = filter.fold(cells)(cells.filter)
    // The persisted ivf_cell column was assigned from exactly these
    // centroids at build() time — safe to reuse, skipping the per-row
    // nearest-centroid recompute.
    if (r.int8) {
      // Routing stays on the float query vector; scoring runs on codes.
      val q = queries.withColumn("__qcode", quantize_int8(col(queryVec)))
      Ivf.knnJoinIvf(q, queryId, queryVec,
        corpus, corpusId, codeCol(corpusVec),
        k, cents, nProbe, excludeSelf, roundScoreTo, reuseCellCol = true,
        metric = "int8", queryScoreCol = Some("__qcode"))
    } else if (r.pq) {
      // Asymmetric scoring: the FLOAT query against the PQ reconstruction
      // — only the corpus side pays quantization loss; routing unchanged.
      val cb = r.codebooks.get
      Ivf.knnJoinIvf(queries, queryId, queryVec,
        corpus, corpusId, pqCol(corpusVec),
        k, cents, nProbe, excludeSelf, roundScoreTo, reuseCellCol = true,
        scorer = Some((q, c) => graft.functions.pq_cosine(q, c, cb)))
    } else if (r.binary) {
      // Asymmetric again: float query vs the ±1 sign reconstruction. All
      // sign vectors share norm sqrt(dim), so the ranking is the signed
      // component sum — 1 bit of corpus bandwidth per dimension.
      Ivf.knnJoinIvf(queries, queryId, queryVec,
        corpus, corpusId, bitsCol(corpusVec),
        k, cents, nProbe, excludeSelf, roundScoreTo, reuseCellCol = true,
        scorer = Some((q, c) => graft.functions.binary_cosine(q, c)))
    } else {
      Ivf.knnJoinIvf(queries, queryId, queryVec,
        corpus, corpusId, corpusVec,
        k, cents, nProbe, excludeSelf, roundScoreTo, reuseCellCol = true)
    }
  }

  /** Exact-cosine re-rank of codec candidates: join candidate ids to the
    * full-precision frame (candidates broadcast — the big scan is probed,
    * not shuffled), rescore against the query vectors (|Q|-sized
    * broadcast), and re-rank to the final k through the same bounded
    * heap. Output contract identical to [[Ivf.knnJoinIvf]]. */
  private def rescoreExact(
      approx: DataFrame, queries: DataFrame, queryId: String, queryVec: String,
      full: DataFrame, corpusId: String, corpusVec: String,
      k: Int, roundScoreTo: Option[Int]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val payloadCols = approx.columns.toSeq
      .filterNot(c => c == "query_id" || c == "score" || c == "rank")
    val cand = approx.select(col("query_id") +: payloadCols.map(col): _*)
    val qv = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val scored = full.select(col(corpusId), col(corpusVec).as("__fv"))
      .join(broadcast(cand), Seq(corpusId))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("score", {
        val raw = graft.functions.cosine_similarity(col("__qv"), col("__fv"))
        roundScoreTo.fold(raw)(n => round(raw, n))
      })
    val entry = struct((payloadCols :+ "score").map(col): _*)
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k_rows(entry, col("score"),
        col(corpusId).cast("long"), k).as("__tk"))
      .select(Seq(col("query_id"), posexplode(col("__tk")).as(Seq("__pos", "__entry"))): _*)
      .select(col("query_id") +:
        payloadCols.map(n => col(s"__entry.$n")) :+
        col("__entry.score").as("score") :+
        ((col("__pos") + 1).cast("int").as("rank")): _*)
  }
}

object IvfCollection {
  /** Current centroid-routing arithmetic version. v1: float32-normalized
    * centroid dot; v2 (round 7): raw-float dot / double centroid norm
    * ([[graft.expr.NearestCentroidOps.nearest]]). Bump whenever the
    * assignment arithmetic changes in any observable way. */
  val RoutingVersion = 2

  def apply(spark: SparkSession, root: String, name: String): IvfCollection =
    new IvfCollection(spark, root, name)
}
