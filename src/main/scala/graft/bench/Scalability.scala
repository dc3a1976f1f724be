package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{CollectionMeta, VectorCollection}
import graft.search.Knn

/**
 * Scalability harness — entry point C of the reference
 * (`/root/reference/main3.py:47-92`): for each corpus size, rebuild the
 * collection from a truncated corpus (T3 `limit`), measure ingest memory
 * delta, then average the latency of `numProbes` single-vector top-k
 * searches. Output schemas match the reference's CSVs:
 * `{size, memory_usage_mb}` and `{size, avg_query_time_seconds}`
 * (`main3.py:72,87`).
 *
 * The reference's RSS probe (psutil) maps to a JVM used-heap delta here —
 * same capability (ingest footprint trend), honest about the runtime it
 * measures.
 */
object Scalability {

  final case class SizePoint(
      size: Long, ingestSeconds: Double, memoryUsageMb: Double,
      avgQueryTimeSeconds: Double)

  private def usedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** One sweep. `corpus` must have (idCol: long, vecCol: array<float>). */
  def sweep(
      spark: SparkSession,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      collectionRoot: String,
      sizes: Seq[Int],
      numProbes: Int = 10,
      k: Int = 10): Seq[SizePoint] = {
    sizes.map { size =>
      val name = s"sweep_$size"
      val coll = VectorCollection(spark, collectionRoot, name)
      if (coll.exists) coll.drop()
      val subset = corpus.limit(size) // T3: head-n truncation, main3.py:52
      val dim = subset.select(org.apache.spark.sql.functions.size(col(vecCol)))
        .head().getInt(0)
      val memBefore = usedHeapMb()
      val t0 = System.nanoTime()
      coll.create(CollectionMeta(dim, "cosine", normalized = false))
      coll.upsert(subset, idCol)
      val ingestSec = (System.nanoTime() - t0) / 1e9
      val memAfter = usedHeapMb()
      val loaded = coll.load()
      // 10 timed single-query searches, averaged (main3.py:76-87). Probe
      // queries are the first rows of the subset — deterministic.
      val probes = subset.limit(numProbes).select(col(idCol), col(vecCol))
      val probeRows = probes.collect()
      val times = probeRows.map { r =>
        val one = spark.createDataFrame(
          java.util.List.of(r), probes.schema)
        val q0 = System.nanoTime()
        Knn.knnJoin(one, idCol, vecCol, loaded, idCol, vecCol, k = k).count()
        (System.nanoTime() - q0) / 1e9
      }
      val avgQuery = if (times.isEmpty) 0.0 else times.sum / times.length
      coll.drop()
      SizePoint(size.toLong, ingestSec,
        math.max(0.0, memAfter - memBefore), avgQuery)
    }
  }

  /** Persist the two reference-shaped CSVs (S7 + F12 naming); returns the
    * written paths. */
  def writeResults(
      spark: SparkSession, points: Seq[SizePoint], outDir: String,
      label: String): (String, String) = {
    import spark.implicits._
    // one shared timestamp so the pair stays pairable across a second
    // boundary (same rationale as Pipelines.writeOutputs)
    val now = java.time.LocalDateTime.now()
    val memPath = Sinks.timestampedPath(outDir, s"${label}_memory_usage", now)
    val timePath = Sinks.timestampedPath(outDir, s"${label}_query_time", now)
    Sinks.writeCsv(
      points.map(p => (p.size, p.memoryUsageMb)).toDF("size", "memory_usage_mb"),
      memPath)
    Sinks.writeCsv(
      points.map(p => (p.size, p.avgQueryTimeSeconds))
        .toDF("size", "avg_query_time_seconds"),
      timePath)
    (memPath, timePath)
  }
}

/** CLI: `runMain graft.bench.ScalabilityBench <sfDir> <outDir> [sizes]`. */
object ScalabilityBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("/tmp/graft_scalability")
    val sizes = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(100, 200, 500))
    val spark = graft.GraftSession("graft-scalability")
    val corpus = graft.Tables.embeddings(spark, sfDir)
    val points = Scalability.sweep(spark, corpus, "vec_id", "embedding",
      s"$outDir/collections", sizes)
    val (memPath, timePath) = Scalability.writeResults(spark, points, outDir, "scalability")
    points.foreach(p => println(
      f"[scalability] size=${p.size} ingest=${p.ingestSeconds}%.3fs mem=${p.memoryUsageMb}%.1fMB avg_query=${p.avgQueryTimeSeconds}%.4fs"))
    println(s"[scalability] wrote $memPath and $timePath")
    spark.stop()
  }
}
