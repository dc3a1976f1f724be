package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs the headline queries at the driver's SF
  * and prints one JSON line. The two deliberately-quadratic oracle-only
  * queries (all-pairs Jaccard / all-pairs cosine — they exist to certify
  * the sub-quadratic LSH paths at correctness scale) are excluded here:
  * their production twins `dedup_minhash` / `simhash_pairs` / `ann_recall`
  * ARE benchmarked.
  *
  * Timing protocol: one untimed warmup pass (JIT + codegen caches dominate
  * cold numbers on a fresh JVM), then TWO timed passes reporting the
  * per-query MINIMUM; any query whose two passes disagree by more than 3x
  * gets a third adjudication pass. The bench host is shared — BENCH_r03 and
  * BENCH_r05 both recorded phantom 8-13x "regressions" that idle re-runs of
  * the same commit disproved — so the artifact must be self-adjudicating:
  * it records every per-query per-pass time (`passes`) and the 1-minute
  * system load average sampled before and after each pass
  * (`pass_load_avg_1m`), letting a reader distinguish sustained co-tenant
  * load (all passes slow, load high) from a genuine engine regression
  * (slow at low load, reproducible across passes) without re-running.
  */
object Bench {
  private val skipAtBenchScale = Set("dedup_jaccard_pairs", "near_dup_cosine")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Per-query executor CPU accounting (r21): wall-clock on a shared box
    // drifts with co-tenant load — four rounds of phantom "regressions"
    // were all load artifacts — so the artifact now also carries summed
    // executor-CPU seconds per query (`cpu_queries`), which is
    // load-invariant to first order. Additive key: the driver contract
    // (metric/value/queries/sf) is unchanged.
    val cpuAcc = new org.apache.spark.scheduler.SparkListener {
      val ns = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) ns.addAndGet(m.executorCpuTime)
      }
    }
    spark.sparkContext.addSparkListener(cpuAcc)
    def cpuSnap(): Long = {
      // the listener bus is async; drain it so task metrics from the just-
      // finished query are attributed to it, not the next one
      org.apache.spark.sql.GraftInternal.drainListenerBus(spark)
      cpuAcc.ns.get
    }
    val headline = SparkEntry.queries
      .filterNot { case (name, _) => skipAtBenchScale(name) }
    // Force FULL evaluation through the built-in `noop` sink. Timing
    // `.count()` lets Catalyst prune every column a count doesn't need —
    // a projection-only query (lang_id, bpe_tokens, doc_redact, …)
    // collapses to a parquet row-count scan and benches as a ~90 ms no-op
    // regardless of what its expressions cost (measured: bpe_tokens flat
    // at 0.1 s across a 30x corpus sweep because the encode was never
    // run). The noop write materializes every output row with every
    // column evaluated and discards it — the standard Spark benchmarking
    // sink — so map-side queries are finally measured. Aggregating /
    // joining queries were always fully measured (a count can't prune
    // through them); their timings just gain the small final-projection
    // cost this had been hiding.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // A query that throws must surface as an error, not a fast "timing":
    // round 10's fixture drift broke 12 queries and the bench recorded
    // their fail-fast exceptions as 48-66ms improvements. A warmup failure
    // counts too: it is printed and the query is reported in `errors`.
    val errors = scala.collection.mutable.TreeSet[String]()
    headline.foreach { case (name, fn) =>
      try run(fn(spark, sfDir)) catch {
        case e: Throwable =>
          System.err.println(s"bench: warmup of $name failed: $e")
          errors += name
      }
    }
    val cpuSec = scala.collection.mutable.Map[String, Double]()
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val c0 = cpuSnap()
      val t0 = System.nanoTime()
      try { run(fn(spark, sfDir)) } catch { case _: Throwable => errors += name }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuSnap() - c0) / 1e9
      // keep the MIN across passes, like the wall protocol
      cpuSec(name) = math.min(cpu, cpuSec.getOrElse(name, Double.MaxValue))
      wall
    }
    def timedPass(): Map[String, Double] =
      headline.map { case (name, fn) => name -> timeOne(name, fn) }
    val passLoads = scala.collection.mutable.ArrayBuffer[Double](loadAvg)
    val pass1 = timedPass(); passLoads += loadAvg
    val pass2 = timedPass(); passLoads += loadAvg
    // Adjudication pass: a >3x disagreement between the two passes means at
    // least one was load-polluted; a third sample makes min-of-N robust and
    // flags the query in the artifact for the reader.
    val disputed = headline.keys.filter { name =>
      val (a, b) = (pass1(name), pass2(name))
      math.max(a, b) > 3.0 * math.min(a, b)
    }.toSet
    val pass3: Map[String, Double] =
      if (disputed.nonEmpty) {
        val p = disputed.map(n => n -> timeOne(n, headline(n))).toMap
        passLoads += loadAvg
        p
      } else Map.empty
    val perQueryPasses = headline.keys.map { name =>
      name -> (Seq(pass1(name), pass2(name)) ++ pass3.get(name))
    }.toSeq
    // Errored queries are excluded from `queries` and the headline total
    // entirely — their samples are exception latencies, not runs, and a
    // consumer comparing totals without checking `errors` must never read
    // a broken query as a 50 ms improvement (the round-10 failure mode).
    // Their raw samples stay visible in `passes` for forensics.
    val results = perQueryPasses.collect {
      case (name, ps) if !errors.contains(name) => name -> ps.min
    }
    def jNum(d: Double): String = "%.4f".format(d)
    val qs = results.map { case (k, v) => s"\"$k\":${jNum(v)}" }
      .mkString("{", ",", "}")
    val cpuQs = results.map { case (k, _) =>
      s"\"$k\":${jNum(cpuSec.getOrElse(k, 0.0))}" }.mkString("{", ",", "}")
    val passesJson = perQueryPasses
      .map { case (k, ps) => s"\"$k\":" + ps.map(jNum).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Errored queries are also marked disputed: their "timings" are
    // exception latencies, not runs, and must never be read as timings.
    val disputedJson = (disputed ++ errors).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val errorsJson = errors.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadsJson = passLoads.map(jNum).mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Data-skipping evidence for the zorder_scan entry: files read vs
    // files total under its two-column predicate. The stats are set at
    // PLAN-BUILD time (readPruned runs during DataFrame construction), so
    // an execution-time failure would still leave them populated — gate on
    // the error set so a failed zorder_scan reports 0/0, never evidence
    // for a run that didn't happen.
    val (zTotal, zRead) =
      if (errors.contains("zorder_scan")) (0, 0)
      else SparkEntry.lastZorderScanStats
    val line = s"""{"metric":"total","value":${jNum(total)},"unit":"sec","queries":$qs,"cpu_queries":$cpuQs,"passes":$passesJson,"pass_load_avg_1m":$loadsJson,"disputed":$disputedJson,"errors":$errorsJson,"zorder_scan_files":{"total":$zTotal,"read":$zRead},"sf":"$sfDir","cores":${spark.sparkContext.defaultParallelism},"load_avg_1m":${jNum(loadAvg)}}"""
    println(line)
    // Durable copy: the driver snapshots only the tail of stdout (~2000
    // chars), which the full self-adjudicating line can overflow (BENCH_r06
    // lost its `total` + 10 queries that way). The tracked repo file is the
    // artifact of record; stdout stays the driver contract.
    // Best-effort: a failed write is reported, never fatal to the bench.
    // The default is relative to the working directory, the repo root
    // under `sbt run`.
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out/latest.json"))
    try {
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out,
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"bench: could not write $out: $e")
    }
    spark.stop()
  }
}
