package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); NaN when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      (math.floor(100.0 * (s.size - 10) / s.size), s(s.size - 11))
    }
}

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Times the ops of an iteration: an op's latency is the sum of its call
  * spans, so the output checks between calls are not timed. */
final class Timed(inner: Calls) extends Calls {
  /** Latency samples in seconds by op kind, in op order. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  private var opNs = 0L
  def op[T](part: String)(body: => T): T = {
    opNs = 0L
    try inner.op(part)(body)
    finally samples.getOrElseUpdate(part, ArrayBuffer()) += opNs / 1e9
  }
  def call[T](name: String, layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try inner.call(name, layer)(body) finally opNs += System.nanoTime() - t0
  }
  def rows(n: Long): Unit = inner.rows(n)
  def fail(): Unit = inner.fail()
  def seconds: Double = samples.values.flatten.sum
}

/** Benchmark JVM: `--workload W --seed N --seconds S --trace 0|1
  * --work-dir D --artifact A --result R`. Writes the result line to R and
  * the full record (environment, samples, spans) to A. */
object Main {
  private val layerMetrics: Seq[(String, String)] = Seq(
    "calls" -> "count", "wall_s" -> "s", "failed" -> "count", "rows_out" -> "count",
    "self_s" -> "s", "plan_ms" -> "ms", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "cpu_s" -> "s", "gc_s" -> "s", "shuffle_read_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "parallelism" -> "ratio",
    "eager_jobs" -> "count")

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU seconds the JVM has used. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Seconds the JIT compiler threads have spent compiling. */
  def jitS(): Double = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Seconds the garbage collectors have run. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** Seconds of CPU time the host withheld from this machine's CPUs (steal
    * in /proc/stat, in units of 1/100 s), summed over CPUs; NaN off Linux. */
  def stealS(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (cpu(0) == "cpu" && cpu.length > 8) cpu(8).toDouble / 100 else Double.NaN
    } catch { case _: Exception => Double.NaN }

  private def session(workDir: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val workDir = Paths.get(opts("work-dir")).toAbsolutePath
    // call sites carry the whole graft stack, so jobs can be charged to layers
    System.setProperty("spark.callstack.depth", "200")
    val startNs = System.nanoTime() - 1000000L * sys.env.get("PERFBENCH_START_MS")
      .map(ms => math.max(0L, System.currentTimeMillis() - ms.toLong))
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime)
    val loadStart = loadAvg()

    // set-up, once, timed from process start to the first timed op: JVM
    // start, the session, the inputs, the workload's state, and untimed,
    // checked warmup ops that compile the plans and let the JIT settle; a
    // warmup failure ends the run instead of being swallowed
    val spark = session(workDir)
    val sessionS = (System.nanoTime() - startNs) / 1e9
    val wl = Workload(workload, seed)
    val t0 = System.nanoTime()
    wl.setup(spark, workDir.resolve("setup"))
    val stateS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val warm = wl.warmup(Untraced)
    if (warm.failed > 0)
      throw new IllegalStateException(s"warmup: ${warm.failed} of ${warm.attempted} ops failed")
    val warmupS = (System.nanoTime() - t1) / 1e9
    val setupS = (System.nanoTime() - startNs) / 1e9

    // measurement: closed loop, at least the workload's minimum number of
    // iterations, then while the next one, as long as the last, still ends
    // within the time; a traced run traces every other iteration, so the
    // untraced ones around a traced one give the tracing overhead
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    val iterS = ArrayBuffer[Double]()
    val iterLog = ArrayBuffer[Map[String, Any]]()
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    var lastNs = 0L
    var i = 0
    val minIterations = math.max(wl.minIterations, if (trace) 3 else 1)
    while (i < minIterations || System.nanoTime() + lastNs <= deadline) {
      val iterT0 = System.nanoTime()
      val traced = tracer.isDefined && i % 2 == 1
      val calls = new Timed(if (traced) tracer.get else Untraced)
      if (traced) tracer.get.attach()
      val loadBefore = loadAvg()
      val (cpu0, steal0, jit0, gc0) = (processCpuS(), stealS(), jitS(), gcS())
      val r = try wl.iteration(calls) catch {
        case e: Exception => Workload.log(s"iteration $i failed: $e"); Iter(1, 1)
      }
      if (traced) tracer.get.detach()
      attempted += r.attempted
      failed += r.failed
      iterS += (if (r.failed == 0) calls.seconds else Double.NaN)
      if (!traced) calls.samples.foreach { case (k, xs) => samples.getOrElseUpdate(k, ArrayBuffer()) ++= xs }
      iterLog += Map("i" -> i, "traced" -> traced, "s" -> calls.seconds, "attempted" -> r.attempted,
        "failed" -> r.failed, "load_1m_before" -> loadBefore, "load_1m_after" -> loadAvg(),
        "wall_s" -> (System.nanoTime() - iterT0) / 1e9, "cpu_s" -> (processCpuS() - cpu0),
        "steal_s" -> (stealS() - steal0), "jit_s" -> (jitS() - jit0), "gc_s" -> (gcS() - gc0))
      lastNs = System.nanoTime() - iterT0
      i += 1
    }
    val sampled = samples.map { case (k, xs) => k -> xs.toSeq }.toMap
    val perIterS = wl.weights.map { case (k, w) => w * Stats.median(sampled.getOrElse(k, Nil)) }.sum
    // each traced iteration against the mean of the untraced ones on either side
    val overheadS = Stats.median((1 until i - 1 by 2).map(t => iterS(t) - (iterS(t - 1) + iterS(t + 1)) / 2)
      .filterNot(_.isNaN))

    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("success_rate", 1.0 - failed.toDouble / attempted, "ratio"),
      ("iter_s", perIterS, "s"),
      ("quality", wl.quality, "ratio"))
    val summary = tracer.map(Tracer.summarize)
    val perLayer: Seq[(String, Double, String)] = summary.toSeq.flatMap { s =>
      val n = math.max(1, i / 2).toDouble // traced iterations
      val cores = Runtime.getRuntime.availableProcessors()
      val extras = wl.layerExtras
      Layers.all.flatMap { l =>
        val t = s.layers(l)
        val wallS = t.wallUs / 1e6
        val values = Map(
          "calls" -> t.calls / n, "wall_s" -> wallS / n, "failed" -> t.failed / n,
          "rows_out" -> t.rows / n, "self_s" -> t.selfUs / 1e6 / n, "plan_ms" -> t.planMs / n,
          "jobs" -> t.jobs / n, "stages" -> t.stages / n, "tasks" -> t.tasks / n,
          "cpu_s" -> t.cpuNs / 1e9 / n, "gc_s" -> t.gcMs / 1e3 / n,
          "shuffle_read_mb" -> t.shuffleRead / 1e6 / n, "shuffle_write_mb" -> t.shuffleWrite / 1e6 / n,
          "spill_mb" -> t.spill / 1e6 / n,
          "parallelism" -> (if (wallS > 0) t.cpuNs / 1e9 / (wallS * cores) else 0.0),
          "eager_jobs" -> t.eagerJobs / n)
        layerMetrics.map { case (m, unit) => (s"$l.$m", values(m), unit) }
      } ++ Seq(
        ("search.scored_per_returned", {
          val t = s.layers("search"); if (t.rows > 0) t.scored.toDouble / t.rows else 0.0 }, "ratio"),
        ("index.files_written", s.layers("index").filesWritten / n, "count"),
        ("index.bytes_written", s.layers("index").bytesWritten / n, "bytes"),
        ("index.sidecar_files", extras.getOrElse("index.sidecar_files", 0.0), "count"),
        ("embed.rows_per_s", {
          val w = s.layers("embed").wallUs / 1e6
          if (w > 0) extras.getOrElse("embed.corpus_rows", 0.0) / w * n else 0.0 }, "1/s"),
        ("dedup.pairs_out", extras.getOrElse("dedup.pairs_out", 0.0), "count"),
        ("dedup.removed", extras.getOrElse("dedup.removed", 0.0), "count"),
        ("trace.overhead_s", overheadS, "s"),
        ("trace.outside_ms", s.outsideUs / 1e3 / n, "ms"))
    }
    val reported = if (trace) perLayer else endToEnd
    val result = Json(Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(reported.map { case (k, v, u) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*)))

    val sc = spark.sparkContext
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "spark_version" -> spark.version,
      "spark_conf" -> sc.getConf.getAll.toSeq.sorted.toMap,
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", ""),
      "source_sha256" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA256", ""),
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.vm.version")}",
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "load_1m_start" -> loadStart, "load_1m_end" -> loadAvg())
    val artifact = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> env, "setup" -> Map("session_s" -> sessionS, "state_s" -> stateS,
        "warmup_s" -> warmupS, "total_s" -> setupS),
      "iterations" -> iterLog, "samples_s" -> sampled,
      "end_to_end" -> endToEnd.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "workload_details" -> wl.details(sampled),
      "spans" -> tracer.map(spans),
      "unattributed_jobs" -> summary.map(_.unattributedJobs))
    Files.write(Paths.get(opts("artifact")), Json(artifact).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    Files.write(Paths.get(opts("result")), result.getBytes(StandardCharsets.UTF_8))
  }

  private def spans(t: Tracer): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    Map(
      "spans" -> t.spans.map(s => Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_us" -> s.startUs, "end_us" -> s.endUs, "failed" -> s.failed,
        "rows" -> s.rows)),
      "jobs" -> t.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map("id" -> j.id,
        "span" -> j.spanProp, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "layer" -> j.siteLayer, "eager" -> j.eager, "site" -> j.site,
        "execution_id" -> j.executionId, "stages" -> j.stages, "tasks" -> j.tasks,
        "cpu_ms" -> j.cpuNs / 1e6, "gc_ms" -> j.gcMs)),
      "queries" -> t.queries.asScala.toSeq.map(q => Map("id" -> q.id, "plan_ms" -> q.planMs,
        "plan_end_ms" -> q.planEndMs, "scored" -> q.scored, "files_written" -> q.filesWritten,
        "bytes_written" -> q.bytesWritten)))
  }
}
