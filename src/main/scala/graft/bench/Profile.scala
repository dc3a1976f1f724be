package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query execution-shape profiler for optimization forensics: runs
  * named SparkEntry queries through the same noop sink as the bench and
  * prints, per query, wall seconds next to the cluster-side truth — job /
  * stage / task counts, summed executor run and CPU time, shuffle bytes
  * written and JVM GC time. The point is attribution: `wall >> exec_run/
  * cores` means driver latency (planning, AQE re-optimizations, job
  * submission), not task compute; high `shuffle_mb` with low cpu means the
  * plan moves bytes it doesn't chew.
  *
  * Usage: runMain graft.bench.Profile <query>[,query2,...] <dir> [passes=2]
  */
object Profile {
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var name = ""
  }
  final class Acc extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val byStage = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val agg = byStage.computeIfAbsent(s.stageInfo.stageId, _ => new StageAgg)
      // the stage NAME is usually an AQE materialization future — the
      // graft frame inside `details` (the submission stack) names the
      // operator that actually built the RDD
      val graftFrames = s.stageInfo.details.linesIterator
        .filter(l => l.contains("graft.") && !l.contains("graft.bench"))
        .take(2).map(_.trim.stripPrefix("at ")).mkString(" <- ")
      agg.name = s.stageInfo.name +
        (if (graftFrames.nonEmpty) s"  [$graftFrames]" else "")
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        val agg = byStage.computeIfAbsent(t.stageId, _ => new StageAgg)
        agg.synchronized {
          agg.tasks += 1; agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
        }
      }
    }
    def drainStages(): Seq[(Int, StageAgg)] = {
      import scala.jdk.CollectionConverters._
      val out = byStage.asScala.toSeq.sortBy(_._1)
      byStage.clear()
      out
    }
    def snap(): Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "run_ms" -> runMs.get, "cpu_ms" -> cpuNs.get / 1000000L,
      "gc_ms" -> gcMs.get,
      "shuf_w_kb" -> shufWrite.get / 1024L, "shuf_r_kb" -> shufRead.get / 1024L)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <q1,q2,...> <dir> [passes]")
    val names = args(0).split(",").toSeq
    val dir = args(1)
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession("graft-profile")
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    def run(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    val stageDetail = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1")
    names.foreach { n => try run(n) catch { case e: Throwable =>
      println(s"WARMUP FAIL $n: $e") } } // warmup
    names.foreach { name =>
      (1 to passes).foreach { i =>
        val before = acc.snap()
        val t0 = System.nanoTime()
        run(name)
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; drain it deterministically before
        // snapshotting (ADVICE r21: a fixed sleep could misattribute task
        // metrics across passes on a slow bus — Bench already drains)
        org.apache.spark.sql.GraftInternal.drainListenerBus(spark)
        val after = acc.snap()
        val d = after.map { case (k, v) => k -> (v - before(k)) }
        println(f"$name%-24s pass$i wall=$wall%7.3f s  " +
          f"jobs=${d("jobs")}%3d stages=${d("stages")}%4d tasks=${d("tasks")}%5d " +
          f"run=${d("run_ms") / 1000.0}%7.2f s cpu=${d("cpu_ms") / 1000.0}%7.2f s " +
          f"gc=${d("gc_ms")}%4d ms shufW=${d("shuf_w_kb")}%6d kB shufR=${d("shuf_r_kb")}%6d kB")
        val stagesSnap = acc.drainStages()
        if (stageDetail && i == passes) {
          stagesSnap.sortBy(-_._2.runMs).take(12).foreach { case (id, a) =>
            println(f"    stage$id%5d run=${a.runMs / 1000.0}%7.2f s " +
              f"cpu=${a.cpuNs / 1e9}%7.2f s tasks=${a.tasks}%4d  ${a.name.take(110)}")
          }
        }
      }
    }
    spark.stop()
  }
}
