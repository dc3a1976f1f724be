package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInternal}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import graft.index.{CollectionMeta, IvfCollection, VectorCollection}
import graft.search.Knn

/** Spark jobs per operation, pinned the way PlanSpec pins plan shapes: a
  * single-query search on a warm handle costs only its own SQL execution
  * (no schema inference, no centroid load, no probe-routing job), and a
  * mutation costs only its own reads and writes. Each case counts the jobs
  * its body starts and checks their call sites: the innermost user frame
  * of every job is either this spec's own action or one of the operation's
  * write-path methods — never a collection read or IVF routing. */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val Tag = "graft.jobBudget"

  /** The innermost graft frame of the call site of every job `body`
    * starts: the job's own call site, or, for a job an SQL execution runs
    * on one of its own threads, the call site of the action that started
    * the execution. Jobs are selected by a local property, which SQL
    * executions carry to their threads. */
  private def jobSites(body: => Unit): Seq[String] = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new ConcurrentLinkedQueue[(String, Option[Long])]()
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p => p.getProperty(Tag) == tag))
          jobs.add((e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""),
            Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.details)
        case _ => ()
      }
    }
    def graftFrame(callSite: String): Option[String] =
      callSite.linesIterator.map(_.trim.stripPrefix("at ")).find(_.startsWith("graft."))
    val sc = spark.sparkContext
    GraftInternal.drainListenerBus(spark)
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, tag)
    try body
    finally {
      sc.setLocalProperty(Tag, null)
      GraftInternal.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.map { case (details, execution) =>
      graftFrame(details)
        .orElse(execution.flatMap(id => Option(executions.get(id))).flatMap(graftFrame))
        .getOrElse("")
    }
  }

  private def indexSites(sites: Seq[String]): Seq[String] =
    sites.filter(_.startsWith("graft.index."))

  private val rnd = new scala.util.Random(11)
  private val Dim = 8
  private def vec(): Array[Float] = Array.fill(Dim)(rnd.nextGaussian().toFloat)
  private val points = (1L to 300L).map(i => (i, vec()))
  private def query: DataFrame = Seq((-1L, vec())).toDF("id", "vec")

  private def collection(): VectorCollection = {
    val c = VectorCollection(spark, Files.createTempDirectory("graft_jobs").toString, "c")
    c.create(CollectionMeta(Dim, "cosine", normalized = false))
    c.upsert(points.toDF("id", "vec"), "id")
    c
  }

  private def search(c: VectorCollection): Unit = {
    Knn.searchCollection(c, query, "id", "vec", "id", "vec", k = 10).collect()
    ()
  }

  /** Jobs of one search on a handle whose caches the previous one filled. */
  private def warmSearchSites(c: VectorCollection): Seq[String] = {
    search(c)
    jobSites(search(c))
  }

  // The scoring execution of a one-query exact search is three jobs (the
  // top-k aggregate's map stage, its result stage and the collect).
  test("searchCollection on a clean collection: only the scoring execution") {
    val sites = warmSearchSites(collection())
    assert(indexSites(sites).isEmpty, sites.mkString("\n"))
    assert(sites.size === 3, sites.mkString("\n"))
  }

  test("searchCollection after a delete: sidecar reads start no job of their own") {
    val c = collection()
    c.delete(col("id").isin(3L, 5L, 7L))
    val sites = warmSearchSites(c)
    assert(indexSites(sites).isEmpty, sites.mkString("\n"))
    // + the dirty-key distinct and its broadcast, inside the same execution
    assert(sites.size === 6, sites.mkString("\n"))
  }

  test("searchCollection after an upsert that revives a deleted key") {
    val c = collection()
    c.delete(col("id").isin(3L, 5L, 7L))
    c.upsert(Seq((5L, vec()), (1000L, vec())).toDF("id", "vec"), "id")
    val sites = warmSearchSites(c)
    assert(indexSites(sites).isEmpty, sites.mkString("\n"))
    assert(sites.size === 6, sites.mkString("\n"))
  }

  private def ivfQuerySites(layout: String): Seq[String] = {
    val ivf = IvfCollection(spark, Files.createTempDirectory("graft_jobs_ivf").toString, "ivf")
      .build(points.toDF("id", "vec"), "id", "vec", nList = 4, seed = 42L,
        int8 = layout == "int8", pq = layout == "pq", pqM = 4, pqCodebookSize = 16,
        binary = layout == "binary")
    def probe(): Unit = {
      ivf.query(query, "id", "vec", "id", "vec", k = 10, nProbe = 2).collect()
      ()
    }
    probe()
    jobSites(probe())
  }

  Seq("flat", "int8", "pq", "binary").foreach { layout =>
    test(s"IvfCollection.query on the $layout layout: no routing or centroid job") {
      val sites = ivfQuerySites(layout)
      assert(indexSites(sites).isEmpty, sites.mkString("\n"))
      assert(sites.size === 3, sites.mkString("\n"))
    }
  }

  test("delete: its own probe, sequence read and tombstone write only") {
    val c = collection()
    search(c)
    val first = jobSites(c.delete(col("id").isin(3L, 5L)))
    val second = jobSites(c.delete(col("id").isin(9L, 11L)))
    (first ++ second).foreach { s =>
      assert(s.startsWith("graft.index.VectorCollection.delete(") || s.contains("nextSeq"), s)
    }
    // clean: the victim probe and the tombstone write. Mutated: each of
    // those resolves the live view (dirty-key distinct, broadcast, own
    // job), and the sequence scan is a map and a result stage.
    assert(first.size === 2, first.mkString("\n"))
    assert(second.size === 8, second.mkString("\n"))
  }

  test("compact: only the rewrite of the live view") {
    val c = collection()
    c.delete(col("id").isin(3L, 5L))
    c.upsert(Seq((5L, vec())).toDF("id", "vec"), "id")
    search(c)
    val sites = jobSites(c.compact())
    sites.foreach(s => assert(s.startsWith("graft.index.VectorCollection.compact("), s))
    assert(sites.size === 4, sites.mkString("\n"))
  }
}
