package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cli.Pipelines
import graft.dedup.Dedup
import graft.index.{CollectionMeta, IvfCollection, VectorCollection}
import graft.search.Knn

/** Outcome of one iteration: checked ops attempted and failed. */
final case class Iter(attempted: Int, failed: Int)

/** A closed-loop workload: one client thread runs iterations back to back. */
trait Workload {
  /** Generates inputs under `dir` and builds the workload's state on `spark`. */
  def setup(spark: SparkSession, dir: Path): Unit
  /** Untimed, checked ops before measuring: the first of each kind compiles
    * its plans, the rest cover the JIT's climb (measured per workload). */
  def warmup(calls: Calls): Iter
  /** One iteration; every library call goes through `calls` inside an op.
    * Output checks run between calls, outside the timed spans. */
  def iteration(calls: Calls): Iter
  /** Iterations measured however long they take: enough that the median of
    * each op kind is steady, and more than fit in the measuring time, so the
    * count does not shift with the host's speed. */
  def minIterations: Int
  /** The op kinds of an iteration and how many of each it runs. `iter_s` is
    * the sum over kinds of count × median latency, so a slow op in one
    * iteration and a fast one in another do not stack. */
  def weights: Seq[(String, Double)]
  /** The workload's output-quality figure (MAP@k or recall@k). */
  def quality: Double
  /** Workload-specific figures for the artifact, from the latency samples
    * (seconds by op kind) of the untraced iterations. */
  def details(samples: Map[String, Seq[Double]]): Map[String, Any]
  /** Layer figures that only the workload can count, per iteration. */
  def layerExtras: Map[String, Double]
}

object Workload {
  val names: Seq[String] = Seq("clone_batch", "collection_serve")

  def apply(name: String, seed: Long): Workload = name match {
    case "clone_batch" => new CloneBatch(seed)
    case "collection_serve" => new CollectionServe(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def treeFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** Latency samples (seconds) of one op kind: median and tail in ms. */
  def latency(samples: Seq[Double]): Map[String, Any] = {
    val ms = samples.map(_ * 1e3)
    val (pct, tail) = Stats.tail(ms)
    Map("n" -> ms.size, "p50_ms" -> Stats.median(ms), "tail_ms" -> tail, "tail_pct" -> pct)
  }

  def sum(a: Iter, b: Iter): Iter = Iter(a.attempted + b.attempted, a.failed + b.failed)
}

// ------------------------------------------------------------ clone_batch --

/** The engine's batch half: the paper's headline flow (BCB and POJ pipelines
  * at the reference defaults k=100, 500 samples, dim 256, with their CSV
  * outputs and metric rows), then a near-duplicate removal run. Both corpora
  * are larger than k, so the top-k heap selects; at 500 samples every
  * function is a query. */
final class CloneBatch(seed: Long) extends Workload {
  import Workload._
  // class sizes cycle through 2..6: 38 classes give 149 functions
  private val BcbClasses = 38
  private val PojClasses = 15
  private val PojPerClass = 10
  private val K = 100
  private val Samples = 500
  // the first iteration after the warmup is still about 15% slow, which
  // the median of three drops
  private val WarmupIterations = 1
  val minIterations = 3

  private var spark: SparkSession = _
  private var dir: Path = _
  private var bcb: Gen.Bcb = _
  private var poj: Gen.Poj = _
  private var reference = Map.empty[String, (String, Double)]

  private val dedup = new DedupRun(seed)

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    this.dir = dir
    bcb = Gen.bcb(dir.resolve("bcb"), seed, BcbClasses)
    poj = Gen.poj(dir.resolve("poj"), seed, PojClasses, PojPerClass)
    dedup.setup(spark, dir.resolve("docs"))
  }

  /** Runs one pipeline as an op and checks it: returns (detailed hash, MAP, ok). */
  private def pipeline(calls: Calls, label: String): (String, Double, Boolean) = calls.op(label) {
    val outDir = dir.resolve("out").resolve(label)
    val out = if (label == "bcb")
      calls.call("Pipelines.runBcb", "cli")(Pipelines.runBcb(spark, bcb.clonesCsv, bcb.functionsCsv,
        bcb.srcDir, k = K, numSamples = Samples))
    else calls.call("Pipelines.runPoj", "cli")(
      Pipelines.runPoj(spark, poj.dataDir, k = K, numSamples = Samples))
    calls.call("Pipelines.writeOutputs", "cli")(Pipelines.writeOutputs(out, outDir.toString, label))
    val detailed = csvRows(outDir, s"${label}_detailed_results")
    val stats = csvRows(outDir, s"${label}_query_stats")
    calls.rows(detailed.size + stats.size)
    val row = calls.call("IrMetrics.global", "metrics") { val r = out.metrics.head(); calls.rows(1); r }
    calls.call("Dedup.releaseEager", "cli")(Dedup.releaseEager(out.detailed))
    deleteTree(outDir)
    val map = row.getAs[Double]("map_at_k")
    val corpus = if (label == "bcb") bcb.functions else poj.files
    val queries = stats.size
    val ok = queries == math.min(Samples, corpus) &&
      detailed.size == queries.toLong * math.min(K, corpus - 1) && map > 0 && map <= 1.0
    (sha256(detailed.sorted), map, ok)
  }

  /** Data lines of the CSV a pipeline wrote under `outDir/<prefix>_<timestamp>`. */
  private def csvRows(outDir: Path, prefix: String): Seq[String] =
    treeFiles(outDir).filter(f => f.getParent.getFileName.toString.startsWith(prefix) &&
        f.getFileName.toString.endsWith(".csv"))
      .flatMap(f => Files.readAllLines(f, StandardCharsets.UTF_8).asScala.drop(1))

  def warmup(calls: Calls): Iter = Seq.fill(WarmupIterations)(iteration(calls)).reduce(sum)

  def iteration(calls: Calls): Iter = {
    var failed = 0
    Seq("bcb", "poj").foreach { label =>
      val ok = try {
        val (hash, map, valid) = pipeline(calls, label)
        if (!reference.contains(label)) reference += label -> ((hash, map))
        valid && reference(label) == ((hash, map))
      } catch { case e: Exception => log(s"$label pipeline failed: $e"); false }
      if (!ok) { failed += 1; calls.fail() }
    }
    sum(Iter(2, failed), dedup.iteration(calls))
  }

  def weights: Seq[(String, Double)] = Seq("bcb" -> 1.0, "poj" -> 1.0, "dedup" -> 1.0)

  def quality: Double = reference.get("bcb").map(_._2).getOrElse(0.0)

  def details(samples: Map[String, Seq[Double]]): Map[String, Any] = Map(
    "bcb_s" -> Stats.median(samples.getOrElse("bcb", Nil)),
    "poj_s" -> Stats.median(samples.getOrElse("poj", Nil)),
    "dedup_s" -> Stats.median(samples.getOrElse("dedup", Nil)),
    "bcb_map" -> quality,
    "poj_map" -> reference.get("poj").map(_._2).getOrElse(0.0),
    "detailed_sha256" -> reference.map { case (k, v) => k -> v._1 },
    "bcb_functions" -> bcb.functions, "bcb_classes" -> bcb.classes,
    "poj_files" -> poj.files, "poj_gbk_files" -> poj.gbk, "poj_sjis_files" -> poj.sjis) ++
    dedup.details

  def layerExtras: Map[String, Double] =
    Map("embed.corpus_rows" -> (bcb.functions + poj.files).toDouble) ++ dedup.layerExtras
}

// ------------------------------------------------------- collection_serve --

/** Interactive serving against a cosine collection and an IVF collection
  * built once over clustered vectors. One iteration is a block of single-query
  * exact and IVF searches with a delete and an upsert, ended by a compaction.
  * Every search is checked against a brute-force top-k over an in-memory copy
  * of the points. */
final class CollectionServe(seed: Long) extends Workload {
  import Workload._
  private val N0 = 2000
  private val Dim = 64
  private val Clusters = 24
  private val Sigma = 0.1
  private val NList = 8
  private val NProbe = 2
  private val K = 10
  private val Eps = 1e-4
  // The op mix of a block is read-dominated, as interactive top-k sessions
  // are: 12 searches to 2 writes. The block has three legs of two exact and
  // two IVF searches in an order drawn from the seed: one on the compacted
  // collection, one after a delete of 20 ids (tombstones), one after an
  // upsert of 16 new ids and 4 of the deleted ones (tombstones and patches).
  // The compaction that ends the block folds both writes. Fixed legs give
  // every block the same share of searches on each path of the merge-on-read
  // load(). 12:2 is as near to YCSB's read-mostly 95:5 (workload B, Cooper et
  // al., SoCC 2010) as a block can be that folds both kinds of write into
  // each compaction and takes 8 to 15 s (a search takes 0.3 to 0.9 s on a
  // 4-core host), so that two blocks fit a run; 95:5 needs 40-op blocks.
  private val Leg = Seq("exact", "exact", "ivf", "ivf")
  /** The legs of a block: the write that opens each, and the state of the
    * collection its exact searches read, which names their latency samples
    * (an exact search behind sidecars costs about twice one on the
    * compacted collection, so the three are timed apart). */
  private val Legs = Seq(None -> "clean", Some("delete") -> "deleted", Some("upsert") -> "upserted")
  // The warmup runs each kind of op once on each path, which compiles its
  // plans. The measured blocks are still on the JIT's climb (the second is
  // 10 to 25% faster than the first), so each op kind's median over two
  // blocks sits at the same point of it on every run.
  private val Warmup = Seq("exact" -> "exact_clean", "ivf" -> "ivf", "delete" -> "delete",
    "exact" -> "exact_deleted", "ivf" -> "ivf", "upsert" -> "upsert",
    "exact" -> "exact_upserted", "ivf" -> "ivf", "compact" -> "compact")
  val minIterations = 2

  private var spark: SparkSession = _
  private var rnd: Random = _
  private var vectors: Gen.Vectors = _
  private var coll: VectorCollection = _
  private var ivf: IvfCollection = _
  private var collDir: Path = _
  private val live = mutable.HashMap[Long, Array[Float]]()
  private val liveIds = ArrayBuffer[Long]()
  private val livePos = mutable.HashMap[Long, Int]()
  /** Ids deleted since the last compaction, which an upsert may revive. */
  private val deleted = ArrayBuffer[Long]()
  private var ivfPoints: Seq[(Long, Array[Float])] = Nil
  private var nextId = 0L
  private var nextQuery = 0L
  private var recallSum = 0.0
  private var recallN = 0
  private var maxSidecarFiles = 0
  private var buildS = 0.0

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    rnd = new Random(seed * 7919L + 5L)
    vectors = Gen.vectors(dir.resolve("input"), seed, N0, Dim, Clusters, Sigma)
    val t0 = System.nanoTime()
    val df = spark.read.schema("id long, vec array<float>").json(vectors.path)
    val root = dir.resolve("collections").toString
    coll = VectorCollection(spark, root, "serve").create(CollectionMeta(Dim, "cosine", normalized = true))
    coll.upsert(df, "id")
    ivf = IvfCollection(spark, root, "serve_ivf").build(df, "id", "vec", nList = NList, seed = 42L)
    buildS = (System.nanoTime() - t0) / 1e9
    collDir = dir.resolve("collections").resolve("serve")
    vectors.ids.indices.foreach(i => addLive(vectors.ids(i), vectors.vecs(i)))
    ivfPoints = vectors.ids.toSeq.zip(vectors.vecs.toSeq)
    nextId = vectors.ids.max + 1
  }

  private def addLive(id: Long, v: Array[Float]): Unit = {
    if (!live.contains(id)) { livePos(id) = liveIds.size; liveIds += id }
    live(id) = v
  }
  private def removeLive(id: Long): Unit = {
    val i = livePos.remove(id).get
    val lastId = liveIds.last
    liveIds(i) = lastId; liveIds.remove(liveIds.size - 1)
    if (lastId != id) livePos(lastId) = i
    live.remove(id)
  }

  private def query(): Array[Float] =
    Gen.nearCenter(vectors.centers(rnd.nextInt(Clusters)), rnd, Sigma)

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Exact top-k by cosine (all vectors are unit) as (id, score), best first. */
  private def bruteTopK(points: Iterable[(Long, Array[Float])], q: Array[Float]): Seq[(Long, Double)] =
    points.iterator.map { case (id, v) => (id, dot(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(K)

  /** A result is valid when it is ranked, each score is the true score of its
    * id, and no point outside it scores higher than its last entry. */
  private def valid(got: Array[(Long, Double, Int)], points: collection.Map[Long, Array[Float]],
      q: Array[Float], expected: Seq[(Long, Double)], exact: Boolean): Boolean = {
    val scored = got.forall { case (id, s, _) => points.get(id).exists(v => math.abs(dot(q, v) - s) <= Eps) }
    val ranked = got.map(_._3).toSeq == (1 to got.length) &&
      got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    val complete = !exact || (got.length == math.min(K, points.size) &&
      got.forall(_._2 >= expected.last._2 - Eps))
    scored && ranked && complete
  }

  private def collectRanked(df: org.apache.spark.sql.DataFrame): Array[(Long, Double, Int)] =
    df.select(col("id"), col("score"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).sortBy(_._3)

  /** Runs op `kind` and records its latency under `label`. */
  private def op(calls: Calls, kind: String, label: String): Boolean = calls.op(label) {
    val session = spark
    import session.implicits._
    kind match {
      case "exact" =>
        val q = query()
        nextQuery += 1
        val got = calls.call("Knn.searchCollection", "search") {
          val r = collectRanked(Knn.searchCollection(coll, Seq((-nextQuery, q)).toDF("id", "vec"),
            "id", "vec", "id", "vec", k = K, roundScoreTo = Some(6)))
          calls.rows(r.length); r
        }
        valid(got, live, q, bruteTopK(live, q), exact = true)
      case "ivf" =>
        val q = query()
        nextQuery += 1
        val got = calls.call("IvfCollection.query", "search") {
          val r = collectRanked(ivf.query(Seq((-nextQuery, q)).toDF("id", "vec"), "id", "vec", "id", "vec",
            k = K, nProbe = NProbe, roundScoreTo = Some(6)))
          calls.rows(r.length); r
        }
        val expected = bruteTopK(ivfPoints, q)
        recallSum += got.map(_._1).toSet.intersect(expected.map(_._1).toSet).size.toDouble / K
        recallN += 1
        valid(got, ivfPoints.toMap, q, expected, exact = false)
      case "upsert" =>
        val revived = rnd.shuffle(deleted.toIndexedSeq).take(4)
        val fresh = (0 until 16).map { _ => nextId += 1; nextId }
        val batch = (fresh ++ revived).map(id => (id, query()))
        calls.call("VectorCollection.upsert", "index") {
          coll.upsert(batch.toDF("id", "vec"), "id"); calls.rows(batch.size)
        }
        deleted --= revived
        batch.foreach { case (id, v) => addLive(id, v) }
        sidecars()
        true
      case "delete" =>
        val victims = Iterator.continually(liveIds(rnd.nextInt(liveIds.size))).distinct.take(20).toSeq
        calls.call("VectorCollection.delete", "index") {
          coll.delete(col("id").isin(victims: _*)); calls.rows(victims.size)
        }
        victims.foreach(removeLive)
        deleted ++= victims
        sidecars()
        true
      case "compact" =>
        calls.call("VectorCollection.compact", "index")(coll.compact())
        deleted.clear()
        coll.count() == live.size
    }
  }

  private def sidecars(): Unit =
    maxSidecarFiles = math.max(maxSidecarFiles,
      treeFiles(collDir.resolve("tombstones")).size + treeFiles(collDir.resolve("patches")).size)

  private def run(calls: Calls, ops: Seq[(String, String)]): Iter = {
    val failed = ops.count { case (kind, label) =>
      val ok = try op(calls, kind, label)
        catch { case e: Exception => log(s"$kind op failed: $e"); false }
      if (!ok) calls.fail()
      !ok
    }
    Iter(ops.size, failed)
  }

  /** The (kind, label) ops of a block; `order` draws each leg's search order. */
  private def block(order: Seq[String] => Seq[String]): Seq[(String, String)] =
    Legs.flatMap { case (write, state) =>
      write.map(w => (w, w)).toSeq ++
        order(Leg).map(k => (k, if (k == "exact") s"exact_$state" else k))
    } :+ ("compact" -> "compact")

  def warmup(calls: Calls): Iter = run(calls, Warmup)

  def iteration(calls: Calls): Iter = run(calls, block(rnd.shuffle(_)))

  def weights: Seq[(String, Double)] =
    block(identity).groupBy(_._2).toSeq.sortBy(_._1).map { case (k, xs) => k -> xs.size.toDouble }

  def quality: Double = if (recallN == 0) 0.0 else recallSum / recallN

  private def storeBytesPerPoint: Double =
    treeFiles(collDir).map(Files.size).sum.toDouble / math.max(1, live.size)

  def details(samples: Map[String, Seq[Double]]): Map[String, Any] = {
    def lat(kinds: String*) = latency(kinds.flatMap(samples.getOrElse(_, Nil)))
    Map(
      "build_s" -> buildS,
      "search" -> lat(Legs.map("exact_" + _._2): _*), "ivf" -> lat("ivf"),
      "search_by_state" -> Legs.map { case (_, st) => st -> lat("exact_" + st) }.toMap,
      "write" -> lat("upsert", "delete", "compact"),
      "upsert" -> lat("upsert"), "delete" -> lat("delete"), "compact" -> lat("compact"),
      "ivf_recall" -> quality,
      "store_bytes_per_point" -> storeBytesPerPoint,
      "live_points" -> live.size,
      "max_sidecar_files" -> maxSidecarFiles)
  }

  def layerExtras: Map[String, Double] =
    Map("index.sidecar_files" -> maxSidecarFiles.toDouble)
}

// ------------------------------------------------------------------ dedup --

/** The training-data half of clone_batch: near-duplicate removal over
  * documents with planted families (MinHash-LSH pair mining, then connected
  * components and the keeper anti-join), one op per iteration. */
final class DedupRun(seed: Long) {
  import Workload._
  private val Docs = 600
  private val FamilyShare = 0.4
  private val Threshold = 0.7

  private var spark: SparkSession = _
  private var docs: Gen.Docs = _
  private val verdicts = mutable.HashMap[String, (Boolean, Double)]()
  private var recall = 0.0
  private var pairsOut = 0L
  private var removedOut = 0L

  def setup(spark: SparkSession, dir: Path): Unit = {
    this.spark = spark
    // the generator keeps family members above the threshold with a margin
    docs = Gen.docs(dir.resolve("input"), seed, Docs, FamilyShare, Threshold + 0.02)
  }

  /** One dedup op with its check: (ok, recall, pairs, removed). */
  private def run(calls: Calls, d: Gen.Docs): (Boolean, Double, Long, Long) = calls.op("dedup") {
    val df = spark.read.schema("id long, text string").json(d.path)
    val (pairs, nPairs) = calls.call("Dedup.minHashNearDups", "dedup") {
      val p = Dedup.minHashNearDups(df, "id", "text", threshold = Threshold)
      val n = p.count()
      calls.rows(n)
      (p, n)
    }
    val (result, kept) = calls.call("Dedup.dropNearDuplicates", "dedup") {
      val r = Dedup.dropNearDuplicates(df, "id", pairs)
      val k = r.select(col("id")).collect().map(_.getLong(0))
      calls.rows(k.length)
      (r, k)
    }
    calls.call("Dedup.releaseEager", "dedup") { Dedup.releaseEager(result); Dedup.releaseEager(pairs) }
    val keptSet = kept.toSet
    val key = sha256(kept.sorted.map(_.toString).toSeq)
    val (ok, rec) = verdicts.getOrElseUpdate(key, check(d, keptSet))
    (ok && kept.length == keptSet.size, rec, nPairs, d.ids.length - keptSet.size)
  }

  /** Every removed document needs a kept partner at or above the threshold;
    * recall is planted duplicates removed over planted duplicates. */
  private def check(d: Gen.Docs, kept: Set[Long]): (Boolean, Double) = {
    val text = d.ids.zip(d.texts).toMap
    val sh = mutable.HashMap[Long, Set[String]]()
    def shingles(id: Long) = sh.getOrElseUpdate(id, Gen.shingles(text(id)))
    val index = mutable.HashMap[String, ArrayBuffer[Long]]()
    kept.foreach(id => shingles(id).foreach(s => index.getOrElseUpdate(s, ArrayBuffer()) += id))
    val removed = d.ids.filterNot(kept)
    val partnered = removed.forall { id =>
      val mine = shingles(id)
      mine.iterator.flatMap(s => index.getOrElse(s, Nil)).toSet
        .exists(o => Gen.jaccard(mine, shingles(o)) >= Threshold)
    }
    val planted = d.families.map(_.size - 1).sum
    val caught = d.families.map(f => math.min(f.count(id => !kept(id)), f.size - 1)).sum
    (partnered && kept.subsetOf(d.ids.toSet), caught.toDouble / planted)
  }

  def iteration(calls: Calls): Iter = {
    val ok = try {
      val (valid, rec, pairs, removed) = run(calls, docs)
      recall = rec; pairsOut = pairs; removedOut = removed
      valid
    } catch { case e: Exception => log(s"dedup run failed: $e"); false }
    if (!ok) calls.fail()
    Iter(1, if (ok) 0 else 1)
  }

  def details: Map[String, Any] = Map(
    "dedup_recall" -> recall,
    "pairs_out" -> pairsOut, "removed" -> removedOut,
    "docs" -> Docs, "families" -> docs.families.size,
    "planted_duplicates" -> docs.families.map(_.size - 1).sum)

  def layerExtras: Map[String, Double] =
    Map("dedup.pairs_out" -> pairsOut.toDouble, "dedup.removed" -> removedOut.toDouble)
}
