package graft.index

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.search.Knn

/** A handle's caches (the pinned `data/` schema, the IVF routing state)
  * never hide another handle's writes: after each write through handle B,
  * a search through handle A, whose caches an earlier search filled, equals
  * the same search through a fresh handle. */
class CollectionFreshnessSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(5)
  private val Dim = 8
  private def vec(): Array[Float] = Array.fill(Dim)(rnd.nextGaussian().toFloat)
  private def points(ids: Seq[Long]): DataFrame = ids.map(i => (i, vec())).toDF("id", "vec")
  private val queries = Seq((-1L, vec()), (-2L, vec()), (-3L, vec())).toDF("id", "vec")

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("id"), col("score"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  private def exact(c: VectorCollection) = rows(Knn.searchCollection(c, queries,
    "id", "vec", "id", "vec", k = 10, roundScoreTo = Some(6)))

  private def ivf(c: IvfCollection) = rows(c.query(queries, "id", "vec", "id", "vec",
    k = 10, nProbe = 2, roundScoreTo = Some(6)))

  test("deletes, upserts, compaction and an IVF rebuild through another handle are seen") {
    val root = Files.createTempDirectory("graft_fresh").toString
    val b = VectorCollection(spark, root, "vc")
    b.create(CollectionMeta(Dim, "cosine", normalized = false))
    b.upsert(points(1L to 200L), "id")
    val bIvf = IvfCollection(spark, root, "ivf").build(points(1L to 200L), "id", "vec", nList = 4)
    val a = VectorCollection(spark, root, "vc")
    val aIvf = IvfCollection(spark, root, "ivf")
    def fresh = VectorCollection(spark, root, "vc")
    def freshIvf = IvfCollection(spark, root, "ivf")
    def same(step: String): Unit = {
      assert(exact(a) === exact(fresh), s"exact search after $step")
      assert(ivf(aIvf) === ivf(freshIvf), s"IVF search after $step")
    }
    same("the first search")

    val victims = exact(a).map(_._2).distinct.take(5)
    b.delete(col("id").isin(victims: _*))
    same("a delete")
    assert(exact(a).map(_._2).intersect(victims).isEmpty)

    b.upsert(points(Seq(victims.head, 500L, 501L)), "id")
    bIvf.upsert(points(Seq(500L, 501L)), "id", "vec")
    same("an upsert")
    assert(a.load().filter(col("id").isin(victims.head, 500L)).count() === 2L)
    assert(aIvf.load().filter(col("id") === 500L).count() === 1L)

    b.compact()
    same("a compaction")

    val before = aIvf.centroids().map(_.toSeq).toSeq
    bIvf.build(points(1000L to 1150L), "id", "vec", nList = 3, seed = 7L, int8 = true)
    same("an IVF rebuild")
    assert(aIvf.isInt8)
    assert(aIvf.centroids().length === 3)
    assert(aIvf.centroids().map(_.toSeq).toSeq !== before)
    assert(ivf(aIvf).forall(_._2 >= 1000L))
  }

  test("a drop-and-recreate with another schema through another handle is seen") {
    val root = Files.createTempDirectory("graft_fresh_schema").toString
    val a = VectorCollection(spark, root, "vc")
    a.create(CollectionMeta(Dim, "cosine", normalized = false))
    a.upsert(points(1L to 50L), "id")
    exact(a)
    assert(a.load().columns.toSeq === Seq("id", "vec"))

    val b = VectorCollection(spark, root, "vc")
    b.drop()
    b.create(CollectionMeta(Dim, "cosine", normalized = false))
    b.upsert((100L to 150L).map(i => (i, vec(), s"t$i")).toDF("id", "vec", "tag"), "id")

    def fresh = VectorCollection(spark, root, "vc")
    assert(a.load().columns.toSeq === Seq("id", "vec", "tag"))
    assert(exact(a) === exact(fresh))
    assert(exact(a).forall(_._2 >= 100L))
    // A's appends are checked against the new schema
    intercept[IllegalArgumentException] { a.upsert(points(Seq(7L)), "id") }
    a.upsert(Seq((7L, vec(), "t7")).toDF("id", "vec", "tag"), "id")
    assert(fresh.load().filter(col("id") === 7L).select("tag").as[String].collect().toSeq ===
      Seq("t7"))
  }
}
