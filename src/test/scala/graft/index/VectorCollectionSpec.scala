package graft.index

import java.nio.file.Files

import graft.SparkSpec

class VectorCollectionSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot = Files.createTempDirectory("graft_coll").toString

  test("create / exists / meta roundtrip (main.py:59-65 capability)") {
    val c = VectorCollection(spark, tmpRoot, "bcb_test")
    assert(!c.exists)
    c.create(CollectionMeta(dim = 64, metric = "cosine", normalized = false))
    assert(c.exists)
    assert(c.meta === CollectionMeta(64, "cosine", false))
  }

  test("upsert is idempotent by id (deterministic-uuid re-ingest safety)") {
    val c = VectorCollection(spark, tmpRoot, "idem")
    c.create(CollectionMeta(2, "cosine", normalized = true))
    val batch = Seq(("u1", Array(1f, 0f)), ("u2", Array(0f, 1f))).toDF("id", "vec")
    c.upsert(batch, "id")
    assert(c.load().count() === 2L)
    c.upsert(batch, "id") // re-upload: no duplicates
    assert(c.load().count() === 2L)
    val more = Seq(("u2", Array(0f, 1f)), ("u3", Array(1f, 1f))).toDF("id", "vec")
    c.upsert(more, "id") // only the new key lands
    assert(c.load().count() === 3L)
    c.drop()
    assert(!c.exists)
  }

  test("payload-partitioned collection: directory layout, pruned filtered reads, mutations preserved") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot
    val c = VectorCollection(spark, root, "bylang")
    c.create(CollectionMeta(2, "cosine", normalized = false), partitionBy = "lang")
    assert(c.partitionField === Some("lang"))
    c.upsert(Seq(
      (1L, Array(1f, 0f), "en"), (2L, Array(0f, 1f), "en"),
      (3L, Array(1f, 1f), "de"), (4L, Array(0f, 0f), "fr")
    ).toDF("id", "vec", "lang"), "id")

    // layout: one directory per distinct partition value
    val dirs = new java.io.File(s"$root/bylang/data").listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(dirs.toSeq === Seq("lang=de", "lang=en", "lang=fr"))

    // a lang predicate prunes at planning time (partition filter, and the
    // predicate no longer needs a data filter over row values)
    val filtered = c.load().filter(col("lang") === "en")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected lang partition filter in:\n$plan")
    assert(filtered.count() === 2L)

    // a batch missing the partition column fails loudly
    intercept[IllegalArgumentException] {
      c.upsert(Seq((9L, Array(1f, 1f))).toDF("id", "vec"), "id")
    }

    // merge-on-read mutations and compaction keep the partitioned layout
    c.delete(col("id") === 2L)
    c.upsert(Seq((5L, Array(0.5f, 0.5f), "de")).toDF("id", "vec", "lang"), "id")
    assert(c.load().count() === 4L)
    assert(c.load().filter(col("lang") === "de").count() === 2L)
    c.compact()
    assert(!c.mutated)
    assert(c.load().count() === 4L)
    val dirsAfter = new java.io.File(s"$root/bylang/data").listFiles()
      .filter(_.getName.startsWith("lang=")).map(_.getName).sorted
    assert(dirsAfter.toSeq === Seq("lang=de", "lang=en", "lang=fr"))
  }

  test("scrollBy: keyset pages over (payload, id) chain without gaps or repeats") {
    val c = VectorCollection(spark, tmpRoot, "scrollby")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(
      (1L, Array(1f, 0f), "b"), (2L, Array(0f, 1f), "a"),
      (3L, Array(1f, 1f), "b"), (4L, Array(0f, 0f), "a"),
      (5L, Array(2f, 0f), "c")).toDF("id", "vec", "grade"), "id")
    def page(after: Option[(Any, Any)]) =
      c.scrollBy("grade", "id", limit = 2, after = after)
        .select("grade", "id").as[(String, Long)].collect().toSeq
    val p1 = page(None)
    assert(p1 === Seq(("a", 2L), ("a", 4L)))
    val p2 = page(Some(p1.last))
    assert(p2 === Seq(("b", 1L), ("b", 3L)))
    val p3 = page(Some(p2.last))
    assert(p3 === Seq(("c", 5L)))
    assert(page(Some(p3.last)).isEmpty)
  }

  test("facet: per-value counts under a filter, most-frequent first") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "facet_coll")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(
      (1L, Array(1f, 0f), "red"), (2L, Array(0f, 1f), "red"),
      (3L, Array(1f, 1f), "blue"), (4L, Array(0f, 0f), "red"),
      (5L, Array(2f, 0f), "green")).toDF("id", "vec", "color"), "id")
    val all = c.facet("color").collect()
    assert(all.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("red", 3L), ("blue", 1L), ("green", 1L))) // count desc, value asc
    val filtered = c.facet("color", filter = Some(col("id") <= 3L)).collect()
    assert(filtered.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("red", 2L), ("blue", 1L)))
    assert(c.facet("color", limit = 1).count() === 1L)
  }

  test("searchCollection honors the collection's stored distance metric") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "euclid_coll")
    c.create(CollectionMeta(2, "euclid", normalized = false))
    c.upsert(Seq((1L, Array(0.9f, 0f)), (2L, Array(10f, 0f)), (3L, Array(0f, 0.5f)))
      .toDF("id", "vec"), "id")
    val q = Seq((99L, Array(1f, 0f))).toDF("id", "vec")
    val res = graft.search.Knn.searchCollection(c, q, "id", "vec", "id", "vec", k = 3)
      .orderBy("rank").collect()
    // cosine would put id2 (parallel, cos=1) above id1; euclid must rank by
    // distance: id1 (0.1) < id3 (~1.118) < id2 (9)
    assert(res.map(_.getAs[Long]("id")).toSeq === Seq(1L, 3L, 2L))
    assert(math.abs(res(0).getAs[Double]("score") - 0.1) < 1e-6)
    // an unknown stored metric fails loudly, not silently as cosine
    val bad = VectorCollection(spark, tmpRoot, "bad_metric")
    bad.create(CollectionMeta(2, "tanimoto", normalized = false))
    bad.upsert(Seq((1L, Array(1f, 0f))).toDF("id", "vec"), "id")
    val e = intercept[IllegalArgumentException] {
      graft.search.Knn.searchCollection(bad, q, "id", "vec", "id", "vec", k = 1).collect()
    }
    assert(e.getMessage.contains("tanimoto"))
  }

  test("delete removes matching points, keeps the rest; re-upsert of a deleted key lands") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "del")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(("a", Array(1f, 0f)), ("b", Array(0f, 1f)), ("c", Array(1f, 1f)))
      .toDF("id", "vec"), "id")
    c.delete(col("id") === "b")
    assert(c.load().select("id").as[String].collect().sorted.toSeq == Seq("a", "c"))
    // deleted key is genuinely gone: the idempotent upsert re-admits it
    c.upsert(Seq(("b", Array(0f, 2f))).toDF("id", "vec"), "id")
    assert(c.load().count() === 3L)
    // delete with a predicate matching nothing is a no-op
    c.delete(col("id") === "zzz")
    assert(c.load().count() === 3L)
  }

  test("setPayload updates matching rows only; count honors filters") {
    import org.apache.spark.sql.functions.{col, lit}
    val c = VectorCollection(spark, tmpRoot, "payload")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(("a", Array(1f, 0f), "raw"), ("b", Array(0f, 1f), "raw"),
      ("c", Array(1f, 1f), "clean")).toDF("id", "vec", "status"), "id")
    c.setPayload(col("id") === "a", Map("status" -> lit("clean")))
    val got = c.load().select("id", "status").as[(String, String)].collect().toMap
    assert(got == Map("a" -> "clean", "b" -> "raw", "c" -> "clean"))
    // vectors untouched by a payload update
    assert(c.load().filter(col("vec").isNull).count() == 0)
    assert(c.count() == 3L)
    assert(c.count(Some(col("status") === "clean")) == 2L)
    // unknown column fails loudly
    val e = intercept[IllegalArgumentException] {
      c.setPayload(col("id") === "a", Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("unknown columns"))
  }

  test("mutations are O(batch): delete/setPayload append sidecars, base files untouched") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot
    val c = VectorCollection(spark, root, "mor")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert((1L to 100L).map(i => (i, Array(i.toFloat, 0f), "raw"))
      .toDF("id", "vec", "status"), "id")
    def dataFiles = new java.io.File(s"$root/mor/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    val before = dataFiles
    assert(!c.mutated)
    c.delete(col("id") <= 3L)
    c.setPayload(col("id") === 10L, Map("status" -> lit("clean")))
    assert(c.mutated)
    // the scale property: a point mutation must not rewrite the collection
    assert(dataFiles == before, "mutation rewrote base data files")
    // sidecars are mutation-sized
    val tombs = spark.read.parquet(s"$root/mor/tombstones")
    assert(tombs.count() == 3L)
    assert(spark.read.parquet(s"$root/mor/patches").count() == 1L)
    // live view reflects both mutations
    assert(c.count() == 97L)
    assert(c.load().filter(col("status") === "clean").select("id").as[Long].collect()
      .toSeq == Seq(10L))
  }

  test("last-writer-wins chain: patch -> delete -> revive resolves in sequence order") {
    import org.apache.spark.sql.functions.{col, lit}
    val c = VectorCollection(spark, tmpRoot, "lww")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(("a", Array(1f, 0f), "v1"), ("b", Array(0f, 1f), "v1"))
      .toDF("id", "vec", "status"), "id")
    c.setPayload(col("id") === "a", Map("status" -> lit("v2")))
    assert(c.load().filter(col("id") === "a").select("status").as[String].head() == "v2")
    c.delete(col("id") === "a")
    assert(c.count() == 1L)
    // re-upsert of the deleted key revives it with the NEW values (the
    // revival patch out-sequences both the tombstone and the old patch)
    c.upsert(Seq(("a", Array(9f, 9f), "v3")).toDF("id", "vec", "status"), "id")
    val a = c.load().filter(col("id") === "a")
      .select("status", "vec").as[(String, Array[Float])].head()
    assert(a._1 == "v3" && a._2.toSeq == Seq(9f, 9f))
    // re-delivering the same batch is still a no-op against the live view
    c.upsert(Seq(("a", Array(7f, 7f), "v4")).toDF("id", "vec", "status"), "id")
    assert(c.load().filter(col("id") === "a").select("status").as[String].head() == "v3")
  }

  test("compactFiles bounds per-batch/per-mutation file counts, live view identical") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot
    val c = VectorCollection(spark, root, "layout")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    // eight single-row upserts (the streaming-ingest shape: one data/ file
    // per micro-batch) and a few mutations (one sidecar file each)
    (1 to 8).foreach { i =>
      c.upsert(Seq((i.toLong, Array(i.toFloat, 0f), s"p$i"))
        .toDF("id", "vec", "tag"), "id")
    }
    c.delete(col("id") === 7L)
    c.delete(col("id") === 8L)
    c.setPayload(col("id") === 1L, Map("tag" -> lit("patched")))
    c.setPayload(col("id") === 2L, Map("tag" -> lit("patched")))
    def files(sub: String): Int = {
      val d = new java.io.File(s"$root/layout/$sub")
      if (!d.exists()) 0
      else d.listFiles().count(f =>
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    val before = c.load().collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toList, r.getString(2))).toSet
    assert(files("data") >= 8 && files("tombstones") >= 2 && files("patches") >= 2)
    val folded = c.compactFiles(minFiles = 2)
    assert(files("data") <= 2 && files("tombstones") <= 2 && files("patches") <= 2,
      s"folded layout: data=${files("data")} tomb=${files("tombstones")} patch=${files("patches")}")
    assert(folded("data")._1 >= 8 && folded("data")._2 < folded("data")._1)
    assert(folded("tombstones")._2 <= folded("tombstones")._1)
    // layout-only: the merge-on-read view is row-identical, sidecars still
    // overlay (this is NOT compact() — the collection stays "mutated")
    assert(c.mutated)
    val after = c.load().collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toList, r.getString(2))).toSet
    assert(after == before)
    assert(after.map(_._1) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(after.count(_._3 == "patched") == 2)
    // further mutations on the compacted layout still resolve in order
    c.delete(col("id") === 1L)
    assert(c.load().count() == 5)
  }

  test("compact folds sidecars into the base and restores the fast path") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmpRoot
    val c = VectorCollection(spark, root, "cmp")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert((1L to 50L).map(i => (i, Array(i.toFloat, 0f), "raw"))
      .toDF("id", "vec", "status"), "id")
    c.delete(col("id") % 10 === 0)
    c.setPayload(col("id") === 7L, Map("status" -> lit("clean")))
    val before = c.load().orderBy("id").collect().toSeq
    c.compact()
    assert(!c.mutated)
    assert(!new java.io.File(s"$root/cmp/tombstones").exists)
    assert(!new java.io.File(s"$root/cmp/patches").exists)
    assert(c.load().orderBy("id").collect().toSeq == before)
    // idempotent: compacting an unmutated collection is a no-op
    c.compact()
    assert(c.load().orderBy("id").collect().toSeq == before)
    // post-compact mutations start a fresh sidecar generation
    c.delete(col("id") === 1L)
    assert(c.count() == before.size - 1L)
  }

  test("scroll and filtered count see the live merge-on-read view") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "mscroll")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert((1L to 20L).map(i => (i, Array(i.toFloat, 0f),
      if (i % 2 == 0) "even" else "odd")).toDF("id", "vec", "par"), "id")
    c.delete(col("id") === 4L)
    var after: Option[Any] = None
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var page = c.scroll("id", 4, after, Some(col("par") === "even")).collect()
    while (page.nonEmpty) {
      seen ++= page.map(_.getLong(0))
      after = Some(page.last.getLong(0))
      page = c.scroll("id", 4, after, Some(col("par") === "even")).collect()
    }
    assert(seen.toSeq == (2L to 20L by 2).filterNot(_ == 4L).toSeq)
    assert(c.count(Some(col("par") === "even")) == 9L)
  }

  test("key discipline: one key per collection; reserved columns rejected") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "keys")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq(("a", Array(1f, 0f))).toDF("id", "vec"), "id")
    assert(c.key.contains("id"))
    val e = intercept[IllegalArgumentException] {
      c.upsert(Seq(("b", Array(1f, 0f))).toDF("other", "vec"), "other")
    }
    assert(e.getMessage.contains("keyed by"))
    val r = intercept[IllegalArgumentException] {
      c.upsert(Seq(("b", Array(1f, 0f), 1L)).toDF("id", "vec", "__seq"), "id")
    }
    assert(r.getMessage.contains("reserved"))
    // a collection that was never upserted cannot resolve mutations
    val fresh = VectorCollection(spark, tmpRoot, "nokey")
    fresh.create(CollectionMeta(2, "cosine", normalized = false))
    fresh.upsert(Seq(("a", Array(1f, 0f))).toDF("id", "vec"), "id")
    fresh.delete(col("id") === "a") // key recorded by the upsert - fine
    assert(fresh.count() == 0L)
  }

  test("named multi-vector points: registry roundtrip, search-by-name, unknown name fails") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "mv")
    c.create("cosine", normalized = false,
      vectors = Seq("text_vec" -> 2, "code_vec" -> 3))
    assert(c.vectorDims == Seq("text_vec" -> 2, "code_vec" -> 3))
    assert(c.meta == CollectionMeta(2, "cosine", false)) // first vector is default
    c.upsert(Seq(
      (1L, Array(1f, 0f), Array(0f, 0f, 1f)),
      (2L, Array(0f, 1f), Array(0f, 0f, 2f)),
      (3L, Array(1f, 1f), Array(1f, 0f, 0f))
    ).toDF("id", "text_vec", "code_vec"), "id")
    val q = Seq((9L, Array(0f, 0f, 1f))).toDF("id", "qv")
    // code_vec geometry: docs 1 and 2 are parallel to the query (cos 1.0),
    // doc 3 orthogonal (cos 0.0) - text_vec would rank them differently
    val byCode = graft.search.Knn.searchCollection(c, q, "id", "qv", "id", "text_vec",
        k = 3, roundScoreTo = Some(6), vectorName = Some("code_vec"))
      .orderBy("rank").collect()
    assert(byCode.take(2).map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
    assert(byCode.take(2).forall(_.getAs[Double]("score") == 1.0))
    assert(byCode.last.getAs[Long]("id") == 3L &&
      byCode.last.getAs[Double]("score") == 0.0)
    val e = intercept[IllegalArgumentException] {
      graft.search.Knn.searchCollection(c, q, "id", "qv", "id", "text_vec",
        k = 1, vectorName = Some("nope"))
    }
    assert(e.getMessage.contains("no vector 'nope'"))
    // invalid registrations fail at create
    intercept[IllegalArgumentException] {
      VectorCollection(spark, tmpRoot, "bad").create("cosine", false,
        Seq("a=b" -> 2))
    }
  }

  test("scroll: keyset pages cover the filtered set exactly once; predicates pushed") {
    import org.apache.spark.sql.functions.col
    val c = VectorCollection(spark, tmpRoot, "scroll")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    val rows = (1L to 20L).map(i => (i, Array(i.toFloat, 0f), if (i % 2 == 0) "even" else "odd"))
    c.upsert(rows.toDF("id", "vec", "par"), "id")

    // page chaining: last id of each page seeds the next; the filtered set
    // (10 even ids) must arrive in order, exactly once, across pages of 4
    var after: Option[Any] = None
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var page = c.scroll("id", 4, after, Some(col("par") === "even")).collect()
    while (page.nonEmpty) {
      seen ++= page.map(_.getLong(0))
      after = Some(page.last.getLong(0))
      page = c.scroll("id", 4, after, Some(col("par") === "even")).collect()
    }
    assert(seen.toSeq == (2L to 20L by 2).toSeq)

    // both the keyset predicate and the payload filter reach the scan
    val plan = c.scroll("id", 4, Some(8L), Some(col("par") === "even"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,8)") &&
      plan.contains("EqualTo(par,even)"), s"expected keyset+filter pushdown in:\n$plan")
  }

  test("appends keep one schema: an extra or retyped column fails loudly, nothing lands") {
    import org.apache.spark.sql.functions.col
    val root = tmpRoot
    val c = VectorCollection(spark, root, "one_schema")
    c.create(CollectionMeta(2, "cosine", normalized = false))
    c.upsert(Seq((1L, Array(1f, 0f), "a")).toDF("id", "vec", "tag"), "id")
    def dataFiles = new java.io.File(s"$root/one_schema/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val files = dataFiles
    val extra = intercept[IllegalArgumentException] {
      c.upsert(Seq((2L, Array(0f, 1f), "b", 7)).toDF("id", "vec", "tag", "extra"), "id")
    }
    assert(extra.getMessage.contains("extra"))
    val retyped = intercept[IllegalArgumentException] {
      c.upsert(Seq((3L, Array(0f, 1f), 9)).toDF("id", "vec", "tag"), "id")
    }
    assert(retyped.getMessage.contains("tag"))
    // a revival patch is checked the same way
    c.delete(col("id") === 1L)
    intercept[IllegalArgumentException] {
      c.upsert(Seq((1L, Array(1f, 1f), 5)).toDF("id", "vec", "tag"), "id")
    }
    assert(dataFiles === files)
    // the same columns in another order are the same schema
    c.upsert(Seq(("d", 4L, Array(1f, 1f))).toDF("tag", "id", "vec"), "id")
    assert(c.load().columns.toSeq === Seq("id", "vec", "tag"))
    assert(c.load().select("id", "tag").as[(Long, String)].collect().toSet ===
      Set(4L -> "d"))
  }
}
