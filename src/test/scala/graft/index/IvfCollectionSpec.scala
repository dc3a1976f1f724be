package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestSpark}
import graft.search.Knn

class IvfCollectionSpec extends SparkSpec {

  test("build/query: cell-partitioned layout, pruned scan, exact-score subset") {
    val root = Files.createTempDirectory("graft_ivf").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivf_test")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L)

    // layout: one directory per cell
    val cellDirs = new java.io.File(s"$root/ivf_test/cells").listFiles()
      .filter(_.getName.startsWith("ivf_cell=")).map(_.getName).sorted
    assert(cellDirs.length == 4)
    assert(coll.load().count() == emb.count())

    // pruning: a cell-filtered scan carries a partition filter, and reads
    // strictly fewer rows than the full collection
    val pruned = coll.loadCells(Seq(0, 1))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"expected partition filter in:\n$plan")
    assert(pruned.count() < emb.count())

    // query correctness: scores are true cosines (subset of exact)
    val q = emb.limit(10)
    val exact = Knn.knnJoin(q, "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 5, roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    val approx = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 2, roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    val idJoin = approx.join(exact, Seq("query_id", "result_id"), "left_semi").count()
    val fullJoin = approx.join(exact, Seq("query_id", "result_id", "score"), "left_semi").count()
    assert(idJoin == fullJoin && idJoin > 0)
  }

  test("filtered query: predicate composes with cell pruning; results match post-hoc filter") {
    val root = Files.createTempDirectory("graft_ivf_f").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivf_f")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L)
    val q = emb.limit(10)
    val filtered = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 4, roundScoreTo = Some(6), filter = Some(col("label") < 5))
    // plan: BOTH the ivf_cell partition filter and the label predicate land
    // at the scan — selectivity as skipped I/O, not discarded rows
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"expected cell pruning in:\n$plan")
    assert(plan.contains("LessThan(label,5)"),
      s"expected label pushdown in:\n$plan")
    // semantics: nProbe = nList makes the probe exhaustive, so the filtered
    // probe must equal exact kNN over the pre-filtered corpus
    val exact = Knn.knnJoin(q, "vec_id", "embedding",
        emb.filter(col("label") < 5), "vec_id", "embedding",
        k = 5, roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    val got = filtered.select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    assert(got.exceptAll(exact).count() == 0 && exact.exceptAll(got).count() == 0)
  }

  test("upsert: new rows assigned to existing centroids and appended; idempotent by key") {
    val root = Files.createTempDirectory("graft_ivf_up").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val first = emb.filter(col("vec_id") < 400)
    val rest = emb.filter(col("vec_id") >= 400)
    val coll = IvfCollection(spark, root, "ivf_up")
      .build(first, "vec_id", "embedding", nList = 4, seed = 42L)
    val centsBefore = coll.centroids().map(_.toSeq)

    coll.upsert(rest, "vec_id", "embedding")
    assert(coll.load().count() == emb.count())
    // re-delivering an already-ingested batch is a no-op (idempotent by key)
    coll.upsert(rest, "vec_id", "embedding")
    assert(coll.load().count() == emb.count())
    // centroids unchanged: upsert assigns, never re-trains
    assert(coll.centroids().map(_.toSeq).toSeq == centsBefore.toSeq)
    // appended rows are queryable and their cells agree with a fresh
    // assignment against the same centroids
    val got = coll.load().filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("ivf_cell"))
    val expect = graft.search.Ivf.assign(rest, "embedding", coll.centroids())
      .select(col("vec_id"), col("ivf_cell"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
  }

  test("upsert: a batch whose columns differ from the build's fails loudly, nothing lands") {
    val root = Files.createTempDirectory("graft_ivf_schema").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivf_schema")
      .build(emb.filter(col("vec_id") < 400), "vec_id", "embedding", nList = 4, seed = 42L)
    val before = coll.load().count()
    val rest = emb.filter(col("vec_id") >= 400)
    val extra = intercept[IllegalArgumentException] {
      coll.upsert(rest.withColumn("extra", lit(1)), "vec_id", "embedding")
    }
    assert(extra.getMessage.contains("extra"))
    val retyped = intercept[IllegalArgumentException] {
      coll.upsert(rest.withColumn("label", col("label").cast("string")), "vec_id", "embedding")
    }
    assert(retyped.getMessage.contains("label"))
    assert(coll.load().count() == before)
    assert(coll.load().schema("label").dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("int8 build: codes+scales stored, cell pruning intact, exhaustive probe ≡ exact int8 kNN") {
    import graft.functions.quantize_int8
    val root = Files.createTempDirectory("graft_ivf8").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivf8")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L, int8 = true)
    assert(coll.isInt8)

    // layout: float vector replaced by binary codes + per-vector scale
    val schema = coll.load().schema
    assert(!schema.fieldNames.contains("embedding"))
    assert(schema("embedding_code").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(schema("embedding_scale").dataType ==
      org.apache.spark.sql.types.FloatType)

    // pruning survives the compression: probed query still carries the
    // ivf_cell partition filter
    val q = emb.limit(10)
    val probed = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 2, roundScoreTo = Some(6))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"expected partition filter in:\n$plan")

    // exhaustive probe must equal exact int8 search over the quantized
    // corpus (routing adds no loss when every cell is read)
    val codes = emb.select(col("vec_id"), quantize_int8(col("embedding")).as("code"))
    val qCodes = q.select(col("vec_id"), quantize_int8(col("embedding")).as("code"))
    val exact = Knn.knnJoin(qCodes, "vec_id", "code", codes, "vec_id", "code",
        k = 5, metric = "int8", roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    val all = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 4, roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    assert(all.exceptAll(exact).count() == 0 && exact.exceptAll(all).count() == 0)
  }

  test("routing-version guard: a collection built under older routing refuses to query") {
    val root = Files.createTempDirectory("graft_ivf_rv").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivf_rv")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L)
    // Forge a pre-versioning meta (no routingVersion field → version 1):
    // stored ivf_cell assignments from other routing arithmetic must be
    // refused, not silently probed with degraded recall.
    val metaPath = java.nio.file.Paths.get(root, "ivf_rv", "_meta.json")
    // drop the Hadoop local-FS checksum sidecar — we rewrite meta directly
    val crc = java.nio.file.Paths.get(root, "ivf_rv", "._meta.json.crc")
    java.nio.file.Files.deleteIfExists(crc)
    java.nio.file.Files.write(metaPath,
      """{"int8":false,"nList":4,"seed":42}""".getBytes("UTF-8"))
    val q = emb.limit(2)
    val e = intercept[IllegalArgumentException] {
      coll.query(q, "vec_id", "embedding", "vec_id", "embedding", k = 2, nProbe = 2)
    }
    assert(e.getMessage.contains("routing version"))
    intercept[IllegalArgumentException] { coll.upsert(emb, "vec_id", "embedding") }
    // current-version meta queries fine
    java.nio.file.Files.write(metaPath,
      s"""{"int8":false,"nList":4,"seed":42,"routingVersion":${IvfCollection.RoutingVersion}}""".getBytes("UTF-8"))
    assert(coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 2, nProbe = 2).count() > 0)
  }

  test("pq build: codes stored (m bytes), cell pruning intact, exhaustive probe ≡ exact PQ scoring") {
    import graft.functions.{pq_cosine, pq_encode}
    val root = Files.createTempDirectory("graft_ivfpq").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivfpq")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L,
        pq = true, pqM = 8, pqCodebookSize = 16)
    assert(coll.isPq && !coll.isInt8)

    // layout: float vector replaced by m-byte PQ codes
    val schema = coll.load().schema
    assert(!schema.fieldNames.contains("embedding"))
    assert(schema("embedding_pq").dataType == org.apache.spark.sql.types.BinaryType)
    assert(coll.load().select(org.apache.spark.sql.functions.length(col("embedding_pq")))
      .head().getInt(0) == 8)
    // persisted codebooks roundtrip with the right shape
    val cb = coll.codebooks()
    assert(cb.length == 8 && cb.forall(_.forall(_.length == 8)))

    // pruning survives the compression
    val q = emb.limit(10)
    val probed = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 2, roundScoreTo = Some(6))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"expected partition filter in:\n$plan")

    // exhaustive probe must equal exact asymmetric-PQ search over the
    // encoded corpus (routing adds no loss when every cell is read);
    // recomputed directly via a rank window over pq_cosine
    val codes = emb.select(col("vec_id"), pq_encode(col("embedding"), cb).as("c"))
    val scored = q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(codes)
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("score", org.apache.spark.sql.functions.round(
        pq_cosine(col("qv"), col("c"), cb), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    val want = scored.withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    val all = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
        k = 5, nProbe = 4, roundScoreTo = Some(6))
      .select(col("query_id"), col("vec_id").as("result_id"), col("score"))
    assert(all.exceptAll(want).count() == 0 && want.exceptAll(all).count() == 0)
  }

  test("pq upsert: new rows encoded against the persisted codebooks; idempotent") {
    val root = Files.createTempDirectory("graft_ivfpq_up").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivfpq_up")
      .build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        nList = 4, seed = 42L, pq = true, pqM = 8, pqCodebookSize = 16)
    val rest = emb.filter(col("vec_id") >= 400)
    coll.upsert(rest, "vec_id", "embedding")
    assert(coll.load().count() == emb.count())
    coll.upsert(rest, "vec_id", "embedding") // no-op
    assert(coll.load().count() == emb.count())
    // appended codes agree with a fresh encode against the same codebooks
    val cb = coll.codebooks()
    val got = coll.load().filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding_pq"))
    val expect = rest.select(col("vec_id"),
      graft.functions.pq_encode(col("embedding"), cb).as("embedding_pq"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
  }

  test("binary build: packed codes stored, pruning intact, rescore returns exact scores") {
    val root = Files.createTempDirectory("graft_ivfbin").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivfbin")
      .build(emb, "vec_id", "embedding", nList = 4, seed = 42L, binary = true)
    assert(coll.isBinary && !coll.isInt8 && !coll.isPq)

    // layout: float vector replaced by ceil(64/8) = 8 packed sign bytes
    val schema = coll.load().schema
    assert(!schema.fieldNames.contains("embedding"))
    assert(schema("embedding_bits").dataType == org.apache.spark.sql.types.BinaryType)
    assert(coll.load().select(org.apache.spark.sql.functions.length(col("embedding_bits")))
      .head().getInt(0) == 8)

    // pruning survives the codec
    val q = emb.limit(10)
    val probed = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 2, roundScoreTo = Some(6))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ivf_cell"),
      s"expected partition filter in:\n$plan")

    // rescore: every returned score must equal the EXACT float cosine of
    // that (query, result) pair — the codec only selects candidates
    val rescored = coll.query(q, "vec_id", "embedding", "vec_id", "embedding",
      k = 5, nProbe = 4, roundScoreTo = Some(6),
      rescore = Some(emb), oversample = 4)
    val mismatches = rescored.alias("r")
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        col("r.query_id") === col("qid"))
      .join(emb.select(col("vec_id").as("rid"), col("embedding").as("rv")),
        col("r.vec_id") === col("rid"))
      .filter(org.apache.spark.sql.functions.abs(col("r.score") -
        org.apache.spark.sql.functions.round(
          graft.functions.cosine_similarity(col("qv"), col("rv")), 6)) > 1e-9)
      .count()
    assert(mismatches == 0, s"$mismatches rescored rows deviate from exact cosine")
  }

  test("binary upsert: idempotent append, codes match fresh encode") {
    val root = Files.createTempDirectory("graft_ivfbin_up").toString
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val coll = IvfCollection(spark, root, "ivfbin_up")
      .build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
        nList = 4, seed = 42L, binary = true)
    val rest = emb.filter(col("vec_id") >= 400)
    coll.upsert(rest, "vec_id", "embedding")
    assert(coll.load().count() == emb.count())
    coll.upsert(rest, "vec_id", "embedding") // no-op
    assert(coll.load().count() == emb.count())
    val got = coll.load().filter(col("vec_id") >= 400)
      .select(col("vec_id"), col("embedding_bits"))
    val expect = rest.select(col("vec_id"),
      graft.functions.binary_quantize(col("embedding")).as("embedding_bits"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
  }

  test("driver ivf_binary_recall query: rescored recall_at_k meets the floor") {
    // 1-bit codes select candidates, full-precision rescore re-ranks them:
    // recall must beat what the sign sketch alone could pin.
    val recall = graft.SparkEntry.queries("ivf_binary_recall")(
        spark, graft.TestSpark.sf0001)
      .head().getDouble(0)
    assert(recall >= 0.3, s"ivf_binary_recall recall_at_k = $recall")
  }

  test("driver ivf_pq_recall query: recall_at_k meets a pq floor") {
    // IVF pruning + 32x PQ compression compounds the most loss of any
    // path; the floor documents the engine-level guarantee the rows-only
    // driver check can't see.
    val recall = graft.SparkEntry.queries("ivf_pq_recall")(
        spark, graft.TestSpark.sf0001)
      .head().getDouble(0)
    assert(recall >= 0.2, s"ivf_pq_recall recall_at_k = $recall")
  }

  test("driver ivf_int8_recall query: recall_at_k meets the IVF floor") {
    // Compound loss (cell pruning + int8 quantization) still has to clear
    // the same floor as the uncompressed path — quantization costs ≈1% of
    // recall (quant_recall ≈ 0.99) so the floors are shared.
    val recall = graft.SparkEntry.queries("ivf_int8_recall")(
        spark, graft.TestSpark.sf0001)
      .head().getDouble(0)
    assert(recall >= 0.3, s"ivf_int8_recall recall_at_k = $recall")
  }

  test("driver ivf_partitioned_recall query: recall_at_k meets the IVF floor") {
    // The driver records this query rows-only (KMeans cells have no SQL
    // twin), so the measured recall scalar must be floor-pinned HERE: a
    // silent pruning regression (wrong cell reuse, broken probe union)
    // would otherwise collapse the value with every check still green.
    // Same floor as IvfSpec — both paths share Ivf.knnJoinIvf, and this
    // query probes 4/16 cells vs IvfSpec's 2/4.
    val recall = graft.SparkEntry.queries("ivf_partitioned_recall")(
        spark, graft.TestSpark.sf0001)
      .head().getDouble(0)
    assert(recall >= 0.3, s"ivf_partitioned_recall recall_at_k = $recall")
  }
}
