package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables, TestSpark}
import graft.search.Knn

class TopKRowsSpec extends SparkSpec {
  import spark.implicits._

  test("buffer keeps k best with (score desc, id asc) tie-break and survives serde") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType, StructType}
    val payloadType = new StructType().add("x", LongType)
    val agg = TopKRows(
      payload = BoundReference(0, payloadType, nullable = true),
      score = BoundReference(1, DoubleType, nullable = false),
      tieId = BoundReference(2, LongType, nullable = false), k = 3)
    val buf = new TopKBuffer(3)
    Seq((0.5, 10L), (0.9, 7L), (0.5, 2L), (0.9, 9L), (0.1, 1L), (0.5, 3L))
      .foreach { case (s, i) => buf.insert(s, i, InternalRow(i)) }
    val kept = buf.sorted.map(e => (e.score, e.id)).toSeq
    // best three: 0.9@7, 0.9@9, then 0.5@2 (lowest id among the 0.5s)
    assert(kept == Seq((0.9, 7L), (0.9, 9L), (0.5, 2L)))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.sorted.map(e => (e.score, e.id)).toSeq == kept)
    // merge respects the same ordering
    val other = new TopKBuffer(3)
    other.insert(0.95, 100L, InternalRow(100L))
    val merged = agg.merge(back, other)
    assert(merged.sorted.map(_.id).toSeq == Seq(100L, 7L, 9L))
  }

  test("string tie ids: buffer keeps (score desc, id asc UTF-8-byte order) and survives serde") {
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val payloadType = new StructType().add("x", LongType)
    val agg = TopKRows(
      payload = BoundReference(0, payloadType, nullable = true),
      score = BoundReference(1, DoubleType, nullable = false),
      tieId = BoundReference(2, StringType, nullable = false), k = 3)
    def u(s: String) = UTF8String.fromString(s)
    val buf = new TopKBuffer(3)
    // non-ASCII included: 'é' (0xC3A9) sorts AFTER 'z' (0x7A) in UTF-8
    // byte order — the order Spark SQL, the heap, and DuckDB all share.
    Seq((0.5, "zz"), (0.9, "b"), (0.5, "aa"), (0.9, "é"), (0.1, "a"), (0.5, "ab"))
      .zipWithIndex.foreach { case ((s, i), n) => buf.insert(s, u(i), InternalRow(n.toLong)) }
    val kept = buf.sorted.map(e => (e.score, e.id.toString)).toSeq
    // best three: 0.9@"b", 0.9@"é" (é > b in bytes), then 0.5@"aa"
    assert(kept == Seq((0.9, "b"), (0.9, "é"), (0.5, "aa")))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back.sorted.map(e => (e.score, e.id.toString)).toSeq == kept)
    val other = new TopKBuffer(3)
    other.insert(0.95, u("q"), InternalRow(99L))
    val merged = agg.merge(back, other)
    assert(merged.sorted.map(_.id.toString).toSeq == Seq("q", "b", "é"))
  }

  test("tie-id-from-payload wire format round-trips (r22: id shipped once per entry)") {
    // When the tie id is one of the payload's own fields — every knnJoin /
    // rescore call site — the r22 wire format ships (score, payload) only
    // and re-reads the id from the payload on deserialize. Pin both the
    // detection and the round-trip for string and long ids.
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Literal}
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    def named(fields: (String, org.apache.spark.sql.catalyst.expressions.Expression)*) =
      CreateNamedStruct(fields.flatMap { case (n, e) => Seq(Literal(n), e) })
    // string id, id is payload field 1 of 2
    val sid = BoundReference(0, StringType, nullable = false)
    val aggS = TopKRows(
      payload = named("x" -> BoundReference(1, LongType, nullable = false), "sid" -> sid),
      score = BoundReference(2, DoubleType, nullable = false), tieId = sid, k = 3)
    def u(s: String) = UTF8String.fromString(s)
    val bufS = new TopKBuffer(3)
    Seq(("b", 1L, 0.9), ("a", 2L, 0.9), ("z", 3L, 0.5), ("c", 4L, 0.7))
      .foreach { case (i, x, s) => bufS.insert(s, u(i), InternalRow(x, u(i))) }
    val backS = aggS.deserialize(aggS.serialize(bufS))
    assert(backS.sorted.map(e => (e.score, e.id.toString,
        e.payload.getLong(0), e.payload.getUTF8String(1).toString)).toSeq ==
      Seq((0.9, "a", 2L, "a"), (0.9, "b", 1L, "b"), (0.7, "c", 4L, "c")))
    // long id, id is payload field 0; serde → merge chain stays correct
    val lid = BoundReference(0, LongType, nullable = false)
    val aggL = TopKRows(
      payload = named("id" -> lid, "x" -> BoundReference(1, LongType, nullable = false)),
      score = BoundReference(2, DoubleType, nullable = false), tieId = lid, k = 2)
    val bufL = new TopKBuffer(2)
    Seq((7L, 0.9), (2L, 0.9), (9L, 0.5)).foreach { case (i, s) =>
      bufL.insert(s, i, InternalRow(i, i * 10)) }
    val backL = aggL.deserialize(aggL.serialize(bufL))
    val other = new TopKBuffer(2)
    other.insert(0.95, 100L, InternalRow(100L, 1000L))
    assert(aggL.merge(backL, other).sorted.map(_.id).toSeq == Seq(100L, 2L))
    // a payload NOT containing the id keeps the (score, id, payload) format
    val aggOld = TopKRows(
      payload = named("x" -> BoundReference(1, LongType, nullable = false)),
      score = BoundReference(2, DoubleType, nullable = false), tieId = lid, k = 2)
    val bufOld = new TopKBuffer(2)
    bufOld.insert(0.9, 7L, InternalRow(70L))
    assert(aggOld.deserialize(aggOld.serialize(bufOld))
      .sorted.map(e => (e.id, e.payload.getLong(0))).toSeq == Seq((7L, 70L)))
  }

  test("string-keyed knnJoin: agg path matches window path and plans the bounded heap") {
    // uuid-style string ids (the reference's POJ id space, poj_utils.py:62)
    // must take the |Q|·k bounded-heap plan, not the |Q|·|C| rank window —
    // the r16 verdict's #1 scale gap. md5 ids also shuffle lexicographic vs
    // insertion order, exercising the byte-wise tie comparator.
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
      .select(md5(concat(lit("id:"), col("vec_id"))).as("sid"), col("embedding"))
    val q = emb.limit(20)
    def run(useAgg: Boolean) =
      Knn.knnJoin(q, "sid", "embedding", emb, "sid", "embedding",
          k = 7, roundScoreTo = Some(6), useTopKAgg = useAgg)
        .select("query_id", "sid", "score", "rank")
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    assert(run(true).toSeq == run(false).toSeq)
    val plan = Knn.knnJoin(q, "sid", "embedding", emb, "sid", "embedding", k = 7)
      .queryExecution.executedPlan.toString
    val aggCount = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(aggCount >= 2, s"expected partial+final ObjectHashAggregate, plan:\n$plan")
    assert(!plan.contains("Window"), s"string ids fell back to a rank window:\n$plan")
  }

  test("fractional tie ids are rejected at analysis time (window fallback territory)") {
    // double/decimal ids must NOT silently truncate into the heap: knnJoin
    // routes them to the window, and a direct SQL call fails analysis.
    val df = Seq((1.5, 0.9, 1L)).toDF("id", "score", "x")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy().agg(graft.functions.top_k_rows(
        struct(col("x")), col("score"), col("id"), 3)).collect()
    }
    assert(err.getMessage.contains("long or string id"))
  }

  test("knnJoin agg path matches the window path row-for-row") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val q = emb.limit(20)
    def run(useAgg: Boolean) =
      Knn.knnJoin(q, "vec_id", "embedding", emb, "vec_id", "embedding",
          k = 7, roundScoreTo = Some(6), useTopKAgg = useAgg)
        .select("query_id", "vec_id", "score", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4))
    assert(run(true).toSeq == run(false).toSeq)
  }

  test("agg path plans as ObjectHashAggregate (map-side partials), no window exchange of scored rows") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val df = Knn.knnJoin(emb.limit(5), "vec_id", "embedding", emb, "vec_id", "embedding",
      k = 3, useTopKAgg = true)
    // AdaptiveSparkPlanExec hides children from manual traversal; the
    // rendered plan string shows the current physical tree.
    val plan = df.queryExecution.executedPlan.toString
    val aggCount = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(aggCount >= 2, s"expected partial+final ObjectHashAggregate, plan:\n$plan")
    assert(!plan.contains("Window"), s"window exchange still present:\n$plan")
  }

  test("knnJoin agg path matches the window path when ObjectHashAggregate falls back to sorting") {
    // The session's 131072-key threshold keeps every other spec on the
    // hash path; a 2-key threshold under 20 query groups forces the
    // sort-based fallback, which must merge the same heaps.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val q = emb.limit(20)
    def scored(useAgg: Boolean) =
      Knn.knnJoin(q, "vec_id", "embedding", emb, "vec_id", "embedding",
          k = 7, roundScoreTo = Some(6), useTopKAgg = useAgg)
        .select("query_id", "vec_id", "score", "rank")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    withConf("spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2") {
      val agg = scored(useAgg = true)
      val aggRows = rows(agg)
      assert(aggRows.map(_._1).distinct.size > 2)
      val fellBack = new AdaptiveSparkPlanHelper {}
        .collect(agg.queryExecution.executedPlan) {
          case a: ObjectHashAggregateExec => a.metrics("numTasksFallBacked").value
        }.sum
      assert(fellBack > 0, "no ObjectHashAggregate task took the sort-based path")
      assert(aggRows == rows(scored(useAgg = false)))
    }
  }
}
