package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{cosine_similarity, dot_product, euclidean_distance, int8_cosine, manhattan_distance, top_k_rows}

/**
 * Exact top-k similarity join — the reference's core query: for each query
 * snippet, the k most cosine-similar points of a collection, excluding the
 * query's own point (`/root/reference/bcb_utils.py:168-176`, self-exclusion
 * at :176; k default 100 `/root/reference/main.py:22`).
 *
 * Physical shape (scale rationale):
 *  - the query set is small by contract (`--num_samples` default 500,
 *    main.py:21) → broadcast it; the corpus streams, so corpus size is
 *    unbounded: no shuffle of the corpus, no skew sensitivity.
 *  - scoring runs inside whole-stage codegen (CosineSimilarity is a native
 *    Expression with doGenCode).
 *  - per-query top-k: by default [[graft.plans.TopKRows]], a
 *    partial-aggregating bounded heap (ObjectHashAggregate) that keeps k
 *    rows per query MAP-SIDE — the shuffle carries ≤ |Q|·k rows per map
 *    partition instead of the |Q|·|C| a rank window would move, for both
 *    integral and string (uuid) corpus ids. The window path remains
 *    available (`useTopKAgg = false`) and is the automatic fallback for
 *    fractional id types, whose truncating long cast could collide ids.
 */
object Knn {

  /** Score metric: "cosine" or "dot" over array<float> vectors (use dot
    * when vectors are pre-normalized — the reference's `--normalized`
    * intent, main.py:19,30-34), "euclid" / "manhattan" DISTANCES (the
    * remaining vector-backend collection modes — ranked ASCENDING, see
    * [[ascending]]), or "int8" over binary int8-quantized code
    * columns ([[graft.functions.quantize_int8]]) — the 4x-compressed
    * corpus representation for 100 TB search. */
  def score(metric: String)(a: Column, b: Column): Column = metric match {
    case "cosine"    => cosine_similarity(a, b)
    case "dot"       => dot_product(a, b)
    case "euclid"    => euclidean_distance(a, b)
    case "manhattan" => manhattan_distance(a, b)
    case "int8"      => int8_cosine(a, b)
    case other       => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** Whether `metric` is a distance (lower = more similar): rank 1 is the
    * SMALLEST score and ties still break on ascending id. Similarity
    * metrics rank descending. */
  def ascending(metric: String): Boolean = metric match {
    case "euclid" | "manhattan" => true
    case _ => false
  }

  /** The bounded-heap tie-break key for an id column of type `dt`, or None
    * when the heap can't order that type identically to the rank window it
    * replaces. Integral ids cast to long; string ids pass through (the
    * heap compares UTF8String — unsigned UTF-8 bytes — exactly Spark SQL's
    * string sort and DuckDB's binary VARCHAR collation). Fractional ids
    * (double/decimal) return None: a truncating cast could collide two
    * distinct ids and silently diverge tie order from the window path.
    * Shared by [[knnJoin]], [[graft.search.Bm25.scoreTf]] and
    * [[graft.search.Hybrid.topKPerQuery]] so the routing rule can never
    * fork per call site. */
  private[graft] def tieKeyFor(dt: org.apache.spark.sql.types.DataType,
      idCol: String): Option[Column] = dt match {
    case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
      Some(col(idCol).cast("long"))
    case org.apache.spark.sql.types.StringType => Some(col(idCol))
    case _ => None
  }

  /** [[tieKeyFor]] or a LOUD plan-time error — for heap-only call sites
    * with no window fallback ([[knnJoinGrouped]], `Query.rescore*`,
    * `Ivf.searchIvf`). Before r17 these sites cast the id to long
    * unconditionally: a uuid-string id null-cast every row out of the
    * heap and the query SILENTLY RETURNED EMPTY; a fractional id could
    * truncation-collide two ids. String ids now rank on the heap;
    * anything else refuses with a pointed message instead. */
  private[graft] def tieKeyForced(dt: org.apache.spark.sql.types.DataType,
      idCol: String): Column =
    tieKeyFor(dt, idCol).getOrElse(throw new IllegalArgumentException(
      s"bounded-heap ranking needs an integral or string id column; " +
        s"'$idCol' is ${dt.catalogString}"))

  /**
   * For each row of `queries`, the top-`k` rows of `corpus` by descending
   * similarity, deterministic tie-break on ascending corpus id.
   *
   * `corpusFilter` is payload-filtered search (the reference backend's
   * `search` with payload filters): the predicate restricts the corpus
   * BEFORE scoring, so top-k ranks only qualifying rows — not a post-hoc
   * filter of unfiltered top-k, which would return < k rows and miss
   * qualifying neighbors. Applied directly above the corpus relation, it
   * reaches the parquet scan as a pushed filter (and, on a layout
   * partitioned by the predicate column, as partition pruning) — at 100 TB
   * the selectivity becomes skipped I/O, not discarded rows.
   *
   * Output columns: `query_id`, query payload as `query_<name>`, all corpus
   * columns except the vector, `score`, `rank`.
   */
  def knnJoin(
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      corpus0: DataFrame,
      corpusId: String,
      corpusVec: String,
      k: Int,
      excludeSelf: Boolean = true,
      metric: String = "cosine",
      roundScoreTo: Option[Int] = None,
      useTopKAgg: Boolean = true,
      corpusFilter: Option[Column] = None,
      scoreFn: Option[(Column, Column) => Column] = None): DataFrame = {
    val corpus = corpusFilter.fold(corpus0)(corpus0.filter)
    // Query payload columns ride along as query_<name> (the reference keeps
    // the query row's fields for relevance tagging, bcb_utils.py:182-189).
    val payloadNames = queries.columns.toSeq
      .filter(c => c != queryId && c != queryVec)
      .map(c => s"query_$c")
    val payloadCols = queries.columns.toSeq
      .filter(c => c != queryId && c != queryVec)
      .map(c => col(c).as(s"query_$c"))
    val q = queries.select(
      col(queryId).as("query_id") +: col(queryVec).as("__query_vec") +: payloadCols: _*)
    // scoreFn swaps in a custom comparator (e.g. late-interaction
    // [[graft.functions.max_sim]]) while keeping the whole broadcast +
    // bounded-heap plan; `metric` still decides rank direction.
    val rawScore =
      scoreFn.getOrElse(score(metric) _)(col("__query_vec"), col(corpusVec))
    // roundScoreTo pins ranking to a precision both engines agree on —
    // cross-engine float kernels can differ in the last ulp, which would
    // make near-tie ranks nondeterministic vs the oracle.
    val scoreCol = roundScoreTo.fold(rawScore)(n => round(rawScore, n))
    val scored0 = broadcast(q)
      .crossJoin(corpus)
      .withColumn("score", scoreCol)
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col(corpusId))
      else scored0
    // Heap tie-break key by id type: integral ids cast to long, string ids
    // (uuid-keyed corpora — the reference's POJ id space, poj_utils.py:62)
    // pass through as-is and compare as unsigned UTF-8 bytes inside the
    // heap — identical to the window path's `col(id).asc` string sort and
    // to DuckDB's binary VARCHAR collation. Fractional ids (double/
    // decimal) would truncate under a long cast — two distinct ids could
    // collide and make tie order diverge from the window path — so they
    // fall back to the window.
    val tieKey: Option[Column] = tieKeyFor(corpus.schema(corpusId).dataType, corpusId)
    if (useTopKAgg && tieKey.isDefined) {
      // Bounded-heap partial aggregation: ≤ k rows per query survive each
      // map partition; the shuffle is |Q|·k-bounded regardless of |C|.
      // The corpus VECTOR is scoring input, not payload — excluding it
      // keeps heap copies and shuffle rows at id+payload size instead of
      // dragging the embedding through the aggregate (the agg is opaque
      // to Catalyst, so this pruning must happen here, not in the
      // optimizer).
      // Distance metrics feed the heap the NEGATED score (the heap keeps
      // largest-first); the entry carries the real score, so output rank 1
      // is the smallest distance with the same id tie-break.
      val corpusCols = corpus.columns.toSeq.filterNot(_ == corpusVec)
      val entry = struct((corpusCols :+ "score").map(col): _*)
      val heapScore = if (ascending(metric)) -col("score") else col("score")
      val keys = ("query_id" +: payloadNames).map(col)
      scored
        .groupBy(keys: _*)
        .agg(top_k_rows(entry, heapScore, tieKey.get, k).as("__tk"))
        .select(keys :+ posexplode(col("__tk")).as(Seq("__pos", "__entry")): _*)
        .select(keys ++
          corpusCols.map(n => col(s"__entry.$n")) :+
          col("__entry.score").as("score") :+
          (col("__pos") + 1).cast("int").as("rank"): _*)
    } else {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(if (ascending(metric)) col("score").asc else col("score").desc,
          col(corpusId).asc)
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .drop("__query_vec", corpusVec)
    }
  }

  /**
   * Grouped search (the vector-backend `search_groups` API): for each
   * query, the top `kGroups` payload groups — ranked by their best hit —
   * each carrying its own top `groupSize` hits. The "best k distinct
   * sources/languages/authors" shape that plain top-k can't express
   * (one dominant group would fill all k slots).
   *
   * Scale shape: within-group top-k runs through the same bounded-heap
   * partial aggregate as [[knnJoin]] (shuffle ≤ |Q|·|groups|·groupSize
   * rows); the group ranking then windows over the per-group BEST rows
   * only — a |Q|·|groups|-sized frame, never the scored corpus.
   *
   * Output: query_id, the group column, `group_rank`, corpus payload,
   * `score`, `rank` (within group).
   */
  def knnJoinGrouped(
      queries: DataFrame, queryId: String, queryVec: String,
      corpus: DataFrame, corpusId: String, corpusVec: String,
      groupCol: String, groupSize: Int, kGroups: Int,
      excludeSelf: Boolean = true,
      metric: String = "cosine",
      roundScoreTo: Option[Int] = None,
      corpusFilter: Option[Column] = None,
      withLookup: Option[(DataFrame, String)] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c1 = corpusFilter.fold(corpus)(corpus.filter)
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val rawScore = score(metric)(col("__qv"), col(corpusVec))
    val scoreCol = roundScoreTo.fold(rawScore)(n => round(rawScore, n))
    val scored0 = broadcast(q).crossJoin(c1).withColumn("score", scoreCol)
    val scored =
      if (excludeSelf) scored0.filter(col("query_id") =!= col(corpusId))
      else scored0
    val corpusCols = corpus.columns.toSeq
      .filterNot(c => c == corpusVec || c == groupCol)
    val entry = struct((corpusCols :+ "score").map(col): _*)
    val heapScore = if (ascending(metric)) -col("score") else col("score")
    val within = scored
      .groupBy(col("query_id"), col(groupCol))
      .agg(top_k_rows(entry, heapScore,
        tieKeyForced(corpus.schema(corpusId).dataType, corpusId), groupSize).as("__tk"))
      .select(Seq(col("query_id"), col(groupCol),
        posexplode(col("__tk")).as(Seq("__pos", "__e"))): _*)
      .select(col("query_id") +: col(groupCol) +:
        corpusCols.map(n => col(s"__e.$n")) :+
        col("__e.score").as("score") :+
        (col("__pos") + 1).cast("int").as("rank"): _*)
    // Group ranking as two windows over `within` itself (r22): the previous
    // shape derived a `best` aggregate from `within` and joined it back —
    // Catalyst plans no common-subexpression sharing across DataFrame
    // reuse, so the ENTIRE |Q|·|C| scoring subtree executed twice per run.
    //  - the group's best score is the rank-1 entry's score, which under
    //    the heap's ordering is exactly max(score) for similarity metrics
    //    and min(score) for distance metrics — a frame-less window over
    //    (query_id, group), which reuses the heap aggregate's partitioning
    //    (same keys, no new exchange);
    //  - group_rank was row_number over one (best, group) row per group;
    //    on the per-hit frame the identical value is dense_rank over
    //    (best, group) — each group contributes exactly one DISTINCT sort
    //    key (groups are distinct), so dense_rank counts preceding groups
    //    exactly as row_number did on the deduped frame. One exchange of
    //    the |Q|·|groups|·groupSize result, never the scored corpus.
    val wBest = Window.partitionBy(col("query_id"), col(groupCol))
    val bestCol =
      if (ascending(metric)) min(col("score")).over(wBest)
      else max(col("score")).over(wBest)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(if (ascending(metric)) col("__best").asc else col("__best").desc,
        col(groupCol).asc)
    val grouped = within
      .withColumn("__best", bestCol)
      .withColumn("group_rank", dense_rank().over(wRank))
      .filter(col("group_rank") <= kGroups)
      .select(col("query_id") +: col(groupCol) +: col("group_rank") +:
        corpusCols.map(col) :+ col("score") :+ col("rank"): _*)
    withLookup.fold(grouped) { case (lookup, lookupId) =>
      attachGroupLookup(grouped, groupCol, lookup, lookupId)
    }
  }

  /** The backend's `with_lookup`: attach the GROUP KEY's record from a
    * lookup collection to every row of its group, columns prefixed
    * `lookup_`. The grouped result is |Q|·kGroups·groupSize rows — tiny
    * by contract — so it broadcasts into the lookup scan (the lookup
    * collection can be corpus-sized and is probed, never shuffled).
    * Public seam (r21) so a memoized grouped result can be re-dressed with
    * a lookup without re-running the grouped search — output identical to
    * passing `withLookup` into [[knnJoinGrouped]] by construction (that
    * path delegates here). */
  def attachGroupLookup(
      grouped: DataFrame, groupCol: String,
      lookup: DataFrame, lookupId: String): DataFrame = {
    val renamed = lookup.columns.foldLeft(lookup) { (df, c) =>
      if (c == lookupId) df else df.withColumnRenamed(c, s"lookup_$c")
    }
    // Probe first: group keys broadcast INTO the lookup scan (inner —
    // a preserved side can't be an outer join's build side), leaving a
    // keys-sized found set; the null-preserving outer join then runs
    // between two tiny frames with the found set as broadcast build.
    val keys = grouped.select(col(groupCol)).distinct()
    val found = renamed
      .join(broadcast(keys), renamed(lookupId) === keys(groupCol))
      .drop(keys(groupCol))
    grouped.join(broadcast(found), grouped(groupCol) === found(lookupId), "left")
      .drop(found(lookupId)) // by reference: groupCol may share the name
  }

  /**
   * Recommendation search (the vector-backend `recommend` API): rank the
   * corpus against a Rocchio-style composite query vector
   * `mean(positive examples) − mean(negative examples)`, excluding the
   * example points themselves. The canonical "more like these, less like
   * those" retrieval step.
   *
   * Scale shape: the example sets are a handful of user-chosen ids by
   * contract, so their vectors are a metadata-sized driver collect (the
   * id filter pushes into the scan — same precedent as IvfCollection's
   * probe-cell union); the composite vector then rides the plan as a
   * broadcast one-row query and the corpus STREAMS through the same
   * bounded-heap top-k as [[knnJoin]] — no shuffle of the corpus at any
   * size. The mean is computed in double and cast to float32 once, so an
   * oracle can reproduce the exact query vector.
   *
   * Output: corpus columns (minus the vector), `score`, `rank`.
   */
  def recommend(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      positiveIds: Seq[Long], negativeIds: Seq[Long] = Nil,
      k: Int = 10,
      roundScoreTo: Option[Int] = None,
      corpusFilter: Option[Column] = None,
      lookupFrom: Option[(DataFrame, String, String)] = None): DataFrame = {
    require(positiveIds.nonEmpty, "recommend needs at least one positive example")
    // The backend's `lookup_from`: example vectors resolve from ANOTHER
    // collection (frame, idCol, vecCol). Foreign id space ⇒ the searched
    // corpus does NOT exclude the example ids (they aren't its points).
    val (exFrame, exId, exVec) =
      lookupFrom.getOrElse((corpus, corpusId, corpusVec))
    def meanVec(ids: Seq[Long]): Array[Double] = {
      val rows = exFrame
        .filter(col(exId).isin(ids: _*))
        .select(col(exVec)).collect()
      require(rows.length == ids.distinct.length,
        s"recommend: ${ids.distinct.length} example ids matched ${rows.length} corpus rows")
      val dim = rows.head.getSeq[Float](0).length
      val acc = new Array[Double](dim)
      rows.foreach { r =>
        val v = r.getSeq[Float](0)
        var i = 0
        while (i < dim) { acc(i) += v(i); i += 1 }
      }
      acc.map(_ / rows.length)
    }
    val pos = meanVec(positiveIds)
    val neg =
      if (negativeIds.nonEmpty) meanVec(negativeIds)
      else new Array[Double](pos.length)
    val qv = Array.tabulate(pos.length)(i => (pos(i) - neg(i)).toFloat)
    val spark = corpus.sparkSession
    import spark.implicits._
    val queries = Seq((0L, qv)).toDF("__rec_id", "__rec_vec")
    val examples = (positiveIds ++ negativeIds).distinct
    val notExample =
      if (lookupFrom.isDefined) lit(true)
      else !col(corpusId).isin(examples: _*)
    val filt = corpusFilter.fold(notExample)(f => notExample && f)
    knnJoin(queries, "__rec_id", "__rec_vec", corpus, corpusId, corpusVec,
        k, excludeSelf = false, roundScoreTo = roundScoreTo,
        corpusFilter = Some(filt))
      .drop("query_id")
  }

  /**
   * Similarity matrix (the vector-backend `search_matrix_pairs` API):
   * pairwise top-k among a deterministic sample of the (optionally
   * filtered) corpus — the distance-matrix view used for clustering
   * diagnostics and dedup threshold tuning. Sampling is the engine-wide
   * seeded scheme ([[graft.bench.Sampling.seeded]]), so the pair set is
   * reproducible in any engine with md5. Work is sample², never corpus²:
   * the sample bound is the API contract (backend default 10), and both
   * sides of the scoring cross join are the same |sample|-row frame —
   * the corpus contributes one pruned (id, vec, filter-cols) scan.
   *
   * Output: `id_a`, `id_b`, `rank` (of b within a's neighbors), `score`.
   */
  def searchMatrix(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      sample: Int, k: Int,
      metric: String = "cosine",
      roundScoreTo: Option[Int] = None,
      corpusFilter: Option[Column] = None,
      seed: String = graft.bench.Sampling.defaultSeed): DataFrame = {
    val base = corpusFilter.fold(corpus)(corpus.filter)
    val sampled = graft.bench.Sampling.seeded(
      base.select(col(corpusId), col(corpusVec)), corpusId, sample, seed)
    knnJoin(sampled, corpusId, corpusVec, sampled, corpusId, corpusVec, k,
        excludeSelf = true, metric, roundScoreTo)
      .select(col("query_id").as("id_a"), col(corpusId).as("id_b"),
        col("rank"), col("score"))
  }

  /**
   * Discovery search (the vector-backend `discover` API): rank the corpus
   * by a TARGET vector under the constraint geometry of context pairs
   * (positive, negative example ids). Ranking is lexicographic — first by
   * CONTEXT SCORE, the number of pairs whose positive the candidate is
   * closer to than the negative (cosine, both sides rounded to 6 dp so
   * the comparison is cross-engine stable), then by similarity to the
   * target, then ascending id. The "steer retrieval away from a region
   * without excluding it" shape: a zero-pair call degrades to plain
   * target search.
   *
   * Scale shape: target + pair vectors are a handful of user-chosen ids —
   * a metadata-sized driver collect (id filter pushes into the scan);
   * they re-enter the plan as array literals inside codegen'd cosine
   * kernels, so the corpus STREAMS through one map-side pass and the
   * global top-k runs through the same bounded heap as [[knnJoin]]
   * (partial per partition, ≤ k rows merge — no corpus shuffle). The
   * lexicographic order is encoded as `context_score·4 + similarity`
   * (the gap of 4 dominates similarity's [-1, 1] range).
   *
   * Output: corpus columns (minus the vector), `context_score`, `score`
   * (similarity to target), `rank`.
   */
  def discover(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      targetId: Long, contextPairs: Seq[(Long, Long)],
      k: Int = 10,
      roundScoreTo: Option[Int] = None,
      corpusFilter: Option[Column] = None): DataFrame = {
    val exampleIds = (targetId +: contextPairs.flatMap(p => Seq(p._1, p._2))).distinct
    val rows = corpus
      .filter(col(corpusId).isin(exampleIds: _*))
      .select(col(corpusId).cast("long"), col(corpusVec))
      .collect()
    require(rows.length == exampleIds.length,
      s"discover: ${exampleIds.length} example ids matched ${rows.length} corpus rows")
    val vecs: Map[Long, Array[Float]] =
      rows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos6(v: Array[Float]): Column =
      round(cosine_similarity(col(corpusVec), typedLit(v)), 6)
    val ctx: Column =
      if (contextPairs.isEmpty) lit(0)
      else contextPairs
        .map { case (p, n) => when(cos6(vecs(p)) > cos6(vecs(n)), 1).otherwise(0) }
        .reduce(_ + _)
    val rawSim = cosine_similarity(col(corpusVec), typedLit(vecs(targetId)))
    val sim = roundScoreTo.fold(rawSim)(n => round(rawSim, n))
    val notExample = !col(corpusId).isin(exampleIds: _*)
    val filt = corpusFilter.fold(notExample)(f => notExample && f)
    val payloadCols = corpus.columns.toSeq.filterNot(_ == corpusVec)
    val scored = corpus.filter(filt)
      .withColumn("context_score", ctx)
      .withColumn("score", sim)
    val entry = struct((payloadCols :+ "context_score" :+ "score").map(col): _*)
    scored
      .agg(top_k_rows(entry, col("context_score") * 4 + col("score"),
        col(corpusId).cast("long"), k).as("__tk"))
      .select(posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(payloadCols.map(n => col(s"__e.$n")) :+
        col("__e.context_score").as("context_score") :+
        col("__e.score").as("score") :+
        (col("__pos") + 1).cast("int").as("rank"): _*)
  }

  /**
   * Search a [[graft.index.VectorCollection]], picking the metric from its
   * metadata: a collection built with `normalized = true` scores by raw
   * dot product (cosine ≡ dot on unit vectors, one multiply-add per
   * element cheaper) — the reference's `--normalized` intent
   * (main.py:19,30-34) as an automatic rewrite instead of a CLI knob.
   */
  /** `vectorName` selects one of a multi-vector collection's registered
    * vectors (named-vector points: a text embedding AND a code embedding
    * per document, say) — it must appear in the collection's vector
    * registry, and replaces `corpusVec` as the scored column. Leave it
    * None for single-vector collections. */
  def searchCollection(
      collection: graft.index.VectorCollection,
      queries: DataFrame, queryId: String, queryVec: String,
      corpusId: String, corpusVec: String,
      k: Int,
      excludeSelf: Boolean = true,
      roundScoreTo: Option[Int] = None,
      vectorName: Option[String] = None): DataFrame = {
    val scoredVec = vectorName.fold(corpusVec) { vn =>
      val registered = collection.vectorDims
      require(registered.exists(_._1 == vn),
        s"collection ${collection.name} has no vector '$vn'; registered: " +
          registered.map(_._1).mkString(", "))
      vn
    }
    val meta = collection.meta
    val normalized = meta.normalized
    // The collection's stored metric is authoritative — a collection
    // created for Euclid must not be silently searched by cosine. For
    // cosine on a normalized collection, rewrite to dot (≡ on unit
    // vectors, one multiply-add per element cheaper); the query side is
    // normalized here so callers can't silently feed unnormalized vectors
    // into the dot rewrite (idempotent for already-unit queries).
    val stored = meta.metric
    val metric = stored match {
      case "cosine" if normalized => "dot"
      case "cosine" | "dot" | "euclid" | "manhattan" => stored
      case other => throw new IllegalArgumentException(
        s"collection ${collection.name} has unsupported metric '$other'")
    }
    val q = if (stored == "cosine" && normalized)
      queries.withColumn(queryVec, graft.functions.l2_normalize(col(queryVec)))
    else queries
    knnJoin(q, queryId, queryVec, collection.load(), corpusId, scoredVec,
      k, excludeSelf, metric, roundScoreTo)
  }
}
