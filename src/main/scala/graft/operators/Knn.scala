package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.F

/** Brute-force (FLAT) KNN search — the vearch hot path re-expressed as a
  * declarative Spark plan (reference: Engine::Search
  * internal/engine/search/engine.cc:248-408, FLAT scan
  * internal/engine/index/impl/gamma_index_flat.cc).
  *
  * Execution shape at scale: `filter → score → TakeOrderedAndProject`.
  * Spark's TakeOrderedAndProject IS the distributed analog of vearch's
  * per-partition top-k heap + router k-way merge (client.go:1497-1576):
  * each partition keeps a bounded heap of k rows, the driver merges P×k
  * rows. No full sort, no big shuffle — survives 100 TB scans.
  *
  * Scalar filter-first (engine.cc:355-373) is free here: a `filter` before
  * the score is pushed to the parquet scan by Catalyst, so the distance
  * kernel only runs on candidate rows.
  */
object Knn {

  /** Score column for a vearch metric. `ip` and `cosine` are
    * higher-is-better, `l2`/`l2sq` lower-is-better (doc_query.go:1526-1528
    * forces the sort direction from the metric).
    */
  def score(metric: String, vec: Column, query: Column): Column = metric match {
    case "ip"     => F.vecDot(vec, query)
    case "l2"     => F.vecL2(vec, query)
    case "l2sq"   => F.vecL2Sq(vec, query)
    case "cosine" => F.vecCosine(vec, query)
    case other    => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  def ascending(metric: String): Boolean = metric.startsWith("l2")

  def queryLit(q: Seq[Float]): Column = typedLit(q).cast("array<float>")

  /** Single-query top-k. Result = input columns + `_score`, best-first.
    * `filter` = vearch scalar pre-filter; `minScore`/`maxScore` = the
    * score-range gate (doc_query.go:67-78, applied in-scan
    * gamma_common_data.h:94-96).
    */
  def search(
      df: DataFrame,
      vecCol: Column,
      query: Seq[Float],
      k: Int,
      metric: String = "l2",
      filter: Option[Column] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      tieBreak: Option[Column] = None,
      roundTo: Option[Int] = None): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    // null vectors score null; drop them explicitly — `asc` sorts NULLS
    // FIRST in Spark, so they would otherwise head every L2 top-k
    val scored = filtered.withColumn("_score", score(metric, vecCol, queryLit(query)))
      .filter(col("_score").isNotNull)
    val gated = scoreGate(scored, minScore, maxScore)
    // order by the RAW score (bit-stable, matches a sequential oracle);
    // rounding is display-only and must happen AFTER selection — rounding
    // first would flip rank for scores that collide at the rounded
    // precision but differ in raw value.
    val primary = if (ascending(metric)) col("_score").asc else col("_score").desc
    val order = primary +: tieBreak.map(_.asc).toSeq
    val selected = gated.orderBy(order: _*).limit(k)
    roundTo.map(d => selected.withColumn("_score", round(col("_score"), d)))
      .getOrElse(selected)
  }

  /** Score column for int8-encoded (binary) vectors — the INT8 value type
    * (index_model.h:19): integer-accumulate kernels over signed bytes.
    */
  def scoreInt8(metric: String, vec: Column, query: Column): Column = metric match {
    case "ip"   => F.i8Dot(vec, query)
    case "l2"   => F.i8L2(vec, query)
    case "l2sq" => F.i8L2Sq(vec, query)
    case other  => throw new IllegalArgumentException(s"unknown int8 metric: $other")
  }

  /** Brute-force top-k over int8-encoded vectors. Same plan shape as
    * [[search]] (filter → score → TakeOrderedAndProject) with 1/4 the
    * scan bytes per vector.
    */
  def searchInt8(
      df: DataFrame,
      vecCol: Column,
      query: Array[Byte],
      k: Int,
      metric: String = "ip",
      filter: Option[Column] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      tieBreak: Option[Column] = None,
      roundTo: Option[Int] = None): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    val scored = filtered
      .withColumn("_score", scoreInt8(metric, vecCol, lit(query)))
      .filter(col("_score").isNotNull)
    val gated = scoreGate(scored, minScore, maxScore)
    val primary = if (ascending(metric)) col("_score").asc else col("_score").desc
    val order = primary +: tieBreak.map(_.asc).toSeq
    val selected = gated.orderBy(order: _*).limit(k)
    roundTo.map(d => selected.withColumn("_score", round(col("_score"), d)))
      .getOrElse(selected)
  }

  /** A batch's per-query values as one literal array, read per row at
    * the query's 0-based position `pos` in the batch: an O(1) array read,
    * where a literal map keyed by qid is searched linearly per row.
    */
  private[graft] def atPosition[T: scala.reflect.runtime.universe.TypeTag](
      values: Seq[T], pos: Column): Column =
    element_at(typedLit(values), pos.cast("int") + 1)

  /** The exact-rerank score of shortlist rows whose query sits at
    * position `pos` of the batch ([[atPosition]], no query-table join):
    * the float vectors under the metric kernels, or, for int8 spaces, the
    * quantized codes under the integer kernels.
    */
  private[graft] def rerankScore(metric: String, vecCol: Column,
      queries: Seq[(Long, Seq[Float])],
      int8: Option[Seq[(Long, Array[Byte])]], pos: Column): Column = int8 match {
    case Some(codes) => scoreInt8(metric, vecCol, atPosition(codes.map(_._2), pos))
    case None => score(metric, vecCol, atPosition(queries.map(_._2), pos))
  }

  /** The score-range gate (doc_query.go:67-78), shared by every value-type
    * path — gates apply BEFORE top-k selection. Shared with the routed
    * index families: the reference applies the same gate IN-SCAN at heap
    * admission for every index type (gamma_common_data.h:94-96), so the
    * scan-shaped index operators call this on their scored candidates
    * before their bounded top-k — fully distributed, no over-fetch.
    */
  private[graft] def scoreGate(scored: DataFrame,
      minScore: Option[Double], maxScore: Option[Double]): DataFrame =
    (minScore, maxScore) match {
      case (Some(lo), Some(hi)) => scored.filter(col("_score").between(lo, hi))
      case (Some(lo), None)     => scored.filter(col("_score") >= lo)
      case (None, Some(hi))     => scored.filter(col("_score") <= hi)
      case _                    => scored
    }

  /** Brute-force top-k over packed binary codes (value_type=BINARY /
    * BINARYIVF class): Hamming distance, ascending. The stored value IS
    * the code — there are no raw floats to rerank against.
    */
  def searchBinary(
      df: DataFrame,
      vecCol: Column,
      qCode: Array[Byte],
      k: Int,
      filter: Option[Column] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      tieBreak: Option[Column] = None): DataFrame = {
    val filtered = filter.map(df.filter).getOrElse(df)
    val scored = filtered
      .withColumn("_score", F.hamming(vecCol, lit(qCode)).cast("double"))
      .filter(col("_score").isNotNull)
    val gated = scoreGate(scored, minScore, maxScore)
    val order = col("_score").asc +: tieBreak.map(_.asc).toSeq
    gated.orderBy(order: _*).limit(k)
  }

  /** Batched multi-query KNN (vearch `req_num` query vectors per request,
    * doc_query.go:296-318): the query set is broadcast against the corpus,
    * then a bounded-heap aggregate keeps top-k per query id.
    *
    * Scale: shuffle volume is |queries| × k rows (partial aggregation
    * reduces each partition to k per qid map-side) — independent of corpus
    * size.
    *
    * @param queries small DataFrame with columns (qidCol, qvecCol)
    * @return columns: qid, item struct fields..., _score — best-first per qid
    */
  def searchBatch(
      corpus: DataFrame,
      vecCol: Column,
      payload: Column,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      metric: String = "l2",
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      offset: Int = 0,
      // value_type dispatch (index_model.h:19): non-float corpora plug
      // their own kernel (int8 integer-accumulate, binary Hamming) —
      // `metric` still drives the sort direction
      scoreFn: Option[(Column, Column) => Column] = None): DataFrame = {
    val q = queries.select(col(qidCol).as("_qid"), col(qvecCol).as("_qvec"))
    topKOfPairs(corpus.crossJoin(broadcast(q)), col("_qid"), col("_qvec"),
      QueryTable, vecCol, payload, k, metric, minScore, maxScore, offset, scoreFn)
  }

  /** [[searchBatch]] over a batch the driver holds, e.g. a request's own
    * `(qid, query)` vectors (a single query is a batch of one): the
    * queries ride the plan as one literal array exploded per row — the
    * pairs of the broadcast cross join, with no broadcast job — and the
    * known query count picks the per-query merge ([[topKPerQuery]]).
    * A query is a float vector, or an int8 / binary code under `scoreFn`.
    */
  def searchBatchLocal[Q: scala.reflect.runtime.universe.TypeTag](
      corpus: DataFrame,
      vecCol: Column,
      payload: Column,
      queries: Seq[(Long, Q)],
      k: Int,
      metric: String = "l2",
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      offset: Int = 0,
      scoreFn: Option[(Column, Column) => Column] = None): DataFrame =
    topKOfPairs(corpus.withColumn("_q", explode(typedLit(queries))),
      col("_q._1"), col("_q._2"), queries.size, vecCol, payload, k, metric,
      minScore, maxScore, offset, scoreFn)

  /** Score every (row, query) pair of `pairs`, gate, and keep each
    * query's top k (`nq` as in [[topKPerQuery]]).
    */
  private def topKOfPairs(pairs: DataFrame, qid: Column, qvec: Column,
      nq: Int, vecCol: Column, payload: Column, k: Int, metric: String,
      minScore: Option[Double], maxScore: Option[Double], offset: Int,
      scoreFn: Option[(Column, Column) => Column]): DataFrame = {
    val scorer = scoreFn.getOrElse((v: Column, qc: Column) => score(metric, v, qc))
    val scored = pairs
      .select(qid.as("_qid"),
        scorer(vecCol, qvec).as("_score"),
        payload.as("_item"))
      .filter(col("_score").isNotNull)
    // gates apply BEFORE selection — vearch's in-scan score gate
    // (gamma_common_data.h:94-96); gating after top-k would return fewer
    // than k rows even when enough in-range docs exist
    val gated = scoreGate(scored, minScore, maxScore)
    topKPerQuery(gated, nq, k, ascending(metric), "_item", offset = offset)
  }

  /** Query count of a query TABLE (a DataFrame the driver never counts):
    * its merge runs per qid.
    */
  private[graft] val QueryTable: Int = Int.MaxValue

  /** The per-query top-k merge every batched search ends in: `hits` rows
    * (_qid, `item`, `score`) → (_qid, `item`, `score`), best-first within
    * each qid, ranks `offset+1 .. offset+k` of each query kept. `nq` is
    * the query count the caller knows on the driver:
    *  - one query: `ORDER BY score, item LIMIT offset+k` — Spark's
    *    TakeOrderedAndProject, no `_qid` exchange;
    *  - more: the bounded TopKAgg heap per qid, shuffling at most k rows
    *    per query per partition.
    * Both return the same rows: null scores never rank, and TopKAgg breaks
    * exact-score ties by the item's native order, ascending — the sort's
    * tie key here.
    */
  def topKPerQuery(hits: DataFrame, nq: Int, k: Int, asc: Boolean,
      item: String = "vec_id", score: String = "_score",
      offset: Int = 0): DataFrame =
    if (nq <= 1) {
      val top = hits.filter(col(score).isNotNull)
        .select(col("_qid"), col(item), col(score))
        .orderBy(if (asc) col(score).asc else col(score).desc, col(item).asc)
        .limit(k + offset)
      if (offset > 0) top.offset(offset) else top
    } else {
      val agged = hits.groupBy(col("_qid"))
        .agg(F.topK(col(score), col(item), k + offset, asc).as("_tk"))
      val sliced =
        if (offset > 0) agged.withColumn("_tk", slice(col("_tk"), offset + 1, k))
        else agged
      sliced.select(col("_qid"), explode(col("_tk")).as("_e"))
        .select(col("_qid"), col("_e.item").as(item), col("_e.score").as(score))
    }

  /** Multi-vector conjunctive search (vearch: N vector conditions on
    * different fields; per-field top-k, docid INTERSECTION, combined score
    * = Σ wᵢ·scoreᵢ — vector_manager.cc:859,1024-1087; WeightedRanker
    * doc_query.go:201-216, default weight 1/N). Every field scores with
    * `metric`; the tests' brute-force reference for the routed and FLAT
    * conjunctions.
    *
    * Inner join on the id ≡ their sorted-docid seek-merge intersection.
    */
  def multiVectorSearch(
      df: DataFrame,
      idCol: String,
      fields: Seq[(Column, Seq[Float])], // (vector column, query vector) per field
      perFieldK: Int,
      k: Int,
      metric: String = "l2",
      weights: Option[Seq[Double]] = None): DataFrame = {
    require(fields.nonEmpty)
    val w = weights.getOrElse(Seq.fill(fields.size)(1.0 / fields.size))
    require(w.size == fields.size)
    val dir = (c: Column) => if (ascending(metric)) c.asc else c.desc
    val perField = fields.zipWithIndex.map { case ((vc, qv), i) =>
      df.select(col(idCol), score(metric, vc, queryLit(qv)).as(s"_s$i"))
        .filter(col(s"_s$i").isNotNull) // null vectors must not head asc order
        .orderBy(dir(col(s"_s$i")), col(idCol).asc) // deterministic k-boundary
        .limit(perFieldK)
    }
    val joined = perField.reduceLeft((a, b) => a.join(b, Seq(idCol), "inner"))
    val combined = fields.indices
      .map(i => col(s"_s$i") * lit(w(i)))
      .reduceLeft(_ + _)
    joined.withColumn("_score", combined)
      .orderBy(dir(col("_score")), col(idCol).asc).limit(k)
      .select((col(idCol) +: fields.indices.map(i => col(s"_s$i")) :+ col("_score")): _*)
  }
}
