package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.IvfAssign
import graft.operators.Knn

/** IVF index as physical layout, not a runtime object (SURVEY §1.4, §2.4):
  * the reference's IVFFLAT (gamma_index_ivfflat.cc, faiss coarse KMeans +
  * nprobe list scan) becomes
  *
  *   build:  MLlib KMeans → `list_id` column → table partitioned by it
  *   search: driver picks `nprobe` nearest centroids (tiny local compute,
  *           = faiss quantizer search) → `list_id IN (...)` filter →
  *           partition pruning → exact scoring inside the probed lists.
  *
  * At 100 TB the probe filter prunes (ncentroids - nprobe)/ncentroids of
  * all parquet partitions BEFORE any IO — the same IO-skipping the
  * reference gets from its inverted lists. Training samples at most
  * `maxTrainRows` (vearch `training_threshold`, space.go:352-374) — KMeans
  * on a bounded sample, never the full corpus.
  */
object IvfIndex {

  /** Trained coarse quantizer. Tiny (ncentroids × dim floats); broadcast
    * by value inside expressions.
    */
  final case class Model(centroids: Array[Array[Float]], metric: String) {
    def ncentroids: Int = centroids.length

    /** Quantizer search on the driver: nprobe best centroid ids for a
      * query vector — mirrors faiss's quantizer->search before list scan.
      * METRIC-AWARE: an ip/cosine index ranks centroids by inner product
      * (an L2-ranked probe would skip the list holding a high-IP match
      * with a large norm); l2 ranks by squared distance.
      */
    def nearestCentroids(q: Seq[Float], nprobe: Int): Seq[Int] = {
      val qa = q.toArray
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        val n = math.min(c.length, qa.length)
        var d = 0
        if (metric == "ip" || metric == "cosine") {
          var dot = 0.0
          while (d < n) { dot += c(d).toDouble * qa(d); d += 1 }
          // cosine: normalize by the centroid norm (the query norm is a
          // constant factor that cannot change the ranking)
          if (metric == "cosine") {
            var cc = 0.0
            var j = 0
            while (j < c.length) { cc += c(j).toDouble * c(j); j += 1 }
            val nrm = math.sqrt(cc)
            (-(if (nrm == 0.0) 0.0 else dot / nrm), i)
          } else (-dot, i) // negate: best-first under the ascending sort
        } else {
          var s = 0.0
          while (d < n) { val x = c(d) - qa(d); s += x * x; d += 1 }
          (s, i)
        }
      }
      scored.sortBy(_._1).take(nprobe).map(_._2).toSeq
    }
  }

  /** Train the coarse quantizer on (a bounded sample of) the corpus. */
  def train(
      df: DataFrame,
      vecCol: String,
      ncentroids: Int,
      metric: String = "l2",
      seed: Long = 42L,
      maxTrainRows: Long = 1000000L,
      maxIter: Int = 20): Model = {
    // ingest conformance passes null vectors through (only wrong-dim rows
    // reject) — they must not reach KMeans (MLlib NPEs on null features)
    val clean = df.filter(col(vecCol).isNotNull)
    val total = clean.count()
    require(total > 0, "cannot train an IVF index on an empty corpus")
    val sampled =
      if (total > maxTrainRows) clean.sample(withReplacement = false, maxTrainRows.toDouble / total, seed)
      else clean
    val feats = sampled.select(array_to_vector(col(vecCol)).as("features"))
    // degenerate corpora: never ask for more centroids than rows
    val k = math.min(ncentroids.toLong, total).toInt
    val km = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter).fit(feats)
    val centers = km.clusterCenters.map(_.toArray.map(_.toFloat))
    Model(centers, metric)
  }

  /** Add `list_id` (codegen'd argmin over the centroid table) to a corpus.
    * The centroid table rides inside the expression — no per-model
    * function registration (those leak and can collide).
    */
  def assign(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("list_id",
      graft.Graft.columnOf(IvfAssign(graft.Graft.exprOf(col(vecCol)), model.centroids)))

  /** Build the physical index: corpus + list_id written partitioned by
    * list_id → searches touch only probed partitions (partition pruning).
    */
  def buildTable(df: DataFrame, vecCol: String, model: Model, path: String): Unit =
    assign(df, vecCol, model)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)

  /** Declarative probe predicate over `list_id` — correct row-wise on its
    * own; with [[graft.plans.RewriteIvfProbe]] installed it folds to a
    * static IN that becomes partition pruning. Prefer this form when the
    * probe should travel inside a larger plan (views, SQL).
    */
  def probeFilter(df: DataFrame, model: Model, q: Seq[Float], nprobe: Int): Column =
    graft.Graft.columnOf(graft.plans.IvfProbe(
      graft.Graft.exprOf(col("list_id")), model.centroids, q, nprobe))

  /** Batched IVF search (vearch `req_num` batch over an index): each
    * query's probe lists are computed driver-side (tiny quantizer search)
    * and ride in a broadcast queries table; ONE join
    * (`array_contains(lists, list_id)`) scores every query's probed
    * candidates in a single pass, and the bounded top-k aggregate keeps
    * the shuffle at |queries|·k rows — independent of corpus size. The
    * per-query-driver-loop formulation this replaces scans the corpus
    * once per query.
    *
    * Output: (_qid, _item, _score), best-first within each qid group.
    */
  def searchBatch(
      corpus: DataFrame, // carries list_id + the vector column
      vecCol: Column,
      payload: Column,
      queries: Seq[(Long, Seq[Float])],
      model: Model,
      k: Int,
      nprobe: Int,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val perQueryLists = queries.map { case (qid, q) =>
      (qid, q, model.nearestCentroids(q, nprobe))
    }
    val qDf = perQueryLists
      .toDF("_qid", "_qv", "_lists")
      .select(col("_qid"), col("_qv").cast("array<float>").as("_qv"), col("_lists"))
    // static pre-filter on the UNION of all probed lists: the
    // array_contains join condition alone is non-equi and cannot prune
    // partitions — without this, the batched path scans the whole table
    val union = perQueryLists.flatMap(_._3).distinct
    val pruned =
      if (union.isEmpty) corpus.limit(0)
      else corpus.filter(col("list_id").isin(union: _*))
    val cand = pruned.join(broadcast(qDf), array_contains(col("_lists"), col("list_id")))
    val scored0 = cand
      .select(col("_qid"), Knn.score(model.metric, vecCol, col("_qv")).as("_score"),
        payload.as("_item"))
      .filter(col("_score").isNotNull)
    // score-range gate IN-SCAN (gamma_common_data.h:94-96): candidates
    // outside [min,max] never reach the bounded per-qid heap
    val scored = Knn.scoreGate(scored0, minScore, maxScore)
    Knn.topKPerQuery(scored, queries.size, k, Knn.ascending(model.metric),
      "_item")
  }

  /** IVF search over an assigned corpus: probe filter then exact scoring.
    * `isBruteSearch` mirrors vearch's 0=index / 1=brute / 2=auto planner
    * switch (engine.cc:280-308): brute mode skips the probe filter.
    */
  def search(
      corpus: DataFrame,
      vecCol: Column,
      model: Model,
      q: Seq[Float],
      k: Int,
      nprobe: Int,
      isBruteSearch: Int = 0,
      filter: Option[Column] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      tieBreak: Option[Column] = None,
      roundTo: Option[Int] = None): DataFrame = {
    val brute = isBruteSearch == 1
    val probed =
      if (brute) corpus
      else {
        val lists = model.nearestCentroids(q, nprobe)
        corpus.filter(col("list_id").isin(lists: _*))
      }
    Knn.search(probed, vecCol, q, k, model.metric, filter, minScore, maxScore,
      tieBreak, roundTo)
  }

  /** IVF search over an INT8 corpus (value_type=INT8, index_model.h:19 —
    * the reference serves INT8 through every index family): the coarse
    * quantizer is trained/probed in the de-quantized float domain
    * (`qFloat` routes, [[graft.functions.VecKernels.dequantI8]] at
    * build), the probed lists score with the integer-accumulate kernels
    * against the symmetric-quantized query — exact-within-probe since
    * i8 scores are a fixed 127²(/127) scaling of the de-quantized float
    * scores (order-identical).
    */
  def searchInt8(
      corpus: DataFrame, // carries list_id + the int8 (binary) column
      vecCol: Column,
      model: Model,
      qFloat: Seq[Float],
      qBytes: Array[Byte],
      k: Int,
      nprobe: Int,
      filter: Option[Column] = None,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      tieBreak: Option[Column] = None,
      roundTo: Option[Int] = None): DataFrame = {
    val lists = model.nearestCentroids(qFloat, nprobe)
    val probed = corpus.filter(col("list_id").isin(lists: _*))
    Knn.searchInt8(probed, vecCol, qBytes, k, model.metric, filter,
      minScore, maxScore, tieBreak, roundTo)
  }

  /** Batched INT8 IVF (req_num flatten, doc_query.go:296-318): per-query
    * probe routes join on `list_id` equality carrying each query's int8
    * code; one scan of the probed-list union scores every query with the
    * integer kernels, bounded per-qid top-k. Output: (_qid, _item, _score).
    */
  def searchBatchInt8(
      corpus: DataFrame,
      vecCol: Column,
      payload: Column,
      queries: Seq[(Long, Seq[Float], Array[Byte])],
      model: Model,
      k: Int,
      nprobe: Int,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qlRows = queries.flatMap { case (qid, qf, qb) =>
      model.nearestCentroids(qf, nprobe).map(l => (qid, l, qb))
    }
    val qDf = qlRows.toDF("_qid", "list_id", "_qb")
    val union = qlRows.map(_._2).distinct
    val pruned =
      if (union.isEmpty) corpus.limit(0)
      else corpus.filter(col("list_id").isin(union: _*))
    val scoreCol = model.metric match {
      case "ip"   => graft.Graft.F.i8Dot(vecCol, col("_qb"))
      case "l2"   => graft.Graft.F.i8L2(vecCol, col("_qb"))
      case "l2sq" => graft.Graft.F.i8L2Sq(vecCol, col("_qb"))
      case other  => throw new IllegalArgumentException(s"unknown int8 metric: $other")
    }
    val scored0 = pruned.join(broadcast(qDf), Seq("list_id"))
      .select(col("_qid"), scoreCol.as("_score"), payload.as("_item"))
      .filter(col("_score").isNotNull)
    val scored = Knn.scoreGate(scored0, minScore, maxScore)
    Knn.topKPerQuery(scored, queries.size, k, Knn.ascending(model.metric),
      "_item")
  }
}
