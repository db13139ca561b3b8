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

  /** The probed candidates of a query batch: `corpus` rows in the union
    * of every query's probe lists (a static `list_id IN`, so partition
    * pruning), each paired with every query `(qid, query)` whose `lists`
    * hold its list, as the struct column `_q` (fields `_1`, `_2`). The
    * batch rides the plan as literals, with no broadcast job: per list id
    * the positions of the queries probing it, read at `list_id` and
    * exploded, then each position's query ([[Knn.atPosition]]). A row
    * meets only its list's queries, as in an equi-join on `list_id`.
    */
  private[graft] def probed[Q: scala.reflect.runtime.universe.TypeTag](
      corpus: DataFrame, queries: Seq[(Long, Q)],
      lists: Seq[Seq[Int]]): DataFrame = {
    val union = lists.flatten.distinct
    val byList = Array.fill(if (union.isEmpty) 0 else union.max + 1)(Seq.empty[Int])
    lists.zipWithIndex.foreach { case (ls, pos) =>
      ls.distinct.foreach(l => byList(l) = byList(l) :+ pos) }
    corpus.filter(col("list_id").isin(union: _*))
      .withColumn("_p", explode(element_at(typedLit(byList.toSeq),
        col("list_id").cast("int") + 1)))
      .withColumn("_q", Knn.atPosition(queries, col("_p")))
  }

  /** Batched IVF search (vearch `req_num` batch over an index; a single
    * query is a batch of one): each query's probe lists are computed
    * driver-side (tiny quantizer search) and each candidate meets only
    * the queries probing its list ([[probed]]), so one pass scores every
    * query's probed candidates with no query-table broadcast; the per-query
    * merge ([[Knn.topKPerQuery]]) keeps the shuffle at |queries|·k rows —
    * independent of corpus size.
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
    val scored0 = probed(corpus, queries,
        queries.map { case (_, q) => model.nearestCentroids(q, nprobe) })
      .select(col("_q._1").as("_qid"),
        Knn.score(model.metric, vecCol, col("_q._2")).as("_score"),
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

  /** Batched INT8 IVF (req_num flatten, doc_query.go:296-318): the
    * coarse quantizer routes each query's FLOAT vector (centroids live in
    * the de-quantized domain), and one scan of the probed-list union
    * scores every query's int8 code with the integer kernels, bounded
    * per-qid top-k. Output: (_qid, _item, _score).
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
    val scored0 = probed(corpus, queries.map { case (qid, _, qb) => (qid, qb) },
        queries.map { case (_, qf, _) => model.nearestCentroids(qf, nprobe) })
      .select(col("_q._1").as("_qid"),
        Knn.scoreInt8(model.metric, vecCol, col("_q._2")).as("_score"),
        payload.as("_item"))
      .filter(col("_score").isNotNull)
    val scored = Knn.scoreGate(scored0, minScore, maxScore)
    Knn.topKPerQuery(scored, queries.size, k, Knn.ascending(model.metric),
      "_item")
  }
}
