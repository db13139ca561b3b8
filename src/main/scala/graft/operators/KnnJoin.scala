package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.functions.IvfProbeLists

/** k-NN JOIN: every row of a QUERY TABLE gets its top-k neighbors from a
  * corpus — the batch primitive behind embedding-based dedup-across-
  * datasets, retrieval augmentation, and nearest-label transfer in a
  * training-data pipeline. The reference serves one request at a time
  * (`req_num` query vectors per call, doc_query.go:296-318); the join
  * formulation is the same computation with the query side as a table.
  *
  * Two physical shapes:
  *  - [[brute]]: query side broadcast against the corpus scan. Exact.
  *    Right when |Q| is bounded (a batch, a probe set) — one corpus pass
  *    total, shuffle |Q|·k rows.
  *  - [[ivf]]: both sides large. Each query computes its `nprobe` probe
  *    lists with a per-row quantizer expression (NO driver collect of the
  *    query side), explodes to (list_id, query) rows, and equi-joins the
  *    corpus on `list_id`. Over an `IndexStore.ivfFlat`-style layout the
  *    corpus arrives already partitioned by `list_id`; AQE broadcasts the
  *    exploded query side when it is small, otherwise both sides hash-
  *    partition on `list_id` — the canonical distributed ANN join. Probed
  *    work is (|Q|·nprobe/ncentroids) of the cross product; the bounded-
  *    heap aggregate keeps the output shuffle at |Q|·k rows regardless of
  *    corpus size. `nprobe = ncentroids` degenerates to exact (the oracle
  *    twin); skewed hot lists take the standard salting escape
  *    ([[Skew.saltedJoin]]) since the candidate join is a plain equi-join.
  */
object KnnJoin {

  /** Exact brute-force k-NN join (broadcast query side).
    * Output: (_qid, _item, _score), best-first within each qid.
    */
  def brute(
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      corpus: DataFrame,
      vecCol: Column,
      payload: Column,
      k: Int,
      metric: String = "l2"): DataFrame =
    Knn.searchBatch(corpus, vecCol, payload, queries, qidCol, qvecCol, k, metric)

  /** IVF-pruned k-NN join over a `list_id`-assigned corpus (see object
    * doc). Output: (_qid, _item, _score), best-first within each qid.
    */
  def ivf(
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      corpus: DataFrame, // carries list_id + the vector column
      vecCol: Column,
      payload: Column,
      model: IvfIndex.Model,
      k: Int,
      nprobe: Int): DataFrame = {
    val probes = queries
      .select(col(qidCol).as("_qid"), col(qvecCol).as("_qv"))
      .filter(col("_qv").isNotNull)
      .withColumn("list_id", explode(Graft.columnOf(IvfProbeLists(
        Graft.exprOf(col("_qv")), model.centroids, nprobe, model.metric))))
    val scored = corpus.join(probes, Seq("list_id"))
      .select(col("_qid"),
        Knn.score(model.metric, vecCol, col("_qv")).as("_score"),
        payload.as("_item"))
      .filter(col("_score").isNotNull)
    Knn.topKPerQuery(scored, Knn.QueryTable, k, Knn.ascending(model.metric),
      "_item")
  }
}
