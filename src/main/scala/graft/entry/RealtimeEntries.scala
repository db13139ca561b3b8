package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.F
import graft.SparkEntry._
import graft.api.SearchApi
import graft.operators.{Dedup, Documents, HnswIndex, IvfIndex, Knn, KnnJoin, Multimodal, Packing, PqIndex, Sampling, Skew, TextOps, VearchFilters}
import graft.schema.Space

/** realtime-serving queries: every index family's base-index ∪ brute-tail merge, single and batched, streaming ingest included.
  *
  * Split from SparkEntry (round 18) purely mechanically — same entries,
  * same helper surface (imported from [[graft.SparkEntry]]), no behavior
  * change. Declared-query docs and reference citations live on the
  * entries themselves.
  */
private[graft] object RealtimeEntries {
  /** The `apimvrt` fixture space: the `v1`/`v2` halves, each with an
    * inner-product HNSW generation over the base, and a realtime tail.
    */
  private val mvRtSpace = """{"name":"mv_rt","enable_realtime":true,"fields":[
      {"name":"label","type":"integer","index":{"type":"SCALAR"}},
      {"name":"v1","type":"vector","dimension":32,
       "index":{"type":"HNSW",
                "params":{"nlinks":16,"efConstruction":100,
                          "metric_type":"InnerProduct"}}},
      {"name":"v2","type":"vector","dimension":32,
       "index":{"type":"HNSW",
                "params":{"nlinks":16,"efConstruction":100,
                          "metric_type":"InnerProduct"}}}]}"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── §2.4+§2.8 TAIL-AWARE multi-field conjunctive, composed by hand
    //    over two single-condition requests: each field's request serves
    //    its HNSW generation ∪ the buffered tail into its OWN per-field
    //    top-k, THEN the docid intersection + WeightedRanker — the
    //    reference merges the buffer into the per-field searches
    //    themselves (vector_manager.cc:1024-1176). The tail holds the
    //    query vector, so both per-field top-1s are buffered docs; exact
    //    params (efSearch ≥ |shard|) ⇒ the composition oracles against the
    //    same brute intersection as q_knn_multivec over the live view ≡
    //    full table. Each leg asks for `_id` alone, so it is the lazy
    //    ranked hits of its walk ∪ tail, with no payload fetch ──
    "q_knn_multivec_realtime" -> ((s, dir) => {
      init(s)
      val q = qvec(s, dir)
      def leg(field: String, qv: Seq[Float], score: String) =
        searchFixture(s, dir, "apimvrt", mvRtSpace,
          s"""{"vectors":[{"field":"$field","feature":${qv.mkString("[", ",", "]")}}],
            "fields":["_id"],"index_params":{"efSearch":1048576},"limit":100}""")
          .select(col("_id").as("vec_id"), col("_score").as(score))
      leg("v1", q.take(32), "_s0").join(leg("v2", q.drop(32), "_s1"), "vec_id")
        .withColumn("_score", col("_s0") * 0.5 + col("_s1") * 0.5)
        .orderBy(col("_score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("_s0"), 4).as("score0"),
          round(col("_s1"), 4).as("score1"), round(col("_score"), 4).as("score"))
    }),

    // ── §2.8 string-PK REALTIME: base ∪ buffered tail through the HNSW
    //    route, tail merge keyed on the _docid BOTH legs carry (the tail
    //    holds the query vector — a route that skips the buffer or the
    //    bridge misses its top-1); exact params ⇒ oracled over the live
    //    view ≡ the full table ──
    "q_hnsw_string_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"str_rt","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apistrrt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4+§2.8 multi-field conjunctive with a LIVE TAIL through the
    //    API: the buffer unions into EACH field's walk BEFORE the docid
    //    intersection (vector_manager.cc:1096-1176); the tail holds the
    //    query vector, so the intersection's top-1 is a buffered doc ──
    "q_api_search_multivec_realtime" -> ((s, dir) => {
      init(s)
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvrt", mvRtSpace, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.8 REALTIME serving (`enable_realtime`, SURVEY §2.8): each
    //    family's routed search unions the streaming TAIL (fresh writes
    //    not yet folded by the compaction loop) into the READY base
    //    generation — the reference's buffer-over-index merge
    //    (vector_manager.cc:941-1012,1096-1176 scans the memory buffer
    //    into EVERY index type's search). The fixture's tail holds
    //    vec_id 0-9 — including the query vector itself (distance 0) —
    //    so a route that skips the buffer is missing its TOP-1, and the
    //    live view ≡ the full embeddings table, so exact params
    //    hash-oracle against plain exact top-k in DuckDB ──
    "q_ivf_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_ivf","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":16,"nprobe":16}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.8 realtime with a STREAM-PRODUCED tail: the fixture's buffer
    //    comes from an actual startIngest run (readStream → checkpointed
    //    parquet sink → stop), so the oracle covers the streaming
    //    plumbing end-to-end, not just a pre-split parquet pair ──
    "q_ivf_realtime_stream" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_ivf_s","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":16,"nprobe":16}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirtstream", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_ivfpq_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_pq","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,"nsubvector":8}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_hnsw_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_hnsw","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_rabitq_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_rb","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,"qb":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.8 BATCHED realtime: req_num=3 queries through the routed IVF
    //    planner with a live tail — per-qid base ∪ tail merge
    //    (mergeTail); all three query vectors live in the TAIL, so
    //    every qid's top-1 is a buffered doc; full probe ⇒ exact per-qid
    //    blocks over the live view ≡ the full table, oracle-checked ──
    "q_ivf_batch_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_ivf_b","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":16,"nprobe":16}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_ivfpq_batch_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_pq_b","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,"nsubvector":8}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.8 BATCHED realtime through the GRAPH families: req_num=3
    //    with a live tail — the per-qid base ∪ tail merge
    //    (mergeTail) over one segment pass that walks every
    //    query's beam; every query vector is a TAIL doc, so each qid's
    //    top-1 is a buffered write; exact params ⇒ per-qid exact blocks
    //    over the live view ≡ the full table, oracle-checked ──
    "q_hnsw_batch_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_hnsw_b","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_diskann_batch_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_vam_b","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // binary family: the tail rows carry packed codes — the brute tail
    // leg ranks by code Hamming exactly like the probed base lists
    "q_binaryivf_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_bivf","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"BINARYIVF","params":{"ncentroids":8,"nprobe":8}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apirtb", sp, req)
    }),

    "q_diskann_realtime" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rt_vam","enable_realtime":true,"fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apirt", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_hnsw_string_realtime" -> apiStrExactTop10Sql,
    "q_api_search_multivec_realtime" -> apiMultivecExactSql,
    "q_ivf_realtime" -> apiExactTop10Sql,
    // stream-produced tail (startIngest → checkpointed sink → stop):
    // same live view ≡ full table, same exact oracle
    "q_ivf_realtime_stream" -> apiExactTop10Sql,
    // batched realtime routes: per-qid exact blocks over the live view
    // (≡ the full table; every query vector is a TAIL doc)
    "q_ivf_batch_realtime" -> apiBatchExactSql,
    "q_ivfpq_batch_realtime" -> apiBatchExactSql,
    // batched GRAPH realtime (r13): per-qid exact blocks over base∪tail
    "q_hnsw_batch_realtime" -> apiBatchExactSql,
    "q_diskann_batch_realtime" -> apiBatchExactSql,
    "q_ivfpq_realtime" -> apiExactTop10Sql,
    "q_hnsw_realtime" -> apiExactTop10Sql,
    "q_rabitq_realtime" -> apiExactTop10Sql,
    "q_diskann_realtime" -> apiExactTop10Sql,
    // binary realtime: exact Hamming over the full table (live view),
    // re-derived bit-by-bit — same as the non-realtime binaryivf oracle
    "q_binaryivf_realtime" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN (e.embedding[i] >= 0) <> (q.qe[i] >= 0)
                            THEN 1 ELSE 0 END)) AS DOUBLE) AS _score
         FROM embeddings e, q
         ORDER BY _score, e.vec_id LIMIT 10""",
    // tail-aware per-field merges at exact params ≡ the brute per-field
    // top-100 intersection over the live view (≡ the full table by
    // fixture construction) — same oracle as the brute twin
    "q_knn_multivec_realtime" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         b AS (SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v1,
                      (embedding::DOUBLE[])[33:64] AS v2 FROM embeddings),
         f0 AS (SELECT vec_id, list_dot_product(v1, (SELECT v[1:32] FROM q)) AS s0
                FROM b ORDER BY s0 DESC LIMIT 100),
         f1 AS (SELECT vec_id, list_dot_product(v2, (SELECT v[33:64] FROM q)) AS s1
                FROM b ORDER BY s1 DESC LIMIT 100),
         j AS (SELECT f0.vec_id, s0, s1, s0 * 0.5 + s1 * 0.5 AS sc
               FROM f0 JOIN f1 USING (vec_id))
         SELECT vec_id, round(s0, 4) AS score0, round(s1, 4) AS score1,
                round(sc, 4) AS score
         FROM j ORDER BY sc DESC, vec_id LIMIT 10""",
  )
}
