package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.F
import graft.SparkEntry._
import graft.api.SearchApi
import graft.operators.{Dedup, Documents, HnswIndex, IvfIndex, Knn, KnnJoin, Multimodal, Packing, PqIndex, Sampling, Skew, TextOps, VearchFilters}
import graft.schema.Space

/** REST-surface queries: /document/search + /document/query over catalog/space declarations (searchAuto routing, CRUD, realtime tails).
  *
  * Split from SparkEntry (round 18) purely mechanically — same entries,
  * same helper surface (imported from [[graft.SparkEntry]]), no behavior
  * change. Declared-query docs and reference citations live on the
  * entries themselves.
  */
private[graft] object ApiEntries {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── §2.5 count: the only aggregation in the reference ──
    "q_count" -> ((s, dir) => {
      init(s)
      t(s, dir, "embeddings").agg(count(lit(1)).as("cnt"))
    }),

    // ── §2.1 get-by-ids (point lookup, request set) ──
    "q_get_by_ids" -> ((s, dir) => {
      init(s)
      t(s, dir, "embeddings")
        .filter(col("vec_id").isin(1L, 5L, 9L, 42L, 99L))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ── §2.3 range filters, AND-merged intervals ──
    "q_filter_range" -> ((s, dir) => {
      init(s)
      t(s, dir, "embeddings")
        .filter(col("label") >= 3 && col("label") < 7 && col("vec_id") < 200)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    // ── §2.3 OR across fields + != ──
    "q_filter_or" -> ((s, dir) => {
      init(s)
      events(s, dir)
        .filter((col("event_type") === "error" || col("value") > 95.0) &&
          col("user_id") =!= 7)
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value"), 2).as("value"))
        .orderBy(col("event_id"))
    }),

    // ── §2.1 delete by ids (engine.cc:869-899 bitmap ≡ anti-filter;
    //    null-safe: a null id deletes nothing) ──
    "q_delete_by_ids" -> ((s, dir) => {
      init(s)
      Documents.deleteByIds(t(s, dir, "documents"), "doc_id",
          Seq(1L, 2L, 3L, 10L, 25L, 100L, 250L, 499L))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── §2.3 date-value coercion on a datetime field (doc_query.go:
    //    1033-1045): the filter DSL's string dates parse to UnixNano and
    //    compare against the ns-normalized `ts`; oracle compares the same
    //    instants as native µs timestamps ──
    "q_filter_date" -> ((s, dir) => {
      init(s)
      val pred = VearchFilters.parse(
        """{"operator":"AND","conditions":[
             {"operator":">=","field":"ts","value":"2024-01-05 00:00:00"},
             {"operator":"<","field":"ts","value":"2024-01-07 00:00:00"},
             {"operator":"IN","field":"event_type","value":["click","purchase"]}]}""",
        dateFields = Set("ts"))
      events(s, dir).filter(pred)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // ── §2.5 filtered scan with default limit 50 (doc_query.go:43) ──
    "q_scan_limit" -> ((s, dir) => {
      init(s)
      events(s, dir)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
        .limit(50)
    }),

    // ── §2.6 pagination: page_size=20, page_num=3 → offset 40 ──
    "q_scan_page" -> ((s, dir) => {
      init(s)
      events(s, dir)
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"))
        .orderBy(col("event_id"))
        .offset(40).limit(20)
    }),

    // ── §2.1 upsert: insert-or-replace by id (MERGE semantics) ──
    "q_upsert" -> ((s, dir) => {
      init(s)
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val updates = base.filter(col("vec_id") < 10)
        .select(col("vec_id"), (col("label") + 100).as("label"))
        .unionByName(base.filter(col("vec_id") < 5)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("label")))
      Documents.upsert(base, updates, "vec_id").orderBy(col("vec_id"))
    }),

    // ── §2.1 delete-by-query ──
    "q_delete_by_query" -> ((s, dir) => {
      init(s)
      Documents.deleteByQuery(
        t(s, dir, "embeddings").select(col("vec_id"), col("label")),
        col("label") === 3 || col("vec_id") >= 400)
        .orderBy(col("vec_id"))
    }),

    // ── §2.1/§2.5 get-by-ids preserving request order ──
    "q_get_by_ids_ordered" -> ((s, dir) => {
      init(s)
      Documents.getByIds(t(s, dir, "embeddings"), "vec_id", Seq(42L, 7L, 99L, 3L))
        .select(col("_ord").as("ord"), col("vec_id"), col("label"))
    }),

    // ── §2.3 vearch filter-JSON DSL compiled to a Catalyst predicate ──
    "q_filter_json" -> ((s, dir) => {
      init(s)
      val pred = VearchFilters.parse(
        """{"operator":"AND","conditions":[
             {"operator":">=","field":"value","value":10},
             {"operator":"<","field":"value","value":20},
             {"operator":"IN","field":"event_type","value":["click","view"]}]}""")
      events(s, dir).filter(pred)
        .select(col("event_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // ── §2.3 stringArray term-match (IN = any element matches) ──
    "q_term_filter" -> ((s, dir) => {
      init(s)
      val docs = t(s, dir, "documents").withColumn("words", split(col("text"), " "))
      val pred = VearchFilters.parse(
        """{"operator":"AND","conditions":[
             {"operator":"IN","field":"words","value":["vector","spark"]},
             {"operator":"=","field":"lang","value":"en"}]}""",
        arrayFields = Set("words"))
      docs.filter(pred).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // ── §2.2+§2.4 ROUTED API search over an HNSW space — the full REST
    //    path (space JSON → searchAuto planner switch → READY graph
    //    generation → filter-bitmap walk → projection); efSearch ≥ corpus
    //    ⇒ exact, so the whole routing stack is oracle-checked ──
    "q_api_search_hnsw" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "filters":{"operator":"AND","conditions":[
          {"operator":"IN","field":"label","value":[1,3,5]}]},"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED requests through the index planner: req_num=3
    //    queries ride ONE flat feature array (doc_query.go:296-318) and
    //    route to the graph generation — one segment pass serves the
    //    whole batch (HnswIndex.searchBatch) instead of degrading to
    //    per-query brute force; efSearch ≥ corpus ⇒ exact, oracle-checked
    //    per-qid against DuckDB ──
    "q_api_search_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 the score filter's OTHER wire form ({"symbol":">=",
    //    "value":…} per vector condition, doc_query.go:72-73, applied
    //    :1220-1232): parses to the same min_score gate, so the routed
    //    gate loop serves it identically — oracled against the same
    //    selective-gate SQL as q_knn_score_range_routed ──
    "q_api_search_symbol" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")},
        "symbol":">=","value":1.41}],"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 per-condition `index_type` override (doc_query.go:277-283):
    //    "FLAT" on an INDEXED space forces the exact brute scan for this
    //    request — the reference's per-request brute switch in its
    //    index_type form (the decode switch :296-301). Exact ⇒ oracled
    //    against the brute L2 top-k ──
    "q_api_search_flat_override" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")},
        "index_type":"FLAT"}],"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED requests through the COMPRESSED index planner
    //    (round-11 gap: batched IVFPQ/IVFRABITQ/BINARYIVF fell back to
    //    brute FLAT): req_num=3 queries ride one flat feature array and
    //    route to the residual-PQ generation — one probed-list scan
    //    scores every query's ADC LUT, one shared rerank; full probe +
    //    full rerank ⇒ exact per-qid, oracle-checked ──
    "q_api_search_ivfpq_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"pq_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,"nsubvector":8}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apipq", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    "q_api_search_rabitq_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rb_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,"qb":4}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apirb", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // batched Hamming: per-query sign-binarized codes, full probe ⇒
    // exact per-qid Hamming top-k, re-derived bit-by-bit in DuckDB
    "q_api_search_binaryivf_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"bivf_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"BINARYIVF","params":{"ncentroids":8,"nprobe":8}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apibivf", sp, req)
    }),

    // ── §2.2+§2.4 ROUTED API search over a SPANN-CLUSTERED HNSW space:
    //    space JSON → searchAuto → READY clustered generation → centroid
    //    route = parquet PARTITION PRUNING of segment IO → walk → merge.
    //    Default nprobe = ncentroids + efSearch ≥ corpus ⇒ exact, so the
    //    clustered lifecycle + routing stack is oracle-checked ──
    "q_api_search_hnsw_routed" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnswr_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apihnswr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.2+§2.4 ROUTED API search over an IVFPQ space — the
    //    reference's default compressed index served from a space
    //    declaration (searchAuto → READY residual-PQ generation → ADC
    //    shortlist inside probed lists → recall_num exact rerank);
    //    nprobe = ncentroids + recall_num ≥ corpus ⇒ exact, oracled ──
    "q_api_search_ivfpq" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"pq_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,"nsubvector":8}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apipq", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.2+§2.4 ROUTED API search over an IVFRABITQ space: coarse
    //    probe ∘ residual sign-code qb-estimator shortlist ∘ recall_num
    //    exact rerank, all from the space declaration; full probe + full
    //    rerank ⇒ exact, oracled ──
    "q_api_search_rabitq" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"rb_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,"qb":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apirb", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.2+§2.4 ROUTED API search over a BINARYIVF space: the stored
    //    column IS the packed sign code; request floats binarize, the
    //    Hamming coarse quantizer probes nprobe lists (partition
    //    pruning), candidates rank by code Hamming; full probe ⇒ exact
    //    Hamming top-k, re-derived bit-by-bit in DuckDB ──
    "q_api_search_binaryivf" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"bivf_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"BINARYIVF","params":{"ncentroids":8,"nprobe":8}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apibivf", sp, req)
    }),

    // ── §2.2+§2.4 ROUTED API search over a DISKANN_STATIC space — the
    //    full REST path (space JSON → searchAuto → READY Vamana
    //    generation → beam walk → projection); request l_search ≥ corpus
    //    ⇒ exact, so the routing stack is oracle-checked ──
    "q_api_search_diskann" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"vam_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apivam", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.2+§2.4 ROUTED API search over a SPANN-CLUSTERED Vamana
    //    space: space JSON → searchAuto → READY clustered DiskANN-static
    //    generation → centroid route = parquet PARTITION PRUNING of
    //    segment IO → beam walk → merge. Default nprobe = ncentroids +
    //    l_search ≥ corpus ⇒ exact, so the clustered lifecycle + routing
    //    stack is oracle-checked — the storage-resident family gets the
    //    pruned-IO layout it needs most at scale ──
    "q_api_search_diskann_routed" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"vamr_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apivamr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED requests through the GRAPH index planner (round-12
    //    gap: batched DISKANN_STATIC/SSG fell back to brute FLAT):
    //    req_num=3 queries ride one flat feature array
    //    (doc_query.go:296-318) and route to the Vamana generation — one
    //    segment pass walks every query's beam (VamanaIndex.searchBatch)
    //    instead of degrading per-query; l_search ≥ corpus ⇒ exact
    //    per-qid blocks, oracle-checked ──
    "q_api_search_diskann_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"vam_space_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apivam", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED requests over the SPANN-CLUSTERED Vamana layout:
    //    the batch prunes segment IO to the UNION of every query's
    //    nprobe route (parquet partition pruning), then one pass walks
    //    all beams; default nprobe = ncentroids + l_search ≥ corpus ⇒
    //    exact per-qid, oracled ──
    "q_api_search_diskann_routed_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"vamr_space_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apivamr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED requests over the SPANN-CLUSTERED HNSW layout:
    //    same union-of-routes partition pruning, one segment pass per
    //    batch (HnswIndex.searchBatch); efSearch ≥ corpus ⇒ exact
    //    per-qid, oracled ──
    "q_api_search_hnsw_routed_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnswr_space_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apihnswr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.1+§2.4 STRING-PK spaces ride the routed indexes (round-12
    //    gap: every routed arm required an integral _id, so a string-PK
    //    corpus — the reference's PRIMARY id model, auto-generated UUIDs
    //    client.go:1197-1221 — always served brute FLAT). The `_docid`
    //    sidecar (Ingest.assignDocids; the reference maps every string
    //    _id to an int docid at ingest, engine.cc:730-745) routes the
    //    walk and bridges hits back to the string _id in the finisher.
    //    HNSW route WITH a scalar filter (allow-set collected in docid
    //    space); efSearch ≥ corpus + full probe ⇒ exact, oracled ──
    "q_api_search_hnsw_string" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"str_hnsw","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "filters":{"operator":"AND","conditions":[
          {"operator":"IN","field":"label","value":[1,3,5]}]},
        "limit":10}"""
      searchFixture(s, dir, "apistr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 INT8 value_type through the ROUTED IVF planner (round-16:
    //    the float-only guard is gone — the reference serves INT8 across
    //    families, index_model.h:19): the coarse quantizer probes with
    //    the float query (centroids trained de-quantized), probed lists
    //    score with integer-accumulate kernels against the
    //    symmetric-quantized query; nprobe = ncentroids ⇒ exact, so the
    //    whole INT8 route is oracle-checked ──
    "q_api_search_ivf_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_ivf","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8ivf", sp, req)
    }),

    // ── §2.4 INT8 BATCHED route: req_num=3 float queries quantize once,
    //    per-query probe routes join on list_id equality, one scan of
    //    the probed-list union scores every query with the integer
    //    kernels; full probe ⇒ exact per-qid blocks ──
    "q_api_search_ivf_int8_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_ivf_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"iv","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8ivf", sp, req)
    }),

    // ── §2.4 INT8 through the ROUTED GRAPH planner (round-16 sweep: the
    //    reference builds every index family over INT8, index_model.h:19
    //    — the graph families included): the HNSW generation stores the
    //    RAW code values widened to float, so the walk's
    //    Double-accumulated distances equal the integer kernels
    //    bit-for-bit; efSearch ≥ corpus ⇒ exact, whole route oracled ──
    "q_api_search_hnsw_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_hnsw","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "efSearch":1000000,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8hnsw", sp, req)
    }),

    // ── INT8 BATCHED graph route: req_num=3 queries quantize once and
    //    walk every segment in the same task pass (one deserialization
    //    amortized across the batch); per-qid exact blocks oracled ──
    "q_api_search_hnsw_int8_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_hnsw_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "efSearch":1000000,
                                "metric_type":"InnerProduct"}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"iv","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8hnsw", sp, req)
    }),

    // ── INT8 through the COMPRESSED family (IVFPQ): ADC shortlist over
    //    raw-code-domain codebooks, recallNum exact rerank with the
    //    INTEGER kernels; full probe + recall_num ≥ corpus ⇒ exact ──
    "q_api_search_ivfpq_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_ivfpq","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "recall_num":1000000,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8ivfpq", sp, req)
    }),

    "q_api_search_ivfpq_int8_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_ivfpq_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "recall_num":1000000,
                                "metric_type":"InnerProduct"}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"iv","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8ivfpq", sp, req)
    }),

    // ── INT8 through IVFRABITQ (residual sign codes in the raw-code
    //    domain, integer-kernel rerank); deep recall_num ⇒ exact —
    //    with this, INT8 rides EVERY non-binary index family ──
    "q_api_search_rabitq_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_rb","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apii8rb", sp, req)
    }),

    // ── INT8 through SCANN (anisotropic codebooks in the raw-code
    //    domain, integer-kernel rerank); deep recall_num ⇒ exact ──
    "q_api_search_scann_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_scann","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"SCANN",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apii8scann", sp, req)
    }),

    // ── INT8 through the DISKANN_STATIC (Vamana) route — the third
    //    family int8 rides (IVF probe scan, HNSW walk, Vamana beam
    //    walk); L ≥ corpus ⇒ exact, oracled like the others ──
    "q_api_search_diskann_int8" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_diskann","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":1000000,"beam_width":4,
                                "metric_type":"InnerProduct"}}}]}"""
      val req = s"""{"vectors":[{"field":"iv","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8vamana", sp, req)
    }),

    "q_api_search_diskann_int8_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"i8_diskann_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":1000000,"beam_width":4,
                                "metric_type":"InnerProduct"}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"iv","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apii8vamana", sp, req)
    }),

    // ── string-PK BATCHED graph route: req_num=3 through the batched
    //    HNSW arm over the docid sidecar, per-qid hits bridged back to
    //    the string _id in one broadcast join; efSearch ≥ corpus ⇒ exact
    //    per-qid blocks, oracled ──
    "q_api_search_hnsw_string_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"str_hnsw_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apistr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── string-PK through the IVF scan route: the layout carries the
    //    string _id, the deny gate keys on _docid; full probe ⇒ exact ──
    "q_api_search_ivf_string" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"str_ivf","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":16,"nprobe":16}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apistr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── rid-FREE string PK (r19): NO `_docid` sidecar at all — the
    //    hand-rolled shape that bypasses the catalog. The IVF scan
    //    family serves DIRECTLY (its layout carries the PK; hits report
    //    it natively and the payload join-back bridges on the string
    //    id); full probe ⇒ exact, same oracle as the sidecar twin ──
    "q_api_search_ivf_nodocid" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"nodocid_ivf","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":16,"nprobe":16}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],"limit":10}"""
      searchFixture(s, dir, "apinodocid", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── string-PK through the Vamana (DISKANN_STATIC) route ──
    "q_api_search_diskann_string" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"str_vam","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"DISKANN_STATIC",
                      "params":{"R":32,"L":64,"beam_width":4}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apistr", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 MULTI-FIELD conjunctive ROUTING through the API (round-13:
    //    previously every multi-vector request served exact FLAT even
    //    with indexes declared): each field's HNSW generation lives
    //    under the lifecycle's FIELD SCOPE, searchAuto walks both and
    //    intersects docids with the WeightedRanker — the reference's
    //    one-index-per-vector-field composition
    //    (vector_manager.cc:1024-1087). efSearch ≥ corpus ⇒ each
    //    per-field top-200 is exact ⇒ the whole composition oracles
    //    against the brute weighted intersection ──
    "q_api_search_multivec_routed" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimv", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 SSG declarations serve from the Vamana generation (both
    //    flat-graph RNG-family indexes — the alias GPU_* classes get to
    //    the CPU layouts): a space JSON written for SSG keeps real
    //    index-serving instead of the FLAT fallback; l_search ≥ corpus ⇒
    //    exact, oracled ──
    "q_api_search_ssg" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"ssg_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"SSG"}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"l_search":1048576},"limit":10}"""
      searchFixture(s, dir, "apivam", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 ROUTED API search over a SCANN space — the reference wraps
    //    Google ScaNN as third-party (impl/scann/); here the class is
    //    NATIVE: codebooks trained and codes assigned under the
    //    ANISOTROPIC (score-aware) loss of Guo et al. ICML 2020, served
    //    by the coarse-probe ∘ ADC ∘ recall_num-rerank composition. Full
    //    probe + full-depth rerank ⇒ exact, oracle-checked ──
    "q_api_search_scann" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"scann_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"SCANN","params":{"ncentroids":8,"nprobe":8}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apiscann2", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §3.1 the full REST request surface: search verb end-to-end ──
    "q_api_search" -> ((s, dir) => {
      init(s)
      val q = qvec(s, dir).mkString("[", ",", "]")
      SearchApi.search(embCorpus(s, dir), embSpace,
        s"""{"vectors":[{"field":"embedding","feature":$q}],
             "filters":{"operator":"AND","conditions":[
               {"operator":"IN","field":"label","value":[1,3,5]}]},
             "limit":12}""")
        .select(col("_id"), col("label"), round(col("_score"), 4).as("score"))
    }),

    // ── §3.2 the query verb: document_ids path, request order ──
    "q_api_query_ids" -> ((s, dir) => {
      init(s)
      SearchApi.query(embCorpus(s, dir), embSpace,
        """{"document_ids":["42","7","99"],"limit":50}""")
    }),

    // ── §2.6 sort spec (sortorder/parse.go:24-36): filtered scan ordered
    //    by a user sort, not the default _id order ──
    "q_api_sort" -> ((s, dir) => {
      init(s)
      SearchApi.query(embCorpus(s, dir), embSpace,
        """{"filters":{"operator":"AND","conditions":[
             {"operator":">=","field":"label","value":5}]},
           "sort":[{"label":{"order":"desc"}},{"_id":{"order":"asc"}}],
           "limit":30}""")
    }),

    // ── §2.10 RBAC: user/role CRUD + grant/revoke churn + the
    //    middleware's permission decision, as an effective-permission
    //    matrix (user_service.go / role_service.go / user.go:191-313).
    //    The oracle is the hand-derived truth table — every row is a
    //    (user × endpoint) decision after the privilege churn below ──
    "q_rbac_matrix" -> ((s, dir) => {
      init(s)
      import graft.api.Rbac
      val root = java.nio.file.Files.createTempDirectory("rbac_q").toString
      val rbac = new Rbac(root)
      rbac.ensureRoot("rootpw")
      // analyst: granted doc-read, upgraded to doc-write-read, space
      // grant later revoked — ends with exactly ResourceDocument=WriteRead
      rbac.createRole(Rbac.Role("analyst", Map(
        "ResourceDocument" -> "ReadOnly", "ResourceSpace" -> "ReadOnly")))
      rbac.changeRolePrivilege(Rbac.Role("analyst",
        Map("ResourceDocument" -> "WriteRead"), operator = Some(Rbac.OpGrant)))
      rbac.changeRolePrivilege(Rbac.Role("analyst",
        Map("ResourceSpace" -> "ReadOnly"), operator = Some(Rbac.OpRevoke)))
      rbac.createUser(Rbac.User("alice", Some("pw"), roleName = Some("analyst")))
      rbac.createUser(Rbac.User("bob", Some("pw"),
        roleName = Some("defaultSpaceAdmin")))
      val probes = Seq(
        ("/document/search", "POST"), ("/document/upsert", "POST"),
        ("/dbs/db1", "GET"), ("/dbs/db1/spaces/s1", "PUT"),
        ("/alias/a1", "GET"), ("/users", "POST"))
      val rows = for {
        usr <- Seq("alice", "bob", "root")
        (ep, m) <- probes
      } yield {
        val (resource, verb) = Rbac.parseResources(ep, m)
        val allowed = rbac.queryUser(usr).role.hasPermission(ep, m)
        (usr, ep, m, resource, verb, allowed)
      }
      import s.implicits._
      rows.toDF("usr", "endpoint", "method", "resource", "verb", "allowed")
        .orderBy(col("usr"), col("endpoint"), col("method"))
    }),
  )

  def oracles: Map[String, String] = Map(
    // hand-derived truth table: analyst ends the grant/revoke churn with
    // exactly ResourceDocument=WriteRead; defaultSpaceAdmin is the
    // builtin (Space/Document/Index WriteRead + Alias ReadOnly); root
    // bypasses the table (user.go:300-302)
    "q_rbac_matrix" ->
      """SELECT * FROM (VALUES
           ('alice','/alias/a1','GET','ResourceAlias','ReadOnly',false),
           ('alice','/dbs/db1','GET','ResourceDB','ReadOnly',false),
           ('alice','/dbs/db1/spaces/s1','PUT','ResourceSpace','WriteOnly',false),
           ('alice','/document/search','POST','ResourceDocument','ReadOnly',true),
           ('alice','/document/upsert','POST','ResourceDocument','WriteOnly',true),
           ('alice','/users','POST','ResourceUser','WriteOnly',false),
           ('bob','/alias/a1','GET','ResourceAlias','ReadOnly',true),
           ('bob','/dbs/db1','GET','ResourceDB','ReadOnly',false),
           ('bob','/dbs/db1/spaces/s1','PUT','ResourceSpace','WriteOnly',true),
           ('bob','/document/search','POST','ResourceDocument','ReadOnly',true),
           ('bob','/document/upsert','POST','ResourceDocument','WriteOnly',true),
           ('bob','/users','POST','ResourceUser','WriteOnly',false),
           ('root','/alias/a1','GET','ResourceAlias','ReadOnly',true),
           ('root','/dbs/db1','GET','ResourceDB','ReadOnly',true),
           ('root','/dbs/db1/spaces/s1','PUT','ResourceSpace','WriteOnly',true),
           ('root','/document/search','POST','ResourceDocument','ReadOnly',true),
           ('root','/document/upsert','POST','ResourceDocument','WriteOnly',true),
           ('root','/users','POST','ResourceUser','WriteOnly',true)
         ) AS t(usr, endpoint, method, resource, verb, allowed)
         ORDER BY usr, endpoint, method""",

    "q_api_search_hnsw" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         WHERE e.label IN (1,3,5)
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    "q_api_search_hnsw_routed" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    "q_api_search_binaryivf" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN (e.embedding[i] >= 0) <> (q.qe[i] >= 0)
                            THEN 1 ELSE 0 END)) AS DOUBLE) AS _score
         FROM embeddings e, q
         ORDER BY _score, e.vec_id LIMIT 10""",
    "q_api_search_rabitq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    "q_api_search_ivfpq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    "q_api_search_diskann" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    // realtime routes: base (vec_id >= 10, indexed) ∪ tail (vec_id < 10,
    // buffered) ≡ the FULL embeddings table — the oracle is the plain
    // exact top-10 over it; vec_id 0 (the query, in the TAIL) must head
    // the result, so a skipped buffer union is a missing top-1, not a
    // tail-end diff
    // clustered-Vamana route + SSG alias: exact at full probe/depth —
    // same oracle as the other routed-API exact queries
    "q_api_search_diskann_routed" -> apiExactTop10Sql,
    // batched graph routes (r12 gap closed): per-qid exact blocks at
    // full walk depth — plain, clustered-Vamana, clustered-HNSW
    "q_api_search_diskann_batch" -> apiBatchExactSql,
    "q_api_search_diskann_routed_batch" -> apiBatchExactSql,
    "q_api_search_hnsw_routed_batch" -> apiBatchExactSql,
    // string-PK routed serving (r12 gap closed): the _docid sidecar
    // routes, the finisher bridges to the string _id the oracle re-derives
    "q_api_search_hnsw_string" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT 'doc-' || CAST(e.vec_id AS VARCHAR) AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         WHERE e.label IN (1,3,5)
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, _id
         LIMIT 10""",
    "q_api_search_ivf_string" -> apiStrExactTop10Sql,
    // rid-free (no `_docid`) scan serve: same exact top-10, the route
    // itself is plan-discriminated in SearchApiSpec
    "q_api_search_ivf_nodocid" -> apiStrExactTop10Sql,
    "q_api_search_hnsw_string_batch" ->
      """WITH qs AS (SELECT vec_id AS _qid, embedding::DOUBLE[] AS v
                     FROM embeddings WHERE vec_id < 3),
         r AS (SELECT qs._qid, 'doc-' || CAST(e.vec_id AS VARCHAR) AS _id, e.label,
                      round(list_distance(e.embedding::DOUBLE[], qs.v), 4) AS _score,
                      row_number() OVER (PARTITION BY qs._qid
                        ORDER BY list_distance(e.embedding::DOUBLE[], qs.v) ASC,
                                 'doc-' || CAST(e.vec_id AS VARCHAR)) AS rn
               FROM embeddings e, qs)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    "q_api_search_diskann_string" -> apiStrExactTop10Sql,
    "q_api_search_ssg" -> apiExactTop10Sql,
    // multi-field conjunctive routed through per-field generations at
    // exact params ≡ the brute weighted per-field top-200 intersection;
    // the realtime twin's live view ≡ the full table by construction
    "q_api_search_multivec_routed" -> apiMultivecExactSql,
    // native SCANN route at full probe + full-depth rerank ⇒ exact
    "q_api_search_scann" -> apiExactTop10Sql,
    // batched route: per-qid exact top-10 blocks (qid = position in the
    // flat feature array = vec_id 0..2 by construction)
    "q_api_search_batch" ->
      """WITH qs AS (SELECT vec_id AS _qid, embedding::DOUBLE[] AS v
                     FROM embeddings WHERE vec_id < 3),
         r AS (SELECT qs._qid, e.vec_id AS _id, e.label,
                      round(list_distance(e.embedding::DOUBLE[], qs.v), 4) AS _score,
                      row_number() OVER (PARTITION BY qs._qid
                        ORDER BY list_distance(e.embedding::DOUBLE[], qs.v) ASC,
                                 e.vec_id) AS rn
               FROM embeddings e, qs)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    "q_api_search_ivf_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_ivf_int8_batch" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         qs AS (SELECT vec_id AS _qid, iv AS qv FROM c WHERE vec_id < 3),
         h AS (SELECT qs._qid, c.vec_id AS _id, c.label,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> c.iv[i] * qs.qv[i])) AS DOUBLE) AS _score
               FROM c, qs),
         r AS (SELECT *, row_number() OVER (PARTITION BY _qid
                 ORDER BY _score DESC, _id) AS rn FROM h)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    // the int8 GRAPH route serves the same exact quantized-IP top-k as
    // the int8 IVF route (both are exact at their fixture operating
    // points) — the oracle recomputes the integer-domain scores
    "q_api_search_hnsw_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_hnsw_int8_batch" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         qs AS (SELECT vec_id AS _qid, iv AS qv FROM c WHERE vec_id < 3),
         h AS (SELECT qs._qid, c.vec_id AS _id, c.label,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> c.iv[i] * qs.qv[i])) AS DOUBLE) AS _score
               FROM c, qs),
         r AS (SELECT *, row_number() OVER (PARTITION BY _qid
                 ORDER BY _score DESC, _id) AS rn FROM h)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    // the IVFPQ/SCANN/IVFRABITQ int8 routes (full probe, corpus-deep
    // recall_num, integer-kernel rerank) serve the same exact
    // quantized-IP top-k
    "q_api_search_rabitq_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_scann_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_ivfpq_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_ivfpq_int8_batch" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         qs AS (SELECT vec_id AS _qid, iv AS qv FROM c WHERE vec_id < 3),
         h AS (SELECT qs._qid, c.vec_id AS _id, c.label,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> c.iv[i] * qs.qv[i])) AS DOUBLE) AS _score
               FROM c, qs),
         r AS (SELECT *, row_number() OVER (PARTITION BY _qid
                 ORDER BY _score DESC, _id) AS rn FROM h)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    // the Vamana int8 route serves the same exact quantized-IP top-k
    "q_api_search_diskann_int8" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id AS _id, c.label,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS _score
         FROM c, q
         ORDER BY _score DESC, c.vec_id LIMIT 10""",
    "q_api_search_diskann_int8_batch" ->
      """WITH c AS (SELECT vec_id, label,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         qs AS (SELECT vec_id AS _qid, iv AS qv FROM c WHERE vec_id < 3),
         h AS (SELECT qs._qid, c.vec_id AS _id, c.label,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> c.iv[i] * qs.qv[i])) AS DOUBLE) AS _score
               FROM c, qs),
         r AS (SELECT *, row_number() OVER (PARTITION BY _qid
                 ORDER BY _score DESC, _id) AS rn FROM h)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    // the symbol wire form parses to the SAME min_score gate
    "q_api_search_symbol" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         WHERE list_distance(e.embedding::DOUBLE[], q.v) >= 1.41
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    // index_type:"FLAT" on the indexed space = the exact brute top-k
    "q_api_search_flat_override" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    // batched compressed routes: same per-qid exact blocks (full probe +
    // full-depth rerank ⇒ exact)
    "q_api_search_ivfpq_batch" -> apiBatchExactSql,
    "q_api_search_rabitq_batch" -> apiBatchExactSql,
    "q_api_search_binaryivf_batch" ->
      """WITH qs AS (SELECT vec_id AS _qid, embedding AS qe
                     FROM embeddings WHERE vec_id < 3),
         h AS (SELECT qs._qid, e.vec_id AS _id, e.label,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> CASE WHEN (e.embedding[i] >= 0) <> (qs.qe[i] >= 0)
                                  THEN 1 ELSE 0 END)) AS DOUBLE) AS _score
               FROM embeddings e, qs),
         r AS (SELECT *, row_number() OVER (PARTITION BY _qid
                 ORDER BY _score, _id) AS rn FROM h)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",

    "q_count" ->
      "SELECT count(*) AS cnt FROM embeddings",

    "q_get_by_ids" ->
      """SELECT vec_id, label FROM embeddings
         WHERE vec_id IN (1,5,9,42,99) ORDER BY vec_id""",

    "q_filter_range" ->
      """SELECT vec_id, label FROM embeddings
         WHERE label >= 3 AND label < 7 AND vec_id < 200 ORDER BY vec_id""",

    "q_filter_or" ->
      """SELECT event_id, user_id, event_type, round(value, 2) AS value
         FROM events
         WHERE (event_type = 'error' OR value > 95.0) AND user_id <> 7
         ORDER BY event_id""",

    "q_delete_by_ids" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (1, 2, 3, 10, 25, 100, 250, 499)
         ORDER BY doc_id""",

    "q_filter_date" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
           AND ts <  TIMESTAMP '2024-01-07 00:00:00'
           AND event_type IN ('click', 'purchase')
         ORDER BY event_id""",

    "q_scan_limit" ->
      """SELECT event_id, user_id FROM events WHERE event_type = 'click'
         ORDER BY event_id LIMIT 50""",

    "q_scan_page" ->
      """SELECT event_id, user_id FROM events WHERE event_type = 'view'
         ORDER BY event_id LIMIT 20 OFFSET 40""",

    "q_upsert" ->
      """WITH upd AS (
           SELECT vec_id, label + 100 AS label FROM embeddings WHERE vec_id < 10
           UNION ALL
           SELECT vec_id + 1000000 AS vec_id, label FROM embeddings WHERE vec_id < 5)
         SELECT vec_id, label FROM (
           SELECT vec_id, label FROM embeddings
           WHERE vec_id NOT IN (SELECT vec_id FROM upd)
           UNION ALL SELECT vec_id, label FROM upd)
         ORDER BY vec_id""",

    "q_delete_by_query" ->
      """SELECT vec_id, label FROM embeddings
         WHERE NOT (label = 3 OR vec_id >= 400) ORDER BY vec_id""",

    "q_get_by_ids_ordered" ->
      """SELECT t.ord, e.vec_id, e.label
         FROM (VALUES (0, 42), (1, 7), (2, 99), (3, 3)) AS t(ord, id)
         JOIN embeddings e ON e.vec_id = t.id
         ORDER BY t.ord""",

    "q_filter_json" ->
      """SELECT event_id, event_type FROM events
         WHERE value >= 10 AND value < 20 AND event_type IN ('click','view')
         ORDER BY event_id""",

    "q_term_filter" ->
      """SELECT doc_id FROM documents
         WHERE list_has_any(string_split(text, ' '), ['vector','spark'])
           AND lang = 'en'
         ORDER BY doc_id""",

    "q_api_search" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         c AS (SELECT CAST(vec_id AS VARCHAR) AS _id, label, embedding FROM embeddings)
         SELECT c._id, c.label,
                round(list_dot_product(c.embedding::DOUBLE[], q.v), 4) AS score
         FROM c, q WHERE c.label IN (1,3,5)
         ORDER BY list_dot_product(c.embedding::DOUBLE[], q.v) DESC, c._id
         LIMIT 12""",

    "q_api_query_ids" ->
      """SELECT CAST(e.vec_id AS VARCHAR) AS _id, e.label
         FROM (VALUES ('42', 0), ('7', 1), ('99', 2)) AS t(id, ord)
         JOIN embeddings e ON CAST(e.vec_id AS VARCHAR) = t.id
         ORDER BY t.ord""",

    "q_api_sort" ->
      """SELECT CAST(vec_id AS VARCHAR) AS _id, label FROM embeddings
         WHERE label >= 5
         ORDER BY label DESC, CAST(vec_id AS VARCHAR) ASC LIMIT 30""",
  )
}
