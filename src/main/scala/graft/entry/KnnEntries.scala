package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft.F
import graft.SparkEntry._
import graft.api.SearchApi
import graft.operators.{Dedup, Documents, HnswIndex, IvfIndex, Knn, KnnJoin, Multimodal, Packing, PqIndex, Sampling, Skew, TextOps, VearchFilters}
import graft.schema.Space

/** brute-force vector queries: FLAT KNN across metrics/value types, multi-vector conjunctions, k-NN joins, embedding near-dup.
  *
  * Split from SparkEntry (round 18) purely mechanically — same entries,
  * same helper surface (imported from [[graft.SparkEntry]]), no behavior
  * change. Declared-query docs and reference citations live on the
  * entries themselves.
  */
private[graft] object KnnEntries {
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── SQL dialect surface: the same KNN expressed in pure spark.sql
    //    over a registered view + the registered graft functions ──
    "q_knn_sql" -> ((s, dir) => {
      init(s)
      t(s, dir, "embeddings").createOrReplaceTempView("emb_sql_v")
      val q = qvec(s, dir).mkString("array(", ",", ")")
      s.sql(
        s"""SELECT vec_id,
                   round(vec_l2(embedding, CAST($q AS array<float>)), 4) AS score
            FROM emb_sql_v
            WHERE vec_l2(embedding, CAST($q AS array<float>)) IS NOT NULL
            ORDER BY vec_l2(embedding, CAST($q AS array<float>)) ASC, vec_id
            LIMIT 10""")
    }),

    // ── §2.4 KNN brute-force, InnerProduct (desc) ──
    "q_knn_ip" -> ((s, dir) => {
      init(s)
      Knn.search(t(s, dir, "embeddings"), col("embedding"), qvec(s, dir),
        k = 10, metric = "ip", tieBreak = Some(col("vec_id")), roundTo = Some(4))
        .select(col("vec_id"), col("_score").as("score"))
    }),

    // ── §2.4 KNN brute-force, L2 (asc, sqrt'd — l2_sqrt semantics) ──
    "q_knn_l2" -> ((s, dir) => {
      init(s)
      Knn.search(t(s, dir, "embeddings"), col("embedding"), qvec(s, dir),
        k = 10, metric = "l2", tieBreak = Some(col("vec_id")), roundTo = Some(4))
        .select(col("vec_id"), col("_score").as("score"))
    }),

    // ── §2.4 KNN cosine ──
    "q_knn_cosine" -> ((s, dir) => {
      init(s)
      Knn.search(t(s, dir, "embeddings"), col("embedding"), qvec(s, dir),
        k = 10, metric = "cosine", tieBreak = Some(col("vec_id")), roundTo = Some(4))
        .select(col("vec_id"), col("_score").as("score"))
    }),

    // ── §2.4 hybrid: scalar pre-filter + KNN (the flagship shape) ──
    "q_knn_filtered" -> ((s, dir) => {
      init(s)
      Knn.search(t(s, dir, "embeddings"), col("embedding"), qvec(s, dir),
        k = 10, metric = "ip",
        filter = Some(col("label").isin(1, 3, 5) && col("vec_id") =!= 0),
        tieBreak = Some(col("vec_id")), roundTo = Some(4))
        .select(col("vec_id"), col("label"), col("_score").as("score"))
    }),

    // ── §2.4 score-range gate (min_score) ──
    "q_knn_score_range" -> ((s, dir) => {
      init(s)
      Knn.search(t(s, dir, "embeddings"), col("embedding"), qvec(s, dir),
        k = 100, metric = "cosine", minScore = Some(0.2),
        tieBreak = Some(col("vec_id")), roundTo = Some(4))
        .select(col("vec_id"), col("_score").as("score"))
    }),

    // ── §2.4 batched KNN: req_num query vectors, per-qid top-k ──
    "q_knn_batch" -> ((s, dir) => {
      init(s)
      val emb = t(s, dir, "embeddings")
      // query vectors are a REQUEST batch (req_num-bounded collect, the
      // doc_query wire shape) — a local relation, so the brute-force
      // broadcast build side is provably corpus-independent
      import s.implicits._
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
        .toDF("qid", "qv")
      Knn.searchBatch(emb, col("embedding"), struct(col("vec_id")), queries,
        "qid", "qv", k = 5, metric = "l2")
        .select(col("_qid").as("qid"), col("_item.vec_id").as("vec_id"),
          round(col("_score"), 4).as("score"))
        .orderBy(col("qid"), col("score"), col("vec_id"))
    }),

    // ── §2.4 multi-vector conjunctive search + WeightedRanker ──
    "q_knn_multivec" -> ((s, dir) => {
      init(s)
      val emb = t(s, dir, "embeddings")
      val two = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      val q = qvec(s, dir)
      Knn.multiVectorSearch(two, "vec_id",
        Seq((col("v1"), q.take(32)), (col("v2"), q.drop(32))),
        perFieldK = 100, k = 10, metric = "ip")
        .select(col("vec_id"), round(col("_s0"), 4).as("score0"),
          round(col("_s1"), 4).as("score1"), round(col("_score"), 4).as("score"))
    }),

    // ── §2.4 conjunction over MIXED VALUE TYPES (float v1 ∧ int8 iv2,
    //    index_model.h:19): each condition scores through its field's
    //    own distance path — float metric kernels for v1, symmetric
    //    quantization + integer kernels for iv2 — then the usual docid
    //    intersection + WeightedRanker; request-surface (SearchApi) ──
    "q_knn_multivec_int8" -> ((s, dir) => {
      init(s)
      val emb = t(s, dir, "embeddings")
      val two = emb.select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        graft.Graft.F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"))
      val sp = graft.schema.Space.fromJson(
        """{"name":"mv_i8","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}},
            {"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
             "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"iv2","feature":${q.drop(32).mkString("[", ",", "]")}}],"limit":10}"""
      SearchApi.search(two, sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 multi-field conjunctive over INDEXES: each field routes
    //    through its OWN graph generation (over-fetched per-field top-k),
    //    results intersect on docid, weighted-sum re-rank — the
    //    reference's per-field index intersection
    //    (vector_manager.cc:1024-1087) instead of the brute per-field
    //    scans of q_knn_multivec. ef ≥ |shard| ⇒ each per-field list is
    //    exact, so the whole composition is oracle-checked against the
    //    SAME SQL as the brute twin ──
    "q_knn_multivec_routed_exact" -> ((s, dir) => {
      init(s)
      val (segsA, segsB) = graft.sources.IndexStore.hnswMultiField(s, dir)
      val q = qvec(s, dir)
      val f0 = HnswIndex.search(segsA, q.take(32), k = 100, ef = 1 << 30,
        metric = "ip").select(col("vec_id"), col("_score").as("_s0"))
      val f1 = HnswIndex.search(segsB, q.drop(32), k = 100, ef = 1 << 30,
        metric = "ip").select(col("vec_id"), col("_score").as("_s1"))
      f0.join(f1, "vec_id")
        .withColumn("_score", col("_s0") * 0.5 + col("_s1") * 0.5)
        .orderBy(col("_score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("_s0"), 4).as("score0"),
          round(col("_s1"), 4).as("score1"), round(col("_score"), 4).as("score"))
    }),

    // ── §2.4 the same routed intersection at the real operating point
    //    (ef=64 per-field walks): the beams recover the exact per-field
    //    top-100 on this fixture, so the composition oracles against the
    //    same intersection SQL as the exact twin (hash-checked since
    //    r18); recall at lossy points pinned in RecallGateSpec ──
    "q_knn_multivec_routed" -> ((s, dir) => {
      init(s)
      val (segsA, segsB) = graft.sources.IndexStore.hnswMultiField(s, dir)
      val q = qvec(s, dir)
      val f0 = HnswIndex.search(segsA, q.take(32), k = 100, ef = 64,
        metric = "ip").select(col("vec_id"), col("_score").as("_s0"))
      val f1 = HnswIndex.search(segsB, q.drop(32), k = 100, ef = 64,
        metric = "ip").select(col("vec_id"), col("_score").as("_s1"))
      f0.join(f1, "vec_id")
        .withColumn("_score", col("_s0") * 0.5 + col("_s1") * 0.5)
        .orderBy(col("_score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("_s0"), 4).as("score0"),
          round(col("_s1"), 4).as("score1"), round(col("_score"), 4).as("score"))
    }),

    // NOTE: the quadratic all-pairs baseline (Dedup.embeddingNearDupExact,
    // a data-by-data BroadcastNestedLoopJoin by construction) is
    // intentionally NOT a declared query — the declared surface contains
    // no corpus-by-corpus nested-loop plan (PlanEvidenceSpec asserts
    // this). DedupSpec keeps it as the brute-force check;
    // q_embed_neardup_knn carries the same oracle.

    // ── pipeline: scale-safe exact embedding near-dup — IVF list_id
    //    equi-join at nprobe=ncentroids reproduces the all-pairs result
    //    without a BroadcastNestedLoopJoin ──
    "q_embed_neardup_knn" -> ((s, dir) => {
      init(s)
      // build-once layout (reference build-vs-search split): the query
      // times probe-join + exact verify, never the KMeans fit
      val (ndTable, ndModel) = graft.sources.IndexStore.neardupIvf(s, dir)
      Dedup.embeddingNearDupKnnPrebuilt(ndTable, ndModel, "vec_id", "embedding",
        threshold = 0.4, nprobe = 16)
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── pipeline: embedding near-dup via hyperplane LSH. Scale policy
    //    unchanged: plane count ∝ log(n/64) so candidate work stays
    //    LINEAR (the fixed-plane anti-policy measured 17× wall-clock at
    //    10× rows, BENCH_SCALING r11). Planes are corpus rows and the
    //    bit decision runs in the int8-quantized domain (integer dot
    //    signs — bit-for-bit SQL-replayable, 4× cheaper per projection),
    //    so the WHOLE pipeline — bucket gen, pair join, cosine verify —
    //    oracles against DuckDB (hash-checked since r18) ──
    "q_embed_neardup_lsh" -> ((s, dir) => {
      init(s)
      val embT = t(s, dir, "embeddings")
      val n = embT.count()
      val np = math.max(4, math.ceil(
        math.log(math.max(1L, n / 64L).toDouble) / math.log(2.0)).toInt)
      val planeRows = embT
        .filter(col("vec_id") >= 100 && col("vec_id") < 100 + 8 * np)
        .orderBy(col("vec_id")).select("embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val planes = (0 until 8).map(ti =>
        (0 until np).map(pi => planeRows(ti * np + pi)).toSeq).toSeq
      Dedup.embeddingNearDupLsh(embT, "vec_id", "embedding",
        dim = 64, threshold = 0.4, numTables = 8,
        quantPlanes = Some(planes))
        .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ── §2.4 SCORE-GATED ROUTED serving (min_score, doc_query.go:67-78):
    //    the gate (distance ≥ median) excludes EVERY near neighbor, so
    //    the graph arm's driver-bounded gate loop MUST depth-double to
    //    corpus exhaustion before it can prove the gated top-k — the
    //    selective-gate shape that used to fall back to FLAT. efSearch ≥
    //    corpus ⇒ each probe is exact ⇒ the final gated top-k is
    //    oracle-exact (gate-before-select) ──
    "q_knn_score_range_routed" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val req = s"""{"vectors":[{"field":"embedding","feature":${qvec(s, dir).mkString("[", ",", "]")},
        "min_score":1.41}],"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 SCORE-GATED BATCH (req_num=3 share the condition's gate —
    //    doc_query.go:296-318 flattens them; the reference applies gates
    //    in-scan for any req_num, gamma_common_data.h:94-96): the batched
    //    gate loop iterates until EVERY query has k gated survivors or
    //    exhausts — per-qid oracle-exact ──
    "q_knn_score_range_batch" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"hnsw_space","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"embedding","type":"vector","dimension":64,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,"efSearch":1000000}}}]}"""
      val flat = batchRows(s, dir).flatten
      val req = s"""{"vectors":[{"field":"embedding","feature":${flat.mkString("[", ",", "]")},
        "min_score":1.41}],"limit":10}"""
      searchFixture(s, dir, "apihnsw", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 MIXED-family conjunctive routing (round-16: the all-HNSW
    //    guard is gone): v1 serves through its HNSW generation, v2
    //    through its IVFFLAT generation — the (docid, score)
    //    intersection is family-agnostic, as in the reference
    //    (vector_manager.cc:1024-1087 intersects per-field results for
    //    any family combination). ef ≥ corpus and nprobe = ncentroids ⇒
    //    each leg exact ⇒ the composition shares the brute oracle ──
    "q_knn_multivec_mixed_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_mixed","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvmixed", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 conjunction over the COMPRESSED families through the
    //    ROUTED path (late r16): v1 serves from its IVFPQ generation
    //    (ADC shortlist ∘ exact rerank), v2 from its IVFRABITQ
    //    generation (sign-code estimator ∘ exact rerank) — the docid
    //    intersection is family-agnostic (vector_manager.cc:1024-1087).
    //    Full probe + corpus-deep recall ⇒ both legs exact, oracled ──
    "q_knn_multivec_pq_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_pq","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvpq", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 INT8 conjunction through the ROUTED path (late r16): both
    //    legs are int8 fields with their OWN generations — iv1 walks its
    //    raw-code-domain HNSW graph, iv2 probes its de-quantized-domain
    //    IVF lists and scores in-scan with the integer kernels — then
    //    the usual docid intersection + WeightedRanker. ef ≥ corpus and
    //    nprobe = ncentroids ⇒ both legs exact, whole route oracled ──
    "q_knn_multivec_int8_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_i8r","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"iv1","type":"vector","dimension":32,"value_type":"int8",
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"iv1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"iv2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvint8", sp, req)
    }),

    // ── §2.3+§2.4 SCALAR-FILTERED mixed-family conjunction through the
    //    routed path (r16): the filter rides EACH leg — in-scan inside
    //    the IVF leg's probed lists, allow-functor into the HNSW leg's
    //    walk (vector_manager.cc:1024-1087 ∘ engine.cc:355-373); exact
    //    params ⇒ equals the filtered brute conjunction, oracled ──
    "q_knn_multivec_filtered_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_mixed_f","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")}},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")}}],
        "filters":{"operator":"AND","conditions":[
          {"operator":"IN","field":"label","value":[1,3,5]}]},
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvmixed", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 per-condition SCORE GATES on a routed conjunction (r16):
    //    each condition's min_score gates ITS leg before the docid
    //    intersection (gamma_common_data.h:94-96 per condition) — the
    //    IVF leg in-scan, the HNSW leg through the distributed gate
    //    loop; exact params ⇒ equals the gated brute conjunction ──
    "q_knn_multivec_gated_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_mixed_g","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val q = qvec(s, dir)
      val req = s"""{"vectors":[
          {"field":"v1","feature":${q.take(32).mkString("[", ",", "]")},
           "min_score":0.05},
          {"field":"v2","feature":${q.drop(32).mkString("[", ",", "]")},
           "min_score":0.05}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvmixed", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 BATCHED (req_num=3) mixed-family conjunction through the
    //    routed path (r16): each field's batch serves its READY
    //    generation in ONE pass (graph batch walk / IVF probe-union
    //    scan), then the (qid, docid) intersection + WeightedRanker
    //    (doc_query.go:296-318 ∘ vector_manager.cc:1024-1087); exact
    //    params ⇒ equals the per-qid brute conjunction, oracled ──
    "q_knn_multivec_batch_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_mixed_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"HNSW",
                      "params":{"nlinks":16,"efConstruction":100,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFFLAT",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val qrows = batchRows(s, dir)
      val f1 = qrows.flatMap(_.take(32))
      val f2 = qrows.flatMap(_.drop(32))
      val req = s"""{"vectors":[
          {"field":"v1","feature":${f1.mkString("[", ",", "]")}},
          {"field":"v2","feature":${f2.mkString("[", ",", "]")}}],
        "index_params":{"efSearch":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvmixed", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── batched conjunction over the COMPRESSED families (late r16):
    //    one ADC / estimator pass over each field's probed-list union
    //    serves all req_num queries, then the per-qid docid
    //    intersection; exact operating points ⇒ oracled per-qid blocks ──
    "q_knn_multivec_pq_batch_routed_exact" -> ((s, dir) => {
      init(s)
      val sp = """{"name":"mv_pq_b","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,
             "index":{"type":"IVFPQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}},
            {"name":"v2","type":"vector","dimension":32,
             "index":{"type":"IVFRABITQ",
                      "params":{"ncentroids":8,"nprobe":8,
                                "metric_type":"InnerProduct"}}}]}"""
      val qrows = batchRows(s, dir)
      val f1 = qrows.flatMap(_.take(32))
      val f2 = qrows.flatMap(_.drop(32))
      val req = s"""{"vectors":[
          {"field":"v1","feature":${f1.mkString("[", ",", "]")}},
          {"field":"v2","feature":${f2.mkString("[", ",", "]")}}],
        "index_params":{"recall_num":1048576},"limit":10}"""
      searchFixture(s, dir, "apimvpq", sp, req)
        .withColumn("_score", round(col("_score"), 4))
    }),

    // ── §2.4 (rows-only): binary codes + Hamming top-k (BINARYIVF class) ──
    "q_knn_hamming" -> ((s, dir) => {
      init(s)
      val emb = t(s, dir, "embeddings")
      val coded = emb.withColumn("code", F.signBits(col("embedding")))
      val qCode = coded.filter(col("vec_id") === 0).select("code").head().getAs[Array[Byte]](0)
      coded.withColumn("hamming", F.hamming(col("code"), lit(qCode)))
        .orderBy(col("hamming").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("hamming"))
    }),

    // ── §2.4 int8 value type (index_model.h:19): quantize → integer-
    //    accumulate IP search, oracle-checked against the same floor-based
    //    quantizer in SQL ──
    "q_knn_int8" -> ((s, dir) => {
      init(s)
      val coded = t(s, dir, "embeddings")
        .withColumn("iv", F.quantizeI8(col("embedding")))
      val q = coded.filter(col("vec_id") === 0)
        .select("iv").head().getAs[Array[Byte]](0)
      Knn.searchInt8(coded, col("iv"), q, k = 10, metric = "ip",
        tieBreak = Some(col("vec_id")))
        .select(col("vec_id"), col("_score").as("score"))
    }),

    // ── pipeline: distributed k-NN JOIN at exactness params (nprobe =
    //    ncentroids ≡ exact): the query side stays a TABLE — per-row
    //    quantizer expression computes probe lists, equi-join on list_id,
    //    bounded-heap top-k per query. No driver collect of either side ──
    "q_knn_join" -> ((s, dir) => {
      init(s)
      val (table, model) = graft.sources.IndexStore.ivfFlat(s, dir)
      val queries = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      KnnJoin.ivf(queries, "vec_id", "embedding",
        table, col("embedding"), struct(col("vec_id")), model,
        k = 5, nprobe = model.ncentroids)
        .select(col("_qid").as("qid"), col("_item.vec_id").as("vec_id"),
          round(col("_score"), 4).as("score"))
        .orderBy(col("qid"), col("score"), col("vec_id"))
    }),

    // ── pipeline: the same k-NN join with PRUNED probes (nprobe = 4 of
    //    16) — the 100 TB ANN-join shape. Since r18 the layout uses the
    //    deterministic centroid seed (corpus rows vec_id < 16, argmin-L2
    //    assignment — the q_semantic_dedup device), so the probe route,
    //    the candidate equi-join and the per-query top-k all replay in
    //    SQL and the pruned operating point is hash-checked; the
    //    kmeans-trained exact twin q_knn_join stays oracled above ──
    "q_knn_join_ann" -> ((s, dir) => {
      init(s)
      val (table, model) = graft.sources.IndexStore.ivfFixed(s, dir)
      val queries = t(s, dir, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding"))
      KnnJoin.ivf(queries, "vec_id", "embedding",
        table, col("embedding"), struct(col("vec_id")), model,
        k = 5, nprobe = 4)
        .select(col("_qid").as("qid"), col("_item.vec_id").as("vec_id"),
          round(col("_score"), 4).as("score"))
        .orderBy(col("qid"), col("score"), col("vec_id"))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q_knn_join" -> exactBatchL2Sql,
    // full replay of the pruned ANN join at its deterministic operating
    // point: centroids = corpus rows vec_id < 16, row assignment =
    // argmin-L2 (ties on centroid id — VecKernels.argminL2's first-min),
    // probe route = each query's 4 nearest centroids, candidates = the
    // (query, row) pairs sharing a probed list, per-query exact top-5
    "q_knn_join_ann" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                        FROM embeddings WHERE vec_id < 16),
         asg AS (SELECT vec_id, embedding, cid AS list FROM (
             SELECT e.vec_id, e.embedding, c.cid,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY list_distance(e.embedding::DOUBLE[], c.cv), c.cid) AS rn
             FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
         qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5),
         qp AS (SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
                    row_number() OVER (PARTITION BY q.qid
                      ORDER BY list_distance(q.qv, c.cv), c.cid) AS rn
             FROM qs q CROSS JOIN cents c) WHERE rn <= 4),
         s AS (SELECT q.qid, a.vec_id,
                      list_distance(a.embedding::DOUBLE[], q.qv) AS d
               FROM qs q JOIN qp ON qp.qid = q.qid JOIN asg a ON a.list = qp.cid),
         r AS (SELECT qid, vec_id, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM s)
         SELECT qid, vec_id, round(d, 4) AS score
         FROM r WHERE rn <= 5
         ORDER BY qid, round(d, 4), vec_id""",
    "q_knn_multivec_mixed_routed_exact" -> apiMultivecExactSql,
    "q_knn_multivec_pq_routed_exact" -> apiMultivecExactSql,
    // filtered conjunction: the scalar filter applies BEFORE each
    // field's bounded top-k (the FLAT path filters the corpus first;
    // the routed legs evaluate it in-scan / via the allow functor)
    "q_knn_multivec_filtered_routed_exact" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         b AS (SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v1,
                      (embedding::DOUBLE[])[33:64] AS v2
               FROM embeddings WHERE label IN (1,3,5)),
         f0 AS (SELECT vec_id, list_dot_product(v1, (SELECT v[1:32] FROM q)) AS s0
                FROM b ORDER BY s0 DESC, vec_id LIMIT 200),
         f1 AS (SELECT vec_id, list_dot_product(v2, (SELECT v[33:64] FROM q)) AS s1
                FROM b ORDER BY s1 DESC, vec_id LIMIT 200),
         j AS (SELECT f0.vec_id, s0 * 0.5 + s1 * 0.5 AS sc
               FROM f0 JOIN f1 USING (vec_id))
         SELECT vec_id AS _id, round(sc, 4) AS _score
         FROM j ORDER BY sc DESC, vec_id LIMIT 10""",
    // batched conjunction: per-field per-qid top-200, (qid, docid)
    // intersection, WeightedRanker, per-qid top-10
    "q_knn_multivec_batch_routed_exact" -> apiMultivecBatchExactSql,
    // exact legs make the family irrelevant — the compressed-family
    // batched conjunction serves the same per-qid blocks
    "q_knn_multivec_pq_batch_routed_exact" -> apiMultivecBatchExactSql,
    // gated conjunction: each condition's min_score gates ITS field's
    // scores before that field's bounded top-k (pre-selection, the
    // reference's per-condition gate)
    "q_knn_multivec_gated_routed_exact" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         b AS (SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v1,
                      (embedding::DOUBLE[])[33:64] AS v2 FROM embeddings),
         f0 AS (SELECT vec_id, list_dot_product(v1, (SELECT v[1:32] FROM q)) AS s0
                FROM b WHERE list_dot_product(v1, (SELECT v[1:32] FROM q)) >= 0.05
                ORDER BY s0 DESC, vec_id LIMIT 200),
         f1 AS (SELECT vec_id, list_dot_product(v2, (SELECT v[33:64] FROM q)) AS s1
                FROM b WHERE list_dot_product(v2, (SELECT v[33:64] FROM q)) >= 0.05
                ORDER BY s1 DESC, vec_id LIMIT 200),
         j AS (SELECT f0.vec_id, s0 * 0.5 + s1 * 0.5 AS sc
               FROM f0 JOIN f1 USING (vec_id))
         SELECT vec_id AS _id, round(sc, 4) AS _score
         FROM j ORDER BY sc DESC, vec_id LIMIT 10""",
    // ROUTED int8∧int8 conjunction (per-field generations, exact
    // operating points): both legs recompute the quantized integer dot
    "q_knn_multivec_int8_routed_exact" ->
      """WITH b AS (SELECT vec_id,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN (embedding::DOUBLE[])[1:32]] AS iv1,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN (embedding::DOUBLE[])[33:64]] AS iv2
               FROM embeddings),
         q AS (SELECT iv1 AS q1, iv2 AS q2 FROM b WHERE vec_id = 0),
         f0 AS (SELECT b.vec_id,
                       CAST(list_sum(list_transform(range(1, 33),
                         i -> b.iv1[i] * q.q1[i])) AS DOUBLE) AS s0
                FROM b, q ORDER BY s0 DESC, vec_id LIMIT 200),
         f1 AS (SELECT b.vec_id,
                       CAST(list_sum(list_transform(range(1, 33),
                         i -> b.iv2[i] * q.q2[i])) AS DOUBLE) AS s1
                FROM b, q ORDER BY s1 DESC, vec_id LIMIT 200),
         j AS (SELECT f0.vec_id, s0 * 0.5 + s1 * 0.5 AS sc
               FROM f0 JOIN f1 USING (vec_id))
         SELECT vec_id AS _id, sc AS _score
         FROM j ORDER BY sc DESC, vec_id LIMIT 10""",
    // mixed float∧int8 conjunction: per-field top-200 (tie-broken on
    // vec_id like the engine's per-field k-boundary) → intersection →
    // 0.5/0.5 WeightedRanker; the int8 leg recomputes the engine's
    // symmetric quantization + integer dot in SQL
    "q_knn_multivec_int8" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0),
         b AS (SELECT vec_id, (embedding::DOUBLE[])[1:32] AS v1,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN (embedding::DOUBLE[])[33:64]] AS iv2
               FROM embeddings),
         qq AS (SELECT [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN (SELECT v[33:64] FROM q)] AS qv2),
         f0 AS (SELECT vec_id, list_dot_product(v1, (SELECT v[1:32] FROM q)) AS s0
                FROM b ORDER BY s0 DESC, vec_id LIMIT 200),
         f1 AS (SELECT b.vec_id,
                       CAST(list_sum(list_transform(range(1, 33),
                         i -> b.iv2[i] * qq.qv2[i])) AS DOUBLE) AS s1
                FROM b, qq ORDER BY s1 DESC, vec_id LIMIT 200),
         j AS (SELECT f0.vec_id, s0 * 0.5 + s1 * 0.5 AS sc
               FROM f0 JOIN f1 USING (vec_id))
         SELECT vec_id AS _id, round(sc, 4) AS _score
         FROM j ORDER BY sc DESC, vec_id LIMIT 10""",
    "q_knn_score_range_routed" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id AS _id, e.label,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS _score
         FROM embeddings e, q
         WHERE list_distance(e.embedding::DOUBLE[], q.v) >= 1.41
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",
    "q_knn_score_range_batch" ->
      """WITH qs AS (SELECT vec_id AS _qid, embedding::DOUBLE[] AS v
                     FROM embeddings WHERE vec_id < 3),
         r AS (SELECT qs._qid, e.vec_id AS _id, e.label,
                      round(list_distance(e.embedding::DOUBLE[], qs.v), 4) AS _score,
                      row_number() OVER (PARTITION BY qs._qid
                        ORDER BY list_distance(e.embedding::DOUBLE[], qs.v) ASC,
                                 e.vec_id) AS rn
               FROM embeddings e, qs
               WHERE list_distance(e.embedding::DOUBLE[], qs.v) >= 1.41)
         SELECT _qid, _id, label, _score FROM r WHERE rn <= 10
         ORDER BY _qid, rn""",
    "q_knn_sql" -> exactL2Top10Sql,

    "q_knn_int8" ->
      """WITH c AS (SELECT vec_id,
               [CAST(greatest(-127, least(127, floor(x*127 + 0.5))) AS BIGINT)
                FOR x IN embedding::DOUBLE[]] AS iv
             FROM embeddings),
         q AS (SELECT iv AS qv FROM c WHERE vec_id = 0)
         SELECT c.vec_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> c.iv[i] * q.qv[i])) AS DOUBLE) AS score
         FROM c, q
         ORDER BY score DESC, c.vec_id LIMIT 10""",

    "q_knn_hamming" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                CAST(list_sum(list_transform(range(1, 65),
                  i -> CASE WHEN (e.embedding[i] >= 0) <> (q.qe[i] >= 0)
                            THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
         FROM embeddings e, q
         ORDER BY hamming, e.vec_id LIMIT 10""",

    "q_knn_ip" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_dot_product(e.embedding::DOUBLE[], q.v), 4) AS score
         FROM embeddings e, q
         ORDER BY list_dot_product(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         LIMIT 10""",

    "q_knn_l2" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_distance(e.embedding::DOUBLE[], q.v), 4) AS score
         FROM embeddings e, q
         ORDER BY list_distance(e.embedding::DOUBLE[], q.v) ASC, e.vec_id
         LIMIT 10""",

    "q_knn_cosine" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 4) AS score
         FROM embeddings e, q
         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         LIMIT 10""",

    "q_knn_filtered" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id, e.label,
                round(list_dot_product(e.embedding::DOUBLE[], q.v), 4) AS score
         FROM embeddings e, q
         WHERE e.label IN (1,3,5) AND e.vec_id <> 0
         ORDER BY list_dot_product(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         LIMIT 10""",

    "q_knn_score_range" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 0)
         SELECT e.vec_id,
                round(list_cosine_similarity(e.embedding::DOUBLE[], q.v), 4) AS score
         FROM embeddings e, q
         WHERE list_cosine_similarity(e.embedding::DOUBLE[], q.v) >= 0.2
         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.v) DESC, e.vec_id
         LIMIT 100""",

    "q_knn_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
                    FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q.qid, e.vec_id,
                      list_distance(e.embedding::DOUBLE[], q.v) AS d
               FROM embeddings e CROSS JOIN q),
         r AS (SELECT qid, vec_id, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
               FROM s)
         SELECT qid, vec_id, round(d, 4) AS score
         FROM r WHERE rn <= 5
         ORDER BY qid, round(d, 4), vec_id""",

    "q_knn_multivec" ->
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
    // routed intersection with exact per-field walks ≡ the brute
    // per-field top-100 intersection — same oracle by construction
    "q_knn_multivec_routed_exact" -> multivecIntersectTop10Sql,
    // the ef=64 operating point: each per-field walk's beam (effEf =
    // max(64, k=100) per 500-node shard) recovers the exact per-field
    // top-100 on this fixture — measured bit-identical to the exact twin
    // at sf0.01 — so the SAME intersection SQL oracles the whole routed
    // composition at its REAL operating point; a walk regression that
    // loses even one of the 100 now hash-fails instead of passing a
    // rows-only check. Recall at genuinely lossy points stays pinned in
    // RecallGateSpec.
    "q_knn_multivec_routed" -> multivecIntersectTop10Sql,

    // nprobe = ncentroids makes the IVF candidate join exhaustive, so the
    // exact all-pairs SQL is a true oracle for the scale-safe operator
    "q_embed_neardup_knn" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_a, id_b""",
    // full LSH replay: plane count np = max(4, ceil(log2(n/64))) (the
    // query's scale policy), planes = corpus rows vec_id 100..100+8np-1,
    // bit = sign of the INT8-quantized dot (integer arithmetic — exact
    // in both engines), bucket = the np-bit signature per table, pairs
    // share (table, bucket), survivors pass the exact cosine verify
    "q_embed_neardup_lsh" ->
      """WITH prm AS (SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(1, COUNT(*) // 64))) AS INT)) AS np
                      FROM embeddings),
         qv AS (SELECT vec_id,
                       [CAST(GREATEST(-127, LEAST(127, FLOOR(x*127+0.5))) AS BIGINT)
                        FOR x IN embedding::DOUBLE[]] AS c
                FROM embeddings),
         pl AS (SELECT CAST((q.vec_id - 100) // prm.np AS INT) AS t,
                       CAST((q.vec_id - 100) % prm.np AS INT) AS p, q.c AS pc
                FROM qv q, prm
                WHERE q.vec_id >= 100 AND q.vec_id < 100 + 8 * prm.np),
         bits AS (SELECT e.vec_id AS id, pl.t,
                         CASE WHEN list_sum(list_transform(range(1, 65),
                                j -> e.c[j] * pl.pc[j])) >= 0
                              THEN 1 << pl.p ELSE 0 END AS b
                  FROM qv e, pl),
         sig AS (SELECT id, t, SUM(b) AS bucket FROM bits GROUP BY 1, 2),
         cand AS (SELECT a.id AS id_a, b.id AS id_b
                  FROM sig a JOIN sig b ON a.t = b.t AND a.bucket = b.bucket
                                       AND a.id < b.id
                  GROUP BY 1, 2)
         SELECT c.id_a, c.id_b,
                round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4) AS cos
         FROM cand c
         JOIN embeddings ea ON ea.vec_id = c.id_a
         JOIN embeddings eb ON eb.vec_id = c.id_b
         WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_a, id_b""",
  )
}
