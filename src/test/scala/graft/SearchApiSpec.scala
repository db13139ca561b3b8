package graft

import graft.api.IndexLifecycle.Kind
import org.apache.spark.sql.functions._
import graft.api.SearchApi
import graft.schema.Space

/** Mirrors the reference's E2E request shapes
  * (test/test_document_search.py, test_document_query.py).
  */
class SearchApiSpec extends SparkSpec {
  import spark.implicits._

  private lazy val space = Space.fromJson(
    """{"name":"emb_space","fields":[
        {"name":"label","type":"integer","index":{"type":"SCALAR"}},
        {"name":"embedding","type":"vector","dimension":64,
         "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")

  private lazy val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").cast("string").as("_id"), col("label"), col("embedding"))
    .cache()

  private lazy val q0: Seq[Float] = corpus.filter($"_id" === "0")
    .select("embedding").head().getSeq[Float](0)

  private def fjson(q: Seq[Float]) = q.mkString("[", ",", "]")

  test("single-vector search: filter + limit + projection + _score desc") {
    val r = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "filters":{"operator":"AND","conditions":[
             {"operator":"IN","field":"label","value":[1,3,5]}]},
           "limit":7}""")
    val rows = r.collect()
    assert(rows.length == 7)
    assert(r.columns.toSeq == Seq("_id", "label", "_score")) // scalars + _id + score
    val scores = rows.map(_.getAs[Double]("_score")).toSeq
    assert(scores == scores.sorted.reverse) // IP ⇒ desc
    assert(rows.forall(x => Set(1, 3, 5).contains(x.getAs[Int]("label"))))
  }

  test("fields projection: explicit list, vectors only with vector_value") {
    val r1 = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "fields":["label","embedding"],"limit":3}""")
    assert(r1.columns.toSeq == Seq("_id", "label", "_score")) // vector suppressed
    val r2 = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "fields":["label","embedding"],"vector_value":true,"limit":3}""")
    assert(r2.columns.toSeq == Seq("_id", "label", "embedding", "_score"))
  }

  test("default limit is 50") {
    val r = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}]}""")
    assert(r.count() == 50)
  }

  test("symbol+value score-filter wire form (doc_query.go:72-73,1220-1242)") {
    // the four known symbols alias onto min/max_score at parse time
    def gates(cond: String): (Option[Double], Option[Double]) = {
      val r = SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},$cond}]}""",
        space)
      (r.vectors.head.minScore, r.vectors.head.maxScore)
    }
    assert(gates(""""symbol":">=","value":0.8""") == (Some(0.8), None))
    assert(gates(""""symbol":">","value":0.8""") == (Some(0.8), None))
    assert(gates(""""symbol":"<=","value":0.8""") == (None, Some(0.8)))
    assert(gates(""""symbol":"<","value":0.8""") == (None, Some(0.8)))
    // the symbol form overrides an explicit bound on ITS side only
    // (the reference assigns over the already-parsed min/max,
    // doc_query.go:1229-1238)
    assert(gates(""""min_score":0.1,"max_score":0.9,"symbol":">=","value":0.5""") ==
      (Some(0.5), Some(0.9)))
    // a value with an unknown (or missing) symbol is the reference's
    // parse error (doc_query.go:1240)
    val err = intercept[IllegalArgumentException] {
      gates(""""symbol":"!=","value":0.8""")
    }
    assert(err.getMessage.contains("symbol value unknow"))
    intercept[IllegalArgumentException] { gates(""""value":0.8""") }
    // a symbol WITHOUT a value is ignored, like the reference (the
    // assignment is guarded on query.Value != nil)
    assert(gates(""""symbol":">="""") == (None, None))
    // end-to-end: the symbol form gates identically to min_score
    val viaSymbol = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "symbol":">=","value":0.99}],"limit":50}""").collect()
    val viaMin = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "min_score":0.99}],"limit":50}""").collect()
    assert(viaSymbol.nonEmpty && viaSymbol.toSeq == viaMin.toSeq)
  }

  test("per-condition index_type override (doc_query.go:277-283): FLAT forces brute, mismatch fails loud") {
    // unknown/mismatched index_type is rejected against the declaration
    val err = intercept[IllegalArgumentException] {
      SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
             "index_type":"IVFPQ"}]}""", space)
    }
    assert(err.getMessage.contains("index_type"))
    // the declared type and FLAT both parse
    assert(SearchApi.parseSearch(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "index_type":"FLAT"}]}""", space).vectors.head.indexType ==
      Some("FLAT"))

    // on an INDEXED space with a READY generation, index_type:"FLAT"
    // skips the route (the per-condition brute switch): same rows as
    // the brute path AND the plan must NOT touch the graph generation —
    // route discrimination in reverse
    val root = java.nio.file.Files.createTempDirectory("idx_type").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val overridden = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "index_type":"FLAT"}],"limit":9}"""
    val plain = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":9}"""
    val (df, flatPlans) = plansDuring(
      SearchApi.searchAuto(stored, hspace, overridden, lc))
    assert(!flatPlans.contains(".hnsw.g"),
      "index_type:FLAT must not serve from the graph generation")
    assert(rows(df) == rows(SearchApi.search(stored, hspace, plain)))
    // the declared type still routes (sanity: generation serves — the
    // walk runs as the construction-time hits action, so the route shows
    // in the captured action plans, not the returned payload join)
    val (routedDf, routedPlans) = plansDuring(SearchApi.searchAuto(stored,
      hspace,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "index_type":"HNSW"}],"limit":9}""", lc))
    assert(routedPlans.contains(".hnsw.g"))
    assert(rows(routedDf) == rows(SearchApi.search(stored, hspace, plain)))
  }

  test("rid-free string-PK space: scan families serve from the generation, graph degrades to FLAT") {
    // a hand-rolled string-PK space WITHOUT a `_docid` sidecar has no
    // long routing-id space. Scan-family layouts carry the PK in every
    // row, so they serve DIRECTLY (hits report the PK, joinBack bridges
    // in the native type); graph layouts store long vec_ids structurally
    // and keep the exact FLAT fallback. Route-discriminated both ways.
    val root = java.nio.file.Files.createTempDirectory("ridfree").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(concat(lit("doc"), col("vec_id")).as("_id"),
        col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    assert(!stored.columns.contains("_docid"))
    val ivfSpace = Space.fromJson(
      """{"name":"ridfree_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuild("embedding", 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq
    // nprobe defaults to ncentroids here => exact serving, FLAT parity
    val shapes = Seq(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":9}""",
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "min_score":1.41}],"limit":9}""",
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "filters":{"operator":"AND","conditions":[
             {"operator":"IN","field":"label","value":[1,3]}]},"limit":9}""")
    for (req <- shapes) {
      val (df, plans) = plansDuring(SearchApi.searchAuto(stored, ivfSpace, req, lc))
      assert(plans.contains(".index.g"),
        s"rid-free scan serve must read the IVF generation, req=$req")
      assert(rows(df) == rows(SearchApi.search(stored, ivfSpace, req)),
        s"rid-free scan serve must match the FLAT scan, req=$req")
    }
    // batched twin rides the same leg
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val breq = s"""{"vectors":[{"field":"embedding",
         "feature":${(q0 ++ q1).mkString("[", ",", "]")}}],"limit":5}"""
    val (bdf, bplans) = plansDuring(SearchApi.searchAuto(stored, ivfSpace, breq, lc))
    assert(bplans.contains(".index.g"))
    assert(bdf.collect().map(_.toString).toSeq ==
      SearchApi.search(stored, ivfSpace, breq).collect().map(_.toString).toSeq)
    // graph family on the same rid-free corpus: no long id space, so the
    // request is structurally unservable by the declared layout — it
    // must FAIL LOUD (not silently brute-FLAT an O(corpus) scan behind
    // a declared graph index), pointing at the catalog path
    val hSpace = Space.fromJson(
      """{"name":"ridfree_h","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":60,
                    "efSearch":600}}}]}""")
    val e = intercept[IllegalArgumentException] {
      SearchApi.searchAuto(stored, hSpace, shapes.head, lc).collect()
    }
    assert(e.getMessage.contains("no docid mapping") &&
      e.getMessage.contains("HNSW"),
      s"rid-free graph request must raise the docid-mapping error, got: ${e.getMessage}")
    // the explicit brute escapes stay open: per-condition
    // index_type=FLAT and is_brute_search=1 serve exactly, no route
    val fReq = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "index_type":"FLAT"}],"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, hSpace, fReq, lc)) ==
      rows(SearchApi.search(stored, hSpace, shapes.head)))
    val bReq = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "is_brute_search":1,"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, hSpace, bReq, lc)) ==
      rows(SearchApi.search(stored, hSpace, shapes.head)))
  }

  test("rid-free ALL-SCAN conjunction routes per-field; string vec_ids intersect exactly") {
    // a multi-field conjunction over a rid-free space routes when every
    // leg is a scan family: legs report the string PK as vec_id, the
    // intersection joins on it, joinBack bridges in the native type
    val root = java.nio.file.Files.createTempDirectory("ridfree_mv").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(concat(lit("doc"), col("vec_id")).as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.scoped("v1").rebuild("v1", 8)
    lc.scoped("v2").rebuild("v2", 8)
    val sp = Space.fromJson(
      """{"name":"ridfree_mv","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8}}},
          {"name":"v2","type":"vector","dimension":32,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8}}}]}""")
    val (q1, q2) = (q0.take(32), q0.drop(32))
    val req = s"""{"vectors":[
        {"field":"v1","feature":${fjson(q1)}},
        {"field":"v2","feature":${fjson(q2)}}],
      "ranker":{"type":"WeightedRanker","params":{"weights":[0.6,0.4]}},
      "limit":7}"""
    val (df, plans) = plansDuring(SearchApi.searchAuto(stored, sp, req, lc))
    assert(plans.contains(".index.g"),
      "rid-free all-scan conjunction must read the per-field generations")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"_id", $"_score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(rows(df) == rows(SearchApi.search(stored, sp, req)),
      "routed rid-free conjunction must match the FLAT conjunction")
  }

  test("gated routed serving leaves no residual persisted RDDs") {
    // gated graph legs thread the band into the walk's result heap (one
    // probe, no segment pin since r18) — pin that NOTHING stays persisted
    // after a gated query, whatever the serving internals do
    val root = java.nio.file.Files.createTempDirectory("gate_pin").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val before = spark.sparkContext.getPersistentRDDs.size
    // selective gate combined with a scalar filter and the symbol wire
    // form so the full flag surface rides one request; efSearch ≥ corpus
    // makes the banded walk exhaustive ⇒ exact parity with brute FLAT
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "symbol":">=","value":1.41}],
        "filters":{"operator":"AND","conditions":[
          {"operator":">=","field":"label","value":0}]},"limit":9}"""
    val rows = SearchApi.searchAuto(stored, hspace, req, lc).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Double]("_score") >= 1.41))
    assert(rows.toSeq == SearchApi.search(stored, hspace, req).collect().toSeq)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "gated routed search must leave no persisted RDDs")
    // index_type FLAT composes with the gate: brute twin, same rows
    val flatReq = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "symbol":">=","value":1.41,"index_type":"FLAT"}],"limit":9}"""
    assert(SearchApi.searchAuto(stored, hspace, flatReq, lc).collect().toSeq ==
      rows.toSeq)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("format and ranker-type validation match the reference's parse errors") {
    // known format names pass through (normalization itself rides the
    // SPACE declaration — the request field is validate-only,
    // doc_query.go:321-327)
    for (f <- Seq("normalization", "normal", "no"))
      assert(SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
             "format":"$f"}]}""", space).vectors.nonEmpty)
    val fErr = intercept[IllegalArgumentException] {
      SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
             "format":"l2"}]}""", space)
    }
    assert(fErr.getMessage.contains("unknow vector process format"))
    // only WeightedRanker exists (doc_query.go:208-209)
    val rErr = intercept[IllegalArgumentException] {
      SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
             "ranker":{"type":"RRFRanker","params":{"weights":[0.5,0.5]}}}""",
        space)
    }
    assert(rErr.getMessage.contains("unsupport ranker type"))
    assert(SearchApi.parseSearch(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "ranker":{"type":"WeightedRanker","params":{"weights":[0.7,0.3]}}}""",
      space).weights == Some(Seq(0.7, 0.3)))
    // a present but NON-NUMERIC score-filter value is the reference's
    // JSON unmarshal error (doc_query.go:72 float64 field) — a client
    // typo like "value":"0.8" must not silently run ungated
    val vErr = intercept[IllegalArgumentException] {
      SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
             "symbol":">=","value":"0.8"}]}""", space)
    }
    assert(vErr.getMessage.contains("must be numeric"))
  }

  test("per-condition index_type accepts same-layout aliases, rejects foreign families") {
    val gpuSpace = Space.fromJson(
      """{"name":"gpu_space","fields":[
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"GPU_IVFFLAT","params":{"ncentroids":8}}}]}""")
    // GPU_IVFFLAT serves from the identical CPU layout — requesting the
    // CPU name (or vice versa) is servable, not a parse error
    assert(SearchApi.parseSearch(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "index_type":"IVFFLAT"}]}""", gpuSpace)
      .vectors.head.indexType == Some("IVFFLAT"))
    val err = intercept[IllegalArgumentException] {
      SearchApi.parseSearch(
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
             "index_type":"HNSW"}]}""", gpuSpace)
    }
    assert(err.getMessage.contains("does not match"))
    // SSG <-> DISKANN_STATIC share the Vamana generation
    val ssgSpace = Space.fromJson(
      """{"name":"ssg_space","fields":[
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"SSG","params":{"nlinks":16,"efConstruction":40}}}]}""")
    assert(SearchApi.parseSearch(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "index_type":"DISKANN_STATIC"}]}""", ssgSpace)
      .vectors.head.indexType == Some("DISKANN_STATIC"))
  }

  test("min_score gate") {
    val r = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "min_score":0.99}],"limit":50}""")
    val rows = r.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Double]("_score") >= 0.99))
  }

  test("req_num batch: flat feature of 2x dim returns per-qid blocks") {
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val r = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${(q0 ++ q1).mkString("[", ",", "]")}}],
           "limit":4}""")
    val byQid = r.collect().groupBy(_.getAs[Long]("_qid"))
    assert(byQid.keySet == Set(0, 1))
    assert(byQid(0).length == 4 && byQid(1).length == 4)
    // each query's own row ranks first (normalized corpus ⇒ self IP max)
    val best0 = byQid(0).maxBy(_.getAs[Double]("_score"))
    val best1 = byQid(1).maxBy(_.getAs[Double]("_score"))
    assert(best0.getAs[String]("_id") == "0")
    assert(best1.getAs[String]("_id") == "1")
  }

  test("bad feature length is rejected like the router's dim check") {
    assertThrows[IllegalArgumentException] {
      SearchApi.search(corpus, space,
        """{"vectors":[{"field":"embedding","feature":[1.0,2.0,3.0]}]}""")
    }
  }

  test("wire-parse negative paths fail loud, never a silent default (r20)") {
    // the int32 wire slots (search_doc.go:71-92) and index_params
    // (doc_query.go:1475-1478, space.go:334-336): a PRESENT but
    // mistyped value is the reference's unmarshal PARAM_ERROR — the
    // score-filter bug's siblings, table-driven
    val okVec = s""""vectors":[{"field":"embedding","feature":${fjson(q0)}}]"""
    val badReqs = Seq(
      s"""{$okVec,"limit":"ten"}""",
      s"""{$okVec,"limit":5.5}""",
      s"""{$okVec,"limit":-3}""",
      s"""{$okVec,"offset":"2"}""",
      s"""{$okVec,"offset":-1}""",
      s"""{$okVec,"page_size":3,"page_num":"2"}""",
      s"""{$okVec,"page_size":"3","page_num":2}""",
      s"""{$okVec,"is_brute_search":"1"}""",
      s"""{$okVec,"index_params":{"nprobe":"8"}}""",
      s"""{$okVec,"index_params":{"efSearch":2.5}}""",
      s"""{$okVec,"index_params":{"recall_num":[100]}}""",
      s"""{$okVec,"index_params":{"metric_type":"Cosine"}}""",
      s"""{$okVec,"index_params":{"metric_type":7}}""",
      s"""{$okVec,"index_params":3}""",
      // out-of-int32 values WRAP under BigInt.toInt — they must be the
      // reference's "out of range" unmarshal error, not a truncation
      // (4294967346 wraps to exactly 50, the silent-default value)
      s"""{$okVec,"limit":4294967346}""",
      s"""{$okVec,"offset":4294967296}""",
      s"""{$okVec,"page_size":65536,"page_num":65537}""",
      s"""{$okVec,"index_params":{"nprobe":4294967304}}""",
      // non-numeric vector payload (wrong-dim is the test above)
      """{"vectors":[{"field":"embedding","feature":["a","b"]}]}""")
    for (r <- badReqs) withClue(r) {
      assertThrows[IllegalArgumentException] {
        SearchApi.search(corpus, space, r)
      }
    }
    // the query verb shares the parse; document_ids is *[]string there
    // (search_doc.go:84) — a non-string element is the unmarshal error
    assertThrows[IllegalArgumentException] {
      SearchApi.query(corpus, space, """{"document_ids":[42],"limit":5}""")
    }
    assertThrows[IllegalArgumentException] {
      SearchApi.query(corpus, space, """{"limit":"ten"}""")
    }
    // the valid shapes stay accepted: limit 0 = DefaultSize 50
    // (doc_query.go:1412-1415), known metric_type names validate and
    // pass, unknown index_params keys are ignored like Go's unmarshal,
    // and JSON null = "no value" (Go unmarshal skips it; a null
    // document_ids element unmarshals to "" and matches nothing)
    assert(SearchApi.search(corpus, space,
      s"""{$okVec,"limit":0}""").count() == 50)
    assert(SearchApi.search(corpus, space,
      s"""{$okVec,"limit":3,"index_params":{
           "metric_type":"InnerProduct","not_a_param":"x"}}""").count() == 3)
    assert(SearchApi.search(corpus, space,
      s"""{$okVec,"limit":3,"index_params":{"nprobe":null,"metric_type":null}}""")
      .count() == 3)
    assert(SearchApi.query(corpus, space,
      """{"document_ids":["42",null,"7"],"limit":50}""")
      .select("_id").as[String].collect().toSeq == Seq("42", "7"))
  }

  test("pagination via page_size/page_num matches offset slicing") {
    val all = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":9}""")
      .select("_id").as[String].collect().toSeq
    val page2 = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "limit":3,"page_size":3,"page_num":2}""")
      .select("_id").as[String].collect().toSeq
    assert(page2 == all.slice(3, 6))
  }

  test("query verb: document_ids path preserves request order") {
    val r = SearchApi.query(corpus, space,
      """{"document_ids":["42","7","99"],"limit":50}""")
    assert(r.select("_id").as[String].collect().toSeq == Seq("42", "7", "99"))
    assert(r.columns.toSeq == Seq("_id", "label"))
  }

  test("query verb: filtered scan with limit+offset") {
    val r = SearchApi.query(corpus, space,
      """{"filters":{"operator":"AND","conditions":[
           {"operator":"=","field":"label","value":2}]},
         "limit":5,"offset":2}""")
    val rows = r.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Int]("label") == 2))
  }

  test("multi-field conjunctive search with WeightedRanker") {
    val two = corpus
      .withColumn("v1", slice($"embedding", 1, 32))
      .withColumn("v2", slice($"embedding", 33, 32))
      .drop("embedding")
    val sp2 = Space.fromJson(
      """{"name":"two_vec","fields":[
          {"name":"label","type":"integer"},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}},
          {"name":"v2","type":"vector","dimension":32,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")
    val r = SearchApi.search(two, sp2,
      s"""{"vectors":[
            {"field":"v1","feature":${fjson(q0.take(32))}},
            {"field":"v2","feature":${fjson(q0.drop(32))}}],
          "ranker":{"type":"WeightedRanker","params":{"weights":[0.7,0.3]}},
          "limit":5}""")
    val rows = r.collect()
    assert(rows.length == 5)
    assert(rows.head.getAs[String]("_id") == "0") // self wins the intersection
  }

  test("searchAuto: MIXED-family conjunctive routes per-field (HNSW + IVF legs), partial coverage falls back") {
    val root = java.nio.file.Files.createTempDirectory("mv_mixed").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = Space.fromJson(
      """{"name":"mv_mixed","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "metric_type":"InnerProduct"}}},
          {"name":"v2","type":"vector","dimension":32,
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":4,"nprobe":4,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val req = s"""{"vectors":[
          {"field":"v1","feature":${fjson(q0.take(32))}},
          {"field":"v2","feature":${fjson(q0.drop(32))}}],
        "index_params":{"efSearch":1048576},"limit":5}"""
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id").collect().map(_.getLong(0)).toSeq

    // only v1 READY: a mixed request with partial per-field coverage
    // degrades the WHOLE request to the FLAT conjunction
    lc.scoped("v1").rebuildHnsw("_id", "v1",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    val partial = ids(SearchApi.searchAuto(stored, sp, req, lc))
    assert(partial == ids(SearchApi.search(stored, sp, req)))

    // both READY: v1 serves through its graph generation, v2 through its
    // IVF generation (no all-HNSW demand); exact params on each leg ⇒
    // the family-agnostic (docid, score) intersection ≡ FLAT
    lc.scoped("v2").rebuild("v2", ncentroids = 4)
    val routed = ids(SearchApi.searchAuto(stored, sp, req, lc))
    assert(routed == ids(SearchApi.search(stored, sp, req)))
    assert(routed.head == 0L) // self wins the intersection
  }

  test("searchAuto: single-condition requests serve from a MULTI-field space's scoped generations") {
    // multi-field spaces keep per-field generations under the
    // lifecycle's field scope; a single-condition request must still
    // serve from that field's OWN index (the reference searches the
    // field's index whatever the request shape,
    // vector_manager.cc:941-1012) instead of degrading to FLAT because
    // the unscoped lifecycle is empty
    val root = java.nio.file.Files.createTempDirectory("mv_single").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = Space.fromJson(
      """{"name":"mv_single","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "efSearch":1048576,
                              "metric_type":"InnerProduct"}}},
          {"name":"v2","type":"vector","dimension":32,
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":4,"nprobe":4,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.scoped("v1").rebuildHnsw("_id", "v1",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    lc.scoped("v2").rebuild("v2", ncentroids = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // v1 routes through its scoped graph generation (plan-discriminated
    // via the construction-time hits action's plan)
    val req1 = s"""{"vectors":[{"field":"v1","feature":${fjson(q0.take(32))}}],"limit":5}"""
    val (df1, plans1) = plansDuring(SearchApi.searchAuto(stored, sp, req1, lc))
    assert(plans1.contains(".hnsw.g"),
      "single-condition request must serve from the scoped graph generation")
    assert(rows(df1) == rows(SearchApi.search(stored, sp, req1)))
    // v2 routes through its scoped IVF generation; full probe ⇒ exact
    val req2 = s"""{"vectors":[{"field":"v2","feature":${fjson(q0.drop(32))}}],"limit":5}"""
    assert(rows(SearchApi.searchAuto(stored, sp, req2, lc)) ==
      rows(SearchApi.search(stored, sp, req2)))
  }

  test("searchAuto: FILTERED and GATED conjunctions route per-field; broad filter falls back") {
    val root = java.nio.file.Files.createTempDirectory("mv_fg").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = Space.fromJson(
      """{"name":"mv_fg","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "metric_type":"InnerProduct"}}},
          {"name":"v2","type":"vector","dimension":32,
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":4,"nprobe":4,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.scoped("v1").rebuildHnsw("_id", "v1",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    lc.scoped("v2").rebuild("v2", ncentroids = 4)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id").collect().map(_.getLong(0)).toSeq

    // scalar filter rides each leg (allow-functor into the HNSW walk,
    // in-scan inside the IVF probed lists); exact params ⇒ equals the
    // filtered FLAT conjunction
    val fReq = s"""{"vectors":[
          {"field":"v1","feature":${fjson(q0.take(32))}},
          {"field":"v2","feature":${fjson(q0.drop(32))}}],
        "filters":{"operator":"AND","conditions":[
          {"operator":"IN","field":"label","value":[1,3,5]}]},
        "index_params":{"efSearch":1048576},"limit":5}"""
    val fRouted = ids(SearchApi.searchAuto(stored, sp, fReq, lc))
    assert(fRouted.nonEmpty)
    assert(fRouted == ids(SearchApi.search(stored, sp, fReq)))

    // per-condition min_score gates each leg BEFORE the intersection
    // (IVF in-scan, HNSW through the gate loop); equals the gated FLAT
    // conjunction (which gates per field before its bounded top-k)
    val gReq = s"""{"vectors":[
          {"field":"v1","feature":${fjson(q0.take(32))},"min_score":0.05},
          {"field":"v2","feature":${fjson(q0.drop(32))},"min_score":0.05}],
        "index_params":{"efSearch":1048576},"limit":5}"""
    val gRouted = ids(SearchApi.searchAuto(stored, sp, gReq, lc))
    assert(gRouted.nonEmpty)
    assert(gRouted == ids(SearchApi.search(stored, sp, gReq)))

    // a broad filter (allow-set above the cap) degrades the whole
    // request to the filter-first FLAT conjunction — still correct
    val prevCap = SearchApi.maxFilterAllowIds
    try {
      SearchApi.maxFilterAllowIds = 1
      assert(ids(SearchApi.searchAuto(stored, sp, fReq, lc)) ==
        ids(SearchApi.search(stored, sp, fReq)))
    } finally SearchApi.maxFilterAllowIds = prevCap

    // BATCHED conjunction (req_num=2): per-field batch legs through each
    // field's own generation, (qid, docid) intersection; exact params ⇒
    // per-qid parity with the FLAT batched conjunction — plain AND
    // filtered (the filter rides each batch leg)
    def qidIds(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val q1 = q0 // second query = another corpus row
    val q1b = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 7).select($"embedding")
      .head().getSeq[Float](0)
    def bReq(extra: String) = s"""{"vectors":[
          {"field":"v1","feature":${fjson(q1.take(32) ++ q1b.take(32))}},
          {"field":"v2","feature":${fjson(q1.drop(32) ++ q1b.drop(32))}}],
        $extra
        "index_params":{"efSearch":1048576},"limit":5}"""
    val plain = bReq("")
    assert(qidIds(SearchApi.searchAuto(stored, sp, plain, lc)) ==
      qidIds(SearchApi.search(stored, sp, plain)))
    val filteredB = bReq(
      """"filters":{"operator":"AND","conditions":[
          {"operator":"IN","field":"label","value":[1,3,5]}]},""")
    val fb = qidIds(SearchApi.searchAuto(stored, sp, filteredB, lc))
    assert(fb.nonEmpty)
    assert(fb == qidIds(SearchApi.search(stored, sp, filteredB)))
  }

  test("multi-field search honors each field's own metric_type") {
    // v1 indexed with InnerProduct (desc), v2 with L2 (asc)
    val mixed = Space.fromJson(
      """{"name":"mixed","fields":[
          {"name":"v1","type":"vector","dimension":4,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}},
          {"name":"v2","type":"vector","dimension":4,
           "index":{"type":"FLAT","params":{"metric_type":"L2"}}}]}""")
    val df = Seq(
      ("a", Seq(1f, 0f, 0f, 0f), Seq(0f, 0f, 0f, 0f)),
      ("b", Seq(0.5f, 0f, 0f, 0f), Seq(3f, 0f, 0f, 0f)),
      ("c", Seq(0.9f, 0f, 0f, 0f), Seq(1f, 0f, 0f, 0f))
    ).toDF("_id", "v1", "v2")
      .select($"_id", $"v1".cast("array<float>").as("v1"),
        $"v2".cast("array<float>").as("v2"))
    val r = SearchApi.search(df, mixed,
      """{"vectors":[
           {"field":"v1","feature":[1,0,0,0]},
           {"field":"v2","feature":[0,0,0,0]}],
         "limit":3}""")
      .collect().map(_.getString(0)).toSeq
    // per-field metrics: v1 scores ip {a:1,c:0.9,b:0.5}, v2 scores l2
    // {a:0,c:1,b:3}; weighted 0.5 each, combined ordered by v1's direction
    // (ip desc): a=0.5, c=-0.05 (0.45-0.5? no: 0.45+0.5=0.95)...
    // combined = 0.5*ip + 0.5*l2 → a:0.5, b:1.75, c:0.95 — desc: b,c,a.
    // The assertion pins the b,c,a order produced by per-field scoring; the
    // old head-metric bug would score v2 with ip (dot=0 for all) → a,c,b.
    assert(r == Seq("b", "c", "a"))
  }

  test("sort spec orders query-verb scans and search responses") {
    val r = SearchApi.query(corpus, space,
      """{"filters":{"operator":"AND","conditions":[
           {"operator":">=","field":"label","value":8}]},
         "sort":[{"label":{"order":"desc"}}],
         "limit":10}""")
      .collect()
    val labels = r.map(_.getAs[Int]("label")).toSeq
    assert(labels == labels.sorted.reverse)
    // search verb: selection stays score-top-k; response re-ordered
    val s = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "sort":[{"_score":{"order":"asc"}}],"limit":5}""")
      .collect().map(_.getAs[Double]("_score")).toSeq
    assert(s == s.sorted) // ip normally desc; sort flipped the response
  }

  test("batched multi-field search: req_num blocks x field intersection") {
    // two fields = two halves of the embedding (like q_knn_multivec), two
    // query vectors each → 2 result blocks, each the weighted intersection
    val two = corpus.select($"_id",
      slice($"embedding", 1, 32).as("h1"), slice($"embedding", 33, 32).as("h2"))
    val sp2 = Space.fromJson(
      """{"name":"two","fields":[
          {"name":"h1","type":"vector","dimension":32,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}},
          {"name":"h2","type":"vector","dimension":32,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val f1 = (q0.take(32) ++ q1.take(32)).mkString("[", ",", "]")
    val f2 = (q0.drop(32) ++ q1.drop(32)).mkString("[", ",", "]")
    val r = SearchApi.search(two, sp2,
      s"""{"vectors":[
            {"field":"h1","feature":$f1},
            {"field":"h2","feature":$f2}],
          "limit":5}""")
      .collect()
    val byQid = r.groupBy(_.getAs[Long]("_qid"))
    assert(byQid.keySet == Set(0, 1))
    assert(byQid.values.forall(_.length == 5))
    // each block is its own query: block 0 must rank _id=0 first (self),
    // block 1 must rank _id=1 first
    def top(qid: Int) = byQid(qid).maxBy(_.getAs[Double]("_score")).getAs[String]("_id")
    assert(top(0) == "0")
    assert(top(1) == "1")
  }

  test("value_type int8 and binary fields search through the request surface") {
    import graft.Graft.F
    val spI8 = Space.fromJson(
      """{"name":"i8sp","fields":[
          {"name":"v","type":"vector","dimension":64,"value_type":"int8",
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")
    val codedI8 = corpus.select($"_id", F.quantizeI8($"embedding").as("v"))
    val r = SearchApi.search(codedI8, spI8,
      s"""{"vectors":[{"field":"v","feature":${fjson(q0)}}],"limit":5}""").collect()
    assert(r.length == 5)
    assert(r.head.getString(0) == "0") // self ranks first under int8 IP
    val scores = r.map(_.getAs[Double]("_score")).toSeq
    assert(scores == scores.sorted.reverse) // ip ⇒ desc

    val spB = Space.fromJson(
      """{"name":"bsp","fields":[
          {"name":"v","type":"vector","dimension":64,"value_type":"binary",
           "index":{"type":"BINARYIVF"}}]}""")
    val codedB = corpus.select($"_id", F.signBits($"embedding").as("v"))
    val rb = SearchApi.search(codedB, spB,
      s"""{"vectors":[{"field":"v","feature":${fjson(q0)}}],"limit":5}""").collect()
    assert(rb.head.getString(0) == "0") // hamming 0 to itself
    val hs = rb.map(_.getAs[Double]("_score")).toSeq
    assert(hs == hs.sorted) // hamming ⇒ asc
  }

  test("error paths: non-vector field, missing feature, unknown filter op") {
    assertThrows[IllegalArgumentException] {
      SearchApi.search(corpus, space,
        """{"vectors":[{"field":"label","feature":[1.0]}]}""")
    }
    assertThrows[IllegalArgumentException] {
      SearchApi.search(corpus, space, """{"vectors":[{"field":"embedding"}]}""")
    }
    assertThrows[IllegalArgumentException] {
      SearchApi.search(corpus, space,
        s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
             "filters":{"operator":"AND","conditions":[
               {"operator":"LIKE","field":"label","value":1}]}}""")
    }
    // search with no vector condition at all is a request error
    assertThrows[IllegalArgumentException] {
      SearchApi.search(corpus, space, """{"limit":10}""")
    }
  }

  test("slow-search classification (doc_query.go:218-234)") {
    assert(SearchApi.classifyPool(500, 1, 1024, 0) == "slow")   // big topN
    assert(SearchApi.classifyPool(10, 120, 1024, 0) == "slow")  // deep probe
    assert(SearchApi.classifyPool(10, 1, 1024, 3) == "slow")    // many filters
    assert(SearchApi.classifyPool(50, 10, 1024, 2) == "default")
  }

  test("searchAuto: HNSW space routes to the graph generation, parity with FLAT") {
    val root = java.nio.file.Files.createTempDirectory("hnsw_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    // efSearch ≥ corpus ⇒ the routed walk is exhaustive: routed == brute
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val opts = hspace.vectorFields.head.vector.get
    assert(opts.indexType == "HNSW" &&
      opts.indexParams == Map("nlinks" -> 16, "efConstruction" -> 60, "efSearch" -> 600))

    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    assert(lc.state(Kind.Hnsw) == lc.Missing)
    assert(SearchApi.searchAuto(stored, hspace,
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":3}""",
      lc).count() == 3) // no generation yet → FLAT fallback serves

    val ready = lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    assert(lc.state(Kind.Hnsw) == lc.Ready(ready.gen, 3, ready.trainedDocs))
    assert(lc.state(Kind.Ivf) == lc.Missing) // IVF sidecar untouched
    assert(lc.ready(Kind.Hnsw).map(_.table.as[graft.operators.HnswIndex.Segment]).isDefined)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val plain = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, plain, lc)) ==
      rows(SearchApi.search(stored, hspace, plain)))

    // scalar filter rides the allow-set into the walk; parity holds
    val filtered = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4]}]},"limit":6}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, filtered, lc)) ==
      rows(SearchApi.search(stored, hspace, filtered)))

    // is_brute_search=1 forces the FLAT scan (engine.cc:280-308)
    val forced = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "is_brute_search":1,"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, forced, lc)) ==
      rows(SearchApi.search(stored, hspace, forced)))

    // score gates RIDE the routed walk through the driver-bounded gate
    // loop (the reference applies them in-scan for every index type,
    // gamma_common_data.h:94-96); an admit-all gate returns on the
    // first probe
    val gated = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":0.0}],"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, gated, lc)) ==
      rows(SearchApi.search(stored, hspace, gated)))

    // SELECTIVE gate (min_score ≈ median L2): every near neighbor is
    // out-of-gate, so the first depth-64 probe yields zero gated
    // survivors and the loop MUST depth-double before it can prove the
    // gated top-k; each probe drives ONE bounded aggregate action —
    // the result is still ≡ the FLAT path's gate-before-select
    val selective = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":1.41}],"limit":9}"""
    val selRows = rows(SearchApi.searchAuto(stored, hspace, selective, lc))
    assert(selRows.length == 9 && selRows.forall(_._3 >= 1.41))
    assert(selRows == rows(SearchApi.search(stored, hspace, selective)))

    // EXHAUSTION: fewer than k survivors exist corpus-wide (7 docs at
    // dist ≥ 1.60 in the sf0.001 fixture) — the loop doubles until the
    // candidate count comes back short of the requested depth, proving
    // every admissible candidate was seen, and returns the short result
    val exhausted = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":1.60}],"limit":10}"""
    val exRows = rows(SearchApi.searchAuto(stored, hspace, exhausted, lc))
    assert(exRows.nonEmpty && exRows.length < 10 && exRows.forall(_._3 >= 1.60))
    assert(exRows == rows(SearchApi.search(stored, hspace, exhausted)))
  }

  test("searchAuto: score-gated BATCH routes through the per-qid gate loop (req_num shares the gate)") {
    val root = java.nio.file.Files.createTempDirectory("hnsw_gate_batch").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // selective gate shared by both queries (doc_query.go:296-318
    // flattens req_num; the gate is per CONDITION): the batched loop
    // iterates until EVERY qid has k gated survivors — per-qid ≡ FLAT
    val req = s"""{"vectors":[{"field":"embedding","feature":${(q0 ++ q1).mkString("[", ",", "]")},
         "min_score":1.41}],"limit":6}"""
    val got = rows(SearchApi.searchAuto(stored, hspace, req, lc))
    assert(got.nonEmpty && got.forall(_._3 >= 1.41))
    assert(got.map(_._1).distinct.sorted == Seq(0L, 1L))
    assert(got == rows(SearchApi.search(stored, hspace, req)))
  }

  test("searchAuto: IVFFLAT space routes through the READY generation, nprobe resolves request→space") {
    val root = java.nio.file.Files.createTempDirectory("ivf_route").toString
    val spacePath = s"$root/space"
    corpus.write.parquet(spacePath) // string _id: fine for the scan route
    val stored = spark.read.parquet(spacePath)
    // space declares a NARROW default probe; requests can widen it
    val ispace = Space.fromJson(
      """{"name":"ivf_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT",
                    "params":{"metric_type":"InnerProduct","ncentroids":8,"nprobe":1}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2))).toSeq

    val plain = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":9}"""
    // no generation yet → FLAT fallback
    assert(SearchApi.searchAuto(stored, ispace, plain, lc).count() == 9)

    lc.rebuild("embedding", ncentroids = 8)
    // space default nprobe=1: a real pruned probe — approximate by
    // design, best-first within the probed list
    val nRows = rows(SearchApi.searchAuto(stored, ispace, plain, lc))
    assert(nRows.nonEmpty && nRows.length <= 9)
    val scores = nRows.map(_._3)
    assert(scores == scores.sorted.reverse) // IP ⇒ desc

    // request-level index_params OVERRIDES the space default at query
    // time (doc_query.go:1408-1478): nprobe = ncentroids ⇒ exhaustive
    // probe ⇒ exact parity with the FLAT scan
    val wide = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"nprobe":8},"limit":9}"""
    assert(rows(SearchApi.searchAuto(stored, ispace, wide, lc)) ==
      rows(SearchApi.search(stored, ispace, plain)))

    // scalar filter evaluates inside the probed lists; exhaustive-probe
    // parity holds under the filter too
    val filtered = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"nprobe":8},
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[1,3,5]}]},"limit":6}"""
    val filteredFlat = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[1,3,5]}]},"limit":6}"""
    assert(rows(SearchApi.searchAuto(stored, ispace, filtered, lc)) ==
      rows(SearchApi.search(stored, ispace, filteredFlat)))

    // score gates apply IN-SCAN on the routed scan (the reference's heap
    // admission, gamma_common_data.h:94-96) — no over-fetch loop, no
    // extra action; exhaustive probe ⇒ gated parity with gated FLAT
    val gatedIdx = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":-0.05,"max_score":0.05}],
         "index_params":{"nprobe":8},"limit":12}"""
    val gatedFlat = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":-0.05,"max_score":0.05}],"limit":12}"""
    val g = rows(SearchApi.searchAuto(stored, ispace, gatedIdx, lc))
    assert(g.nonEmpty && g.forall(r => r._3 >= -0.05 && r._3 <= 0.05))
    assert(g == rows(SearchApi.search(stored, ispace, gatedFlat)))
  }

  test("searchAuto: INT8 space routes through the IVF generation (float probe, integer kernels)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val isp = Space.fromJson(
      """{"name":"i8_ivf","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":8,"nprobe":8,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val req = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":9}"""
    // no generation yet → FLAT int8 fallback
    assert(SearchApi.searchAuto(stored, isp, req, lc).count() == 9)

    lc.rebuild("iv", 8)
    // exhaustive probe ⇒ routed ≡ the brute int8 scan (self ranks first)
    val got = rows(SearchApi.searchAuto(stored, isp, req, lc))
    assert(got == rows(SearchApi.search(stored, isp, req)))
    assert(got.head._1 == 0L)

    // a NARROW request-level probe really prunes: results stay ranked,
    // drawn from 1 of 8 lists (the planner resolves request nprobe)
    val narrow = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],
      "index_params":{"nprobe":1},"limit":9}"""
    val nr = rows(SearchApi.searchAuto(stored, isp, narrow, lc))
    assert(nr.nonEmpty && nr.map(_._2) == nr.map(_._2).sorted.reverse)

    // score gates apply in-scan on the int8 route too
    val gated = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
      "min_score":-1000,"max_score":1000}],"limit":9}"""
    val gr = rows(SearchApi.searchAuto(stored, isp, gated, lc))
    assert(gr == rows(SearchApi.search(stored, isp, gated)))
    assert(gr.forall(r => r._2 >= -1000 && r._2 <= 1000))

    // batched int8: per-qid parity with the FLAT int8 batch
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)}}],"limit":4}"""
    def rowsB(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rowsB(SearchApi.searchAuto(stored, isp, reqB, lc)) ==
      rowsB(SearchApi.search(stored, isp, reqB)))
  }

  test("searchAuto: INT8 space routes through the HNSW generation (integer-exact walk)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_hnsw_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    // efSearch ≥ corpus ⇒ the walk is provably exact; the graph stores
    // the RAW code values as floats, so walk scores are the integer
    // kernels' scores bit-for-bit (no rescore step, no rounding slack)
    val isp = Space.fromJson(
      """{"name":"i8_hnsw","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "efSearch":1000000,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val req = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":9}"""
    // no generation yet → FLAT int8 fallback
    assert(SearchApi.searchAuto(stored, isp, req, lc).count() == 9)

    lc.rebuildHnsw("_id", "iv",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    // routed ≡ the brute int8 scan (self ranks first under int8 IP)
    val got = rows(SearchApi.searchAuto(stored, isp, req, lc))
    assert(got == rows(SearchApi.search(stored, isp, req)))
    assert(got.head._1 == 0L)

    // scalar filter rides the walk's allow-functor; parity holds
    val filtered = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4]}]},"limit":6}"""
    assert(rows(SearchApi.searchAuto(stored, isp, filtered, lc)) ==
      rows(SearchApi.search(stored, isp, filtered)))

    // SELECTIVE gate through the driver-bounded gate loop: max_score at
    // the ~300th-LOWEST integer score admits no one near the top, so the
    // first depth-64 probe has zero gated survivors and the loop MUST
    // depth-double; result ≡ the FLAT path's gate-before-select
    val n = stored.count().toInt
    val all = SearchApi.search(stored, isp,
      s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":$n}""")
      .select($"_score").collect().map(_.getDouble(0)) // best-first
    val hi = all(all.length - 300)
    val gated = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
         "max_score":$hi}],"limit":9}"""
    val gr = rows(SearchApi.searchAuto(stored, isp, gated, lc))
    assert(gr.length == 9 && gr.forall(_._2 <= hi))
    assert(gr == rows(SearchApi.search(stored, isp, gated)))

    // EXHAUSTION: fewer than k admissible docs corpus-wide — the loop
    // doubles until the candidate count proves every candidate was seen
    val lo2 = all(4) // only the top-5 integer scores are admissible
    val exhausted = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
         "min_score":$lo2}],"limit":10}"""
    val exRows = rows(SearchApi.searchAuto(stored, isp, exhausted, lc))
    assert(exRows.nonEmpty && exRows.length < 10 && exRows.forall(_._2 >= lo2))
    assert(exRows == rows(SearchApi.search(stored, isp, exhausted)))

    // batched int8 graph route: per-qid parity with the FLAT int8 batch
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)}}],"limit":4}"""
    // the FLAT batch path has no global row order (blocks land in task
    // order) — compare as (qid, score desc, id)-sorted sets
    def rowsB(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(r => (r._1, -r._3, r._2))
    assert(rowsB(SearchApi.searchAuto(stored, isp, reqB, lc)) ==
      rowsB(SearchApi.search(stored, isp, reqB)))
    // gated batch shares the per-qid gate loop
    val reqBG = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)},
         "max_score":$hi}],"limit":4}"""
    val gotBG = rowsB(SearchApi.searchAuto(stored, isp, reqBG, lc))
    assert(gotBG.nonEmpty && gotBG.forall(_._3 <= hi))
    assert(gotBG == rowsB(SearchApi.search(stored, isp, reqBG)))
  }

  test("searchAuto: INT8 space routes through the Vamana generation (DISKANN_STATIC)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_vamana_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val isp = Space.fromJson(
      """{"name":"i8_vam","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":{"type":"DISKANN_STATIC",
                    "params":{"R":32,"L":1000000,"beam_width":4,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val req = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":9}"""
    // no generation yet → FLAT int8 fallback
    assert(SearchApi.searchAuto(stored, isp, req, lc).count() == 9)

    lc.rebuildVamana("_id", "iv",
      graft.operators.VamanaIndex.Params(r = 32, l = 100, metric = "ip",
        numShards = 3))
    // L ≥ |shard| ⇒ routed ≡ the brute int8 scan, scores bit-identical
    val got = rows(SearchApi.searchAuto(stored, isp, req, lc))
    assert(got == rows(SearchApi.search(stored, isp, req)))
    assert(got.head._1 == 0L)

    // scalar filter + gate ride the beam walk / gate loop; parity holds
    val filtered = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4]}]},"limit":6}"""
    assert(rows(SearchApi.searchAuto(stored, isp, filtered, lc)) ==
      rows(SearchApi.search(stored, isp, filtered)))
    val n = stored.count().toInt
    val all = SearchApi.search(stored, isp,
      s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":$n}""")
      .select($"_score").collect().map(_.getDouble(0))
    val hi = all(all.length - 300) // selective: gate loop must iterate
    val gated = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
         "max_score":$hi}],"limit":9}"""
    val gr = rows(SearchApi.searchAuto(stored, isp, gated, lc))
    assert(gr.length == 9 && gr.forall(_._2 <= hi))
    assert(gr == rows(SearchApi.search(stored, isp, gated)))

    // batched parity (FLAT batch rows have no global order — sort both)
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)}}],"limit":4}"""
    def rowsB(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(r => (r._1, -r._3, r._2))
    assert(rowsB(SearchApi.searchAuto(stored, isp, reqB, lc)) ==
      rowsB(SearchApi.search(stored, isp, reqB)))
  }

  test("searchAuto: INT8 space routes through the IVFPQ generation (integer-kernel rerank)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_ivfpq_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    // full probe + corpus-deep recall_num ⇒ the ADC shortlist passes
    // everything and the integer-kernel rerank IS the brute int8 scan
    val isp = Space.fromJson(
      """{"name":"i8_pq","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":{"type":"IVFPQ",
                    "params":{"ncentroids":8,"nprobe":8,
                              "recall_num":1000000,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val req = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":9}"""
    // no generation yet → FLAT int8 fallback
    assert(SearchApi.searchAuto(stored, isp, req, lc).count() == 9)

    lc.rebuildIvfPq("iv", ncentroids = 8, m = 8)
    val got = rows(SearchApi.searchAuto(stored, isp, req, lc))
    assert(got == rows(SearchApi.search(stored, isp, req)))
    assert(got.head._1 == 0L)

    // scalar filter composes into the scan both stages run over
    val filtered = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4]}]},"limit":6}"""
    assert(rows(SearchApi.searchAuto(stored, isp, filtered, lc)) ==
      rows(SearchApi.search(stored, isp, filtered)))

    // score gate at the exact-rerank heap (in-scan, no loop)
    val n = stored.count().toInt
    val all = SearchApi.search(stored, isp,
      s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":$n}""")
      .select($"_score").collect().map(_.getDouble(0))
    val hi = all(all.length - 300)
    val gated = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
         "max_score":$hi}],"limit":9}"""
    val gr = rows(SearchApi.searchAuto(stored, isp, gated, lc))
    assert(gr.length == 9 && gr.forall(_._2 <= hi))
    assert(gr == rows(SearchApi.search(stored, isp, gated)))

    // a TIGHT shortlist really shortlists: recall_num=32 at nprobe=8
    // returns ranked rows drawn from the ADC survivors (rows-only shape)
    val tight = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],
         "index_params":{"recall_num":32},"limit":9}"""
    val tr = rows(SearchApi.searchAuto(stored, isp, tight, lc))
    assert(tr.length == 9 && tr.map(_._2) == tr.map(_._2).sorted.reverse)

    // batched parity (FLAT batch rows have no global order — sort both)
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)}}],"limit":4}"""
    def rowsB(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(r => (r._1, -r._3, r._2))
    assert(rowsB(SearchApi.searchAuto(stored, isp, reqB, lc)) ==
      rowsB(SearchApi.search(stored, isp, reqB)))
  }

  test("searchAuto: INT8 rides SCANN and IVFRABITQ (integer-kernel rerank)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_sc_rb_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    def spFor(index: String): Space = Space.fromJson(
      s"""{"name":"i8_scrb","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":$index}]}""")
    val scannSp = spFor(
      """{"type":"SCANN","params":{"ncentroids":8,"nprobe":8,
         "recall_num":1000000,"metric_type":"InnerProduct"}}""")
    val rbSp = spFor(
      """{"type":"IVFRABITQ","params":{"ncentroids":8,"nprobe":8,
         "recall_num":1000000,"metric_type":"InnerProduct"}}""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val req = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":9}"""
    // no generations yet → FLAT int8 fallback for both declarations
    assert(SearchApi.searchAuto(stored, scannSp, req, lc).count() == 9)
    assert(SearchApi.searchAuto(stored, rbSp, req, lc).count() == 9)

    lc.rebuildScann("iv", ncentroids = 8, m = 8, ksub = 16)
    lc.rebuildIvfRabitq("iv", ncentroids = 8)
    val want = rows(SearchApi.search(stored, scannSp, req))
    for (sp <- Seq(scannSp, rbSp)) {
      val got = rows(SearchApi.searchAuto(stored, sp, req, lc))
      assert(got == want, s"int8 parity failed for ${sp.vectorFields.head.vector.get.indexType}")
      assert(got.head._1 == 0L)
    }

    // gated single at the rerank heap + batched per-qid parity (RaBitQ)
    val n = stored.count().toInt
    val all = SearchApi.search(stored, rbSp,
      s"""{"vectors":[{"field":"iv","feature":${fjson(q0)}}],"limit":$n}""")
      .select($"_score").collect().map(_.getDouble(0))
    val hi = all(all.length - 300)
    val gated = s"""{"vectors":[{"field":"iv","feature":${fjson(q0)},
         "max_score":$hi}],"limit":9}"""
    val gr = rows(SearchApi.searchAuto(stored, rbSp, gated, lc))
    assert(gr.length == 9 && gr.forall(_._2 <= hi))
    assert(gr == rows(SearchApi.search(stored, rbSp, gated)))

    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv","feature":${fjson(q0 ++ q1)}}],"limit":4}"""
    def rowsB(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        .sortBy(r => (r._1, -r._3, r._2))
    for (sp <- Seq(scannSp, rbSp))
      assert(rowsB(SearchApi.searchAuto(stored, sp, reqB, lc)) ==
        rowsB(SearchApi.search(stored, sp, reqB)))
  }

  test("conjunctions over mixed value types: int8 and binary legs score through their own path") {
    import graft.Graft.F
    val two = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"),
        F.signBits(slice(col("embedding"), 33, 32)).as("bv2"))
    def spFor(second: String): Space = Space.fromJson(
      s"""{"name":"mv_mixed","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}},
          $second]}""")
    val i8Sp = spFor(
      """{"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
         "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}""")
    val binSp = spFor(
      """{"name":"bv2","type":"vector","dimension":32,"value_type":"binary",
         "index":{"type":"FLAT"}}""")
    val qa = q0.take(32); val qb = q0.drop(32)
    def single(sp: Space, f2: String) = SearchApi.search(two, sp,
      s"""{"vectors":[{"field":"v1","feature":${fjson(qa)}},
           {"field":"$f2","feature":${fjson(qb)}}],"limit":8}""")
      .select($"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // float∧int8: both legs non-empty, conjunction returns ranked rows
    val i8Rows = single(i8Sp, "iv2")
    assert(i8Rows.nonEmpty)
    // float∧binary: Hamming leg ascends, intersection still serves
    val binRows = single(binSp, "bv2")
    assert(binRows.nonEmpty)

    // BATCHED conjunction: per-qid blocks are independent, so qid 0 of a
    // req_num=2 request must equal the single-query result exactly
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    def batched(sp: Space, f2: String) = SearchApi.search(two, sp,
      s"""{"vectors":[{"field":"v1","feature":${fjson(qa ++ q1.take(32))}},
           {"field":"$f2","feature":${fjson(qb ++ q1.drop(32))}}],"limit":8}""")
      .select($"_qid", $"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for ((sp, f2, want) <- Seq((i8Sp, "iv2", i8Rows), (binSp, "bv2", binRows))) {
      val got = batched(sp, f2)
      assert(got.map(_._1).distinct.sorted == Seq(0L, 1L))
      val qid0 = got.filter(_._1 == 0L).map(r => (r._2, r._3))
        .sortBy(r => (-r._2, r._1))
      assert(qid0 == want.sortBy(r => (-r._2, r._1)),
        s"batched qid-0 block diverges from the single-query conjunction for $f2")
    }
  }

  test("searchAuto: INT8 conjunctions route per-field (graph + IVF legs, integer kernels)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_mv_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(slice(col("embedding"), 1, 32)).as("iv1"),
        F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = Space.fromJson(
      """{"name":"i8_mv","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv1","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "efSearch":1000000,"metric_type":"InnerProduct"}}},
          {"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":8,"nprobe":8,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val qa = q0.take(32); val qb = q0.drop(32)
    def reqOf(extra: String = "") = s"""{"vectors":[
        {"field":"iv1","feature":${fjson(qa)}$extra},
        {"field":"iv2","feature":${fjson(qb)}$extra}],"limit":8}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // only iv1's generation READY → whole request degrades to the FLAT
    // conjunction (which scores int8 legs natively since late r16)
    lc.scoped("iv1").rebuildHnsw("_id", "iv1",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    val flat = rows(SearchApi.search(stored, sp, reqOf()))
    assert(rows(SearchApi.searchAuto(stored, sp, reqOf(), lc)) == flat)

    // both generations READY → routed intersection ≡ FLAT conjunction
    lc.scoped("iv2").rebuild("iv2", ncentroids = 8)
    assert(rows(SearchApi.searchAuto(stored, sp, reqOf(), lc)) == flat)

    // per-condition gate applies per int8 leg before the intersection
    val gated = reqOf(""","min_score":100""")
    val gr = rows(SearchApi.searchAuto(stored, sp, gated, lc))
    assert(gr == rows(SearchApi.search(stored, sp, gated)))

    // BATCHED int8 conjunction routes too (late r16): per-qid blocks
    // independent ⇒ qid 0 of the routed batch ≡ the routed single
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[
        {"field":"iv1","feature":${fjson(qa ++ q1.take(32))}},
        {"field":"iv2","feature":${fjson(qb ++ q1.drop(32))}}],"limit":8}"""
    val gotB = SearchApi.searchAuto(stored, sp, reqB, lc)
      .select($"_qid", $"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotB.map(_._1).distinct.sorted == Seq(0L, 1L))
    assert(gotB.filter(_._1 == 0L).map(r => (r._2, r._3)) ==
      rows(SearchApi.searchAuto(stored, sp, reqOf(), lc)))
  }

  test("searchAuto: conjunctions route compressed and binary legs (any family combination)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("mv_any_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        F.signBits(slice(col("embedding"), 33, 32)).as("bv2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    // float SCANN leg ∧ binary BINARYIVF leg — neither routed before
    // late r16 (the conjunctive route demanded HNSW/IVF/Vamana float
    // legs); the reference intersects ANY family combination
    val sp = Space.fromJson(
      """{"name":"mv_any","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"v1","type":"vector","dimension":32,
           "index":{"type":"SCANN",
                    "params":{"ncentroids":8,"nprobe":8,
                              "recall_num":1000000,
                              "metric_type":"InnerProduct"}}},
          {"name":"bv2","type":"vector","dimension":32,"value_type":"binary",
           "index":{"type":"BINARYIVF","params":{"ncentroids":4,"nprobe":4}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val qa = q0.take(32); val qb = q0.drop(32)
    val req = s"""{"vectors":[{"field":"v1","feature":${fjson(qa)}},
         {"field":"bv2","feature":${fjson(qb)}}],"limit":8}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // no generations → FLAT conjunction serves (value-type-aware legs)
    val flat = rows(SearchApi.search(stored, sp, req))
    assert(rows(SearchApi.searchAuto(stored, sp, req, lc)) == flat)
    // one READY leg is not enough — partial routing degrades whole
    lc.scoped("v1").rebuildScann("v1", ncentroids = 8, m = 8, ksub = 16)
    assert(rows(SearchApi.searchAuto(stored, sp, req, lc)) == flat)
    // both READY → routed per-field intersection ≡ FLAT at exact points
    lc.scoped("bv2").rebuildBinaryIvf("bv2", ncentroids = 4)
    assert(rows(SearchApi.searchAuto(stored, sp, req, lc)) == flat)
    // per-condition gates ride each leg in-scan (Hamming + IP scores)
    val gated = s"""{"vectors":[{"field":"v1","feature":${fjson(qa)},
         "min_score":0.0},
         {"field":"bv2","feature":${fjson(qb)},"max_score":16}],"limit":8}"""
    val gr = rows(SearchApi.searchAuto(stored, sp, gated, lc))
    assert(gr == rows(SearchApi.search(stored, sp, gated)))

    // BATCHED (req_num=2): per-qid blocks are independent, so qid 0 of
    // the routed batch must equal the routed single result exactly
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"v1","feature":${fjson(qa ++ q1.take(32))}},
         {"field":"bv2","feature":${fjson(qb ++ q1.drop(32))}}],"limit":8}"""
    val gotB = SearchApi.searchAuto(stored, sp, reqB, lc)
      .select($"_qid", $"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotB.map(_._1).distinct.sorted == Seq(0L, 1L))
    assert(gotB.filter(_._1 == 0L).map(r => (r._2, r._3)) == flat)
  }

  test("searchAuto: INT8 conjunctions route COMPRESSED legs (rerankInt8 single + batched)") {
    import graft.Graft.F
    val root = java.nio.file.Files.createTempDirectory("i8_mv_pq_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(slice(col("embedding"), 1, 32)).as("iv1"),
        F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    // int8 IVFPQ leg ∧ int8 IVFRABITQ leg — both shortlist in the
    // raw-code domain and rerank with the integer kernels (rerankInt8);
    // full probe + corpus-deep recall ⇒ exact ≡ FLAT int8 conjunction
    val sp = Space.fromJson(
      """{"name":"i8_mv_pq","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv1","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"IVFPQ",
                    "params":{"ncentroids":8,"nprobe":8,
                              "recall_num":1000000,
                              "metric_type":"InnerProduct"}}},
          {"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"IVFRABITQ",
                    "params":{"ncentroids":8,"nprobe":8,
                              "recall_num":1000000,
                              "metric_type":"InnerProduct"}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.scoped("iv1").rebuildIvfPq("iv1", ncentroids = 8, m = 8)
    lc.scoped("iv2").rebuildIvfRabitq("iv2", ncentroids = 8)
    val qa = q0.take(32); val qb = q0.drop(32)
    val req = s"""{"vectors":[{"field":"iv1","feature":${fjson(qa)}},
         {"field":"iv2","feature":${fjson(qb)}}],"limit":8}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val flat = rows(SearchApi.search(stored, sp, req))
    assert(rows(SearchApi.searchAuto(stored, sp, req, lc)) == flat)
    // batched: qid-0 block ≡ single
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqB = s"""{"vectors":[{"field":"iv1","feature":${fjson(qa ++ q1.take(32))}},
         {"field":"iv2","feature":${fjson(qb ++ q1.drop(32))}}],"limit":8}"""
    val gotB = SearchApi.searchAuto(stored, sp, reqB, lc)
      .select($"_qid", $"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(gotB.map(_._1).distinct.sorted == Seq(0L, 1L))
    assert(gotB.filter(_._1 == 0L).map(r => (r._2, r._3)) == flat)
  }

  test("searchAuto: INT8 conjunction over a LIVE TAIL (integer-kernel tail legs per field)") {
    import graft.Graft.F
    val tmp = java.nio.file.Files.createTempDirectory("i8_mv_tail").toString
    val basePath = s"$tmp/space"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    // base EXCLUDES the query row: it arrives through the buffer, so a
    // correct conjunction must surface it from BOTH fields' tail legs
    spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        F.quantizeI8(slice(col("embedding"), 1, 32)).as("iv1"),
        F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"))
      .write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.scoped("iv1").rebuildHnsw("_id", "iv1",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    lc.scoped("iv2").rebuild("iv2", ncentroids = 8)
    val qc1 = graft.functions.VecKernels.quantizeI8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q0.take(32).toArray))
    val qc2 = graft.functions.VecKernels.quantizeI8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q0.drop(32).toArray))
    val tail = new graft.streaming.RealtimeTail(spark, basePath, tailPath, ckpt, "_id")
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Array[Byte], Array[Byte])]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "label", "iv1", "iv2"), intervalMs = 100L)
    mem.addData((900000L, 1, qc1, qc2))
    ingest.processAllAvailable()
    ingest.stop()
    val sp = Space.fromJson(
      """{"name":"i8_mv_rt","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv1","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,
                              "efSearch":1000000,"metric_type":"InnerProduct"}}},
          {"name":"iv2","type":"vector","dimension":32,"value_type":"int8",
           "index":{"type":"IVFFLAT",
                    "params":{"ncentroids":8,"nprobe":8,
                              "metric_type":"InnerProduct"}}}]}""")
    val req = s"""{"vectors":[{"field":"iv1","feature":${fjson(q0.take(32))}},
         {"field":"iv2","feature":${fjson(q0.drop(32))}}],"limit":5}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = rows(SearchApi.searchAuto(base, sp, req, lc, tail = Some(tail)))
    // ≡ the FLAT int8 conjunction over the live (base ∪ buffer) view
    val want = rows(SearchApi.search(tail.snapshot(base.schema), sp, req))
    assert(got == want)
    assert(got.map(_._1).contains(900000L)) // the buffered write is served
  }

  test("searchAuto: deletes gate routed serving — k live docs, no ghosts, no under-fill") {
    // the reference's deleted-bitmap contract (engine.cc:869-899,
    // gamma_common_data.h:94-105): after a delete, EVERY index search must
    // return live docs only, immediately — here via the delete ledger as
    // the HNSW allow-functor and the IVF scan's anti-filter
    val root = java.nio.file.Files.createTempDirectory("del_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    lc.rebuild("embedding", ncentroids = 8)

    // delete the query vector's own id (= top-1 of any ungated walk) plus
    // neighbors, AFTER both generations are READY
    val deleted = Seq(0L, 1L, 2L)
    lc.deleteByIds("_id", deleted)
    val live = spark.read.parquet(spacePath) // rewritten live table
    assert(live.filter(col("_id").isin(deleted: _*)).count() == 0)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq

    // HNSW route (request-level efSearch override exercises the
    // doc_query.go:1475-1522 merge chain — the space declares none)
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":60}}}]}""")
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"efSearch":1048576},"limit":8}"""
    val hnswGot = rows(SearchApi.searchAuto(live, hspace, req, lc))
    // exact walk over live docs ⇒ parity with FLAT over the live table
    assert(hnswGot == rows(SearchApi.search(live, hspace, req)))
    assert(hnswGot.size == 8) // full k — no under-fill
    assert(hnswGot.forall(r => !deleted.contains(r._1))) // no ghosts

    // IVF route, exhaustive probe ⇒ exact over live docs
    val ispace = Space.fromJson(
      """{"name":"ivf_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}}]}""")
    val ivfGot = rows(SearchApi.searchAuto(live, ispace, req, lc))
    assert(ivfGot == rows(SearchApi.search(live, ispace, req)))
    assert(ivfGot.size == 8)
    assert(ivfGot.forall(r => !deleted.contains(r._1)))
  }

  test("searchAuto: batched req_num routes through the index (parity with FLAT batch)") {
    val root = java.nio.file.Files.createTempDirectory("batch_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    lc.rebuild("embedding", ncentroids = 8)

    val q1: Seq[Float] = stored.filter($"_id" === 7L)
      .select("embedding").head().getSeq[Float](0)
    val flatFeature = (q0 ++ q1).mkString("[", ",", "]") // req_num=2 ride one array
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._4, t._2))

    // HNSW batch route: exact params ⇒ parity with the FLAT batch path
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":1048576}}}]}""")
    val breq = s"""{"vectors":[{"field":"embedding","feature":$flatFeature}],"limit":5}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, breq, lc)) ==
      rows(SearchApi.search(stored, hspace, breq)))

    // IVF batch route, exhaustive probe ⇒ parity too
    val ispace = Space.fromJson(
      """{"name":"ivf_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}}]}""")
    assert(rows(SearchApi.searchAuto(stored, ispace, breq, lc)) ==
      rows(SearchApi.search(stored, ispace, breq)))

    // per-qid offset slices WITHIN each block
    val oreq = s"""{"vectors":[{"field":"embedding","feature":$flatFeature}],
         "limit":3,"offset":2}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, oreq, lc)) ==
      rows(SearchApi.search(stored, hspace, oreq)))

    // FILTERED batch: the allow-set is collected once and broadcast into
    // every query's walk — parity with the FLAT filtered batch
    val freq = s"""{"vectors":[{"field":"embedding","feature":$flatFeature}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4,6]}]},"limit":4}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, freq, lc)) ==
      rows(SearchApi.search(stored, hspace, freq)))
    // broad-filter guard applies to the batch route too
    val saved = SearchApi.maxFilterAllowIds
    try {
      SearchApi.maxFilterAllowIds = 1
      assert(rows(SearchApi.searchAuto(stored, hspace, freq, lc)) ==
        rows(SearchApi.search(stored, hspace, freq)))
    } finally SearchApi.maxFilterAllowIds = saved
  }

  test("searchAuto: clustered HNSW generation routes with partition pruning") {
    val root = java.nio.file.Files.createTempDirectory("hnswr_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnswClustered("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2"), ncentroids = 8)
    assert(lc.ready(Kind.Hnsw).flatMap(_.routedModel("l2")).exists(_.ncentroids == 8))
    val hspace = Space.fromJson(
      """{"name":"hnswr_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":1048576}}}]}""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // default route = ALL lists (exact serving) ⇒ parity with FLAT
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":8}"""
    assert(rows(SearchApi.searchAuto(stored, hspace, req, lc)) ==
      rows(SearchApi.search(stored, hspace, req)))
    // request nprobe narrows the route; the top hit (the query's own
    // vector) lives in the nearest list, so it must survive nprobe=1
    val pruned = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"nprobe":1},"limit":8}"""
    val got = rows(SearchApi.searchAuto(stored, hspace, pruned, lc))
    assert(got.nonEmpty && got.head._1 == 0L)
    // the plan prunes partitions: only the routed shard's files scan —
    // the walk runs as the construction-time hits action, so the pruning
    // shows in the captured action plans. The walk is a Spark job with the
    // layout one node over the resident-graph cap (ResidentGraphSpec pins
    // the resident walk's routing)
    val nodes = stored.count().toInt
    val saved = SearchApi.maxFilterAllowIds
    val (_, planTxt) =
      try {
        SearchApi.maxFilterAllowIds = nodes - 1
        plansDuring(SearchApi.searchAuto(stored, hspace, pruned, lc))
      } finally SearchApi.maxFilterAllowIds = saved
    assert(planTxt.contains("shard_id"), "expected a shard_id partition filter in the plan")
    // batched request routes through the union of per-query lists
    val q7 = stored.filter($"_id" === 7L).select("embedding").head().getSeq[Float](0)
    val breq = s"""{"vectors":[{"field":"embedding","feature":${(q0 ++ q7).mkString("[", ",", "]")}}],"limit":5}"""
    def brows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_qid", $"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq.sortBy(t => (t._1, t._3, t._2))
    assert(brows(SearchApi.searchAuto(stored, hspace, breq, lc)) ==
      brows(SearchApi.search(stored, hspace, breq)))
  }

  test("searchAuto: IVFPQ space routes through ADC + recall_num rerank, deletes gated") {
    val root = java.nio.file.Files.createTempDirectory("pq_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val pspace = Space.fromJson(
      """{"name":"pq_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFPQ","params":{"ncentroids":8,"nprobe":8,"nsubvector":8}}}]}""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // full probe + full rerank ⇒ exact parity with FLAT
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"recall_num":1048576},"limit":8}"""
    // no generation yet → FLAT fallback
    assert(SearchApi.searchAuto(spark.read.parquet(spacePath), pspace, req, lc).count() == 8)
    lc.rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)
    val stored = spark.read.parquet(spacePath)
    assert(rows(SearchApi.searchAuto(stored, pspace, req, lc)) ==
      rows(SearchApi.search(stored, pspace, req)))
    // default recall_num = k (gamma_index_ivfpq.cc:765-768): pure ADC
    // ranking — approximate but well-formed (k rows, asc scores)
    val adc = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":8}"""
    val adcRows = rows(SearchApi.searchAuto(stored, pspace, adc, lc))
    assert(adcRows.size == 8)
    assert(adcRows.map(_._3) == adcRows.map(_._3).sorted)
    // scalar filter + delete gate compose into both stages
    val deleted = Seq(0L, 1L)
    lc.deleteByIds("_id", deleted)
    val live = spark.read.parquet(spacePath)
    val got = rows(SearchApi.searchAuto(live, pspace, req, lc))
    assert(got == rows(SearchApi.search(live, pspace, req)))
    assert(got.size == 8 && got.forall(r => !deleted.contains(r._1)))
  }

  test("searchAuto: BINARYIVF space routes through the Hamming coarse quantizer") {
    val root = java.nio.file.Files.createTempDirectory("bivf_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        graft.Graft.columnOf(graft.functions.SignBits(
          graft.Graft.exprOf(col("embedding").cast("array<float>")))).as("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildBinaryIvf("embedding", ncentroids = 8)
    val bspace = Space.fromJson(
      """{"name":"bivf_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"BINARYIVF","params":{"ncentroids":8,"nprobe":8}}}]}""")
    assert(bspace.vectorFields.head.vector.get.valueType == "binary") // implied by type
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val stored = spark.read.parquet(spacePath)
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":8}"""
    // full probe ⇒ exact Hamming parity with the FLAT binary path
    assert(rows(SearchApi.searchAuto(stored, bspace, req, lc)) ==
      rows(SearchApi.search(stored, bspace, req)))
    // pruned probe: well-formed (k rows, hamming ascending) and the
    // query's own code (hamming 0) survives nprobe=1 — it lives in the
    // nearest list by definition
    val pruned = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"nprobe":1},"limit":8}"""
    val got = rows(SearchApi.searchAuto(stored, bspace, pruned, lc))
    assert(got.size == 8 && got.head._1 == 0L && got.head._3 == 0.0)
    assert(got.map(_._3) == got.map(_._3).sorted)
    // deletes gated through the bivf generation
    lc.deleteByIds("_id", Seq(0L))
    val live = spark.read.parquet(spacePath)
    val after = rows(SearchApi.searchAuto(live, bspace, req, lc))
    assert(after.size == 8 && after.forall(_._1 != 0L))
    assert(after == rows(SearchApi.search(live, bspace, req)))
  }

  test("searchAuto: IVFRABITQ space routes through the sign-code estimator; GPU_* alias to CPU layouts") {
    val root = java.nio.file.Files.createTempDirectory("rb_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildIvfRabitq("embedding", ncentroids = 8)
    val rbspace = Space.fromJson(
      """{"name":"rb_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFRABITQ","params":{"ncentroids":8,"nprobe":8,"qb":4}}}]}""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // full probe + full rerank ⇒ exact parity with FLAT
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"recall_num":1048576},"limit":8}"""
    val stored = spark.read.parquet(spacePath)
    assert(rows(SearchApi.searchAuto(stored, rbspace, req, lc)) ==
      rows(SearchApi.search(stored, rbspace, req)))
    // deletes gated through the rb generation too
    lc.deleteByIds("_id", Seq(0L))
    val live = spark.read.parquet(spacePath)
    val got = rows(SearchApi.searchAuto(live, rbspace, req, lc))
    assert(got == rows(SearchApi.search(live, rbspace, req)))
    assert(got.size == 8 && got.forall(_._1 != 0L))

    // a GPU_IVFFLAT declaration serves from the CPU IVFFLAT generation
    lc.rebuild("embedding", ncentroids = 8)
    val gspace = Space.fromJson(
      """{"name":"gpu_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"GPU_IVFFLAT","params":{"ncentroids":8,"nprobe":8}}}]}""")
    val greq = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":8}"""
    assert(rows(SearchApi.searchAuto(live, gspace, greq, lc)) ==
      rows(SearchApi.search(live, gspace, greq)))
  }

  test("searchAuto: DISKANN_STATIC space routes to the Vamana generation, deletes gated") {
    val root = java.nio.file.Files.createTempDirectory("vam_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val vspace = Space.fromJson(
      """{"name":"vam_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"DISKANN_STATIC","params":{"R":24,"L":48,"beam_width":4}}}]}""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    // request l_search ≥ corpus ⇒ exact walk; exercised through the
    // reference's request-over-space param merge (l_search over L)
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"l_search":1048576},"limit":8}"""
    // no generation yet → FLAT fallback
    assert(SearchApi.searchAuto(spark.read.parquet(spacePath), vspace, req, lc).count() == 8)
    lc.rebuildVamana("_id", "embedding",
      graft.operators.VamanaIndex.Params(24, 48, 1.2, "l2", numShards = 3))
    val stored = spark.read.parquet(spacePath)
    assert(rows(SearchApi.searchAuto(stored, vspace, req, lc)) ==
      rows(SearchApi.search(stored, vspace, req)))
    // delete AFTER the build: ledger gates the routed walk — k live docs
    val deleted = Seq(0L, 1L)
    lc.deleteByIds("_id", deleted)
    val live = spark.read.parquet(spacePath)
    val got = rows(SearchApi.searchAuto(live, vspace, req, lc))
    assert(got == rows(SearchApi.search(live, vspace, req)))
    assert(got.size == 8 && got.forall(r => !deleted.contains(r._1)))
  }

  test("searchAuto: SSG aliases to the Vamana generation; clustered Vamana routes shards") {
    val root = java.nio.file.Files.createTempDirectory("ssg_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    // CLUSTERED generation: quantizer sidecar present → the arm routes
    // shard_id partitions instead of full fan-out
    lc.rebuildVamanaClustered("_id", "embedding",
      graft.operators.VamanaIndex.Params(24, 48, 1.2, "l2"), ncentroids = 4)
    assert(lc.ready(Kind.Vamana).flatMap(_.routedModel("l2")).exists(_.ncentroids == 4))
    val ssgSpace = Space.fromJson(
      """{"name":"ssg_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"SSG"}}]}""")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id").collect().map(_.getLong(0)).toSeq
    val req = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"l_search":1048576},"limit":8}"""
    val stored = spark.read.parquet(spacePath)
    // SSG serves from the clustered Vamana generation: default nprobe =
    // ncentroids + exhaustive walk ⇒ parity with exact FLAT
    assert(ids(SearchApi.searchAuto(stored, ssgSpace, req, lc)) ==
      ids(SearchApi.search(stored, ssgSpace, req)))
    // narrowed probe still fills k and keeps the query's own list
    val req1 = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "index_params":{"l_search":1048576,"nprobe":1},"limit":8}"""
    val got1 = ids(SearchApi.searchAuto(stored, ssgSpace, req1, lc))
    assert(got1.size == 8 && got1.head == 0L)
    // provenance: a row appended to the SPACE after the build is absent
    // from the routed answer (served from the generation, not FLAT) —
    // the brute path over the live table would see it
    import spark.implicits._
    Seq((900000L, 1, q0.map(_ + 0.001f).toSeq)).toDF("_id", "label", "embedding")
      .select($"_id", $"label", $"embedding".cast("array<float>"))
      .write.mode("append").parquet(spacePath)
    val live = spark.read.parquet(spacePath)
    assert(!ids(SearchApi.searchAuto(live, ssgSpace, req, lc)).contains(900000L))
    assert(ids(SearchApi.search(live, ssgSpace, req)).contains(900000L))
  }

  test("searchAuto: broad-filter HNSW falls back to filter-first brute (selectivity guard)") {
    val root = java.nio.file.Files.createTempDirectory("guard_route").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val hspace = Space.fromJson(
      """{"name":"hnsw_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":1048576}}}]}""")
    val filtered = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":"IN","field":"label","value":[2,4]}]},"limit":6}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"label", $"_score").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val expected = rows(SearchApi.search(stored, hspace, filtered))
    // guard DOWN: every filter is "broad" → brute path must serve, with
    // identical results (the reference's planner switch, engine.cc:355-373)
    val saved = SearchApi.maxFilterAllowIds
    try {
      SearchApi.maxFilterAllowIds = 1
      assert(rows(SearchApi.searchAuto(stored, hspace, filtered, lc)) == expected)
      SearchApi.maxFilterAllowIds = saved
      assert(rows(SearchApi.searchAuto(stored, hspace, filtered, lc)) == expected)
    } finally SearchApi.maxFilterAllowIds = saved
  }

  test("concurrent routed serving: parallel mixed-shape requests return sequential results") {
    // multi-tenant serving safety: requests share the layouts, the
    // lifecycle state files and the Spark session but no mutable
    // per-request state — N concurrent searchAuto calls (gated,
    // filtered, batched, plain) must equal their sequential runs.
    // (The r17 gated segment pin had a cross-request eviction hazard
    // the advisor flagged; the r18 one-walk banding removed the pin —
    // this pins the property itself.)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = java.nio.file.Files.createTempDirectory("conc_serve").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val hspace = Space.fromJson(
      """{"name":"conc_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val q1 = corpus.filter($"_id" === "1").select("embedding").head().getSeq[Float](0)
    val reqs = Seq(
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],"limit":7}""",
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
           "min_score":1.41}],"limit":7}""",
      s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)}}],
           "filters":{"operator":"AND","conditions":[
             {"operator":"IN","field":"label","value":[1,3]}]},"limit":7}""",
      s"""{"vectors":[{"field":"embedding","feature":${(q0 ++ q1).mkString("[", ",", "]")}}],"limit":5}""")
    def run(r: String) = SearchApi.searchAuto(stored, hspace, r, lc)
      .collect().map(_.toString).toSeq
    val sequential = reqs.map(run)
    val parallel = Await.result(
      Future.sequence((reqs ++ reqs).map(r => Future(run(r)))), 5.minutes)
    assert(parallel == sequential ++ sequential,
      "concurrent serving must return the sequential results")
  }

  test("concurrent GATED serving costs exactly 2x one request's jobs (no cross-request re-pay)") {
    // the r17 gated path PINNED (persisted) segments across its gate-loop
    // probes, and one request's finally-unpersist could evict another's
    // pin mid-loop — correct results, re-paid segment IO. The r18 in-walk
    // band admission removed the pin (the loop converges on probe 1), so
    // there is no shared cache to evict: two parallel gated requests must
    // fire exactly the sum of their sequential job counts. A re-pay (or a
    // resurrected shared pin with an eviction hazard) shows up here as
    // extra jobs.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = java.nio.file.Files.createTempDirectory("conc_gate").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val hspace = Space.fromJson(
      """{"name":"conc_gate_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val gated = s"""{"vectors":[{"field":"embedding","feature":${fjson(q0)},
         "min_score":1.41}],"limit":7}"""
    def run() = SearchApi.searchAuto(stored, hspace, gated, lc)
      .collect().map(_.toString).toSeq
    // job-group scoping is thread-local, so count globally — suites run
    // sequentially in the forked test JVM, the window sees only `body`
    def jobsGlobal(body: => Unit): Int = {
      val count = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          count.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        var prev = -1; var tries = 0
        while (count.get != prev && tries < 50) {
          prev = count.get; Thread.sleep(100); tries += 1
        }
        count.get
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val expected = run() // warm: file listing, layout cold-start
    val jSeq = jobsGlobal { run() }
    val jPar = jobsGlobal {
      val rs = Await.result(
        Future.sequence(Seq(Future(run()), Future(run()))), 5.minutes)
      assert(rs == Seq(expected, expected),
        "parallel gated requests must return the sequential results")
    }
    assert(jSeq >= 1, s"gated request fired $jSeq jobs — the probe must run")
    assert(jPar <= 2 * jSeq,
      s"two parallel gated requests fired $jPar jobs vs $jSeq sequential — " +
        "cross-request re-pay (or a shared-pin eviction) is back")
  }
}
