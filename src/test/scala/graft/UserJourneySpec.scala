package graft

import graft.api.IndexLifecycle.Kind
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.api.{IndexLifecycle, Ingest, SearchApi}
import graft.operators.IvfIndex
import graft.schema.{Space, SpaceCatalog}

/** End-to-end journey of a vearch user switching to this engine: every
  * step is the graft equivalent of a REST call they make today
  * (create space → upsert → search → filtered search → delete-by-query →
  * index rebuild → probed search → realtime tail).
  */
class UserJourneySpec extends SparkSpec {
  import spark.implicits._

  test("full vearch workflow: space → ingest → search → delete → index → search") {
    val root = Files.createTempDirectory("journey").toString
    val cat = new SpaceCatalog(spark, root)

    // 1. PUT /dbs/:db + POST /dbs/:db/spaces — schema'd space
    cat.createDb("demo")
    val space = Space.fromJson(
      """{"name":"docs","partition_num":2,"fields":[
          {"name":"category","type":"string","index":{"type":"SCALAR"}},
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,"format":"normalization",
           "index":{"type":"IVFFLAT","params":{"metric_type":"InnerProduct"}}}]}""")
    cat.createSpace("demo", space)

    // 2. POST /document/upsert — batch with a missing _id and a raw vector
    def v(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 31 + i) % 10 - 5).toFloat)
    val batch = (1 to 40).map { i =>
      (if (i % 10 == 0) null else s"doc$i", s"cat${i % 4}", i % 5, v(i))
    }.toDF("_id", "category", "stars", "vec")
      .select($"_id", $"category", $"stars", $"vec".cast("array<float>").as("vec"))
    val conformed = Ingest.conform(batch, space)
    cat.upsert("demo", "docs", conformed, partitionNum = 2)
    assert(cat.docCount("demo", "docs") == 40)
    // normalization-at-ingest happened
    val norm = cat.read("demo", "docs").select(Graft.F.vecNorm($"vec")).head().getDouble(0)
    assert(math.abs(norm - 1.0) < 1e-5)

    // 3. POST /document/search — hybrid search through the request JSON
    val corpus = cat.read("demo", "docs")
    val qv = corpus.filter($"_id" === "doc1").select("vec").head().getSeq[Float](0)
    val res = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],
           "filters":{"operator":"AND","conditions":[
             {"operator":">=","field":"stars","value":2}]},
           "limit":5}""")
    val rows = res.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Int]("stars") >= 2))
    assert(res.columns.contains("_score"))

    // 4. POST /document/query — point lookups in request order
    val pts = SearchApi.query(corpus, space,
      """{"document_ids":["doc3","doc1"],"limit":10}""")
    assert(pts.select("_id").as[String].collect().toSeq == Seq("doc3", "doc1"))

    // 5. POST /document/delete (by query)
    cat.deleteByQuery("demo", "docs", col("category") === "cat0")
    assert(cat.docCount("demo", "docs") == 30)

    // 6. POST /index/rebuild — BUILDING→READY, then probed search
    val lc = new IndexLifecycle(spark, s"$root/demo/docs")
    lc.rebuild("vec", ncentroids = 4)
    val model = lc.ready(Kind.Ivf).map(_.centroidModel("ip")).get
    val idx = lc.ready(Kind.Ivf).map(_.table).get
    val probed = IvfIndex.search(idx, $"vec", model, qv, k = 3,
      nprobe = 4, tieBreak = Some($"_id"))
    assert(probed.count() == 3)
    assert(probed.select("_id").as[String].head() == "doc1") // self on full probe

    // 7. alias + count (admin surface)
    cat.createAlias("docs_alias", "demo", "docs")
    assert(spark.table("docs_alias").count() == 30)

    // 8. drop
    cat.dropSpace("demo", "docs")
    assertThrows[Exception](cat.read("demo", "docs").collect())
  }

  test("quantized-space journey: engine config → int8 ingest → search → sort") {
    val root = Files.createTempDirectory("journey_i8").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("demo")
    // a space declaring int8 storage and a tight latency budget
    val space = Space.fromJson(
      """{"name":"qdocs","partition_num":4,
          "engine":{"refresh_interval":500,"slow_search_time":200},
          "fields":[
            {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
            {"name":"vec","type":"vector","dimension":8,"value_type":"int8",
             "index":{"type":"FLAT","params":{"metric_type":"InnerProduct"}}}]}""")
    cat.createSpace("demo", space)
    assert(space.config.slowSearchTimeMs == 200L)

    // ingest carries pre-quantized int8 codes (dim bytes, per Ingest rules)
    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 31 + i) % 10 - 5) / 5f)
    val raw = (1 to 30).map(i => (s"d$i", i % 5, vf(i)))
      .toDF("_id", "stars", "vraw")
      .select($"_id", $"stars", $"vraw".cast("array<float>").as("vraw"))
    val coded = raw.select($"_id", $"stars", Graft.F.quantizeI8($"vraw").as("vec"))
    cat.upsert("demo", "qdocs", Ingest.conform(coded, space), partitionNum = 4)
    assert(cat.docCount("demo", "qdocs") == 30)

    // search: float feature in the request, int8 path under the hood
    val corpus = cat.read("demo", "qdocs")
    val q = vf(1)
    val res = SearchApi.search(corpus, space,
      s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],
           "limit":5}""").collect()
    assert(res.length == 5)
    // top score must equal the independently computed int8-IP maximum
    val qB = graft.functions.VecKernels.quantizeI8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray))
    val bestScore = corpus.select($"vec").collect()
      .map(r => graft.functions.VecKernels.i8Dot(r.getAs[Array[Byte]](0), qB)).max
    assert(res.head.getAs[Double]("_score") == bestScore)
    val resScores = res.map(_.getAs[Double]("_score")).toSeq
    assert(resScores == resScores.sorted.reverse) // ip ⇒ desc

    // query verb with a sort spec over the scalar field
    val sorted = SearchApi.query(corpus, space,
      """{"sort":[{"stars":{"order":"desc"}}],"limit":10}""")
      .select($"stars").as[Int].collect().toSeq
    assert(sorted == sorted.sorted.reverse)

    // bucketed upsert: one id touches one bucket, rest byte-stable
    cat.upsert("demo", "qdocs",
      Ingest.conform(coded.filter($"_id" === "d7"), space), partitionNum = 4)
    assert(cat.docCount("demo", "qdocs") == 30)
  }

  test("data-recipe journey: quality gates → decontaminate → dedup → mix → LM rank") {
    import graft.operators.{Dedup, Sampling, TextOps}
    val docs = spark.read.parquet(s"$sf/documents.parquet")

    // 1. per-row quality gates: repetition + quality features
    val rep = TextOps.repetitionSignals($"text")
    val gated = docs
      .withColumn("rep", rep)
      .filter($"rep.n_tokens" >= 10 && $"rep.top_bigram_frac" < 0.9)
      .drop("rep")
    assert(gated.count() > 0 && gated.count() <= docs.count())

    // 2. decontaminate against a held-out "benchmark" slice
    val bench = docs.filter($"doc_id" % 17 === 0)
    val corpus = gated.filter($"doc_id" % 17 =!= 0)
    val clean = corpus.join(
      TextOps.decontaminate(corpus, "doc_id", "text", bench, "text", n = 5)
        .filter($"is_contaminated" === 0).select($"id".as("doc_id")),
      Seq("doc_id"))

    // 3. exact dedup: keep the canonical survivor per content hash
    val survivors = clean.join(
      Dedup.exact(clean, "doc_id", "text").select($"keep_id".as("doc_id")),
      Seq("doc_id"))
    assert(survivors.count() <= clean.count())

    // 4. deterministic weighted mix by language
    val mixed = Sampling.mix(Seq(
      (survivors.filter($"lang" === "en"), 0.9),
      (survivors.filter($"lang" =!= "en"), 0.5)), "doc_id")

    // 5. rank the final recipe by unigram-LM score; re-running the whole
    // chain yields the identical row set (every step is deterministic)
    val ranked = TextOps.unigramLogProb(mixed, "doc_id", "text")
      .orderBy($"avg_logp".desc, $"id")
    val ids = ranked.select($"id").as[Long].collect().toSeq
    assert(ids.nonEmpty)
    val ids2 = TextOps.unigramLogProb(mixed, "doc_id", "text")
      .orderBy($"avg_logp".desc, $"id")
      .select($"id").as[Long].collect().toSeq
    assert(ids == ids2)
  }

  test("graph-index journey: HNSW space → build → routed search → drift rebuild") {
    val root = Files.createTempDirectory("journey_hnsw").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("demo")
    // a space whose vector field DECLARES the graph index, exactly as a
    // reference user writes it; efSearch ≥ corpus makes the routed walk
    // exact so every step below is assertable against the FLAT path
    val space = Space.fromJson(
      """{"name":"gdocs","fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("demo", space)

    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    val docs = (0L until 60L).map(i => (i, (i % 5).toInt, vf(i.toInt)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("demo", "gdocs", docs, partitionNum = 2)

    // POST /index/rebuild for the graph kind: BUILDING→READY generation
    val lc = new IndexLifecycle(spark, s"$root/demo/gdocs")
    val hp = graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2)
    lc.rebuildHnsw("_id", "vec", hp)
    assert(lc.ready(Kind.Hnsw).map(_.table.as[graft.operators.HnswIndex.Segment]).isDefined)

    // POST /document/search routes through the planner switch; exact-ef
    // walk ≡ the brute FLAT path, filter riding the allow-set
    val corpus = cat.read("demo", "gdocs")
    val qv = (0 until 8).map(i => i + 0.5f) // fractional: vf() only mints integers
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],
         "filters":{"operator":"AND","conditions":[
           {"operator":">=","field":"stars","value":1}]},"limit":5}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(SearchApi.searchAuto(corpus, space, req, lc)) ==
      rows(SearchApi.search(corpus, space, req)))

    // the space grows 50% — including an exact clone of the query — and
    // drift triggers a graph rebuild; the routed search then finds it
    val more = (100L until 130L).map(i =>
      (i, 1, if (i == 100L) qv else vf(i.toInt)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("demo", "gdocs", more, partitionNum = 2)
    assert(lc.hnswStaleness().exists(_ >= 0.49))
    assert(lc.maybeRebuildHnsw("_id", "vec", hp, driftThreshold = 0.3))
    val fresh = rows(SearchApi.searchAuto(cat.read("demo", "gdocs"), space,
      s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":3}""",
      lc))
    assert(fresh.head == (100L, 0.0)) // the clone, at distance zero

    cat.dropSpace("demo", "gdocs")
  }

  test("string-PK journey: catalog space → docid-minting upsert → routed search → PK delete") {
    val root = Files.createTempDirectory("journey_str").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("demo")
    // the reference's id model: string PKs; the HNSW declaration makes
    // createSpace add the engine-owned `_docid` sidecar to the physical
    // schema, and every upsert mints it
    val space = Space.fromJson(
      """{"name":"sdocs","fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("demo", space)

    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    val b1 = (0 until 40).map(i => (s"u-$i", i % 5, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("demo", "sdocs", b1, partitionNum = 2)
    val ids1 = cat.read("demo", "sdocs").select($"_id", $"_docid")
      .as[(String, Long)].collect().toMap
    assert(ids1.size == 40 && ids1.values.toSet.size == 40) // unique docids

    // batch 2: an UPDATE keeps its docid; fresh PKs mint above the
    // persisted high-water mark (no table scan — the hwm meta)
    val qv = (0 until 8).map(i => i + 0.5f)
    val b2 = Seq(("u-3", 9, vf(3)), ("u-100", 1, qv))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("demo", "sdocs", b2, partitionNum = 2)
    val ids2 = cat.read("demo", "sdocs").select($"_id", $"_docid")
      .as[(String, Long)].collect().toMap
    assert(ids2("u-3") == ids1("u-3"))
    assert(ids2("u-100") > ids1.values.max)
    assert(cat.read("demo", "sdocs").filter($"_id" === "u-3")
      .select($"stars").head().getInt(0) == 9)

    // the graph builds over the sidecar; the routed search bridges hits
    // back to the string PK and matches the brute FLAT path exactly
    val lc = new IndexLifecycle(spark, s"$root/demo/sdocs")
    lc.rebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))
    val corpus = cat.read("demo", "sdocs")
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":5}"""
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = rows(SearchApi.searchAuto(corpus, space, req, lc))
    assert(got == rows(SearchApi.search(corpus, space, req)))
    assert(got.head == ("u-100", 0.0)) // fresh-minted doc serves at distance 0

    // PK delete records the DOCID in the ledger; the routed walk gates
    // it immediately (no rebuild) and still matches brute over the rest
    lc.deleteByPk("_id", Seq("u-100"))
    val corpus2 = cat.read("demo", "sdocs")
    val after = rows(SearchApi.searchAuto(corpus2, space, req, lc))
    assert(!after.exists(_._1 == "u-100"))
    // score-for-score identical to brute over the remaining docs (ids at
    // a TIED boundary score may differ: the walk tie-breaks on docid,
    // the brute path on the string PK — both are exact top-5)
    val afterBrute = rows(SearchApi.search(corpus2, space, req))
    assert(after.map(_._2) == afterBrute.map(_._2))
    val cut = afterBrute.map(_._2).max // L2 ascending: the boundary score
    assert(after.filter(_._2 < cut).toSet == afterBrute.filter(_._2 < cut).toSet)
    cat.dropSpace("demo", "sdocs")
  }

  test("string-PK realtime journey: enable_realtime space → stream-minted tail → routed buffer union") {
    val root = Files.createTempDirectory("journey_strrt").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("demo")
    val space = Space.fromJson(
      """{"name":"rdocs","enable_realtime":true,"fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("demo", space)
    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    val base = (0 until 40).map(i => (s"u-$i", i % 5, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("demo", "rdocs", base, partitionNum = 2)
    val lc = new IndexLifecycle(spark, s"$root/demo/rdocs")
    lc.rebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))

    // fresh string-PK docs arrive THROUGH the stream: one brand-new doc
    // holding the query vector + an UPDATE of u-3 — foreachBatch mints
    // docids (fresh above the mark, the update keeps u-3's)
    val qv = (0 until 8).map(i => i + 0.25f)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Int, Seq[Float])]
    val ingest = cat.startRealtimeIngest("demo", "rdocs",
      mem.toDF().toDF("_id", "stars", "vec")
        .select($"_id", $"stars", $"vec".cast("array<float>").as("vec")),
      intervalMs = 100L)
    mem.addData(("u-new", 1, qv))
    ingest.processAllAvailable()
    mem.addData(("u-3", 9, vf(3))) // second micro-batch: the update
    ingest.processAllAvailable()
    ingest.stop()

    val baseIds = cat.read("demo", "rdocs").select($"_id", $"_docid")
      .as[(String, Long)].collect().toMap
    val tailRows = spark.read.parquet(s"$root/demo/rdocs.tail")
      .select($"_id", $"_docid").as[(String, Long)].collect().toMap
    assert(tailRows("u-3") == baseIds("u-3"))      // update kept its docid
    assert(tailRows("u-new") > baseIds.values.max) // fresh minted above hwm

    // the DECLARATION-driven search unions the buffer: catalog.search
    // wires the tail (enable_realtime) with the docid routing column
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":5}"""
    val got = cat.search("demo", "rdocs", space, req)
      .select($"_id", $"_score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got.head == ("u-new", 0.0)) // the buffered doc is top-1
    // and the routed union ≡ brute over the live view (base ∪ tail)
    val live = cat.realtimeTail("demo", "rdocs")
      .snapshot(cat.read("demo", "rdocs").schema)
    val want = graft.api.SearchApi.search(live, space, req)
      .select($"_id", $"_score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want)

    // the background Indexing loop: fold the buffer into the BUCKETED
    // base (catalog-aware — the layout and bucket meta survive), docids
    // preserved, churn recorded
    cat.compactRealtime("demo", "rdocs", Some(lc))
    assert(!cat.realtimeTail("demo", "rdocs").hasTail)
    assert(Files.exists(
      java.nio.file.Paths.get(s"$root/demo/rdocs/_graft_buckets")))
    val folded = cat.read("demo", "rdocs")
      .select($"_id", $"_docid", $"stars")
      .as[(String, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(folded("u-new")._1 == tailRows("u-new")) // stream-minted docid kept
    assert(folded("u-3") == (baseIds("u-3"), 9))    // update folded in place
    // the folded churn drives a drift rebuild; the routed (tail-less)
    // search then serves the folded doc from the NEW generation
    assert(lc.maybeRebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2),
      driftThreshold = 0.01))
    val afterCompact = cat.search("demo", "rdocs", space, req)
      .select($"_id", $"_score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(afterCompact.head == ("u-new", 0.0))
    cat.dropSpace("demo", "rdocs")
  }
}
