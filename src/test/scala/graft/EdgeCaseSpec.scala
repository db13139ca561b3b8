package graft

import graft.api.IndexLifecycle.Kind
import org.apache.spark.sql.functions._
import graft.operators.{Documents, IvfIndex, Knn}

/** Degenerate inputs: empty corpora, k > N, null vectors, tiny training
  * sets — the shapes that crash engines in production.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val schema = "id bigint, v array<float>"

  test("knn over an empty corpus returns empty, no crash") {
    val empty = spark.read.schema(schema).json(spark.emptyDataset[String])
    val r = Knn.search(empty, $"v", Seq(1f, 2f), 10, "l2")
    assert(r.count() == 0)
  }

  test("k larger than N returns all N") {
    val d = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    assert(Knn.search(d, $"v", Seq(1f, 0f), 100, "ip").count() == 2)
  }

  test("null vectors are excluded, never rank first under L2 asc") {
    val d = Seq((1L, Some(Seq(1f, 0f))), (2L, None), (3L, Some(Seq(0.9f, 0.1f))))
      .toDF("id", "v").select($"id", $"v".cast("array<float>").as("v"))
    val r = Knn.search(d, $"v", Seq(1f, 0f), 3, "l2", tieBreak = Some($"id"))
      .select($"id").as[Long].collect().toSeq
    assert(r == Seq(1L, 3L)) // id=2 (null vector) absent, not first
  }

  test("ivf train clamps ncentroids to corpus size; empty corpus rejected") {
    val tiny = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    val m = IvfIndex.train(tiny, "v", ncentroids = 16)
    assert(m.ncentroids <= 2)
    val empty = spark.read.schema(schema).json(spark.emptyDataset[String])
    assertThrows[IllegalArgumentException](IvfIndex.train(empty, "v", 4))
  }

  test("null vectors excluded from multi-vector and shortlist paths too") {
    val d = Seq((1L, Some(Seq(1f, 0f)), Some(Seq(1f, 0f))),
      (2L, None, Some(Seq(0f, 1f))), (3L, Some(Seq(0.5f, 0.5f)), None))
      .toDF("id", "v1", "v2")
      .select($"id", $"v1".cast("array<float>").as("v1"), $"v2".cast("array<float>").as("v2"))
    val mv = Knn.multiVectorSearch(d, "id",
      Seq(($"v1", Seq(1f, 0f)), ($"v2", Seq(1f, 0f))), 10, 10, "l2")
    // intersection requires both fields non-null → only id=1 survives
    assert(mv.select($"id").as[Long].collect().toSeq == Seq(1L))

    val coded = graft.operators.BinaryIndex.encode(
      d.select($"id", $"v1".as("v")), "v")
    val bs = graft.operators.BinaryIndex.search(coded, $"v", Seq(1f, 0f),
      k = 5, shortlist = 5, idCol = $"id")
    assert(!bs.select($"id").as[Long].collect().contains(2L))
  }

  test("int8 and RaBitQ paths: nulls excluded, parameter bounds enforced") {
    val d = Seq((1L, Some(Seq(1f, 0f, 0f, 0f))), (2L, None), (3L, Some(Seq(0f, 1f, 0f, 0f))))
      .toDF("id", "v").select($"id", $"v".cast("array<float>").as("v"))
    val coded = d.withColumn("iv", graft.Graft.F.quantizeI8($"v"))
    val q = Array[Byte](127, 0, 0, 0)
    val got = Knn.searchInt8(coded, $"iv", q, k = 5, metric = "ip",
      tieBreak = Some($"id")).select($"id").as[Long].collect().toSeq
    assert(got == Seq(1L, 3L)) // null vector never appears
    // RaBitQ qb bounds
    val bcoded = graft.operators.BinaryIndex.encode(d, "v")
    assertThrows[IllegalArgumentException](
      graft.operators.BinaryIndex.search(bcoded, $"v", Seq(1f, 0f, 0f, 0f),
        k = 1, shortlist = 1, idCol = $"id", qb = 9))
    // constant query vector: quantizeQuery must not divide by zero
    val qq = graft.operators.BinaryIndex.quantizeQuery(Seq(0.5f, 0.5f), qb = 4)
    assert(qq.toSeq == Seq(0.5f, 0.5f))
    // qb=4 with nulls: null code rows never shortlist
    val bs = graft.operators.BinaryIndex.search(bcoded, $"v", Seq(1f, 0f, 0f, 0f),
      k = 5, shortlist = 5, idCol = $"id", qb = 4)
    assert(!bs.select($"id").as[Long].collect().contains(2L))
  }

  test("sort spec referencing an unknown field fails at analysis, not silently") {
    val space = graft.schema.Space.fromJson(
      """{"name":"s","fields":[{"name":"n","type":"long"}]}""")
    val corpus = Seq(("a", 1L), ("b", 2L)).toDF("_id", "n")
    assertThrows[org.apache.spark.sql.AnalysisException] {
      graft.api.SearchApi.query(corpus, space,
        """{"sort":[{"nope":{"order":"desc"}}],"limit":10}""").collect()
    }
  }

  test("batched IVF search with an empty query set returns empty") {
    val d = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val model = IvfIndex.train(d, "embedding", 2)
    val assigned = IvfIndex.assign(d, "embedding", model)
    val r = IvfIndex.searchBatch(assigned, $"embedding", struct($"vec_id"),
      Seq.empty, model, k = 3, nprobe = 2)
    assert(r.count() == 0)
  }

  test("batch knn with an empty query set returns empty") {
    val d = Seq((1L, Seq(1f, 0f))).toDF("id", "v")
      .select($"id", $"v".cast("array<float>").as("v"))
    val noQueries = d.filter($"id" < 0).select($"id".as("qid"), $"v".as("qv"))
    val r = Knn.searchBatch(d, $"v", struct($"id"), noQueries, "qid", "qv", 5, "ip")
    assert(r.count() == 0)
  }

  test("upsert with empty updates / empty base") {
    val base = Seq((1L, "a")).toDF("_id", "x")
    val empty = base.filter($"_id" < 0)
    assert(Documents.upsert(base, empty, "_id").count() == 1)
    assert(Documents.upsert(empty, base, "_id").count() == 1)
  }

  test("getByIds with ids that do not exist") {
    val base = Seq((1L, "a")).toDF("_id", "x")
    assert(Documents.getByIds(base, "_id", Seq(99L, 1L, 98L)).count() == 1)
  }

  // ── round-13 routing degrades, pinned ─────────────────────────────

  private def twoFieldCorpus(n: Int) = {
    def vf(seed: Int, d: Int): Seq[Float] =
      (0 until d).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    (0 until n).map(i => (i.toLong, vf(i, 8), vf(i + 3, 8)))
      .toDF("_id", "v1", "v2")
      .select($"_id", $"v1".cast("array<float>").as("v1"),
        $"v2".cast("array<float>").as("v2"))
  }

  private val mvSpace = graft.schema.Space.fromJson(
    """{"name":"mv","fields":[
        {"name":"v1","type":"vector","dimension":8,
         "index":{"type":"HNSW","params":{"nlinks":8,"efConstruction":32,
           "efSearch":4096,"metric_type":"InnerProduct"}}},
        {"name":"v2","type":"vector","dimension":8,
         "index":{"type":"HNSW","params":{"nlinks":8,"efConstruction":32,
           "efSearch":4096,"metric_type":"InnerProduct"}}}]}""")

  private def mvReq(qa: Seq[Float], qb: Seq[Float], extra: String = "") =
    s"""{"vectors":[{"field":"v1","feature":${qa.mkString("[", ",", "]")}},
        {"field":"v2","feature":${qb.mkString("[", ",", "]")}}]$extra,"limit":5}"""

  test("multi-field routing: a field without a READY generation degrades the whole request to FLAT") {
    val tmp = java.nio.file.Files.createTempDirectory("mv_partial").toString
    val spacePath = s"$tmp/space"
    twoFieldCorpus(50).write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    // only v1 gets a generation — v2's leg cannot route
    lc.scoped("v1").rebuildHnsw("_id", "v1",
      graft.operators.HnswIndex.Params(8, 32, "ip", numShards = 2))
    val corpus = spark.read.parquet(spacePath)
    val qa = (0 until 8).map(_.toFloat); val qb = (0 until 8).map(i => 8f - i)
    val got = graft.api.SearchApi.searchAuto(corpus, mvSpace, mvReq(qa, qb), lc)
      .select($"_id", $"_score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.api.SearchApi.search(corpus, mvSpace, mvReq(qa, qb))
      .select($"_id", $"_score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.nonEmpty) // silently exact, never an error
  }

  test("multi-field routing honors request weights; bad arity fails loud") {
    val tmp = java.nio.file.Files.createTempDirectory("mv_w").toString
    val spacePath = s"$tmp/space"
    twoFieldCorpus(50).write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 32, "ip", numShards = 2)
    lc.scoped("v1").rebuildHnsw("_id", "v1", p)
    lc.scoped("v2").rebuildHnsw("_id", "v2", p)
    val corpus = spark.read.parquet(spacePath)
    val qa = (0 until 8).map(_.toFloat); val qb = (0 until 8).map(i => 8f - i)
    val w = ""","ranker":{"type":"WeightedRanker","params":{"weights":[0.9,0.1]}}"""
    val got = graft.api.SearchApi.searchAuto(corpus, mvSpace, mvReq(qa, qb, w), lc)
      .select($"_id", $"_score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.api.SearchApi.search(corpus, mvSpace, mvReq(qa, qb, w))
      .select($"_id", $"_score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want && got.nonEmpty) // routed ≡ FLAT under custom weights
    val bad = ""","ranker":{"type":"WeightedRanker","params":{"weights":[1.0]}}"""
    intercept[IllegalArgumentException] {
      graft.api.SearchApi.searchAuto(corpus, mvSpace, mvReq(qa, qb, bad), lc).collect()
    }
  }

  test("string-PK space WITHOUT a _docid sidecar fails loud on graph families") {
    // graph layouts route by long vec_id; a hand-rolled string-PK space
    // without the `_docid` sidecar is structurally unservable by them —
    // raise the docid-mapping error (never a silent O(corpus) brute
    // scan behind the declared index); the explicit brute escapes
    // (is_brute_search=1, the direct FLAT API) still serve exactly
    val tmp = java.nio.file.Files.createTempDirectory("str_nodocid").toString
    val spacePath = s"$tmp/space"
    (0 until 40).map(i => (s"u-$i",
        (0 until 8).map(j => ((i * 37 + j * 3) % 11 - 5).toFloat)))
      .toDF("_id", "vec")
      .select($"_id", $"vec".cast("array<float>").as("vec"))
      .write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    val sp = graft.schema.Space.fromJson(
      """{"name":"snd","fields":[
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    val corpus = spark.read.parquet(spacePath)
    val q = (0 until 8).map(i => i + 0.5f)
    val req = s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],"limit":5}"""
    val e = intercept[IllegalArgumentException] {
      graft.api.SearchApi.searchAuto(corpus, sp, req, lc).collect()
    }
    assert(e.getMessage.contains("no docid mapping"))
    val bruteReq = s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],"is_brute_search":1,"limit":5}"""
    val got = graft.api.SearchApi.searchAuto(corpus, sp, bruteReq, lc)
      .select($"_id").collect().map(_.getString(0)).toSeq
    val want = graft.api.SearchApi.search(corpus, sp, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got == want && got.size == 5) // exact, never a cast error
  }

  test("rid-free graph space fails loud with a realtime tail attached too (same contract)") {
    // attaching a RealtimeTail must not silently change a rid-free
    // graph request from the docid-mapping error into an O(corpus)
    // brute scan — the tail early-return enforces the same contract
    val tmp = java.nio.file.Files.createTempDirectory("str_nodocid_tail").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"
    def rows(lo: Int, hi: Int) = (lo until hi).map(i => (s"u-$i",
        (0 until 8).map(j => ((i * 37 + j * 3) % 11 - 5).toFloat)))
      .toDF("_id", "vec")
      .select($"_id", $"vec".cast("array<float>").as("vec"))
    rows(0, 30).write.parquet(basePath)
    rows(30, 35).write.parquet(tailPath) // hasTail = true
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    val rt = new graft.streaming.RealtimeTail(spark, basePath, tailPath,
      s"$tmp/ckpt", "_id")
    val sp = graft.schema.Space.fromJson(
      """{"name":"sndt","fields":[
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    val corpus = spark.read.parquet(basePath)
    val q = (0 until 8).map(i => i + 0.5f)
    val req = s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],"limit":5}"""
    val e = intercept[IllegalArgumentException] {
      graft.api.SearchApi.searchAuto(corpus, sp, req, lc, tail = Some(rt)).collect()
    }
    assert(e.getMessage.contains("no docid mapping"))
    // the explicit brute escape serves the LIVE view (base ∪ tail)
    val bruteReq = s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],"is_brute_search":1,"limit":40}"""
    val got = graft.api.SearchApi.searchAuto(corpus, sp, bruteReq, lc, tail = Some(rt))
    assert(got.count() == 35) // fresh tail writes visible, no error
  }

  test("realtime tail with a mismatched routing column fails loud, not ghost-quietly") {
    val tmp = java.nio.file.Files.createTempDirectory("rid_mismatch").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"
    val rows = (0L until 20L).map(i => (i,
        (0 until 8).map(j => ((i * 37 + j * 3) % 11 - 5).toFloat)))
      .toDF("_id", "vec")
      .select($"_id", $"vec".cast("array<float>").as("vec"))
    rows.filter($"_id" >= 5).write.parquet(basePath)
    rows.filter($"_id" < 5).write.parquet(tailPath)
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuildHnsw("_id", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))
    // integral-_id corpus (routes on "_id") but the tail declares a
    // different routing column
    val rt = new graft.streaming.RealtimeTail(spark, basePath, tailPath,
      s"$tmp/ckpt", "_id", ridCol = Some("_docid"))
    val sp = graft.schema.Space.fromJson(
      """{"name":"mm","fields":[
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    val q = (0 until 8).map(i => i + 0.5f)
    val req = s"""{"vectors":[{"field":"vec","feature":${q.mkString("[", ",", "]")}}],"limit":5}"""
    val e = intercept[IllegalArgumentException] {
      graft.api.SearchApi.searchAuto(spark.read.parquet(basePath), sp, req,
        lc, tail = Some(rt))
    }
    assert(e.getMessage.contains("routes on"))
  }

  test("mass deleteByQuery above the ledger cap degrades to rebuild semantics, ghost-free") {
    import graft.schema.{Space, SpaceCatalog}
    val root = java.nio.file.Files.createTempDirectory("mass_del").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    val space = Space.fromJson(
      """{"name":"m","enable_realtime":true,"fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("d", space)
    def vf(seed: Int): Seq[Float] =
      (0 until 8).map(i => ((seed * 41 + i * 7) % 23 - 11).toFloat)
    val docs = (0 until 60).map(i => (s"u-$i", i % 3, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    val path = s"$root/d/m"
    cat.upsert("d", "m", docs)
    val lc = new graft.api.IndexLifecycle(spark, path)
    lc.rebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))
    assert(lc.ready(Kind.Hnsw).map(_.gen).isDefined)
    // a buffered tail row matching the predicate — the mass path must
    // fold it before the rewrite or it survives as a ghost
    val rt = cat.realtimeTail("d", "m")
    cat.read("d", "m").filter($"_id" === "u-1")
      .withColumn("stars", lit(0)).withColumn("_id", lit("u-tail"))
      .withColumn("_docid", lit(999L))
      .write.parquet(rt.tailPath)
    val prevLedger = lc.allDeletes().size
    val prevCap = SpaceCatalog.maxDeleteLedgerIds
    SpaceCatalog.maxDeleteLedgerIds = 5
    try {
      // stars=0 matches 20 base rows + the buffered row: > cap
      cat.deleteByQuery("d", "m", col("stars") === 0, Some(lc))
    } finally SpaceCatalog.maxDeleteLedgerIds = prevCap
    // bounded ledger: the mass path recorded NOTHING new
    assert(lc.allDeletes().size == prevLedger)
    // generations dropped: serving falls back to FLAT over the rewritten base
    assert(lc.ready(Kind.Hnsw).map(_.gen).isEmpty)
    assert(cat.docCount("d", "m") == 40)
    val qv = vf(0) // u-0 (stars=0) held this vector and is gone
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":10}"""
    val got = cat.search("d", "m", space, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got.size == 10)
    assert(!got.contains("u-tail")) // folded, then removed by the rewrite
    assert(!got.exists(id => id.startsWith("u-") && id != "u-tail" &&
      id.drop(2).toInt % 3 == 0)) // no stars=0 ghost from any leg
    // a later small delete takes the ledger path again
    cat.deleteByQuery("d", "m", col("_id") === "u-1", Some(lc))
    assert(cat.docCount("d", "m") == 39)
  }
}
