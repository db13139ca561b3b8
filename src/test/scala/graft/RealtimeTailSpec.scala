package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.RealtimeTail

class RealtimeTailSpec extends SparkSpec {
  import spark.implicits._

  test("stream ingest → unified snapshot → compact folds tail into base") {
    val tmp = Files.createTempDirectory("rtail").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"

    // seed the base (the "indexed" table); seq orders same-id tail writes
    Seq((1L, "v1", 0L), (2L, "v2", 0L)).toDF("_id", "v", "seq").write.parquet(basePath)
    val schema = spark.read.parquet(basePath).schema

    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id",
      orderCol = Some("seq"))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val q = tail.startIngest(mem.toDF().toDF("_id", "v", "seq"), intervalMs = 100L)
    mem.addData((2L, "v2-stale", 1L), (3L, "v3-fresh", 1L))
    q.processAllAvailable()
    mem.addData((2L, "v2-updated", 2L)) // same id again, later sequence
    q.processAllAvailable()

    // realtime view: base ∪ tail; LAST write per id wins (seq order), not
    // an arbitrary within-tail duplicate
    val snap = tail.snapshot(schema).orderBy("_id")
      .select("_id", "v").as[(Long, String)].collect().toSeq
    assert(snap == Seq((1L, "v1"), (2L, "v2-updated"), (3L, "v3-fresh")))

    // fresh rows are searchable pre-compaction (the enable_realtime promise)
    mem.addData((4L, "v4", 1L))
    q.processAllAvailable()
    assert(tail.snapshot(schema).count() == 4)
    q.stop()

    // compaction = the background Indexing loop folding buffer into index
    tail.compact(schema)
    val base2 = spark.read.parquet(basePath).orderBy("_id")
      .select("_id", "v").as[(Long, String)].collect().toSeq
    assert(base2 == Seq((1L, "v1"), (2L, "v2-updated"), (3L, "v3-fresh"), (4L, "v4")))
    // tail cleared; snapshot still correct
    assert(tail.snapshot(schema).count() == 4)
  }

  test("realtime serving generalizes beyond HNSW: IVF / IVFPQ / Vamana base ∪ tail") {
    val tmp = Files.createTempDirectory("rtail_fam").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".as("_id"), $"embedding", lit(0L).as("seq"))
      .write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    val schema = base.schema
    val q0 = base.filter($"_id" === 0).select("embedding").head().getSeq[Float](0)
    val dim = q0.length

    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id",
      orderCol = Some("seq"))
    assert(!tail.hasTail) // no buffer yet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "embedding", "seq")
        .select($"_id", $"embedding".cast("array<float>"), $"seq"),
      intervalMs = 100L)
    // fresh doc nearly identical to the query + an UPDATE moving doc 0
    // (the base's exact top-1) far away — per family, the buffer union
    // must serve the fresh doc and retire the stale ranking
    mem.addData((900000L, q0.map(_ + 0.001f), 1L), (0L, q0.map(_ + 100f), 1L))
    ingest.processAllAvailable()
    ingest.stop()
    assert(tail.hasTail)

    val want = graft.operators.Knn.search(tail.snapshot(schema),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def check(got: Seq[(Long, Double)]): Unit = {
      assert(got == want)                  // ≡ brute over the live view
      assert(got.head._1 == 900000L)       // fresh tail doc pre-compaction
      assert(!got.map(_._1).contains(0L))  // updated doc's stale rank gone
    }

    // every family serves through searchAuto: its READY generation ∪ the
    // brute tail, merged by legFor's one tail merge
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuild("embedding", ncentroids = 8)
    lc.rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)
    lc.rebuildVamana("_id", "embedding",
      graft.operators.VamanaIndex.Params(r = 16, l = 32, alpha = 1.2,
        metric = "l2", numShards = 2))
    val req = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")}}],"limit":5}"""
    def serve(index: String): Seq[(Long, Double)] =
      graft.api.SearchApi.searchAuto(spark.read.parquet(basePath),
        graft.schema.Space.fromJson(s"""{"name":"rt_fam","fields":[
          {"name":"embedding","type":"vector","dimension":$dim,"index":$index}]}"""),
        req, lc, tail = Some(tail))
        .select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // IVF: probe over the assigned layout ∪ brute tail (full probe ⇒ exact)
    val ivfIndex = """{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}"""
    check(serve(ivfIndex))

    // IVFPQ: ADC + full-depth rerank over residual codes ∪ brute tail
    check(serve("""{"type":"IVFPQ","params":{"ncentroids":8,"nsubvector":8,
      "nprobe":8,"recall_num":1000000}}"""))

    // Vamana: exhaustive beam walk (L ≥ |shard|) ∪ brute tail
    check(serve("""{"type":"DISKANN_STATIC","params":{"R":16,"L":1000000}}"""))

    // delete gate on a non-graph family: denied ids surface from NEITHER
    // leg (base anti-filter + tail gate), top-k refills from live docs
    val deny = Set(900000L, want(1)._1)
    lc.deleteByIds("_id", deny.toSeq)
    val gotGated = serve(ivfIndex).map(_._1)
    val wantGated = graft.operators.Knn.search(
      tail.snapshot(schema).filter(!$"_id".isin(deny.toSeq: _*)),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(gotGated == wantGated)
    assert(gotGated.forall(!deny.contains(_)))
  }

  test("searchAuto with a tail: routed arm serves live view; fallback shapes too") {
    val tmp = Files.createTempDirectory("rtail_auto").toString
    val basePath = s"$tmp/space"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    val q0 = base.filter($"_id" === 0).select("embedding").head().getSeq[Float](0)
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuild("embedding", ncentroids = 8)
    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Seq[Float])]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "label", "embedding")
        .select($"_id", $"label", $"embedding".cast("array<float>")),
      intervalMs = 100L)
    mem.addData((900000L, 1, q0.map(_ + 0.001f).toSeq))
    ingest.processAllAvailable()
    ingest.stop()

    val sp = graft.schema.Space.fromJson(
      """{"name":"rt_auto","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}}]}""")
    val req = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")}}],"limit":5}"""
    val got = graft.api.SearchApi.searchAuto(base, sp, req, lc, tail = Some(tail))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    val want = graft.operators.Knn.search(tail.snapshot(base.schema),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(got == want)
    assert(got.contains(900000L)) // the buffered write is served, routed

    // scalar-filtered shape: the tail leg honors the filter too
    val reqF = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")}}],
      "filters":{"operator":"AND","conditions":[
        {"operator":"IN","field":"label","value":[1]}]},"limit":5}"""
    val gotF = graft.api.SearchApi.searchAuto(base, sp, reqF, lc, tail = Some(tail))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    val wantF = graft.operators.Knn.search(
      tail.snapshot(base.schema).filter($"label" === 1),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(gotF == wantF)

    // batched (req_num=2) realtime: per-qid base ∪ tail merge — qid 1's
    // query IS the buffered doc's vector, so its top-1 must be the tail
    // write; both blocks equal brute per-qid over the live view
    val q1 = q0.map(_ + 0.001f)
    val reqB = s"""{"vectors":[{"field":"embedding","feature":${(q0 ++ q1).mkString("[", ",", "]")}}],"limit":5}"""
    val gotB = graft.api.SearchApi.searchAuto(base, sp, reqB, lc, tail = Some(tail))
      .select($"_qid", $"_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val snap = tail.snapshot(base.schema)
    val wantB = Seq(q0, q1).zipWithIndex.flatMap { case (q, i) =>
      graft.operators.Knn.search(snap, $"embedding", q, 5, "l2",
        tieBreak = Some($"_id"))
        .select($"_id").collect().map(r => (i.toLong, r.getLong(0))).toSeq
    }
    assert(gotB == wantB)
    assert(gotB.filter(_._1 == 1L).head._2 == 900000L)

    // SELECTIVE score gate over the tail union (r16 in-scan gating):
    // both legs gate before their bounded top-k, so the merged routed
    // result ≡ gated brute over the live view — and the near-duplicate
    // buffered doc (dist ≈ 0) is correctly OUT of gate
    val reqG = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")},
      "min_score":1.41}],"limit":5}"""
    val gotG = graft.api.SearchApi.searchAuto(base, sp, reqG, lc, tail = Some(tail))
      .select($"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val wantG = graft.operators.Knn.search(tail.snapshot(base.schema),
      $"embedding", q0, 5, "l2", minScore = Some(1.41),
      tieBreak = Some($"_id"))
      .select($"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotG == wantG)
    assert(gotG.nonEmpty && gotG.forall(_._2 >= 1.41) &&
      !gotG.map(_._1).contains(900000L))
  }

  test("realtime tail rides the INT8 routed arms (integer-kernel tail legs, all 4 families)") {
    val tmp = Files.createTempDirectory("rtail_i8").toString
    val basePath = s"$tmp/space"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".cast("long").as("_id"), $"label",
        graft.Graft.F.quantizeI8($"embedding").as("iv"))
      .write.parquet(basePath)
    val base = spark.read.parquet(basePath)
    val qf = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val qCode = graft.functions.VecKernels.quantizeI8(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(qf.toArray))
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuild("iv", 8)
    lc.rebuildHnsw("_id", "iv",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    lc.rebuildVamana("_id", "iv",
      graft.operators.VamanaIndex.Params(r = 32, l = 100, metric = "ip",
        numShards = 3))
    lc.rebuildIvfPq("iv", ncentroids = 8, m = 8)
    // buffer a doc carrying the QUERY's own int8 code (id 900000): every
    // routed family's tail leg must surface it (it ties id 0's score and
    // tie-breaks second)
    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Array[Byte])]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "label", "iv"), intervalMs = 100L)
    mem.addData((900000L, 1, qCode))
    ingest.processAllAvailable()
    ingest.stop()

    def spFor(index: String): graft.schema.Space = graft.schema.Space.fromJson(
      s"""{"name":"rt_i8","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":$index}]}""")
    val spaces = Seq(
      spFor("""{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8,
               "metric_type":"InnerProduct"}}"""),
      spFor("""{"type":"HNSW","params":{"nlinks":16,"efConstruction":60,
               "efSearch":1000000,"metric_type":"InnerProduct"}}"""),
      spFor("""{"type":"DISKANN_STATIC","params":{"R":32,"L":1000000,
               "beam_width":4,"metric_type":"InnerProduct"}}"""),
      spFor("""{"type":"IVFPQ","params":{"ncentroids":8,"nprobe":8,
               "recall_num":1000000,"metric_type":"InnerProduct"}}"""))
    val req = s"""{"vectors":[{"field":"iv","feature":${qf.mkString("[", ",", "]")}}],"limit":5}"""
    val live = tail.snapshot(base.schema)
    for (sp <- spaces) {
      val got = graft.api.SearchApi.searchAuto(base, sp, req, lc, tail = Some(tail))
        .select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // ≡ the exact FLAT int8 scan over the live (base ∪ tail) view
      val want = graft.api.SearchApi.search(live, sp, req)
        .select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"int8 tail parity failed for ${sp.vectorFields.head.vector.get}")
      assert(got.map(_._1).contains(900000L)) // the buffered write is served
    }
  }

  test("realtime HNSW search: graph base ∪ brute tail, updated docs never stale") {
    val tmp = Files.createTempDirectory("rtail_hnsw").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".as("_id"), $"embedding", lit(0L).as("seq"))
      .write.parquet(basePath)
    val schema = spark.read.parquet(basePath).schema
    val q0 = spark.read.parquet(basePath).filter($"_id" === 0)
      .select("embedding").head().getSeq[Float](0)

    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(8, 60, "l2", numShards = 3))

    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id",
      orderCol = Some("seq"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float], Long)]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "embedding", "seq")
        .select($"_id", $"embedding".cast("array<float>"), $"seq"),
      intervalMs = 100L)
    // a fresh doc almost identical to the query, plus an UPDATE moving
    // doc 0 (the base's exact top-1) far away — its stale base ranking
    // must not survive the merge
    mem.addData((900000L, q0.map(_ + 0.001f), 1L), (0L, q0.map(_ + 100f), 1L))
    ingest.processAllAvailable()
    ingest.stop()

    // the graph generation ∪ the brute tail through searchAuto (exact
    // params: efSearch ≥ |shard|)
    val sp = graft.schema.Space.fromJson(
      """{"name":"rt_hnsw","fields":[
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":60,"efSearch":1000000}}}]}""")
    val req = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")}}],"limit":5}"""
    def serve(): Seq[(Long, Double)] =
      graft.api.SearchApi.searchAuto(spark.read.parquet(basePath), sp, req, lc,
        tail = Some(tail))
        .select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = serve()
    val want = graft.operators.Knn.search(tail.snapshot(schema),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want) // exact-params realtime search ≡ brute over the live view
    assert(got.head._1 == 900000L)      // fresh tail doc served pre-compaction
    assert(!got.map(_._1).contains(0L)) // updated doc's stale rank is gone

    // delete gate: denied ids surface from NEITHER leg — not from the
    // graph base (allow-functor) nor from a buffered tail write — and
    // the merged top-k still fills from live docs
    val deny = Set(900000L, got(1)._1)
    lc.deleteByIds("_id", deny.toSeq)
    val gated = serve().map(_._1)
    assert(gated.size == 5)
    assert(gated.forall(!deny.contains(_)))
    val wantGated = graft.operators.Knn.search(
      tail.snapshot(schema).filter(!$"_id".isin(deny.toSeq: _*)),
      $"embedding", q0, 5, "l2", tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(gated == wantGated)
  }

  test("routed tail serving: cached tail snapshot leaves ≤1 driver action at plan time") {
    val tmp = Files.createTempDirectory("rtail_jobs").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".as("_id"), $"label", $"embedding")
    all.filter($"_id" >= 10).write.parquet(basePath)
    all.filter($"_id" < 10).write.parquet(tailPath)
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(8, 60, "l2", numShards = 2))
    val rt = new RealtimeTail(spark, basePath, tailPath, s"$tmp/ckpt", "_id")
    val sp = graft.schema.Space.fromJson(
      """{"name":"rt_jobs","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":60,"efSearch":1000000}}}]}""")
    val q0 = all.filter($"_id" === 0).select("embedding").head().getSeq[Float](0)
    val req = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")}}],"limit":5}"""
    val stored = spark.read.parquet(basePath)
    // first query pays the one-time per-snapshot tail-id collect
    val first = graft.api.SearchApi
      .searchAuto(stored, sp, req, lc, tail = Some(rt)).collect()
    assert(first.nonEmpty)
    // subsequent queries against the SAME tail snapshot must not run a
    // count/collect job per search (the fixed latency tax ADVICE r12
    // flagged): beyond the ONE bounded hits materialization feeding the
    // O(k) payload prune (≤3 scheduler jobs), plan construction triggers
    // at most one extra driver job
    val group = s"tail-jobs-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "tail action audit", false)
    val df = graft.api.SearchApi.searchAuto(stored, sp, req, lc, tail = Some(rt))
    spark.sparkContext.clearJobGroup()
    // the status store is listener-fed (async): wait until two reads agree
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var n = jobs(); var stable = false
    (0 until 20).takeWhile { _ =>
      Thread.sleep(100); val m = jobs(); stable = m == n; n = m; !stable }
    assert(n <= 4, s"searchAuto plan construction ran $n driver jobs " +
      "(bounded hits action ≤3 + ≤1 cached-tail job)")
    // and the lazily-built plan still serves the same result
    assert(df.collect().toSeq == first.toSeq)
  }

  test("deleted-while-buffered ids never resurface: snapshot gate, fallback shapes, compact fold") {
    val tmp = Files.createTempDirectory("rtail_del").toString
    val basePath = s"$tmp/base"; val tailPath = s"$tmp/tail"; val ckpt = s"$tmp/ckpt"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id".as("_id"), $"label", $"embedding")
      .filter($"_id" >= 10)
      .write.parquet(basePath)
    val schema = spark.read.parquet(basePath).schema
    val q0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)

    val tail = new RealtimeTail(spark, basePath, tailPath, ckpt, "_id")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Int, Seq[Float])]
    val ingest = tail.startIngest(
      mem.toDF().toDF("_id", "label", "embedding")
        .select($"_id", $"label", $"embedding".cast("array<float>")),
      intervalMs = 100L)
    // buffer ids 0 and 1 (0 is the query vector — exact top-1 if served)
    val fresh = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 2)
      .select($"vec_id", $"label", $"embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
    mem.addData(fresh.toIndexedSeq: _*)
    ingest.processAllAvailable()
    ingest.stop()

    // delete id 0 THROUGH the lifecycle while its row is still buffered:
    // the base rewrite can't touch it (it isn't in the base), only the
    // ledger gate can keep it out
    val lc = new graft.api.IndexLifecycle(spark, basePath)
    lc.deleteByIds("_id", Seq(0L))

    // 1) the delete-gated snapshot drops the buffered row; id 1 survives
    val snapIds = tail.snapshot(schema, lc.allDeletes())
      .select($"_id").collect().map(_.getLong(0)).toSet
    assert(!snapIds.contains(0L) && snapIds.contains(1L))

    // 2) a NON-ROUTABLE shape (is_brute_search:1 forces the FLAT scan
    //    over the live view, engine.cc:280-308; the admit-all min_score
    //    rides it — since r16 gates alone no longer force a fallback,
    //    they apply in-scan on the routed arms too) — the ghost would be
    //    the exact top-1
    val sp = graft.schema.Space.fromJson(
      """{"name":"rt_del","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":4,"nprobe":4}}}]}""")
    val req = s"""{"vectors":[{"field":"embedding","feature":${q0.mkString("[", ",", "]")},
      "min_score":-1e18}],"is_brute_search":1,"limit":5}"""
    val got = graft.api.SearchApi.searchAuto(
      spark.read.parquet(basePath), sp, req, lc, tail = Some(tail))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && !got.contains(0L))
    // and the fallback result ≡ exact top-5 over the delete-gated live
    // view (the other buffered row competes like any live doc)
    val wantFlat = graft.operators.Knn.search(
      tail.snapshot(schema, lc.allDeletes()), $"embedding", q0, 5, "l2",
      tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(got == wantFlat)

    // 3) compact must not fold the deleted row back into the base
    tail.compact(schema, lifecycle = Some(lc))
    val baseIds = spark.read.parquet(basePath)
      .select($"_id").collect().map(_.getLong(0)).toSet
    assert(!baseIds.contains(0L) && baseIds.contains(1L))
  }
}
