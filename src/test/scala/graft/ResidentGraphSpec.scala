package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.api.{IndexLifecycle, SearchApi}
import graft.operators.{HnswIndex, VamanaIndex}
import graft.schema.Space
import graft.streaming.RealtimeTail

/** Differential spec of the resident graph walk: a READY graph
  * generation whose layout counts at most `maxFilterAllowIds` nodes and
  * fits the driver's byte budget is walked over its decoded segments on
  * the driver, and every request returns exactly the rows, in the same
  * order, that the Spark fan-out over the segment table returns (the
  * same layout one node over the cap). The walks are approximate (`efSearch`/`L` below the shard
  * size), so only the same walk over the same shards with the same
  * admission and merge order can agree row for row.
  */
class ResidentGraphSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private val n = 150

  private def vec(i: Int): Seq[Float] = {
    val r = new scala.util.Random(i)
    val c = i % 4 // four loose clusters, so a clustered layout routes
    Seq.tabulate(dim)(j => (if (j == c) 3.0f else 0.0f) + r.nextFloat())
  }

  /** Eight docs share this vector, hashed to different shards: a query at
    * it scores them alike, so the merge's `vec_id` tie-break decides
    * which of them make a limit that cuts through the tie.
    */
  private val tied = vec(1000)
  private val tiedIds = (500L until 508L)

  private def rowsOf(docs: Seq[(Long, Seq[Float])]): DataFrame =
    docs.map { case (id, v) => (id, (id % 5).toInt, v) }.toDF("_id", "label", "vec")
      .select($"_id", $"label", $"vec".cast("array<float>").as("vec"))

  private val base: Seq[(Long, Seq[Float])] =
    (0 until n).map(i => (i.toLong, vec(i))) ++ tiedIds.map(_ -> tied)

  private def spaceOf(index: String) = Space.fromJson(
    s"""{"name":"g","fields":[
        {"name":"label","type":"integer","index":{"type":"SCALAR"}},
        {"name":"vec","type":"vector","dimension":$dim,"index":$index}]}""")

  private val hnswIndex =
    """{"type":"HNSW","params":{"nlinks":8,"efConstruction":32,"efSearch":12}}"""
  private val vamanaIndex =
    """{"type":"DISKANN_STATIC","params":{"L":12,"beam_width":2}}"""
  private val hnswParams = HnswIndex.Params(8, 32, "l2", numShards = 3)
  private val vamanaParams = VamanaIndex.Params(r = 8, l = 24, metric = "l2", numShards = 3)

  /** A raw-frame space (integral `_id`) with one graph generation. */
  private final case class Fixture(path: String, space: Space, lc: IndexLifecycle,
      layout: String, tail: Option[RealtimeTail] = None) {
    def nodes: Int = spark.read.parquet(path).count().toInt
  }

  private def fixture(tag: String, index: String, layout: String,
      docs: Seq[(Long, Seq[Float])] = base)(build: IndexLifecycle => Unit): Fixture = {
    val path = java.nio.file.Files.createTempDirectory(tag).toString + "/space"
    rowsOf(docs).write.parquet(path)
    val lc = new IndexLifecycle(spark, path)
    build(lc)
    Fixture(path, spaceOf(index), lc, layout)
  }

  private def hnsw(tag: String) = fixture(tag, hnswIndex, ".hnsw.g")(
    _.rebuildHnsw("_id", "vec", hnswParams))
  private def vamana(tag: String) = fixture(tag, vamanaIndex, ".vamana.g")(
    _.rebuildVamana("_id", "vec", vamanaParams))

  private def request(qs: Seq[Seq[Float]], limit: Int, cond: String = "",
      extra: String = ""): String =
    s"""{"vectors":[{"field":"vec","feature":${qs.flatten.mkString("[", ",", "]")}$cond}],
      "fields":["label"],"limit":$limit$extra}"""

  private def filter(c: String) = s""","filters":{"operator":"AND","conditions":[$c]}"""

  private def withCap[T](cap: Int)(body: => T): T = {
    val saved = SearchApi.maxFilterAllowIds
    try { SearchApi.maxFilterAllowIds = cap; body }
    finally SearchApi.maxFilterAllowIds = saved
  }

  /** The request's rows, and whether any action it ran read the layout. */
  private def serve(f: Fixture, req: String): (Seq[Row], Boolean) = {
    val (df, plans) = plansDuring(
      SearchApi.searchAuto(spark.read.parquet(f.path), f.space, req, f.lc, f.tail))
    (df.collect().toSeq, plans.contains(f.layout))
  }

  /** The resident arm (warm) against the Spark arm (the cap one node
    * under the layout): the same rows in the same order. `walks` = false
    * for a request that walks no segment on either arm (an empty
    * allow-set).
    */
  private def assertArms(f: Fixture, req: String, walks: Boolean = true): Seq[Row] = {
    serve(f, req) // the first request may decode the layout
    val (resident, readR) = serve(f, req)
    val (sparkArm, readS) = withCap(f.nodes - 1)(serve(f, req))
    assert(!readR, s"the resident arm read the layout: $req")
    assert(readS == walks, s"the Spark arm read the layout: $readS, expected $walks: $req")
    assert(resident == sparkArm, s"$req\nresident $resident\nspark    $sparkArm")
    resident
  }

  private def ids(rows: Seq[Row]): Seq[Long] = rows.map(_.getAs[Long]("_id"))

  for ((family, make) <- Seq[(String, String => Fixture)](
      "HNSW" -> hnsw, "Vamana" -> vamana)) {
    test(s"$family: resident walks equal the Spark fan-out for single, batched, filtered, gated, deleted and tail requests") {
      val f = make(s"rg_${family.toLowerCase}")
      val qs = Seq(vec(3), tied, vec(42))
      // one query and req_num, limits that cut through the tied block
      for (req <- Seq(request(Seq(vec(3)), 10), request(Seq(tied), 4),
          request(Seq(tied), 11), request(qs, 5), request(qs, 12)))
        assertArms(f, req)
      val got = ids(assertArms(f, request(Seq(tied), 4)))
      assert(got == tiedIds.take(4), s"tied hits $got")
      // an allow-set, and one that admits nothing
      assertArms(f, request(Seq(vec(7)), 8, extra = filter(
        """{"operator":"IN","field":"label","value":[1,3]}""")))
      assertArms(f, request(qs, 6, extra = filter(
        """{"field":"label","operator":"<","value":2}""")))
      val none = assertArms(f, request(qs, 6, extra = filter(
        """{"field":"label","operator":">","value":100}""")), walks = false)
      assert(none.isEmpty)
      // score bands through the gate loop
      val all = ids(assertArms(f, request(Seq(vec(9)), 40)))
      assert(all.size == 40)
      assertArms(f, request(Seq(vec(9)), 5, ""","min_score":1.5"""))
      assertArms(f, request(qs, 5, ""","min_score":0.5,"max_score":2.5"""))
      // a ledger delete: the next request's admission refuses the id
      val before = ids(assertArms(f, request(Seq(vec(11)), 6)))
      f.lc.recordDeletes(Seq(before.head))
      val after = ids(assertArms(f, request(Seq(vec(11)), 6)))
      assert(!after.contains(before.head) && after.nonEmpty)
      // a realtime tail merged through withTail
      val tailPath = java.nio.file.Files.createTempDirectory("rg_tail").toString + "/tail"
      rowsOf(Seq(900L -> vec(11), 901L -> tied)).write.parquet(tailPath)
      val rt = f.copy(tail = Some(new RealtimeTail(spark, f.path, tailPath,
        s"$tailPath.ckpt", "_id")))
      val withTail = ids(assertArms(rt, request(Seq(vec(11)), 6)))
      assert(withTail.contains(900L), s"tail doc missing from $withTail")
      assertArms(rt, request(qs, 5))
      assertArms(rt, request(Seq(tied), 4, extra = filter(
        """{"field":"label","operator":"<","value":3}""")))
    }
  }

  test("clustered layouts at nprobe < ncentroids walk the routed shards only") {
    val h = fixture("rg_hnsw_cl", hnswIndex, ".hnsw.g")(
      _.rebuildHnswClustered("_id", "vec", hnswParams, ncentroids = 4))
    val v = fixture("rg_vamana_cl", vamanaIndex, ".vamana.g")(
      _.rebuildVamanaClustered("_id", "vec", vamanaParams, ncentroids = 4))
    // queries between two clusters, where one probed list misses neighbours
    val qs = (0 until 12).map(i => vec(2000 + i).zip(vec(2001 + i)).map(p => (p._1 + p._2) / 2))
    for (f <- Seq(h, v)) {
      val routed = qs.map(q => assertArms(f, request(Seq(q), 10,
        extra = ""","index_params":{"nprobe":1}""")))
      assertArms(f, request(qs.take(3), 6, extra = ""","index_params":{"nprobe":2}"""))
      // the route must matter here: some query's pruned answer differs
      // from its answer over every shard
      val full = qs.map(q => assertArms(f, request(Seq(q), 10)))
      assert(routed != full, s"${f.layout}: nprobe=1 answered like a full fan-out")
    }
  }

  test("the next request after appendHnsw and appendHnswClustered sees the new node") {
    val fresh = vec(7777)
    def appendAndSee(f: Fixture)(append: DataFrame => Unit): Unit = {
      assertArms(f, request(Seq(fresh), 3))
      val delta = rowsOf(Seq(950L -> fresh))
      delta.write.mode("append").parquet(f.path)
      append(delta.select($"_id", $"vec"))
      assert(ids(assertArms(f, request(Seq(fresh), 3))).head == 950L)
    }
    val h = hnsw("rg_append2")
    appendAndSee(h)(d => h.lc.appendHnsw(d, "_id", "vec", hnswParams))
    val c = fixture("rg_append_cl", hnswIndex, ".hnsw.g")(
      _.rebuildHnswClustered("_id", "vec", hnswParams, ncentroids = 4))
    appendAndSee(c)(d => c.lc.appendHnswClustered(d, "_id", "vec", hnswParams))
  }

  test("a layout one node over the cap takes the Spark arm with its job count") {
    val f = hnsw("rg_cap")
    val req = request(Seq(vec(5)), 9)
    serve(f, req)
    val nodes = f.nodes
    val stored = spark.read.parquet(f.path)
    def construction(cap: Int): (Int, Boolean) = withCap(cap) {
      var read = false
      val jobs = jobsDuring {
        read = plansDuring(SearchApi.searchAuto(stored, f.space, req, f.lc))
          ._2.contains(f.layout)
      }
      (jobs, read)
    }
    val (overJobs, overRead) = construction(nodes - 1)
    assert(overRead && overJobs >= 1 && overJobs <= 3,
      s"over the cap: $overJobs jobs (one bounded hits action = 1–3), layout read $overRead")
    val (atJobs, atRead) = construction(nodes)
    assert(!atRead && atJobs == 0, s"at the cap: $atJobs jobs, layout read $atRead")
  }

  test("a layout under the node cap but over the byte budget, or whose decode failed, takes the Spark arm") {
    val req = request(Seq(vec(5)), 9)
    // half of spark.driver.maxResultSize bounds one layout's bytes: at
    // two bytes no layout fits, so a fresh one is never decoded
    val f = hnsw("rg_bytes")
    val expected = withCap(f.nodes - 1)(serve(f, req)._1)
    val conf = spark.conf
    val (rejects, size) =
      ("spark.sql.legacy.setCommandRejectsSparkCoreConfs", "spark.driver.maxResultSize")
    val (savedRejects, savedSize) = (conf.getOption(rejects), conf.getOption(size))
    try {
      conf.set(rejects, "false")
      conf.set(size, "2b")
      for (_ <- 0 until 2) {
        val (rows, read) = serve(f, req)
        assert(read && rows == expected, s"over the byte budget: layout read $read, rows $rows")
      }
    } finally {
      savedSize.fold(conf.unset(size))(conf.set(size, _))
      savedRejects.fold(conf.unset(rejects))(conf.set(rejects, _))
    }
    serve(f, req) // within the budget again: this request decodes
    assert(serve(f, req) == (expected, false))
    // a decode that fails (here: the wrong family's encoder) is remembered:
    // the entry is walked by Spark jobs from then on, never re-decoded
    val g = hnsw("rg_undecodable")
    val table = g.lc.ready(IndexLifecycle.Kind.Hnsw).get.table
    assert(graft.sources.IndexStore.decoded(table, VamanaIndex.segmentEncoder,
      HnswIndex.NodeIds, SearchApi.maxFilterAllowIds.toLong).isEmpty)
    var again: Option[Seq[HnswIndex.Segment]] = None
    val jobs = jobsDuring { again = graft.sources.IndexStore.decoded(table,
      HnswIndex.segmentEncoder, HnswIndex.NodeIds, SearchApi.maxFilterAllowIds.toLong) }
    assert(again.isEmpty && jobs == 0, s"re-decoded a failed layout: $jobs jobs")
    val spark0 = withCap(g.nodes - 1)(serve(g, req)._1)
    assert(serve(g, req) == (spark0, true))
  }

  test("hits held as local rows are read with no SQL action, as collect reads them") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.Bridge
    val hits = Seq((0L, 7L, 1.5), (0L, 3L, Double.NaN), (1L, 12L, -0.0),
      (1L, 5L, Double.NegativeInfinity)).toDF("_qid", "vec_id", "_score")
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = actions.incrementAndGet()
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = actions.incrementAndGet()
    }
    for (t <- Seq("long", "int", "string")) {
      // the finisher's hit projection, over the hits of a resident walk
      val sel = hits.select(col("vec_id").cast(t).as("vec_id"),
        col("_score").cast("double").as("_score"), col("_qid"))
      spark.listenerManager.register(listener)
      val local = try Bridge.localRows(sel) finally spark.listenerManager.unregister(listener)
      val want = sel.collect()
      assert(local.map(_.toSeq) == Some(want.toSeq), t)
      assert(local.get.map(_.schema).distinct.toSeq == Seq(want.head.schema), t)
    }
    assert(actions.get == 0, s"${actions.get} SQL actions ran")
    // any other plan is the caller's to collect
    assert(Bridge.localRows(spark.range(3).toDF()).isEmpty)
    assert(Bridge.localRows(hits.groupBy("_qid").count()).isEmpty)
  }

  test("four threads searching one entry at once get the Spark arm's rows") {
    val f = vamana("rg_threads")
    val reqs = (0 until 8).map(i =>
      if (i % 2 == 0) request(Seq(vec(100 + i)), 7)
      else request(Seq(vec(100 + i), tied), 4, extra = filter(
        """{"field":"label","operator":">=","value":1}""")))
    val expected = withCap(f.nodes - 1)(reqs.map(serve(f, _)._1))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map(t => pool.submit(
        new java.util.concurrent.Callable[Seq[Seq[Row]]] {
          def call(): Seq[Seq[Row]] = reqs.indices.map { i =>
            val j = (i + 2 * t) % reqs.size
            SearchApi.searchAuto(spark.read.parquet(f.path), f.space, reqs(j), f.lc)
              .collect().toSeq
          }
        }))
      futures.zipWithIndex.foreach { case (fu, t) =>
        val got = fu.get()
        reqs.indices.foreach { i =>
          val j = (i + 2 * t) % reqs.size
          assert(got(i) == expected(j), s"thread $t request $j")
        }
      }
    } finally pool.shutdown()
    assert(!serve(f, reqs.head)._2, "the layout did not stay resident")
  }
}
