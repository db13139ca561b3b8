package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.functions._

import graft.operators.{BinaryIndex, IvfIndex, PqIndex}

/** Plan-shape regression locks for the index-search IO claims (the
  * PLANS.md evidence, enforced): stage-1 shortlist scans over MATERIALIZED
  * layouts must read codes — never the raw vector column — and the IVF
  * probe must reach partition pruning. These only hold when codes are
  * stored columns, which is why the declared queries read IndexStore
  * layouts; this spec rebuilds minimal layouts and asserts the plans.
  */
class PlanEvidenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private def q0: Seq[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)

  /** AdaptiveSparkPlanExec is a LEAF node — it hides the join subtree from
    * collect() until execution. Plans are inspected with AQE off so the
    * static tree exposes every scan.
    */
  private def scansOf(df: => org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The physical plans of every action `body` runs (the listener bus is
    * async, so wait until it is quiet).
    */
  private def actionPlans(body: => Unit): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var n = -1
      (0 until 30).takeWhile { _ =>
        Thread.sleep(100); val m = seen.size; val moving = m == 0 || m != n
        n = m; moving }
    } finally spark.listenerManager.unregister(listener)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  /** Final (or complete) TopKAgg aggregates across `plans`: the per-qid merges. */
  private def topKMerges(plans: Seq[SparkPlan]): Int = plans.map(p => Aqe.collect(p) {
    case a: BaseAggregateExec if a.aggregateExpressions.exists(e =>
      (e.mode == Final || e.mode == Complete) &&
        e.aggregateFunction.isInstanceOf[graft.functions.TopKAgg]) => a
  }.size).sum

  private def takeOrdered(plans: Seq[SparkPlan]): Boolean = plans.exists(p =>
    Aqe.collect(p) { case t: TakeOrderedAndProjectExec => t }.nonEmpty)

  /** Broadcasts `body` creates, task binaries included: broadcast ids
    * are sequential, so two probe broadcasts bracket it.
    */
  private def broadcastsDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    val before = sc.broadcast(0)
    body
    val after = sc.broadcast(0)
    before.destroy(); after.destroy()
    after.id - before.id - 1
  }

  /** SQL actions (executions) `body` runs, counted by a query execution
    * listener. The listener bus is async: events already queued drain
    * before the count starts, and the count waits until it is quiet.
    */
  private def actionsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        n.incrementAndGet()
    }
    def settle(): Unit = {
      var prev = -1; var tries = 0
      while (n.get != prev && tries < 50) { prev = n.get; Thread.sleep(200); tries += 1 }
    }
    spark.listenerManager.register(l)
    try { settle(); n.set(0); body; settle(); n.get }
    finally spark.listenerManager.unregister(l)
  }

  /** `body` with the resident-graph cap one node under a layout of
    * `nodes` nodes, so a routed graph request walks as a Spark job.
    */
  private def overCap[T](nodes: Long)(body: => T): T = {
    val saved = graft.api.SearchApi.maxFilterAllowIds
    graft.api.SearchApi.maxFilterAllowIds = (nodes - 1).toInt
    try body finally graft.api.SearchApi.maxFilterAllowIds = saved
  }

  /** A search request over `embedding`: req_num = `features.size`. */
  private def request(features: Seq[Seq[Float]], limit: Int): String =
    s"""{"vectors":[{"field":"embedding","feature":${features.flatten.mkString("[", ",", "]")}}],"limit":$limit}"""

  test("PQ stage-1 scan reads (id, pq_code) only — no embedding bytes") {
    val pq = PqIndex.train(emb, "embedding", dim = 64, m = 8, ksub = 16,
      maxTrainRows = 2000L, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("pe_pq").toString + "/tbl"
    PqIndex.encode(emb, "embedding", pq).write.parquet(dir)
    val table = spark.read.parquet(dir)
    val plan = PqIndex.search(table, $"embedding", pq, q0, k = 5,
      recallNum = 50, idCol = $"vec_id")
    // the rerank scan reads everything; the CLAIM is that a code-only
    // stage-1 scan exists (codes without the raw vector column)
    val stage1 = scansOf(plan).filter { s =>
      val f = s.requiredSchema.fieldNames
      f.contains("pq_code") && !f.contains("embedding")
    }
    assert(stage1.nonEmpty,
      s"no code-only stage-1 scan in:\n${plan.queryExecution.executedPlan}")
  }

  test("binary stage-1 scan reads (id, bcode) only") {
    val dir = java.nio.file.Files.createTempDirectory("pe_bin").toString + "/tbl"
    BinaryIndex.encode(emb, "embedding").write.parquet(dir)
    val table = spark.read.parquet(dir)
    val plan = BinaryIndex.search(table, $"embedding", q0, k = 5,
      shortlist = 50, idCol = $"vec_id")
    val stage1 = scansOf(plan).filter { s =>
      val f = s.requiredSchema.fieldNames
      f.contains("bcode") && !f.contains("embedding")
    }
    assert(stage1.nonEmpty,
      s"no code-only stage-1 scan in:\n${plan.queryExecution.executedPlan}")
  }

  test("HNSW route reaches partition pruning on the shard_id segment layout") {
    import graft.operators.HnswIndex
    val ivf = IvfIndex.train(emb, "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("pe_hnswr").toString + "/tbl"
    HnswIndex.buildClustered(emb, "vec_id", "embedding",
      HnswIndex.Params(8, 40, "l2", numShards = 8), ivf)
      .write.partitionBy("shard_id").parquet(dir)
    import spark.implicits._
    val segs = spark.read.parquet(dir).as[HnswIndex.Segment]
    val plan = HnswIndex.searchRouted(segs, ivf, q0, k = 5, ef = 64,
      metric = "l2", nprobe = 2)
    val pruned = scansOf(plan).filter(_.partitionFilters.nonEmpty)
    assert(pruned.nonEmpty,
      s"route did not become a PartitionFilter:\n${plan.queryExecution.executedPlan}")
  }

  test("IVF probe reaches partition pruning on the list_id layout") {
    val model = IvfIndex.train(emb, "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("pe_ivf").toString + "/tbl"
    IvfIndex.buildTable(emb, "embedding", model, dir)
    val table = spark.read.parquet(dir)
    val plan = IvfIndex.search(table, $"embedding", model, q0, k = 5,
      nprobe = 2, tieBreak = Some($"vec_id"))
    val pruned = scansOf(plan).filter(_.partitionFilters.nonEmpty)
    assert(pruned.nonEmpty,
      s"probe did not become a PartitionFilter:\n${plan.queryExecution.executedPlan}")
  }

  test("embeddingNearDupKnn candidates are an equi-join on list_id — no BNLJ") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Dedup.embeddingNearDupKnn(
        emb, "vec_id", "embedding", 0.4, ncentroids = 8, nprobe = 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in near-dup:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in near-dup:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("declared query surface has no data-by-data nested-loop or cartesian join") {
    // the whole point of demoting the quadratic baselines: no query a
    // user can reach through SparkEntry.queries may nested-loop two
    // corpus-derived relations (the shape that cannot survive 100 TB).
    // A BroadcastNestedLoopJoin is ACCEPTABLE only when its broadcast
    // side is provably bounded independent of corpus size: a grand (no
    // grouping key) aggregate = exactly 1 row, or a driver-provided
    // request batch (local relation, no file scan underneath) — the
    // scalar-N attach in tfidf/lm-score and the brute-force KNN query
    // batch are those two cases.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def boundedBuild(bnlj: BroadcastNestedLoopJoinExec): Boolean = {
      val side = bnlj.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => bnlj.left
        case _ => bnlj.right
      }
      side.collectFirst { case e: BroadcastExchangeExec => e }.exists { ex =>
        // 1 row by construction: a grand aggregate (no grouping keys) at
        // the top of the build side...
        val scalarAgg = ex.child.collectFirst {
          case a: BaseAggregateExec if a.groupingExpressions.isEmpty => a
        }.isDefined
        // ...or a driver-provided request batch: no corpus scan underneath
        val corpusScan = ex.child.collectFirst {
          case f: FileSourceScanExec => f
        }.isDefined
        scalarAgg || !corpusScan
      }
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val df = fn(spark, sf)
          val plan: SparkPlan = df.queryExecution.executedPlan
          val badBnlj = plan.collect {
            case j: BroadcastNestedLoopJoinExec if !boundedBuild(j) => j
          }
          val cart = plan.collect { case c: CartesianProductExec => c }
          graft.operators.Checkpoints.free(df)
          val bad =
            (if (badBnlj.nonEmpty) Seq("unbounded-BNLJ") else Nil) ++
            (if (cart.nonEmpty) Seq("cartesian") else Nil)
          if (bad.isEmpty) Nil else Seq(s"$name: ${bad.mkString("+")}")
      }
      assert(offenders.isEmpty,
        s"declared queries with scale-hostile join plans: ${offenders.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("k-NN join candidates are an equi-join on list_id — no cartesian") {
    val model = IvfIndex.train(emb, "embedding", 8)
    val dir = java.nio.file.Files.createTempDirectory("pe_kj").toString + "/tbl"
    IvfIndex.buildTable(emb, "embedding", model, dir)
    val table = spark.read.parquet(dir)
    val queries = emb.filter($"vec_id" < 10).select($"vec_id", $"embedding")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.KnnJoin.ivf(queries, "vec_id", "embedding",
        table, $"embedding", struct($"vec_id"), model, k = 5, nprobe = 2)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"cartesian in knn-join:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"nested-loop join in knn-join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("routed serving action pin: one bounded hits action unfiltered, +one probe take with a filter, gate loop probe-bounded") {
    // the r15 gateLoop episode: extra per-request driver actions are how
    // routed serving quietly stops scaling — pin the counts
    val root = java.nio.file.Files.createTempDirectory("pe_actions").toString
    val spacePath = s"$root/space"
    emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = graft.schema.Space.fromJson(
      """{"name":"act_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val qv = q0 // materialize OUTSIDE the measured blocks (q0 is a def → a head() job)
    def req(extra: String) =
      s"""{"vectors":[{"field":"embedding","feature":${qv.mkString("[", ",", "]")}$extra}],"limit":9}"""
    // the pins hold for the walk as a Spark job: the layout one node over
    // the resident-graph cap (ResidentGraphSpec pins the resident walk)
    overCap(stored.count()) {
      // warm the one-time costs (parquet file-index listing, ledger reads)
      // so the measurements below see steady-state serving, not cold IO
      graft.api.SearchApi.searchAuto(stored, sp, req(""), lc).collect()

      // 1) plain routed single: ONE bounded action — the ≤ k hits
      // materialization that feeds the O(k) payload prune (id-IN/_bucket-IN
      // pushed into the payload scan instead of a full corpus join-back).
      // One collect runs ≤3 scheduler jobs (AQE stage materializations of
      // the walk's partial/final merge); a second per-request action or a
      // corpus-sized collect would exceed it.
      val nb0 = jobsDuring {
        graft.api.SearchApi.searchAuto(stored, sp, req(""), lc)
      }
      assert(nb0 >= 1 && nb0 <= 3,
        s"plain routed construction ran $nb0 jobs (one bounded hits action = 1–3)")

      // 2) scalar-filtered: ONE bounded take() — the combined selectivity
      // probe + allow-set collect (≤2 scheduler jobs: 1-partition probe,
      // then the scale-up pass) — plus the bounded hits action (≤3); a
      // count + re-collect or a per-arm second probe would exceed 5.
      val nf = jobsDuring {
        graft.api.SearchApi.searchAuto(stored, sp,
          s"""{"vectors":[{"field":"embedding","feature":${qv.mkString("[", ",", "]")}}],
            "filters":{"operator":"AND","conditions":[
              {"operator":"IN","field":"label","value":[1,3]}]},"limit":9}""", lc)
      }
      assert(nf <= 5, s"filtered routed plan construction ran $nf jobs (take ≤2 + hits ≤3)")

      // 3) SELECTIVE gate (min_score ≈ median): the walk threads the band
      // into its result heap, so hitsAt(depth) returns the GATED ranking's
      // prefix and the loop converges on its FIRST probe — one bounded
      // aggregate action (≤2 scheduler jobs) + the payload prune's local
      // hits scan (≤1). The r17 shape re-paid the walk per depth doubling
      // (4 probes on this fixture); ≥5 jobs would mean the doubling is
      // back.
      val ng = jobsDuring {
        graft.api.SearchApi.searchAuto(stored, sp, req(""","min_score":1.41"""), lc)
      }
      assert(ng >= 1, s"gate loop ran $ng jobs — the gated probe must run")
      assert(ng <= 4, s"gate loop ran $ng jobs — in-walk band admission " +
        "should converge on the first probe (one bounded aggregate action)")

      // 4) a response of `_id` and `_score` alone has no payload to fetch:
      // construction runs no job, the plan scans no payload column, and
      // the rows are the payload request's, in the same order
      val idOnly = s"""{"vectors":[{"field":"embedding","feature":${qv.mkString("[", ",", "]")}}],
        "fields":["_id"],"limit":9}"""
      var lazyDf: org.apache.spark.sql.DataFrame = null
      val ni = jobsDuring { lazyDf = graft.api.SearchApi.searchAuto(stored, sp, idOnly, lc) }
      assert(ni == 0, s"id-only routed construction ran $ni jobs")
      assert(lazyDf.columns.toSeq == Seq("_id", "_score"))
      assert(scansOf(lazyDf).forall(!_.output.exists(_.name == "label")),
        "id-only routed plan still scans the payload")
      def idScores(df: org.apache.spark.sql.DataFrame) =
        df.select($"_id", $"_score").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(idScores(lazyDf) ==
        idScores(graft.api.SearchApi.searchAuto(stored, sp, req(""), lc)))
    }
  }

  test("routed HNSW merge choice: one query merges with TakeOrderedAndProject, req_num=2 with one TopKAgg") {
    // a single query is a batch of one, but its per-query top-k merge
    // must stay Spark's TakeOrderedAndProject (no `_qid` exchange, no
    // aggregate); a batch merges through exactly one bounded TopKAgg
    val root = java.nio.file.Files.createTempDirectory("pe_merge").toString
    val spacePath = s"$root/space"
    emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = graft.schema.Space.fromJson(
      """{"name":"merge_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":60}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val qv = q0
    // the merge runs in a Spark plan only when the walk does: the layout
    // one node over the resident-graph cap
    val nodes = stored.count()
    def plansOf(features: Seq[Seq[Float]]): Seq[SparkPlan] = overCap(nodes)(actionPlans {
      graft.api.SearchApi.searchAuto(stored, sp, request(features, 7), lc)
    })
    val single = plansOf(Seq(qv))
    assert(takeOrdered(single),
      s"single-query hits must merge with TakeOrderedAndProject:\n${single.mkString("\n")}")
    assert(topKMerges(single) == 0,
      s"single-query hits must not run a TopKAgg aggregate:\n${single.mkString("\n")}")
    val batch = plansOf(Seq(qv, qv.reverse))
    assert(topKMerges(batch) == 1,
      s"req_num=2 hits must merge through exactly one TopKAgg:\n${batch.mkString("\n")}")
  }

  test("FLAT merge choice: one query merges with TakeOrderedAndProject, req_num=2 with one TopKAgg") {
    // the FLAT path serves every query count through Knn.searchBatch; the
    // query count it passes keeps a single query off the `_qid` exchange
    val stored = emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
    val sp = graft.schema.Space.fromJson(
      """{"name":"flat_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"FLAT"}}]}""")
    val qv = q0
    def plansOf(features: Seq[Seq[Float]]): Seq[SparkPlan] = actionPlans {
      graft.api.SearchApi.search(stored, sp, request(features, 7)).collect()
      ()
    }
    val single = plansOf(Seq(qv))
    assert(takeOrdered(single),
      s"a single FLAT query must merge with TakeOrderedAndProject:\n${single.mkString("\n")}")
    assert(topKMerges(single) == 0,
      s"a single FLAT query must not run a TopKAgg aggregate:\n${single.mkString("\n")}")
    // the request's own query vectors ride the plan as a literal: no
    // broadcast exchange (and so no broadcast job)
    assert(single.forall(p => Aqe.collect(p) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b }.isEmpty),
      s"a FLAT request must not broadcast its query batch:\n${single.mkString("\n")}")
    val batch = plansOf(Seq(qv, qv.reverse))
    assert(topKMerges(batch) == 1,
      s"a req_num=2 FLAT request must merge through exactly one TopKAgg:\n${batch.mkString("\n")}")
  }

  test("routed IVFFLAT single query: batch operator keeps list_id partition pruning, no TopKAgg") {
    // a single routed scan-family query runs the batch operator as a batch
    // of one: the static `list_id IN` probe union still prunes partitions
    // and its per-query merge stays TakeOrderedAndProject
    val root = java.nio.file.Files.createTempDirectory("pe_ivf_one").toString
    val spacePath = s"$root/space"
    emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    val sp = graft.schema.Space.fromJson(
      """{"name":"ivf_one","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":2}}}]}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuild("embedding", ncentroids = 8)
    val qv = q0
    val plans = actionPlans {
      graft.api.SearchApi.searchAuto(stored, sp, request(Seq(qv), 5), lc)
      ()
    }
    val pruned = plans.flatMap(p => Aqe.collect(p) {
      case f: FileSourceScanExec
          if f.partitionFilters.exists(_.references.exists(_.name == "list_id")) => f
    })
    assert(pruned.nonEmpty,
      s"the probe did not become a list_id PartitionFilter:\n${plans.mkString("\n")}")
    assert(topKMerges(plans) == 0,
      s"a single routed IVFFLAT query must not run a TopKAgg aggregate:\n${plans.mkString("\n")}")
  }

  test("catalog routed request end to end: warm open, ≤3 jobs, bounded TakeOrderedAndProject fetch") {
    // SpaceCatalog.search + collect, the whole request. The space open is
    // a cache hit (no schema-inference job). The graph generation's
    // decoded segments are resident, so the walk runs on the driver; a
    // response whose columns the snapshot's resident projection holds
    // takes its payload from it, and a filter its allow-set. Such a
    // request runs no Spark job from construction through collect,
    // creates no broadcast and scans no file. A response the projection
    // cannot serve (here a vector field) fetches, and the fetch orders its
    // ≤ req_num·k rows with one TakeOrderedAndProject — no
    // range-partitioned sort (bounds-sampling job + map stage + result) —
    // over an id-IN pruned payload scan.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val root = java.nio.file.Files.createTempDirectory("pe_catalog").toString
    val cat = new graft.schema.SpaceCatalog(spark, root)
    cat.createDb("d")
    val sp = graft.schema.Space.fromJson(
      """{"name":"s","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":60}}}]}""")
    cat.createSpace("d", sp)
    cat.upsert("d", "s", emb.select(concat(lit("d-"), $"vec_id").as("_id"),
      $"label", $"embedding"), partitionNum = 4)
    new graft.api.IndexLifecycle(spark, s"$root/d/s")
      .rebuildDeclared(sp, "embedding", idCol = "_docid", numShards = 3)
    val qv = q0
    def req(qs: Seq[Seq[Float]], extra: String = "") =
      s"""{"vectors":[{"field":"embedding","feature":${qs.flatten.mkString("[", ",", "]")}}],"limit":9$extra}"""
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def scans(plan: SparkPlan) = Aqe.collect(plan) { case f: FileSourceScanExec => f }

    // resident: warm (the first request opens the space, builds the
    // projection and decodes the graph layout), then a request runs no
    // job, creates no broadcast, and runs no SQL action before the
    // caller's collect
    def resident(request: String, rows: Int, ctx: String): Unit = {
      assert(cat.search("d", "s", sp, request).collect().length == rows)
      var df: org.apache.spark.sql.DataFrame = null
      val b = broadcastsDuring {
        val n = jobsDuring {
          // the hits are local rows, read without a collect of their own
          val a = actionsDuring { df = cat.search("d", "s", sp, request) }
          assert(a == 0, s"warm resident catalog request ($ctx) ran $a SQL actions before its collect")
          assert(df.collect().length == rows)
        }
        assert(n == 0, s"warm resident catalog request ($ctx) ran $n jobs")
      }
      assert(b == 0, s"warm resident catalog request ($ctx) created $b broadcasts")
      assert(scans(df.queryExecution.executedPlan).isEmpty,
        s"resident response scans a file:\n${df.queryExecution.executedPlan}")
    }
    resident(req(Seq(qv)), 9, "one query")
    resident(req(Seq(qv, qv.reverse)), 18, "req_num=2")

    // fallback: the fetch is one bounded TakeOrderedAndProject over an
    // id-IN pruned payload scan
    val vectors = ""","fields":["label","embedding"],"vector_value":true"""
    def fetchPlan(qs: Seq[Seq[Float]]): SparkPlan = {
      val df = cat.search("d", "s", sp, req(qs, vectors))
      assert(df.collect().length == 9 * qs.size)
      df.queryExecution.executedPlan
    }
    def assertBounded(plan: SparkPlan, ctx: String): Unit = {
      assert(Aqe.collect(plan) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
        s"$ctx fetch must sort with TakeOrderedAndProject:\n$plan")
      assert(Aqe.collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
      }.isEmpty, s"$ctx fetch must not range-partition its hits:\n$plan")
      assert(scans(plan).exists(_.metadata("PushedFilters").contains("In(_docid")),
        s"$ctx fetch must push the hit ids into its payload scan:\n$plan")
    }
    fetchPlan(Seq(qv))
    val nv = jobsDuring { cat.search("d", "s", sp, req(Seq(qv), vectors)).collect() }
    assert(nv >= 1 && nv <= 3,
      s"warm fetching catalog request ran $nv jobs (the fetch)")
    assertBounded(fetchPlan(Seq(qv)), "single-query")
    assertBounded(fetchPlan(Seq(qv, qv.reverse)), "req_num=2")

    // a filtered request takes its allow-set from the same resident
    // projection: warm, it runs no job either
    def filtered(cond: String) =
      s"""{"vectors":[{"field":"embedding","feature":${qv.mkString("[", ",", "]")}}],
        "filters":{"operator":"AND","conditions":[$cond]},"limit":9}"""
    val some = filtered("""{"operator":"IN","field":"label","value":[1,3]}""")
    resident(some, 9, "filtered")
    // a filter that matches nothing: an empty allow-set short-circuits
    // the walk and the payload, and the response keeps its schema
    val nothing = filtered("""{"operator":">","field":"label","value":1000}""")
    val n0 = jobsDuring {
      assert(cat.search("d", "s", sp, nothing).collect().isEmpty)
    }
    assert(n0 == 0, s"an empty allow-set still ran $n0 jobs")
    assert(cat.search("d", "s", sp, nothing).schema ==
      cat.search("d", "s", sp, some).schema)
  }

  test("gate loop backstop still depth-doubles when hits are NOT gated in-walk") {
    // the exactness backstop for any hitsAt that does not thread the
    // band: an artificially tight first depth (ungated top-d prefixes)
    // must double until the gated top-k dominates, and the result must
    // equal gate-before-select
    import spark.implicits._
    val n = 2000
    val all = (1 to n).map(i => (i.toLong, i.toDouble))
    var probes = 0
    val out = graft.api.SearchApi.gateLoop(spark, 5, "l2",
      minScore = Some(1000.0), maxScore = None) { depth =>
      probes += 1
      all.take(depth).map { case (id, s) => (0L, id, s) }
        .toDF("_qid", "vec_id", "_score") // ungated top-depth prefix
    }.collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._2)
    // gated top-5 of the full ranking = scores 1000..1004
    assert(out.toSeq == (1000 to 1004).map(i => (i.toLong, i.toDouble)))
    // depth starts at max(4k, 64) = 64 and must double past 1000:
    // 64→128→256→512→1024 = 5 probes
    assert(probes == 5, s"expected 5 doubling probes, got $probes")
    // batched variant: two queries, one exhausts early (short stream)
    var bprobes = 0
    val bout = graft.api.SearchApi.gateLoop(spark, 5, "l2",
      minScore = Some(1000.0), maxScore = None) { depth =>
      bprobes += 1
      (all.take(depth).map { case (id, s) => (0L, id, s) } ++
        all.take(math.min(depth, 200)).map { case (id, s) => (1L, id, s) })
        .toDF("_qid", "vec_id", "_score")
    }.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // qid 0 finds 1000..1004; qid 1's stream exhausts at 200 rows with
    // zero gated survivors — exhaustion, not an infinite loop
    assert(bout == (1000L to 1004L).map(i => (0L, i)))
    assert(bprobes == 5, s"expected 5 batched probes, got $bprobes")
  }

  test("int8 routed serving keeps the action pin: one bounded hits action at plan construction") {
    // the int8 arms share the float arms' laziness contract: query
    // quantization, LUT building and centroid routing are driver-side
    // arithmetic, never Spark actions
    val root = java.nio.file.Files.createTempDirectory("pe_i8_actions").toString
    val spacePath = s"$root/space"
    emb.select($"vec_id".cast("long").as("_id"), $"label",
        graft.Graft.F.quantizeI8($"embedding").as("iv"))
      .write.parquet(spacePath)
    val stored = spark.read.parquet(spacePath)
    def spFor(index: String) = graft.schema.Space.fromJson(
      s"""{"name":"i8_act","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"iv","type":"vector","dimension":64,"value_type":"int8",
           "index":$index}]}""")
    val hnswSp = spFor(
      """{"type":"HNSW","params":{"nlinks":16,"efConstruction":60,
         "efSearch":600,"metric_type":"InnerProduct"}}""")
    val pqSp = spFor(
      """{"type":"IVFPQ","params":{"ncentroids":8,"nprobe":8,
         "recall_num":100,"metric_type":"InnerProduct"}}""")
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("_id", "iv",
      graft.operators.HnswIndex.Params(16, 60, "ip", numShards = 3))
    lc.rebuildIvfPq("iv", ncentroids = 8, m = 8)
    val qv = q0
    def req = s"""{"vectors":[{"field":"iv","feature":${qv.mkString("[", ",", "]")}}],"limit":9}"""
    // the HNSW walk runs as a Spark job (and shows its layout scan) with
    // the layout one node over the resident-graph cap
    overCap(stored.count()) {
      // warm one-time costs (layout open, ledger reads)
      graft.api.SearchApi.searchAuto(stored, hnswSp, req, lc).collect()
      graft.api.SearchApi.searchAuto(stored, pqSp, req, lc).collect()
      // query quantization, LUT building and centroid routing stay
      // driver-side arithmetic — the only action is the bounded hits
      // materialization feeding the O(k) payload prune
      val nH = jobsDuring {
        graft.api.SearchApi.searchAuto(stored, hnswSp, req, lc)
      }
      assert(nH >= 1 && nH <= 3,
        s"int8 HNSW construction ran $nH jobs (one bounded hits action = 1–3)")
      val nP = jobsDuring {
        graft.api.SearchApi.searchAuto(stored, pqSp, req, lc)
      }
      assert(nP >= 1 && nP <= 3,
        s"int8 IVFPQ construction ran $nP jobs (one bounded hits action = 1–3)")

      // ROUTE DISCRIMINATION: the serving must read the GENERATION layout,
      // not just the space parquet — a regressed arm guard that silently
      // fell back to FLAT would pass every brute-parity test, so pin the
      // scanned location itself. The walk runs as the construction-time
      // hits action, so the route shows in the captured action plans.
      val (_, hnswPlans) = plansDuring(
        graft.api.SearchApi.searchAuto(stored, hnswSp, req, lc))
      assert(hnswPlans.contains(".hnsw.g"),
        "int8 HNSW request must serve from the graph generation layout")
      val (_, pqPlans) = plansDuring(
        graft.api.SearchApi.searchAuto(stored, pqSp, req, lc))
      assert(pqPlans.contains(".pq.g"),
        "int8 IVFPQ request must serve from the code generation layout")
    }
  }

  test("docid-lookup prune reaches partition pruning (_bucket IN touched buckets)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = java.nio.file.Files.createTempDirectory("pe_docid").toString
    val cat = new graft.schema.SpaceCatalog(spark, root)
    cat.createDb("d")
    // non-FLAT vector spec ⇒ the catalog mints the `_docid` sidecar whose
    // per-batch lookup is the scan under test
    cat.createSpace("d", graft.schema.Space.fromJson(
      """{"name":"s","fields":[
          {"name":"n","type":"long"},
          {"name":"v","type":"vector","dimension":4,
           "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":100}}}]}"""))
    val nb = 8
    val init = (0 until 200).map(i => (s"id$i", i.toLong, Seq.fill(4)(i.toFloat)))
      .toDF("_id", "n", "v").select($"_id", $"n", $"v".cast("array<float>").as("v"))
    cat.upsert("d", "s", init, partitionNum = nb)

    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      cat.upsert("d", "s",
        Seq(("id7", 999L, Seq.fill(4)(0f))).toDF("_id", "n", "v")
          .select($"_id", $"n", $"v".cast("array<float>").as("v")),
        partitionNum = nb)
      // the listener bus is async — poll until the pruned lookup scan
      // (a _docid-projecting read with a _bucket partition filter) lands
      def prunedScan(): Boolean = {
        import scala.jdk.CollectionConverters._
        plans.iterator().asScala.flatMap(_.collect {
          case f: FileSourceScanExec
              if f.output.exists(_.name == "_docid") &&
                 f.partitionFilters.exists(_.toString.contains("_bucket")) => f
        }).nonEmpty
      }
      var tries = 0
      while (!prunedScan() && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(prunedScan(),
        "no executed scan showed a _bucket partition filter on the _docid lookup — " +
          "the per-batch docid lookup is scanning the whole table")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
  }

  test("routed payload join-back prunes the corpus scan: id-IN pushdown + _bucket partition pruning") {
    // joinBack used to broadcast-join ≤k hits against an UNPRUNED corpus
    // scan — a full corpus read per query to fetch k payload rows. Pin
    // the fix: the payload scan carries In(_id, hits) PushedFilters
    // always, and on a catalog-bucketed layout also a `_bucket IN`
    // partition filter — the Spark shape of the reference's O(k) docid
    // point reads (engine.cc:902-911).
    val root = java.nio.file.Files.createTempDirectory("pe_payload").toString
    val sp = graft.schema.Space.fromJson(
      """{"name":"payload_space","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW",
                    "params":{"nlinks":16,"efConstruction":60,"efSearch":600}}}]}""")
    val qv = q0
    val req =
      s"""{"vectors":[{"field":"embedding","feature":${qv.mkString("[", ",", "]")}}],"limit":9}"""
    def payloadScans(df: org.apache.spark.sql.DataFrame) =
      scansOf(df).filter(_.output.exists(_.name == "label"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // (a) plain-parquet space (the fixture shape): id-IN pushdown
    val plainPath = s"$root/plain"
    emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .write.parquet(plainPath)
    val lcP = new graft.api.IndexLifecycle(spark, plainPath)
    lcP.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val dfP = graft.api.SearchApi.searchAuto(
      spark.read.parquet(plainPath), sp, req, lcP)
    val scansP = payloadScans(dfP)
    assert(scansP.nonEmpty, "no payload scan in the routed plan")
    assert(scansP.forall(_.metadata("PushedFilters").contains("In(_id")),
      s"payload scan not id-pruned: ${scansP.map(_.metadata("PushedFilters"))}")
    val flat = graft.api.SearchApi.search(spark.read.parquet(plainPath), sp, req)
    assert(rows(dfP) == rows(flat), "id-pruned routed serve must stay exact")

    // (b) catalog-bucketed id-hash layout (+ `_graft_buckets` sidecar):
    // the hit ids' buckets derive driver-side and PARTITION-prune the
    // payload scan — the pruned dirs' IO never happens
    val bPath = s"$root/bucketed"
    val nbB = 8
    emb.select($"vec_id".cast("long").as("_id"), $"label", $"embedding")
      .withColumn("_bucket", pmod(hash($"_id"), lit(nbB)))
      .write.partitionBy("_bucket").parquet(bPath)
    graft.sources.SidecarIO.writeString(s"$bPath/_graft_buckets", nbB.toString)
    val lcB = new graft.api.IndexLifecycle(spark, bPath)
    lcB.rebuildHnsw("_id", "embedding",
      graft.operators.HnswIndex.Params(16, 60, "l2", numShards = 3))
    val dfB = graft.api.SearchApi.searchAuto(
      spark.read.parquet(bPath), sp, req, lcB)
    val scansB = payloadScans(dfB)
    assert(scansB.nonEmpty, "no payload scan in the bucketed routed plan")
    assert(scansB.forall(_.partitionFilters.exists(_.toString.contains("_bucket"))),
      "payload scan on a bucketed layout must partition-prune on _bucket")
    assert(scansB.forall(_.metadata("PushedFilters").contains("In(_id")),
      "bucketed payload scan must also push the id-IN for row-group skipping")
    // parity: wrong driver-side bucket derivation would DROP payload rows
    // (the join would miss the hit's bucket), so exact equality is the
    // correctness pin for the pmod(hash(_id), nb) twin
    assert(rows(dfB) == rows(flat),
      "bucket-pruned routed serve must return the exact FLAT results")
    // `_bucket` stays internal: never projected into results
    assert(!dfB.columns.contains("_bucket"))
  }

  test("document_ids point reads prune the scan: _bucket partition pruning + id-IN on a catalog layout") {
    // /document/query by ids used to broadcast-join the id list against
    // an UNPRUNED corpus scan — the read-side twin of the routed payload
    // join-back. Pin the fix: the scan carries In(_id) PushedFilters and
    // a `_bucket IN` partition filter derived from the STRING ids' hash
    // (the reference's GetDocs = RocksDB point reads, engine.cc:869-911).
    val root = java.nio.file.Files.createTempDirectory("pe_qids").toString
    val cat = new graft.schema.SpaceCatalog(spark, root)
    cat.createDb("d")
    val sp = graft.schema.Space.fromJson(
      """{"name":"s","fields":[
          {"name":"n","type":"long"},
          {"name":"v","type":"vector","dimension":4,
           "index":{"type":"FLAT"}}]}""")
    cat.createSpace("d", sp)
    val nbQ = 8
    cat.upsert("d", "s",
      (0 until 200).map(i => (s"id$i", i.toLong, Seq.fill(4)(i.toFloat)))
        .toDF("_id", "n", "v")
        .select($"_id", $"n", $"v".cast("array<float>").as("v")),
      partitionNum = nbQ)
    val df = cat.query("d", "s", sp,
      """{"document_ids":["id7","id42","id99"],"limit":10}""")
    val scans = scansOf(df).filter(_.output.exists(_.name == "n"))
    assert(scans.nonEmpty, "no payload scan in the document_ids plan")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("_bucket"))),
      "document_ids fetch on a bucketed layout must partition-prune on _bucket")
    assert(scans.forall(_.metadata("PushedFilters").contains("In(_id")),
      s"document_ids fetch must push the id list: ${scans.map(_.metadata("PushedFilters"))}")
    // request-order parity: the string-id hash twin must not drop rows
    assert(df.select("_id").collect().map(_.getString(0)).toSeq ==
      Seq("id7", "id42", "id99"))
  }

  test("document_ids on an INTEGRAL-PK bucketed layout: ids coerce before hashing; non-numeric ids drop out") {
    // wire ids are JSON strings whatever the PK type — hashing the raw
    // String against a LongType column threw in Literal.create (advisor
    // r18). Pin the coercion: numeric strings bucket-prune exactly like
    // native longs; a non-numeric id (can never match an integral PK,
    // and would ERROR the whole request through an ANSI cast) just
    // contributes no row while the coercible subset still prunes.
    val root = java.nio.file.Files.createTempDirectory("pe_qids_int").toString
    val cat = new graft.schema.SpaceCatalog(spark, root)
    cat.createDb("d")
    val sp = graft.schema.Space.fromJson(
      """{"name":"s","fields":[
          {"name":"n","type":"long"},
          {"name":"v","type":"vector","dimension":4,
           "index":{"type":"FLAT"}}]}""")
    cat.createSpace("d", sp)
    cat.upsert("d", "s",
      (0 until 200).map(i => (i.toLong, i.toLong, Seq.fill(4)(i.toFloat)))
        .toDF("_id", "n", "v")
        .select($"_id", $"n", $"v".cast("array<float>").as("v")),
      partitionNum = 8)
    val df = cat.query("d", "s", sp,
      """{"document_ids":["7","42","99"],"limit":10}""")
    val scans = scansOf(df).filter(_.output.exists(_.name == "n"))
    assert(scans.nonEmpty, "no payload scan in the document_ids plan")
    assert(scans.forall(_.partitionFilters.exists(_.toString.contains("_bucket"))),
      "coerced integral ids must partition-prune on _bucket")
    assert(scans.forall(_.metadata("PushedFilters").contains("In(_id")),
      s"coerced integral ids must push the id list: ${scans.map(_.metadata("PushedFilters"))}")
    assert(df.select("_id").collect().map(_.getLong(0)).toSeq == Seq(7L, 42L, 99L))
    // mixed numeric + non-numeric: serves the matchable ids, skips pruning
    val mixed = cat.query("d", "s", sp,
      """{"document_ids":["7","not-a-number","42"],"limit":10}""")
    assert(mixed.select("_id").collect().map(_.getLong(0)).toSeq == Seq(7L, 42L))
  }
}
