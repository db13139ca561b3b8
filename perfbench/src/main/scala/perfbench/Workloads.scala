package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.api.{IndexLifecycle, Ingest}
import graft.operators.{Dedup, HnswIndex}
import graft.schema.{Space, SpaceCatalog}

import Main.{median, quantile}

/** A workload: seeded inputs, a setup the benchmark repeats, a warm-up,
  * and timed phases of closed-loop clients that call the engine's public
  * API the way a router handler would.
  */
trait Workload {
  /** Root span names of the workload's request (what the end-to-end
    * latencies describe).
    */
  def requestKinds: Set[String]
  def setup(run: Run, rep: Int): Unit
  def warmup(run: Run): Unit
  /** Run the clients for `seconds`; returns the wall seconds the request
    * clients were active.
    */
  def timed(run: Run, seconds: Double): Double
  /** End-of-run output checks. */
  def finish(run: Run): Unit
  /** Bytes on disk of the space tables and index generations, per byte of
    * the generated rows.
    */
  def storeRatio(run: Run): Double

  def endToEnd(run: Run, setupS: Double): Seq[(String, Double, String)] = {
    val lat = run.records.filter(r => r.primary && !r.traced && r.ok).map(_.latMs)
    Seq(
      ("request_p50_ms", median(lat), "ms"),
      ("request_p95_ms", quantile(lat, 0.95), "ms"),
      ("requests_per_s", lat.size / run.untracedWallS, "1/s"),
      ("store_bytes_per_user_byte", storeRatio(run), "ratio"),
      ("setup_s", setupS, "s"))
  }
}

object Workload {
  /** Setup runs this many times per run; `setup_s` is their median. */
  val SetupReps = 3
  val Db = "bench"
  val K = 10

  /** Bytes on disk of space `name` under a catalog root: its table dir
    * plus the `<name>.*` siblings that hold index generations, state and
    * ledgers.
    */
  def spaceBytes(root: String, name: String): Long = {
    val db = java.nio.file.Paths.get(root, Db)
    val s = java.nio.file.Files.walk(db)
    try s.filter { p =>
      val top = db.relativize(p).getName(0).toString
      java.nio.file.Files.isRegularFile(p) &&
        (top == name || top.startsWith(name + "."))
    }.mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  /** Run `clients` threads until `seconds` have passed; each loops its
    * body, and an in-flight call completes. Returns the wall seconds until
    * the last `active` client stopped. An error escaping a client (engine
    * errors are caught and counted by [[Run.op]]) fails the run.
    */
  def closedLoop(seconds: Double, clients: Seq[(Boolean, Int => Unit)]): Double = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val activeEnd = new java.util.concurrent.atomic.AtomicLong(t0)
    val error = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = clients.zipWithIndex.map { case ((active, body), c) =>
      val t = new Thread(() => {
        try {
          var i = 0
          while (System.nanoTime() < deadline && error.get == null) { body(i); i += 1 }
          if (active) activeEnd.accumulateAndGet(System.nanoTime(), math.max)
        } catch { case e: Throwable => error.compareAndSet(null, e) }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    Option(error.get).foreach(e => throw e)
    (activeEnd.get - t0) / 1e9
  }
}

import Workload._

/** Routed search over an F1 corpus in one HNSW catalog space: its setup,
  * its request path and the request's output checks, shared by `search`,
  * `concurrent` and `mixed`.
  */
class SearchFamily(val name: String, val n: Int, val dim: Int, val parts: Int) {
  var vs: Gen.VecSpace = _
  var docs: IndexedSeq[Gen.Doc] = _
  var cat: SpaceCatalog = _
  var root: String = _
  var space: Space = _
  // recall@k: true neighbours returned / true neighbours
  private val recalled = new java.util.concurrent.atomic.AtomicLong(0)
  private val relevant = new java.util.concurrent.atomic.AtomicLong(0)

  def gen(run: Run): Unit = if (docs == null) {
    vs = new Gen.VecSpace(run.seed, dim, 16)
    docs = Gen.corpus(run.seed, n, vs)
    space = Space.fromJson(Gen.f1SpaceJson(name, dim, parts, SearchFamily.Hnsw))
  }

  def rawBytes: Long = docs.map(_.rawBytes).sum

  def spaceDir: String = s"$root/$Db/$name"

  /** Create the space, ingest the corpus and build its declared index. */
  def build(run: Run, rep: Int): Unit = {
    gen(run)
    if (root != null) deleteTree(root)
    root = run.catalogRoot(s"catalog-rep$rep")
    cat = new SpaceCatalog(run.spark, root)
    cat.createDb(Db)
    val tr = run.tr
    tr.span("schema.catalog.create_space") { cat.createSpace(Db, space) }
    val batch = tr.span("api.ingest.conform") {
      Ingest.conform(Gen.toDF(run.spark, docs), space)
    }
    tr.span("schema.catalog.bulk_upsert") { cat.upsert(Db, name, batch, parts) }
    tr.span("api.lifecycle.build_hnsw") {
      new IndexLifecycle(run.spark, spaceDir)
        .rebuildDeclared(space, "field_vector", idCol = "_docid")
    }
  }

  /** One routed request: plan (the catalog search call, with the driver
    * actions it issues) then fetch (collecting the hits).
    */
  def search(run: Run, req: Gen.Req, primary: Boolean,
      withRecall: Boolean): Unit =
    run.opCounted("search.request", req.cls.name, primary) {
      val df = run.tr.span("api.search.plan") {
        cat.search(Db, name, space, req.json)
      }
      run.tr.span("api.search.fetch") { df.collect() }
    }(_.length).foreach(rows => verify(run, req, rows, withRecall))

  private def verify(run: Run, req: Gen.Req, rows: Array[Row],
      withRecall: Boolean): Unit = {
    val hasQid = rows.headOption.exists(_.schema.fieldNames.contains("_qid"))
    val byQ: Map[Long, Seq[Row]] =
      if (!hasQid) Map(0L -> rows.toSeq)
      else rows.toSeq.groupBy(r => r.getAs[Number]("_qid").longValue)
    val qids = byQ.keys.toSeq.sorted
    val allowed = req.range.fold(n)({ case (lo, hi) => hi - lo })
    val want = math.min(req.k, allowed)
    run.check(qids.size == req.queries.size,
      s"${req.cls.name}: ${qids.size} result groups for ${req.queries.size} queries")
    qids.zip(req.queries).foreach { case (qid, q) =>
      val hits = byQ(qid)
      run.check(hits.size == want,
        s"${req.cls.name}: ${hits.size} hits, expected $want")
      req.range.foreach { case (lo, hi) =>
        hits.foreach { h =>
          val v = h.getAs[Int]("field_int")
          run.check(v >= lo && v < hi,
            s"${req.cls.name}: hit ${h.getAs[String]("_id")} field_int $v outside [$lo,$hi)")
        }
      }
      if (withRecall) {
        val truth = Gen.bruteTopK(docs, q, req.range, req.k)
        val got = hits.map(_.getAs[String]("_id")).toSet
        recalled.addAndGet(truth.count(got.contains))
        relevant.addAndGet(truth.size)
      }
    }
  }

  def recall: Double = recalled.get.toDouble / math.max(1L, relevant.get)
}

object SearchFamily {
  val Hnsw = """{"type":"HNSW","params":{"metric_type":"L2","nlinks":16,"efConstruction":40,"efSearch":64}}"""
  val HnswParams: HnswIndex.Params = HnswIndex.Params(m = 16, efConstruction = 40,
    metric = "l2", numShards = 8)
}

/** `search` (1 client) and `concurrent` (nproc clients): closed-loop
  * clients over an HNSW space with the F1 schema, mixing filter classes
  * and req_num batches.
  */
final class SearchWorkload(clients: Int) extends Workload {
  val fam = new SearchFamily("hnsw", n = 5000, dim = 32, parts = 4)
  val requestKinds = Set("search.request")
  // recall@10 floor, below every value seen while the benchmark was tuned
  val RecallFloor = 0.9
  private var pool: IndexedSeq[Gen.Req] = _
  private val next = new AtomicInteger(0)

  def setup(run: Run, rep: Int): Unit = fam.build(run, rep)

  // 12 untimed requests, one at a time. Sent from nproc threads at once,
  // the same warm-up left the timed phase ~30% slower: the JIT compiler
  // threads then compete with the clients for the cores.
  def warmup(run: Run): Unit = {
    Gen.requests(run.seed, 11, 12, fam.n, fam.vs, K)
      .foreach(r => fam.search(run, r, primary = false, withRecall = false))
    pool = Gen.requests(run.seed, 12, 4000, fam.n, fam.vs, K)
  }

  def timed(run: Run, seconds: Double): Double =
    closedLoop(seconds, Seq.fill(clients)((true, (_: Int) => {
      val i = next.getAndIncrement()
      fam.search(run, pool(i % pool.size), primary = true, withRecall = true)
    })))

  def finish(run: Run): Unit = {
    val r = fam.recall
    run.check(!(r < RecallFloor), f"recall@$K is $r%.4f, below the floor $RecallFloor")
  }

  def storeRatio(run: Run): Double =
    spaceBytes(fam.root, fam.name).toDouble / fam.rawBytes
}

/** `mixed`: 3 closed-loop searchers on one HNSW space beside 1 writer
  * that upserts seeded batches (half new ids, half updates), appends them
  * to the HNSW generation, and reads each acknowledged batch back by id
  * and by exact-vector search.
  */
final class MixedWorkload extends Workload {
  val fam = new SearchFamily("mixed", n = 5000, dim = 32, parts = 8)
  val requestKinds = Set("search.request")
  val Searchers = 3
  val BatchDocs = 100
  private var pool: IndexedSeq[Gen.Req] = _
  private var updateOrder: Array[Int] = _
  private val next = new AtomicInteger(0)
  private val nextBatch = new AtomicInteger(0)

  def setup(run: Run, rep: Int): Unit = fam.build(run, rep)

  def warmup(run: Run): Unit = {
    updateOrder = Gen.shuffled(Gen.rng(run.seed, 9), fam.n)
    Gen.requests(run.seed, 11, 10, fam.n, fam.vs, K)
      .foreach(r => fam.search(run, r, primary = false, withRecall = false))
    write(run)
    pool = Gen.requests(run.seed, 12, 4000, fam.n, fam.vs, K)
  }


  /** Upsert one batch, append it to the HNSW generation, read it back. */
  private def write(run: Run): Unit = {
    val b = nextBatch.getAndIncrement()
    val batch = Gen.writeBatch(run.seed, b, BatchDocs, fam.docs, updateOrder, fam.vs)
    val tr = run.tr
    val acked = run.op("write.batch", docs = batch.size) {
      val conformed = tr.span("api.ingest.conform") {
        Ingest.conform(Gen.toDF(run.spark, batch), fam.space)
      }
      tr.span("schema.catalog.upsert") {
        fam.cat.upsert(Db, fam.name, conformed, fam.parts)
      }
      tr.span("api.lifecycle.append_hnsw") {
        val delta = fam.cat.read(Db, fam.name)
          .filter(col("_id").isin(batch.map(_.id): _*))
          .select(col("_docid"), col("field_vector"))
        new IndexLifecycle(run.spark, fam.spaceDir)
          .appendHnsw(delta, "_docid", "field_vector", SearchFamily.HnswParams)
      }
    }
    if (acked.isDefined) readBack(run, batch)
  }

  private def readBack(run: Run, batch: IndexedSeq[Gen.Doc]): Unit = {
    val ids = batch.map(_.id)
    val probes = Seq(batch.head, batch.last) // one new id, one update
    run.op("write.readback", docs = batch.size) {
      val byId = run.tr.span("schema.catalog.query") {
        fam.cat.query(Db, fam.name, fam.space,
          s"""{"document_ids":${ids.map(i => s""""$i"""").mkString("[", ",", "]")},""" +
            s""""fields":["field_int","field_vector"],"vector_value":true,""" +
            s""""limit":${ids.size}}""").collect()
      }
      val bySearch = probes.map { d =>
        val req = Gen.Req(Gen.NoFilter, Seq(d.vec), None, K)
        val df = run.tr.span("api.search.plan") {
          fam.cat.search(Db, fam.name, fam.space, req.json)
        }
        run.tr.span("api.search.fetch") { df.collect() }
      }
      (byId, bySearch)
    }.foreach { case (byId, bySearch) =>
      val got = byId.map(r => r.getAs[String]("_id") -> r).toMap
      batch.foreach { d =>
        got.get(d.id) match {
          case None => run.wrong(s"acknowledged write ${d.id} not visible by id")
          case Some(r) =>
            run.check(r.getAs[Int]("field_int") == d.fieldInt,
              s"write ${d.id}: field_int ${r.getAs[Int]("field_int")} != ${d.fieldInt}")
            run.check(r.getAs[scala.collection.Seq[Float]]("field_vector") == d.vec.toSeq,
              s"write ${d.id}: stored vector differs from the written one")
        }
      }
      probes.zip(bySearch).foreach { case (d, hits) =>
        run.check(hits.exists(_.getAs[String]("_id") == d.id),
          s"acknowledged write ${d.id} not found by exact-vector search")
      }
    }
  }

  def timed(run: Run, seconds: Double): Double =
    closedLoop(seconds,
      Seq.fill(Searchers)((true, (_: Int) => {
        val i = next.getAndIncrement()
        fam.search(run, pool(i % pool.size), primary = true, withRecall = false)
      })) :+ ((false, (_: Int) => write(run))))

  def finish(run: Run): Unit = ()

  def storeRatio(run: Run): Double = {
    val written = nextBatch.get().toLong * BatchDocs / 2
    spaceBytes(fam.root, fam.name).toDouble /
      (fam.rawBytes + written * fam.docs.head.rawBytes)
  }
}

/** `dedup`: the near-duplicate operators over a stored corpus with
  * planted pairs, repeated in passes by one driver thread.
  */
final class DedupWorkload extends Workload {
  val N = 2000
  val Dim = 32
  val Parts = 4
  val Name = "corpus"
  val Ops: Seq[String] = Seq("jaccard", "containment", "minhash", "embed_knn")
  val requestKinds: Set[String] = Ops.map(o => s"operators.dedup.$o").toSet
  private var corpus: Gen.DedupCorpus = _
  private var cat: SpaceCatalog = _
  private var root: String = _
  private val firstOut = scala.collection.mutable.Map.empty[String, Set[(Long, Long)]]
  val pairsOut = scala.collection.mutable.Map.empty[String, Int]

  def setup(run: Run, rep: Int): Unit = {
    if (corpus == null) corpus = Gen.dedupCorpus(run.seed, 7, N, Dim)
    if (root != null) deleteTree(root)
    root = run.catalogRoot(s"catalog-rep$rep")
    cat = new SpaceCatalog(run.spark, root)
    cat.createDb(Db)
    val sp = Space.fromJson(Gen.dedupSpaceJson(Name, Dim, Parts))
    run.tr.span("schema.catalog.create_space") { cat.createSpace(Db, sp) }
    val batch = run.tr.span("api.ingest.conform") {
      Ingest.conform(Gen.dedupDF(run.spark, corpus.docs), sp)
    }
    run.tr.span("schema.catalog.bulk_upsert") { cat.upsert(Db, Name, batch, Parts) }
  }

  private def call(op: String): Set[(Long, Long)] = {
    val docs = cat.read(Db, Name)
    val out = op match {
      case "jaccard" =>
        Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      case "containment" =>
        Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      case "minhash" =>
        Dedup.minhashLshPairs(docs, "doc_id", "text", n = 3, numHashes = 64,
          bands = 16, threshold = 0.8)
      case "embed_knn" =>
        // nprobe = ncentroids: the exact operating point
        Dedup.embeddingNearDupKnn(docs, "doc_id", "embedding", threshold = 0.95,
          ncentroids = 16, nprobe = 16)
    }
    out.select(col("id_a"), col("id_b")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
  }

  private def pass(run: Run, primary: Boolean): Unit = {
    val outs = Ops.flatMap { op =>
      run.op(s"operators.dedup.$op", op, primary) { call(op) }.map(op -> _)
    }.toMap
    outs.foreach { case (op, got) =>
      if (primary) pairsOut(op) = got.size
      val planted = op match {
        case "jaccard"     => corpus.jaccard
        case "containment" => corpus.jaccard ++ corpus.containment
        case "embed_knn"   => corpus.embed
        case _             => Set.empty[(Long, Long)]
      }
      val missed = planted -- got
      run.check(missed.isEmpty,
        s"$op missed ${missed.size} of ${planted.size} planted pairs, e.g. ${missed.take(3)}")
      firstOut.get(op) match {
        case None => firstOut(op) = got
        case Some(first) =>
          run.check(first == got, s"$op output differs between passes " +
            s"(${first.size} vs ${got.size} pairs)")
      }
    }
    for (mh <- outs.get("minhash"); jac <- outs.get("jaccard"))
      run.check((mh -- jac).isEmpty,
        s"minhash returned ${(mh -- jac).size} pairs the exact jaccard did not")
  }

  // one untimed pass: the cold first pass runs ~2× slower than later ones
  def warmup(run: Run): Unit = pass(run, primary = false)

  def timed(run: Run, seconds: Double): Double =
    closedLoop(seconds, Seq((true, (_: Int) => pass(run, primary = true))))

  def finish(run: Run): Unit = ()

  def storeRatio(run: Run): Double =
    spaceBytes(root, Name).toDouble / Gen.dedupRawBytes(corpus.docs)
}
