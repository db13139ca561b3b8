package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** HNSW graph-ANN index, re-expressed for Spark's execution model.
  *
  * Reference capability: the hnswlib-backed HNSW index class
  * (internal/engine/index/impl/hnswlib/hnswalg.h, params `nlinks` /
  * `efConstruction` / `efSearch` — internal/engine/index/index_model.h),
  * where every space PARTITION owns an in-memory graph and a search fans
  * out to all partitions and k-way merges the per-partition top-k
  * (internal/router/client.go:1497-1576). The algorithm itself is from the
  * published paper: Malkov & Yashunin, "Efficient and robust approximate
  * nearest neighbor search using Hierarchical Navigable Small World
  * graphs" (TPAMI 2018) — Algorithms 1-5. This is an independent
  * implementation from the paper, not a translation of hnswlib.
  *
  * Spark-first mapping — the shard IS the storage row:
  *
  *  - build:  one deterministic shuffle (`groupByKey` on a hash-derived
  *    shard id) routes each vector to its shard; `mapGroups` builds the
  *    whole shard's graph in one task and emits it as a SINGLE row
  *    `(shard_id, entry, nodes[])`. A graph needs random access to its
  *    own nodes, so the serialized segment must never straddle a task
  *    boundary — one-row-per-shard makes that structural (a row cannot be
  *    split), exactly like the reference's per-partition index file.
  *  - search: `flatMap` over the segment table — each task deserializes
  *    its shard rows and runs the layered greedy search locally, emitting
  *    per-shard top-k; the global `orderBy(score).limit(k)` is Spark's
  *    TakeOrderedAndProject, the distributed analog of the reference's
  *    router k-way merge. No shuffle of the corpus, no cartesian.
  *
  * 100 TB design: shards are BOUNDED (`shardTargetRows`-sized via
  * `numShards`), so segment rows stay well under the 2 GB row limit and a
  * build task's graph fits executor memory; shard count grows with the
  * corpus while per-shard cost is constant. Search cost is
  * #shards × (segment read + sub-linear graph walk) — the same fan-out
  * the reference pays across partition servers, with batch queries
  * amortizing one segment read across the whole request
  * (`searchBatch`, = vearch `req_num`).
  *
  * Determinism (what makes the exactness twin oracle-checkable): node
  * levels derive from a hash of the node id (not an RNG stream), insertion
  * order is ids-ascending within a shard, and every heap/selection tie
  * breaks on the node index — so the built graph is a pure function of
  * (corpus, params). On top of that, layer 0 is made provably connected by
  * chaining consecutive insertions (degree +≤1 per node), which turns
  * `ef ≥ |shard|` search into an EXHAUSTIVE walk of layer 0: the exact
  * twin (`q_hnsw_exact`) is exact by construction, not by luck.
  */
object HnswIndex {

  /** Index parameters (reference `nlinks`/`efConstruction`,
    * index_model.h; `numShards` plays the role of the space's partition
    * count).
    */
  final case class Params(
      m: Int = 16,
      efConstruction: Int = 100,
      metric: String = "l2",
      numShards: Int = 4)

  /** One graph node as stored: `nbrs(l)` = neighbor LOCAL indices at
    * layer l (local = position in the segment's `nodes` array, so the
    * serialized form round-trips without an id lookup).
    */
  final case class Node(id: Long, vec: Array[Float], level: Int, nbrs: Array[Array[Int]])

  /** One serialized graph segment = one whole shard. `chain` records the
    * layer-0 connectivity edges ADDED by the post-build chain pass (the
    * local indices `i` whose (i-1, i) link did not arise from the search
    * wiring): [[appendSegment]] strips exactly these to recover the
    * pre-chain graph — the state a from-scratch build would be in before
    * its own final chain pass — which is what makes incremental append
    * bit-identical to a full rebuild.
    */
  final case class Segment(shard_id: Int, entry: Int, nodes: Array[Node],
      chain: Array[Int] = Array.empty) extends Sharded

  /** The segment row encoder, derived once: serving reads every
    * generation through it, and deriving it reflects over the row classes.
    */
  private[graft] lazy val segmentEncoder: org.apache.spark.sql.Encoder[Segment] =
    org.apache.spark.sql.Encoders.product[Segment]

  /** A graph family's segment row: one whole shard, routed by `shard_id`. */
  trait Sharded { def shard_id: Int }

  /** The parquet leaf column holding a graph layout's node ids, one value
    * per node (an empty segment counts one): its footer value count is
    * the layout's node count, read before anything is decoded.
    */
  private[graft] val NodeIds = "nodes.list.element.id"

  // ── scalar kernels ─────────────────────────────────────────────────────
  // Same accumulation order as graft.functions.VecKernels (Double
  // accumulator, ascending index) so reported scores are bit-identical to
  // the codegen'd expressions and the DuckDB oracle.

  private[operators] def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[operators] def l2sq(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  private[operators] def cosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) 0.0 else ab / d
  }

  /** Internal ranking distance: lower = closer, for every metric (ip and
    * cosine negate their similarity). L2 ranks on the SQUARED distance —
    * order-equivalent to sqrt and cheaper in the inner loop. The metric
    * is resolved once ([[rankKernel]]): walks and builds call the kernel
    * per visited pair, and a `(Array[Float], Array[Float]) => Double`
    * function value would box every distance it returns.
    */
  private[graft] abstract class RankKernel {
    def apply(a: Array[Float], b: Array[Float]): Double
  }

  private[graft] def rankKernel(metric: String): RankKernel = metric match {
    case "l2" | "l2sq" => (a, b) => l2sq(a, b)
    case "ip"          => (a, b) => -dot(a, b)
    case "cosine"      => (a, b) => -cosine(a, b)
    case other => throw new IllegalArgumentException(s"unknown metric: $other")
  }

  /** A binary heap of (rank distance, node index) pairs held in two
    * primitive arrays, ordered as `Ordering.Tuple2(Ordering.Double.
    * TotalOrdering, Ordering.Int)` orders the tuples (`Double.compare`,
    * then the index), with the greatest pair on top when `max` and the
    * least otherwise. The serving walk's candidate and result heaps: a
    * `PriorityQueue[(Double, Int)]` boxes a tuple per entry and a Double
    * per comparison. Pairs in one heap have distinct indexes, so the
    * order is total and the walk visits and returns what the tuple heaps
    * gave.
    */
  private final class PairHeap(max: Boolean) {
    private var ds = new Array[Double](16)
    private var is = new Array[Int](16)
    private var n = 0
    def size: Int = n
    def nonEmpty: Boolean = n > 0
    def clear(): Unit = n = 0
    def topD: Double = { if (n == 0) throw new NoSuchElementException("empty heap"); ds(0) }
    def topI: Int = { if (n == 0) throw new NoSuchElementException("empty heap"); is(0) }
    // whether slot a belongs above slot b
    private def above(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(ds(a), ds(b))
      val o = if (c != 0) c else Integer.compare(is(a), is(b))
      if (max) o > 0 else o < 0
    }
    private def swap(a: Int, b: Int): Unit = {
      val d = ds(a); ds(a) = ds(b); ds(b) = d
      val i = is(a); is(a) = is(b); is(b) = i
    }
    def push(d: Double, i: Int): Unit = {
      if (n == ds.length) {
        ds = java.util.Arrays.copyOf(ds, 2 * n); is = java.util.Arrays.copyOf(is, 2 * n)
      }
      ds(n) = d; is(n) = i
      var c = n
      n += 1
      while (c > 0 && above(c, (c - 1) >>> 1)) { swap(c, (c - 1) >>> 1); c = (c - 1) >>> 1 }
    }
    def pop(): Unit = {
      topD // throws on an empty heap, as PriorityQueue.dequeue does
      n -= 1
      ds(0) = ds(n); is(0) = is(n)
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1
        val r = l + 1
        var m = c
        if (l < n && above(l, m)) m = l
        if (r < n && above(r, m)) m = r
        if (m == c) done = true else { swap(c, m); c = m }
      }
    }
  }

  /** Reported score for a rank distance, matching [[Knn.score]]'s
    * conventions (l2 is sqrt'd; ip/cosine are the raw similarity).
    */
  private[operators] def reportScore(metric: String, d: Double): Double = metric match {
    case "l2"   => math.sqrt(d)
    case "l2sq" => d
    case _      => -d
  }

  def ascending(metric: String): Boolean = metric.startsWith("l2")

  /** Deterministic level for a node id (paper: `floor(-ln(U) * mL)`,
    * mL = 1/ln(M)). U comes from a 64-bit mix of the id, so the level is
    * a pure function of the id — rebuilds and re-shards can never flip
    * node levels.
    */
  private[graft] def levelOf(id: Long, mL: Double): Int = {
    val h = scala.util.hashing.byteswap64(id ^ 0x9e3779b97f4a7c15L)
    val u = ((h >>> 11).toDouble + 1.0) / 9007199254740992.0 // (0, 1], 2^53
    math.floor(-math.log(u) * mL).toInt
  }

  def shardOf(id: Long, numShards: Int): Int =
    math.floorMod(scala.util.hashing.byteswap64(id), numShards.toLong).toInt

  // ── in-task graph build (paper Algorithm 1; neighbor selection
  //    Algorithm 4 — the heuristic, which beats simple-closest on
  //    clustered data like the fixture's labeled mixture) ───────────────

  private[graft] def buildSegment(
      shardId: Int, sorted: Array[(Long, Array[Float])], p: Params): Segment =
    growSegment(shardId, None, sorted, p)

  /** Incremental add (the reference's background AddRTVecsToIndex loop,
    * vector_manager.cc:678, engine.cc:1084-1137): fold `adds` into an
    * existing segment WITHOUT rebuilding over the old vectors.
    *
    * Bit-identity contract: because node levels derive from the id hash
    * and insertion order is ids-ascending, appending ids GREATER than
    * every stored id continues the from-scratch insertion sequence
    * exactly — `appendSegment(buildSegment(old), new) ==
    * buildSegment(old ++ new)` node-for-node, edge-for-edge (the stored
    * `chain` edges are stripped first so insertions see the same
    * pre-chain graph the full build would have). Interleaved or repeated
    * ids (in-place updates) fall back to an in-task rebuild of this ONE
    * shard — same bound, same result, last write wins.
    */
  private[graft] def appendSegment(
      seg: Segment, adds: Array[(Long, Array[Float])], p: Params): Segment = {
    val sorted = adds.sortBy(_._1)
    val oldMax = if (seg.nodes.isEmpty) Long.MinValue else seg.nodes.last.id
    val monotone = sorted.nonEmpty && sorted.head._1 > oldMax &&
      sorted.indices.drop(1).forall(i => sorted(i)._1 > sorted(i - 1)._1)
    if (sorted.isEmpty) seg
    else if (monotone) growSegment(seg.shard_id, Some(seg), sorted, p)
    else {
      val merged = (seg.nodes.map(nd => nd.id -> nd.vec).toMap ++ sorted.toMap)
        .toArray.sortBy(_._1)
      growSegment(seg.shard_id, None, merged, p)
    }
  }

  /** Shared insertion core: from-scratch when `init` is None, a resumed
    * insertion sequence when it carries a stored segment (whose chain
    * edges are stripped so the walks see the exact pre-chain state).
    */
  private def growSegment(shardId: Int, init: Option[Segment],
      adds: Array[(Long, Array[Float])], p: Params): Segment = {
    val base = init.map(_.nodes).getOrElse(Array.empty[Node])
    val n = base.length + adds.length
    val mL = 1.0 / math.log(p.m.toDouble)
    val dist = rankKernel(p.metric)
    val ids = Array.tabulate(n)(i =>
      if (i < base.length) base(i).id else adds(i - base.length)._1)
    val vecs = Array.tabulate(n)(i =>
      if (i < base.length) base(i).vec else adds(i - base.length)._2)
    val levels = Array.tabulate(n)(i =>
      if (i < base.length) base(i).level else levelOf(ids(i), mL))
    val adj = Array.tabulate(n)(i =>
      if (i < base.length) base(i).nbrs.map(a => mutable.ArrayBuffer.from(a))
      else Array.fill(levels(i) + 1)(mutable.ArrayBuffer.empty[Int]))
    // strip the stored chain edges: they were applied AFTER the original
    // build, so the resumed insertions must not see them (a from-scratch
    // build wouldn't)
    init.foreach(_.chain.foreach { i =>
      adj(i)(0) -= (i - 1)
      adj(i - 1)(0) -= i
    })
    var entry = init.map(_.entry).getOrElse(0)
    // invariant: entry is the first node attaining the top level, so the
    // stored entry's level IS the current topLevel
    var topLevel =
      if (base.nonEmpty) base(entry).level
      else if (n > 0) levels(0) else -1

    // bounded best-first search at one layer (paper Algorithm 2).
    // Returns (dist, idx) pairs, closest-first. Ties break on idx so the
    // build (and therefore the stored graph) is deterministic.
    def searchLayer(q: Array[Float], eps: Seq[Int], ef: Int, lc: Int): mutable.ArrayBuffer[(Double, Int)] = {
      implicit val ord: Ordering[(Double, Int)] = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val visited = new java.util.BitSet(n)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse) // min-heap
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)          // max-heap
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val d = dist(q, vecs(e))
          cand.enqueue((d, e)); res.enqueue((d, e))
        }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        // with ef ≥ |shard| the result set can only be "full" once every
        // node is already in it, so this bound never stops an exhaustive
        // walk early — the exactness-twin guarantee
        if (dc > res.head._1 && res.size >= ef) { cand.clear() }
        else {
          val nb = adj(c)(lc)
          var i = 0
          while (i < nb.length) {
            val e = nb(i)
            if (!visited.get(e)) {
              visited.set(e)
              val d = dist(q, vecs(e))
              if (res.size < ef || d < res.head._1 ||
                  (d == res.head._1 && e < res.head._2)) {
                cand.enqueue((d, e)); res.enqueue((d, e))
                if (res.size > ef) res.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      out ++= res
      out.sortInPlace()
      out
    }

    // heuristic neighbor selection (paper Algorithm 4): take a candidate
    // only if it is closer to the base than to every already-selected
    // neighbor — spreads edges across clusters instead of piling onto one
    def selectNeighbors(cands: mutable.ArrayBuffer[(Double, Int)], m: Int): Array[Int] = {
      val picked = mutable.ArrayBuffer.empty[(Double, Int)]
      var i = 0
      while (i < cands.length && picked.length < m) {
        val (dc, c) = cands(i)
        var ok = true
        var j = 0
        while (ok && j < picked.length) {
          if (dist(vecs(c), vecs(picked(j)._2)) < dc) ok = false
          j += 1
        }
        if (ok) picked += ((dc, c))
        i += 1
      }
      picked.map(_._2).toArray
    }

    // resumed runs start where the stored insertion sequence left off;
    // from-scratch runs at 1 (node 0 is the seed)
    var i = math.max(1, base.length)
    while (i < n) {
      val q = vecs(i)
      val l = levels(i)
      var ep = entry
      var lc = topLevel
      // zoom down through the upper layers with a greedy ef=1 walk
      while (lc > l) {
        val w = searchLayer(q, Seq(ep), 1, lc)
        ep = w.head._2
        lc -= 1
      }
      var eps = Seq(ep)
      lc = math.min(topLevel, l)
      while (lc >= 0) {
        val w = searchLayer(q, eps, p.efConstruction, lc)
        val mMax = if (lc == 0) 2 * p.m else p.m
        val sel = selectNeighbors(w, p.m)
        adj(i)(lc) ++= sel
        sel.foreach { e =>
          adj(e)(lc) += i
          if (adj(e)(lc).length > mMax) {
            val ranked = adj(e)(lc).map(x => (dist(vecs(e), vecs(x)), x)).sorted
            val kept = selectNeighbors(ranked, mMax)
            adj(e)(lc).clear()
            adj(e)(lc) ++= kept
          }
        }
        eps = w.map(_._2).toSeq
        lc -= 1
      }
      if (l > topLevel) { topLevel = l; entry = i }
      i += 1
    }

    // connectivity chain: link consecutive insertions at layer 0 when the
    // search-based wiring left them unlinked (degree +≤1 per node). This
    // makes layer 0 connected BY CONSTRUCTION, so ef ≥ |shard| search
    // provably visits every node — the exactness twin needs no luck. The
    // added pairs are RECORDED so a later append can strip them.
    val chain = mutable.ArrayBuffer.empty[Int]
    i = 1
    while (i < n) {
      if (!adj(i)(0).contains(i - 1) && !adj(i - 1)(0).contains(i)) {
        adj(i)(0) += (i - 1)
        adj(i - 1)(0) += i
        chain += i
      }
      i += 1
    }

    Segment(shardId, entry,
      Array.tabulate(n)(j => Node(ids(j), vecs(j), levels(j),
        adj(j).map(_.toArray))),
      chain.toArray)
  }

  /** Build the segment table: ONE deterministic shuffle routes vectors to
    * shards; each shard's graph is built in a single task and stored as a
    * single row. Output columns: (shard_id, entry, nodes).
    */
  def build(df: DataFrame, idCol: String, vecCol: String, p: Params): Dataset[Segment] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => shardOf(id, p.numShards) }
      .mapGroups { (sid, it) =>
        // ids-ascending insertion order: the graph is a pure function of
        // (corpus, params), independent of upstream partitioning
        buildSegment(sid, it.toArray.sortBy(_._1), p)
      }
  }

  /** Incremental add over the hash-sharded segment table (the
    * reference's background Indexing loop folds ONLY new vectors,
    * engine.cc:1084-1137, AddRTVecsToIndex vector_manager.cc:678): the
    * delta shuffles to its shards, untouched shards pass through
    * UNCHANGED (no deserialization, no rebuild), touched shards run
    * [[appendSegment]] — cost ∝ |delta| + touched-shard sizes, never the
    * corpus. Monotone new ids (the ingest common case) produce a table
    * bit-identical to a full rebuild over old ∪ new; interleaved/updated
    * ids rebuild only their own shard in-task (same result, last write
    * wins).
    */
  def append(segments: Dataset[Segment], delta: DataFrame, idCol: String,
      vecCol: String, p: Params): Dataset[Segment] = {
    val spark = segments.sparkSession
    import spark.implicits._
    val newRows = delta
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => shardOf(id, p.numShards) }
    segments.groupByKey(_.shard_id).cogroup(newRows) { (sid, segIt, addIt) =>
      val adds = addIt.toArray.sortBy(_._1)
      val segs = segIt.toList
      if (adds.isEmpty) segs.iterator
      else segs match {
        case Nil        => Iterator.single(buildSegment(sid, adds, p))
        case seg :: Nil => Iterator.single(appendSegment(seg, adds, p))
        case _ => throw new IllegalStateException(
          s"shard $sid holds ${segs.size} segment rows; append supports " +
            "one-row-per-shard (hash) layouts — rebuild clustered layouts")
      }
    }
  }

  /** Search one deserialized segment (paper Algorithm 5): greedy ef=1
    * descent through the upper layers, then a bounded ef search at
    * layer 0. Returns up to k (id, reportedScore), best-first.
    *
    * `allow` is the reference's filtered-search contract (hnswlib's
    * BaseFilterFunctor, wired from the scalar-filter bitmap in
    * gamma_index_hnswlib.cc): disallowed nodes are still TRAVERSED (they
    * carry the graph's connectivity) but never admitted to the result
    * set — so the exhaustive-walk exactness argument survives filtering
    * unchanged.
    *
    * `band` is the score gate ([lo, hi] on the REPORTED score,
    * doc_query.go:67-78) threaded into the RESULT heap the same way:
    * out-of-band nodes are traversed but never admitted, so the walk's
    * termination bound becomes the worst IN-BAND result and the beam
    * naturally extends past a selective gate's excluded head — the
    * returned rows are the gated ranking's own prefix, and the caller's
    * depth-doubling gate loop converges on its first probe instead of
    * re-paying the walk per doubling. Gate-driven beam extension is
    * CAPPED (8×effEf visited): past it the segment brute
    * gate-before-selects — same exact result, bounded cost under an
    * adversarial never-fills gate.
    */
  private[graft] def searchSegment(
      seg: Segment, q: Array[Float], k: Int, ef: Int, metric: String,
      allow: Long => Boolean = _ => true,
      band: Option[(Double, Double)] = None): Array[(Long, Double)] = {
    val n = seg.nodes.length
    if (n == 0) return Array.empty
    val dist = rankKernel(metric)
    // admission gate in the rank-distance domain via the reported score
    // (monotone per metric), evaluated only when a band is set
    val admit: (Long, Double) => Boolean = band match {
      case Some((lo, hi)) => (id, d) => {
        val s = reportScore(metric, d); allow(id) && s >= lo && s <= hi
      }
      case None => (id, _) => allow(id)
    }
    var ep = seg.entry
    var lc = seg.nodes(seg.entry).level
    var dEp = dist(q, seg.nodes(ep).vec)
    while (lc > 0) {
      // greedy descent: move to the closest neighbor until a local minimum
      var moved = true
      while (moved) {
        moved = false
        val nb = seg.nodes(ep).nbrs(lc)
        var i = 0
        while (i < nb.length) {
          val d = dist(q, seg.nodes(nb(i)).vec)
          if (d < dEp) { dEp = d; ep = nb(i); moved = true }
          i += 1
        }
      }
      lc -= 1
    }

    val effEf = math.max(ef, k)
    // A band selective enough that the result heap never fills keeps
    // every unvisited node explorable, so the walk degrades to an
    // exhaustive traversal of the whole component — an adversarial (or
    // typo'd) gate triggers that at will (advisor r18). Bound the
    // gate-driven beam extension: past `visitCap` visited nodes the walk
    // abandons the graph and brute gate-before-selects the SEGMENT —
    // exact (it IS the segment's gated ranking, the per-segment contract
    // the distributed merge and the gate loop's exhaustion test need)
    // and strictly cheaper than finishing the exhaustive walk (one
    // linear distance pass, no queue ops). Ungated walks are unaffected.
    val visitCap = if (band.isDefined) math.max(64, 8 * effEf) else Int.MaxValue
    var nVisited = 1
    var capped = false
    val visited = new java.util.BitSet(n)
    val cand = new PairHeap(max = false)
    val res = new PairHeap(max = true)
    visited.set(ep)
    cand.push(dEp, ep)
    if (admit(seg.nodes(ep).id, dEp)) res.push(dEp, ep)
    while (cand.nonEmpty && !capped) {
      if (nVisited > visitCap) capped = true
      else {
        val dc = cand.topD
        val c = cand.topI
        cand.pop()
        if (res.size >= effEf && dc > res.topD) cand.clear()
        else {
          val nb = seg.nodes(c).nbrs(0)
          var i = 0
          while (i < nb.length) {
            val e = nb(i)
            if (!visited.get(e)) {
              visited.set(e)
              nVisited += 1
              val d = dist(q, seg.nodes(e).vec)
              // traversal admission: until the ADMITTED result set fills,
              // every unvisited node stays explorable (disallowed and
              // out-of-band nodes carry connectivity); once full, only
              // improving nodes do
              if (res.size < effEf || d < res.topD ||
                  (d == res.topD && e < res.topI)) {
                cand.push(d, e)
                if (admit(seg.nodes(e).id, d)) {
                  res.push(d, e)
                  if (res.size > effEf) res.pop()
                }
              }
            }
            i += 1
          }
        }
      }
    }
    val top =
      if (capped) {
        implicit val ord: Ordering[(Double, Int)] =
          Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
        bruteGated(q, n, seg.nodes(_).vec, k, dist, i => admit(seg.nodes(i).id, _))
      } else {
        // popping the max-heap yields the pairs greatest first
        val m = res.size
        val sorted = new Array[(Double, Int)](m)
        var j = m - 1
        while (j >= 0) { sorted(j) = (res.topD, res.topI); res.pop(); j -= 1 }
        sorted.take(k)
      }
    top.map { case (d, idx) => (seg.nodes(idx).id, reportScore(metric, d)) }
  }

  /** Exact gate-before-select over one segment's node vectors: the
    * fallback a cap-fired banded walk switches to. One linear distance
    * pass + a k-bounded heap — the segment's true gated top-k.
    */
  private[graft] def bruteGated(q: Array[Float], n: Int, vecAt: Int => Array[Float],
      k: Int, dist: RankKernel,
      admitAt: Int => Double => Boolean)(
      implicit ord: Ordering[(Double, Int)]): Array[(Double, Int)] = {
    val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
    var i = 0
    while (i < n) {
      val d = dist(q, vecAt(i))
      if (admitAt(i)(d)) {
        res.enqueue((d, i))
        if (res.size > k) res.dequeue()
      }
      i += 1
    }
    res.toArray.sorted.take(k)
  }

  /** Clustered sharding: shards are COARSE-QUANTIZER lists (the trained
    * IVF model's `list_id`), not id-hash buckets — the SPANN architecture
    * (Chen et al., "SPANN: Highly-efficient Billion-scale Approximate
    * Nearest Neighbor Search", NeurIPS 2021: centroid-routed partitions,
    * each searched by an in-memory index). At fleet scale this answers
    * the fan-out question: a query routes to `nprobe` shards instead of
    * all of them, and because the segment table is written
    * `partitionBy(shard_id)`, the route is parquet PARTITION PRUNING —
    * (ncentroids − nprobe)/ncentroids of the segment IO never happens.
    * The reference's own HNSW searches every partition; this composition
    * is strictly stronger and stays exact at nprobe = ncentroids.
    */
  def buildClustered(df: DataFrame, idCol: String, vecCol: String, p: Params,
      ivf: IvfIndex.Model, maxShardRows: Int = 1 << 20): Dataset[Segment] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxShardRows > 0)
    val assigned = IvfIndex.assign(
      df.select(col(idCol).cast("long").as(idCol), col(vecCol).cast("array<float>").as(vecCol))
        .filter(col(vecCol).isNotNull), vecCol, ivf)
      .select(col("list_id").cast("int"), col(idCol), col(vecCol))
      .as[(Int, Long, Array[Float])]
    // skew guard (SPANN splits over-long posting lists the same way): a
    // hot list is built as SEVERAL bounded sub-segments under the SAME
    // shard_id. Pass 1 derives per-list sub-shard counts from a
    // map-side-combined count (ncentroids rows on the driver, never
    // data); pass 2 salts the group key by a deterministic id-hash, so
    // BOTH the segment row and the build task's memory stay
    // ~maxShardRows-bounded under any cluster skew. Every row remains a
    // complete walkable graph, the centroid route still prunes on
    // shard_id, and the union of exhaustive sub-walks IS the exhaustive
    // list walk — exactness survives the split.
    val subs = assigned.groupByKey(_._1).count().collect()
      .map { case (l, c) =>
        l -> math.max(1L, (c + maxShardRows - 1) / maxShardRows).toInt }
      .toMap
    val subsB = spark.sparkContext.broadcast(subs)
    assigned
      .groupByKey { case (l, id, _) =>
        (l, math.floorMod(scala.util.hashing.byteswap64(id), subsB.value(l).toLong).toInt)
      }
      .mapGroups { (key, it) =>
        buildSegment(key._1, it.map(t => (t._2, t._3)).toArray.sortBy(_._1), p)
      }
  }

  /** Incremental add for the CLUSTERED layout: the delta assigns to its
    * lists through the SAME stored quantizer and each touched list gains
    * a fresh, self-contained sub-segment ROW — the posting-list append
    * (SPANN posting lists grow the same way; the reference's background
    * loop appends new vectors without rebuilding,
    * engine.cc:1084-1137). Existing rows are untouched (parquet append
    * into the shard_id partition dirs), routed search already unions
    * every row under a probed shard_id, and each row is a complete
    * walkable graph — so exactness at the full route is preserved by
    * construction. Cost ∝ |delta|; many appends accumulate small
    * sub-segments per list — a rebuild (force-merge) compacts them, the
    * same hygiene the reference's optimize pass performs.
    * Returns the new sub-segment rows (caller appends them to storage).
    */
  def appendClustered(delta: DataFrame, idCol: String, vecCol: String,
      p: Params, ivf: IvfIndex.Model, maxShardRows: Int = 1 << 20): Dataset[Segment] = {
    val spark = delta.sparkSession
    import spark.implicits._
    val assigned = IvfIndex.assign(
      delta.select(col(idCol).cast("long").as(idCol),
          col(vecCol).cast("array<float>").as(vecCol))
        .filter(col(vecCol).isNotNull), vecCol, ivf)
      .select(col("list_id").cast("int"), col(idCol), col(vecCol))
      .as[(Int, Long, Array[Float])]
    // same two-pass skew guard as buildClustered: a hot list's delta
    // splits into several bounded sub-segments under its shard_id
    val subs = assigned.groupByKey(_._1).count().collect()
      .map { case (l, c) =>
        l -> math.max(1L, (c + maxShardRows - 1) / maxShardRows).toInt }
      .toMap
    val subsB = spark.sparkContext.broadcast(subs)
    assigned
      .groupByKey { case (l, id, _) =>
        (l, math.floorMod(scala.util.hashing.byteswap64(id), subsB.value(l).toLong).toInt)
      }
      .mapGroups { (key, it) =>
        buildSegment(key._1, it.map(t => (t._2, t._3)).toArray.sortBy(_._1), p)
      }
  }

  /** Routed search over a clustered-shard segment table: the driver's
    * tiny quantizer search picks `nprobe` shards and the `shard_id`
    * filter prunes the rest BEFORE any IO (see [[buildClustered]]);
    * the surviving shards run the ordinary walk + merge. Exact when
    * nprobe = ncentroids and `ef ≥ max shard size`.
    */
  def searchRouted(segments: Dataset[Segment], ivf: IvfIndex.Model,
      q: Seq[Float], k: Int, ef: Int, metric: String, nprobe: Int,
      roundTo: Option[Int] = None, deny: Set[Long] = Set.empty): DataFrame = {
    val lists = ivf.nearestCentroids(q, nprobe)
    search(segments.filter(col("shard_id").isin(lists: _*)), q, k, ef,
      metric, roundTo, deny)
  }

  /** Single-query search: [[searchBatch]] over one query (qid 0), whose
    * merge is then Spark's TakeOrderedAndProject. `ef ≥ max shard size` ⇒
    * exact (see class doc). Output: (vec_id, _score), best-first.
    *
    * `deny` is the DELETE gate (the reference's deleted-bitmap check,
    * IsValid = candidate ∧ ¬deleted — engine.cc:869-899,
    * gamma_common_data.h:94-105): denied nodes are traversed (they still
    * carry connectivity) but never admitted, so the walk returns k LIVE
    * hits — no ghost results, no under-filled response. The set is the
    * delete ledger since this generation (bounded by one rebuild
    * interval).
    *
    * `allow` is the hybrid scalar + HNSW path: the scalar predicate's
    * surviving ids ride a broadcast into the walk, as the reference wires
    * its scalar-filter bitmap into the hnswlib filter functor
    * (gamma_index_hnswlib.cc). Disallowed nodes are traversed but never
    * returned, so `ef ≥ |shard|` stays provably exact under ANY filter.
    * Use it for SELECTIVE filters — a broad filter is better served by
    * filter-first brute force ([[Knn.search]] with `filter`), the planner
    * switch the reference makes (engine.cc:355-373).
    */
  def search(segments: Dataset[Segment], q: Seq[Float], k: Int, ef: Int,
      metric: String, roundTo: Option[Int] = None,
      deny: Set[Long] = Set.empty,
      band: Option[(Double, Double)] = None,
      allow: Option[Set[Long]] = None): DataFrame = {
    val top = searchBatch(segments, Seq(0L -> q), k, ef, metric, deny, allow,
      band).drop("_qid")
    roundTo.map(d => top.withColumn("_score", round(col("_score"), d))).getOrElse(top)
  }

  /** Batched search (vearch `req_num`): every query walks each segment in
    * the SAME task pass — one segment deserialization amortized across the
    * whole batch — then [[fanOut]]'s per-query merge. Output: (_qid,
    * vec_id, _score), best-first within each qid. `allowIds` is the
    * batch's shared scalar-filter allow-set (see [[search]]).
    */
  def searchBatch(segments: Dataset[Segment], queries: Seq[(Long, Seq[Float])],
      k: Int, ef: Int, metric: String, deny: Set[Long] = Set.empty,
      allowIds: Option[Set[Long]] = None,
      band: Option[(Double, Double)] = None): DataFrame =
    fanOut(segments.sparkSession, None, segments, queries, k, metric,
      admission(segments.sparkSession, allowIds, deny)) { (seg, q, admit) =>
      searchSegment(seg, q, k, ef, metric, admit, band)
    }

  /** A graph walk's admission gate: the allow-set minus the deny set
    * (members admitted), or the deny set alone (members refused).
    */
  private[graft] final case class Admission(ids: Set[Long], allowList: Boolean) {
    def admits(id: Long): Boolean = ids.contains(id) == allowList
  }

  /** A walk's [[Admission]] (None when there is neither an allow-set nor
    * a deny set) and its broadcast, made on first use: only a Spark
    * fan-out ships the gate to the executors, and callers that retry a
    * walk at growing depths build this once, outside the retried closure,
    * so it is broadcast at most once.
    */
  private[graft] final class Admit(spark: org.apache.spark.sql.SparkSession,
      val gate: Option[Admission]) {
    lazy val broadcast: Option[org.apache.spark.broadcast.Broadcast[Admission]] =
      gate.map(spark.sparkContext.broadcast(_))
  }

  private[graft] def admission(spark: org.apache.spark.sql.SparkSession,
      allow: Option[Set[Long]], deny: Set[Long]): Admit =
    new Admit(spark, allow.map(a => Admission(a -- deny, allowList = true))
      .orElse(if (deny.isEmpty) None else Some(Admission(deny, allowList = false))))

  /** The fan-out every graph family searches through: every query walks
    * every segment with the family's `walk(segment, query, admit)`, and
    * each query keeps its top `k` — the analog of the reference's router
    * k-way merge over partitions (client.go:1497-1576). Output: (_qid,
    * vec_id, _score).
    *
    * Two arms, one result. With the layout's decoded segments `resident`
    * on the driver, the walks run on the calling thread and each query's
    * hits are ranked in [[Knn.topKPerQuery]]'s order (score, then
    * `vec_id` ascending; one query compares scores as Spark's sort does,
    * a batch as TopKAgg does), returned as a local relation: no Spark
    * job, no broadcast. Otherwise each `segments` row's task walks every
    * query (no shuffle of the corpus) and [[Knn.topKPerQuery]] merges the
    * per-segment lists; only this arm broadcasts the admission.
    */
  private[graft] def fanOut[S](spark: org.apache.spark.sql.SparkSession,
      resident: Option[Seq[S]], segments: => Dataset[S],
      queries: Seq[(Long, Seq[Float])], k: Int, metric: String, admit: Admit)(
      walk: (S, Array[Float], Long => Boolean) => Array[(Long, Double)])
      : DataFrame = {
    val qs = queries.map { case (qid, v) => (qid, v.toArray) }.toArray
    resident match {
      case Some(segs) =>
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.types._
        val allow: Long => Boolean = admit.gate.fold((_: Long) => true)(_.admits)
        val score: (Double, Double) => Int =
          if (qs.length <= 1) org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
          else java.lang.Double.compare
        val sign = if (ascending(metric)) 1 else -1
        val rank: Ordering[(Long, Double)] = (a, b) => {
          val c = sign * score(a._2, b._2)
          if (c != 0) c else java.lang.Long.compare(a._1, b._1)
        }
        val rows = qs.toSeq.flatMap { case (qid, qa) =>
          segs.flatMap(walk(_, qa, allow)).sorted(rank).take(k)
            .map { case (id, s) => InternalRow(qid, id, s) }
        }
        val schema = StructType(Seq(StructField("_qid", LongType, nullable = false),
          StructField("vec_id", LongType, nullable = false),
          StructField("_score", DoubleType, nullable = false)))
        org.apache.spark.sql.graft.Bridge.ofRows(spark,
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
            org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
      case None =>
        import spark.implicits._
        val bc = admit.broadcast
        val hits = segments.flatMap { seg =>
          val allow: Long => Boolean = bc match {
            case Some(b) => val a = b.value; a.admits
            case None => _ => true
          }
          qs.iterator.flatMap { case (qid, qa) =>
            walk(seg, qa, allow).iterator.map { case (id, s) => (qid, id, s) }
          }
        }.toDF("_qid", "vec_id", "_score")
        Knn.topKPerQuery(hits, qs.length, k, ascending(metric))
    }
  }
}
