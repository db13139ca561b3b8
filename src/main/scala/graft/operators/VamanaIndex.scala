package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** DiskANN-static (Vamana) graph index, re-expressed for Spark.
  *
  * Reference capability: the DiskANN-backed static index class
  * (internal/engine/index/impl/diskann/gamma_index_diskann_static.cc,
  * params `R`/`L`/`beam_width` — diskann_static_params.h:8-25, search
  * params `l_search`/`beam_width` :27-38). The algorithm itself is from
  * the published paper: Subramanya et al., "DiskANN: Fast Accurate
  * Billion-point Nearest Neighbor Search on a Single Node" (NeurIPS
  * 2019) — the Vamana graph (GreedySearch + RobustPrune with the α
  * relaxation) and beam search from the medoid. This is an independent
  * implementation from the paper, not a translation of the DiskANN
  * library.
  *
  * What distinguishes the family from HNSW (and why it earns its own
  * operator rather than a re-skin): a single FLAT graph (no layer
  * hierarchy) whose α-RNG robust pruning keeps long-range edges, entry
  * at the dataset medoid, and a beam-width search loop that expands W
  * frontier nodes per round — the knob that batches SSD reads in the
  * paper's disk-resident setting. Here the "SSD" is the parquet segment
  * row: the graph lives columnar-at-rest and is deserialized per task,
  * the same storage-resident posture (the reference holds it as a
  * DiskANN file; we hold it as a table).
  *
  * Spark mapping — identical segment-row machinery to [[HnswIndex]]:
  * one shard = one serialized graph = one storage row; build is one
  * deterministic shuffle + `mapGroups`; search is `flatMap` + global
  * TakeOrderedAndProject merge. 100 TB posture: `numShards` ∝ corpus
  * bounds per-task graph memory; fan-out is one task per shard.
  *
  * Determinism + the exactness twin: insertion order is ids-ascending,
  * the medoid is the node nearest the shard centroid (ties on index),
  * and every heap/prune tie breaks on node index — the graph is a pure
  * function of (corpus, params). A consecutive-id connectivity chain
  * (i ↔ i+1, re-asserted AFTER pruning, degree +≤2 over R) makes every
  * segment connected BY CONSTRUCTION, so `l ≥ |shard|` beam search is
  * an exhaustive walk and the exact twin (`q_diskann_exact`) is exact
  * by construction — the same device [[HnswIndex]] uses.
  */
object VamanaIndex {

  /** Build parameters (reference diskann_static_params.h:8-25: `R` max
    * degree, `L` build candidate-list size; α is the paper's RNG
    * relaxation, fixed 1.2 there).
    */
  final case class Params(
      r: Int = 64,
      l: Int = 100,
      alpha: Double = 1.2,
      metric: String = "l2",
      numShards: Int = 4)

  /** One graph node as stored: `nbrs` = neighbor LOCAL indices. */
  final case class VNode(id: Long, vec: Array[Float], nbrs: Array[Int])

  /** One serialized Vamana segment = one whole shard; `medoid` is the
    * local index of the entry node.
    */
  final case class Segment(shard_id: Int, medoid: Int, nodes: Array[VNode])
      extends HnswIndex.Sharded

  /** The segment row encoder, derived once (see [[HnswIndex.segmentEncoder]]). */
  private[graft] lazy val segmentEncoder: org.apache.spark.sql.Encoder[Segment] =
    org.apache.spark.sql.Encoders.product[Segment]

  def ascending(metric: String): Boolean = HnswIndex.ascending(metric)

  // ── in-task build (paper Algorithm 3: two passes of GreedySearch +
  //    RobustPrune, α = 1 then α = p.alpha) ─────────────────────────────

  private[graft] def buildSegment(
      shardId: Int, sorted: Array[(Long, Array[Float])], p: Params): Segment = {
    val n = sorted.length
    val vecs = Array.tabulate(n)(i => sorted(i)._2)
    val adj = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    if (n == 0) return Segment(shardId, 0, Array.empty)
    val dist = HnswIndex.rankKernel(p.metric)

    // initial graph: the consecutive-id chain — connected from the first
    // moment, so pass-1 greedy searches can reach every node
    var i = 1
    while (i < n) { adj(i) += (i - 1); adj(i - 1) += i; i += 1 }

    // medoid ≈ the node nearest the shard centroid (the paper enters at
    // the dataset medoid; the centroid proxy is O(n·d) and deterministic)
    val dim = vecs(0).length
    val centroid = new Array[Float](dim)
    i = 0
    while (i < n) {
      var j = 0
      val v = vecs(i)
      val m = math.min(dim, v.length)
      while (j < m) { centroid(j) += v(j) / n; j += 1 }
      i += 1
    }
    var medoid = 0
    var bestD = Double.MaxValue
    i = 0
    while (i < n) {
      val d = HnswIndex.l2sq(vecs(i), centroid)
      if (d < bestD) { bestD = d; medoid = i }
      i += 1
    }

    implicit val ord: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

    // GreedySearch (paper Algorithm 1): best-first from the medoid with
    // an L-bounded result list; returns the VISITED set ordered by
    // distance — the candidate pool RobustPrune consumes
    def greedyVisited(q: Array[Float], l: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.BitSet(n)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      val d0 = dist(q, vecs(medoid))
      visited.set(medoid)
      cand.enqueue((d0, medoid)); res.enqueue((d0, medoid)); out += ((d0, medoid))
      while (cand.nonEmpty) {
        val (dc, c) = cand.dequeue()
        if (res.size >= l && dc > res.head._1) cand.clear()
        else {
          val nb = adj(c)
          var k = 0
          while (k < nb.length) {
            val e = nb(k)
            if (!visited.get(e)) {
              visited.set(e)
              val d = dist(q, vecs(e))
              if (res.size < l || d < res.head._1 ||
                  (d == res.head._1 && e < res.head._2)) {
                cand.enqueue((d, e)); out += ((d, e))
                res.enqueue((d, e))
                if (res.size > l) res.dequeue()
              }
            }
            k += 1
          }
        }
      }
      out.sortInPlace()
      out
    }

    // RobustPrune (paper Algorithm 2): take the closest candidate, drop
    // every remaining one that is α-times closer to IT than to the base
    def robustPrune(base: Int, cands: mutable.ArrayBuffer[(Double, Int)],
        alpha: Double, r: Int): Array[Int] = {
      val pool = cands.filter(_._2 != base).distinctBy(_._2).sorted
      val picked = mutable.ArrayBuffer.empty[Int]
      val alive = Array.fill(pool.length)(true)
      var a = 0
      while (a < pool.length && picked.length < r) {
        if (alive(a)) {
          val (_, c) = pool(a)
          picked += c
          var b = a + 1
          while (b < pool.length) {
            if (alive(b)) {
              val (dPB, cb) = pool(b)
              if (alpha * dist(vecs(c), vecs(cb)) <= dPB) alive(b) = false
            }
            b += 1
          }
        }
        a += 1
      }
      picked.toArray
    }

    var pass = 0
    while (pass < 2) {
      val alpha = if (pass == 0) 1.0 else p.alpha
      i = 0
      while (i < n) {
        val pool = greedyVisited(vecs(i), p.l)
        pool ++= adj(i).map(e => (dist(vecs(i), vecs(e)), e)) // keep current edges prunable
        val pruned = robustPrune(i, pool, alpha, p.r)
        adj(i).clear(); adj(i) ++= pruned
        var k = 0
        while (k < pruned.length) {
          val e = pruned(k)
          if (!adj(e).contains(i)) {
            adj(e) += i
            if (adj(e).length > p.r) {
              val epool = adj(e).map(x => (dist(vecs(e), vecs(x)), x))
              val kept = robustPrune(e, epool, alpha, p.r)
              adj(e).clear(); adj(e) ++= kept
            }
          }
          k += 1
        }
        i += 1
      }
      pass += 1
    }

    // re-assert the chain AFTER pruning (degree +≤2 over R): the segment
    // stays connected by construction — the l ≥ |shard| exactness device
    i = 1
    while (i < n) {
      if (!adj(i).contains(i - 1) && !adj(i - 1).contains(i)) {
        adj(i) += (i - 1); adj(i - 1) += i
      }
      i += 1
    }

    Segment(shardId, medoid,
      Array.tabulate(n)(j => VNode(sorted(j)._1, vecs(j), adj(j).toArray)))
  }

  /** Build the segment table — same one-shuffle shape as
    * [[HnswIndex.build]].
    */
  def build(df: DataFrame, idCol: String, vecCol: String, p: Params): Dataset[Segment] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .filter(col(vecCol).isNotNull)
      .as[(Long, Array[Float])]
      .groupByKey { case (id, _) => HnswIndex.shardOf(id, p.numShards) }
      .mapGroups { (sid, it) => buildSegment(sid, it.toArray.sortBy(_._1), p) }
  }

  /** Build a CLUSTERED (SPANN-routed) Vamana segment table: shards = the
    * coarse quantizer's lists instead of id hashes, so query-time routing
    * prunes `shard_id` partitions BEFORE any segment IO — the same layout
    * [[HnswIndex.buildClustered]] gives the graph family, applied to the
    * storage-resident family that needs partition-pruned IO most at
    * 100 TB (the reference's DiskANN class exists to serve from disk).
    * Same two-pass skew guard: a hot list builds as several bounded
    * sub-segments under ONE shard_id (each a complete walkable graph;
    * routed search unions every row under a probed shard, so exactness
    * survives the split).
    */
  def buildClustered(df: DataFrame, idCol: String, vecCol: String, p: Params,
      ivf: IvfIndex.Model, maxShardRows: Int = 1 << 20): Dataset[Segment] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(maxShardRows > 0)
    val assigned = IvfIndex.assign(
      df.select(col(idCol).cast("long").as(idCol),
          col(vecCol).cast("array<float>").as(vecCol))
        .filter(col(vecCol).isNotNull), vecCol, ivf)
      .select(col("list_id").cast("int"), col(idCol), col(vecCol))
      .as[(Int, Long, Array[Float])]
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

  /** Routed search over a clustered-shard Vamana table: the driver's tiny
    * quantizer search picks `nprobe` shards and the `shard_id` filter is
    * parquet PARTITION PRUNING over the `partitionBy(shard_id)` layout —
    * pruned segments' IO never happens. Exact when nprobe = ncentroids
    * and `l ≥ max shard size` (the connectivity-chain device).
    */
  def searchRouted(segments: Dataset[Segment], ivf: IvfIndex.Model,
      q: Seq[Float], k: Int, l: Int, beamWidth: Int = 4, metric: String = "l2",
      nprobe: Int = 1, roundTo: Option[Int] = None,
      deny: Set[Long] = Set.empty): DataFrame = {
    val lists = ivf.nearestCentroids(q, nprobe)
    search(segments.filter(col("shard_id").isin(lists: _*)), q, k, l,
      beamWidth, metric, roundTo, deny)
  }

  /** Beam search over one deserialized segment (paper's search with the
    * reference's `l_search`/`beam_width` surface,
    * diskann_static_params.h:27-38): best-first from the medoid with an
    * l-bounded result list, expanding up to `beamWidth` frontier nodes
    * per round (the IO-batching knob in the disk-resident original; here
    * it shapes traversal order only). `allow` is the delete-gate /
    * filter functor — traversed, never admitted, exactly like
    * [[HnswIndex.searchSegment]], so `l ≥ |shard|` stays provably exact
    * under any gate.
    */
  private[graft] def searchSegment(
      seg: Segment, q: Array[Float], k: Int, l: Int, beamWidth: Int,
      metric: String, allow: Long => Boolean = _ => true,
      band: Option[(Double, Double)] = None): Array[(Long, Double)] = {
    val n = seg.nodes.length
    if (n == 0) return Array.empty
    val dist = HnswIndex.rankKernel(metric)
    // score-gate admission into the RESULT list only (see
    // [[HnswIndex.searchSegment]]'s band contract): out-of-band nodes
    // keep carrying connectivity, the beam extends past the gate
    val admit: (Long, Double) => Boolean = band match {
      case Some((lo, hi)) => (id, d) => {
        val s = HnswIndex.reportScore(metric, d); allow(id) && s >= lo && s <= hi
      }
      case None => (id, _) => allow(id)
    }
    implicit val ord: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val effL = math.max(l, k)
    val w = math.max(1, beamWidth)
    // gate-driven beam-extension cap (see [[HnswIndex.searchSegment]]):
    // a never-filling banded result list would walk the whole component;
    // past the cap the segment brute gate-before-selects instead — exact
    // and cheaper than the exhaustive traversal
    val visitCap = if (band.isDefined) math.max(64, 8 * effL) else Int.MaxValue
    var nVisited = 1
    var capped = false
    val visited = new java.util.BitSet(n)
    val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
    val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
    val d0 = dist(q, seg.nodes(seg.medoid).vec)
    visited.set(seg.medoid)
    cand.enqueue((d0, seg.medoid))
    if (admit(seg.nodes(seg.medoid).id, d0)) res.enqueue((d0, seg.medoid))
    val beam = new Array[Int](w)
    while (cand.nonEmpty && !capped) {
      if (nVisited > visitCap) { capped = true }
      else {
      // expand up to beamWidth closest frontier nodes as one batch
      var bn = 0
      var stop = false
      while (bn < w && cand.nonEmpty && !stop) {
        val (dc, c) = cand.dequeue()
        if (res.size >= effL && dc > res.head._1) {
          // every remaining candidate is worse than the filled list
          if (bn == 0) { cand.clear(); stop = true }
          else { cand.enqueue((dc, c)); stop = true }
        } else { beam(bn) = c; bn += 1 }
      }
      var bi = 0
      while (bi < bn) {
        val nb = seg.nodes(beam(bi)).nbrs
        var k2 = 0
        while (k2 < nb.length) {
          val e = nb(k2)
          if (!visited.get(e)) {
            visited.set(e)
            nVisited += 1
            val d = dist(q, seg.nodes(e).vec)
            if (res.size < effL || d < res.head._1 ||
                (d == res.head._1 && e < res.head._2)) {
              cand.enqueue((d, e))
              if (admit(seg.nodes(e).id, d)) {
                res.enqueue((d, e))
                if (res.size > effL) res.dequeue()
              }
            }
          }
          k2 += 1
        }
        bi += 1
      }
      }
    }
    val top =
      if (capped)
        HnswIndex.bruteGated(q, n, seg.nodes(_).vec, k, dist, i => admit(seg.nodes(i).id, _))
      else res.toArray.sorted.take(k)
    top.map { case (d, idx) => (seg.nodes(idx).id, HnswIndex.reportScore(metric, d)) }
  }

  /** Single-query search: [[searchBatch]] over one query (qid 0).
    * Output (vec_id, _score), best-first. `deny` is the delete ledger and
    * `allow` the scalar-filter allow-set, both with
    * [[HnswIndex.search]]'s contract — the reference gates EVERY index
    * family through the same filter-bitmap functor
    * (gamma_common_data.h:94-105, wired engine.cc:355-373), the DiskANN
    * class included, so `l ≥ |shard|` stays provably exact under ANY
    * filter.
    */
  def search(segments: Dataset[Segment], q: Seq[Float], k: Int, l: Int,
      beamWidth: Int = 4, metric: String = "l2", roundTo: Option[Int] = None,
      deny: Set[Long] = Set.empty,
      band: Option[(Double, Double)] = None,
      allow: Option[Set[Long]] = None): DataFrame = {
    val top = searchBatch(segments, Seq(0L -> q), k, l, beamWidth, metric,
      deny, allow, band).drop("_qid")
    roundTo.map(d => top.withColumn("_score", round(col("_score"), d))).getOrElse(top)
  }

  /** Batched search (vearch `req_num`): every query walks each segment in
    * the SAME task pass — one deserialization amortized across the batch —
    * through [[HnswIndex.fanOut]]. Output: (_qid, vec_id, _score).
    */
  def searchBatch(segments: Dataset[Segment], queries: Seq[(Long, Seq[Float])],
      k: Int, l: Int, beamWidth: Int = 4, metric: String = "l2",
      deny: Set[Long] = Set.empty,
      allowIds: Option[Set[Long]] = None,
      band: Option[(Double, Double)] = None): DataFrame =
    HnswIndex.fanOut(segments.sparkSession, None, segments, queries, k, metric,
      HnswIndex.admission(segments.sparkSession, allowIds, deny)) {
      (seg, q, admit) => searchSegment(seg, q, k, l, beamWidth, metric, admit, band)
    }
}
