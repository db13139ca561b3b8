package graft

import org.apache.spark.sql.functions._

import graft.operators.{Knn, VamanaIndex}

/** DiskANN-static (Vamana): deterministic build, chain-guaranteed
  * connectivity (the exactness-twin device), exact-parameter equivalence
  * with brute-force KNN, beam-width invariance of the exhaustive walk,
  * operating-point recall, and the delete-gate functor.
  */
class VamanaIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val qv: Seq[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)

  private val params = VamanaIndex.Params(r = 24, l = 48, alpha = 1.2,
    metric = "l2", numShards = 3)

  private lazy val segs = {
    val d = VamanaIndex.build(emb, "vec_id", "embedding", params).cache()
    d.count()
    d
  }

  private def canon(s: VamanaIndex.Segment): String = {
    val nodes = s.nodes.map(n =>
      s"${n.id}|${n.nbrs.mkString(",")}|${n.vec.take(4).mkString(",")}")
    s"${s.shard_id}#${s.medoid}#${nodes.mkString("~")}"
  }

  test("banded visit cap: a walk-defeating gate returns the segment's exact brute gated top-k") {
    // twin of the HnswIndexSpec cap test: far-tail band, cap fires,
    // brute fallback must produce the true gated ranking
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    val q = qv.toArray
    segs.collect().foreach { seg =>
      val ranked = seg.nodes.zipWithIndex
        .map { case (n, i) => (l2(q, n.vec), i) }.sortBy(x => (x._1, x._2))
      val m = math.max(6, ranked.length / 32)
      val lo = (ranked(ranked.length - m)._1 + ranked(ranked.length - m - 1)._1) / 2
      val got = VamanaIndex.searchSegment(seg, q, 5, 8, 4, "l2",
        band = Some((lo, Double.PositiveInfinity)))
      val expected = ranked.filter(_._1 > lo).take(5)
        .map { case (d, i) => (seg.nodes(i).id, d) }
      assert(got.length == expected.length,
        s"shard ${seg.shard_id}: got ${got.length} of ${expected.length}")
      got.zip(expected).foreach { case ((gid, gs), (eid, es)) =>
        assert(gid == eid, s"shard ${seg.shard_id}: id $gid != $eid")
        assert(math.abs(gs - es) < 1e-6, s"shard ${seg.shard_id}: score $gs != $es")
      }
    }
  }

  test("build is deterministic and independent of upstream partitioning") {
    val a = segs.collect().sortBy(_.shard_id).map(canon)
    val b = VamanaIndex.build(emb.repartition(7), "vec_id", "embedding", params)
      .collect().sortBy(_.shard_id).map(canon)
    assert(a.toSeq == b.toSeq)
  }

  test("every segment is connected and degree-bounded (R + chain slack)") {
    segs.collect().foreach { s =>
      val n = s.nodes.length
      // BFS from the medoid must reach every node — the chain guarantee
      val seen = new java.util.BitSet(n)
      var frontier = List(s.medoid)
      seen.set(s.medoid)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(i => s.nodes(i).nbrs.filterNot { e =>
          val v = seen.get(e); seen.set(e); v
        })
      }
      assert(seen.cardinality() == n, s"shard ${s.shard_id} not connected")
      assert(s.nodes.forall(_.nbrs.length <= params.r + 2),
        "degree exceeds R + chain slack")
      // neighbor lists hold valid, deduplicated local indices
      s.nodes.foreach { nd =>
        assert(nd.nbrs.forall(e => e >= 0 && e < n))
        assert(nd.nbrs.distinct.length == nd.nbrs.length)
      }
    }
  }

  test("l ≥ |shard| beam search ≡ brute-force KNN, any beam width") {
    val brute = Knn.search(emb, col("embedding"), qv, 10, "l2",
      tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (bw <- Seq(1, 4, 16)) {
      val got = VamanaIndex.search(segs, qv, k = 10, l = 1 << 30,
        beamWidth = bw, metric = "l2")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == brute, s"beamWidth=$bw diverged from brute force")
    }
  }

  test("operating point (l=100, beam=4) recall ≥ 0.8 vs the exact walk") {
    val exact = VamanaIndex.search(segs, qv, k = 10, l = 1 << 30,
      beamWidth = 4, metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val op = VamanaIndex.search(segs, qv, k = 10, l = 100, beamWidth = 4,
      metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(op).size.toDouble / exact.size
    assert(recall >= 0.8, s"vamana recall@10 $recall < 0.8")
  }

  test("clustered build + routed search: full probe ≡ exact, narrow probe prunes shards") {
    val ivf = graft.operators.IvfIndex.train(emb, "embedding", 4)
    val clustered = VamanaIndex.buildClustered(emb, "vec_id", "embedding",
      params.copy(numShards = 4), ivf).cache()
    try {
      // every corpus row lands in exactly one sub-segment
      assert(clustered.collect().map(_.nodes.length).sum == emb.count())
      val brute = Knn.search(emb, col("embedding"), qv, 10, "l2",
        tieBreak = Some(col("vec_id")))
        .select($"vec_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      // nprobe = ncentroids + exhaustive walk ⇒ exact
      val routedAll = VamanaIndex.searchRouted(clustered, ivf, qv, k = 10,
        l = 1 << 30, beamWidth = 4, metric = "l2", nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(routedAll == brute)
      // nprobe = 1 answers from the query's own list only — the shard
      // holding vec_id 0 must include it as top-1, and the result fills k
      val routed1 = VamanaIndex.searchRouted(clustered, ivf, qv, k = 10,
        l = 1 << 30, beamWidth = 4, metric = "l2", nprobe = 1)
        .collect().map(_.getLong(0)).toSeq
      assert(routed1.size == 10)
      assert(routed1.head == 0L)
      // the route really prunes: 1 probed list touches a strict subset
      val probedShards = ivf.nearestCentroids(qv, 1)
      assert(clustered.filter($"shard_id".isin(probedShards: _*)).count() <
        clustered.count())
    } finally { clustered.unpersist(); () }
  }

  test("deny functor: deleted ids are traversed but never returned; k still fills") {
    val deny = Set(0L, 1L, 2L)
    val got = VamanaIndex.search(segs, qv, k = 10, l = 1 << 30,
      beamWidth = 4, metric = "l2", deny = deny)
      .collect().map(_.getLong(0)).toSeq
    assert(got.size == 10)
    assert(got.forall(!deny.contains(_)))
    // equals brute force over the corpus minus the denied ids
    val brute = Knn.search(emb.filter(!$"vec_id".isin(deny.toSeq: _*)),
      col("embedding"), qv, 10, "l2", tieBreak = Some(col("vec_id")))
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == brute)
  }

  test("filtered walk: allow-set functor ≡ brute force over the allowed subset") {
    // the filter functor contract (traverse-but-never-admit): with
    // l ≥ |shard| the walk is exhaustive, so any allow-set yields the
    // exact filtered top-k — including one that excludes the medoid's
    // neighborhood entirely
    val allow = emb.filter($"label".isin(1, 3, 5) && $"vec_id" =!= 0)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val got = VamanaIndex.search(segs, qv, k = 10, l = 1 << 30,
      beamWidth = 4, metric = "l2", allow = Some(allow))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Knn.search(emb.filter($"label".isin(1, 3, 5) && $"vec_id" =!= 0),
      col("embedding"), qv, 10, "l2", tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
    assert(got.forall(h => allow.contains(h._1)))
    // deny composes: allow ∖ deny
    val denied = got.head._1
    val got2 = VamanaIndex.search(segs, qv, k = 10, l = 1 << 30,
      beamWidth = 4, metric = "l2", allow = Some(allow), deny = Set(denied))
      .collect().map(_.getLong(0)).toSeq
    assert(!got2.contains(denied) && got2.size == 10)
  }

  test("batch search with a shared allow-set agrees with per-query filtered search") {
    val allow = emb.filter($"label" < 5).select($"vec_id")
      .collect().map(_.getLong(0)).toSet
    val queries = Seq(0L, 7L).map(id => id ->
      emb.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0))
    val batch = VamanaIndex.searchBatch(segs, queries, k = 5, l = 1 << 30,
      beamWidth = 4, metric = "l2", allowIds = Some(allow))
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getDouble(2)).map(_.getLong(1)).toSeq }
    queries.foreach { case (qid, q) =>
      val single = VamanaIndex.search(segs, q, k = 5, l = 1 << 30,
        beamWidth = 4, metric = "l2", allow = Some(allow))
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qid) == single, s"qid=$qid filtered batch/single diverged")
    }
  }

  test("degenerate shapes: single-row shards, more shards than rows, identical vectors") {
    val tiny = emb.filter($"vec_id" < 2) // 2 rows over 3 shards
    val s2 = VamanaIndex.build(tiny, "vec_id", "embedding", params)
    val got = VamanaIndex.search(s2, qv, k = 5, l = 1 << 30, beamWidth = 4,
      metric = "l2").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L))

    // all-identical vectors: ties everywhere, prune degenerates — build
    // must stay deterministic and exact search must return ids ascending
    val const = spark.range(20).select($"id".as("vec_id"),
      typedLit(Seq.fill(8)(1.0f)).as("embedding"))
    val s3 = VamanaIndex.build(const, "vec_id", "embedding",
      params.copy(numShards = 2))
    val ids = VamanaIndex.search(s3, Seq.fill(8)(1.0f), k = 5, l = 1 << 30,
      beamWidth = 1, metric = "l2").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("batch search with exact params agrees with per-query search") {
    val queries = Seq(0L, 7L).map(id => id ->
      emb.filter($"vec_id" === id).select("embedding").head().getSeq[Float](0))
    val batch = VamanaIndex.searchBatch(segs, queries, k = 5, l = 1 << 30,
      beamWidth = 4, metric = "l2")
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getDouble(2)).map(_.getLong(1)).toSeq }
    queries.foreach { case (qid, q) =>
      val single = VamanaIndex.search(segs, q, k = 5, l = 1 << 30,
        beamWidth = 4, metric = "l2").collect().map(_.getLong(0)).toSeq
      assert(batch(qid) == single, s"qid=$qid batch/single diverged")
    }
  }

  test("ip metric: exact walk matches brute force with descending scores") {
    val p2 = params.copy(metric = "ip")
    val s2 = VamanaIndex.build(emb, "vec_id", "embedding", p2)
    val got = VamanaIndex.search(s2, qv, k = 5, l = 1 << 30, beamWidth = 4,
      metric = "ip").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Knn.search(emb, col("embedding"), qv, 5, "ip",
      tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute)
    val scores = got.map(_._2)
    assert(scores == scores.sorted.reverse)
  }
}
