package graft

import org.apache.spark.sql.functions._

import graft.operators.{HnswIndex, Knn}

/** HNSW graph-ANN: deterministic build, provable layer-0 connectivity
  * (the exactness-twin guarantee), exact-parameter equivalence with
  * brute-force KNN on every metric, batch/single agreement, degenerate
  * shapes, and the bounded-merge shuffle contract.
  */
class HnswIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val qv: Seq[Float] =
    emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)

  private val params = HnswIndex.Params(m = 8, efConstruction = 60, metric = "l2", numShards = 3)

  private lazy val segs = {
    val d = HnswIndex.build(emb, "vec_id", "embedding", params).cache()
    d.count()
    d
  }

  /** Canonical text form of a segment — structural equality for the
    * determinism assertion without Array reference-equality traps.
    */
  private def canon(s: HnswIndex.Segment): String = {
    val nodes = s.nodes.map(n =>
      s"${n.id}|${n.level}|${n.nbrs.map(_.mkString(",")).mkString(";")}|${n.vec.take(4).mkString(",")}")
    s"${s.shard_id}#${s.entry}#${nodes.mkString("~")}"
  }

  test("build is deterministic: two independent builds produce identical segments") {
    val a = segs.collect().sortBy(_.shard_id).map(canon)
    val b = HnswIndex.build(
      emb.repartition(7), // different upstream partitioning must not matter
      "vec_id", "embedding", params).collect().sortBy(_.shard_id).map(canon)
    assert(a.toSeq == b.toSeq)
  }

  test("banded visit cap: a walk-defeating gate returns the segment's exact brute gated top-k") {
    // a band admitting only the FARTHEST tail of the segment never fills
    // the result heap, so the uncapped walk would traverse the whole
    // component (advisor r18: an adversarial gate triggers it at will);
    // with the cap (8*effEf visited << |segment|) the walk must switch
    // to the brute fallback and still return the TRUE gated top-k
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
      // midpoint between two ranked scores: no boundary ambiguity from
      // float rounding between the test's l2 and the walk's kernel
      val lo = (ranked(ranked.length - m)._1 + ranked(ranked.length - m - 1)._1) / 2
      val got = HnswIndex.searchSegment(seg, q, 5, 8, "l2",
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

  test("the serving walk returns what the walk over tuple priority queues returned") {
    // the walk as it was written before its heaps moved to primitive
    // arrays: tuple heaps ordered by (Double.compare, node index)
    import scala.collection.mutable
    def l2sq(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1
      }
      s
    }
    def tupleWalk(seg: HnswIndex.Segment, q: Array[Float], k: Int, ef: Int,
        allow: Long => Boolean, band: Option[(Double, Double)]): Seq[(Long, Double)] = {
      val n = seg.nodes.length
      val admit: (Long, Double) => Boolean = band match {
        case Some((lo, hi)) => (id, d) => { val s = math.sqrt(d); allow(id) && s >= lo && s <= hi }
        case None => (id, _) => allow(id)
      }
      implicit val ord: Ordering[(Double, Int)] =
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      var ep = seg.entry
      var lc = seg.nodes(seg.entry).level
      var dEp = l2sq(q, seg.nodes(ep).vec)
      while (lc > 0) {
        var moved = true
        while (moved) {
          moved = false
          seg.nodes(ep).nbrs(lc).foreach { e =>
            val d = l2sq(q, seg.nodes(e).vec)
            if (d < dEp) { dEp = d; ep = e; moved = true }
          }
        }
        lc -= 1
      }
      val effEf = math.max(ef, k)
      val visitCap = if (band.isDefined) math.max(64, 8 * effEf) else Int.MaxValue
      var nVisited = 1
      var capped = false
      val visited = new java.util.BitSet(n)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
      val res = mutable.PriorityQueue.empty[(Double, Int)](ord)
      visited.set(ep)
      cand.enqueue((dEp, ep))
      if (admit(seg.nodes(ep).id, dEp)) res.enqueue((dEp, ep))
      while (cand.nonEmpty && !capped) {
        if (nVisited > visitCap) capped = true
        else {
          val (dc, c) = cand.dequeue()
          if (res.size >= effEf && dc > res.head._1) cand.clear()
          else seg.nodes(c).nbrs(0).foreach { e =>
            if (!visited.get(e)) {
              visited.set(e)
              nVisited += 1
              val d = l2sq(q, seg.nodes(e).vec)
              if (res.size < effEf || d < res.head._1 ||
                  (d == res.head._1 && e < res.head._2)) {
                cand.enqueue((d, e))
                if (admit(seg.nodes(e).id, d)) {
                  res.enqueue((d, e))
                  if (res.size > effEf) res.dequeue()
                }
              }
            }
          }
        }
      }
      val top =
        if (capped) HnswIndex.bruteGated(q, n, seg.nodes(_).vec, k, (a, b) => l2sq(a, b),
          i => admit(seg.nodes(i).id, _))
        else res.toArray.sorted.take(k)
      top.map { case (d, i) => (seg.nodes(i).id, math.sqrt(d)) }.toSeq
    }
    // the fixture's segments, and one whose 90 nodes share 6 vectors, so
    // equal distances are everywhere and the node index breaks the ties
    val rnd = new scala.util.Random(7)
    val points = Array.fill(6)(Array.fill(8)(rnd.nextFloat()))
    val tiedSeg = HnswIndex.buildSegment(0,
      Array.tabulate(90)(i => (i.toLong, points(i % 6))), params)
    val queries = emb.select("embedding").limit(12).collect()
      .map(_.getSeq[Float](0).toArray)
    val cases = segs.collect().map(s => (s, queries)) :+
      ((tiedSeg, points ++ Array.fill(4)(Array.fill(8)(rnd.nextFloat()))))
    var compared = 0
    for ((seg, qs) <- cases; q <- qs; k <- Seq(1, 5, 10); ef <- Seq(1, 4, 16);
         allow <- Seq((_: Long) => true, (id: Long) => id % 3 != 0);
         band <- Seq(None, Some((0.0, 1e9)), Some((1e9, 2e9)))) {
      val want = tupleWalk(seg, q, k, ef, allow, band)
      val got = HnswIndex.searchSegment(seg, q, k, ef, "l2", allow, band).toSeq
      assert(got == want, s"shard ${seg.shard_id} k=$k ef=$ef band=$band")
      compared += 1
    }
    assert(compared > 1000)
  }

  test("layer 0 of every segment is connected (the exactness-twin guarantee)") {
    segs.collect().foreach { s =>
      val n = s.nodes.length
      val seen = new java.util.BitSet(n)
      var stack = List(0)
      seen.set(0)
      var count = 1
      while (stack.nonEmpty) {
        val c = stack.head; stack = stack.tail
        s.nodes(c).nbrs(0).foreach { e =>
          if (!seen.get(e)) { seen.set(e); count += 1; stack = e :: stack }
        }
      }
      assert(count == n, s"shard ${s.shard_id}: layer 0 reaches $count of $n nodes")
    }
  }

  test("every vector lands in exactly one segment; levels are id-pure") {
    val total = segs.collect().map(_.nodes.length).sum
    assert(total == emb.count())
    // same id ⇒ same level regardless of shard layout
    val mL = 1.0 / math.log(params.m.toDouble)
    segs.collect().foreach(_.nodes.foreach { nd =>
      assert(nd.level == HnswIndex.levelOf(nd.id, mL))
      assert(nd.nbrs.length == nd.level + 1)
    })
  }

  test("ef ≥ |shard| search ≡ brute-force KNN, bit-identical scores (l2/ip/cosine)") {
    for (metric <- Seq("l2", "ip", "cosine")) {
      val p = params.copy(metric = metric)
      val segsM =
        if (metric == "l2") segs
        else HnswIndex.build(emb, "vec_id", "embedding", p)
      val got = HnswIndex.search(segsM, qv, k = 10, ef = 1 << 30, metric = metric)
        .select($"vec_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Knn.search(emb, col("embedding"), qv, k = 10, metric = metric,
        tieBreak = Some(col("vec_id")))
        .select($"vec_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"metric=$metric")
    }
  }

  test("operating-point search (ef=64) hits high recall vs the exact twin") {
    val exact = HnswIndex.search(segs, qv, k = 10, ef = 1 << 30, metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val ann = HnswIndex.search(segs, qv, k = 10, ef = 64, metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ann.intersect(exact).size >= 8, s"recall@10 ${ann.intersect(exact).size}/10")
  }

  test("batch search with exact params agrees with per-query search") {
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val batch = HnswIndex.searchBatch(segs, queries, k = 5, ef = 1 << 30, metric = "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(t => (t._2, t._1)).toSeq).toMap
    queries.foreach { case (qid, q) =>
      val single = HnswIndex.search(segs, q, k = 5, ef = 1 << 30, metric = "l2")
        .select($"vec_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sortBy(t => (t._2, t._1)).toSeq
      assert(batch(qid) == single, s"qid=$qid")
    }
  }

  test("filtered search with exact params ≡ filter-first brute force") {
    val pred = col("label").isin(1, 3, 5) && col("vec_id") =!= 0
    val got = HnswIndex.search(segs, qv, k = 10, ef = 1 << 30,
      metric = "l2", allow = Some(emb.filter(pred).select($"vec_id").as[Long].collect().toSet))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.search(emb, col("embedding"), qv, k = 10, metric = "l2",
      filter = Some(pred), tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("filtered search: empty allow-set → no rows; tiny allow-set → exactly those") {
    val none = emb.filter($"vec_id" < 0).select($"vec_id")
    assert(HnswIndex.search(segs, qv, 10, 1 << 30, "l2", allow = Some(none.as[Long].collect().toSet)).count() == 0)
    val three = emb.filter($"vec_id".isin(7, 42, 399)).select($"vec_id")
    val got = HnswIndex.search(segs, qv, 10, 1 << 30, "l2", allow = Some(three.as[Long].collect().toSet))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(7L, 42L, 399L)) // disallowed nodes still carry connectivity
  }

  test("degenerate shapes: more shards than rows, single-node shards") {
    val tiny = emb.filter($"vec_id" < 3)
    val p = HnswIndex.Params(m = 4, efConstruction = 10, metric = "l2", numShards = 8)
    val tinySegs = HnswIndex.build(tiny, "vec_id", "embedding", p)
    val got = HnswIndex.search(tinySegs, qv, k = 10, ef = 1 << 30, metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 1L, 2L)) // all rows returned even with k > n
  }

  test("clustered shards (SPANN routing): exact at full route, high recall at half") {
    val ivf = graft.operators.IvfIndex.train(emb, "embedding", ncentroids = 8)
    val p = HnswIndex.Params(m = 8, efConstruction = 60, metric = "l2", numShards = 8)
    val csegs = HnswIndex.buildClustered(emb, "vec_id", "embedding", p, ivf).cache()
    csegs.count()
    // shard ids ARE the quantizer's list ids; every vector lands once
    val sids = csegs.collect()
    assert(sids.map(_.shard_id).toSet.subsetOf((0 until ivf.ncentroids).toSet))
    assert(sids.map(_.nodes.length).sum == emb.count())
    // full route + exhaustive walks ≡ brute force, bit-identical
    val got = HnswIndex.searchRouted(csegs, ivf, qv, k = 10, ef = 1 << 30,
      metric = "l2", nprobe = ivf.ncentroids)
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.search(emb, col("embedding"), qv, k = 10, metric = "l2",
      tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // half the lists routed still recovers most of the exact top-10
    val routed = HnswIndex.searchRouted(csegs, ivf, qv, k = 10, ef = 1 << 30,
      metric = "l2", nprobe = ivf.ncentroids / 2)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(routed.intersect(want.map(_._1).toSet).size >= 8)
    csegs.unpersist()
    ()
  }

  test("clustered shards: the skew split keeps segments bounded and stays exact") {
    val ivf = graft.operators.IvfIndex.train(emb, "embedding", ncentroids = 4)
    val p = HnswIndex.Params(m = 8, efConstruction = 60, metric = "l2", numShards = 4)
    val segs = HnswIndex.buildClustered(emb, "vec_id", "embedding", p, ivf,
      maxShardRows = 40)
    val rows = segs.collect()
    assert(rows.map(_.nodes.length).sum == emb.count())
    assert(rows.forall(_.nodes.length <= 80)) // hash-balanced around the bound
    assert(rows.length > rows.map(_.shard_id).distinct.length) // real splits
    // the union of exhaustive sub-walks IS the exhaustive list walk
    val got = HnswIndex.searchRouted(segs, ivf, qv, k = 10, ef = 1 << 30,
      metric = "l2", nprobe = ivf.ncentroids)
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Knn.search(emb, col("embedding"), qv, k = 10, metric = "l2",
      tieBreak = Some(col("vec_id")))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("degenerate geometry: all-identical vectors build and search exactly") {
    // every pairwise distance is zero — the heuristic selector and degree
    // pruning must not wedge, and the id tiebreak must order the ties
    val df = (0L until 100L).map(i => (i, Array.fill(4)(1f)))
      .toDF("vec_id", "embedding")
    val p = HnswIndex.Params(m = 4, efConstruction = 16, metric = "l2", numShards = 3)
    val got = HnswIndex.search(
      HnswIndex.build(df, "vec_id", "embedding", p),
      Seq(1f, 1f, 1f, 1f), k = 5, ef = 1 << 30, metric = "l2")
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == (0L until 5L).map(i => (i, 0.0)))
  }

  test("property: exact-params search matches a local brute-force oracle on random corpora") {
    // independent oracle: local double-accumulation score + (score, id)
    // sort — no shared code with the operator under test
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def score(metric: String, a: Seq[Float], b: Seq[Float]): Double = {
      val n = math.min(a.length, b.length)
      metric match {
        case "l2" =>
          var s = 0.0; var i = 0
          while (i < n) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
          math.sqrt(s)
        case "ip" =>
          var s = 0.0; var i = 0
          while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
          s
        case "cosine" =>
          var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
          while (i < n) {
            val x = a(i).toDouble; val y = b(i).toDouble
            ab += x * y; aa += x * x; bb += y * y; i += 1
          }
          val d = math.sqrt(aa) * math.sqrt(bb)
          if (d == 0.0) 0.0 else ab / d
      }
    }
    val genCase = for {
      n <- Gen.chooseNum(1, 250)
      dim <- Gen.chooseNum(1, 8)
      m <- Gen.chooseNum(2, 12)
      shards <- Gen.chooseNum(1, 5)
      metric <- Gen.oneOf("l2", "ip", "cosine")
      // small value set on purpose: duplicate vectors and score ties are
      // the interesting regime for deterministic selection
      vals = Gen.chooseNum(-3, 3).map(_.toFloat / 2f)
      rows <- Gen.listOfN(n, Gen.listOfN(dim, vals))
      ids <- Gen.listOfN(n, Gen.chooseNum(-1000000L, 1000000L))
      q <- Gen.listOfN(dim, vals)
    } yield (rows, ids, q, m, shards, metric)
    val cases = (1 to 8).flatMap(i => genCase(Gen.Parameters.default, Seed(i.toLong)))
    cases.foreach { case (rows, ids, q, m, shards, metric) =>
      val data = ids.distinct.zip(rows).map { case (id, v) => (id, v.toArray) }
      val df = data.toDF("vec_id", "embedding")
      val p = HnswIndex.Params(m, efConstruction = 3 * m, metric, shards)
      val segs = HnswIndex.build(df, "vec_id", "embedding", p)
      val k = math.min(10, data.length)
      val got = HnswIndex.search(segs, q, k, ef = 1 << 30, metric)
        .select($"vec_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val asc = metric == "l2"
      val want = data.map { case (id, v) => (id, score(metric, v.toSeq, q)) }
        .sortBy { case (id, s) => (if (asc) s else -s, id) }.take(k)
      assert(got == want,
        s"n=${data.length} dim=${q.length} m=$m shards=$shards metric=$metric")
    }
  }

  test("multi-field routed intersection: exact params ≡ brute; ef=64 keeps recall ≥ 0.8") {
    // per-field graph route + docid intersection + weighted re-rank (the
    // reference's vector_manager.cc:1024-1087 shape, served from indexes)
    val two = emb.select($"vec_id",
      slice($"embedding", 1, 32).as("v1"), slice($"embedding", 33, 32).as("v2"))
    val p = HnswIndex.Params(m = 16, efConstruction = 60, metric = "ip", numShards = 3)
    val segsA = HnswIndex.build(two, "vec_id", "v1", p).cache()
    val segsB = HnswIndex.build(two, "vec_id", "v2", p).cache()
    def routed(ef: Int): Seq[Long] = {
      val f0 = HnswIndex.search(segsA, qv.take(32), k = 100, ef = ef, metric = "ip")
        .select($"vec_id", $"_score".as("_s0"))
      val f1 = HnswIndex.search(segsB, qv.drop(32), k = 100, ef = ef, metric = "ip")
        .select($"vec_id", $"_score".as("_s1"))
      f0.join(f1, "vec_id")
        .withColumn("_score", $"_s0" * 0.5 + $"_s1" * 0.5)
        .orderBy($"_score".desc, $"vec_id").limit(10)
        .select($"vec_id").collect().map(_.getLong(0)).toSeq
    }
    val brute = Knn.multiVectorSearch(two, "vec_id",
      Seq(($"v1", qv.take(32)), ($"v2", qv.drop(32))),
      perFieldK = 100, k = 10, metric = "ip")
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(routed(1 << 30) == brute) // exact per-field walks ≡ brute intersection
    val op = routed(64)
    val recall = op.toSet.intersect(brute.toSet).size.toDouble / brute.size
    assert(recall >= 0.8, s"routed multivec recall@10 $recall < 0.8")
    segsA.unpersist(); segsB.unpersist()
  }

  test("incremental append ≡ full rebuild, bit-identically (monotone ids)") {
    // the reference folds only NEW vectors into the live graph
    // (AddRTVecsToIndex, vector_manager.cc:678); here the determinism
    // design (id-hash levels, ids-ascending insertion, recorded chain
    // edges) makes the appended generation EQUAL to a from-scratch
    // rebuild — not merely recall-equivalent
    val base = emb.filter($"vec_id" < 300)
    val tail = emb.filter($"vec_id" >= 300) // ids sort after every base id
    val appended = HnswIndex.append(
      HnswIndex.build(base, "vec_id", "embedding", params),
      tail, "vec_id", "embedding", params)
      .collect().sortBy(_.shard_id)
    val rebuilt = HnswIndex.build(emb, "vec_id", "embedding", params)
      .collect().sortBy(_.shard_id)
    assert(appended.map(canon).toSeq == rebuilt.map(canon).toSeq)
    assert(appended.map(_.chain.toSeq).toSeq == rebuilt.map(_.chain.toSeq).toSeq)
  }

  test("append with interleaved/updated ids: in-task shard rebuild, last write wins") {
    val base = emb.filter($"vec_id" % 2 === 0) // evens
    val tail = emb.filter($"vec_id" % 2 === 1) // odds interleave everywhere
    val appended = HnswIndex.append(
      HnswIndex.build(base, "vec_id", "embedding", params),
      tail, "vec_id", "embedding", params).collect().sortBy(_.shard_id)
    val rebuilt = HnswIndex.build(emb, "vec_id", "embedding", params)
      .collect().sortBy(_.shard_id)
    assert(appended.map(canon).toSeq == rebuilt.map(canon).toSeq)

    // an UPDATE (existing id, new vector) replaces the stored vector
    val moved = emb.filter($"vec_id" === 2)
      .select($"vec_id", $"embedding", $"label")
      .withColumn("embedding", expr("transform(embedding, x -> x + 10.0F)"))
    val after = HnswIndex.append(
      HnswIndex.build(emb, "vec_id", "embedding", params),
      moved, "vec_id", "embedding", params)
    val got = after.collect().flatMap(_.nodes).find(_.id == 2L).get.vec
    val want = moved.select("embedding").head().getSeq[Float](0)
    assert(got.toSeq == want)
    // total node count unchanged (replace, not duplicate)
    assert(after.collect().map(_.nodes.length).sum == emb.count())
  }

  test("append touches only the delta's shards; untouched rows pass through") {
    val base = emb.filter($"vec_id" < 400)
    val built = HnswIndex.build(base, "vec_id", "embedding", params).cache()
    // a delta confined to ONE shard: pick ids > max hashing to shard 0
    val tailIds = (1000000L until 1000400L)
      .filter(id => HnswIndex.shardOf(id, params.numShards) == 0).take(20)
    val tail = tailIds.map(id => (id, qv)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val before = built.collect().map(s => s.shard_id -> canon(s)).toMap
    val after = HnswIndex.append(built, tail, "vec_id", "embedding", params)
      .collect().map(s => s.shard_id -> canon(s)).toMap
    assert(after(1) == before(1) && after(2) == before(2)) // untouched: byte-same
    assert(after(0) != before(0)) // the delta's shard grew
    built.unpersist()
  }

  test("search shuffles only the bounded merge, never the corpus") {
    segs.count() // materialize the cache outside the audit window
    val n = emb.count()
    val moved = shuffleRecords {
      HnswIndex.search(segs, qv, k = 10, ef = 64, metric = "l2").collect()
    }
    // per-shard top-k rows may cross a stage boundary for the global
    // merge; the corpus itself must not
    assert(moved <= params.numShards.toLong * 10,
      s"search moved $moved rows (corpus is $n)")
  }
}
