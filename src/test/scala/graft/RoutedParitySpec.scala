package graft

import org.apache.spark.sql.functions._
import graft.api.{IndexLifecycle, SearchApi}
import graft.schema.Space

/** Randomized DIFFERENTIAL parity: routed serving ≡ the brute FLAT scan
  * for every float index family at its exactness parameters, across a
  * seeded random sweep of request SHAPES — k, offset, scalar filters,
  * score gates and req_num batches composed together, not enumerated.
  * SearchApiSpec pins each family's shapes one by one; this spec covers
  * the interaction space between them. Fixed seed ⇒ deterministic: the
  * exactness params (ef/l_search ≥ |shard|, nprobe = ncentroids,
  * recall_num ≥ N) make the routed ranking provably equal the brute
  * ranking, so every draw must match bit-for-bit.
  */
class RoutedParitySpec extends SparkSpec {
  import spark.implicits._

  // per-family exactness params: walk/probe/rerank depths that cover
  // the whole 500-row fixture, declared in the space so both the build
  // and the serve resolve them
  private val families: Seq[(String, String)] = Seq(
    "HNSW" -> """{"type":"HNSW","params":{"nlinks":16,"efConstruction":60,"efSearch":4096}}""",
    "IVFFLAT" -> """{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}""",
    "DISKANN_STATIC" -> """{"type":"DISKANN_STATIC","params":{"R":32,"L":128,"l_search":4096}}""",
    "IVFPQ" -> """{"type":"IVFPQ","params":{"ncentroids":8,"nsubvector":8,"nprobe":8,"recall_num":1000000}}""",
    "IVFRABITQ" -> """{"type":"IVFRABITQ","params":{"ncentroids":8,"nprobe":8,"recall_num":1000000}}""")

  private def spaceFor(family: String, index: String) = Space.fromJson(
    s"""{"name":"parity_${family.toLowerCase}","fields":[
        {"name":"label","type":"integer","index":{"type":"SCALAR"}},
        {"name":"embedding","type":"vector","dimension":64,
         "index":$index}]}""")

  /** Batch-of-one identity: each `_qid` block of a batched routed
    * response equals the single-query routed response for that query
    * (same k, offset, filter, gate and sort) — `singles(i)` serves qid i.
    */
  private def assertBlocksAreSingles(batched: org.apache.spark.sql.DataFrame,
      singles: Seq[org.apache.spark.sql.DataFrame], ctx: String): Unit = {
    val qi = batched.columns.indexOf("_qid")
    assert(qi >= 0, s"$ctx: batched response has no _qid column")
    val blocks = batched.collect().toSeq
      .groupBy(r => r.getAs[Number](qi).longValue)
      .view.mapValues(_.map(r =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq.patch(qi, Nil, 1)).toString))
      .toMap
    singles.zipWithIndex.foreach { case (single, i) =>
      val want = single.collect().map(_.toString).toSeq
      val got = blocks.getOrElse(i.toLong, Seq.empty)
      assert(got == want,
        s"$ctx qid=$i: batch block ${got.take(3)} vs single ${want.take(3)}")
    }
  }

  test("random request shapes: routed ≡ brute FLAT for every float family at exactness params") {
    val rnd = new scala.util.Random(20260816L) // fixed seed — deterministic
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
    val queries: Seq[Seq[Float]] = base.filter($"_id" < 8)
      .orderBy("_id").select("embedding").collect()
      .map(_.getSeq[Float](0)).toSeq
    // score quantiles per metric for NON-VACUOUS gates (l2 asc domain)
    val l2s = base.select(Graft.F.vecL2(col("embedding"),
        lit(queries.head.toArray)).as("d"))
      .orderBy("d").as[Double].collect()
    def pct(p: Double) = l2s(((l2s.length - 1) * p).toInt)

    for ((family, index) <- families) {
      val root = java.nio.file.Files.createTempDirectory(s"parity_$family").toString
      val spacePath = s"$root/space"
      base.write.parquet(spacePath)
      val sp = spaceFor(family, index)
      val lc = new IndexLifecycle(spark, spacePath)
      lc.rebuildDeclared(sp, "embedding", numShards = 4)
      val corpus = spark.read.parquet(spacePath)
      // the same files opened through the open cache: every draw's
      // response (label, a SCALAR field, and `_id`) comes from the
      // snapshot's resident projection there
      val opened = graft.sources.IndexStore.openTable(spark, spacePath)

      // fixed draws after the random ones, on their own seeded stream so
      // the random draws stay as they were: a single query with offset > 0
      // and sort-spec requests (single with an offset, and batched), so
      // the finisher's bounded sorts always meet the unrouted response
      val fixedRnd = new scala.util.Random(20261018L)
      val fixed = Seq(
        (5, 3, false, ""),
        (6, 2, false, ""","sort":[{"label":{"order":"desc"}}]"""),
        (4, 0, true, ""","sort":[{"label":{"order":"asc"}}]"""))
      for (draw <- 0 until 6 + fixed.size) {
        val r = if (draw < 6) rnd else fixedRnd
        val (k, offset, fixedBatched, sort) =
          if (draw < 6) (1 + r.nextInt(20), r.nextInt(4), None, "")
          else fixed(draw - 6) match { case (k, o, b, s) => (k, o, Some(b), s) }
        val q = queries(r.nextInt(queries.size))
        val filter =
          if (r.nextBoolean()) ""
          else {
            val labels = (0 until 1 + r.nextInt(4)).map(_ => r.nextInt(10)).distinct
            s""","filters":{"operator":"AND","conditions":[
                 {"operator":"IN","field":"label","value":${labels.mkString("[", ",", "]")}}]}"""
          }
        val gate = r.nextInt(3) match {
          case 0 => ""
          case 1 => s""","min_score":${pct(0.05 + r.nextDouble() * 0.3)}"""
          case _ => s""","max_score":${pct(0.5 + r.nextDouble() * 0.4)}"""
        }
        val batched = fixedBatched.getOrElse(r.nextBoolean())
        val qs = if (!batched) Seq(q) else Seq(q, queries(r.nextInt(queries.size)))
        def reqOf(vs: Seq[Seq[Float]]) =
          s"""{"vectors":[{"field":"embedding","feature":${vs.flatten.mkString("[", ",", "]")}$gate}]
             $filter$sort,"limit":$k,"offset":$offset}"""
        val req = reqOf(qs)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSeq
        val routed = rows(SearchApi.searchAuto(corpus, sp, req, lc))
        val brute = rows(SearchApi.search(corpus, sp, req))
        val residentDf = SearchApi.searchAuto(opened, sp, req, lc)
        val resident = rows(residentDf)
        val ctx = s"family=$family draw=$draw k=$k offset=$offset batched=$batched " +
          s"filter=${filter.nonEmpty} gate=${gate.nonEmpty} sort=${sort.nonEmpty}"
        assert(routed == brute,
          s"$ctx: routed ${routed.take(3)} vs brute ${brute.take(3)}")
        assert(residentDf.queryExecution.analyzed
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
          s"$ctx: the opened snapshot's response did not take the resident payload")
        assert(resident == brute,
          s"$ctx: resident ${resident.take(3)} vs brute ${brute.take(3)}")
        if (batched)
          assertBlocksAreSingles(SearchApi.searchAuto(corpus, sp, req, lc),
            qs.map(v => SearchApi.searchAuto(corpus, sp, reqOf(Seq(v)), lc)),
            s"family=$family draw=$draw")
      }
    }
  }

  test("-0.0 draws under pushdown: routed (resident allow-set) ≡ brute FLAT") {
    // a double SCALAR field that holds -0.0 and never +0.0, on a snapshot
    // opened through the open cache, so the routed leg reads its
    // allow-set from the resident projection while FLAT scans parquet
    // with the shipped session's pushdown on
    val rnd = new scala.util.Random(20261019L)
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        when(col("label") < 5, lit(-0.0)).otherwise(col("label").cast("double")).as("w"),
        col("embedding"))
    val queries = base.filter($"_id" < 8).orderBy("_id").select("embedding")
      .collect().map(_.getSeq[Float](0)).toSeq
    val sp = Space.fromJson(
      s"""{"name":"parity_negzero","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"w","type":"double","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":${families.toMap.apply("HNSW")}}]}""")
    val spacePath = java.nio.file.Files.createTempDirectory("parity_negzero").toString + "/space"
    base.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    lc.rebuildDeclared(sp, "embedding", numShards = 4)
    val corpus = graft.sources.IndexStore.openTable(spark, spacePath)
    for ((cond, draw) <- Seq("""{"operator":"=","field":"w","value":0}""",
        """{"operator":">=","field":"w","value":0}""",
        """{"operator":"IN","field":"w","value":[0, 7]}""",
        """{"operator":"<=","field":"w","value":-0.0}""").zipWithIndex) {
      val q = queries(rnd.nextInt(queries.size))
      val req = s"""{"vectors":[{"field":"embedding","feature":${q.mkString("[", ",", "]")}}],
        "filters":{"operator":"AND","conditions":[$cond]},"limit":${5 + rnd.nextInt(10)}}"""
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).toSeq
      val routed = rows(SearchApi.searchAuto(corpus, sp, req, lc))
      val brute = rows(SearchApi.search(corpus, sp, req))
      assert(routed.nonEmpty && routed == brute,
        s"negzero draw=$draw $cond: routed ${routed.take(3)} vs brute ${brute.take(3)}")
    }
  }

  test("random MULTI-FIELD conjunctions: routed per-field legs ≡ brute conjunction") {
    // two 32-dim fields, a random exactness-parameterized family PER
    // FIELD, random weights/filters/gates, single and req_num-batched —
    // the (vec_id, score) intersection glue exercised across the
    // family-combination space instead of the enumerated pairs
    val rnd = new scala.util.Random(8161820L)
    val conjFams = Map(
      "HNSW" -> """{"type":"HNSW","params":{"nlinks":16,"efConstruction":60,"efSearch":4096}}""",
      "IVFFLAT" -> """{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8}}""",
      "DISKANN_STATIC" -> """{"type":"DISKANN_STATIC","params":{"R":32,"L":128,"l_search":4096}}""",
      "IVFPQ" -> """{"type":"IVFPQ","params":{"ncentroids":8,"nsubvector":8,"nprobe":8,"recall_num":1000000}}""")
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
    val queries: Seq[(Seq[Float], Seq[Float])] = base.filter($"_id" < 8)
      .orderBy("_id").select("v1", "v2").collect()
      .map(r => (r.getSeq[Float](0), r.getSeq[Float](1))).toSeq
    def pctOf(field: String, q: Seq[Float], p: Double): Double = {
      val ds = base.select(Graft.F.vecL2(col(field),
          lit(q.toArray)).as("d")).orderBy("d").as[Double].collect()
      ds(((ds.length - 1) * p).toInt)
    }

    for (draw <- 0 until 4) {
      val (f1, f2) = (conjFams.keys.toSeq(rnd.nextInt(conjFams.size)),
        conjFams.keys.toSeq(rnd.nextInt(conjFams.size)))
      val sp = Space.fromJson(
        s"""{"name":"parity_conj$draw","fields":[
            {"name":"label","type":"integer","index":{"type":"SCALAR"}},
            {"name":"v1","type":"vector","dimension":32,"index":${conjFams(f1)}},
            {"name":"v2","type":"vector","dimension":32,"index":${conjFams(f2)}}]}""")
      val root = java.nio.file.Files.createTempDirectory(s"parity_conj$draw").toString
      val spacePath = s"$root/space"
      base.write.parquet(spacePath)
      val stored = spark.read.parquet(spacePath)
      val lc = new IndexLifecycle(spark, spacePath)
      lc.scoped("v1").rebuildDeclared(sp, "v1", numShards = 4)
      lc.scoped("v2").rebuildDeclared(sp, "v2", numShards = 4)

      for (sub <- 0 until 3) {
        val k = 1 + rnd.nextInt(12)
        val (q1, q2) = queries(rnd.nextInt(queries.size))
        val batched = rnd.nextBoolean()
        val (o1, o2) = queries(rnd.nextInt(queries.size))
        def feat(q: Seq[Float], other: Seq[Float]) =
          (if (batched) q ++ other else q).mkString("[", ",", "]")
        val gate1 =
          if (rnd.nextInt(3) == 0)
            s""","max_score":${pctOf("v1", q1, 0.6 + rnd.nextDouble() * 0.3)}"""
          else ""
        val filter =
          if (rnd.nextBoolean()) ""
          else {
            val labels = (0 until 1 + rnd.nextInt(4)).map(_ => rnd.nextInt(10)).distinct
            s""","filters":{"operator":"AND","conditions":[
                 {"operator":"IN","field":"label","value":${labels.mkString("[", ",", "]")}}]}"""
          }
        val w = 0.1 + rnd.nextDouble() * 0.8
        def reqOf(v1: String, v2: String) = s"""{"vectors":[
              {"field":"v1","feature":$v1$gate1},
              {"field":"v2","feature":$v2}],
            "ranker":{"type":"WeightedRanker","params":{
              "weights":[$w,${1.0 - w}]}}
            $filter,"limit":$k}"""
        val req = reqOf(feat(q1, o1), feat(q2, o2))
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSeq
        val routed = rows(SearchApi.searchAuto(stored, sp, req, lc))
        val brute = rows(SearchApi.search(stored, sp, req))
        assert(routed == brute,
          s"conj draw=$draw/$sub fams=$f1+$f2 k=$k batched=$batched " +
            s"filter=${filter.nonEmpty} gate=${gate1.nonEmpty}: " +
            s"routed ${routed.take(3)} vs brute ${brute.take(3)}")
        def lit1(v: Seq[Float]) = v.mkString("[", ",", "]")
        if (batched)
          assertBlocksAreSingles(SearchApi.searchAuto(stored, sp, req, lc),
            Seq((q1, q2), (o1, o2)).map { case (a, b) =>
              SearchApi.searchAuto(stored, sp, reqOf(lit1(a), lit1(b)), lc) },
            s"conj draw=$draw/$sub fams=$f1+$f2")
      }
    }
  }

  test("random REALTIME-TAIL draws: routed base ∪ tail ≡ brute over the live view") {
    // every family's tail merge under random buffered writes — fresh
    // ids AND last-write-wins updates of base ids — composed with
    // random k, filters, gates and req_num batches; the routed merge
    // must equal the brute FLAT scan of the tail-wins snapshot
    val rnd = new scala.util.Random(4242424242L)
    val base0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
    val queries: Seq[Seq[Float]] = base0.filter($"_id" < 8)
      .orderBy("_id").select("embedding").collect()
      .map(_.getSeq[Float](0)).toSeq
    val l2s = base0.select(Graft.F.vecL2(col("embedding"),
        lit(queries.head.toArray)).as("d"))
      .orderBy("d").as[Double].collect()
    def pct(p: Double) = l2s(((l2s.length - 1) * p).toInt)

    for ((family, index) <- families) {
      val root = java.nio.file.Files.createTempDirectory(s"parity_rt_$family").toString
      val basePath = s"$root/space"; val tailPath = s"$root/tail"
      base0.write.parquet(basePath)
      val sp = spaceFor(family, index)
      val lc = new IndexLifecycle(spark, basePath)
      lc.rebuildDeclared(sp, "embedding", numShards = 4)
      // random tail: a few fresh ids + a few UPDATES of existing base
      // ids (distinct ids within the tail — no order column here)
      val fresh = (0 until 1 + rnd.nextInt(4)).map { i =>
        (900000L + i, rnd.nextInt(10),
          queries(rnd.nextInt(queries.size)).map(_ + 0.002f * (i + 1)))
      }
      val updates = (0 until rnd.nextInt(3)).map { i =>
        (rnd.nextInt(100).toLong, rnd.nextInt(10),
          queries(rnd.nextInt(queries.size)).map(_ - 0.003f * (i + 1)))
      }.distinctBy(_._1).filterNot(u => fresh.exists(_._1 == u._1))
      (fresh ++ updates).toDF("_id", "label", "embedding")
        .select($"_id", $"label", $"embedding".cast("array<float>"))
        .write.parquet(tailPath)
      val rt = new graft.streaming.RealtimeTail(spark, basePath, tailPath,
        s"$root/ckpt", "_id")
      val corpus = spark.read.parquet(basePath)
      val live = rt.snapshot(corpus.schema)

      for (draw <- 0 until 3) {
        val k = 1 + rnd.nextInt(15)
        val q = queries(rnd.nextInt(queries.size))
        val batched = rnd.nextBoolean()
        val qs = if (!batched) Seq(q) else Seq(q, queries(rnd.nextInt(queries.size)))
        val gate =
          if (rnd.nextInt(3) == 0)
            s""","max_score":${pct(0.5 + rnd.nextDouble() * 0.4)}"""
          else ""
        val filter =
          if (rnd.nextInt(3) > 0) ""
          else {
            val labels = (0 until 2 + rnd.nextInt(3)).map(_ => rnd.nextInt(10)).distinct
            s""","filters":{"operator":"AND","conditions":[
                 {"operator":"IN","field":"label","value":${labels.mkString("[", ",", "]")}}]}"""
          }
        def reqOf(vs: Seq[Seq[Float]]) =
          s"""{"vectors":[{"field":"embedding","feature":${vs.flatten.mkString("[", ",", "]")}$gate}]
             $filter,"limit":$k}"""
        val req = reqOf(qs)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSeq
        val routed = rows(SearchApi.searchAuto(corpus, sp, req, lc, tail = Some(rt)))
        val brute = rows(SearchApi.search(live, sp, req))
        assert(routed == brute,
          s"tail family=$family draw=$draw k=$k batched=$batched " +
            s"tail=${fresh.size}+${updates.size} filter=${filter.nonEmpty} " +
            s"gate=${gate.nonEmpty}: routed ${routed.take(3)} vs brute ${brute.take(3)}")
        if (batched)
          assertBlocksAreSingles(
            SearchApi.searchAuto(corpus, sp, req, lc, tail = Some(rt)),
            qs.map(v => SearchApi.searchAuto(corpus, sp, reqOf(Seq(v)), lc,
              tail = Some(rt))),
            s"tail family=$family draw=$draw")
      }
    }
  }

  test("random DELETE draws composed with a tail: ledger gates every routed arm, no ghosts") {
    // the deepest composition: base ∪ tail ∖ deletes — random deletes
    // hit base ids, tail-updated ids, AND fresh tail-only ids (the
    // deleted-while-buffered path), then random request shapes must
    // match brute over the delete-gated live view, with zero ghosts
    val rnd = new scala.util.Random(777000777L)
    val base0 = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
    val queries: Seq[Seq[Float]] = base0.filter($"_id" < 8)
      .orderBy("_id").select("embedding").collect()
      .map(_.getSeq[Float](0)).toSeq

    for ((family, index) <- families) {
      val root = java.nio.file.Files.createTempDirectory(s"parity_del_$family").toString
      val basePath = s"$root/space"; val tailPath = s"$root/tail"
      base0.write.parquet(basePath)
      val sp = spaceFor(family, index)
      val lc = new IndexLifecycle(spark, basePath)
      lc.rebuildDeclared(sp, "embedding", numShards = 4)
      val freshIds = (0 until 3).map(i => 900000L + i)
      val updId = rnd.nextInt(100).toLong
      val tailRows = freshIds.zipWithIndex.map { case (id, i) =>
        (id, rnd.nextInt(10),
          queries(rnd.nextInt(queries.size)).map(_ + 0.002f * (i + 1)))
      } :+ ((updId, rnd.nextInt(10),
        queries(rnd.nextInt(queries.size)).map(_ - 0.004f)))
      tailRows.toDF("_id", "label", "embedding")
        .select($"_id", $"label", $"embedding".cast("array<float>"))
        .write.parquet(tailPath)
      val rt = new graft.streaming.RealtimeTail(spark, basePath, tailPath,
        s"$root/ckpt", "_id")
      // deletes: one plain base id, one tail-updated base id, one
      // fresh tail-only id (deleted while buffered)
      val delIds = Seq(rnd.nextInt(100) + 100L, updId, freshIds.head)
      lc.deleteByIds("_id", delIds)
      val corpus = spark.read.parquet(basePath)
      val live = rt.snapshot(corpus.schema, lc.allDeletes())

      for (draw <- 0 until 2) {
        val k = 1 + rnd.nextInt(15)
        val q = queries(rnd.nextInt(queries.size))
        val batched = rnd.nextBoolean()
        val qs = if (!batched) Seq(q) else Seq(q, queries(rnd.nextInt(queries.size)))
        def reqOf(vs: Seq[Seq[Float]]) =
          s"""{"vectors":[{"field":"embedding","feature":${vs.flatten.mkString("[", ",", "]")}}],"limit":$k}"""
        val req = reqOf(qs)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).toSeq
        val routedDf = SearchApi.searchAuto(corpus, sp, req, lc, tail = Some(rt))
        val routed = rows(routedDf)
        val brute = rows(SearchApi.search(live, sp, req))
        assert(routed == brute,
          s"del family=$family draw=$draw k=$k batched=$batched " +
            s"dels=$delIds: routed ${routed.take(3)} vs brute ${brute.take(3)}")
        // no ghosts: a deleted id never appears, whatever the shape
        val served = routedDf.select("_id").collect().map(_.getLong(0)).toSet
        assert(delIds.forall(id => !served.contains(id)),
          s"ghost: deleted $delIds intersects served $served")
        if (batched)
          assertBlocksAreSingles(routedDf,
            qs.map(v => SearchApi.searchAuto(corpus, sp, reqOf(Seq(v)), lc,
              tail = Some(rt))),
            s"del family=$family draw=$draw")
      }
    }
  }
}
