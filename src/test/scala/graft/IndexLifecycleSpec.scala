package graft

import graft.api.IndexLifecycle.Kind
import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.api.IndexLifecycle
import graft.operators.{IvfIndex, Knn}

class IndexLifecycleSpec extends SparkSpec {
  import spark.implicits._

  test("rebuildDeclared picks the builder from index type AND value_type") {
    import graft.Graft.F
    val root = Files.createTempDirectory("lc_declared").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        col("embedding"), F.quantizeI8(col("embedding")).as("iv"))
      .write.parquet(spacePath)
    def spFor(name: String, vt: String, index: String) =
      graft.schema.Space.fromJson(
        s"""{"name":"decl","fields":[
            {"name":"$name","type":"vector","dimension":64$vt,
             "index":$index}]}""")
    val lc = new IndexLifecycle(spark, spacePath)
    // FLAT needs no generation
    assert(lc.rebuildDeclared(spFor("embedding", "",
      """{"type":"FLAT"}"""), "embedding").isEmpty)
    // float HNSW → graph sidecar READY
    assert(lc.rebuildDeclared(spFor("embedding", "",
      """{"type":"HNSW","params":{"nlinks":16,"efConstruction":60}}"""),
      "embedding", numShards = 3).isDefined)
    assert(lc.state(Kind.Hnsw).isInstanceOf[lc.Ready])
    // int8 IVFFLAT → the int8 builder (de-quantized centroid domain),
    // scan sidecar READY and the routed int8 arm serves it
    assert(lc.rebuildDeclared(spFor("iv", ""","value_type":"int8"""",
      """{"type":"IVFFLAT","params":{"ncentroids":8,"nprobe":8,
         "metric_type":"InnerProduct"}}"""), "iv").isDefined)
    assert(lc.state(Kind.Ivf).isInstanceOf[lc.Ready] && lc.ready(Kind.Ivf).map(_.centroidModel("l2")).isDefined)
    // int8 IVFRABITQ → the int8 residual-sign builder, rb sidecar READY
    assert(lc.rebuildDeclared(spFor("iv", ""","value_type":"int8"""",
      """{"type":"IVFRABITQ","params":{"ncentroids":8,
         "metric_type":"InnerProduct"}}"""), "iv").isDefined)
    assert(lc.state(Kind.Rabitq).isInstanceOf[lc.Ready])
    // auto-build: below threshold no-op, at threshold builds the
    // DECLARED family (Vamana sidecar here), READY short-circuits
    val vamSp = spFor("iv", ""","value_type":"int8"""",
      """{"type":"DISKANN_STATIC","params":{"R":16,"L":32,
         "metric_type":"InnerProduct"}}""")
    assert(!lc.maybeAutoBuildDeclared(vamSp, "iv", trainingThreshold = Long.MaxValue))
    assert(lc.state(Kind.Vamana) == lc.Missing)
    assert(lc.maybeAutoBuildDeclared(vamSp, "iv", trainingThreshold = 1,
      numShards = 3))
    assert(lc.state(Kind.Vamana).isInstanceOf[lc.Ready])
    assert(!lc.maybeAutoBuildDeclared(vamSp, "iv", trainingThreshold = 1))
  }

  test("rebuild: BUILDING -> READY, searchable generation, force-merge, drop") {
    val root = Files.createTempDirectory("lifecycle").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .repartition(4).write.parquet(spacePath)

    val lc = new IndexLifecycle(spark, spacePath)
    assert(lc.state(Kind.Ivf) == lc.Missing)
    assert(lc.ready(Kind.Ivf).map(_.table).isEmpty)

    val ready = lc.rebuild("embedding", ncentroids = 8)
    assert(lc.state(Kind.Ivf) == lc.Ready(ready.gen, 8, ready.trainedDocs))
    assert(ready.trainedDocs ==
      spark.read.parquet(s"$sf/embeddings.parquet").count())
    assert(lc.staleness() == Some(0.0))

    // the READY generation serves IVF searches that match in-memory results
    val model = lc.ready(Kind.Ivf).map(_.centroidModel("l2")).get
    assert(model.ncentroids == 8)
    val idx = lc.ready(Kind.Ivf).map(_.table).get
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" === 5).select("embedding").head().getSeq[Float](0)
    val viaIndex = IvfIndex.search(idx, $"embedding", model, q, 5, nprobe = 8,
      tieBreak = Some($"vec_id")).select("vec_id").as[Long].collect().toSeq
    val exact = Knn.search(spark.read.parquet(s"$sf/embeddings.parquet"),
      $"embedding", q, 5, "l2", tieBreak = Some($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIndex == exact) // nprobe = ncentroids ⇒ exhaustive

    // rebuild again: new generation becomes READY
    val ready2 = lc.rebuild("embedding", ncentroids = 4)
    assert(ready2.gen >= ready.gen)
    assert(lc.ready(Kind.Ivf).map(_.centroidModel("l2")).get.ncentroids == 4)

    // force-merge compacts the space to one file
    lc.forceMerge(targetFiles = 1)
    val files = new java.io.File(spacePath).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 1)
    assert(spark.read.parquet(spacePath).count() > 0)

    lc.drop()
    assert(lc.state(Kind.Ivf) == lc.Missing)
  }

  test("appendDelta: new vectors searchable without a rebuild") {
    val root = Files.createTempDirectory("lifecycle3").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    lc.rebuild("embedding", ncentroids = 8)

    // delta: one synthetic vector very close to vec_id 0
    val q = emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)
    val delta = Seq((999999L, q.map(x => x + 1e-4f), 0))
      .toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label")
    lc.appendDelta(delta, "embedding")

    val model = lc.ready(Kind.Ivf).map(_.centroidModel("l2")).get
    val idx = lc.ready(Kind.Ivf).map(_.table).get
    val top2 = IvfIndex.search(idx, $"embedding", model, q, 2, nprobe = 1,
      tieBreak = Some($"vec_id")).select("vec_id").as[Long].collect().toSeq
    assert(top2.contains(999999L), s"appended vector not found: $top2")
    // state unchanged — still the same READY generation
    assert(lc.state(Kind.Ivf).isInstanceOf[lc.Ready])
    lc.drop()
  }

  test("auto-build triggers at training_threshold, not below") {
    val root = Files.createTempDirectory("lifecycle3").toString
    val spacePath = s"$root/space"
    (0 until 50).map(i => (i.toLong, Seq(i.toFloat, -i.toFloat)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    // below threshold: stays brute-force (no state)
    assert(!lc.maybeAutoBuild("embedding", 4, trainingThreshold = 100))
    assert(lc.ready(Kind.Ivf).map(_.table).isEmpty)
    // at/above threshold: builds to READY
    assert(lc.maybeAutoBuild("embedding", 4, trainingThreshold = 50))
    assert(lc.ready(Kind.Ivf).map(_.table).isDefined)
    // idempotent once READY
    assert(!lc.maybeAutoBuild("embedding", 4, trainingThreshold = 1))
  }

  test("drift past the retrain threshold triggers a retrained generation") {
    val root = Files.createTempDirectory("lifecycle4").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val ready0 = lc.rebuild("embedding", ncentroids = 8)

    // fold in a 50% delta: upsert to the space (training source) AND
    // append to the live index — the standard ingest contract
    val n = emb.count()
    val delta = emb.limit((n / 2).toInt)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label")
    delta.write.mode("append").parquet(spacePath)
    lc.appendDelta(delta, "embedding")
    val st = lc.staleness().get
    assert(st >= 0.49 && st <= 0.51, s"staleness $st")

    // below the drift threshold nothing happens; at it, a retrain runs
    assert(!lc.maybeRetrain("embedding", driftThreshold = 0.6))
    assert(lc.state(Kind.Ivf).asInstanceOf[lc.Ready].gen == ready0.gen)
    assert(lc.maybeRetrain("embedding", driftThreshold = 0.4))
    val ready1 = lc.state(Kind.Ivf).asInstanceOf[lc.Ready]
    assert(ready1.gen >= ready0.gen && ready1.trainedDocs == n + n / 2)
    assert(lc.staleness() == Some(0.0)) // fresh train covers the merged layout
    // idempotent after the retrain
    assert(!lc.maybeRetrain("embedding", driftThreshold = 0.4))

    // the retrained generation still serves exact IVF searches over the
    // merged layout (exhaustive probe ≡ brute force)
    val model = lc.ready(Kind.Ivf).map(_.centroidModel("l2")).get
    val idx = lc.ready(Kind.Ivf).map(_.table).get
    val q = emb.filter($"vec_id" === 5).select("embedding").head().getSeq[Float](0)
    val viaIndex = IvfIndex.search(idx, $"embedding", model, q, 5, nprobe = 8,
      tieBreak = Some($"vec_id")).select("vec_id").as[Long].collect().toSeq
    val exact = Knn.search(spark.read.parquet(spacePath),
      $"embedding", q, 5, "l2", tieBreak = Some($"vec_id"))
      .select("vec_id").as[Long].collect().toSeq
    assert(viaIndex == exact)
    lc.drop()
  }

  test("failed build leaves FAILED state and no ready index") {
    val root = Files.createTempDirectory("lifecycle2").toString
    val spacePath = s"$root/space"
    Seq((1L, "no-vector")).toDF("id", "s").write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    assertThrows[Exception](lc.rebuild("embedding", 4))
    assert(lc.state(Kind.Ivf).isInstanceOf[lc.Failed])
    // exception messages routinely contain colons ("java.lang.X: msg") —
    // the persisted reason must survive the sidecar's colon-delimited
    // format intact, not truncate at the first colon
    val reason = lc.state(Kind.Ivf).asInstanceOf[lc.Failed].reason
    assert(reason.contains(":"), s"expected a colon-bearing reason, got '$reason'")
    assert(lc.ready(Kind.Ivf).map(_.table).isEmpty)
  }

  test("graph layouts write one segment row per parquet file") {
    // a row group holding several tens-of-MB segment rows makes the
    // vectorized reader's batch allocation row-group-sized — OOMed at
    // 2M vectors (measured in the Stress tool). The write contract is
    // one segment row per file; this pins it against regression.
    val root = Files.createTempDirectory("lifecycle_onefile").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet").write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    lc.rebuildHnsw("vec_id", "embedding",
      graft.operators.HnswIndex.Params(8, 40, "l2", numShards = 3))
    val gen = lc.state(Kind.Hnsw).asInstanceOf[lc.Ready].gen
    val layout = new java.io.File(s"$spacePath.hnsw.g$gen")
    val parts = layout.listFiles().count(_.getName.endsWith(".parquet"))
    val segRows = spark.read.parquet(layout.toString).count()
    assert(segRows == 3L)
    assert(parts >= 3, s"expected one file per segment row, got $parts files")
    // every file holds at most one segment row
    val maxPerFile = spark.read.parquet(layout.toString)
      .select(org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .groupBy("f").count().agg(org.apache.spark.sql.functions.max("count"))
      .head().getLong(0)
    assert(maxPerFile == 1L, s"a layout file holds $maxPerFile segment rows")
  }

  test("HNSW generation: staleness tracks space growth, drift triggers rebuild") {
    val root = Files.createTempDirectory("lifecycle_hnsw").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 40, "l2", numShards = 2)
    lc.rebuildHnsw("vec_id", "embedding", p)
    assert(lc.hnswStaleness() == Some(0.0))
    assert(!lc.maybeRebuildHnsw("vec_id", "embedding", p, driftThreshold = 0.3))

    // grow the space 50% with exact clones under shifted ids
    emb.filter($"vec_id" < 250)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding", $"label")
      .write.mode("append").parquet(spacePath)
    assert(lc.hnswStaleness().exists(_ >= 0.49))
    assert(lc.maybeRebuildHnsw("vec_id", "embedding", p, driftThreshold = 0.3))
    assert(lc.state(Kind.Hnsw).asInstanceOf[lc.Ready].trainedDocs == 750L)

    // the fresh generation serves the appended vectors: the clone of doc 5
    // ties it at distance zero
    val q = emb.filter($"vec_id" === 5).select("embedding").head().getSeq[Float](0)
    val ids = graft.operators.HnswIndex
      .search(lc.ready(Kind.Hnsw).map(_.table.as[graft.operators.HnswIndex.Segment]).get, q, k = 3, ef = 1 << 30, metric = "l2")
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(5L) && ids.contains(1000005L))
  }

  test("delete ledger: recordDeletes/deletedSince, pruned at the READY flip") {
    val root = Files.createTempDirectory("lifecycle_ledger").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 40, "l2", numShards = 2)
    val g1 = lc.rebuildHnsw("vec_id", "embedding", p).gen

    lc.recordDeletes(Seq(3L, 9L))
    assert(lc.deletedSince(g1) == Set(3L, 9L))
    // a generation stamped AFTER the delete never needs the gate
    assert(lc.deletedSince(System.currentTimeMillis() + 60000L).isEmpty)

    // deleteByIds: space table rewritten AND ledger extended
    lc.deleteByIds("vec_id", Seq(11L))
    assert(lc.deletedSince(g1) == Set(3L, 9L, 11L))
    assert(spark.read.parquet(spacePath).filter($"vec_id" === 11L).count() == 0)

    // rebuild flips READY and prunes entries older than the oldest live
    // generation — the new graph was built from the live table, so the
    // ledger resets to empty for it
    Thread.sleep(2) // generation stamps are ms — ensure g2 > delete ts
    val g2 = lc.rebuildHnsw("vec_id", "embedding", p).gen
    assert(g2 > g1)
    assert(lc.deletedSince(g2).isEmpty)
  }

  test("compressed-code appends: delta encodes through stored models ≡ full re-encode; searches serve it") {
    val root = Files.createTempDirectory("lifecycle_capp").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val n = emb.count()
    val base = emb.filter($"vec_id" < n / 2)
    val delta = emb.filter($"vec_id" >= n / 2)
    val q = emb.filter($"vec_id" === 5).select("embedding").head().getSeq[Float](0)

    // ── IVFPQ: append ≡ re-encoding the full corpus with the SAME
    //    stored models (codes are a pure per-row function) ──
    val pqSpace = s"$root/pqspace"
    base.write.parquet(pqSpace)
    val lcPq = new IndexLifecycle(spark, pqSpace)
    lcPq.rebuildIvfPq("embedding", ncentroids = 4, m = 8, ksub = 16)
    lcPq.appendIvfPq(delta, "embedding")
    val (pqTable, ivf, pq) = lcPq.ready(Kind.Pq).map(g => (g.table, g.ivfModel("l2"), g.pqModel("l2"))).get
    def pqRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"list_id".cast("int"), $"pq_code")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Byte](2)))
        .toSet
    val fullEncode = graft.operators.PqIndex.encodeResidual(
      graft.operators.IvfIndex.assign(emb, "embedding", ivf), "embedding", ivf, pq)
    assert(pqRows(pqTable) == pqRows(fullEncode))
    // exact-params search over the appended layout ≡ brute over ALL rows
    // (delta rows included — fresh vectors are probe-searchable)
    val gotPq = graft.operators.PqIndex.searchIvfResidual(pqTable,
      $"embedding", ivf, pq, q, k = 5, nprobe = 4, recallNum = 1 << 20,
      idCol = $"vec_id")
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    val brute = Knn.search(emb, $"embedding", q, 5, "l2",
      tieBreak = Some($"vec_id"))
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(gotPq == brute)

    // ── IVFRABITQ: same contract for the 1-bit residual codes ──
    val rbSpace = s"$root/rbspace"
    base.write.parquet(rbSpace)
    val lcRb = new IndexLifecycle(spark, rbSpace)
    lcRb.rebuildIvfRabitq("embedding", ncentroids = 4)
    lcRb.appendIvfRabitq(delta, "embedding")
    val (rbTable, rbIvf) = lcRb.ready(Kind.Rabitq).map(g => (g.table, g.ivfModel("l2"))).get
    def rbRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"list_id".cast("int"), $"rbcode")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq))
        .toSet
    assert(rbRows(rbTable) == rbRows(graft.operators.BinaryIndex.encodeResidual(
      graft.operators.IvfIndex.assign(emb, "embedding", rbIvf), "embedding", rbIvf)))
    val gotRb = graft.operators.BinaryIndex.searchIvfResidual(rbTable,
      $"embedding", rbIvf, q, k = 5, nprobe = 4, shortlist = 1 << 20,
      idCol = $"vec_id")
      .select($"vec_id").collect().map(_.getLong(0)).toSeq
    assert(gotRb == brute)

    // ── BINARYIVF: delta codes assign to their Hamming-nearest STORED
    //    centroid; full-probe search ≡ brute Hamming over all codes ──
    val coded = graft.operators.BinaryIndex.encode(emb, "embedding")
      .select($"vec_id".as("_id"), $"label", $"bcode".as("embedding"))
    val bSpace = s"$root/bspace"
    coded.filter($"_id" < n / 2).write.parquet(bSpace)
    val lcB = new IndexLifecycle(spark, bSpace)
    lcB.rebuildBinaryIvf("embedding", ncentroids = 4)
    lcB.appendBinaryIvf(coded.filter($"_id" >= n / 2), "embedding")
    val (bTable, cents) = lcB.ready(Kind.BinaryIvf).map(g => (g.table, g.binaryCentroids)).get
    assert(bTable.count() == n)
    val qCode = coded.filter($"_id" === 5).select("embedding")
      .head().getAs[Array[Byte]](0)
    val gotB = graft.operators.BinaryIndex.searchBatchBinaryIvf(bTable,
      "embedding", cents, Seq((0L, qCode)), k = 5, nprobe = 4,
      idCol = $"_id")
      .select($"_id").collect().map(_.getLong(0)).toSeq
    val bruteB = Knn.searchBinary(coded, $"embedding", qCode, 5,
      tieBreak = Some($"_id"))
      .select($"_id").collect().map(_.getLong(0)).toSeq
    assert(gotB == bruteB)
  }

  test("sidecar IO rides the Hadoop FS of the space path's scheme (file:// round-trip)") {
    val root = Files.createTempDirectory("lifecycle_fs").toString
    // an explicit URI scheme: java.nio file IO would treat this as a
    // relative path beginning "file:" and miss every sidecar — exactly
    // the object-store failure mode (s3a:// spaces losing their ledger
    // contract). RawLocalFileSystem exercised THROUGH the Hadoop API.
    val spacePath = s"file://$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    assert(lc.state(Kind.Ivf) == lc.Missing)
    val ready = lc.rebuild("embedding", ncentroids = 4)
    assert(lc.state(Kind.Ivf) == lc.Ready(ready.gen, 4, ready.trainedDocs))
    assert(lc.ready(Kind.Ivf).map(_.table).get.count() == emb.count())
    // ledgers read/write through the same handle
    lc.recordDeletes(Seq(1L, 2L))
    assert(lc.deletedSince(ready.gen) == Set(1L, 2L))
    lc.recordMutations(5L)
    assert(lc.mutationsSince(ready.gen) == 7L) // 2 delete churn + 5
    // the sidecars physically live under the URI root, not the CWD
    assert(new java.io.File(s"$root/space.index_state.json").exists)
    assert(new java.io.File(s"$root/space.delete_ledger").exists)
    // a READY flip prunes BOTH ledgers (entries older than the oldest
    // live generation — here, everything)
    Thread.sleep(2)
    val g2 = lc.rebuild("embedding", ncentroids = 4).gen
    assert(lc.deletedSince(g2).isEmpty)
    assert(lc.mutationsSince(0L) == 0L) // mutation ledger pruned too
    lc.drop()
    assert(lc.state(Kind.Ivf) == lc.Missing)
  }

  test("recoverSwap: a crashed move-aside swap restores on the next mutator") {
    val root = Files.createTempDirectory("lifecycle_rec").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    // simulate the crash window of deleteByIds/forceMerge: the table
    // renamed aside, the new table never moved in
    val p = new org.apache.hadoop.fs.Path(spacePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$spacePath.old"))
    assert(!fs.exists(p))
    // the next mutator recovers the pre-op table and completes
    lc.deleteByIds("vec_id", Seq(0L))
    val live = spark.read.parquet(spacePath)
    assert(live.filter($"vec_id" === 0L).count() == 0)
    assert(live.count() == emb.count() - 1)
  }

  test("crash drill deleteByIds: killed between the renames → recovery = no-op, ledger clean, serving intact") {
    // the TRUE mid-crash state: the post-op table fully written to
    // .delete.tmp, the pre-op table renamed aside, the second rename
    // and the ledger write never happened
    val root = Files.createTempDirectory("crash_ids").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val n = emb.count()
    val lc = new IndexLifecycle(spark, spacePath)
    lc.rebuild("embedding", 4) // READY generation to serve through
    val victims = Seq(0L, 1L, 2L)
    graft.operators.Documents.deleteByIds(
      spark.read.parquet(spacePath), "vec_id", victims)
      .write.mode("overwrite").parquet(s"$spacePath.delete.tmp")
    val p = new org.apache.hadoop.fs.Path(spacePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$spacePath.old"))
    assert(!fs.exists(p)) // the crash window
    // recovery: the crashed op is a NO-OP — pre-op table back whole,
    // ledger has no phantom deletes, the READY generation still serves
    lc.recoverSwap()
    val live = spark.read.parquet(spacePath)
    assert(live.count() == n)
    assert(live.filter($"vec_id" === 0L).count() == 1)
    assert(lc.allDeletes().isEmpty,
      "a crashed delete must not leave ledger entries (its rows still serve)")
    assert(lc.ready(Kind.Ivf).map(_.gen).isDefined)
    val (table, model) = (lc.ready(Kind.Ivf).map(_.table).get, lc.ready(Kind.Ivf).map(_.centroidModel("l2")).get)
    assert(IvfIndex.search(table, col("embedding"),
      model, emb.head.getSeq[Float](emb.columns.indexOf("embedding")),
      5, model.ncentroids).count() == 5)
    // the re-attempt completes over the orphaned .tmp: table AND ledger
    lc.deleteByIds("vec_id", victims)
    assert(spark.read.parquet(spacePath).count() == n - 3)
    assert(lc.allDeletes() == victims.toSet)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$spacePath.old")))
  }

  test("crash drill deleteByPk: killed between the renames → docid ledger stays consistent with the table") {
    val root = Files.createTempDirectory("crash_pk").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(concat(lit("d"), col("vec_id")).as("_id"),
        col("vec_id").cast("long").as("_docid"), col("embedding"))
    emb.write.parquet(spacePath)
    val n = emb.count()
    val lc = new IndexLifecycle(spark, spacePath)
    // simulate the crash: post-op table staged, first rename done
    spark.read.parquet(spacePath).filter(!$"_id".isin("d0", "d1"))
      .write.mode("overwrite").parquet(s"$spacePath.delete.tmp")
    val p = new org.apache.hadoop.fs.Path(spacePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$spacePath.old"))
    // the next mutator self-recovers THEN applies: end state ≡ one
    // clean run — rows gone, THEIR docids (resolved pre-delete) ledgered
    lc.deleteByPk("_id", Seq("d0", "d1"))
    val live = spark.read.parquet(spacePath)
    assert(live.count() == n - 2)
    assert(live.filter($"_id".isin("d0", "d1")).count() == 0)
    assert(lc.allDeletes() == Set(0L, 1L),
      "ledger must record the ROUTING docids of exactly the deleted pks")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$spacePath.old")))
  }

  test("crash drill forceMerge: killed between the renames → table restored byte-identical, re-merge compacts") {
    val root = Files.createTempDirectory("crash_merge").toString
    val spacePath = s"$root/space"
    spark.read.parquet(s"$sf/embeddings.parquet").repartition(8)
      .write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val before = spark.read.parquet(spacePath)
      .orderBy("vec_id").collect().map(_.toString).toSeq
    spark.read.parquet(spacePath).coalesce(1)
      .write.mode("overwrite").parquet(s"$spacePath.merge.tmp")
    val p = new org.apache.hadoop.fs.Path(spacePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(s"$spacePath.old"))
    lc.recoverSwap()
    assert(spark.read.parquet(spacePath)
      .orderBy("vec_id").collect().map(_.toString).toSeq == before)
    lc.forceMerge(targetFiles = 1)
    val files = fs.listStatus(p).map(_.getPath.getName)
      .count(_.endsWith(".parquet"))
    assert(files == 1)
    assert(spark.read.parquet(spacePath)
      .orderBy("vec_id").collect().map(_.toString).toSeq == before)
  }

  test("hnswStaleness: churn term sees in-place updates and deletes (row count unchanged/shrinking)") {
    val root = Files.createTempDirectory("lifecycle_churn").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.write.parquet(spacePath)
    val n = emb.count()
    val lc = new IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 40, "l2", numShards = 2)
    lc.rebuildHnsw("vec_id", "embedding", p)
    assert(lc.hnswStaleness() == Some(0.0))

    // an in-place UPDATE churn (e.g. RealtimeTail.compact folding tail
    // rows over existing ids) leaves the row count unchanged — the raw
    // growth metric reads 0.0 and stale vectors would serve unboundedly;
    // the mutation ledger keeps the drift trigger honest
    lc.recordMutations(n / 2)
    assert(lc.hnswStaleness().exists(s => s >= 0.49 && s <= 0.51))
    assert(lc.maybeRebuildHnsw("vec_id", "embedding", p, driftThreshold = 0.3))
    // rebuilt: churn before the new generation no longer counts
    assert(lc.hnswStaleness().exists(_ <= 0.01))

    // deletions: negative growth, positive churn
    lc.deleteByIds("vec_id", (0L until n / 4).toSeq)
    assert(lc.hnswStaleness().exists(_ >= 0.24))
  }

  test("appendHnswClustered: delta becomes routed sub-segments in the same generation") {
    val root = Files.createTempDirectory("lifecycle_capp").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.filter($"vec_id" < 300).write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 40, "l2")
    val g1 = lc.rebuildHnswClustered("vec_id", "embedding", p, ncentroids = 4).gen

    // a delete after the build — the ledger must keep covering it across
    // the append (generation stamp unchanged)
    lc.recordDeletes(Seq(5L))

    val tail = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    tail.write.mode("append").parquet(spacePath)
    lc.appendHnswClustered(tail, "vec_id", "embedding", p)
    assert(lc.ready(Kind.Hnsw).map(_.gen).contains(g1)) // same generation
    assert(lc.state(Kind.Hnsw).asInstanceOf[lc.Ready].trainedDocs == 400L)
    assert(lc.deletedSince(lc.ready(Kind.Hnsw).map(_.baseline).get) == Set(5L))

    // routed search at the full route ≡ brute over old ∪ delta: appended
    // vectors are found, every sub-segment row is a complete graph
    val ivf = lc.ready(Kind.Hnsw).flatMap(_.routedModel("l2")).get
    val segs = lc.ready(Kind.Hnsw).map(_.table.as[graft.operators.HnswIndex.Segment]).get
    val q = emb.filter($"vec_id" === 350).select("embedding").head().getSeq[Float](0)
    val got = graft.operators.HnswIndex.searchRouted(segs, ivf, q, k = 5,
      ef = 1 << 30, metric = "l2", nprobe = ivf.ncentroids)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = graft.operators.Knn.search(spark.read.parquet(spacePath),
      org.apache.spark.sql.functions.col("embedding"), q, 5, "l2",
      tieBreak = Some($"vec_id"))
      .select($"vec_id", $"_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    assert(got.head._1 == 350L) // the appended vector itself ranks first
  }

  test("appendHnsw: tail folds in ≡ rebuild; delete-ledger baseline survives the append") {
    val root = Files.createTempDirectory("lifecycle_append").toString
    val spacePath = s"$root/space"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    emb.filter($"vec_id" < 300).write.parquet(spacePath)
    val lc = new IndexLifecycle(spark, spacePath)
    val p = graft.operators.HnswIndex.Params(8, 40, "l2", numShards = 2)
    val g1 = lc.rebuildHnsw("vec_id", "embedding", p).gen

    // a delete AFTER the build, BEFORE the append: the appended
    // generation still carries the node, so its gate must reach back
    lc.recordDeletes(Seq(7L))

    val tail = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    tail.write.mode("append").parquet(spacePath)
    Thread.sleep(2)
    val g2 = lc.appendHnsw(tail, "vec_id", "embedding", p).gen
    assert(g2 > g1)
    assert(lc.state(Kind.Hnsw).asInstanceOf[lc.Ready].trainedDocs == 400L)

    // baseline = ORIGINAL build stamp, so the pre-append delete is gated
    assert(lc.ready(Kind.Hnsw).get.baseline == g1)
    assert(lc.ready(Kind.Hnsw).map(_.baseline).contains(g1))
    assert(lc.deletedSince(lc.ready(Kind.Hnsw).map(_.baseline).get) == Set(7L))

    // the appended generation ≡ a full rebuild over the whole space
    val appended = lc.ready(Kind.Hnsw).map(_.table.as[graft.operators.HnswIndex.Segment]).get.collect()
      .sortBy(_.shard_id)
      .map(s => (s.shard_id, s.entry,
        s.nodes.map(nd => (nd.id, nd.level, nd.nbrs.map(_.toSeq).toSeq)).toSeq))
    val rebuilt = graft.operators.HnswIndex
      .build(spark.read.parquet(spacePath), "vec_id", "embedding", p)
      .collect().sortBy(_.shard_id)
      .map(s => (s.shard_id, s.entry,
        s.nodes.map(nd => (nd.id, nd.level, nd.nbrs.map(_.toSeq).toSeq)).toSeq))
    assert(appended.toSeq == rebuilt.toSeq)

    // a FULL rebuild resets the baseline to its own stamp
    Thread.sleep(2)
    val g3 = lc.rebuildHnsw("vec_id", "embedding", p).gen
    assert(lc.ready(Kind.Hnsw).get.baseline == g3)
    assert(lc.deletedSince(g3).isEmpty)
  }

  test("stale BUILDING markers age out as FAILED and stop deferring ledger pruning") {
    val spacePath = java.nio.file.Files
      .createTempDirectory("lc_stale").toString + "/space"
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(org.apache.spark.sql.functions.col("vec_id").as("_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .limit(200).write.parquet(spacePath)
    val lc = new graft.api.IndexLifecycle(spark, spacePath)
    lc.recordDeletes(Seq(1L, 2L))
    // a crashed build's leftover: BUILDING stamped far past the deadline
    graft.sources.SidecarIO.writeString(
      s"$spacePath.hnsw_state.json", "BUILDING:1000:")
    Thread.sleep(2)
    // the READY flip's prune must age the marker out instead of
    // deferring forever (both ledgers would otherwise grow unbounded)
    lc.rebuild("embedding", 2)
    lc.state(Kind.Hnsw) match {
      case f: lc.Failed =>
        assert(f.gen == 1000L && f.reason.contains("aged out"))
      case other => fail(s"expected FAILED, got $other")
    }
    // and pruning actually ran: the pre-build entries are gone
    assert(lc.deletedSince(0L).isEmpty)
    // a FRESH build marker still defers (the normal in-flight contract)
    lc.recordDeletes(Seq(3L))
    graft.sources.SidecarIO.writeString(
      s"$spacePath.hnsw_state.json",
      s"BUILDING:${System.currentTimeMillis()}:")
    Thread.sleep(2)
    lc.rebuild("embedding", 2)
    assert(lc.deletedSince(0L) == Set(3L))
  }
}
