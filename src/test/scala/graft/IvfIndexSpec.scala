package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Knn}

/** IVF correctness + the reference CI recall gates
  * (test/test_recall_baseline.py:301-303: recall@1 ≥ 0.5, @10 ≥ 0.8,
  * @100 ≥ 0.9 vs exact ground truth).
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet").cache()
  private lazy val model = IvfIndex.train(emb, "embedding", ncentroids = 16)
  private lazy val assigned = IvfIndex.assign(emb, "embedding", model).cache()

  private def queryVecs(n: Int): Seq[(Long, Seq[Float])] =
    emb.filter($"vec_id" < n).select($"vec_id", $"embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

  private def exactTopK(q: Seq[Float], k: Int): Seq[Long] =
    Knn.search(emb, $"embedding", q, k, "l2", tieBreak = Some($"vec_id"))
      .select($"vec_id").as[Long].collect().toSeq

  private def ivfTopK(q: Seq[Float], k: Int, nprobe: Int): Seq[Long] =
    IvfIndex.search(assigned, $"embedding", model, q, k, nprobe,
      tieBreak = Some($"vec_id")).select($"vec_id").as[Long].collect().toSeq

  test("full probe (nprobe = ncentroids) equals brute force exactly") {
    for ((_, q) <- queryVecs(3)) {
      assert(ivfTopK(q, 10, model.ncentroids) == exactTopK(q, 10))
    }
  }

  test("recall gates: @1 >= 0.5, @10 >= 0.8 at nprobe=8/16") {
    val queries = queryVecs(20)
    var hit1 = 0; var hit10 = 0; var n10 = 0
    for ((_, q) <- queries) {
      val gt = exactTopK(q, 10)
      val got = ivfTopK(q, 10, nprobe = 8)
      if (got.headOption == gt.headOption) hit1 += 1
      hit10 += got.toSet.intersect(gt.toSet).size
      n10 += gt.size
    }
    val r1 = hit1.toDouble / queries.size
    val r10 = hit10.toDouble / n10
    assert(r1 >= 0.5, s"recall@1 = $r1")
    assert(r10 >= 0.8, s"recall@10 = $r10")
  }

  test("brute-search planner switch bypasses probe filter") {
    val q = queryVecs(1).head._2
    val brute = IvfIndex.search(assigned, $"embedding", model, q, 10, 1,
      isBruteSearch = 1, tieBreak = Some($"vec_id"))
      .select($"vec_id").as[Long].collect().toSeq
    assert(brute == exactTopK(q, 10))
  }

  test("partitioned table: probe becomes partition pruning (no full scan)") {
    val dir = Files.createTempDirectory("ivf_tbl").toFile.getAbsolutePath
    IvfIndex.buildTable(emb, "embedding", model, dir)
    val corpus = spark.read.parquet(dir)
    val q = queryVecs(1).head._2
    val lists = model.nearestCentroids(q, 4)
    val plan = corpus.filter($"list_id".isin(lists: _*))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("list_id"),
      s"probe not pushed to partition pruning:\n$plan")
    // and search over the partitioned table matches in-memory IVF
    val viaTable = IvfIndex.search(corpus, $"embedding", model, q, 10, 4,
      tieBreak = Some($"vec_id")).select($"vec_id").as[Long].collect().toSeq
    assert(viaTable == ivfTopK(q, 10, 4))
  }

  test("batched scan operators at partial nprobe: a batch with sparse qids ≡ each query alone") {
    import graft.operators.{BinaryIndex, PqIndex}
    import org.apache.spark.sql.{Column, DataFrame}
    // qids out of order and far apart; 3 of 16 lists probed per query, so
    // the queries probe different lists and a row must meet only the
    // queries that probe its own list
    val qs = queryVecs(4).map(_._2).zip(Seq(900L, 3L, 77L, 12L))
      .map { case (q, qid) => (qid, q) }
    def perQid(df: DataFrame, id: Column): Map[Long, Seq[(Long, Double)]] =
      df.select($"_qid".cast("long"), id.cast("long"), $"_score").collect()
        .groupBy(_.getLong(0)).map { case (qid, rs) =>
          qid -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq
            .sortBy { case (i, sc) => (sc, i) } }
    def check[Q](name: String, queries: Seq[(Long, Q)], id: Column)(
        run: Seq[(Long, Q)] => DataFrame): Map[Long, Seq[(Long, Double)]] = {
      val batch = perQid(run(queries), id)
      val alone = queries.map { case (qid, q) =>
        qid -> perQid(run(Seq((qid, q))), id).getOrElse(qid, Seq.empty) }.toMap
      assert(batch.keySet == queries.map(_._1).toSet, name)
      assert(batch == alone, name)
      batch
    }
    val ivf = check("IVFFLAT", qs, $"_item.vec_id")(b =>
      IvfIndex.searchBatch(assigned, $"embedding", struct($"vec_id"), b, model,
        k = 10, nprobe = 3))
    for ((qid, q) <- qs) assert(ivf(qid).map(_._1) == ivfTopK(q, 10, 3))
    val i8 = assigned.withColumn("iv", graft.Graft.F.quantizeI8($"embedding"))
    val qsI8 = qs.map { case (qid, q) => (qid, (q, graft.functions.VecKernels
      .quantizeI8(new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray)))) }
    check("int8 IVFFLAT", qsI8, $"_item.vec_id")(b =>
      IvfIndex.searchBatchInt8(i8, $"iv", struct($"vec_id"),
        b.map { case (qid, (f, c)) => (qid, f, c) }, model, k = 10, nprobe = 3))
    val pq = PqIndex.trainResidual(assigned, "embedding", dim = 64, m = 8,
      model, ksub = 16)
    val pqEnc = PqIndex.encodeResidual(assigned, "embedding", model, pq)
    check("IVFPQ", qs, $"_id")(b =>
      PqIndex.searchBatchIvfResidual(pqEnc, $"embedding", model, pq, b, k = 10,
        nprobe = 3, recallNum = 40, idCol = $"vec_id"))
    val rbEnc = BinaryIndex.encodeResidual(assigned, "embedding", model)
    check("IVFRABITQ", qs, $"_id")(b =>
      BinaryIndex.searchBatchIvfResidual(rbEnc, $"embedding", model, b, k = 10,
        nprobe = 3, shortlist = 40, idCol = $"vec_id"))
    val coded = BinaryIndex.encode(emb, "embedding")
    val cents = BinaryIndex.trainBinary(coded, "vec_id", "bcode", ncentroids = 16)
    val bTable = BinaryIndex.assignBinary(coded, "bcode", cents)
    val codes = coded.filter($"vec_id" < 4).select($"vec_id", $"bcode").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    check("BINARYIVF", qs.zipWithIndex.map { case ((qid, _), i) => (qid, codes(i.toLong)) },
      $"_id")(b => BinaryIndex.searchBatchBinaryIvf(bTable, "bcode", cents, b,
        k = 10, nprobe = 3, idCol = $"vec_id"))
  }
}
