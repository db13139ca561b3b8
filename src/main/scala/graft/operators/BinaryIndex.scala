package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Graft.F
import graft.functions.VecKernels

/** 1-bit quantization search — the RaBitQ/BINARYIVF capability class
  * (reference gamma_index_ivfrabitq.cc / gamma_index_binary_ivf.cc):
  * vectors compress to dim/8-byte sign codes, candidate generation is a
  * Hamming-distance shortlist over the codes (popcount of xor — 64×
  * smaller scan than raw floats), exact scoring reranks the shortlist.
  *
  * For angle-preserving data (normalized embeddings) the sign code keeps
  * enough signal that a shortlist of a few % of N recovers high recall;
  * the rerank makes the final top-k exact over the shortlist.
  */
object BinaryIndex {

  /** Add the packed sign-bit code column. */
  def encode(df: DataFrame, vecCol: String, codeCol: String = "bcode"): DataFrame =
    df.withColumn(codeCol, F.signBits(col(vecCol)))

  /** IVF+RaBitQ residual codes (gamma_index_ivfrabitq.cc: the binary code
    * quantizes v − coarse_centroid, not v): add `codeCol` = sign bits of
    * each row's residual against its assigned list's centroid. Residual
    * directions decorrelate within a list, so the same 1 bit/dim carries
    * more discriminating signal than global sign codes.
    */
  def encodeResidual(assigned: DataFrame, vecCol: String, ivf: IvfIndex.Model,
      codeCol: String = "rbcode"): DataFrame =
    assigned.withColumn(codeCol, graft.Graft.columnOf(
      graft.functions.ResidualSignBits(
        graft.Graft.exprOf(col(vecCol)),
        graft.Graft.exprOf(col("list_id")), ivf.centroids)))

  /** Full IVFRABITQ search: coarse probe (partition pruning on `list_id`)
    * → asymmetric residual estimator over codes only (each probed list
    * scores against ITS residual query q − c_list, qb-bit quantized,
    * joined in as data) → exact rerank of the shortlist survivors.
    */
  def searchIvfResidual(
      corpus: DataFrame, // carries list_id + codeCol + raw vectors
      vecCol: Column,
      ivf: IvfIndex.Model,
      q: Seq[Float],
      k: Int,
      nprobe: Int,
      shortlist: Int,
      idCol: Column,
      metric: String = "l2",
      codeCol: String = "rbcode",
      qb: Int = 4,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      roundTo: Option[Int] = None,
      // INT8 spaces: codes + centroids live in the raw-code float domain
      // (`q` must be the quantized query's code values as floats) and the
      // exact rerank scores the stored int8 column with the integer
      // kernels — full probe + corpus-deep shortlist stays exact.
      rerankInt8: Option[Array[Byte]] = None): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val lists = ivf.nearestCentroids(q, nprobe)
    val qres = lists.map { l =>
      val c = ivf.centroids(l)
      val r = q.toArray.zipWithIndex.map { case (x, i) =>
        x - (if (i < c.length) c(i) else 0f)
      }
      (l, quantizeQuery(r.toSeq, qb).toSeq)
    }
    val qDf = qres.toDF("list_id", "_qres")
      .select(col("list_id"), col("_qres").cast("array<float>").as("_qres"))
    val probed = corpus.filter(col("list_id").isin(lists: _*))
    val cand = probed
      .select(idCol.as("_sid"), col("list_id"), col(codeCol))
      .join(broadcast(qDf), Seq("list_id"))
      .withColumn("_est", F.signAdot(col(codeCol), col("_qres")))
      .filter(col("_est").isNotNull)
      .orderBy(col("_est").desc, col("_sid").asc)
      .limit(shortlist)
      .select(col("_sid"))
    val rerank = probed.join(broadcast(cand), idCol === col("_sid"), "left_semi")
    // score gate applies at the EXACT-rerank stage — the reference's heap
    // admission point (gamma_common_data.h:94-96); a deeper `shortlist`
    // widens the gated pool exactly like it widens recall
    rerankInt8 match {
      case Some(qbytes) =>
        Knn.searchInt8(rerank, vecCol, qbytes, k, metric, minScore = minScore,
          maxScore = maxScore, tieBreak = Some(idCol), roundTo = roundTo)
      case None =>
        Knn.search(rerank, vecCol, q, k, metric, minScore = minScore,
          maxScore = maxScore, tieBreak = Some(idCol), roundTo = roundTo)
    }
  }

  /** Batched IVFRABITQ (vearch `req_num`, doc_query.go:296-318 flattens
    * req_num queries into ONE index request): per-(query, probed-list)
    * residual queries join in on `list_id` EQUALITY — each list's codes
    * score against exactly ITS residual query (the same asymmetric shape
    * as [[searchIvfResidual]]) — then a bounded per-qid top-`shortlist`
    * estimator pass feeds one shared exact rerank. One scan of the union
    * of probed lists serves the whole batch. Output: (_qid, _id, _score).
    */
  def searchBatchIvfResidual(
      corpus: DataFrame, // carries list_id + codeCol + raw vectors
      vecCol: Column,
      ivf: IvfIndex.Model,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nprobe: Int,
      shortlist: Int,
      idCol: Column,
      metric: String = "l2",
      codeCol: String = "rbcode",
      qb: Int = 4,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      // INT8 batches: each query's quantized code, in `queries` order,
      // for the integer-kernel rerank (see [[searchIvfResidual]]'s rerankInt8)
      rerankInt8: Option[Seq[(Long, Array[Byte])]] = None): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val spark = corpus.sparkSession
    import spark.implicits._
    // up to the rerank, `_qid` holds the query's POSITION in `queries`,
    // so the rerank reads its query from a literal array in O(1)
    val qlRows = queries.zipWithIndex.flatMap { case ((_, q), pos) =>
      ivf.nearestCentroids(q, nprobe).map { l =>
        val c = ivf.centroids(l)
        val r = q.toArray.zipWithIndex.map { case (x, i) =>
          x - (if (i < c.length) c(i) else 0f)
        }
        (pos, l, quantizeQuery(r.toSeq, qb).toSeq)
      }
    }
    val qDf = qlRows.toDF("_qid", "list_id", "_qres")
      .select(col("_qid"), col("list_id"), col("_qres").cast("array<float>").as("_qres"))
    val union = qlRows.map(_._2).distinct
    val pruned =
      if (union.isEmpty) corpus.limit(0)
      else corpus.filter(col("list_id").isin(union: _*))
    val est = pruned.select(idCol.as("_sid"), col("list_id"), col(codeCol))
      .join(broadcast(qDf), Seq("list_id"))
      .select(col("_qid"), F.signAdot(col(codeCol), col("_qres")).as("_est"),
        col("_sid"))
      .filter(col("_est").isNotNull)
    // larger sign-dot = closer (descending, same as the single path)
    val short = Knn.topKPerQuery(est, queries.size, shortlist, asc = false,
        "_sid", "_est")
      .select(col("_qid"), col("_sid"))
    val rerank0 = corpus.join(broadcast(short), idCol === col("_sid"))
      .select(Knn.atPosition(queries.map(_._1), col("_qid")).as("_qid"),
        Knn.rerankScore(metric, vecCol, queries, rerankInt8, col("_qid")).as("_score"),
        idCol.as("_id"))
      .filter(col("_score").isNotNull)
    // in-scan score gate at the exact-rerank stage (see searchIvfResidual)
    val rerank = Knn.scoreGate(rerank0, minScore, maxScore)
    Knn.topKPerQuery(rerank, queries.size, k, Knn.ascending(metric), "_id")
  }

  /** Quantize the query to qb bits per dimension (uniform min–max scalar
    * quantization — the RaBitQ query-side SQ step,
    * gamma_index_ivfrabitq.cc:105,214-223). Values are returned
    * DEQUANTIZED (floats snapped to their 2^qb levels), so the estimator
    * kernel stays a plain float dot; qb only controls the fidelity.
    * qb = 0 is the reference's "no query quantization" setting
    * (space.go:302-319 accepts qb ∈ [0,8]): the raw query feeds the
    * asymmetric estimator unmodified — the highest-fidelity stage-1
    * ranking the 1-bit corpus codes can support.
    */
  def quantizeQuery(q: Seq[Float], qb: Int): Array[Float] = {
    require(qb >= 0 && qb <= 8, s"qb must be in [0,8], got $qb")
    val arr = q.toArray
    val mn = arr.min
    val mx = arr.max
    if (qb == 0 || mx == mn) arr
    else {
      val levels = (1 << qb) - 1
      arr.map { x =>
        val l = math.round((x - mn) / (mx - mn) * levels)
        (l.toFloat / levels) * (mx - mn) + mn
      }
    }
  }

  /** Code-only shortlist → id shortlist → semi-join rerank.
    *
    * Stage-1 estimator (per `qb`, the RaBitQ query-quantization bits):
    *  - qb = 1: symmetric Hamming over packed codes (both sides 1-bit);
    *  - qb = 0 (reference "unquantized query", space.go:302-319) or
    *    qb in [2,8]: asymmetric sign-dot — corpus bits vs the query
    *    (raw at qb=0, qb-bit quantized otherwise; keeps per-dim
    *    magnitudes, strictly better candidate ranking for the same
    *    corpus bytes; descending order, larger dot = closer for
    *    angle-preserving data).
    *
    * Stage 1 projects (id, code) immediately so parquet column pruning
    * drops the raw float vectors from the shortlist scan — dim/8 bytes per
    * row instead of 4·dim (a 32× IO cut at dim=64). Only the `shortlist`
    * survivors' raw vectors are fetched by the stage-2 broadcast semi-join
    * for the exact rerank.
    */
  def search(
      corpus: DataFrame, // carries codeCol + the raw vector column
      vecCol: Column,
      q: Seq[Float],
      k: Int,
      shortlist: Int,
      idCol: Column,
      metric: String = "l2",
      codeCol: String = "bcode",
      roundTo: Option[Int] = None,
      qb: Int = 1): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    val scored =
      if (qb == 1) {
        val qCode = VecKernels.signBits(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(q.toArray))
          .asInstanceOf[Array[Byte]]
        corpus.select(idCol.as("_sid"), col(codeCol))
          .withColumn("_est", F.hamming(col(codeCol), lit(qCode)))
          .filter(col("_est").isNotNull) // null codes must not head the shortlist
          .orderBy(col("_est").asc, col("_sid").asc)
      } else {
        val qq = quantizeQuery(q, qb)
        corpus.select(idCol.as("_sid"), col(codeCol))
          .withColumn("_est", graft.Graft.columnOf(
            graft.functions.SignAdot(graft.Graft.exprOf(col(codeCol)), qq)))
          .filter(col("_est").isNotNull)
          .orderBy(col("_est").desc, col("_sid").asc)
      }
    val cand = scored.limit(shortlist).select(col("_sid"))
    val rerank = corpus.join(broadcast(cand), idCol === col("_sid"), "left_semi")
    Knn.search(rerank, vecCol, q, k, metric, tieBreak = Some(idCol), roundTo = roundTo)
  }

  // ── BINARYIVF: a Hamming coarse quantizer over the CODES themselves
  //    (reference gamma_index_binary_ivf.cc wraps faiss IndexBinaryIVF:
  //    binary k-means centroids, min-Hamming assignment, nprobe lists
  //    scanned with Hamming ranking). Independent implementation of the
  //    standard binary k-means: per-bit MAJORITY vote recomputes each
  //    centroid; assignment ties break on centroid index; seeds are the
  //    id-order first distinct codes — the whole model is a pure
  //    function of (corpus, params). ────────────────────────────────────

  private def hammingLocal(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var d = 0; var i = 0
    while (i < n) { d += java.lang.Integer.bitCount((a(i) ^ b(i)) & 0xff); i += 1 }
    d
  }

  /** Train the binary coarse quantizer on a bounded, deterministic
    * sample (id-ascending — the IvfIndex.train contract). Returns packed
    * centroid codes, ≤ ncentroids (degenerate corpora cap at the
    * distinct-code count).
    */
  def trainBinary(df: DataFrame, idCol: String, codeCol: String,
      ncentroids: Int, maxIter: Int = 10,
      maxTrainRows: Long = 100000L): Array[Array[Byte]] = {
    val rows = df.filter(col(codeCol).isNotNull)
      .orderBy(col(idCol)).limit(maxTrainRows.toInt)
      .select(col(codeCol)).collect().map(_.getAs[Array[Byte]](0))
    require(rows.nonEmpty, "cannot train a binary IVF on an empty corpus")
    val nbytes = rows(0).length
    // seeds: first k DISTINCT codes in id order (deterministic, spread)
    val seen = mutable.LinkedHashSet.empty[Seq[Byte]]
    rows.iterator.takeWhile(_ => seen.size < ncentroids)
      .foreach(c => seen += c.toSeq)
    var cents = seen.toArray.map(_.toArray)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      val counts = Array.fill(cents.length)(0L)
      val bitVotes = Array.fill(cents.length, nbytes * 8)(0L)
      rows.foreach { c =>
        var best = 0; var bestD = Int.MaxValue
        var j = 0
        while (j < cents.length) {
          val d = hammingLocal(c, cents(j))
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        counts(best) += 1
        var bit = 0
        while (bit < nbytes * 8) {
          if (((c(bit >> 3) >> (bit & 7)) & 1) == 1) bitVotes(best)(bit) += 1
          bit += 1
        }
      }
      val next = cents.indices.map { j =>
        if (counts(j) == 0) cents(j) // empty list keeps its centroid
        else {
          val out = new Array[Byte](nbytes)
          var bit = 0
          while (bit < nbytes * 8) {
            // strict majority sets the bit; exact ties clear it — a
            // deterministic rule, no RNG
            if (bitVotes(j)(bit) * 2 > counts(j))
              out(bit >> 3) = (out(bit >> 3) | (1 << (bit & 7))).toByte
            bit += 1
          }
          out
        }
      }.toArray
      changed = !next.indices.forall(j => java.util.Arrays.equals(next(j), cents(j)))
      cents = next
      iter += 1
    }
    cents
  }

  /** Nearest-centroid lists for a query code (driver-side tiny search). */
  def nearestBinaryCentroids(cents: Array[Array[Byte]], qCode: Array[Byte],
      nprobe: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, i) => (hammingLocal(qCode, c), i) }
      .sorted.take(math.min(nprobe, cents.length)).map(_._2).toSeq

  /** Add `list_id` = argmin-Hamming centroid (codegen'd: one `hamming`
    * expression per centroid, struct-sort picks the (dist, idx) min —
    * deterministic ties on index).
    */
  def assignBinary(df: DataFrame, codeCol: String,
      cents: Array[Array[Byte]]): DataFrame = {
    val dists = array(cents.zipWithIndex.map { case (c, i) =>
      struct(F.hamming(col(codeCol), lit(c)).as("d"), lit(i).as("i"))
    }.toIndexedSeq: _*)
    df.withColumn("list_id", element_at(array_sort(dists), 1).getField("i"))
  }

  /** Build the physical BINARYIVF layout: codes + `list_id`, partitioned
    * by `list_id` — the probe is partition pruning, like every IVF-family
    * layout here.
    */
  def buildTableBinary(df: DataFrame, codeCol: String,
      cents: Array[Array[Byte]], path: String): Unit =
    assignBinary(df, codeCol, cents)
      .write.mode("overwrite").partitionBy("list_id").parquet(path)

  /** Batched BINARYIVF: per-query probe routes
    * ([[IvfIndex.probed]]) pair each candidate with the packed code of
    * every query probing its list; candidates rank by code
    * Hamming against THEIR query's code and a bounded per-qid top-k
    * merges — one scan of the union of probed lists serves the whole
    * batch (the req_num flatten, doc_query.go:296-318); a single query is
    * a batch of one. Ties break on id ascending ([[Knn.topKPerQuery]]).
    * Exact at nprobe = ncentroids. Output: (_qid, _id, _score).
    */
  def searchBatchBinaryIvf(
      corpus: DataFrame, // carries list_id + codeCol
      codeCol: String,
      cents: Array[Array[Byte]],
      queries: Seq[(Long, Array[Byte])],
      k: Int,
      nprobe: Int,
      idCol: Column,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None): DataFrame = {
    val scored0 = IvfIndex.probed(corpus, queries,
        queries.map { case (_, qc) => nearestBinaryCentroids(cents, qc, nprobe) })
      .select(col("_q._1").as("_qid"),
        F.hamming(col(codeCol), col("_q._2")).cast("double").as("_score"),
        idCol.as("_id"))
      .filter(col("_score").isNotNull)
    // in-scan score gate (gamma_common_data.h:94-96): Hamming IS the
    // final score for the binary family — gate before the bounded heap
    val scored = Knn.scoreGate(scored0, minScore, maxScore)
    Knn.topKPerQuery(scored, queries.size, k, asc = true, "_id")
  }
}
