package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PqAdcScore, PqEncode}

/** Product quantization — the reference's IVFPQ code path
  * (gamma_index_ivfpq.cc: nbytes sub-codebooks, ADC scoring, `recall_num`
  * exact rerank at :262-273) as a two-stage Spark plan:
  *
  *   build:  m per-subvector KMeans codebooks (MLlib, bounded sample) →
  *           `pq_code: array<int>` column. Codes are m ints instead of
  *           dim floats — the scan for stage 1 reads ~m/(4·dim) of the
  *           vector bytes (e.g. 8 codes vs 64 floats = 32× less IO).
  *   search: ADC top-`recallNum` over codes (per-query LUT, codegen'd
  *           lookup-sum) → join raw vectors for the survivors → exact
  *           top-k. Matches faiss/vearch rerank semantics.
  *
  * Composes with IvfIndex: probe filter first, ADC within probed lists.
  */
object PqIndex {

  /** codebooks(sub)(code)(dim_within_sub) */
  final case class Model(
      m: Int, ksub: Int, dsub: Int,
      codebooks: Array[Array[Array[Float]]],
      metric: String) {

    /** Per-query ADC lookup table: lut(sub)(code) = that subvector's
      * contribution to the (squared-L2 or negated-IP) distance.
      */
    def lut(q: Seq[Float]): Array[Array[Double]] = {
      val qa = q.toArray
      Array.tabulate(m) { sub =>
        val off = sub * dsub
        Array.tabulate(codebooks(sub).length) { k =>
          val cent = codebooks(sub)(k)
          var s = 0.0
          var i = 0
          if (metric == "ip") {
            while (i < dsub) { s += qa(off + i).toDouble * cent(i).toDouble; i += 1 }
            -s // negate so "smaller is better" uniformly for ADC
          } else {
            while (i < dsub) {
              val d = qa(off + i).toDouble - cent(i).toDouble
              s += d * d; i += 1
            }
            s
          }
        }
      }
    }
  }

  /** Dim-aware effective training-sample cap: the driver-side sample is
    * a MEMORY budget, not a row budget — `maxTrainRows` rows are ~50 MB
    * at dim 64 but ~600 MB at dim 768. The row cap scales by 64/dim
    * (constant BYTES at the documented default), floored so every
    * sub-quantizer's Lloyd fit stays well-conditioned (≥ max(10k,
    * 39·ksub) — faiss's min-points-per-centroid heuristic). Dims ≤ 64
    * keep the full row cap.
    */
  private[graft] def dimAwareCap(maxTrainRows: Long, dim: Int, ksub: Int): Long = {
    val floor = math.max(10000L, 39L * ksub)
    math.max(floor, maxTrainRows * 64L / math.max(dim, 64))
  }

  /** Train m sub-codebooks (ksub centroids each) on a bounded sample.
    *
    * PQ training is a small-sample computation by design (faiss trains on
    * ≤ a few hundred K rows regardless of corpus size; vearch's
    * training_threshold caps it the same way) — so the sample is collected
    * once and Lloyd's iterations run driver-local per subspace. One Spark
    * job total instead of m MLlib fits; the corpus itself is never
    * scanned beyond the sample.
    */
  def train(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int = 256,
      metric: String = "l2",
      seed: Long = 42L,
      maxTrainRows: Long = 200000L,
      maxIter: Int = 15): Model = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val dsub = dim / m
    // null vectors pass ingest conformance; keep them out of the sample
    val clean = df.filter(col(vecCol).isNotNull)
    val total = clean.count()
    val effMax = dimAwareCap(maxTrainRows, dim, ksub)
    val sampled =
      if (total > effMax) clean.sample(withReplacement = false, effMax.toDouble / total, seed)
      else clean
    val rows: Array[Array[Float]] = sampled.select(col(vecCol))
      .collect().map(_.getSeq[Float](0).toArray)
    trainFromRows(rows, m, dsub, ksub, metric, seed, maxIter)
  }

  /** [[train]] on IVF RESIDUALS (v − centroid(list_id)) — the reference's
    * actual IVFPQ training (gamma_index_ivfpq.cc:221-273): each list's
    * vectors are centered on their coarse centroid before the
    * sub-codebooks fit, so the same ksub codes model per-list detail
    * instead of re-spending codes on the coarse structure the IVF already
    * captured. `assigned` must carry `list_id` ([[IvfIndex.assign]]);
    * encode with [[encodeResidual]] and search with the residual variants.
    */
  def trainResidual(
      assigned: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      ivf: IvfIndex.Model,
      ksub: Int = 256,
      metric: String = "l2",
      seed: Long = 42L,
      maxTrainRows: Long = 200000L,
      maxIter: Int = 15): Model = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val dsub = dim / m
    val clean = assigned.filter(col(vecCol).isNotNull && col("list_id").isNotNull)
    val total = clean.count()
    val effMax = dimAwareCap(maxTrainRows, dim, ksub)
    val sampled =
      if (total > effMax) clean.sample(withReplacement = false, effMax.toDouble / total, seed)
      else clean
    val rows: Array[Array[Float]] = sampled
      .select(col(vecCol), col("list_id").cast("int"))
      .collect().map { r =>
        val v = r.getSeq[Float](0).toArray
        val c = ivf.centroids(r.getInt(1))
        Array.tabulate(v.length)(i => v(i) - (if (i < c.length) c(i) else 0f))
      }
    trainFromRows(rows, m, dsub, ksub, metric, seed, maxIter)
  }

  /** The SCANN capability class: [[trainResidual]] under the ANISOTROPIC
    * (score-aware) quantization loss of Guo et al., ICML 2020
    * ("Accelerating Large-Scale Inference with Anisotropic Vector
    * Quantization" — the algorithm behind the reference's wrapped ScaNN
    * index, impl/scann/). Per training point x the loss is
    * h∥·‖r∥‖² + h⊥·‖r⊥‖² with r = x − c split along x's own direction:
    * parallel quantization error perturbs the inner-product scores of
    * exactly the high-scoring points ranking cares about, so it is
    * weighted η = h∥/h⊥ ≥ 1 times the orthogonal error. Assignment
    * minimizes the anisotropic loss; the centroid update solves the
    * per-cluster weighted least squares c* = (Σᵢ Mᵢ)⁻¹ (Σᵢ Mᵢ rᵢ) with
    * Mᵢ = I + (η−1)·uᵢuᵢᵀ (a dsub×dsub solve) — rᵢ the residual being
    * quantized, uᵢ the ORIGINAL datapoint's subvector direction (the
    * score-relevant axis). η = 1 reduces every formula to
    * plain Lloyd (spec-asserted byte-identical). `eta ≤ 0` selects the
    * paper's threshold rule [[etaForThreshold]] at T = 0.2 over the full
    * dimensionality. This is an independent implementation from the
    * published paper, not a port of the ScaNN library.
    */
  def trainResidualAnisotropic(
      assigned: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      ivf: IvfIndex.Model,
      ksub: Int = 256,
      metric: String = "ip",
      eta: Double = 0.0,
      seed: Long = 42L,
      maxTrainRows: Long = 200000L,
      maxIter: Int = 15): Model = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
    val dsub = dim / m
    val effEta = if (eta > 0) eta else etaForThreshold(0.2, dim)
    val clean = assigned.filter(col(vecCol).isNotNull && col("list_id").isNotNull)
    val total = clean.count()
    val effMax = dimAwareCap(maxTrainRows, dim, ksub)
    val sampled =
      if (total > effMax) clean.sample(withReplacement = false, effMax.toDouble / total, seed)
      else clean
    val pairs: Array[(Array[Float], Array[Float])] = sampled
      .select(col(vecCol), col("list_id").cast("int"))
      .collect().map { r =>
        val v = r.getSeq[Float](0).toArray
        val c = ivf.centroids(r.getInt(1))
        (Array.tabulate(v.length)(i => v(i) - (if (i < c.length) c(i) else 0f)), v)
      }
    require(pairs.nonEmpty, "no training rows")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks = Await.result(
      Future.sequence((0 until m).toList.map { sub =>
        Future {
          val slice = pairs.map(_._1).map(v =>
            java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
          // the score-relevant direction is the ORIGINAL datapoint's
          // subvector, not the residual's: a high-scoring query points
          // ≈ along x and the IP error is ⟨q, r − r̂⟩
          val dirs = pairs.map(_._2).map(v =>
            java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
          localKMeansAnisotropic(slice, dirs, ksub, maxIter, seed + sub, effEta)
        }
      }), Duration.Inf).toArray
    Model(m, ksub, dsub, codebooks, metric)
  }

  /** The paper's score-aware weight ratio for a relative score threshold
    * T ∈ (0, 1): η(T) = (d − 1)·T² / (1 − T²) — the h∥/h⊥ that makes the
    * expected loss match ranking error for points scoring above T
    * (Guo et al. 2020, Thm 3.3). Floored at 1 (η < 1 would weight
    * parallel error LESS than plain k-means — never score-aware).
    */
  def etaForThreshold(t: Double, dim: Int): Double = {
    require(t > 0 && t < 1, s"threshold must be in (0,1), got $t")
    math.max(1.0, (dim - 1).toDouble * t * t / (1.0 - t * t))
  }

  /** Residual `pq_code` under the anisotropic assignment ([[PqEncodeResidualAniso]]):
    * encode v − centroid(list_id) picking per-subvector codewords by the
    * SAME score-aware loss the codebooks were trained with. `eta ≤ 0`
    * applies the trained default (T = 0.2 over the full dimensionality).
    */
  def encodeResidualAnisotropic(assigned: DataFrame, vecCol: String,
      ivf: IvfIndex.Model, model: Model, eta: Double = 0.0): DataFrame = {
    val effEta = if (eta > 0) eta else etaForThreshold(0.2, model.m * model.dsub)
    assigned.withColumn("pq_code", graft.Graft.columnOf(
      graft.functions.PqEncodeResidualAniso(
        graft.Graft.exprOf(col(vecCol)),
        graft.Graft.exprOf(col("list_id").cast("int")),
        ivf.centroids, model.codebooks, effEta)))
  }

  private def trainFromRows(rows: Array[Array[Float]], m: Int, dsub: Int,
      ksub: Int, metric: String, seed: Long, maxIter: Int): Model = {
    require(rows.nonEmpty, "no training rows")
    // the m sub-codebooks are independent — train them concurrently
    // (m=64 at nbytes-64 settings would otherwise serialize 64 Lloyd runs)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val codebooks = Await.result(
      Future.sequence((0 until m).toList.map { sub =>
        Future {
          val slice = rows.map(v =>
            java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
          localKMeans(slice, ksub, maxIter, seed + sub)
        }
      }), Duration.Inf).toArray
    Model(m, ksub, dsub, codebooks, metric)
  }

  /** Plain Lloyd's with seeded random init on an in-memory sample. */
  private[graft] def localKMeans(
      points: Array[Array[Float]], k: Int, maxIter: Int, seed: Long): Array[Array[Float]] = {
    val d = points(0).length
    val n = points.length
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, n)
    // init: distinct random points
    val centroids = rnd.shuffle(points.indices.toList).take(kk)
      .map(i => points(i).clone()).toArray
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val cent = centroids(c)
          var s = 0.0; var j = 0
          while (j < d) { val x = p(j) - cent(j); s += x * x; j += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      var i2 = 0
      while (i2 < n) {
        val c = assign(i2); counts(c) += 1
        val p = points(i2); var j = 0
        while (j < d) { sums(c)(j) += p(j); j += 1 }
        i2 += 1
      }
      var c2 = 0
      while (c2 < kk) {
        if (counts(c2) > 0) {
          var j = 0
          while (j < d) { centroids(c2)(j) = (sums(c2)(j) / counts(c2)).toFloat; j += 1 }
        } else {
          // empty cluster: reseed from a random point
          centroids(c2) = points(rnd.nextInt(n)).clone()
          moved = true
        }
        c2 += 1
      }
      iter += 1
    }
    // pad if k > n (degenerate tiny samples)
    if (kk < k) centroids ++ Array.fill(k - kk)(centroids(0).clone()) else centroids
  }

  /** Anisotropic Lloyd's ([[trainResidualAnisotropic]]'s inner loop):
    * structurally [[localKMeans]] with (a) assignment by the score-aware
    * loss ‖r‖² + (η−1)·⟨r, u⟩² (u = the point's own direction) and
    * (b) the closed-form weighted update c* = (Σ Mᵢ)⁻¹ η·Σxᵢ,
    * Mᵢ = I + (η−1)uᵢuᵢᵀ — a d×d symmetric solve per cluster (d = dsub,
    * tiny). Zero-norm points carry Mᵢ = I (no direction to be
    * score-aware about). η = 1 makes every formula collapse to plain
    * Lloyd's, bit-for-bit (same RNG draws, same tie order, same division
    * — spec-asserted).
    */
  private[graft] def localKMeansAnisotropic(
      points: Array[Array[Float]], dirs: Array[Array[Float]], k: Int,
      maxIter: Int, seed: Long, eta: Double): Array[Array[Float]] = {
    val d = points(0).length
    val n = points.length
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, n)
    val centroids = rnd.shuffle(points.indices.toList).take(kk)
      .map(i => points(i).clone()).toArray
    // per-point direction norms once (u_i = dirs_i / ‖dirs_i‖ — the
    // SOURCE vector's direction, which for residual training is the
    // original datapoint's subvector)
    val norms = dirs.map { p =>
      var s = 0.0; var j = 0
      while (j < d) { s += p(j).toDouble * p(j); j += 1 }
      math.sqrt(s)
    }
    val assign = new Array[Int](n)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = false
      var i = 0
      while (i < n) {
        val p = points(i)
        val u = dirs(i)
        val nrm = norms(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val cent = centroids(c)
          var l2 = 0.0; var par = 0.0; var j = 0
          while (j < d) {
            val x = p(j) - cent(j)
            l2 += x * x
            par += x * u(j)
            j += 1
          }
          val s =
            if (nrm == 0.0) l2
            else l2 + (eta - 1.0) * (par / nrm) * (par / nrm)
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; moved = true }
        i += 1
      }
      // update: accumulate A = Σ Mᵢ and b = Σ Mᵢxᵢ = η·Σxᵢ per cluster
      val aMat = Array.fill(kk)(Array.ofDim[Double](d, d))
      val bVec = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      var i2 = 0
      while (i2 < n) {
        val c = assign(i2); counts(c) += 1
        val p = points(i2)
        val u = dirs(i2)
        val nrm = norms(i2)
        val A = aMat(c); val b = bVec(c)
        // ⟨p, u⟩/‖u‖ for the RHS Mᵢpᵢ = pᵢ + (η−1)·⟨pᵢ,ûᵢ⟩·ûᵢ (u need
        // not be parallel to p when quantizing residuals against the
        // datapoint direction)
        var pu = 0.0
        if (nrm != 0.0 && eta != 1.0) {
          var j0 = 0
          while (j0 < d) { pu += p(j0).toDouble * (u(j0) / nrm); j0 += 1 }
        }
        var j = 0
        while (j < d) {
          A(j)(j) += 1.0
          b(j) += (if (nrm == 0.0 || eta == 1.0) p(j).toDouble
            else p(j).toDouble + (eta - 1.0) * pu * (u(j) / nrm))
          j += 1
        }
        if (nrm != 0.0 && eta != 1.0) {
          j = 0
          while (j < d) {
            val uj = u(j) / nrm
            var l = 0
            while (l < d) {
              A(j)(l) += (eta - 1.0) * uj * (u(l) / nrm)
              l += 1
            }
            j += 1
          }
        }
        i2 += 1
      }
      var c2 = 0
      while (c2 < kk) {
        if (counts(c2) > 0) {
          val sol = solveSym(aMat(c2), bVec(c2))
          var j = 0
          while (j < d) { centroids(c2)(j) = sol(j).toFloat; j += 1 }
        } else {
          centroids(c2) = points(rnd.nextInt(n)).clone()
          moved = true
        }
        c2 += 1
      }
      iter += 1
    }
    if (kk < k) centroids ++ Array.fill(k - kk)(centroids(0).clone()) else centroids
  }

  /** Solve A·x = b for a small dense (symmetric positive-definite here)
    * system by Gaussian elimination with partial pivoting — d = dsub, so
    * this is an 8×8-scale solve per cluster per iteration. For a
    * DIAGONAL A (the η = 1 degeneracy) it reduces to xⱼ = bⱼ/Aⱼⱼ — the
    * exact division plain Lloyd's performs.
    */
  private def solveSym(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (piv != col) {
        val tr = a(col); a(col) = a(piv); a(piv) = tr
        val tb = b(col); b(col) = b(piv); b(piv) = tb
      }
      val p = a(col)(col)
      if (p != 0.0) {
        r = col + 1
        while (r < d) {
          val f = a(r)(col) / p
          if (f != 0.0) {
            var j2 = col
            while (j2 < d) { a(r)(j2) -= f * a(col)(j2); j2 += 1 }
            b(r) -= f * b(col)
          }
          r += 1
        }
      }
      col += 1
    }
    val x = new Array[Double](d)
    var r2 = d - 1
    while (r2 >= 0) {
      var s = b(r2)
      var j2 = r2 + 1
      while (j2 < d) { s -= a(r2)(j2) * x(j2); j2 += 1 }
      x(r2) = if (a(r2)(r2) != 0.0) s / a(r2)(r2) else 0.0
      r2 -= 1
    }
    x
  }

  /** Add the `pq_code` column (codegen'd per-subvector argmin). The
    * codebook rides inside the expression directly — no per-model
    * function registration.
    */
  def encode(df: DataFrame, vecCol: String, model: Model): DataFrame =
    df.withColumn("pq_code",
      graft.Graft.columnOf(PqEncode(graft.Graft.exprOf(col(vecCol)), model.codebooks)))

  /** Residual `pq_code`: encode v − centroid(list_id) with codebooks from
    * [[trainResidual]]. `assigned` must carry `list_id`.
    */
  def encodeResidual(assigned: DataFrame, vecCol: String,
      ivf: IvfIndex.Model, model: Model): DataFrame =
    assigned.withColumn("pq_code", graft.Graft.columnOf(
      graft.functions.PqEncodeResidual(
        graft.Graft.exprOf(col(vecCol)),
        graft.Graft.exprOf(col("list_id").cast("int")),
        ivf.centroids, model.codebooks)))

  /** Single-query IVFPQ over RESIDUAL codes: each probed list's codes
    * score against the LUT of ITS residual query q − c_list (joined in
    * broadcast as data), then exact rerank of the recallNum survivors —
    * the reference's IVFPQ search over residual-trained codebooks.
    */
  def searchIvfResidual(
      corpus: DataFrame, // carries list_id + residual pq_code + raw vectors
      vecCol: Column,
      ivf: IvfIndex.Model,
      pq: Model,
      q: Seq[Float],
      k: Int,
      nprobe: Int,
      recallNum: Int,
      idCol: Column,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      roundTo: Option[Int] = None,
      // INT8 spaces (index_model.h:19): the ADC shortlist runs over
      // codebooks trained in the raw-code float domain (`q` must be the
      // quantized query's code values as floats), and the exact rerank
      // scores the stored int8 column with the integer kernels against
      // THIS code — full probe + recallNum ≥ corpus stays exact.
      rerankInt8: Option[Array[Byte]] = None): DataFrame = {
    require(recallNum >= k, "recall_num must be >= topk (doc_query semantics)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val lists = ivf.nearestCentroids(q, nprobe)
    val luts = lists.map { l =>
      val c = ivf.centroids(l)
      // IP is linear (q·v ≈ q·c + q·r̂): LUT on the ORIGINAL q gives −q·r̂
      // per code and the −q·c bias restores cross-list comparability.
      // Using the residual query here would add a spurious +c·r̂ per code.
      // L2 needs the residual query (‖q−v‖² = ‖(q−c)−r̂‖²) and no bias.
      if (pq.metric == "ip") {
        val bias =
          -(0 until math.min(q.length, c.length)).map(i => q(i).toDouble * c(i)).sum
        (l, pq.lut(q).flatten.toSeq, bias)
      } else {
        val qr = Array.tabulate(q.length)(i =>
          q(i) - (if (i < c.length) c(i) else 0f)).toSeq
        (l, pq.lut(qr).flatten.toSeq, 0.0)
      }
    }
    val lutDf = luts.toDF("list_id", "_lut", "_bias")
    val ksub = pq.ksub
    val shortlist = corpus.filter(col("list_id").isin(lists: _*))
      .select(idCol.as("_sid"), col("list_id"), col("pq_code"))
      .join(broadcast(lutDf), Seq("list_id"))
      .withColumn("_adc",
        col("_bias") + aggregate(sequence(lit(0), lit(pq.m - 1)), lit(0.0d),
          (acc, sub) => acc +
            element_at(col("_lut"), sub * ksub + element_at(col("pq_code"), sub + 1) + 1)))
      .filter(col("_adc").isNotNull)
      .orderBy(col("_adc").asc, col("_sid").asc)
      .limit(recallNum)
      .select(col("_sid"))
    val rerank = corpus.join(broadcast(shortlist), idCol === col("_sid"), "left_semi")
    // score gate at the EXACT-rerank stage — the reference's heap
    // admission point (gamma_common_data.h:94-96); a deeper `recall_num`
    // widens the gated pool exactly like it widens recall
    rerankInt8 match {
      case Some(qb) =>
        Knn.searchInt8(rerank, vecCol, qb, k, pq.metric, minScore = minScore,
          maxScore = maxScore, tieBreak = Some(idCol), roundTo = roundTo)
      case None =>
        Knn.search(rerank, vecCol, q, k, pq.metric, minScore = minScore,
          maxScore = maxScore, tieBreak = Some(idCol), roundTo = roundTo)
    }
  }

  /** Batched IVFPQ over RESIDUAL codes: stage-1 LUTs are built per
    * (query, probed list) and joined in on `list_id` EQUALITY (each
    * list's codes score against exactly its own LUT — the
    * asymmetric-residual shape of [[graft.tools.Recall.evalIvfRabitq]]
    * with ADC lookups). L2 LUTs use the residual query q − c_list
    * (‖q−v‖² = ‖(q−c)−r̂‖², no bias); IP LUTs use the ORIGINAL q with a
    * per-list −q·c_list bias (q·v ≈ q·c + q·r̂ by linearity).
    */
  def searchBatchIvfResidual(
      corpus: DataFrame, // carries list_id + residual pq_code + raw vectors
      vecCol: Column,
      ivf: IvfIndex.Model,
      pq: Model,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nprobe: Int,
      recallNum: Int,
      idCol: Column,
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      // INT8 batches: each query's quantized code, in `queries` order,
      // for the integer-kernel rerank (see [[searchIvfResidual]]'s rerankInt8)
      rerankInt8: Option[Seq[(Long, Array[Byte])]] = None): DataFrame = {
    require(recallNum >= k, "recall_num must be >= topk (doc_query semantics)")
    val spark = corpus.sparkSession
    import spark.implicits._
    // up to the rerank, `_qid` holds the query's POSITION in `queries`,
    // so the rerank reads its query from a literal array in O(1)
    val qlRows = queries.zipWithIndex.flatMap { case ((_, q), pos) =>
      ivf.nearestCentroids(q, nprobe).map { l =>
        val c = ivf.centroids(l)
        // Same identity as [[searchIvfResidual]]: IP LUTs use the original
        // q (linearity) + the −q·c bias; only L2 uses the residual query.
        if (pq.metric == "ip") {
          val bias =
            -(0 until math.min(q.length, c.length)).map(i => q(i).toDouble * c(i)).sum
          (pos, l, pq.lut(q).flatten.toSeq, bias)
        } else {
          val qr = Array.tabulate(q.length)(i =>
            q(i) - (if (i < c.length) c(i) else 0f)).toSeq
          (pos, l, pq.lut(qr).flatten.toSeq, 0.0)
        }
      }
    }
    val qDf = qlRows.toDF("_qid", "list_id", "_lut", "_bias")
    val union = qlRows.map(_._2).distinct
    val pruned =
      if (union.isEmpty) corpus.limit(0)
      else corpus.filter(col("list_id").isin(union: _*))
    val ksub = pq.ksub
    val adc = pruned.select(idCol.as("_sid"), col("list_id"), col("pq_code"))
      .join(broadcast(qDf), Seq("list_id"))
      .select(col("_qid"),
        (col("_bias") + aggregate(sequence(lit(0), lit(pq.m - 1)), lit(0.0d),
          (acc, sub) => acc +
            element_at(col("_lut"), sub * ksub + element_at(col("pq_code"), sub + 1) + 1)))
          .as("_adc"),
        col("_sid"))
      .filter(col("_adc").isNotNull)
    val short = Knn.topKPerQuery(adc, queries.size, recallNum, asc = true,
        "_sid", "_adc")
      .select(col("_qid"), col("_sid"))
    val rerank0 = corpus.join(broadcast(short), idCol === col("_sid"))
      .select(Knn.atPosition(queries.map(_._1), col("_qid")).as("_qid"),
        Knn.rerankScore(pq.metric, vecCol, queries, rerankInt8, col("_qid")).as("_score"),
        idCol.as("_id"))
      .filter(col("_score").isNotNull)
    // in-scan score gate at the exact-rerank stage (see searchIvfResidual)
    val rerank = Knn.scoreGate(rerank0, minScore, maxScore)
    Knn.topKPerQuery(rerank, queries.size, k, Knn.ascending(pq.metric), "_id")
  }

  /** ADC score column for a query (lower is better for both metrics; IP is
    * negated inside the LUT). The per-query LUT is carried by the
    * expression itself.
    */
  def adcScore(model: Model, q: Seq[Float], codesCol: Column): Column =
    graft.Graft.columnOf(PqAdcScore(graft.Graft.exprOf(codesCol), model.lut(q)))

  /** Batched IVFPQ (req_num queries in one plan, no driver round-trips):
    * per-query probe lists AND flattened ADC lookup tables travel as DATA
    * in a broadcast queries table (m·ksub doubles per query). Stage 1
    * joins codes to queries on `array_contains(lists, list_id)` and scores
    * via element_at LUT lookups — one pass over the probed codes for ALL
    * queries; a bounded top-recallNum aggregate forms each query's
    * shortlist; stage 2 semi-joins the (qid, id) shortlist back to the
    * corpus for the exact rerank. Shuffle: Q·recallNum then Q·k rows.
    */
  def searchBatchIvf(
      corpus: DataFrame, // carries list_id + pq_code + raw vectors
      vecCol: Column,
      ivf: IvfIndex.Model,
      pq: Model,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nprobe: Int,
      recallNum: Int,
      idCol: Column): DataFrame = {
    require(recallNum >= k, "recall_num must be >= topk (doc_query semantics)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val perQuery = queries.map { case (qid, q) =>
      (qid, q, ivf.nearestCentroids(q, nprobe), pq.lut(q).flatten.toSeq)
    }
    val qDf = perQuery
      .toDF("_qid", "_qv", "_lists", "_lut")
      .select(col("_qid"), col("_qv").cast("array<float>").as("_qv"),
        col("_lists"), col("_lut"))
    val ksub = pq.ksub
    // static pre-filter on the union of probed lists = partition pruning;
    // the array_contains join alone cannot prune (non-equi condition)
    val union = perQuery.flatMap(_._3).distinct
    val pruned =
      if (union.isEmpty) corpus.limit(0)
      else corpus.filter(col("list_id").isin(union: _*))
    val adc = pruned.select(idCol.as("_sid"), col("list_id"), col("pq_code"))
      .join(broadcast(qDf.select(col("_qid"), col("_lists"), col("_lut"))),
        array_contains(col("_lists"), col("list_id")))
      .select(col("_qid"),
        aggregate(sequence(lit(0), lit(pq.m - 1)), lit(0.0d),
          (acc, sub) => acc +
            element_at(col("_lut"), sub * ksub + element_at(col("pq_code"), sub + 1) + 1))
          .as("_adc"),
        col("_sid"))
      .filter(col("_adc").isNotNull)
    val short = Knn.topKPerQuery(adc, queries.size, recallNum, asc = true,
        "_sid", "_adc")
      .select(col("_qid"), col("_sid"))
      .join(broadcast(qDf.select(col("_qid"), col("_qv"))), Seq("_qid"))
    val rerank = corpus.join(broadcast(short), idCol === col("_sid"))
      .select(col("_qid"),
        Knn.score(pq.metric, vecCol, col("_qv")).as("_score"),
        idCol.as("_id"))
      .filter(col("_score").isNotNull)
    Knn.topKPerQuery(rerank, queries.size, k, Knn.ascending(pq.metric), "_id")
  }

  /** Two-stage search: ADC top-recallNum over CODES ONLY → id shortlist →
    * broadcast-semi-join back to the corpus for the exact rerank.
    *
    * Stage 1 projects (id, pq_code) immediately, so parquet column pruning
    * drops the raw vector bytes from the shortlist scan — the scan reads
    * ~m/(4·dim) of the vector IO (8 code bytes vs 256 float bytes at
    * dim=64/m=8). Only the recallNum survivors' raw vectors are fetched,
    * by the stage-2 semi-join — the reference's recall_num rerank shape
    * (gamma_index_ivfpq.cc:262-273: ADC shortlist ids → raw-vector fetch →
    * exact top-k).
    */
  def search(
      corpus: DataFrame,
      vecCol: Column,
      model: Model,
      q: Seq[Float],
      k: Int,
      recallNum: Int,
      idCol: Column,
      roundTo: Option[Int] = None): DataFrame = {
    require(recallNum >= k, "recall_num must be >= topk (doc_query semantics)")
    val shortlist = corpus
      .select(idCol.as("_sid"), col("pq_code"))
      .withColumn("_adc", adcScore(model, q, col("pq_code")))
      .filter(col("_adc").isNotNull) // null codes must not head the asc shortlist
      .orderBy(col("_adc").asc, col("_sid").asc)
      .limit(recallNum)
      .select(col("_sid"))
    val rerank = corpus.join(broadcast(shortlist), idCol === col("_sid"), "left_semi")
    Knn.search(rerank, vecCol, q, k, model.metric,
      tieBreak = Some(idCol), roundTo = roundTo)
  }
}
