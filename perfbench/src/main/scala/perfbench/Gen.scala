package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every input the engine sees is derived from the
  * `--seed` argument here: the F1-schema corpus (FIXTURES.md), the search
  * request stream, the write batches and the dedup corpus with planted
  * near-duplicates. The same seed always yields the same inputs.
  */
object Gen {

  /** One independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 1000003L)

  // ---------------------------------------------------------------- F1 docs

  /** An F1 document. `fieldInt` is a seeded permutation of 0 until n, so a
    * range filter of width w over it matches exactly w documents.
    */
  final case class Doc(id: String, fieldInt: Int, vec: Array[Float]) {
    def row: Row = Row(id, fieldInt, fieldInt.toLong, fieldInt.toFloat,
      fieldInt.toDouble, fieldInt.toString,
      Seq(fieldInt.toString, (fieldInt + 1000).toString), vec.toSeq)
    /** Raw user bytes: id + 4 numeric fields + strings + vector payload. */
    def rawBytes: Long =
      id.length + 4 + 8 + 4 + 8 + 2L * fieldInt.toString.length +
        (fieldInt + 1000).toString.length + 4L * vec.length
  }

  val F1Schema: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("field_int", IntegerType),
    StructField("field_long", LongType),
    StructField("field_float", FloatType),
    StructField("field_double", DoubleType),
    StructField("field_string", StringType),
    StructField("field_string_array", ArrayType(StringType)),
    StructField("field_vector", ArrayType(FloatType))))

  /** F1 space declaration with one vector field of the given index. */
  def f1SpaceJson(name: String, dim: Int, partitions: Int,
      index: String): String =
    s"""{"name":"$name","partition_num":$partitions,"replica_num":1,"fields":[
       |{"name":"field_int","type":"integer","index":{"type":"SCALAR"}},
       |{"name":"field_long","type":"long","index":{"type":"SCALAR"}},
       |{"name":"field_float","type":"float","index":{"type":"SCALAR"}},
       |{"name":"field_double","type":"double","index":{"type":"SCALAR"}},
       |{"name":"field_string","type":"string","index":{"type":"SCALAR"}},
       |{"name":"field_string_array","type":"stringArray","index":{"type":"SCALAR"}},
       |{"name":"field_vector","type":"vector","dimension":$dim,"index":$index}]}""".stripMargin

  def toDF(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(_.row): _*), F1Schema)

  /** Gaussian-mixture vectors: `clusters` centres, points spread around
    * them. Clustered data gives IVF lists and HNSW neighbourhoods the
    * shape real embeddings have; uniform noise would not.
    */
  final class VecSpace(seed: Long, val dim: Int, clusters: Int) {
    private val r = rng(seed, 1)
    private val centres = Array.fill(clusters, dim)(r.nextDouble() * 2 - 1)
    def sample(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      Array.tabulate(dim)(i => (c(i) + gauss(r) * 0.25).toFloat)
    }
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** `n` F1 docs with ids `d-0 … d-(n-1)`. */
  def corpus(seed: Long, n: Int, vs: VecSpace): IndexedSeq[Doc] = {
    val r = rng(seed, 2)
    val perm = shuffled(r, n)
    (0 until n).map(i => Doc(s"d-$i", perm(i), vs.sample(r)))
  }

  def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a
  }

  // ------------------------------------------------------------- requests

  /** Filter classes of the search mix. `width` is the share of the corpus
    * the `field_int` range admits: narrow ~0.1%, medium ~10%, broad ~50%
    * (broad drives the allow-set collect of the graph leg).
    */
  sealed abstract class Cls(val name: String, val width: Double)
  case object NoFilter extends Cls("none", 1.0)
  case object Narrow extends Cls("narrow", 0.001)
  case object Medium extends Cls("medium", 0.1)
  case object Broad extends Cls("broad", 0.5)
  case object Batch extends Cls("batch", 1.0)
  /** Also the fixed request cycle: every class in turn, so each weighs
    * equally in the latency percentiles. No trace of real class shares
    * exists to ground another mix. The cycle is identical for every seed,
    * so percentiles compare across seeds; only vectors and filter offsets
    * vary.
    */
  val Classes: Seq[Cls] = Seq(NoFilter, Narrow, Medium, Broad, Batch)

  val BatchSize = 4

  final case class Req(cls: Cls, queries: Seq[Array[Float]],
      range: Option[(Int, Int)], k: Int) {
    def json: String = {
      val feat = queries.flatMap(_.toSeq).mkString("[", ",", "]")
      val filt = range.fold("") { case (lo, hi) =>
        s""","filters":{"operator":"AND","conditions":[
           |{"field":"field_int","operator":">=","value":$lo},
           |{"field":"field_int","operator":"<","value":$hi}]}""".stripMargin
      }
      s"""{"vectors":[{"field":"field_vector","feature":$feat}],"limit":$k,""" +
        s""""fields":["field_int"]$filt}"""
    }
  }

  /** `count` requests cycling through [[Classes]]. */
  def requests(seed: Long, stream: Long, count: Int, n: Int, vs: VecSpace,
      k: Int): IndexedSeq[Req] = {
    val r = rng(seed, stream)
    (0 until count).map { i =>
      val cls = Classes(i % Classes.size)
      val nq = if (cls == Batch) BatchSize else 1
      val range = if (cls.width >= 1.0) None else {
        val w = math.max(1, (cls.width * n).round.toInt)
        val lo = r.nextInt(n - w + 1)
        Some((lo, lo + w))
      }
      Req(cls, Seq.fill(nq)(vs.sample(r)), range, k)
    }
  }

  /** Exact top-k ids by L2 over the docs a request's filter admits. */
  def bruteTopK(docs: IndexedSeq[Doc], q: Array[Float],
      range: Option[(Int, Int)], k: Int): Seq[String] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](
      Ordering.by[(Double, Int), Double](_._1))
    var i = 0
    while (i < docs.size) {
      val d = docs(i)
      if (range.forall { case (lo, hi) => d.fieldInt >= lo && d.fieldInt < hi }) {
        val v = d.vec
        var s = 0.0; var j = 0
        while (j < v.length) { val x = v(j) - q(j); s += x * x; j += 1 }
        if (heap.size < k) heap.enqueue((s, i))
        else if (s < heap.head._1) { heap.dequeue(); heap.enqueue((s, i)) }
      }
      i += 1
    }
    heap.toSeq.sortBy(_._1).map(p => docs(p._2).id)
  }

  // --------------------------------------------------------- write batches

  /** Write batch `b` of the mixed workload: half fresh ids (`w-<b>-<j>`),
    * half updates of seeded existing ids with a new vector and field_int.
    * Update targets never repeat across batches of one run.
    */
  def writeBatch(seed: Long, b: Int, size: Int, base: IndexedSeq[Doc],
      updateOrder: Array[Int], vs: VecSpace): IndexedSeq[Doc] = {
    val r = rng(seed, 100L + b)
    val half = size / 2
    val fresh = (0 until half).map(j =>
      Doc(s"w-$b-$j", base.size + b * half + j, vs.sample(r)))
    val upd = (0 until size - half).map { j =>
      val target = base(updateOrder((b * (size - half) + j) % updateOrder.length))
      Doc(target.id, target.fieldInt, vs.sample(r))
    }
    fresh ++ upd
  }

  // ------------------------------------------------------------ dedup data

  /** A dedup corpus row: text plus an embedding. */
  final case class TextDoc(id: Long, text: String, vec: Array[Float])

  /** Dedup corpus with planted pairs whose answers are known:
    *  - `jaccard`: a copy of a base doc with one word replaced in every
    *    40 (3-shingle Jaccard ≥ 0.83);
    *  - `containment`: the middle ~60% of a base doc (containment 1.0,
    *    Jaccard ~0.6, so it is a containment pair but not a Jaccard one);
    *  - `embed`: an unrelated text whose vector is the base vector plus
    *    small noise (cosine ≥ 0.99).
    * Base docs are random 80–120-word texts over a 20k-word vocabulary and
    * random Gaussian vectors, so unplanted pairs sit far below every threshold.
    */
  final case class DedupCorpus(docs: IndexedSeq[TextDoc],
      jaccard: Set[(Long, Long)], containment: Set[(Long, Long)],
      embed: Set[(Long, Long)])

  def dedupCorpus(seed: Long, stream: Long, n: Int, dim: Int): DedupCorpus = {
    val r = rng(seed, stream)
    def word(): String = "w" + r.nextInt(20000)
    def vec(): Array[Float] = Array.fill(dim)(gauss(r).toFloat)
    val planted = n / 10 // per kind
    val nBase = n - 3 * planted
    val base = (0 until nBase).map { i =>
      val len = 80 + r.nextInt(41)
      TextDoc(i.toLong, Seq.fill(len)(word()).mkString(" "), vec())
    }
    var next = nBase.toLong
    def add(f: TextDoc => TextDoc, src: Seq[Int]): (Seq[TextDoc], Set[(Long, Long)]) = {
      val made = src.map { i => val d = f(base(i)).copy(id = next); next += 1; d }
      (made, src.zip(made).map { case (i, d) => (i.toLong, d.id) }.toSet)
    }
    val pick = shuffled(r, nBase)
    val (jd, jp) = add(d => {
      val ws = d.text.split(" ")
      val edited = ws.indices.map(i => if (i % 40 == 20) word() else ws(i))
      TextDoc(0, edited.mkString(" "), vec())
    }, pick.slice(0, planted).toSeq)
    val (cd, cp) = add(d => {
      val ws = d.text.split(" ")
      val from = ws.length / 5
      TextDoc(0, ws.slice(from, from + ws.length * 3 / 5).mkString(" "), vec())
    }, pick.slice(planted, 2 * planted).toSeq)
    val (ed, ep) = add(d => {
      val len = 80 + r.nextInt(41)
      TextDoc(0, Seq.fill(len)(word()).mkString(" "),
        d.vec.map(x => x + (gauss(r) * 0.02).toFloat))
    }, pick.slice(2 * planted, 3 * planted).toSeq)
    DedupCorpus(base ++ jd ++ cd ++ ed, jp, cp, ep)
  }

  /** Dedup space: text and a FLAT embedding, so the corpus is stored and
    * read back through the catalog like any other space.
    */
  def dedupSpaceJson(name: String, dim: Int, partitions: Int): String =
    s"""{"name":"$name","partition_num":$partitions,"replica_num":1,"fields":[
       |{"name":"doc_id","type":"long","index":{"type":"SCALAR"}},
       |{"name":"text","type":"string"},
       |{"name":"embedding","type":"vector","dimension":$dim,"index":{"type":"FLAT"}}]}""".stripMargin

  val DedupSchema: StructType = StructType(Seq(
    StructField("_id", StringType, nullable = false),
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(FloatType))))

  def dedupDF(spark: SparkSession, docs: Seq[TextDoc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d =>
      Row(s"t-${d.id}", d.id, d.text, d.vec.toSeq)): _*), DedupSchema)

  def dedupRawBytes(docs: Seq[TextDoc]): Long =
    docs.map(d => s"t-${d.id}".length + 8L + d.text.length + 4L * d.vec.length).sum
}
