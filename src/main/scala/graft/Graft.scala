package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.call_function

import graft.functions._

/** Session bootstrap: registers the graft function surface into the
  * session's FunctionRegistry so every operator (and plain `spark.sql`)
  * can use it. Idempotent — call at the top of every entry point.
  */
object Graft {

  private def lit2int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _)  => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def lit2bool(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  def registerFunctions(spark: SparkSession): Unit = {
    // probe-folding optimizer rule (idempotent); production deployments
    // can instead set spark.sql.extensions=graft.plans.GraftExtensions
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteIvfProbe)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteIvfProbe
    }
    val reg = spark.sessionState.functionRegistry
    // register once per session: re-registering emits a replacement warning
    // per function per call, which buries the bench's JSON output in noise.
    // The short-circuit checks the NEWEST function, not just vec_dot — a
    // session registered by an older library version (or a user function
    // coincidentally named vec_dot) must still get the full current set
    def has(n: String) =
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    if (has("vec_dot") && has("vec_sign_adot") && has("text_window_hashes") &&
      has("arr_common_count")) return
    reg.createOrReplaceTempFunction("vec_dot", es => DotProduct(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_l2sq", es => L2Sq(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_l2", es => L2Dist(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_cosine", es => CosineSim(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_norm", es => VecNorm(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_l2_normalize", es => L2Normalize(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_hamming", es => HammingDist(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_sign_bits", es => SignBits(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_quantize_i8", es => QuantizeI8(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_dequant_i8", es => DequantI8(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_i8_to_float", es => I8ToFloat(es(0)), "built-in")
    reg.createOrReplaceTempFunction("vec_sign_adot", es => SignAdotDyn(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_i8_dot", es => Int8Dot(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_i8_l2", es => Int8L2(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_i8_l2sq", es => Int8L2Sq(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("text_simhash", es => SimHash64(es(0)), "built-in")
    reg.createOrReplaceTempFunction("text_simhash_md5", es => SimHashMd5(es(0)), "built-in")
    reg.createOrReplaceTempFunction("text_normalize",
      es => TextNormalize(es(0), lit2bool(es(1), "stripAccents")), "built-in")
    reg.createOrReplaceTempFunction("text_shingle_hashes",
      es => ShingleHashes(es(0), lit2int(es(1), "n")), "built-in")
    reg.createOrReplaceTempFunction("text_window_hashes",
      es => WindowHashes(es(0), lit2int(es(1), "n")), "built-in")
    reg.createOrReplaceTempFunction("text_minhash_sig",
      es => MinHashSig(es(0), lit2int(es(1), "n"), lit2int(es(2), "numHashes")), "built-in")
    reg.createOrReplaceTempFunction("arr_common_count",
      es => SortedCommonCount(es(0), es(1)), "built-in")
    reg.createOrReplaceTempFunction("graft_topk",
      es => TopKAgg(es(0), es(1), lit2int(es(2), "k"), lit2bool(es(3), "asc")),
      "built-in")
  }

  /** Direct Expression ⇄ Column bridges (Spark 4 classic API) — used for
    * expressions that capture per-query state (centroid tables, ADC LUTs):
    * constructing the Column directly avoids registering a temp function
    * per query (a session-lifetime registry leak, and a hash-name
    * collision would silently rebind an existing plan to the wrong state).
    */
  def columnOf(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.Bridge.column(e)
  def exprOf(c: Column): Expression =
    org.apache.spark.sql.graft.Bridge.expression(c)

  /** Column-level API over the registered functions. */
  object F {
    def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
    def vecL2Sq(a: Column, b: Column): Column = call_function("vec_l2sq", a, b)
    def vecL2(a: Column, b: Column): Column = call_function("vec_l2", a, b)
    def vecCosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)
    def vecNorm(a: Column): Column = call_function("vec_norm", a)
    def l2Normalize(a: Column): Column = call_function("vec_l2_normalize", a)
    def hamming(a: Column, b: Column): Column = call_function("vec_hamming", a, b)
    def signBits(a: Column): Column = call_function("vec_sign_bits", a)
    def quantizeI8(a: Column): Column = call_function("vec_quantize_i8", a)
    def dequantI8(a: Column): Column = call_function("vec_dequant_i8", a)
    def i8ToFloat(a: Column): Column = call_function("vec_i8_to_float", a)
    def signAdot(code: Column, q: Column): Column = call_function("vec_sign_adot", code, q)
    def i8Dot(a: Column, b: Column): Column = call_function("vec_i8_dot", a, b)
    def i8L2(a: Column, b: Column): Column = call_function("vec_i8_l2", a, b)
    def i8L2Sq(a: Column, b: Column): Column = call_function("vec_i8_l2sq", a, b)
    def simhash64(tokens: Column): Column = call_function("text_simhash", tokens)
    def simhashMd5(tokens: Column): Column = call_function("text_simhash_md5", tokens)
    def textNormalize(text: Column, stripAccents: Boolean): Column =
      call_function("text_normalize", text,
        org.apache.spark.sql.functions.lit(stripAccents))
    def shingleHashes(tokens: Column, n: Int): Column =
      call_function("text_shingle_hashes", tokens, org.apache.spark.sql.functions.lit(n))
    def windowHashes(tokens: Column, n: Int): Column =
      call_function("text_window_hashes", tokens, org.apache.spark.sql.functions.lit(n))
    def minhashSig(tokens: Column, n: Int, numHashes: Int): Column =
      call_function("text_minhash_sig", tokens,
        org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(numHashes))
    def commonCount(a: Column, b: Column): Column =
      call_function("arr_common_count", a, b)
    def topK(score: Column, item: Column, k: Int, asc: Boolean): Column =
      call_function("graft_topk", score, item,
        org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(asc))
  }

  /** The one session factory: tests, tools, Bench and Verify all build
    * their session here, so the configuration the oracle checks is the
    * one that ships (local mode, shuffle partitions sized to cores — NOT
    * the 200 default, which is wrong for local[N]).
    */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalesce FLOOR (round 21 bench finding, promoted to the
      // engine's own session factory in round 22 so benched config ≡
      // shipped config): the default 1 MB minPartitionSize is calibrated
      // for scan-like stages; this engine's verify/rerank stages
      // (shingle-set intersection counts, ADC) carry ~1000× more CPU per
      // byte and were coalesced to 1-2 tasks. A floor, not a target — at
      // scale stages far exceed it and the 64 MB advisory size governs.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped both TIMESTAMP(NANOS) (ns fixtures; Spark
      // has no ns timestamp — this flag reads them as epoch-ns longs) and µs
      // TIMESTAMP_NTZ; SparkEntry.events() normalizes either to epoch-ns.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Parquet row groups are pruned by min/max statistics only. The
      // dictionary filter compares float and double values by bits
      // (equals, Float.compare), so it drops a row group whose only match
      // is -0.0 under `= 0`, `IN (0)`, `>= 0` or `<= -0.0`, where Catalyst
      // (and the driver-side resident allow-set) treats -0.0 = 0.0. With
      // it off, every scan path answers those filters alike.
      .config("parquet.filter.dictionary.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    registerFunctions(spark)
    spark
  }
}
