package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{IndexLifecycle, SearchApi}
import graft.operators.VearchFilters
import graft.schema.{Space, SpaceCatalog}
import graft.sources.IndexStore

/** Differential spec of the resident SCALAR allow-set: over a catalog
  * space whose SCALAR fields hold NaN, -0.0, null and extreme values, the
  * allow-set read from the snapshot's resident projection equals the
  * `frame.filter(p)` probe for every filter shape, a write is seen by the
  * next request, and the fallbacks (realtime tail, non-SCALAR field,
  * snapshot over the cap, a frame that is no open-cache snapshot) keep
  * probing the frame itself.
  *
  * The reference is Catalyst over every row of the snapshot (pushdown
  * off). The shipped session's pushed-down scans must match it too,
  * -0.0 under zero comparisons included: parquet's dictionary filter,
  * which compares floats by bits, is off (`Graft.session`).
  */
class ResidentScalarSpec extends SparkSpec {
  import spark.implicits._

  private val space = Space.fromJson(
    """{"name":"s","fields":[
        {"name":"i","type":"integer","index":{"type":"SCALAR"}},
        {"name":"l","type":"long","index":{"type":"SCALAR"}},
        {"name":"f","type":"float","index":{"type":"SCALAR"}},
        {"name":"d","type":"double","index":{"type":"SCALAR"}},
        {"name":"s","type":"string","index":{"type":"SCALAR"}},
        {"name":"tags","type":"stringArray","index":{"type":"SCALAR"}},
        {"name":"t","type":"date","index":{"type":"SCALAR"}},
        {"name":"u","type":"integer"},
        {"name":"vec","type":"vector","dimension":8,
         "index":{"type":"HNSW",
                  "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")

  private val n = 45
  private val ns = 1000000000L
  private val ints = Seq[Any](null, Int.MinValue, -1, 0, 1, 7, Int.MaxValue)
  private val longs = Seq[Any](null, Long.MinValue, -1L, 0L, 3L, Long.MaxValue)
  private val floats = Seq[Any](null, Float.NaN, -0.0f, 0.0f,
    Float.NegativeInfinity, Float.PositiveInfinity, Float.MaxValue, -1.5f, 2.5f)
  private val doubles = Seq[Any](null, Double.NaN, -0.0, 0.0,
    Double.MinPositiveValue, Double.MaxValue, -Double.MaxValue, 1e-300, 2.5,
    Double.NegativeInfinity)
  private val strings = Seq[Any](null, "", "a", "b", "é", "A")
  private val tagSets = Seq[Any](null, Seq(), Seq("x"), Seq("x", "y"),
    Seq(null, "y"), Seq("z"))
  private val dates = Seq[Any](null, 0L, 86400L * ns, 1600000000L * ns, -ns)

  private def vec(i: Int): Seq[Float] = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(r.nextFloat())
  }

  private def row(id: String, i: Int, iv: Any): Row = Row(id, iv,
    longs(i % longs.size), floats(i % floats.size), doubles(i % doubles.size),
    strings(i % strings.size), tagSets(i % tagSets.size),
    dates(i % dates.size), i, vec(i))

  private val schema = StructType(Seq(
    StructField("_id", StringType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("s", StringType),
    StructField("tags", ArrayType(StringType)), StructField("t", LongType),
    StructField("u", IntegerType), StructField("vec", ArrayType(FloatType))))

  private def docs(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def cond(field: String, op: String, value: String) =
    s"""{"field":"$field","operator":"$op","value":$value}"""
  private def and(cs: String*) =
    s"""{"operator":"AND","conditions":[${cs.mkString(",")}]}"""
  private def or(cs: String*) =
    s"""{"operator":"OR","conditions":[${cs.mkString(",")}]}"""

  /** Every filter shape of the differential, each over SCALAR fields. */
  private val filters: Seq[String] = Seq(
    and(cond("i", ">=", "0"), cond("i", "<", "2147483647")),
    and(cond("i", "=", "2147483647")),
    and(cond("i", "!=", "0")),
    and(cond("i", "<=", "-2147483648")),
    and(cond("i", "=", "4242")),
    and(cond("l", ">", "-1")),
    and(cond("l", "=", "-9223372036854775808")),
    and(cond("l", "<=", "9223372036854775807"), cond("l", "!=", "3")),
    and(cond("f", ">=", "0")),
    and(cond("f", "=", "0")),
    and(cond("f", "<=", "-0.0")),
    and(cond("f", "!=", "0")),
    and(cond("f", "<", "3.0e38")),
    and(cond("f", ">", "1e39")),
    and(cond("d", "=", "0")),
    and(cond("d", ">=", "0")),
    and(cond("d", "IN", "[0, 2.5]")),
    and(cond("d", ">", "0")),
    and(cond("d", "<", "-1e308")),
    and(cond("d", ">=", "1e-300"), cond("d", "<", "2.5")),
    and(cond("t", ">=", "\"1970-01-02\"")),
    and(cond("t", "<", "1600000000")),
    and(cond("t", "=", "\"2020-09-13T12:26:40Z\"")),
    and(cond("t", ">", "-1"), cond("t", "<=", "86400")),
    and(cond("s", "IN", """["a","é"]""")),
    and(cond("s", "NOT IN", """["a"]""")),
    and(cond("s", "IN", """[""]""")),
    and(cond("tags", "IN", """["x"]""")),
    and(cond("tags", "NOT IN", """["y"]""")),
    and(cond("tags", "IN", """["y","z"]""")),
    or(cond("i", "=", "7"), cond("s", "IN", """["b"]""")),
    and(cond("f", ">=", "0"), cond("tags", "IN", """["x","z"]""")),
    or(cond("d", ">", "0"), cond("l", "<", "0"), cond("t", "=", "0")))

  private def pred(json: String) =
    VearchFilters.parse(json, Set("tags"), Set("t"))

  private def request(filter: String) =
    s"""{"vectors":[{"field":"vec","feature":${vec(0).mkString("[", ",", "]")}}],
      "filters":$filter,"limit":100}"""

  /** A catalog space of `n` docs with its HNSW generation. */
  private def catalogSpace(tag: String): (SpaceCatalog, String, IndexLifecycle) = {
    val root = java.nio.file.Files.createTempDirectory(tag).toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    cat.createSpace("d", space)
    cat.upsert("d", "s", docs((0 until n).map(i =>
      row(s"u-$i", i, ints(i % ints.size)))), partitionNum = 3)
    val lc = new IndexLifecycle(spark, s"$root/d/s")
    lc.rebuildDeclared(space, "vec", idCol = "_docid", numShards = 2)
    (cat, s"$root/d/s", lc)
  }

  private def probe(frame: DataFrame, json: String): Set[Long] =
    frame.filter(pred(json)).select(col("_docid").cast("long"))
      .collect().map(_.getLong(0)).toSet

  private def withoutPushdown[T](body: => T): T = {
    spark.conf.set("spark.sql.parquet.filterPushdown", "false")
    try body finally spark.conf.set("spark.sql.parquet.filterPushdown", "true")
  }

  private def routedIds(cat: SpaceCatalog, json: String): Set[String] =
    cat.search("d", "s", space, request(json)).select("_id")
      .collect().map(_.getString(0)).toSet

  private def flatIds(cat: SpaceCatalog, json: String): Set[String] =
    SearchApi.search(cat.read("d", "s"), space, request(json)).select("_id")
      .collect().map(_.getString(0)).toSet

  test("resident allow-set equals the frame probe on every filter shape, and routed search equals FLAT") {
    val (cat, path, _) = catalogSpace("resident_diff")
    val frame = IndexStore.openTable(spark, path)
    // the docids whose float / double field holds -0.0
    def negZero(field: String) = cat.read("d", "s")
      .filter(col(field).cast("string") === "-0.0")
      .select(col("_docid")).collect().map(_.getLong(0)).toSet
    assert(negZero("f").nonEmpty && negZero("d").nonEmpty)
    val sizes = filters.map { json =>
      val resident = SearchApi.residentAllow(frame, space, "_docid", pred(json))
      assert(resident.isDefined, s"no resident allow-set for $json")
      val expected = withoutPushdown(probe(spark.read.parquet(path), json))
      assert(resident.get.toSet == expected, s"allow-set differs for $json")
      assert(resident.get.length == expected.size, s"duplicate ids for $json")
      assert(probe(frame, json) == expected, s"pushed-down probe differs for $json")
      assert(routedIds(cat, json) == flatIds(cat, json), s"routed != FLAT for $json")
      expected.size
    }
    // the shapes discriminate: some admit nothing, none admits everything
    assert(sizes.contains(0) && sizes.exists(_ > 0) && !sizes.contains(n), sizes)
  }

  test("the next request sees an upsert and a delete") {
    val (cat, path, lc) = catalogSpace("resident_write")
    val hit = and(cond("i", "=", "4242"))
    val frame0 = IndexStore.openTable(spark, path)
    assert(SearchApi.residentAllow(frame0, space, "_docid", pred(hit)).get.isEmpty)
    assert(routedIds(cat, hit).isEmpty)
    // an update of an indexed doc's scalar (same vector, same docid)
    cat.upsert("d", "s", docs(Seq(row("u-5", 5, 4242))), partitionNum = 3)
    assert(routedIds(cat, hit) == Set("u-5"))
    val frame1 = IndexStore.openTable(spark, path)
    assert(!(frame1 eq frame0))
    // the superseded snapshot no longer has a resident projection
    assert(SearchApi.residentAllow(frame0, space, "_docid", pred(hit)).isEmpty)
    assert(SearchApi.residentAllow(frame1, space, "_docid", pred(hit)).get.toSet ==
      probe(frame1, hit))
    cat.deleteByIds("d", "s", Seq("u-5"), Some(lc))
    assert(routedIds(cat, hit).isEmpty)
    val frame2 = IndexStore.openTable(spark, path)
    assert(SearchApi.residentAllow(frame2, space, "_docid", pred(hit)).get.isEmpty)
    assert(probe(frame2, hit).isEmpty)
  }

  test("fallbacks keep probing the frame: non-SCALAR field, over the cap, raw frame") {
    val (cat, path, _) = catalogSpace("resident_fallback")
    val frame = IndexStore.openTable(spark, path)
    val scalar = and(cond("i", ">=", "0"))
    val plain = and(cond("u", ">=", "10"))
    assert(SearchApi.residentAllow(frame, space, "_docid", pred(plain)).isEmpty)
    assert(routedIds(cat, plain) == flatIds(cat, plain))
    // the SCALAR filter's probe runs no job, the non-SCALAR one still takes
    routedIds(cat, scalar)
    val nScalar = jobsDuring(routedIds(cat, scalar))
    val nPlain = jobsDuring(routedIds(cat, plain))
    assert(nPlain > nScalar, s"non-SCALAR filter ran $nPlain jobs, SCALAR $nScalar")
    // a frame that is no open-cache snapshot
    assert(SearchApi.residentAllow(spark.read.parquet(path), space, "_docid",
      pred(scalar)).isEmpty)
    // a snapshot over the cap: its footers say so before any job runs
    val (_, path2, _) = catalogSpace("resident_overcap")
    val frame2 = IndexStore.openTable(spark, path2)
    val saved = SearchApi.maxFilterAllowIds
    try {
      SearchApi.maxFilterAllowIds = n - 1
      var over: Option[Array[Long]] = Some(Array.empty)
      assert(jobsDuring {
        over = SearchApi.residentAllow(frame2, space, "_docid", pred(scalar))
      } == 0)
      assert(over.isEmpty)
      SearchApi.maxFilterAllowIds = 1
      assert(SearchApi.residentAllow(frame, space, "_docid", pred(scalar)).isEmpty)
      assert(routedIds(cat, scalar) == flatIds(cat, scalar))
    } finally SearchApi.maxFilterAllowIds = saved
    // at exactly the cap the copy is built once, then reused with no job
    try {
      SearchApi.maxFilterAllowIds = n
      assert(SearchApi.residentAllow(frame2, space, "_docid", pred(scalar)).isDefined)
      assert(jobsDuring {
        SearchApi.residentAllow(frame2, space, "_docid", pred(scalar))
      } == 0)
    } finally SearchApi.maxFilterAllowIds = saved
  }

  test("parquet scans keep -0.0 rows under zero comparisons, as Catalyst does") {
    // one row group whose float and double dictionaries hold -0.0 but not 0.0
    val path = java.nio.file.Files.createTempDirectory("negzero").toString + "/t"
    Seq((1, -0.0f, -0.0), (2, -1.5f, -1.5), (3, -0.0f, -0.0)).toDF("id", "f", "d")
      .coalesce(1).write.parquet(path)
    for (p <- Seq("f = 0", "f >= 0", "f IN (0)", "f <= cast(-0.0 as float)",
        "d = 0", "d >= 0", "d IN (0.0, 1.0)", "d <= -0.0")) {
      val pushed = spark.read.parquet(path).filter(expr(p)).count()
      val all = withoutPushdown(spark.read.parquet(path).filter(expr(p)).count())
      assert(pushed == all && all >= 2, s"$p: pushed-down scan $pushed, Catalyst $all")
    }
  }

  test("a realtime tail keeps the frame probe: buffered writes pass the filter") {
    val rtSpace = Space.fromJson(
      """{"name":"s","enable_realtime":true,"fields":[
          {"name":"i","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    val root = java.nio.file.Files.createTempDirectory("resident_rt").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    cat.createSpace("d", rtSpace)
    cat.upsert("d", "s", (0 until 20).map(i => (s"r-$i", i, vec(i))).toDF("_id", "i", "vec")
      .select($"_id", $"i", $"vec".cast("array<float>").as("vec")), partitionNum = 2)
    val lc = new IndexLifecycle(spark, s"$root/d/s")
    lc.rebuildDeclared(rtSpace, "vec", idCol = "_docid", numShards = 2)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Int, Seq[Float])]
    val ing = cat.startRealtimeIngest("d", "s",
      mem.toDF().toDF("_id", "i", "vec")
        .select($"_id", $"i", $"vec".cast("array<float>").as("vec")),
      intervalMs = 100L)
    // one new buffered doc and one buffered update of a base doc's scalar
    mem.addData(("r-new", 4242, vec(99)), ("r-3", 9999, vec(3)))
    ing.processAllAvailable(); ing.stop()
    def ids(json: String) =
      cat.search("d", "s", rtSpace, request(json)).select("_id")
        .collect().map(_.getString(0)).toSet
    assert(ids(and(cond("i", "=", "4242"))) == Set("r-new"))
    assert(ids(and(cond("i", "=", "9999"))) == Set("r-3"))
    assert(ids(and(cond("i", "=", "3"))).isEmpty)
    assert(ids(and(cond("i", "<", "5"))) == Set("r-0", "r-1", "r-2", "r-4"))
  }
}
