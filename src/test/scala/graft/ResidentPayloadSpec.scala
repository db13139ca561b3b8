package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.{IndexLifecycle, SearchApi}
import graft.schema.{Space, SpaceCatalog}
import graft.sources.IndexStore

/** Differential spec of the resident payload: a routed request over a
  * snapshot opened through the open cache takes its payload from the
  * snapshot's resident projection, and its response (a local relation)
  * has exactly the schema, rows and row order of the pruned payload
  * fetch that serves the same request over a raw `spark.read` of the same
  * files. Every shape that falls back still fetches, with the same rows.
  */
class ResidentPayloadSpec extends SparkSpec {
  import spark.implicits._

  private def spaceJson(realtime: Boolean) =
    s"""{"name":"s","enable_realtime":$realtime,"fields":[
        {"name":"i","type":"integer","index":{"type":"SCALAR"}},
        {"name":"f","type":"float","index":{"type":"SCALAR"}},
        {"name":"s","type":"string","index":{"type":"SCALAR"}},
        {"name":"tags","type":"stringArray","index":{"type":"SCALAR"}},
        {"name":"u","type":"integer"},
        {"name":"vec","type":"vector","dimension":8,
         "index":{"type":"HNSW",
                  "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}"""
  private val space = Space.fromJson(spaceJson(false))

  private val n = 60
  private val floats = Seq[Any](null, Float.NaN, -0.0f, 0.0f, -1.5f, 2.5f,
    Float.PositiveInfinity)

  private def vec(i: Int): Seq[Float] = {
    val r = new scala.util.Random(i)
    Seq.fill(8)(r.nextFloat())
  }

  /** Four docs share this vector, so a query at it scores them alike.
    * Their ids order differently in UTF-8 bytes (Spark's string order)
    * and in UTF-16 units (Java's `String.compareTo`): U+FF21 sorts
    * before U+1D11E in UTF-8 and after its surrogate pair in UTF-16.
    */
  private val tied = vec(1000)
  private val tieIds = Seq("t-𝄞", "t-a", "t-Ａ", "t-Z")

  private val schema = StructType(Seq(
    StructField("_id", StringType), StructField("i", IntegerType),
    StructField("f", FloatType), StructField("s", StringType),
    StructField("tags", ArrayType(StringType)), StructField("u", IntegerType),
    StructField("vec", ArrayType(FloatType))))

  private def doc(id: String, i: Int, v: Seq[Float]): Row = Row(id, i,
    floats(i % floats.size), Seq[Any](null, "", "a", "é")(i % 4),
    Seq[Any](null, Seq("x"), Seq("x", "y"))(i % 3), i * 7, v)

  private def docs(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A catalog space (string PK, routed by `_docid`) with its HNSW generation. */
  private def catalogSpace(tag: String): (SpaceCatalog, String, IndexLifecycle) = {
    val root = java.nio.file.Files.createTempDirectory(tag).toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    cat.createSpace("d", space)
    cat.upsert("d", "s", docs((0 until n).map(i => doc(s"u-$i", i, vec(i))) ++
      tieIds.zipWithIndex.map { case (id, j) => doc(id, n + j, tied) }),
      partitionNum = 3)
    val lc = new IndexLifecycle(spark, s"$root/d/s")
    lc.rebuildDeclared(space, "vec", idCol = "_docid", numShards = 2)
    (cat, s"$root/d/s", lc)
  }

  private def request(qs: Seq[Seq[Float]], limit: Int, extra: String = "",
      fields: String = """["i","f","s","tags"]"""): String =
    s"""{"vectors":[{"field":"vec","feature":${qs.flatten.mkString("[", ",", "]")}}],
      "fields":$fields,"limit":$limit$extra}"""

  private def filter(cond: String) =
    s""","filters":{"operator":"AND","conditions":[$cond]}"""

  private def isResident(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** `served` (the request over the opened snapshot) against `fetched`
    * (the same request over a raw read, which always fetches): same
    * schema, same rows in the same order; a resident response collects
    * with no Spark job.
    */
  private def assertParity(served: DataFrame, fetched: DataFrame,
      resident: Boolean, ctx: String): Seq[Row] = {
    assert(!isResident(fetched), s"$ctx: the raw-frame request did not fetch")
    assert(isResident(served) == resident,
      s"$ctx: resident ${isResident(served)}, expected $resident")
    assert(served.schema == fetched.schema,
      s"$ctx: schema ${served.schema} vs fetch ${fetched.schema}")
    assert(rows(served) == rows(fetched),
      s"$ctx: ${rows(served).take(4)} vs fetch ${rows(fetched).take(4)}")
    if (resident) assert(jobsDuring(served.collect()) == 0, s"$ctx: collect ran a job")
    served.collect().toSeq
  }

  private def catalogParity(cat: SpaceCatalog, path: String, lc: IndexLifecycle,
      req: String, resident: Boolean = true, sp: Space = space): Seq[Row] =
    assertParity(cat.search("d", "s", sp, req),
      SearchApi.searchAuto(spark.read.parquet(path), sp, req, lc), resident, req)

  test("string-PK space: single, batched, filtered, offset and sorted requests equal the fetch") {
    val (cat, path, lc) = catalogSpace("payload_str")
    val qs = Seq(tied, vec(3), vec(17))
    for (req <- Seq(
        request(Seq(tied), 3), request(Seq(tied), 8), request(Seq(vec(5)), 10),
        request(qs, 6), request(Seq(tied), 8, fields = """["_id"]"""),
        request(Seq(tied), 8, fields = """["tags","_docid","f"]"""),
        request(Seq(vec(5)), 10, filter("""{"field":"i","operator":">=","value":20}""")),
        request(qs, 5, filter("""{"field":"f","operator":">=","value":0}""")),
        request(Seq(vec(5)), 10, filter("""{"field":"s","operator":"IN","value":["a"]}""")),
        request(Seq(vec(5)), 10, filter("""{"field":"i","operator":">","value":100000}""")),
        request(Seq(tied), 6, ""","offset":2"""),
        request(qs, 4, ""","offset":3"""),
        request(Seq(vec(9)), 9, ""","sort":[{"f":{"order":"desc"}}]"""),
        request(qs, 5, ""","offset":1,"sort":[{"i":{"order":"asc"}}]""")))
      catalogParity(cat, path, lc, req)
    // score ties come in UTF-8 byte order of `_id`, which here differs
    // from Java's String order, so the spec discriminates the two
    val got = cat.search("d", "s", space, request(Seq(tied), 8))
      .select("_id", "_score").collect().toSeq
    val tiedIds = got.filter(_.getDouble(1) == got.head.getDouble(1)).map(_.getString(0))
    val utf8 = tieIds.sortBy(_.getBytes("UTF-8").toSeq.map(_ & 0xff))(
      Ordering.Implicits.seqOrdering[Seq, Int])
    assert(tiedIds == utf8, s"tie order $tiedIds")
    assert(tieIds.sorted != utf8)
  }

  test("integral PK on a bucketed layout: parity, a hit with no row drops out, a repeated id fetches") {
    val root = java.nio.file.Files.createTempDirectory("payload_int").toString
    val path = s"$root/space"
    val nb = 4
    val base = (0 until n).map(i => (i.toLong, i, floats(i % floats.size), vec(i)))
    def write(rows: Seq[(Long, Int, Any, Seq[Float])]): Unit = {
      spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
          Row(r._1, r._2, r._3, r._4)): _*),
        StructType(Seq(StructField("_id", LongType), StructField("i", IntegerType),
          StructField("f", FloatType), StructField("vec", ArrayType(FloatType)))))
        .withColumn("_bucket", pmod(hash($"_id"), lit(nb)))
        .write.mode("overwrite").partitionBy("_bucket").parquet(path)
      graft.sources.SidecarIO.writeString(s"$path/_graft_buckets", nb.toString)
    }
    write(base)
    val sp = Space.fromJson(
      """{"name":"p","fields":[
          {"name":"i","type":"integer","index":{"type":"SCALAR"}},
          {"name":"f","type":"float","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    val lc = new IndexLifecycle(spark, path)
    lc.rebuildDeclared(sp, "vec", numShards = 2)
    def parity(req: String, resident: Boolean = true): Seq[Row] = assertParity(
      SearchApi.searchAuto(IndexStore.openTable(spark, path), sp, req, lc),
      SearchApi.searchAuto(spark.read.parquet(path), sp, req, lc), resident, req)
    val single = request(Seq(vec(4)), 7, fields = """["f","i"]""")
    val batch = request(Seq(vec(4), vec(30)), 5, fields = """["i"]""")
    val ids0 = parity(single).map(_.getLong(0))
    parity(batch)
    parity(request(Seq(vec(4)), 7, filter("""{"field":"i","operator":"<","value":30}"""),
      fields = """["i"]"""))
    // the table loses two hit rows while the index still holds them
    val gone = ids0.take(2).toSet
    write(base.filterNot(r => gone(r._1)))
    val ids1 = parity(single).map(_.getLong(0))
    assert(ids1 == ids0.drop(2), s"$ids1 vs $ids0")
    // a routing id that repeats in the snapshot: the lookup refuses it
    write(base :+ base(ids0.head.toInt))
    assert(parity(single, resident = false).count(_.getLong(0) == ids0.head) == 2)
  }

  test("the next request sees a ledger delete and an upsert's new payload") {
    val (cat, path, lc) = catalogSpace("payload_write")
    val req = request(Seq(tied), 8)
    val before = catalogParity(cat, path, lc, req)
    val victim = before.head.getString(0)
    cat.deleteByIds("d", "s", Seq(victim), Some(lc))
    val afterDelete = catalogParity(cat, path, lc, req)
    assert(!afterDelete.exists(_.getString(0) == victim))
    assert(afterDelete.map(_.getString(0)) == before.map(_.getString(0)).tail :+
      afterDelete.last.getString(0))
    // an update of a served doc's scalar (same vector, same docid)
    val updated = afterDelete.head.getString(0)
    cat.upsert("d", "s", docs(Seq(doc(updated, 4242, tied))), partitionNum = 3)
    val afterUpsert = catalogParity(cat, path, lc, req)
    assert(afterUpsert.find(_.getString(0) == updated).map(_.getInt(1)).contains(4242))
  }

  test("fallbacks fetch with identical rows: non-SCALAR and vector fields, over the cap, realtime tail") {
    val (cat, path, lc) = catalogSpace("payload_fallback")
    val q = Seq(vec(5))
    // a response the projection cannot serve builds none: the first
    // request on the fresh snapshot runs no more jobs than the same
    // request over a raw read (the hits action and the fetch)
    val nonScalar = request(q, 6, fields = """["i","u"]""")
    def raw() = SearchApi.searchAuto(spark.read.parquet(path), space, nonScalar, lc)
    raw().collect() // loads the index generation
    val served = jobsDuring(cat.search("d", "s", space, nonScalar).collect())
    val fetched = jobsDuring(raw().collect())
    assert(served <= fetched, s"first non-SCALAR request ran $served jobs, the fetch $fetched")
    catalogParity(cat, path, lc, nonScalar, resident = false)
    catalogParity(cat, path, lc, request(q, 6, fields = "null"), resident = false)
    catalogParity(cat, path, lc, request(q, 6, ""","vector_value":true""",
      fields = """["i","vec"]"""), resident = false)
    val saved = SearchApi.maxFilterAllowIds
    try {
      SearchApi.maxFilterAllowIds = n + tieIds.size - 1
      catalogParity(cat, path, lc, request(q, 6), resident = false)
      SearchApi.maxFilterAllowIds = n + tieIds.size
      catalogParity(cat, path, lc, request(q, 6))
    } finally SearchApi.maxFilterAllowIds = saved

    // a realtime space whose tail holds a new doc and an update
    val rtSpace = Space.fromJson(spaceJson(true))
    val root = java.nio.file.Files.createTempDirectory("payload_rt").toString
    val rt = new SpaceCatalog(spark, root)
    rt.createDb("d")
    rt.createSpace("d", rtSpace)
    rt.upsert("d", "s", docs((0 until 20).map(i => doc(s"r-$i", i, vec(i)))),
      partitionNum = 2)
    val rtPath = s"$root/d/s"
    val rtLc = new IndexLifecycle(spark, rtPath)
    rtLc.rebuildDeclared(rtSpace, "vec", idCol = "_docid", numShards = 2)
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Int, Seq[Float])]
    val ing = rt.startRealtimeIngest("d", "s",
      mem.toDF().toDF("_id", "i", "vec")
        .select($"_id", $"i", $"vec".cast("array<float>").as("vec")),
      intervalMs = 100L)
    mem.addData(("r-new", 4242, vec(5)), ("r-3", 9999, vec(3)))
    ing.processAllAvailable(); ing.stop()
    val tail = new graft.streaming.RealtimeTail(spark, rtPath, s"$rtPath.tail",
      s"$rtPath.ckpt", "_id", None, ridCol = Some("_docid"))
    val rtReq = request(q, 6, fields = """["i"]""")
    val got = assertParity(rt.search("d", "s", rtSpace, rtReq),
      SearchApi.searchAuto(spark.read.parquet(rtPath), rtSpace, rtReq, rtLc, Some(tail)),
      resident = false, "realtime tail")
    assert(got.exists(r => r.getString(0) == "r-new" && r.getInt(1) == 4242))
  }
}
