package graft

import org.apache.spark.sql.types._
import graft.schema.{FieldKind, Space, SpaceCatalog}

class SpaceSpec extends SparkSpec {
  import spark.implicits._

  private val goodJson =
    """{"name": "ts_space", "partition_num": 2, "replica_num": 1,
        "fields": [
          {"name": "field_int", "type": "integer", "index": {"type": "SCALAR"}},
          {"name": "field_str", "type": "string"},
          {"name": "tags", "type": "stringArray"},
          {"name": "created", "type": "date"},
          {"name": "field_vector", "type": "vector", "dimension": 8,
           "format": "normalization",
           "index": {"type": "IVFFLAT", "params": {"metric_type": "InnerProduct"}}}
        ]}"""

  test("space JSON parses to the right StructType") {
    val sp = Space.fromJson(goodJson)
    val st = sp.toStructType
    assert(st.fieldNames.toSeq ==
      Seq("_id", "field_int", "field_str", "tags", "created", "field_vector"))
    assert(st("field_int").dataType == IntegerType)
    assert(st("tags").dataType == ArrayType(StringType))
    assert(st("created").dataType == LongType) // ns-epoch semantics
    assert(st("field_vector").dataType == ArrayType(FloatType))
    val vf = sp.vectorFields.head
    assert(vf.vector.get.dimension == 8)
    assert(vf.vector.get.metric == "ip")
    assert(vf.vector.get.normalized)
  }

  test("validation: reserved names, bad dim, dupes, bad type") {
    def bad(json: String) = assertThrows[IllegalArgumentException](Space.fromJson(json))
    bad("""{"name":"x","fields":[{"name":"_id","type":"string"}]}""")
    bad("""{"name":"x","fields":[{"name":"v","type":"vector","dimension":0}]}""")
    bad("""{"name":"x","fields":[{"name":"v","type":"vector"}]}""")
    bad("""{"name":"x","fields":[{"name":"a","type":"long"},{"name":"a","type":"long"}]}""")
    bad("""{"name":"x","fields":[{"name":"a","type":"uuid"}]}""")
    bad("""{"name":"9bad","fields":[{"name":"a","type":"long"}]}""")
    bad("""{"name":"x","fields":[]}""")
  }

  test("index type whitelist + HNSW param bounds (space.go:302-317,339-349)") {
    def bad(json: String) = assertThrows[IllegalArgumentException](Space.fromJson(json))
    def vec(index: String) =
      s"""{"name":"x","fields":[{"name":"v","type":"vector","dimension":8,
           "index":$index}]}"""
    // every reference-accepted type parses (execution routing is separate)
    for (t <- graft.schema.Space.IndexTypes)
      assert(Space.fromJson(vec(s"""{"type":"$t"}"""))
        .vectorFields.head.vector.get.indexType == t)
    bad(vec("""{"type":"BTREE"}"""))
    // nlinks ∈ [8, 96], efConstruction ∈ [16, 1024]; 0/absent = default
    bad(vec("""{"type":"HNSW","params":{"nlinks":4}}"""))
    bad(vec("""{"type":"HNSW","params":{"nlinks":128}}"""))
    bad(vec("""{"type":"HNSW","params":{"efConstruction":8}}"""))
    bad(vec("""{"type":"HNSW","params":{"efConstruction":2048}}"""))
    val ok = Space.fromJson(vec(
      """{"type":"HNSW","params":{"nlinks":32,"efConstruction":100,"efSearch":64}}"""))
    assert(ok.vectorFields.head.vector.get.indexParams ==
      Map("nlinks" -> 32, "efConstruction" -> 100, "efSearch" -> 64))
    // absent index block keeps the FLAT default
    assert(Space.fromJson(
      """{"name":"x","fields":[{"name":"v","type":"vector","dimension":8}]}""")
      .vectorFields.head.vector.get.indexType == "FLAT")
  }

  test("param bounds gate by index type (space.go:339-375)") {
    def bad(json: String) = assertThrows[IllegalArgumentException](Space.fromJson(json))
    def vec(index: String) =
      s"""{"name":"x","fields":[{"name":"v","type":"vector","dimension":8,
           "index":$index}]}"""
    // the reference checks nlinks/efConstruction ONLY when type == HNSW:
    // a SCANN or FLAT space carrying out-of-band graph params is accepted
    assert(Space.fromJson(vec("""{"type":"FLAT","params":{"nlinks":4}}"""))
      .vectorFields.head.vector.get.indexParams == Map("nlinks" -> 4))
    assert(Space.fromJson(vec("""{"type":"SCANN","params":{"nlinks":4,"efConstruction":8}}"""))
      .vectorFields.head.vector.get.indexType == "SCANN")
    bad(vec("""{"type":"HNSW","params":{"nlinks":4}}"""))
    // nprobe ≤ ncentroids applies to the IVF family only
    assert(Space.fromJson(vec("""{"type":"HNSW","params":{"nprobe":64,"ncentroids":8}}"""))
      .vectorFields.head.vector.get.indexType == "HNSW")
    bad(vec("""{"type":"IVFFLAT","params":{"nprobe":64,"ncentroids":8}}"""))
    bad(vec("""{"type":"IVFPQ","params":{"nprobe":64,"ncentroids":8}}"""))
    // ...and the reference's validation list (space.go:352) EXCLUDES
    // IVFPQ_RELAYOUT: a relayout space with nprobe > ncentroids is valid
    assert(Space.fromJson(vec("""{"type":"IVFPQ_RELAYOUT","params":{"nprobe":64,"ncentroids":8}}"""))
      .vectorFields.head.vector.get.indexType == "IVFPQ_RELAYOUT")
  }

  test("per-space engine config: refresh_interval/cache_size/slow_search_time") {
    val sp = Space.fromJson(
      """{"name":"cfg","engine":{"refresh_interval":250,"cache_size":512,
          "slow_search_time":200},
         "fields":[{"name":"n","type":"long"}]}""")
    assert(sp.config.refreshIntervalMs == 250L)
    assert(sp.config.cacheSizeMb == 512)
    assert(sp.config.slowSearchTimeMs == 200L)
    // defaults mirror the reference's (space.go:156-164)
    val d = Space.fromJson("""{"name":"dflt","fields":[{"name":"n","type":"long"}]}""")
    assert(d.config == graft.schema.SpaceConfig())
    // tighter slow_search_time lowers the slow-pool big-topN bar
    import graft.api.SearchApi
    assert(SearchApi.classifyPool(sp, limit = 150, nprobe = 0, ncentroids = 0,
      nFilters = 0) == "slow") // bar = 500*200/1000 = 100
    assert(SearchApi.classifyPool(d, limit = 150, nprobe = 0, ncentroids = 0,
      nFilters = 0) == "default")
  }

  test("enable_realtime parses (space-level, space.go:151; default false)") {
    def sp(extra: String) = Space.fromJson(
      s"""{"name":"x"$extra,"fields":[{"name":"v","type":"vector","dimension":8}]}""")
    assert(!sp("").config.enableRealtime) // DefalutEnableRealtime = false
    assert(sp(""","enable_realtime":true""").config.enableRealtime)
    assert(!sp(""","enable_realtime":false""").config.enableRealtime)
    assert(sp(""","engine":{"enable_realtime":true}""").config.enableRealtime)
  }

  test("catalog search honors the declaration: enable_realtime unions the buffer") {
    val root = java.nio.file.Files.createTempDirectory("spaces_rt").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("db2")
    val sp = Space.fromJson(
      """{"name":"rt","enable_realtime":true,"fields":[
          {"name":"embedding","type":"vector","dimension":4}]}""")
    assert(sp.config.enableRealtime)
    cat.createSpace("db2", sp)
    cat.upsert("db2", "rt",
      Seq(("a", Seq(1f, 0f, 0f, 0f)), ("b", Seq(0f, 1f, 0f, 0f)))
        .toDF("_id", "embedding")
        .select($"_id", $"embedding".cast("array<float>")))
    // a buffered write not yet folded by compaction
    val rt = cat.realtimeTail("db2", "rt")
    Seq(("c", Seq(0.9f, 0.1f, 0f, 0f))).toDF("_id", "embedding")
      .select($"_id", $"embedding".cast("array<float>"))
      .write.parquet(rt.tailPath)
    val req = """{"vectors":[{"field":"embedding","feature":[1,0,0,0]}],"limit":2}"""
    // realtime declaration: the buffered doc outranks the base's #2
    val got = cat.search("db2", "rt", sp, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got == Seq("a", "c"))
    // same table WITHOUT the flag: the buffer stays invisible (the
    // reference's non-realtime space semantics)
    val spOff = Space.fromJson(
      """{"name":"rt","fields":[
          {"name":"embedding","type":"vector","dimension":4}]}""")
    val gotOff = cat.search("db2", "rt", spOff, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(gotOff == Seq("a", "b"))
  }

  test("engine config accepts integral JSON doubles, rejects fractional") {
    // serializers commonly emit 1000.0 for integral values (ADVICE r3)
    val sp = Space.fromJson(
      """{"name":"cfgd","engine":{"refresh_interval":250.0,"cache_size":512.0},
         "fields":[{"name":"n","type":"long"}]}""")
    assert(sp.config.refreshIntervalMs == 250L)
    assert(sp.config.cacheSizeMb == 512)
    assertThrows[IllegalArgumentException](Space.fromJson(
      """{"name":"cfgf","engine":{"refresh_interval":250.5},
         "fields":[{"name":"n","type":"long"}]}"""))
  }

  test("crash recovery: aside bucket dirs are restored on open") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("spaces_r").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("db1")
    cat.createSpace("db1", Space.fromJson(
      """{"name":"s3","fields":[{"name":"n","type":"long"}]}"""))
    val init = (0 until 100).map(i => (s"id$i", i.toLong)).toDF("_id", "n")
    cat.upsert("db1", "s3", init, partitionNum = 4)
    val path = s"$root/db1/s3"
    // crash leftovers are MINUTES old by the time anything reads them;
    // readers deliberately ignore asides younger than the grace window
    // (those may belong to a live writer's in-flight swap)
    def age(p: java.nio.file.Path): Unit = {
      Files.setLastModifiedTime(p,
        FileTime.fromMillis(System.currentTimeMillis() - 300000L))
      ()
    }

    // simulate a crash inside replaceBucket: bucket moved aside, new one
    // never moved in — without recovery these rows silently disappear
    val victim = Files.list(Paths.get(path)).filter(
      p => p.getFileName.toString.startsWith("_bucket=")).findFirst().get()
    val b = victim.getFileName.toString.stripPrefix("_bucket=")
    Files.move(victim, Paths.get(s"$path.oldbucket.$b"))
    // a FRESH aside (possible live swap) is left alone by readers…
    assert(cat.docCount("db1", "s3") < 100)
    assert(Files.exists(Paths.get(s"$path.oldbucket.$b")))
    age(Paths.get(s"$path.oldbucket.$b"))
    // …an aged one is restored on open
    assert(cat.docCount("db1", "s3") == 100)
    assert(!Files.exists(Paths.get(s"$path.oldbucket.$b")))

    // leftover aside whose swap DID complete (dst exists) is just dropped
    val some = Files.list(Paths.get(path)).filter(
      p => p.getFileName.toString.startsWith("_bucket=")).findFirst().get()
    val b2 = some.getFileName.toString.stripPrefix("_bucket=")
    Files.createDirectories(Paths.get(s"$path.oldbucket.$b2"))
    Files.writeString(Paths.get(s"$path.oldbucket.$b2", "stale.txt"), "junk")
    age(Paths.get(s"$path.oldbucket.$b2"))
    assert(cat.docCount("db1", "s3") == 100)
    assert(!Files.exists(Paths.get(s"$path.oldbucket.$b2")))

    // crash inside replace(): whole table under path.old, path gone
    Files.move(Paths.get(path), Paths.get(s"$path.old"))
    age(Paths.get(s"$path.old"))
    assert(cat.docCount("db1", "s3") == 100)
    assert(Files.exists(Paths.get(path)) && !Files.exists(Paths.get(s"$path.old")))

    // a writer, by contrast, recovers even fresh asides (single-writer
    // contract: nothing can be in flight when it starts)
    val third = Files.list(Paths.get(path)).filter(
      p => p.getFileName.toString.startsWith("_bucket=")).findFirst().get()
    val b3 = third.getFileName.toString.stripPrefix("_bucket=")
    Files.move(third, Paths.get(s"$path.oldbucket.$b3"))
    cat.upsert("db1", "s3", Seq(("id0", 999L)).toDF("_id", "n"), partitionNum = 4)
    assert(cat.docCount("db1", "s3") == 100)
    assert(!Files.exists(Paths.get(s"$path.oldbucket.$b3")))
  }

  test("catalog: create/upsert/query/alias/count/backup/restore/drop") {
    val root = java.nio.file.Files.createTempDirectory("spaces").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("db1")
    val sp = Space.fromJson(
      """{"name":"s1","fields":[{"name":"n","type":"long"}]}""")
    cat.createSpace("db1", sp)
    assertThrows[IllegalArgumentException](cat.createSpace("db1", sp))

    val batch = Seq(("a", 1L), ("b", 2L)).toDF("_id", "n")
    cat.upsert("db1", "s1", batch)
    assert(cat.docCount("db1", "s1") == 2)

    cat.upsert("db1", "s1", Seq(("b", 20L), ("c", 3L)).toDF("_id", "n"))
    val rows = cat.read("db1", "s1").orderBy("_id")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("a", 1L), ("b", 20L), ("c", 3L)))

    cat.createAlias("s1_alias", "db1", "s1")
    assert(spark.table("s1_alias").count() == 3)

    cat.deleteByQuery("db1", "s1", org.apache.spark.sql.functions.col("n") > 10)
    assert(cat.docCount("db1", "s1") == 2)

    // backup/restore over a Hadoop-FS URI (file:// here; same code path
    // serves hdfs:// or s3a://) — byte-faithful, bucket layout included
    val bdir = s"file://$root/backup1"
    cat.backup("db1", "s1", bdir)
    assertThrows[IllegalArgumentException](cat.backup("db1", "s1", bdir))
    cat.dropSpace("db1", "s1")
    cat.restore("db1", "s1", bdir)
    assert(cat.docCount("db1", "s1") == 2)
    // the restored table kept its physical bucket meta (copy, not rewrite)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/db1/s1/_graft_buckets")))
    val again = cat.read("db1", "s1").orderBy("_id")
      .as[(String, Long)].collect().toSeq
    assert(again == Seq(("a", 1L), ("c", 3L)))
  }

  test("bucketed upsert rewrites only touched buckets") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("spaces_b").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("db1")
    cat.createSpace("db1", Space.fromJson(
      """{"name":"s2","fields":[{"name":"n","type":"long"}]}"""))

    val nb = 8
    val init = (0 until 200).map(i => (s"id$i", i.toLong)).toDF("_id", "n")
    cat.upsert("db1", "s2", init, partitionNum = nb)
    assert(cat.docCount("db1", "s2") == 200)

    def fileState(): Map[String, (Long, Long)] = {
      val base = Paths.get(s"$root/db1/s2")
      Files.walk(base).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.contains("_bucket="))
        .map(p => base.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
    val before = fileState()
    assert(before.nonEmpty)

    // a single-id batch touches exactly one bucket
    cat.upsert("db1", "s2", Seq(("id7", 999L)).toDF("_id", "n"), partitionNum = nb)
    val after = fileState()
    val touched = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash(
        org.apache.spark.sql.functions.lit("id7")),
      org.apache.spark.sql.functions.lit(nb))
    val touchedBucket = init.sparkSession.range(1)
      .select(touched.as("b")).head().getInt(0)
    val untouchedBefore = before.filterNot(_._1.startsWith(s"_bucket=$touchedBucket/"))
    val untouchedAfter = after.filterNot(_._1.startsWith(s"_bucket=$touchedBucket/"))
    // untouched buckets: identical file names, sizes, mtimes (never rewritten)
    assert(untouchedAfter == untouchedBefore)
    assert(after.keys.exists(_.startsWith(s"_bucket=$touchedBucket/")))

    val rows = cat.read("db1", "s2").filter($"_id" === "id7")
      .as[(String, Long)].collect().toSeq
    assert(rows == Seq(("id7", 999L)))
    assert(cat.docCount("db1", "s2") == 200)

    // id-SORTED within each bucket (r18, the RocksDB key-order analog):
    // row groups / pages carry monotone `_id` stats, so the point-read
    // paths' id-IN pushdown skips inside a bucket instead of scanning it
    import org.apache.spark.sql.functions.input_file_name
    val perFile = cat.read("db1", "s2")
      .withColumn("_f", input_file_name())
      .select("_f", "_id").collect()
      .groupBy(_.getString(0)).values
    assert(perFile.forall { rows =>
      val ids = rows.map(_.getString(1)).toSeq
      ids == ids.sorted
    }, "bucket files must be _id-sorted for point-read page skipping")

    // bucket-pruned delete: only buckets holding matches rewritten
    val beforeDel = fileState()
    cat.deleteByQuery("db1", "s2", $"_id" === "id7")
    val afterDel = fileState()
    assert(cat.docCount("db1", "s2") == 199)
    val untouchedBeforeDel = beforeDel.filterNot(_._1.startsWith(s"_bucket=$touchedBucket/"))
    val untouchedAfterDel = afterDel.filterNot(_._1.startsWith(s"_bucket=$touchedBucket/"))
    assert(untouchedAfterDel == untouchedBeforeDel)
  }

  test("catalog is scheme-portable: full journey against an explicit file: URI root") {
    // the catalog's path layer must resolve by SCHEME (Hadoop FS), not
    // java.nio — on an hdfs:// or s3a:// root a java.nio `exists` would
    // silently answer false (no recovery, no HWM mark, broken swaps).
    // file: is the scheme-carrying stand-in the container can serve.
    import org.apache.spark.sql.functions._
    val root = "file:" + java.nio.file.Files.createTempDirectory("cat_uri").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    assert(cat.listDbs() == Seq("d"))
    val space = Space.fromJson(
      """{"name":"s","enable_realtime":true,"fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("d", space)
    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    val docs = (0 until 30).map(i => (s"u-$i", i % 3, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("d", "s", docs, partitionNum = 4)
    // the docid HWM mark landed through the scheme-aware writer
    assert(graft.sources.SidecarIO.exists(s"$root/d/s/_graft_docid_hwm"))
    assert(cat.docCount("d", "s") == 30)
    val lc = new graft.api.IndexLifecycle(spark, s"$root/d/s")
    lc.rebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))

    // streamed rows buffer into the URI-rooted tail and serve live
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Int, Seq[Float])]
    val ing = cat.startRealtimeIngest("d", "s",
      mem.toDF().toDF("_id", "stars", "vec")
        .select($"_id", $"stars", $"vec".cast("array<float>").as("vec")),
      intervalMs = 100L)
    mem.addData(("u-buf", 1, vf(0)))
    ing.processAllAvailable(); ing.stop()
    val qv = vf(0)
    // vf wraps mod 11: u-0/u-11/u-22/u-buf all hold this exact vector, so
    // the limit must cover every distance-0 tie or the assertion races
    // the tie-break
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":6}"""
    val got = cat.search("d", "s", space, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got.contains("u-buf") && got.contains("u-0")) // tail ∪ routed base

    // delete against the live view, then fold the tail into the bucketed base
    cat.deleteByQuery("d", "s", col("_id") === "u-0", Some(lc))
    cat.compactRealtime("d", "s", Some(lc))
    assert(cat.docCount("d", "s") == 30) // 30 - u-0 + u-buf
    // the folded churn drives the drift rebuild (same contract as the
    // UserJourney): the tail is cleared, so the NEW generation serves u-buf
    assert(lc.maybeRebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2),
      driftThreshold = 0.01))
    val got2 = cat.search("d", "s", space, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got2.contains("u-buf") && !got2.contains("u-0"))
    // the fold kept the bucketed layout + meta under the URI root
    assert(graft.sources.SidecarIO.exists(s"$root/d/s/_graft_buckets"))
    cat.dropSpace("d", "s")
    assert(!graft.sources.SidecarIO.exists(s"$root/d/s"))
  }

  test("catalog deleteByQuery records routed deletes; query answers over the buffer") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("cat_dbq").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    val space = Space.fromJson(
      """{"name":"s","enable_realtime":true,"fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("d", space)
    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    val docs = (0 until 30).map(i => (s"u-$i", i % 3, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("d", "s", docs)
    val lc = new graft.api.IndexLifecycle(spark, s"$root/d/s")
    lc.rebuildHnsw("_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))

    // delete-by-query WITH the lifecycle: the ledger records the
    // matching DOCIDs, so the routed walk gates them immediately —
    // no rebuild, no ghosts
    cat.deleteByQuery("d", "s", col("stars") === 0, Some(lc))
    val qv = vf(0) // u-0 (stars=0, now deleted) holds this exact vector
    val req = s"""{"vectors":[{"field":"vec","feature":${qv.mkString("[", ",", "]")}}],"limit":5}"""
    val got = cat.search("d", "s", space, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(got.nonEmpty && !got.exists(id => id.drop(2).toInt % 3 == 0))

    // the PK-list form takes the same bucket-pruned + ledgered path
    cat.deleteByIds("d", "s", Seq(got.head), Some(lc))
    val got2 = cat.search("d", "s", space, req)
      .select($"_id").collect().map(_.getString(0)).toSeq
    assert(!got2.contains(got.head) && got2.nonEmpty)

    // the buffer: a streamed doc is fetchable by id BEFORE compaction…
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val mem = MemoryStream[(String, Int, Seq[Float])]
    val ing = cat.startRealtimeIngest("d", "s",
      mem.toDF().toDF("_id", "stars", "vec")
        .select($"_id", $"stars", $"vec".cast("array<float>").as("vec")),
      intervalMs = 100L)
    mem.addData(("u-buf", 1, vf(99)))
    ing.processAllAvailable(); ing.stop()
    val fetch = """{"document_ids":["u-buf"],"limit":10}"""
    assert(cat.query("d", "s", space, fetch)
      .select($"_id").collect().map(_.getString(0)).toSeq == Seq("u-buf"))
    // …and a delete-by-query while it is STILL buffered keeps it out of
    // the live view (ledger over the live view, not just the base)
    cat.deleteByQuery("d", "s", col("_id") === "u-buf", Some(lc))
    assert(cat.query("d", "s", space, fetch).isEmpty)
  }

  test("deleteByQuery that empties every bucket keeps the docid mark: new docs route") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("cat_empty").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    val space = Space.fromJson(
      """{"name":"s","fields":[
          {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
          {"name":"vec","type":"vector","dimension":8,
           "index":{"type":"HNSW",
                    "params":{"nlinks":8,"efConstruction":32,"efSearch":4096}}}]}""")
    cat.createSpace("d", space)
    def vf(seed: Int): Seq[Float] = (0 until 8).map(i => ((seed * 37 + i * 3) % 11 - 5).toFloat)
    def docs(prefix: String, n: Int) = (0 until n).map(i => (s"$prefix-$i", i % 3, vf(i)))
      .toDF("_id", "stars", "vec")
      .select($"_id", $"stars", $"vec".cast("array<float>").as("vec"))
    cat.upsert("d", "s", docs("a", 20), partitionNum = 3)
    val path = s"$root/d/s"
    val lc = new graft.api.IndexLifecycle(spark, path)
    lc.rebuildDeclared(space, "vec", idCol = "_docid", numShards = 2)

    // the ledger now holds every docid minted so far, and no bucket keeps a row
    cat.deleteByQuery("d", "s", lit(true), Some(lc))
    assert(cat.docCount("d", "s") == 0)
    assert(graft.sources.SidecarIO.exists(s"$path/_graft_docid_hwm"))
    assert(graft.sources.SidecarIO.exists(s"$path/_graft_buckets"))

    // fresh docs mint above the high-water mark: no deleted docid reused
    cat.upsert("d", "s", docs("b", 2), partitionNum = 3)
    val fresh = spark.read.parquet(path)
    val freshDocids = fresh.select($"_docid").as[Long].collect().toSet
    assert(freshDocids.size == 2)
    assert(freshDocids.intersect(lc.allDeletes()).isEmpty,
      s"fresh docids $freshDocids reuse deleted ones")
    lc.appendHnsw(fresh.drop("_bucket"), "_docid", "vec",
      graft.operators.HnswIndex.Params(8, 32, "l2", numShards = 2))

    // the routed request serves both, exactly as the FLAT scan does
    def ids(extra: String): Set[String] = cat.search("d", "s", space,
      s"""{"vectors":[{"field":"vec","feature":${vf(0).mkString("[", ",", "]")}}],"limit":5$extra}""")
      .select($"_id").collect().map(_.getString(0)).toSet
    assert(ids(""","is_brute_search":1""") == Set("b-0", "b-1"))
    assert(ids("") == Set("b-0", "b-1"))
  }
}
