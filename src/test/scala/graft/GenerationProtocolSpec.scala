package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.api.{IndexLifecycle, SearchApi}
import graft.api.IndexLifecycle.Kind
import graft.operators.{HnswIndex, VamanaIndex}
import graft.schema.{Space, SpaceCatalog}
import graft.sources.SidecarIO

/** The generation protocol shared by every layout kind, and the
  * fail-loud reads around it: on-disk names per kind, dropping every
  * generation, corrupt state and bucket sidecars, the move-aside swap.
  */
class GenerationProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def embSpace(name: String): String = {
    val spacePath = Files.createTempDirectory(name).toString + "/space"
    graft.operators.BinaryIndex.encode(
        spark.read.parquet(s"$sf/embeddings.parquet"), "embedding")
      .select(col("vec_id").cast("long").as("_id"), col("label"),
        col("embedding"), col("bcode"))
      .write.parquet(spacePath)
    spacePath
  }

  test("dropAllGenerations: every kind and field scope is gone, names pinned per kind, search serves FLAT") {
    val spacePath = embSpace("gen_drop")
    val root = new java.io.File(spacePath).getParent
    val lc = new IndexLifecycle(spark, spacePath)
    val hp = HnswIndex.Params(8, 40, "l2", numShards = 2)
    val built: Seq[(Kind, Option[String], Long)] = Seq(
      (Kind.Ivf, None, lc.rebuild("embedding", 4).gen),
      (Kind.Hnsw, None, lc.rebuildHnsw("_id", "embedding", hp).gen),
      (Kind.Pq, None, lc.rebuildIvfPq("embedding", 4, m = 8, ksub = 16).gen),
      (Kind.Scann, None, lc.rebuildScann("embedding", 4, m = 8, ksub = 16).gen),
      (Kind.Rabitq, None, lc.rebuildIvfRabitq("embedding", 4).gen),
      (Kind.BinaryIvf, None, lc.rebuildBinaryIvf("bcode", 4).gen),
      (Kind.Vamana, None, lc.rebuildVamana("_id", "embedding",
        VamanaIndex.Params(r = 16, l = 32, metric = "l2", numShards = 2)).gen),
      (Kind.Hnsw, Some("embedding"),
        lc.scoped("embedding").rebuildHnsw("_id", "embedding", hp).gen))
    // the on-disk names existing spaces depend on:
    // <space>[.<field>].<infix>_state.json and <space>[.<field>].<infix>.g<gen>
    val infixes = Map[Kind, String](Kind.Ivf -> "index", Kind.Hnsw -> "hnsw",
      Kind.Pq -> "pq", Kind.Scann -> "scann", Kind.Rabitq -> "rb",
      Kind.BinaryIvf -> "bivf", Kind.Vamana -> "vamana")
    def scopeOf(field: Option[String]) =
      field.map(lc.scoped).getOrElse(lc)
    built.foreach { case (kind, field, gen) =>
      val stem = s"$spacePath${field.map("." + _).getOrElse("")}.${infixes(kind)}"
      assert(SidecarIO.readString(s"${stem}_state.json").startsWith(s"READY:$gen:"),
        s"$kind $field")
      assert(new java.io.File(s"$stem.g$gen").isDirectory, s"$kind $field")
      assert(scopeOf(field).ready(kind).map(_.path).contains(s"$stem.g$gen"))
    }
    val space = Space.fromJson(
      """{"name":"drop","fields":[
          {"name":"label","type":"integer","index":{"type":"SCALAR"}},
          {"name":"embedding","type":"vector","dimension":64,
           "index":{"type":"HNSW","params":{"efSearch":600}}}]}""")
    val q = spark.read.parquet(spacePath).filter($"_id" === 3L)
      .select("embedding").head().getSeq[Float](0)
    val req = s"""{"vectors":[{"field":"embedding",
         "feature":${q.mkString("[", ",", "]")}}],"limit":7}"""
    val stored = spark.read.parquet(spacePath)
    val (_, routedPlans) = plansDuring(SearchApi.searchAuto(stored, space, req, lc))
    assert(routedPlans.contains(".hnsw.g")) // sanity: the generation served

    lc.dropAllGenerations()
    val generationName =
      """space(\.embedding)?\.(index|hnsw|pq|scann|rb|bivf|vamana)(_state\.json|\.g\d+)""".r
    val left = new java.io.File(root).list().toSeq
      .filter(n => generationName.findPrefixMatchOf(n).isDefined)
    assert(left.isEmpty, s"left behind: $left")
    built.foreach { case (kind, field, _) =>
      val scoped = scopeOf(field)
      assert(scoped.state(kind) == scoped.Missing, s"$kind $field")
    }
    assert(new java.io.File(spacePath).isDirectory) // the table itself stays
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"_id", $"_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (flat, flatPlans) = plansDuring(SearchApi.searchAuto(stored, space, req, lc))
    assert(!flatPlans.contains(".hnsw.g"))
    assert(rows(flat) == rows(SearchApi.search(stored, space, req)))
  }

  test("an unrecognised state file fails loud, naming its path") {
    val spacePath = embSpace("gen_corrupt")
    val lc = new IndexLifecycle(spark, spacePath)
    for (garbage <- Seq("garbage", "READY:notanumber:4:1", "READY", "BUILDING:")) {
      SidecarIO.writeString(s"$spacePath.hnsw_state.json", garbage)
      val e = intercept[IllegalStateException](lc.state(Kind.Hnsw))
      assert(e.getMessage.contains(s"$spacePath.hnsw_state.json"), garbage)
      // the serving path and the auto-build read the same state
      intercept[IllegalStateException](lc.ready(Kind.Hnsw))
      intercept[IllegalStateException](
        lc.maybeRebuildHnsw("_id", "embedding", HnswIndex.Params(), 0.0))
    }
    // the other kinds' states are unaffected
    assert(lc.state(Kind.Ivf) == lc.Missing)
  }

  test("a corrupt _graft_buckets sidecar fails loud in the catalog and the point fetch") {
    val root = Files.createTempDirectory("gen_buckets").toString
    val cat = new SpaceCatalog(spark, root)
    cat.createDb("d")
    val space = Space.fromJson(
      """{"name":"s","fields":[
          {"name":"n","type":"integer","index":{"type":"SCALAR"}}]}""")
    cat.createSpace("d", space)
    cat.upsert("d", "s", (0 until 20).map(i => (s"u-$i", i)).toDF("_id", "n"),
      partitionNum = 4)
    val path = s"$root/d/s"
    assert(SpaceCatalog.bucketsOf(path).contains(4))
    val byId = """{"document_ids":["u-3","u-7"],"fields":["n"]}"""
    assert(cat.query("d", "s", space, byId).count() == 2)
    for (bad <- Seq("0", "-4", "four", "")) {
      SidecarIO.writeString(s"$path/_graft_buckets", bad)
      val e = intercept[IllegalStateException](SpaceCatalog.bucketsOf(path))
      assert(e.getMessage.contains(s"$path/_graft_buckets"), bad)
      intercept[IllegalStateException](cat.query("d", "s", space, byId).collect())
      intercept[IllegalStateException](
        cat.upsert("d", "s", Seq(("u-1", 99)).toDF("_id", "n"), partitionNum = 4))
    }
    SidecarIO.delete(s"$path/_graft_buckets")
    assert(SpaceCatalog.bucketsOf(path).isEmpty) // absent = flat layout
  }

  test("move-aside swap: a missing tmp throws and the rows stay readable") {
    val spacePath = embSpace("gen_swap")
    val n = spark.read.parquet(spacePath).count()
    intercept[java.io.IOException](
      SidecarIO.swapIn(spacePath, s"$spacePath.never-written.tmp"))
    val at = Seq(spacePath, s"$spacePath.old").filter(SidecarIO.exists)
    assert(at.nonEmpty && at.forall(p => spark.read.parquet(p).count() == n))
    // the next mutator restores the table and completes its own swap
    val lc = new IndexLifecycle(spark, spacePath)
    lc.deleteByIds("_id", Seq(0L))
    assert(spark.read.parquet(spacePath).count() == n - 1)
    assert(!SidecarIO.exists(s"$spacePath.old"))
  }
}
