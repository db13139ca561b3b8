package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.schema.{Space, SpaceCatalog}
import graft.sources.IndexStore

/** The Bench fixture tables of [[IndexStore]]: one row per cache dir,
  * every dir a declared query reads is a row (so [[IndexStore.warm]],
  * which builds every row, leaves no query a build to pay), and a
  * realtime row lays its tail out where a catalog space keeps it.
  */
class FixtureTableSpec extends SparkSpec {

  test("fixture keys are unique and their on-disk names are pinned") {
    val keys = IndexStore.fixtureKeys
    assert(keys.distinct == keys, keys.diff(keys.distinct))
    // cache dir names existing index dirs depend on
    assert(keys.toSet == Set(
      "ivf16", "neardup16", "ivffix16", "pqfix8_16", "ivfpqr8_8_16",
      "ivfpqrfix8_8_16", "scannfix8_8_16", "pq8_16", "binary", "rbivf16",
      "rbivffix16", "hnswrfix16_16_100", "hnsw16_100_4_l2", "hnswr16_16_100",
      "vamana32_64_4", "hnswmv", "media3",
      "apihnsw", "apihnswr", "apipq", "apirb", "apiscann2", "apivam",
      "apivamr", "apibivf", "apidel", "apii8ivf", "apii8hnsw", "apii8ivfpq",
      "apii8vamana", "apii8scann", "apii8rb", "apimv", "apimvmixed",
      "apimvint8", "apimvpq", "apimvrt", "apirt", "apirtstream", "apirtb",
      "apistr", "apinodocid", "apistrrt", "apistrdel"))
  }

  test("every cache dir a declared query reads is a table row, and warm builds every row") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      graft.operators.Checkpoints.free(fn(spark, sf))
    }
    val root = new File(IndexStore.fixtureRoot(sf))
    val dirs = root.listFiles().filter(_.isDirectory).map(_.getName)
      .filterNot(_.endsWith(".lock")).toSet
    val unnamed = dirs -- IndexStore.fixtureKeys
    assert(unnamed.isEmpty, s"cache dirs no table row names: $unnamed")
    IndexStore.warm(spark, sf)
    val notReady = IndexStore.fixtureKeys.filterNot(k =>
      new File(root, s"$k/_GRAFT_READY").exists)
    assert(notReady.isEmpty, s"rows warm did not build: $notReady")
  }

  test("a realtime row keeps routing ids < 10 in space.tail and serves them through the catalog") {
    val sfDir = Files.createTempDirectory("graft-fixture-rt").toString
    val rnd = new scala.util.Random(7)
    spark.createDataFrame((0L until 40L).map(id =>
        (id, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, (id % 7).toInt)))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$sfDir/embeddings.parquet")
    val root = IndexStore.fixtureRoot(sfDir)
    try {
      val ids = (path: String, c: String) =>
        spark.read.parquet(path).select(col(c).cast("long")).collect().map(_.getLong(0)).sorted.toSeq
      assert(IndexStore.space(spark, sfDir, "apirtstream") == root)
      val path = s"$root/apirtstream/space"
      assert(ids(path, "_id") == (10L until 40L))
      assert(ids(s"$path.tail", "_id") == (0L until 10L))
      assert(new File(s"$path.ckpt").isDirectory, "stream checkpoint at space.ckpt")
      // string PK: the split is on the `_docid` routing id
      IndexStore.space(spark, sfDir, "apistrrt")
      val strPath = s"$root/apistrrt/space"
      assert(ids(strPath, "_docid") == (10L until 40L))
      assert(ids(s"$strPath.tail", "_docid") == (0L until 10L))
      assert(spark.read.parquet(s"$strPath.tail").filter(col("_id") === "doc-0").count() == 1)
      // the declared realtime flag alone brings the tail in: vec_id 0
      // lives only there and is its own nearest neighbour
      val q = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0)
      def top(realtime: Boolean): Long = new SpaceCatalog(spark, root).search(
        "apirtstream", "space", Space.fromJson(
          s"""{"name":"rt","enable_realtime":$realtime,"fields":[
              {"name":"label","type":"integer","index":{"type":"SCALAR"}},
              {"name":"embedding","type":"vector","dimension":64,
               "index":{"type":"IVFFLAT","params":{"ncentroids":16,"nprobe":16}}}]}"""),
        s"""{"vectors":[{"field":"embedding","feature":${q.mkString("[", ",", "]")}}],"limit":3}""")
        .orderBy(col("_score"), col("_id")).head().getAs[Long]("_id")
      assert(top(realtime = true) == 0L)
      assert(top(realtime = false) != 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new File(sfDir))
    }
  }
}
