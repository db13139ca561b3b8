package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.IndexStore

/** Lock protocol of [[IndexStore.buildOnce]] (ADVICE r3): liveness is the
  * lock's heartbeated mtime, takeover re-acquires the lock, and no path
  * builds lock-free.
  */
class IndexStoreSpec extends AnyFunSuite {

  private def tmpDir(): String =
    Files.createTempDirectory("idxstore").resolve("layout").toString

  private def markReady(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "_GRAFT_READY"), "ok")
    ()
  }

  test("model sidecars round-trip bit-exactly and survive a class change") {
    // the failure mode being regression-locked: Java serialization would
    // throw InvalidClassException on any Model field change; the text
    // format depends only on its own declared header
    val dir = tmpDir()
    val ivf = graft.operators.IvfIndex.Model(
      Array(Array(1.5f, -2.25f, Float.MinPositiveValue),
        Array(0f, 3.4028235e38f, -1e-30f)), "cosine")
    IndexStore.writeIvfModel(s"$dir/ivf.txt", ivf)
    val ivf2 = IndexStore.readIvfModel(s"$dir/ivf.txt")
    assert(ivf2.metric == ivf.metric)
    assert(ivf2.centroids.map(_.toSeq).toSeq == ivf.centroids.map(_.toSeq).toSeq)
    val pq = graft.operators.PqIndex.Model(2, 4, 3,
      Array(Array(Array(0.1f, 0.2f, 0.3f), Array(-1f, -2f, -3f)),
        Array(Array(9f, 8f, 7f), Array(0.5f, 0.25f, 0.125f))), "l2")
    IndexStore.writePqModel(s"$dir/pq.txt", pq)
    val pq2 = IndexStore.readPqModel(s"$dir/pq.txt")
    assert(pq2.m == pq.m && pq2.ksub == pq.ksub && pq2.dsub == pq.dsub
      && pq2.metric == pq.metric)
    assert(pq2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // a reader from a future format version fails loud, not garbage
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.txt"), "graft-ivf 99\nmetric l2\n")
    intercept[IllegalArgumentException] { IndexStore.readIvfModel(s"$dir/bad.txt") }
  }

  test("builds once, clears the lock, later calls are no-ops") {
    val dir = tmpDir()
    val n = new AtomicInteger(0)
    IndexStore.buildOnce(dir) { n.incrementAndGet(); markReady(dir) }
    IndexStore.buildOnce(dir) { n.incrementAndGet(); markReady(dir) }
    assert(n.get() == 1)
    assert(!Files.exists(Paths.get(s"$dir.lock")))
  }

  test("stale lock (dead builder) is taken over via re-acquire") {
    val dir = tmpDir()
    val lock = Paths.get(s"$dir.lock")
    Files.createDirectories(lock)
    Files.writeString(lock.resolve("owner"), "dead-builder")
    Files.setLastModifiedTime(lock,
      FileTime.fromMillis(System.currentTimeMillis() - 60000L))
    val n = new AtomicInteger(0)
    IndexStore.buildOnce(dir, staleMs = 500L) { n.incrementAndGet(); markReady(dir) }
    assert(n.get() == 1)
    assert(!Files.exists(lock)) // takeover cleaned its own lock on release
  }

  test("live builder is never raced: heartbeat keeps the lock fresh") {
    val dir = tmpDir()
    val n = new AtomicInteger(0)
    // builder takes ~1.2s; staleMs=400 means a FIXED-wait waiter (the old
    // bug) would have declared it dead and double-built — the heartbeat
    // (staleMs/4 = 100ms cadence) must prevent that
    val builder = new Thread(() =>
      IndexStore.buildOnce(dir, staleMs = 400L) {
        Thread.sleep(1200); n.incrementAndGet(); markReady(dir)
      })
    builder.start()
    Thread.sleep(150) // let the builder acquire
    IndexStore.buildOnce(dir, staleMs = 400L) { n.incrementAndGet(); markReady(dir) }
    builder.join(10000)
    assert(n.get() == 1)
    assert(Files.exists(Paths.get(dir, "_GRAFT_READY")))
  }

  test("cold-start race: exactly one of N concurrent callers builds") {
    val dir = tmpDir()
    val n = new AtomicInteger(0)
    val threads = (1 to 4).map(_ => new Thread(() =>
      IndexStore.buildOnce(dir, staleMs = 5000L) {
        Thread.sleep(100); n.incrementAndGet(); markReady(dir)
      }))
    threads.foreach(_.start())
    threads.foreach(_.join(10000))
    assert(n.get() == 1)
    assert(!Files.exists(Paths.get(s"$dir.lock")))
  }

  // round 21: openTable is the shared signature-keyed open cache behind
  // IndexLifecycle.openLayout and the entry-level space opens — it must
  // reuse the opened plan while the directory listing is unchanged (the
  // per-query footer-job optimization) and MUST NOT serve stale plans
  // after any rewrite (part-file names/sizes/mtimes change on every
  // parquet write, so the signature always moves with the content).
  test("openTable: cached while unchanged, invalidated by a rewrite") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val first = IndexStore.openTable(spark, dir)
    assert(first.count() == 2)
    // unchanged dir → the SAME DataFrame instance (no re-list, no footer job)
    assert(IndexStore.openTable(spark, dir) eq first)
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(dir)
    val second = IndexStore.openTable(spark, dir)
    assert(!(second eq first), "rewrite must invalidate the cached open")
    assert(second.count() == 3)
    // explicit invalidation drops the entry too (the in-place append sites)
    IndexStore.invalidateOpen(dir)
    assert(!(IndexStore.openTable(spark, dir) eq second))
  }

  test("openTable: a rewrite inside one _bucket=N dir reopens, even with the dir mtime kept") {
    // an object store gives directories no mtime, so the signature must
    // reach the leaf files under each partition dir
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, 0), (2L, 1)).toDF("id", "_bucket")
      .write.partitionBy("_bucket").parquet(dir)
    val first = IndexStore.openTable(spark, dir)
    assert(first.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 3L)
    val bucket = Paths.get(dir, "_bucket=1")
    val kept = Files.getLastModifiedTime(bucket)
    val fresh = s"${tmpDir()}-fresh"
    Seq(7L).toDF("id").write.parquet(fresh)
    Files.list(bucket).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach(Files.delete)
    Files.list(Paths.get(fresh)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(f => Files.move(f, bucket.resolve(f.getFileName)))
    Files.setLastModifiedTime(bucket, kept)
    val second = IndexStore.openTable(spark, dir)
    assert(!(second eq first), "a rewritten partition must reopen the table")
    assert(second.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 8L)
  }

  test("openTable: a path that fails to list drops its cached open") {
    // a deleted space or pruned generation must not pin its file index;
    // restoring the same files (same names, lengths, mtimes) opens anew
    val spark = SparkSpec.spark
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    val first = IndexStore.openTable(spark, dir)
    assert(IndexStore.openTable(spark, dir) eq first)
    val aside = Paths.get(s"$dir.aside")
    Files.move(Paths.get(dir), aside)
    intercept[org.apache.spark.sql.AnalysisException](IndexStore.openTable(spark, dir))
    Files.move(aside, Paths.get(dir))
    val reopened = IndexStore.openTable(spark, dir)
    assert(!(reopened eq first), "a failed listing must drop the cached entry")
    assert(reopened.count() == 1)
  }
}
