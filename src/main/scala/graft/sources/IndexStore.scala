package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BinaryIndex, HnswIndex, IvfIndex, PqIndex, VamanaIndex}

/** Build-once cache of physical index layouts over the test fixtures.
  *
  * The reference separates index BUILD from SEARCH (auto-build at
  * training_threshold, `index/rebuild` — internal/engine/index/index.cc);
  * searches never pay the training cost. Round 1 benched the inline-train
  * path, so `q_ivf_search` measured KMeans instead of the probe plan. This
  * store persists the trained model + the partitioned table once per
  * (fixture, layout) and every subsequent search reads the layout a real
  * deployment would query:
  *
  *  - ivfFlat:  table partitioned by `list_id` → probe = partition pruning
  *  - pqFlat:   `pq_code` alongside raw vectors (column-pruned stage 1)
  *  - binary:   packed sign codes `bcode` (stage 1 reads dim/8 bytes/row)
  *
  * Every fixture is a row of one of two tables: `layouts` (operator
  * layouts the index operators read directly) and `spaces` (catalog-shaped
  * spaces with lifecycle generations, served by
  * [[graft.schema.SpaceCatalog.search]]). [[warm]] builds both.
  *
  * Location: `$SPARK_GRAFT_INDEX_DIR` or `java.io.tmpdir`/graft_index —
  * outside the repo, keyed by fixture basename + fingerprint + row key,
  * marked ready atomically AFTER model+table are fully written.
  */
object IndexStore {

  /** Bump to invalidate cached layouts when build code changes.
    * v3: HnswIndex.Segment grew the `chain` column (incremental append).
    * v4: realtime fixture tails moved to `space.tail` (catalog layout).
    * v5: the `hnswmvrt` layout row is gone; a v4 cache still holds its
    * dir, which no row names.
    */
  private val Version = "v5"

  /** Resident serving mode (Bench's untimed warmup sets it, mirroring
    * `SparkEntry.cacheTables`): layout tables are read once and pinned in
    * executor cache — the steady state a resident engine measures (the
    * reference holds its inverted lists / graphs in RAM). Verify and the
    * plan dumps leave it off, so correctness runs stay on the cold
    * parquet path where pushdown/pruning are visible.
    */
  @volatile var resident: Boolean = false

  private val layoutCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def readLayout(spark: SparkSession, path: String): DataFrame =
    if (!resident) spark.read.parquet(path)
    else layoutCache.getOrElseUpdate((spark, path),
      spark.read.parquet(path).cache())

  def rootDir: String = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
    sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_index")

  /** Signature-keyed open cache for stored tables (round 21).
    *
    * `spark.read.parquet(path)` lists files AND schedules a footer/
    * schema-inference job on every call — a fixed metadata job per
    * query, since serving handlers open the space table per request.
    * The opened plan is reused while the table's LEAF listing — every
    * data file's (path, length, mtime), walked through
    * partition dirs like `_bucket=N/` — is unchanged: exactly what any
    * rewrite, append or compaction swap changes (parquet part files
    * carry per-write UUID names). The walk reaches the leaves because a
    * rewrite inside a partition dir need not move that dir's own mtime
    * (an object store has none). It uses `listStatus` per directory,
    * not `listFiles`: on the local FS every `LocatedFileStatus` forks a
    * permission `stat`. Names the parquet reader skips (`.` prefixed, or
    * `_` prefixed except `k=v` partition dirs) stay out of the
    * signature, so a sidecar write alone does not reopen. A missing or
    * unlistable path drops its entry and falls through to the direct
    * read, so the caller sees the ordinary error.
    */
  private val openCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Opened]

  /** One opened snapshot: its leaf signature, the data files it lists,
    * the frame, and what it keeps resident: the snapshot's projection
    * ([[projection]]) or a layout's decoded rows ([[decoded]]).
    */
  private final class Opened(val sig: String,
      leaves: Seq[org.apache.hadoop.fs.FileStatus], val df: DataFrame) {
    /** What the snapshot's parquet footers count, read once: driver file
      * reads, no Spark job, run in parallel on a pool of at most one
      * thread per file and never more than the session's cores; the
      * footers themselves are not kept. None when a footer cannot be read.
      */
    lazy val footprint: Option[Footprint] = {
      val sc = df.sparkSession.sparkContext
      def footer(st: org.apache.hadoop.fs.FileStatus) = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
            st, sc.hadoopConfiguration))
        try r.getFooter finally r.close()
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(leaves.size, sc.defaultParallelism)))
      try {
        val blocks = leaves.map(st => pool.submit(new java.util.concurrent.Callable[
            org.apache.parquet.hadoop.metadata.ParquetMetadata] { def call() = footer(st) }))
          .flatMap(_.get.getBlocks.asScala)
        val counts = blocks.map(_.getColumns.asScala
          .map(c => c.getPath.toDotString -> c.getValueCount).toMap)
        val everywhere = counts.map(_.keySet).reduceOption(_ intersect _).getOrElse(Set.empty)
        Some(Footprint(blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum,
          everywhere.map(leaf => leaf -> counts.map(_(leaf)).sum).toMap))
      } catch { case NonFatal(_) => None }
      finally pool.shutdown()
    }
    /** Guarded by `this`. */
    var projection: Option[Projection] = None
    /** Guarded by `this`: the decoded rows, and whether decoding them failed. */
    var decoded: Option[Seq[Any]] = None
    var undecodable = false
  }

  /** A snapshot's footer counts: its rows, its uncompressed bytes (every
    * column chunk of every row group), and the values of each parquet
    * leaf column (a dotted path) that every row group holds.
    */
  private final case class Footprint(rows: Long, bytes: Long, values: Map[String, Long])

  /** A snapshot's resident projection: the rows of columns `cols` as a
    * local relation `rel` (the collected UnsafeRows), the routing id
    * first, and a lookup from routing id to row position.
    */
  final class Projection private[sources] (val cols: Seq[String],
      val rel: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
      spark: SparkSession) {
    /** The projection as a frame, for the analyzer to resolve over. */
    val frame: DataFrame = org.apache.spark.sql.graft.Bridge.ofRows(spark, rel)

    /** Row position of a routing id, -1 when no row holds it: a binary
      * search over the ids sorted once, with the row position of each
      * beside it (primitive arrays, no boxed map). None when the first
      * column is not integral, or holds a null or a repeated id.
      */
    lazy val rowOf: Option[Long => Int] = {
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val dt = rel.output.head.dataType
      val data = rel.data
      if ((dt != IntegerType && dt != LongType) || data.exists(_.isNullAt(0))) None
      else {
        val ids = data.iterator.map(r =>
          if (dt == IntegerType) r.getInt(0).toLong else r.getLong(0)).toArray
        val sorted = ids.clone()
        java.util.Arrays.sort(sorted)
        if ((1 until sorted.length).exists(i => sorted(i) == sorted(i - 1))) None
        else {
          val pos = new Array[Int](ids.length)
          ids.indices.foreach(i => pos(java.util.Arrays.binarySearch(sorted, ids(i))) = i)
          Some { (id: Long) =>
            val at = java.util.Arrays.binarySearch(sorted, id)
            if (at < 0) -1 else pos(at)
          }
        }
      }
    }
  }

  private def leafFiles(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readable(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
    def walk(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.filter(st => readable(st.getPath.getName)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath) else Seq(st)
      }
    walk(root)
  }

  private def signature(leaves: Seq[org.apache.hadoop.fs.FileStatus]): String =
    leaves.map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")

  def openTable(spark: SparkSession, path: String): DataFrame = {
    val leaves =
      try leafFiles(spark, path)
      catch { case NonFatal(_) =>
        openCache.remove((spark, path))
        return spark.read.parquet(path)
      }
    val sig = signature(leaves)
    openCache.get((spark, path)) match {
      case Some(e) if e.sig == sig => e.df
      case _ =>
        val df = spark.read.parquet(path)
        openCache.put((spark, path), new Opened(sig, leaves, df))
        df
    }
  }

  /** The resident projection of the snapshot that [[openTable]]
    * returned as `df` (found by identity among the open entries): its
    * columns `cols`, the routing id first. One collect builds it on the
    * first call; it lives on the open-cache entry, so a rewrite that
    * reopens the path drops it with the old frame and it never outlives
    * the files it was read from. Residency is decided BEFORE anything is
    * collected: the snapshot's parquet footers must count at most
    * `maxRows` rows. None when no current entry holds `df` (a raw
    * `spark.read`, a transformed frame, a superseded snapshot), a footer
    * is unreadable, or the snapshot has more than `maxRows` rows.
    */
  def projection(df: DataFrame, cols: Seq[String],
      maxRows: Long): Option[Projection] =
    openCache.valuesIterator.find(_.df eq df)
      .filter(_.footprint.exists(_.rows <= maxRows))
      .map { e =>
        e.synchronized {
          e.projection match {
            case Some(p) if p.cols == cols => p
            case _ =>
              val p = new Projection(cols, org.apache.spark.sql.graft.Bridge
                .localCopy(df.select(cols.map(col): _*)), df.sparkSession)
              e.projection = Some(p)
              p
          }
        }
      }

  /** The rows of the layout that [[openTable]] returned as `df` (found
    * by identity among the open entries), decoded with `enc`. One
    * collect decodes them on the first call; they live on the open-cache
    * entry, so a rewrite that reopens the path (a new or appended
    * generation) drops them with the old frame. Residency is decided
    * BEFORE anything is collected, from the layout's parquet footers:
    * they must count at most `maxValues` values of leaf column `leaf`,
    * and the layout's uncompressed bytes must fit [[residentBudget]].
    * A decode that fails (an over-size result, a vanished file) is
    * remembered on the entry and never retried. None when no current
    * entry holds `df`, a footer is unreadable or lacks the column, the
    * layout is over either bound, or its decode failed.
    */
  def decoded[T](df: DataFrame, enc: org.apache.spark.sql.Encoder[T], leaf: String,
      maxValues: Long): Option[Seq[T]] =
    openCache.valuesIterator.find(_.df eq df)
      .filter(_.footprint.exists(_.values.get(leaf).exists(_ <= maxValues)))
      .flatMap { e =>
        e.synchronized(e.decoded).orElse(decodeLock.synchronized(e.synchronized {
          if (e.decoded.isEmpty && !e.undecodable &&
              e.footprint.exists(fp => residentBudget(df.sparkSession, e, fp.bytes)))
            try e.decoded = Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(
              df.as(enc).collect()))
            catch { case NonFatal(_) => e.undecodable = true }
          e.decoded
        }))
      }.map(_.asInstanceOf[Seq[T]])

  /** Held, in this order before an entry's own lock, by every decode:
    * one collect at a time, so [[residentBudget]] sees what every other
    * entry holds and the driver carries one layout's collect at once.
    */
  private val decodeLock = new Object

  /** Whether a layout of `bytes` uncompressed parquet bytes may be
    * decoded beside the layouts the other open entries keep. One collect
    * brings it in, so it must be at most half of
    * `spark.driver.maxResultSize` (0 = unlimited); and every decoded
    * layout together must stay within an eighth of the driver heap
    * (decoded rows take about 1.6× their uncompressed bytes at d=32).
    */
  private def residentBudget(spark: SparkSession, e: Opened, bytes: Long): Boolean = {
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    val held = openCache.valuesIterator.filter(_ ne e)
      .filter(o => o.synchronized(o.decoded.isDefined))
      .flatMap(_.footprint).map(_.bytes).sum
    (maxResult == 0 || bytes <= maxResult / 2) &&
      held + bytes <= Runtime.getRuntime.maxMemory / 8
  }

  /** Drop a path's cached open plan (belt-and-braces for in-place
    * appends — the signature check alone already invalidates them).
    */
  def invalidateOpen(path: String): Unit = invalidateOpenWhere(_ == path)

  /** Drop the cached open plans of every path `drop` selects. */
  def invalidateOpenWhere(drop: String => Boolean): Unit =
    openCache.keys.filter(k => drop(k._2)).foreach(openCache.remove)

  /** Content fingerprint of the fixture's embeddings table: canonical
    * path + total byte size + newest mtime. Two fixtures sharing a
    * basename get distinct cache dirs, and regenerating a fixture
    * in place invalidates its cached layouts instead of silently
    * serving a stale model.
    */
  private def fingerprint(sfDir: String): String = {
    val p = Paths.get(sfDir, "embeddings.parquet").toAbsolutePath.normalize
    var size = 0L
    var mtime = 0L
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try {
        stream.iterator().forEachRemaining { f =>
          if (Files.isRegularFile(f)) {
            size += Files.size(f)
            mtime = math.max(mtime, Files.getLastModifiedTime(f).toMillis)
          }
        }
      } finally stream.close()
    }
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$p|$size|$mtime")
    f"${h & 0xffffffffL}%08x"
  }

  /** The dir every fixture of `sfDir` lives under — a catalog root whose
    * databases are the fixture keys.
    */
  private[graft] def fixtureRoot(sfDir: String): String = {
    val base = Paths.get(sfDir).toAbsolutePath.normalize.getFileName.toString
    s"$rootDir/$Version/$base-${fingerprint(sfDir)}"
  }

  private def dirFor(sfDir: String, kind: String): String = s"${fixtureRoot(sfDir)}/$kind"

  private def ready(dir: String): Boolean =
    Files.exists(Paths.get(dir, "_GRAFT_READY"))

  private def markReady(dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "_GRAFT_READY"), "ok")
    ()
  }

  /** Build-once guard across PROCESSES: `Files.createDirectory` on a lock
    * dir is atomic, so exactly one JVM builds while others wait for the
    * READY marker (two concurrent overwrite-writes into one table dir
    * interleave deletes and part-files). Liveness is judged by the LOCK'S
    * OWN MTIME, which the builder heartbeats while it works — a slow but
    * alive builder is never raced; only a builder whose heartbeat stopped
    * for `staleMs` is presumed dead. A waiter that declares the lock stale
    * must still win `createDirectory` on the lock before building — no
    * code path ever writes the table dir without holding the lock.
    */
  private[graft] def buildOnce(dir: String, staleMs: Long = 600000L)(build: => Unit): Unit = {
    if (ready(dir)) return
    val lock = Paths.get(s"$dir.lock")
    val owner = lock.resolve("owner")
    val token = java.util.UUID.randomUUID().toString
    Files.createDirectories(Paths.get(dir).getParent)

    def tryAcquire(): Boolean =
      try {
        Files.createDirectory(lock)
        Files.writeString(owner, token)
        true
      } catch { case _: java.io.IOException => false }

    def deleteLock(): Unit =
      try { Files.deleteIfExists(owner); Files.deleteIfExists(lock); () }
      catch { case _: java.io.IOException => () }

    def buildLocked(): Unit = {
      // heartbeat: advance the lock's mtime so waiters age it by builder
      // liveness, not by their own wall-clock wait
      val hb = new Thread(() => {
        try {
          while (true) {
            Thread.sleep(math.max(staleMs / 4, 50L))
            Files.setLastModifiedTime(lock,
              java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          }
        } catch { case _: InterruptedException | _: java.io.IOException => () }
      })
      hb.setDaemon(true)
      hb.start()
      try { if (!ready(dir)) build }
      finally {
        hb.interrupt()
        // release only if the lock is still OURS: a builder that was
        // presumed dead (paused > staleMs) and raced by a waiter must not
        // delete the new owner's lock on the way out
        val mine =
          try Files.readString(owner) == token
          catch { case _: java.io.IOException => false }
        if (mine) deleteLock()
      }
    }

    if (tryAcquire()) { buildLocked(); return }
    while (true) {
      if (ready(dir)) return
      val mtime =
        try Some(Files.getLastModifiedTime(lock).toMillis)
        catch { case _: java.io.IOException => None } // lock just vanished
      mtime match {
        case None =>
          // builder finished (READY) or crashed between create and first
          // heartbeat — loop re-checks READY, then contends for the lock
          if (ready(dir)) return
          if (tryAcquire()) { buildLocked(); return }
        case Some(t) if System.currentTimeMillis() - t > staleMs =>
          // heartbeat stopped: presumed dead. Takeover must be atomic —
          // two waiters observing staleness in the same poll window must
          // not both "delete corpse + re-acquire" (the loser's delete
          // would remove the winner's FRESH lock and let two builders
          // interleave writes). Claim = createFile of a takeover marker
          // INSIDE the stale lock (atomic, single winner), then verify
          // the owner token is still the one observed at the staleness
          // check (a live builder re-acquiring in between changes it).
          val takeover = lock.resolve("takeover")
          val observed =
            try Some(Files.readString(owner))
            catch { case _: java.io.IOException => None }
          val claimed =
            try { Files.createFile(takeover); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                // marker from a claimant that died mid-takeover: remove it
                // only once IT has aged too (a live claim completes in
                // milliseconds, so this never yanks an in-flight one)
                val markerStale =
                  try System.currentTimeMillis() -
                    Files.getLastModifiedTime(takeover).toMillis > staleMs
                  catch { case _: java.io.IOException => false }
                if (markerStale) {
                  try { Files.deleteIfExists(takeover); () }
                  catch { case _: java.io.IOException => () }
                }
                false
              case _: java.io.IOException => false // lock vanished; loop re-checks
            }
          if (claimed) {
            val still =
              try Some(Files.readString(owner))
              catch { case _: java.io.IOException => None }
            if (still == observed) {
              // corpse confirmed: adopt the lock under OUR token and build
              try {
                Files.writeString(owner, token)
                Files.deleteIfExists(takeover)
                buildLocked()
                return
              } catch { case _: java.io.IOException => () }
            } else {
              // a live builder re-acquired between observation and claim
              try { Files.deleteIfExists(takeover); () }
              catch { case _: java.io.IOException => () }
            }
          }
        case _ => Thread.sleep(200)
      }
    }
  }

  // ── model sidecars ────────────────────────────────────────────────────
  // Versioned TEXT format, not Java serialization: a serialized case class
  // couples the cache to the exact compiled class layout — adding a field
  // to IvfIndex.Model would throw InvalidClassException on every cached
  // model and force silent full rebuilds (or worse, deserialize garbage).
  // The sidecar instead pins an explicit header the reader validates, and
  // Float.toString/parseFloat round-trip bit-exactly, so a model written
  // by any build of this code is readable by any other that speaks the
  // same declared format version.
  //
  // IO goes through SidecarIO (Hadoop FS by path scheme): these sidecars
  // sit NEXT TO lifecycle generations, which may live on hdfs://-/s3a://-
  // rooted spaces. (The fixture-cache bookkeeping above — locks, READY
  // markers, fingerprints — stays java.nio: it is a LOCAL build cache by
  // design.)

  private[graft] def writeIvfModel(path: String, m: IvfIndex.Model): Unit = {
    val sb = new StringBuilder
    sb.append("graft-ivf 1\n")
    sb.append("metric ").append(m.metric).append('\n')
    sb.append("ncentroids ").append(m.centroids.length).append('\n')
    m.centroids.foreach { c => sb.append(c.mkString(" ")).append('\n') }
    SidecarIO.writeString(path, sb.toString)
  }

  private[graft] def readIvfModel(path: String): IvfIndex.Model = {
    val lines = SidecarIO.readLines(path)
    require(lines(0) == "graft-ivf 1",
      s"unsupported ivf model format '${lines(0)}' in $path")
    val metric = lines(1).stripPrefix("metric ").trim
    val n = lines(2).stripPrefix("ncentroids ").trim.toInt
    val cents = Array.tabulate(n) { i =>
      val row = lines(3 + i).trim
      if (row.isEmpty) Array.empty[Float] else row.split(' ').map(_.toFloat)
    }
    IvfIndex.Model(cents, metric)
  }

  private[graft] def writePqModel(path: String, m: PqIndex.Model): Unit = {
    val sb = new StringBuilder
    sb.append("graft-pq 1\n")
    sb.append("metric ").append(m.metric).append('\n')
    sb.append("m ").append(m.m).append(" ksub ").append(m.ksub)
      .append(" dsub ").append(m.dsub).append('\n')
    m.codebooks.foreach { book =>
      sb.append("sub ").append(book.length).append('\n')
      book.foreach { c => sb.append(c.mkString(" ")).append('\n') }
    }
    SidecarIO.writeString(path, sb.toString)
  }

  private[graft] def readPqModel(path: String): PqIndex.Model = {
    val lines = SidecarIO.readLines(path)
    require(lines(0) == "graft-pq 1",
      s"unsupported pq model format '${lines(0)}' in $path")
    val metric = lines(1).stripPrefix("metric ").trim
    val hdr = lines(2).trim.split(' ')
    require(hdr.length == 6 && hdr(0) == "m" && hdr(2) == "ksub" && hdr(4) == "dsub",
      s"malformed pq header '${lines(2)}' in $path")
    val (m, ksub, dsub) = (hdr(1).toInt, hdr(3).toInt, hdr(5).toInt)
    var at = 3
    val books = Array.fill(m) {
      val sub = lines(at).trim.split(' ')
      require(sub.length == 2 && sub(0) == "sub", s"malformed sub header in $path")
      at += 1
      Array.fill(sub(1).toInt) {
        val row = lines(at).trim
        at += 1
        if (row.isEmpty) Array.empty[Float] else row.split(' ').map(_.toFloat)
      }
    }
    PqIndex.Model(m, ksub, dsub, books, metric)
  }

  private[graft] def writeBinaryCentroids(path: String,
      cents: Array[Array[Byte]]): Unit = {
    val sb = new StringBuilder
    sb.append("graft-bivf 1\n")
    sb.append("ncentroids ").append(cents.length).append('\n')
    cents.foreach { c =>
      c.foreach(b => sb.append(f"${b & 0xff}%02x"))
      sb.append('\n')
    }
    SidecarIO.writeString(path, sb.toString)
  }

  private[graft] def readBinaryCentroids(path: String): Array[Array[Byte]] = {
    val lines = SidecarIO.readLines(path)
    require(lines(0) == "graft-bivf 1",
      s"unsupported binary-ivf model format '${lines(0)}' in $path")
    val n = lines(1).stripPrefix("ncentroids ").trim.toInt
    Array.tabulate(n) { i =>
      val hex = lines(2 + i).trim
      Array.tabulate(hex.length / 2)(j =>
        Integer.parseInt(hex.substring(2 * j, 2 * j + 2), 16).toByte)
    }
  }

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** The embeddings of rows `vec_id < n`, in id order — the corpus-seeded
    * centroids and codebooks of the deterministic (`*Fixed`) layouts.
    */
  private def firstRows(e: DataFrame, n: Int): Array[Array[Float]] =
    e.filter(col("vec_id") < n).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)

  // dim from the data, not a constant — a 128-d fixture would otherwise
  // get codebooks over its first 64 components only
  private def dimOf(e: DataFrame): Int =
    e.select(size(col("embedding"))).head().getInt(0)

  private val hnswL2 = HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4)
  private val hnswIp = hnswL2.copy(metric = "ip")
  private val vamanaL2 = VamanaIndex.Params(r = 32, l = 64, alpha = 1.2, metric = "l2", numShards = 4)

  // ── operator layouts ──────────────────────────────────────────────────

  /** One operator layout: its cache key (the dir name under the fixture
    * root), the parquet tables under its dir that resident serving pins,
    * and its build, which writes those tables and their model sidecars
    * into the dir. Every parameter is the one value the queries use.
    */
  private final case class Layout(key: String, tables: String*)(
      val build: (SparkSession, String, DataFrame, String) => Unit)

  private def writeIvfPq(dir: String, coded: DataFrame, ivf: IvfIndex.Model,
      pq: PqIndex.Model): Unit = {
    coded.write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
    writeIvfModel(s"$dir/ivf.txt", ivf)
    writePqModel(s"$dir/pq.txt", pq)
  }

  /** IVF+RaBitQ: residual sign codes (`rbcode`) + raw vectors for the
    * rerank, `list_id`-partitioned under the given quantizer.
    */
  private def writeRbIvf(dir: String, e: DataFrame, ivf: IvfIndex.Model): Unit = {
    BinaryIndex.encodeResidual(IvfIndex.assign(e, "embedding", ivf), "embedding", ivf)
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
    writeIvfModel(s"$dir/ivf.txt", ivf)
  }

  /** SPANN-style clustered HNSW: shards = the quantizer's lists, table
    * partitioned by `shard_id` so the query route is partition pruning.
    */
  private def writeHnswClustered(dir: String, e: DataFrame, ivf: IvfIndex.Model): Unit = {
    HnswIndex.buildClustered(e, "vec_id", "embedding", hnswL2.copy(numShards = 16), ivf)
      .write.mode("overwrite").partitionBy("shard_id").parquet(s"$dir/table")
    writeIvfModel(s"$dir/ivf.txt", ivf)
  }

  private def halves(e: DataFrame): DataFrame = e.select(col("vec_id"),
    slice(col("embedding"), 1, 32).as("v1"), slice(col("embedding"), 33, 32).as("v2"))

  private val layouts: Seq[Layout] = Seq(
    /** IVFFLAT: embeddings + `list_id`, partitioned by `list_id`. */
    Layout("ivf16", "table") { (_, _, e, dir) =>
      val model = IvfIndex.train(e, "embedding", 16)
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
    },
    /** Cosine IVF for the embedding near-dup queries, trained here once
      * so `q_embed_neardup_knn` times the probe-join, not the model fit.
      * Config mirrors the query's historical in-query train (cosine, seed
      * 42, maxIter 8), so the model and the output hash are unchanged.
      */
    Layout("neardup16", "table") { (_, _, e, dir) =>
      val model = IvfIndex.train(e, "embedding", 16,
        metric = "cosine", seed = 42L, maxIter = 8)
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
    },
    /** Deterministic IVF: centroids are the corpus rows `vec_id < 16`,
      * assignment argmin-L2, so the probe/assign/candidate pipeline
      * replays in SQL while keeping the `partitionBy(list_id)` shape.
      */
    Layout("ivffix16", "table") { (_, _, e, dir) =>
      val model = IvfIndex.Model(firstRows(e, 16), "l2")
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
    },
    /** Flat PQ at a DETERMINISTIC operating point: the 8 sub-codebooks
      * are the first-16 corpus rows' subvectors, not Lloyd-trained, so
      * every encode argmin and ADC lookup replays in closed-form SQL.
      */
    Layout("pqfix8_16", "table") { (_, _, e, dir) =>
      val dim = dimOf(e)
      require(dim % 8 == 0, s"dim $dim must divide into m=8 subvectors")
      val dsub = dim / 8
      val rows = firstRows(e, 16)
      val codebooks = Array.tabulate(8) { sub =>
        rows.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      }
      val pq = PqIndex.Model(8, rows.length, dsub, codebooks, "l2")
      PqIndex.encode(e, "embedding", pq).write.mode("overwrite").parquet(s"$dir/table")
      writePqModel(s"$dir/pq.txt", pq)
    },
    /** Residual IVFPQ: codebooks trained and codes computed on
      * v − centroid(list_id); the q_ivfpq default after winning the
      * RecallGateSpec codebook head-to-head.
      */
    Layout("ivfpqr8_8_16", "table") { (_, _, e, dir) =>
      val ivf = IvfIndex.train(e, "embedding", 8)
      val assigned = IvfIndex.assign(e, "embedding", ivf)
      val pq = PqIndex.trainResidual(assigned, "embedding", dimOf(e), 8, ivf,
        ksub = 16, maxTrainRows = 200000L, maxIter = 8)
      writeIvfPq(dir, PqIndex.encodeResidual(assigned, "embedding", ivf, pq), ivf, pq)
    },
    /** Residual IVFPQ at a DETERMINISTIC operating point: coarse
      * centroids = rows `vec_id < 8`, sub-codebooks = the float-rounded
      * residuals of rows `vec_id < 16` w.r.t. their OWN assigned fixed
      * centroid (double-subtracted, then float-rounded — the arithmetic
      * the SQL oracle replays with CAST(… AS REAL)). Every decision
      * replays in closed-form SQL, so probe∘ADC∘rerank is
      * oracle-checkable at a pruned operating point.
      */
    Layout("ivfpqrfix8_8_16", "table") { (_, _, e, dir) =>
      val dim = dimOf(e)
      require(dim % 8 == 0, s"dim $dim must divide into m=8 subvectors")
      val dsub = dim / 8
      val cents = firstRows(e, 8)
      val ivf = IvfIndex.Model(cents, "l2")
      val rows = firstRows(e, 16).map { v =>
        val c = cents(graft.functions.VecKernels.argminL2(
          org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v), cents))
        Array.tabulate(dim)(j => (v(j).toDouble - c(j).toDouble).toFloat)
      }
      val codebooks = Array.tabulate(8) { sub =>
        rows.map(r => java.util.Arrays.copyOfRange(r, sub * dsub, (sub + 1) * dsub))
      }
      val pq = PqIndex.Model(8, rows.length, dsub, codebooks, "l2")
      writeIvfPq(dir, PqIndex.encodeResidual(IvfIndex.assign(e, "embedding", ivf),
        "embedding", ivf, pq), ivf, pq)
    },
    /** [[ivfPqResidualFixed]]'s models with the ScaNN ANISOTROPIC encode
      * (η = etaForThreshold(0.2, dim)) instead of the plain-L2 argmin:
      * the score-aware assignment is all-double and in index order, so
      * every codeword choice and the pruned shortlist boundary hash-pin.
      */
    Layout("scannfix8_8_16", "table") { (spark, sfDir, e, dir) =>
      val (_, ivf, pq) = ivfPqResidualFixed(spark, sfDir)
      writeIvfPq(dir, PqIndex.encodeResidualAnisotropic(
        IvfIndex.assign(e, "embedding", ivf), "embedding", ivf, pq), ivf, pq)
    },
    /** Flat PQ: `pq_code` alongside raw vectors, no coarse partition. */
    Layout("pq8_16", "table") { (_, _, e, dir) =>
      val pq = PqIndex.train(e, "embedding", dim = dimOf(e), m = 8, ksub = 16,
        maxTrainRows = 200000L, maxIter = 8)
      PqIndex.encode(e, "embedding", pq).write.mode("overwrite").parquet(s"$dir/table")
      writePqModel(s"$dir/pq.txt", pq)
    },
    /** Binary (sign-bit) layout: embeddings + packed `bcode`. */
    Layout("binary", "table") { (_, _, e, dir) =>
      BinaryIndex.encode(e, "embedding").write.mode("overwrite").parquet(s"$dir/table")
    },
    // reuses ivfFlat's trained quantizer (same data, same params) —
    // retraining an identical KMeans doubled the dominant warmup cost
    Layout("rbivf16", "table") { (spark, sfDir, e, dir) =>
      writeRbIvf(dir, e, ivfFlat(spark, sfDir)._2)
    },
    /** [[binaryIvf]] over the DETERMINISTIC quantizer of [[ivfFixed]]:
      * the probe route replays in SQL, so the family's pruned nprobe
      * operating point is hash-checkable at every fixture size (a
      * KMeans quantizer's probe set is only incidentally exact).
      */
    Layout("rbivffix16", "table") { (spark, sfDir, e, dir) =>
      writeRbIvf(dir, e, ivfFixed(spark, sfDir)._2)
    },
    /** [[hnswClustered]] over [[ivfFixed]]'s quantizer: the shard route
      * replays in SQL, and with `ef ≥ |shard|` the in-shard walks are
      * exhaustive. VALIDITY BOUND: the entries' ef=4096 covers shards of
      * ~rows/16 through ~65k embedding rows (fixture mult ≈ 33); past
      * that the oracle fails LOUD and the fix is the ef constant.
      */
    Layout("hnswrfix16_16_100", "table") { (spark, sfDir, e, dir) =>
      writeHnswClustered(dir, e, ivfFixed(spark, sfDir)._2)
    },
    /** HNSW graph segments, one row per shard, each a whole serialized
      * graph. The build is deterministic (hash levels, id-sorted
      * insertion), so every search over it is reproducible.
      */
    Layout("hnsw16_100_4_l2", "table") { (_, _, e, dir) =>
      HnswIndex.build(e, "vec_id", "embedding", hnswL2)
        .write.mode("overwrite").parquet(s"$dir/table")
    },
    // reuses ivfFlat's quantizer, so the routing stays consistent with
    // the scan-path IVF layouts
    Layout("hnswr16_16_100", "table") { (spark, sfDir, e, dir) =>
      writeHnswClustered(dir, e, ivfFlat(spark, sfDir)._2)
    },
    /** DiskANN-static (Vamana): flat α-RNG graph segments, one per shard. */
    Layout("vamana32_64_4", "table") { (_, _, e, dir) =>
      VamanaIndex.build(e, "vec_id", "embedding", vamanaL2)
        .write.mode("overwrite").parquet(s"$dir/table")
    },
    /** Multi-field graphs: one inner-product HNSW segment table PER
      * vector field (the two 32-d halves of the embedding), the layout
      * the reference's multi-field conjunction serves from.
      */
    Layout("hnswmv", "v1", "v2") { (_, _, e, dir) =>
      val two = halves(e)
      HnswIndex.build(two, "vec_id", "v1", hnswIp).write.mode("overwrite").parquet(s"$dir/v1")
      HnswIndex.build(two, "vec_id", "v2", hnswIp).write.mode("overwrite").parquet(s"$dir/v2")
    },
    /** The synthesized PNG/WAV/pseudo-video corpus over the embeddings
      * ids, written ONCE: media queries time decode + features + search,
      * not data generation. ~2k payloads per file gives the decode its
      * parallelism from the LAYOUT (one file made it serial at sf1; a
      * per-use repartition measured slower), floored at the cluster
      * width so small fixtures do not decode on one core. "media3" is
      * the layout revision.
      */
    Layout("media3", "table") { (spark, _, e, dir) =>
      val ids = e.select(col("vec_id"))
      val files = math.max(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, ids.count() / 2000L)).toInt
      graft.operators.Multimodal.synthesize(spark, ids, "vec_id")
        .repartition(files)
        .write.mode("overwrite").parquet(s"$dir/table")
    })

  /** Build layout `key` once for this fixture and return its dir. */
  private def layoutDir(spark: SparkSession, sfDir: String, key: String): String = {
    val row = layouts.find(_.key == key)
      .getOrElse(throw new IllegalArgumentException(s"no fixture layout '$key'"))
    val dir = dirFor(sfDir, key)
    buildOnce(dir) { row.build(spark, sfDir, emb(spark, sfDir), dir); markReady(dir) }
    dir
  }

  private def ivfLayout(spark: SparkSession, sfDir: String, key: String,
      model: String): (DataFrame, IvfIndex.Model) = {
    val dir = layoutDir(spark, sfDir, key)
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/$model"))
  }

  private def pqLayout(spark: SparkSession, sfDir: String,
      key: String): (DataFrame, PqIndex.Model) = {
    val dir = layoutDir(spark, sfDir, key)
    (readLayout(spark, s"$dir/table"), readPqModel(s"$dir/pq.txt"))
  }

  private def ivfPqLayout(spark: SparkSession, sfDir: String,
      key: String): (DataFrame, IvfIndex.Model, PqIndex.Model) = {
    val dir = layoutDir(spark, sfDir, key)
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/ivf.txt"),
      readPqModel(s"$dir/pq.txt"))
  }

  private def segments(spark: SparkSession, path: String): Dataset[HnswIndex.Segment] = {
    import spark.implicits._
    readLayout(spark, path).as[HnswIndex.Segment]
  }

  def ivfFlat(spark: SparkSession, sfDir: String): (DataFrame, IvfIndex.Model) =
    ivfLayout(spark, sfDir, "ivf16", "model.txt")
  def neardupIvf(spark: SparkSession, sfDir: String): (DataFrame, IvfIndex.Model) =
    ivfLayout(spark, sfDir, "neardup16", "model.txt")
  def ivfFixed(spark: SparkSession, sfDir: String): (DataFrame, IvfIndex.Model) =
    ivfLayout(spark, sfDir, "ivffix16", "model.txt")
  def pqFixed(spark: SparkSession, sfDir: String): (DataFrame, PqIndex.Model) =
    pqLayout(spark, sfDir, "pqfix8_16")
  def pqFlat(spark: SparkSession, sfDir: String): (DataFrame, PqIndex.Model) =
    pqLayout(spark, sfDir, "pq8_16")
  def ivfPqResidual(spark: SparkSession, sfDir: String)
      : (DataFrame, IvfIndex.Model, PqIndex.Model) = ivfPqLayout(spark, sfDir, "ivfpqr8_8_16")
  def ivfPqResidualFixed(spark: SparkSession, sfDir: String)
      : (DataFrame, IvfIndex.Model, PqIndex.Model) = ivfPqLayout(spark, sfDir, "ivfpqrfix8_8_16")
  def scannFixed(spark: SparkSession, sfDir: String)
      : (DataFrame, IvfIndex.Model, PqIndex.Model) = ivfPqLayout(spark, sfDir, "scannfix8_8_16")
  def binary(spark: SparkSession, sfDir: String): DataFrame =
    readLayout(spark, s"${layoutDir(spark, sfDir, "binary")}/table")
  def binaryIvf(spark: SparkSession, sfDir: String): (DataFrame, IvfIndex.Model) =
    ivfLayout(spark, sfDir, "rbivf16", "ivf.txt")
  def binaryIvfFixed(spark: SparkSession, sfDir: String): (DataFrame, IvfIndex.Model) =
    ivfLayout(spark, sfDir, "rbivffix16", "ivf.txt")

  def hnsw(spark: SparkSession, sfDir: String): Dataset[HnswIndex.Segment] =
    segments(spark, s"${layoutDir(spark, sfDir, "hnsw16_100_4_l2")}/table")

  private def clusteredLayout(spark: SparkSession, sfDir: String,
      key: String): (Dataset[HnswIndex.Segment], IvfIndex.Model) = {
    val dir = layoutDir(spark, sfDir, key)
    (segments(spark, s"$dir/table"), readIvfModel(s"$dir/ivf.txt"))
  }

  def hnswClustered(spark: SparkSession, sfDir: String)
      : (Dataset[HnswIndex.Segment], IvfIndex.Model) = clusteredLayout(spark, sfDir, "hnswr16_16_100")
  def hnswClusteredFixed(spark: SparkSession, sfDir: String)
      : (Dataset[HnswIndex.Segment], IvfIndex.Model) = clusteredLayout(spark, sfDir, "hnswrfix16_16_100")

  def vamana(spark: SparkSession, sfDir: String): Dataset[VamanaIndex.Segment] = {
    import spark.implicits._
    readLayout(spark, s"${layoutDir(spark, sfDir, "vamana32_64_4")}/table").as[VamanaIndex.Segment]
  }

  def hnswMultiField(spark: SparkSession, sfDir: String)
      : (Dataset[HnswIndex.Segment], Dataset[HnswIndex.Segment]) = {
    val dir = layoutDir(spark, sfDir, "hnswmv")
    (segments(spark, s"$dir/v1"), segments(spark, s"$dir/v2"))
  }

  def media(spark: SparkSession, sfDir: String): DataFrame =
    readLayout(spark, s"${layoutDir(spark, sfDir, "media3")}/table")

  // ── fixture spaces ────────────────────────────────────────────────────

  /** The projections of `embeddings` a fixture space stores: long `_id`
    * (= vec_id) with the float embedding, its int8 codes `iv`, its two
    * 32-d halves `v1`/`v2`, their int8 codes `iv1`/`iv2`, or its packed
    * sign codes (value_type=binary); or string `_id` = "doc-" || vec_id,
    * with the dense `_docid` sidecar (= vec_id, so oracles re-derive the
    * mapping) or without one (the hand-rolled shape that bypasses the
    * catalog's docid minting).
    */
  private object Shape extends Enumeration {
    val LongId, Int8, Halves, Int8Halves, SignCodes, StrDocid, StrNoDocid = Value
  }

  private def columns(shape: Shape.Value): Seq[Column] = {
    import graft.Graft.F.quantizeI8
    val (id, label, e) = (col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
    val str = concat(lit("doc-"), col("vec_id")).as("_id")
    val (h1, h2) = (slice(e, 1, 32), slice(e, 33, 32))
    shape match {
      case Shape.LongId => Seq(id, label, e)
      case Shape.Int8 => Seq(id, label, quantizeI8(e).as("iv"))
      case Shape.Halves => Seq(id, label, h1.as("v1"), h2.as("v2"))
      case Shape.Int8Halves => Seq(id, label, quantizeI8(h1).as("iv1"), quantizeI8(h2).as("iv2"))
      case Shape.SignCodes => Seq(id, label, graft.Graft.columnOf(graft.functions.SignBits(
        graft.Graft.exprOf(e.cast("array<float>")))).as("embedding"))
      case Shape.StrDocid => Seq(str, col("vec_id").cast("long").as("_docid"), label, e)
      case Shape.StrNoDocid => Seq(str, label, e)
    }
  }

  /** Where a fixture space's fresh writes live. A realtime space keeps
    * its routing ids `< 10` (the query vector among them, so a route
    * that skips the buffer misses its top-1) in `space.tail` — written
    * directly, or through `RealtimeTail.startIngest` so the
    * checkpoint/trigger plumbing is under the oracle too — and the rest
    * in `space`; its live view is exactly the full embeddings table.
    */
  private object Tail extends Enumeration { val NoTail, Static, Stream = Value }

  /** One fixture space: its cache key, projection, tail, and lifecycle
    * steps over the base table, in build order.
    */
  private final case class SpaceRow(key: String, shape: Shape.Value,
      tail: Tail.Value = Tail.NoTail)(val steps: graft.api.IndexLifecycle => Unit)

  private val spaces: Seq[SpaceRow] = {
    import Shape._
    import Tail.{Static, Stream}
    def mvHnsw(a: String, b: String)(lc: graft.api.IndexLifecycle): Unit = {
      lc.scoped(a).rebuildHnsw("_id", a, hnswIp)
      lc.scoped(b).rebuildHnsw("_id", b, hnswIp)
    }
    Seq(
      SpaceRow("apihnsw", LongId)(_.rebuildHnsw("_id", "embedding", hnswL2)),
      SpaceRow("apihnswr", LongId)(
        _.rebuildHnswClustered("_id", "embedding", hnswL2, ncentroids = 16)),
      SpaceRow("apipq", LongId)(_.rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)),
      SpaceRow("apirb", LongId)(_.rebuildIvfRabitq("embedding", ncentroids = 8)),
      SpaceRow("apiscann2", LongId)(_.rebuildScann("embedding", ncentroids = 8, m = 8, ksub = 16)),
      SpaceRow("apivam", LongId)(_.rebuildVamana("_id", "embedding", vamanaL2)),
      SpaceRow("apivamr", LongId)(
        _.rebuildVamanaClustered("_id", "embedding", vamanaL2, ncentroids = 16)),
      SpaceRow("apibivf", SignCodes)(_.rebuildBinaryIvf("embedding", ncentroids = 8)),
      // delete visibility: generations over the FULL corpus, then ids
      // 0–4 deleted through the lifecycle — the generations still hold
      // them (vec_id 0 is the query vector), so a search that skips the
      // ledger gate returns ghosts
      SpaceRow("apidel", LongId) { lc =>
        lc.rebuildHnsw("_id", "embedding", hnswL2)
        lc.rebuild("embedding", ncentroids = 16)
        lc.deleteByIds("_id", Seq(0L, 1L, 2L, 3L, 4L))
      },
      SpaceRow("apii8ivf", Int8)(_.rebuild("iv", 8)),
      SpaceRow("apii8hnsw", Int8)(_.rebuildHnsw("_id", "iv", hnswIp)),
      SpaceRow("apii8ivfpq", Int8)(_.rebuildIvfPq("iv", ncentroids = 8, m = 8)),
      SpaceRow("apii8vamana", Int8)(_.rebuildVamana("_id", "iv",
        VamanaIndex.Params(r = 32, l = 100, metric = "ip", numShards = 4))),
      SpaceRow("apii8scann", Int8)(_.rebuildScann("iv", ncentroids = 8, m = 8, ksub = 16)),
      SpaceRow("apii8rb", Int8)(_.rebuildIvfRabitq("iv", ncentroids = 8)),
      // per-field generations under each field's lifecycle scope
      SpaceRow("apimv", Halves)(mvHnsw("v1", "v2")),
      SpaceRow("apimvmixed", Halves) { lc =>
        lc.scoped("v1").rebuildHnsw("_id", "v1", hnswIp)
        lc.scoped("v2").rebuild("v2", ncentroids = 8)
      },
      SpaceRow("apimvint8", Int8Halves) { lc =>
        lc.scoped("iv1").rebuildHnsw("_id", "iv1", hnswIp)
        lc.scoped("iv2").rebuild("iv2", ncentroids = 8)
      },
      SpaceRow("apimvpq", Halves) { lc =>
        lc.scoped("v1").rebuildIvfPq("v1", ncentroids = 8, m = 8, ksub = 16)
        lc.scoped("v2").rebuildIvfRabitq("v2", ncentroids = 8)
      },
      SpaceRow("apimvrt", Halves, Static)(mvHnsw("v1", "v2")),
      // one realtime space carries a READY generation of every float family
      SpaceRow("apirt", LongId, Static) { lc =>
        lc.rebuild("embedding", ncentroids = 16)
        lc.rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)
        lc.rebuildIvfRabitq("embedding", ncentroids = 8)
        lc.rebuildHnsw("_id", "embedding", hnswL2)
        lc.rebuildVamana("_id", "embedding", vamanaL2)
      },
      SpaceRow("apirtstream", LongId, Stream)(_.rebuild("embedding", ncentroids = 16)),
      SpaceRow("apirtb", SignCodes, Static)(_.rebuildBinaryIvf("embedding", ncentroids = 8)),
      // string PK: graph generations route on `_docid`
      SpaceRow("apistr", StrDocid) { lc =>
        lc.rebuildHnsw("_docid", "embedding", hnswL2)
        lc.rebuild("embedding", ncentroids = 16)
        lc.rebuildVamana("_docid", "embedding", vamanaL2)
      },
      SpaceRow("apinodocid", StrNoDocid)(_.rebuild("embedding", ncentroids = 16)),
      SpaceRow("apistrrt", StrDocid, Static) { lc =>
        lc.rebuildHnsw("_docid", "embedding", hnswL2)
        lc.rebuild("embedding", ncentroids = 16)
      },
      // the ledger records the DOCIDs of doc-0…doc-4
      SpaceRow("apistrdel", StrDocid) { lc =>
        lc.rebuildHnsw("_docid", "embedding", hnswL2)
        lc.rebuild("embedding", ncentroids = 16)
        lc.deleteByPk("_id", Seq("doc-0", "doc-1", "doc-2", "doc-3", "doc-4"))
      })
  }

  /** Every fixture key, operator layouts first — what [[warm]] builds. */
  private[graft] def fixtureKeys: Seq[String] = layouts.map(_.key) ++ spaces.map(_.key)

  /** Build fixture space `key` once and return the catalog root it lives
    * under, so `new SpaceCatalog(spark, root).search(key, "space", …)`
    * serves it: table `<root>/<key>/space`, its generations beside it,
    * a realtime tail at `space.tail` with its checkpoint at `space.ckpt`.
    */
  def space(spark: SparkSession, sfDir: String, key: String): String = {
    val row = spaces.find(_.key == key)
      .getOrElse(throw new IllegalArgumentException(s"no fixture space '$key'"))
    val root = fixtureRoot(sfDir)
    val dir = s"$root/$key"
    val path = s"$dir/space"
    buildOnce(dir) {
      val all = emb(spark, sfDir).select(columns(row.shape): _*)
      val rid = col(if (all.columns.contains("_docid")) "_docid" else "_id")
      (if (row.tail == Tail.NoTail) all else all.filter(rid >= 10))
        .write.mode("overwrite").parquet(path)
      row.steps(new graft.api.IndexLifecycle(spark, path))
      val fresh = all.filter(rid < 10)
      row.tail match {
        case Tail.Static => fresh.write.mode("overwrite").parquet(s"$path.tail")
        case Tail.Stream =>
          // staged as a file source, ingested by startIngest, drained, stopped
          fresh.write.mode("overwrite").parquet(s"$dir/staging")
          val q = new graft.streaming.RealtimeTail(spark, path, s"$path.tail",
            s"$path.ckpt", "_id").startIngest(
            spark.readStream.schema(all.schema).parquet(s"$dir/staging"), intervalMs = 100L)
          try q.processAllAvailable() finally q.stop()
        case _ => ()
      }
      markReady(dir)
    }
    root
  }

  /** Build every fixture the declared queries read — called from Bench's
    * untimed warmup so builds never pollute per-query timings. In
    * resident mode each layout table's cache entry is materialized here
    * too, so the first timed query measures the walk/probe, not the load.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    layouts.foreach { l =>
      val dir = layoutDir(spark, sfDir, l.key)
      if (resident) l.tables.foreach(t => readLayout(spark, s"$dir/$t").count())
    }
    spaces.foreach(r => space(spark, sfDir, r.key))
  }
}
