package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BinaryIndex, HnswIndex, IvfIndex, PqIndex}

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
  *  - ivfPq:    same layout + `pq_code` column → ADC scans codes only
  *  - pqFlat:   `pq_code` alongside raw vectors (column-pruned stage 1)
  *  - binary:   packed sign codes `bcode` (stage 1 reads dim/8 bytes/row)
  *
  * Location: `$SPARK_GRAFT_INDEX_DIR` or `java.io.tmpdir`/graft_index —
  * outside the repo, keyed by fixture basename + layout params, marked
  * ready atomically AFTER model+table are fully written.
  */
object IndexStore {

  /** Bump to invalidate cached layouts when build code changes.
    * v3: HnswIndex.Segment grew the `chain` column (incremental append).
    */
  private val Version = "v3"

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
    * the frame, and the snapshot's resident column copy
    * ([[residentColumns]]).
    */
  private final class Opened(val sig: String,
      leaves: Seq[org.apache.hadoop.fs.FileStatus], val df: DataFrame) {
    /** The snapshot's row count, summed from its parquet footers: driver
      * file reads, no Spark job. None when a footer cannot be read.
      */
    lazy val rows: Option[Long] =
      try {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        Some(leaves.map { st =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          try r.getRecordCount finally r.close()
        }.sum)
      } catch { case NonFatal(_) => None }
    /** (columns, their resident copy); guarded by `this`. */
    var resident: Option[(Seq[String], DataFrame)] = None
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

  /** A driver-resident copy of columns `cols` of the snapshot that
    * [[openTable]] returned as `df` (found by identity among the open
    * entries), as a local relation. One collect builds it on the first
    * call; it lives on the open-cache entry, so a rewrite that reopens
    * the path drops it with the old frame and it never outlives the
    * files it was read from. Residency is decided BEFORE anything is
    * collected: the snapshot's parquet footers must count at most
    * `maxRows` rows. None when no current entry holds `df` (a raw
    * `spark.read`, a transformed frame, a superseded snapshot), a footer
    * is unreadable, or the snapshot has more than `maxRows` rows.
    */
  def residentColumns(df: DataFrame, cols: Seq[String],
      maxRows: Long): Option[DataFrame] =
    openCache.valuesIterator.find(_.df eq df)
      .filter(_.rows.exists(_ <= maxRows))
      .map { e =>
        e.synchronized {
          e.resident match {
            case Some((c, copy)) if c == cols => copy
            case _ =>
              val copy = org.apache.spark.sql.graft.Bridge
                .localCopy(df.select(cols.map(col): _*))
              e.resident = Some((cols, copy))
              copy
          }
        }
      }

  /** Drop a path's cached open plan (belt-and-braces for in-place
    * appends — the signature check alone already invalidates them).
    */
  def invalidateOpen(path: String): Unit =
    openCache.keys.filter(_._2 == path).foreach(openCache.remove)

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

  private def dirFor(sfDir: String, kind: String): String = {
    val base = Paths.get(sfDir).toAbsolutePath.normalize.getFileName.toString
    s"$rootDir/$Version/$base-${fingerprint(sfDir)}/$kind"
  }

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

  /** IVFFLAT layout: embeddings + `list_id`, partitioned by `list_id`. */
  def ivfFlat(spark: SparkSession, sfDir: String,
      ncentroids: Int = 16): (DataFrame, IvfIndex.Model) = {
    val dir = dirFor(sfDir, s"ivf$ncentroids")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val model = IvfIndex.train(e, "embedding", ncentroids)
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/model.txt"))
  }

  /** Cosine-metric IVF assignment for the embedding near-dup queries —
    * the build-vs-search lifecycle split (`engine.cc:972-1012`): KMeans
    * train + `list_id` assignment happen HERE, once per fixture, so
    * `q_embed_neardup_knn` times the probe-join + exact verify, not the
    * model fit. Config mirrors the query's historical in-query train
    * (cosine, seed 42, maxIter 8) so the deterministic model — and the
    * output hash — are unchanged.
    */
  def neardupIvf(spark: SparkSession, sfDir: String,
      ncentroids: Int = 16): (DataFrame, IvfIndex.Model) = {
    val dir = dirFor(sfDir, s"neardup$ncentroids")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val model = IvfIndex.train(e, "embedding", ncentroids,
        metric = "cosine", seed = 42L, maxIter = 8)
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/model.txt"))
  }

  /** Deterministic-oracle IVF layout for the k-NN join's PRUNED operating
    * point: centroids are the corpus rows `vec_id < nc` (the
    * q_semantic_dedup centroid-seed device), assignment argmin-L2 — the
    * whole probe/assign/candidate pipeline replays in SQL while the
    * layout keeps the `partitionBy(list_id)` pruning shape.
    */
  def ivfFixed(spark: SparkSession, sfDir: String,
      nc: Int = 16): (DataFrame, IvfIndex.Model) = {
    val dir = dirFor(sfDir, s"ivffix$nc")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val cents = e.filter(col("vec_id") < nc).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val model = IvfIndex.Model(cents, "l2")
      IvfIndex.buildTable(e, "embedding", model, s"$dir/table")
      writeIvfModel(s"$dir/model.txt", model)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/model.txt"))
  }

  /** [[pqFlat]] at a DETERMINISTIC operating point: the m sub-codebooks
    * are the corpus's own first-`ksub` rows' subvectors (vec_id < ksub,
    * id order) instead of Lloyd-trained, so every encode argmin and ADC
    * lookup replays in closed-form SQL — the pruned `recall_num`
    * shortlist boundary becomes oracle-checkable (the [[ivfFixed]]
    * precedent, applied to the PQ stage). Same search code, same layout
    * shape; only the codebook source differs.
    */
  def pqFixed(spark: SparkSession, sfDir: String,
      m: Int = 8, ksub: Int = 16): (DataFrame, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"pqfix${m}_$ksub")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
      val dsub = dim / m
      val rows = e.filter(col("vec_id") < ksub).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val codebooks = Array.tabulate(m) { sub =>
        rows.map(v =>
          java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      }
      val pq = PqIndex.Model(m, rows.length, dsub, codebooks, "l2")
      PqIndex.encode(e, "embedding", pq)
        .write.mode("overwrite").parquet(s"$dir/table")
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readPqModel(s"$dir/pq.txt"))
  }

  /** IVFPQ layout: `list_id`-partitioned table carrying `pq_code` + raw
    * vectors (the raw column is only read by the rerank stage's semi-join).
    */
  def ivfPq(spark: SparkSession, sfDir: String, ncentroids: Int = 8,
      m: Int = 8, ksub: Int = 16): (DataFrame, IvfIndex.Model, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"ivfpq${ncentroids}_${m}_$ksub")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      // dim from the data, not a constant — a 128-d fixture would
      // otherwise get codebooks over its first 64 components only
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val ivf = IvfIndex.train(e, "embedding", ncentroids)
      val pq = PqIndex.train(e, "embedding", dim = dim, m = m, ksub = ksub,
        maxTrainRows = 200000L, maxIter = 8)
      PqIndex.encode(IvfIndex.assign(e, "embedding", ivf), "embedding", pq)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"),
      readIvfModel(s"$dir/ivf.txt"),
      readPqModel(s"$dir/pq.txt"))
  }

  /** Residual IVFPQ layout — codebooks trained and codes computed on
    * v − centroid(list_id) ([[PqIndex.trainResidual]]); the adopted
    * default for the q_ivfpq queries after winning the RecallGateSpec
    * codebook head-to-head (+4 recall@10 points at the tight operating
    * point on the normalized distribution).
    */
  def ivfPqResidual(spark: SparkSession, sfDir: String, ncentroids: Int = 8,
      m: Int = 8, ksub: Int = 16): (DataFrame, IvfIndex.Model, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"ivfpqr${ncentroids}_${m}_$ksub")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val ivf = IvfIndex.train(e, "embedding", ncentroids)
      val assigned = IvfIndex.assign(e, "embedding", ivf)
      val pq = PqIndex.trainResidual(assigned, "embedding", dim, m, ivf,
        ksub = ksub, maxTrainRows = 200000L, maxIter = 8)
      PqIndex.encodeResidual(assigned, "embedding", ivf, pq)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"),
      readIvfModel(s"$dir/ivf.txt"),
      readPqModel(s"$dir/pq.txt"))
  }

  /** [[ivfPqResidual]] at a DETERMINISTIC operating point (the
    * [[pqFixed]] / [[ivfFixed]] recipe applied to both stages): coarse
    * centroids = rows vec_id < ncentroids, residual sub-codebooks = the
    * float-rounded residuals of rows vec_id < ksub w.r.t. their OWN
    * assigned fixed centroid. Every decision — the double-domain
    * assignment argmin ([[graft.functions.VecKernels.argminL2]]), the
    * float-product probe ranking (IvfIndex.Model.nearestCentroids), the
    * double-domain residual encode, the float residual-query LUT, the
    * in-order ADC sum, the recall_num boundary — replays in closed-form
    * SQL, so the full probe∘ADC∘rerank composition is oracle-checkable
    * at a PRUNED (lossy) operating point.
    */
  def ivfPqResidualFixed(spark: SparkSession, sfDir: String,
      ncentroids: Int = 8, m: Int = 8, ksub: Int = 16)
      : (DataFrame, IvfIndex.Model, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"ivfpqrfix${ncentroids}_${m}_$ksub")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim must divide into m=$m subvectors")
      val dsub = dim / m
      val cents = e.filter(col("vec_id") < ncentroids).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val ivf = IvfIndex.Model(cents, "l2")
      val rows = e.filter(col("vec_id") < ksub).orderBy("vec_id")
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      // residual of each codebook row w.r.t. its assigned fixed centroid,
      // double-subtracted then float-rounded (the storage domain) — the
      // same arithmetic the SQL oracle replays with CAST(… AS REAL)
      def assignOf(v: Array[Float]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var s = 0.0; var i = 0
          while (i < dim) {
            val d = v(i).toDouble - cents(c)(i).toDouble
            s += d * d; i += 1
          }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        best
      }
      val codebooks = Array.tabulate(m) { sub =>
        rows.map { v =>
          val cent = cents(assignOf(v))
          Array.tabulate(dsub) { i =>
            val j = sub * dsub + i
            (v(j).toDouble - cent(j).toDouble).toFloat
          }
        }
      }
      val pq = PqIndex.Model(m, rows.length, dsub, codebooks, "l2")
      PqIndex.encodeResidual(IvfIndex.assign(e, "embedding", ivf), "embedding", ivf, pq)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"),
      readIvfModel(s"$dir/ivf.txt"),
      readPqModel(s"$dir/pq.txt"))
  }

  /** [[ivfPqResidualFixed]] with the ScaNN ANISOTROPIC encode
    * ([[PqIndex.encodeResidualAnisotropic]] at the trained-default
    * η = etaForThreshold(0.2, dim)) instead of the plain-L2 argmin:
    * fixed centroids and codebooks make the score-aware assignment
    * objective itself — l2 + (η−1)·(⟨r−c, x⟩/‖x‖)², all-double,
    * in-index-order ([[graft.functions.VecKernels.pqEncodeResidualAniso]])
    * — SQL-replayable, so the SCANN operating point's every codeword
    * choice and the pruned shortlist boundary hash-pin.
    */
  def scannFixed(spark: SparkSession, sfDir: String,
      ncentroids: Int = 8, m: Int = 8, ksub: Int = 16)
      : (DataFrame, IvfIndex.Model, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"scannfix${ncentroids}_${m}_$ksub")
    buildOnce(dir) {
      // identical fixed models to ivfPqResidualFixed — only the encode
      // objective differs
      val (_, ivf, pq) = ivfPqResidualFixed(spark, sfDir, ncentroids, m, ksub)
      val e = emb(spark, sfDir)
      PqIndex.encodeResidualAnisotropic(
        IvfIndex.assign(e, "embedding", ivf), "embedding", ivf, pq)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"),
      readIvfModel(s"$dir/ivf.txt"),
      readPqModel(s"$dir/pq.txt"))
  }

  /** Flat PQ layout: `pq_code` alongside raw vectors, no coarse partition. */
  def pqFlat(spark: SparkSession, sfDir: String,
      m: Int = 8, ksub: Int = 16): (DataFrame, PqIndex.Model) = {
    val dir = dirFor(sfDir, s"pq${m}_$ksub")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      val pq = PqIndex.train(e, "embedding", dim = dim, m = m, ksub = ksub,
        maxTrainRows = 200000L, maxIter = 8)
      PqIndex.encode(e, "embedding", pq)
        .write.mode("overwrite").parquet(s"$dir/table")
      writePqModel(s"$dir/pq.txt", pq)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readPqModel(s"$dir/pq.txt"))
  }

  /** Binary (sign-bit) layout: embeddings + packed `bcode`. */
  def binary(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = dirFor(sfDir, "binary")
    buildOnce(dir) {
      BinaryIndex.encode(emb(spark, sfDir), "embedding")
        .write.mode("overwrite").parquet(s"$dir/table")
      markReady(dir)
    }
    readLayout(spark, s"$dir/table")
  }

  /** IVF+RaBitQ layout: `list_id`-partitioned table carrying residual
    * sign codes (`rbcode`) + raw vectors for the rerank.
    */
  def binaryIvf(spark: SparkSession, sfDir: String,
      ncentroids: Int = 16): (DataFrame, IvfIndex.Model) = {
    val dir = dirFor(sfDir, s"rbivf$ncentroids")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      // reuse ivfFlat's trained quantizer (same data, same params) —
      // retraining an identical KMeans doubled the dominant warmup cost
      val ivf = ivfFlat(spark, sfDir, ncentroids)._2
      BinaryIndex.encodeResidual(IvfIndex.assign(e, "embedding", ivf), "embedding", ivf)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/ivf.txt"))
  }

  /** [[binaryIvf]] over the DETERMINISTIC coarse quantizer
    * ([[ivfFixed]]'s centroid-seed device — centroids are the corpus
    * rows `vec_id < nc`): the probe route replays in closed-form SQL,
    * so the family's PRUNED nprobe operating point is hash-checkable at
    * every fixture size (a kmeans-trained quantizer's probe set is only
    * incidentally exact — r20 found it missing true neighbors at two of
    * the three fixture seeds). The sign-estimator boundary keeps its
    * own oracled operating points (`q_rabitq_search`, `q_binary_rerank`);
    * this layout pins the ROUTE.
    */
  def binaryIvfFixed(spark: SparkSession, sfDir: String,
      nc: Int = 16): (DataFrame, IvfIndex.Model) = {
    val dir = dirFor(sfDir, s"rbivffix$nc")
    buildOnce(dir) {
      val e = emb(spark, sfDir)
      val ivf = ivfFixed(spark, sfDir, nc)._2
      BinaryIndex.encodeResidual(IvfIndex.assign(e, "embedding", ivf), "embedding", ivf)
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table"), readIvfModel(s"$dir/ivf.txt"))
  }

  /** [[hnswClustered]] over the DETERMINISTIC coarse quantizer — same
    * rationale as [[binaryIvfFixed]]: the shard route replays in SQL,
    * and with `ef ≥ |shard|` the in-shard walks are exhaustive, so the
    * routed graph family's pruned operating point is exact-within-route
    * by construction. VALIDITY BOUND: the exhaustiveness premise is the
    * CALLER's ef against this fixture's shard sizes (~rows/nc) — the
    * entries' ef=4096 holds through ~65k embedding rows (fixture mult
    * ≈ 33); past that the oracle fails LOUD and the fix is the ef
    * constant (or derive it from the segment row count), not the
    * operator.
    */
  def hnswClusteredFixed(spark: SparkSession, sfDir: String, nc: Int = 16,
      m: Int = 16, efConstruction: Int = 100)
      : (org.apache.spark.sql.Dataset[HnswIndex.Segment], IvfIndex.Model) = {
    import spark.implicits._
    val dir = dirFor(sfDir, s"hnswrfix${nc}_${m}_$efConstruction")
    buildOnce(dir) {
      val ivf = ivfFixed(spark, sfDir, nc)._2
      HnswIndex.buildClustered(emb(spark, sfDir), "vec_id", "embedding",
        HnswIndex.Params(m, efConstruction, "l2", nc), ivf)
        .write.mode("overwrite").partitionBy("shard_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table").as[HnswIndex.Segment],
      readIvfModel(s"$dir/ivf.txt"))
  }

  /** HNSW layout: the graph-segment table (one row per shard, each a
    * whole serialized graph — [[HnswIndex]] class doc). The build is
    * deterministic (hash levels, id-sorted insertion), so the stored
    * segments are a pure function of (fixture, params) and every search
    * over them is reproducible.
    */
  def hnsw(spark: SparkSession, sfDir: String, m: Int = 16,
      efConstruction: Int = 100, numShards: Int = 4,
      metric: String = "l2"): org.apache.spark.sql.Dataset[HnswIndex.Segment] = {
    import spark.implicits._
    val dir = dirFor(sfDir, s"hnsw${m}_${efConstruction}_${numShards}_$metric")
    buildOnce(dir) {
      HnswIndex.build(emb(spark, sfDir), "vec_id", "embedding",
        HnswIndex.Params(m, efConstruction, metric, numShards))
        .write.mode("overwrite").parquet(s"$dir/table")
      markReady(dir)
    }
    readLayout(spark, s"$dir/table").as[HnswIndex.Segment]
  }

  /** Clustered-shard HNSW layout (SPANN-style, [[HnswIndex.buildClustered]]):
    * shards = the shared coarse quantizer's lists, table partitioned by
    * `shard_id` so the query route is parquet partition pruning.
    */
  def hnswClustered(spark: SparkSession, sfDir: String, ncentroids: Int = 16,
      m: Int = 16, efConstruction: Int = 100)
      : (org.apache.spark.sql.Dataset[HnswIndex.Segment], IvfIndex.Model) = {
    import spark.implicits._
    val dir = dirFor(sfDir, s"hnswr${ncentroids}_${m}_$efConstruction")
    buildOnce(dir) {
      // reuse ivfFlat's trained quantizer (same data/params) — and the
      // routing stays consistent with the scan-path IVF layouts
      val ivf = ivfFlat(spark, sfDir, ncentroids)._2
      HnswIndex.buildClustered(emb(spark, sfDir), "vec_id", "embedding",
        HnswIndex.Params(m, efConstruction, "l2", ncentroids), ivf)
        .write.mode("overwrite").partitionBy("shard_id").parquet(s"$dir/table")
      writeIvfModel(s"$dir/ivf.txt", ivf)
      markReady(dir)
    }
    (readLayout(spark, s"$dir/table").as[HnswIndex.Segment],
      readIvfModel(s"$dir/ivf.txt"))
  }

  /** Routed-API fixture: the embeddings table materialized as a SPACE
    * (long `_id`) with a READY HNSW generation built through the
    * lifecycle — the layout [[graft.api.SearchApi.searchAuto]] serves.
    */
  def hnswSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apihnsw")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildHnsw("_id", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      markReady(dir)
    }
    spacePath
  }

  /** DiskANN-static (Vamana) layout: flat α-RNG graph segments, one row
    * per shard ([[graft.operators.VamanaIndex]]). Deterministic build ⇒
    * reproducible searches, same as the HNSW layout.
    */
  def vamana(spark: SparkSession, sfDir: String, r: Int = 32, l: Int = 64,
      numShards: Int = 4): org.apache.spark.sql.Dataset[graft.operators.VamanaIndex.Segment] = {
    import spark.implicits._
    val dir = dirFor(sfDir, s"vamana${r}_${l}_$numShards")
    buildOnce(dir) {
      graft.operators.VamanaIndex.build(emb(spark, sfDir), "vec_id", "embedding",
        graft.operators.VamanaIndex.Params(r, l, 1.2, "l2", numShards))
        .write.mode("overwrite").parquet(s"$dir/table")
      markReady(dir)
    }
    readLayout(spark, s"$dir/table").as[graft.operators.VamanaIndex.Segment]
  }

  /** Multi-field graph layouts: one HNSW segment table PER vector field
    * (the two 32-d halves of the embedding), both inner-product metric —
    * the layout the reference's multi-field conjunctive search serves
    * from (one index per vector field, results intersected on docid,
    * vector_manager.cc:1024-1087).
    */
  def hnswMultiField(spark: SparkSession, sfDir: String)
      : (org.apache.spark.sql.Dataset[HnswIndex.Segment],
         org.apache.spark.sql.Dataset[HnswIndex.Segment]) = {
    import spark.implicits._
    val dir = dirFor(sfDir, "hnswmv")
    buildOnce(dir) {
      val two = emb(spark, sfDir).select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      val p = HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
        numShards = 4)
      HnswIndex.build(two, "vec_id", "v1", p)
        .write.mode("overwrite").parquet(s"$dir/v1")
      HnswIndex.build(two, "vec_id", "v2", p)
        .write.mode("overwrite").parquet(s"$dir/v2")
      markReady(dir)
    }
    (readLayout(spark, s"$dir/v1").as[HnswIndex.Segment],
      readLayout(spark, s"$dir/v2").as[HnswIndex.Segment])
  }

  /** Multi-field REALTIME fixture: the [[hnswMultiField]] per-field graph
    * layouts built over the BASE split (vec_id ≥ 10) plus a TAIL
    * (vec_id < 10 — including the query vector) carrying both field
    * slices — the shape the reference's multi-field conjunctive serves
    * when the memory buffer is live (vector_manager.cc:1024-1176 merges
    * the buffer into the PER-FIELD searches before the docid
    * intersection).
    */
  def realtimeMultiField(spark: SparkSession, sfDir: String)
      : (String, String,
         org.apache.spark.sql.Dataset[HnswIndex.Segment],
         org.apache.spark.sql.Dataset[HnswIndex.Segment]) = {
    import spark.implicits._
    val dir = dirFor(sfDir, "hnswmvrt")
    val basePath = s"$dir/base"; val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val two = emb(spark, sfDir).select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("v1"),
        slice(col("embedding"), 33, 32).as("v2"))
      two.filter(col("vec_id") >= 10).write.mode("overwrite").parquet(basePath)
      two.filter(col("vec_id") < 10).write.mode("overwrite").parquet(tailPath)
      val p = HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
        numShards = 4)
      val base = spark.read.parquet(basePath)
      HnswIndex.build(base, "vec_id", "v1", p)
        .write.mode("overwrite").parquet(s"$dir/v1")
      HnswIndex.build(base, "vec_id", "v2", p)
        .write.mode("overwrite").parquet(s"$dir/v2")
      markReady(dir)
    }
    (basePath, tailPath,
      readLayout(spark, s"$dir/v1").as[HnswIndex.Segment],
      readLayout(spark, s"$dir/v2").as[HnswIndex.Segment])
  }

  /** Multi-vector-field SPACE fixture: the two 32-d halves of the
    * embedding as separate declared vector fields (v1, v2), each with a
    * READY HNSW generation under its FIELD SCOPE
    * ([[graft.api.IndexLifecycle.scoped]]) — the layout the reference's
    * per-field index intersection serves from (one index per vector
    * field, vector_manager.cc:1024-1087), declaration-driven.
    */
  def multiFieldSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apimv")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          slice(col("embedding"), 1, 32).as("v1"),
          slice(col("embedding"), 33, 32).as("v2"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      val p = HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
        numShards = 4)
      lc.scoped("v1").rebuildHnsw("_id", "v1", p)
      lc.scoped("v2").rebuildHnsw("_id", "v2", p)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 SPACE fixture: the embeddings symmetric-quantized to int8
    * codes (`iv`, the ingest-side quantizer) with a READY IVFFLAT
    * generation trained in the de-quantized domain
    * ([[graft.api.IndexLifecycle.rebuild]]) — the INT8 routed
    * serving layout (index_model.h:19).
    */
  def int8IvfSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8ivf")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuild("iv", 8)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 space under a READY HNSW generation: the graph stores the raw
    * code values as floats ([[graft.api.IndexLifecycle.rebuildHnsw]])
    * so walk scores equal the integer kernels exactly — the routed int8
    * graph serving fixture (reference: INT8 across every index family,
    * index_model.h:19).
    */
  def int8HnswSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8hnsw")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildHnsw("_id", "iv",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
          numShards = 4))
      markReady(dir)
    }
    spacePath
  }

  /** INT8 space under a READY IVFPQ generation — codebooks in the
    * raw-code float domain, integer-kernel rerank
    * ([[graft.api.IndexLifecycle.rebuildIvfPq]]).
    */
  def int8IvfPqSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8ivfpq")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildIvfPq("iv", ncentroids = 8, m = 8)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 space under a READY Vamana (DISKANN_STATIC) generation — same
    * raw-code float domain as [[int8HnswSpace]].
    */
  def int8VamanaSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8vamana")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildVamana("_id", "iv",
        graft.operators.VamanaIndex.Params(r = 32, l = 100, metric = "ip",
          numShards = 4))
      markReady(dir)
    }
    spacePath
  }

  /** MIXED-family multi-vector SPACE fixture: v1 under a READY HNSW
    * generation, v2 under a READY IVFFLAT generation — the reference
    * intersects per-field results for ANY family combination
    * (vector_manager.cc:1024-1087), so the conjunctive route must not
    * demand a homogeneous index set.
    */
  def multiFieldMixedSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apimvmixed")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          slice(col("embedding"), 1, 32).as("v1"),
          slice(col("embedding"), 33, 32).as("v2"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.scoped("v1").rebuildHnsw("_id", "v1",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
          numShards = 4))
      lc.scoped("v2").rebuild("v2", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 multi-vector SPACE fixture: iv1 under a READY int8 HNSW
    * generation (raw-code float domain), iv2 under a READY int8 IVFFLAT
    * generation (de-quantized centroid domain) — the conjunctive route
    * intersects per-field legs whatever the value type
    * (index_model.h:19, vector_manager.cc:1024-1087).
    */
  def multiFieldInt8Space(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apimvint8")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(slice(col("embedding"), 1, 32)).as("iv1"),
          graft.Graft.F.quantizeI8(slice(col("embedding"), 33, 32)).as("iv2"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.scoped("iv1").rebuildHnsw("_id", "iv1",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
          numShards = 4))
      lc.scoped("iv2").rebuild("iv2", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** COMPRESSED-family multi-vector SPACE fixture: v1 under a READY
    * IVFPQ generation, v2 under a READY IVFRABITQ generation — the
    * conjunctive route intersects per-field legs for the compressed
    * families too (vector_manager.cc:1024-1087).
    */
  def multiFieldPqSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apimvpq")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          slice(col("embedding"), 1, 32).as("v1"),
          slice(col("embedding"), 33, 32).as("v2"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.scoped("v1").rebuildIvfPq("v1", ncentroids = 8, m = 8, ksub = 16)
      lc.scoped("v2").rebuildIvfRabitq("v2", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** [[multiFieldSpace]] with a realtime TAIL (vec_id < 10, including
    * the query vector): per-field READY generations over the BASE split
    * — the shape the tail-aware conjunctive route serves.
    */
  def multiFieldRealtimeSpace(spark: SparkSession, sfDir: String): (String, String) = {
    val dir = dirFor(sfDir, "apimvrt")
    val spacePath = s"$dir/space"
    val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val two = emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          slice(col("embedding"), 1, 32).as("v1"),
          slice(col("embedding"), 33, 32).as("v2"))
      two.filter(col("_id") >= 10).write.mode("overwrite").parquet(spacePath)
      two.filter(col("_id") < 10).write.mode("overwrite").parquet(tailPath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      val p = HnswIndex.Params(m = 16, efConstruction = 100, metric = "ip",
        numShards = 4)
      lc.scoped("v1").rebuildHnsw("_id", "v1", p)
      lc.scoped("v2").rebuildHnsw("_id", "v2", p)
      markReady(dir)
    }
    (spacePath, tailPath)
  }

  /** Routed-API clustered-HNSW fixture: a SPACE with a READY
    * SPANN-clustered graph generation (shards = quantizer lists,
    * partitionBy(shard_id)) built through the lifecycle — what
    * `searchAuto` serves with parquet partition pruning.
    */
  def hnswRoutedSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apihnswr")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildHnswClustered(
        "_id", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2"),
        ncentroids = 16)
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API IVFPQ fixture: a SPACE with a READY residual-IVFPQ
    * generation built through the lifecycle.
    */
  def pqSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apipq")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API BINARYIVF fixture: a SPACE whose vector column holds
    * PACKED SIGN CODES (value_type=binary) with a READY Hamming-IVF
    * generation built through the lifecycle.
    */
  def binarySpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apibivf")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.columnOf(graft.functions.SignBits(
            graft.Graft.exprOf(col("embedding").cast("array<float>"))))
            .as("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildBinaryIvf("embedding", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API SCANN fixture: a SPACE with a READY anisotropic-PQ
    * generation built through the lifecycle (score-aware codebooks +
    * assignment — the native ScaNN class).
    */
  def scannSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apiscann2")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildScann("embedding", ncentroids = 8, m = 8, ksub = 16)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 space under a READY SCANN generation (anisotropic codebooks
    * trained in the raw-code float domain, integer-kernel rerank).
    */
  def int8ScannSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8scann")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildScann("iv", ncentroids = 8, m = 8, ksub = 16)
      markReady(dir)
    }
    spacePath
  }

  /** INT8 space under a READY IVFRABITQ generation (quantizer + residual
    * sign codes in the raw-code float domain, integer-kernel rerank).
    */
  def int8RabitqSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apii8rb")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.F.quantizeI8(col("embedding")).as("iv"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildIvfRabitq("iv", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API IVFRABITQ fixture: a SPACE with a READY residual
    * sign-code generation built through the lifecycle.
    */
  def rbSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apirb")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildIvfRabitq("embedding", ncentroids = 8)
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API Vamana fixture: the embeddings table as a SPACE with a
    * READY DiskANN-static generation built through the lifecycle.
    */
  def vamanaSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apivam")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildVamana("_id", "embedding",
        graft.operators.VamanaIndex.Params(r = 32, l = 64, alpha = 1.2,
          metric = "l2", numShards = 4))
      markReady(dir)
    }
    spacePath
  }

  /** Routed-API CLUSTERED-Vamana fixture: a SPACE with a READY
    * SPANN-routed DiskANN-static generation (shards = quantizer lists,
    * partitionBy(shard_id)) built through the lifecycle — what
    * `searchAuto` serves with parquet partition pruning.
    */
  def vamanaRoutedSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apivamr")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath).rebuildVamanaClustered(
        "_id", "embedding",
        graft.operators.VamanaIndex.Params(r = 32, l = 64, alpha = 1.2,
          metric = "l2"),
        ncentroids = 16)
      markReady(dir)
    }
    spacePath
  }

  /** Realtime-serving fixture (`enable_realtime`): the embeddings corpus
    * split into a BASE space (vec_id ≥ 10) whose index generations are
    * built through the lifecycle, and a TAIL table (vec_id < 10) of
    * fresh writes not yet folded by the compaction loop. The live view
    * (base ∪ tail) is exactly the full embeddings table, so every
    * realtime route at exact params oracles against the plain exact
    * top-k — and vec_id 0 (the query vector, distance 0) lives in the
    * TAIL, so a route that skips the buffer union is missing its top-1,
    * not some tail-end row. One space carries a READY generation of
    * every float family (separate sidecars per kind).
    */
  def realtimeSpace(spark: SparkSession, sfDir: String): (String, String) = {
    val dir = dirFor(sfDir, "apirt")
    val spacePath = s"$dir/space"
    val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val all = emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      all.filter(col("_id") >= 10).write.mode("overwrite").parquet(spacePath)
      all.filter(col("_id") < 10).write.mode("overwrite").parquet(tailPath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuild("embedding", ncentroids = 16)
      lc.rebuildIvfPq("embedding", ncentroids = 8, m = 8, ksub = 16)
      lc.rebuildIvfRabitq("embedding", ncentroids = 8)
      lc.rebuildHnsw("_id", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      lc.rebuildVamana("_id", "embedding",
        graft.operators.VamanaIndex.Params(r = 32, l = 64, alpha = 1.2,
          metric = "l2", numShards = 4))
      markReady(dir)
    }
    (spacePath, tailPath)
  }

  /** Realtime fixture whose TAIL is produced by the ACTUAL streaming
    * ingest path — `RealtimeTail.startIngest` (readStream → parquet sink
    * with a checkpoint, one processed micro-batch, then stopped) — not a
    * static parquet write: the checkpoint/trigger plumbing itself is
    * under the oracle. Same base/tail split as [[realtimeSpace]]
    * (tail = vec_id < 10, including the query vector), READY IVF
    * generation over the base.
    */
  def realtimeStreamSpace(spark: SparkSession, sfDir: String): (String, String) = {
    val dir = dirFor(sfDir, "apirtstream")
    val spacePath = s"$dir/space"
    val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val all = emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
      all.filter(col("_id") >= 10).write.mode("overwrite").parquet(spacePath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuild("embedding", ncentroids = 16)
      // the fresh writes arrive THROUGH the stream: staged as a file
      // source, ingested by startIngest, drained, stopped
      val staging = s"$dir/staging"
      all.filter(col("_id") < 10).write.mode("overwrite").parquet(staging)
      val rt = new graft.streaming.RealtimeTail(spark, spacePath, tailPath,
        s"$dir/ckpt", "_id")
      val src = spark.readStream.schema(all.schema).parquet(staging)
      val q = rt.startIngest(src, intervalMs = 100L)
      try q.processAllAvailable() finally q.stop()
      markReady(dir)
    }
    (spacePath, tailPath)
  }

  /** BINARYIVF realtime fixture: the same base/tail split with the
    * vector column holding PACKED SIGN CODES (value_type=binary) and a
    * READY Hamming-IVF generation over the base — the binary family's
    * instance of [[realtimeSpace]].
    */
  def realtimeBinarySpace(spark: SparkSession, sfDir: String): (String, String) = {
    val dir = dirFor(sfDir, "apirtb")
    val spacePath = s"$dir/space"
    val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val all = emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"),
          graft.Graft.columnOf(graft.functions.SignBits(
            graft.Graft.exprOf(col("embedding").cast("array<float>"))))
            .as("embedding"))
      all.filter(col("_id") >= 10).write.mode("overwrite").parquet(spacePath)
      all.filter(col("_id") < 10).write.mode("overwrite").parquet(tailPath)
      new graft.api.IndexLifecycle(spark, spacePath)
        .rebuildBinaryIvf("embedding", ncentroids = 8)
      markReady(dir)
    }
    (spacePath, tailPath)
  }

  /** Delete-visibility fixture: a space with BOTH a READY HNSW generation
    * and a READY IVF generation built over the FULL embeddings corpus,
    * then ids 0–4 deleted THROUGH the lifecycle (space table rewritten,
    * delete ledger recorded) — the generations still physically contain
    * the five docs, so any routed search that skips the ledger gate
    * returns ghosts (vec_id 0 is the query vector itself — top-1 would be
    * a ghost). The reference's contract under test: deleted-bitmap gating
    * at search time (engine.cc:869-899, gamma_common_data.h:94-105).
    */
  def apiDeleteSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apidel")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(col("vec_id").cast("long").as("_id"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuildHnsw("_id", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      lc.rebuild("embedding", ncentroids = 16)
      lc.deleteByIds("_id", Seq(0L, 1L, 2L, 3L, 4L))
      markReady(dir)
    }
    spacePath
  }

  /** String-PK fixture — the reference's PRIMARY id model (auto-generated
    * string UUIDs, client.go:1197-1221): `_id = "doc-" || vec_id` with the
    * dense `_docid` sidecar ([[graft.api.Ingest.assignDocids]]; here the
    * known vec_id, so oracles can re-derive the mapping), and READY HNSW +
    * IVF + Vamana generations built over `_docid` — string-PK spaces ride
    * the routed index arms instead of falling back to brute FLAT.
    */
  def stringIdSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apistr")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(concat(lit("doc-"), col("vec_id")).as("_id"),
          col("vec_id").cast("long").as("_docid"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuildHnsw("_docid", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      lc.rebuild("embedding", ncentroids = 16)
      lc.rebuildVamana("_docid", "embedding",
        graft.operators.VamanaIndex.Params(r = 32, l = 64, alpha = 1.2,
          metric = "l2", numShards = 4))
      markReady(dir)
    }
    spacePath
  }

  /** Rid-FREE string-PK fixture (r19): string `_id`, NO `_docid` sidecar
    * — the hand-rolled-space shape that bypasses the catalog's docid
    * minting. Scan families serve it directly (their layouts carry the
    * PK); only an IVFFLAT generation is built because graph generations
    * need a long id column this space deliberately lacks.
    */
  def ridFreeSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apinodocid")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(concat(lit("doc-"), col("vec_id")).as("_id"),
          col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuild("embedding", ncentroids = 16)
      markReady(dir)
    }
    spacePath
  }

  /** String-PK realtime fixture: the [[realtimeSpace]] base/tail split
    * (tail = vec_id < 10, including the query vector) with string `_id`s
    * and the `_docid` sidecar carried by BOTH base and tail — the shape a
    * streamed string-PK corpus has after [[graft.api.Ingest.assignDocids]]
    * runs on each batch. READY HNSW + IVF generations over the base's
    * `_docid`.
    */
  def stringIdRealtimeSpace(spark: SparkSession, sfDir: String): (String, String) = {
    val dir = dirFor(sfDir, "apistrrt")
    val spacePath = s"$dir/space"
    val tailPath = s"$dir/tail"
    buildOnce(dir) {
      val all = emb(spark, sfDir)
        .select(concat(lit("doc-"), col("vec_id")).as("_id"),
          col("vec_id").cast("long").as("_docid"), col("label"), col("embedding"))
      all.filter(col("_docid") >= 10).write.mode("overwrite").parquet(spacePath)
      all.filter(col("_docid") < 10).write.mode("overwrite").parquet(tailPath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuildHnsw("_docid", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      lc.rebuild("embedding", ncentroids = 16)
      markReady(dir)
    }
    (spacePath, tailPath)
  }

  /** String-PK delete-visibility fixture: READY HNSW + IVF generations
    * over the FULL corpus, then `doc-0`…`doc-4` deleted through
    * [[graft.api.IndexLifecycle.deleteByPk]] — the ledger records their
    * DOCIDs, so any routed search that gates on the wrong id space (or
    * not at all) returns ghosts (`doc-0` is the query vector itself).
    */
  def stringIdDeleteSpace(spark: SparkSession, sfDir: String): String = {
    val dir = dirFor(sfDir, "apistrdel")
    val spacePath = s"$dir/space"
    buildOnce(dir) {
      emb(spark, sfDir)
        .select(concat(lit("doc-"), col("vec_id")).as("_id"),
          col("vec_id").cast("long").as("_docid"), col("label"), col("embedding"))
        .write.mode("overwrite").parquet(spacePath)
      val lc = new graft.api.IndexLifecycle(spark, spacePath)
      lc.rebuildHnsw("_docid", "embedding",
        HnswIndex.Params(m = 16, efConstruction = 100, metric = "l2", numShards = 4))
      lc.rebuild("embedding", ncentroids = 16)
      lc.deleteByPk("_id", Seq("doc-0", "doc-1", "doc-2", "doc-3", "doc-4"))
      markReady(dir)
    }
    spacePath
  }

  /** Media fixture: the synthesized PNG/WAV/pseudo-video corpus
    * ([[graft.operators.Multimodal.synthesize]] over the embeddings ids)
    * written ONCE per fixture. Media queries then time decode + features
    * + search — round 7's q_media_pipeline re-synthesized and re-encoded
    * PNGs inside the timed query, which is data-generation cost, not
    * operator cost. At 100 TB the corpus arrives as stored bytes; this
    * layout is that shape.
    */
  def media(spark: SparkSession, sfDir: String): DataFrame = {
    // "media3": layout revision (file count floored at cluster width) —
    // distinct cache key
    val dir = dirFor(sfDir, "media3")
    buildOnce(dir) {
      val ids = emb(spark, sfDir).select(col("vec_id"))
      // file count scales with the corpus (~2k payloads per file): decode
      // parallelism comes from the LAYOUT, the way a 100 TB media table
      // gets it from file/row-group splits. One file for everything made
      // the whole decode serial at sf1 (one task, 10.7× at 10× rows —
      // BENCH_SCALING r11); a per-USE repartition was measured slower at
      // sf0.1 (the exchange beats the decode it parallelizes), so the
      // split happens ONCE here at build time. Round 21: floor at the
      // cluster width — below ~2k·cores rows the 2k/file target left the
      // codec work (the REAL per-row CPU here) on a single core; at
      // production scale the rows/file term dominates and the floor is
      // moot.
      val files = math.max(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, ids.count() / 2000L)).toInt
      graft.operators.Multimodal.synthesize(spark, ids, "vec_id")
        .repartition(files)
        .write.mode("overwrite").parquet(s"$dir/table")
      markReady(dir)
    }
    readLayout(spark, s"$dir/table")
  }

  /** Build every layout the declared queries use — called from Bench's
    * untimed warmup so builds never pollute per-query timings.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    // in resident mode, materialize each layout's cache entry here so the
    // first timed query measures the walk/probe, not the one-time load
    def m(df: DataFrame): Unit = if (resident) { df.count(); () }
    m(ivfFlat(spark, sfDir)._1)
    m(neardupIvf(spark, sfDir)._1)
    m(ivfPq(spark, sfDir)._1)
    m(ivfPqResidual(spark, sfDir)._1)
    m(pqFlat(spark, sfDir)._1)
    m(binary(spark, sfDir))
    m(binaryIvf(spark, sfDir)._1)
    m(hnsw(spark, sfDir).toDF())
    m(hnswClustered(spark, sfDir)._1.toDF())
    locally { val (a, b) = hnswMultiField(spark, sfDir); m(a.toDF()); m(b.toDF()) }
    m(vamana(spark, sfDir).toDF())
    vamanaSpace(spark, sfDir)
    vamanaRoutedSpace(spark, sfDir)
    hnswRoutedSpace(spark, sfDir)
    pqSpace(spark, sfDir)
    scannSpace(spark, sfDir)
    rbSpace(spark, sfDir)
    binarySpace(spark, sfDir)
    hnswSpace(spark, sfDir)
    apiDeleteSpace(spark, sfDir)
    realtimeSpace(spark, sfDir)
    realtimeBinarySpace(spark, sfDir)
    realtimeStreamSpace(spark, sfDir)
    stringIdSpace(spark, sfDir)
    stringIdRealtimeSpace(spark, sfDir)
    stringIdDeleteSpace(spark, sfDir)
    locally { val (_, _, a, b) = realtimeMultiField(spark, sfDir)
      m(a.toDF()); m(b.toDF()) }
    multiFieldSpace(spark, sfDir)
    multiFieldRealtimeSpace(spark, sfDir)
    multiFieldMixedSpace(spark, sfDir)
    multiFieldInt8Space(spark, sfDir)
    multiFieldPqSpace(spark, sfDir)
    int8IvfSpace(spark, sfDir)
    int8HnswSpace(spark, sfDir)
    int8VamanaSpace(spark, sfDir)
    int8IvfPqSpace(spark, sfDir)
    int8ScannSpace(spark, sfDir)
    int8RabitqSpace(spark, sfDir)
    m(media(spark, sfDir))
    ()
  }
}
