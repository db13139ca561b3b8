package graft.schema

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IndexStore, SidecarIO}

/** The master's admin surface (SURVEY §2.10: db/space/alias CRUD) mapped to
  * catalog operations: a database is a directory namespace, a space is a
  * parquet table under it (registered as a view `db.space` name), an alias
  * is another view. `partition_num` becomes the write-side bucket count
  * via repartition on hash(_id) — the murmur3-slot layout of the reference
  * (internal/entity/space.go:210-236) expressed as Spark hash partitioning.
  */
object SpaceCatalog {
  /** Cap on the rids [[SpaceCatalog.deleteByQuery]] may collect to the
    * driver for ledger recording. Above it the delete degrades to the
    * reference's mass-delete semantics (rebuild): generations dropped,
    * tail folded, base rewritten — no unbounded collect, no
    * corpus-scale deny set on later searches. ~1M longs ≈ 8 MB.
    */
  @volatile var maxDeleteLedgerIds: Int = 1 << 20

  /** Bucket count of a bucketed table, from its `_graft_buckets` mark
    * (absent = legacy flat layout). The mark is written whole by the
    * catalog's rewrite, so anything but a positive integer is corruption:
    * the writers and the serving path's `_bucket IN` pruning would
    * otherwise disagree on the layout.
    */
  private[graft] def bucketsOf(path: String): Option[Int] = {
    val p = s"$path/_graft_buckets"
    if (!SidecarIO.exists(p)) None
    else {
      val s = SidecarIO.readString(p).trim
      Some(s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalStateException(
        s"corrupt bucket count in $p: '$s'")))
    }
  }
}

final class SpaceCatalog(spark: SparkSession, root: String) {
  import SpaceCatalog.bucketsOf

  private def dir(db: String, space: String) = s"$root/$db/$space"
  private def viewName(db: String, space: String) = s"${db}__$space"
  // alias registry so writes can refresh alias views (the reference
  // resolves aliases per request; a view bound to a point-in-time file
  // listing would go stale after the first table rewrite)
  private val aliases =
    scala.collection.mutable.Map.empty[(String, String), scala.collection.mutable.Set[String]]
  // declared space definitions: per-space engine config (cache_size) is
  // honored when the view is (re)registered
  private val spaces = scala.collection.mutable.Map.empty[(String, String), Space]

  def createDb(db: String): Unit = SidecarIO.mkdirs(s"$root/$db")

  def listDbs(): Seq[String] = SidecarIO.listDirNames(root).sorted

  /** Create a space: persists an empty table with the declared schema and
    * registers the view. Fails if it exists (like the reference's 409).
    */
  def createSpace(db: String, space: Space): Unit = {
    val path = dir(db, space.name)
    require(!SidecarIO.exists(path), s"space ${space.name} already exists")
    // routed-index spaces get the `_docid` long sidecar in the PHYSICAL
    // schema: the reference maps every string `_id` (its PK type) to an
    // int docid at ingest so indexes never see strings
    // (engine.cc:730-745) — with the column present, [[upsert]] mints
    // docids on every batch and `SearchApi.searchAuto` routes the space
    // through its index generations instead of brute FLAT. FLAT-only
    // spaces skip the sidecar (nothing routes).
    val wantsDocid =
      space.vectorFields.exists(_.vector.exists(_.indexType != "FLAT"))
    val schema =
      if (wantsDocid)
        org.apache.spark.sql.types.StructType(space.toStructType.fields :+
          org.apache.spark.sql.types.StructField("_docid",
            org.apache.spark.sql.types.LongType, nullable = true))
      else space.toStructType
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    empty.write.mode(SaveMode.ErrorIfExists).parquet(path)
    spaces((db, space.name)) = space
    refreshView(db, space.name)
  }

  /** Mint `_docid`s for a batch entering a docid-carrying space: updated
    * ids keep the base row's docid, fresh ids mint above the persisted
    * high-water mark (`_graft_docid_hwm` — no per-batch max() scan of
    * the table; a legacy docid table without the mark pays the scan once
    * and gains the mark). The assigned batch is PINNED
    * (localCheckpoint): `monotonically_increasing_id` is not stable
    * across re-evaluation, and the merged write must see the same
    * docids the mark was advanced by. Returns the batch unchanged for
    * spaces without the sidecar. The new mark is written by the CALLER
    * after the table swap succeeds (a crashed upsert must not advance
    * it past data that never landed — re-minting the same range on
    * retry is safe, skipping it would leak a gap AND, worse, a mark
    * past a lost batch stays merely cosmetic: uniqueness only needs
    * monotonicity).
    */
  private def assignDocidsFor(path: String, base: DataFrame,
      lookup: DataFrame, batch: DataFrame): (DataFrame, Option[Long]) =
    if (!base.columns.contains("_docid")) (batch, None)
    else {
      val hwmP = s"$path/_graft_docid_hwm"
      val hwm =
        if (SidecarIO.exists(hwmP)) SidecarIO.readString(hwmP).trim.toLong
        else {
          // legacy table without the mark: pays the full max() scan ONCE
          // (the mark is written right after), so the FULL base, not the
          // pruned lookup, must answer it
          val r = base.agg(max(col("_docid"))).head()
          if (r.isNullAt(0)) 0L else r.getLong(0) + 1L
        }
      val assigned = graft.api.Ingest.assignDocids(batch,
        Some(lookup.select(col("_id"), col("_docid"))), nextDocid = Some(hwm))
        .localCheckpoint(true)
      val mx = assigned.agg(max(col("_docid"))).head()
      val newHwm = if (mx.isNullAt(0)) hwm else math.max(hwm, mx.getLong(0) + 1L)
      (assigned, Some(newHwm))
    }

  private def writeDocidHwm(path: String, hwm: Option[Long]): Unit =
    hwm.foreach(h =>
      SidecarIO.writeString(s"$path/_graft_docid_hwm", h.toString))

  private def withBucket(df: DataFrame, nb: Int): DataFrame =
    df.withColumn("_bucket", pmod(hash(col("_id")), lit(nb)))

  /** Upsert a batch into a space. The table lives as `partitionNum`
    * id-hash buckets (`_bucket=N/` partition dirs — vearch's murmur3 slot
    * routing, internal/entity/space.go:210-236, as a physical layout):
    * only the buckets the batch's ids hash into are read, merged, and
    * swapped; every other bucket's files are untouched bytes. Write
    * amplification is O(|batch| · table/buckets), not O(table) —
    * the property that keeps continuous ingest viable at 100 TB.
    *
    * A legacy flat table (or a `partitionNum` change) takes the one-time
    * full-rewrite migration path.
    */
  def upsert(db: String, spaceName: String, batch: DataFrame, partitionNum: Int = 1): Unit = {
    val path = dir(db, spaceName)
    // recover BEFORE reading the base: merging against a table missing a
    // crashed-aside bucket and then rewriting that bucket would orphan the
    // aside (dst exists → recovery drops it) and lose its rows for good
    recover(path)
    val base = spark.read.parquet(path)
    val bucketed = bucketsOf(path).filter(_ == partitionNum)
    val hasDocid = base.columns.contains("_docid")
    // pin the batch ONCE when both the bucket probe and the docid
    // assignment will evaluate it (a re-evaluated user plan could be
    // expensive AND, if nondeterministic, hash into different buckets)
    val pinned =
      if (hasDocid && bucketed.isDefined) batch.localCheckpoint(true) else batch
    // the batch's touched buckets, computed once and shared by the docid
    // lookup prune and the bucket-pruned merge
    val touched = bucketed.map { nb =>
      withBucket(pinned, nb).select("_bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
    }
    // docid lookup: an existing id's row can only live in a bucket the
    // batch hashes into (layout invariant `_bucket = pmod(hash(_id), nb)`)
    // — prune the lookup side to those partition dirs instead of scanning
    // the whole table's (_id, _docid) per ingest batch
    val lookup = touched match {
      case Some(t) if hasDocid && base.columns.contains("_bucket") =>
        base.filter(col("_bucket").isin(t: _*))
      case _ => base
    }
    val (batch2, newHwm) = assignDocidsFor(path, base, lookup, pinned)
    mergeBatch(path, batch2, partitionNum, touched)
    writeDocidHwm(path, newHwm)
    refreshView(db, spaceName)
  }

  /** The id-keyed merge core shared by [[upsert]] and
    * [[compactRealtime]]: bucket-pruned rewrite when the layout matches
    * `partitionNum`, one-time migration rewrite otherwise. `batch2` must
    * already carry every base column (docids included, when the space
    * has the sidecar).
    */
  private def mergeBatch(path: String, batch2: DataFrame, partitionNum: Int,
      touchedPre: Option[Seq[Int]] = None): Unit = {
    val tmp = s"$path.tmp"
    bucketsOf(path) match {
      case Some(nb) if nb == partitionNum =>
        val base = spark.read.parquet(path)
        val touched = touchedPre.getOrElse(withBucket(batch2, nb)
          .select("_bucket").distinct().collect().map(_.getInt(0)).toSeq)
        val baseTouched = base
          .filter(col("_bucket").isin(touched: _*)) // partition pruning: only touched dirs read
          .drop("_bucket")
        val merged = withBucket(
          graft.operators.Documents.upsert(baseTouched, batch2, "_id"), nb)
        // id-SORTED within each bucket (the reference's RocksDB key
        // order): row-group _id min/max stats become monotone, so the
        // point-read paths' id-IN pushdown skips to ~one row group per
        // id instead of scanning the whole bucket
        merged.repartition(math.max(touched.size, 1), col("_bucket"))
          .sortWithinPartitions(col("_bucket"), col("_id"))
          .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(tmp)
        touched.foreach(b => replaceBucket(path, tmp, b))
        SidecarIO.delete(tmp)
      case _ =>
        val base = readPath(path)
        val merged = withBucket(
          graft.operators.Documents.upsert(base, batch2, "_id"), partitionNum)
        merged.repartition(partitionNum, col("_bucket"))
          .sortWithinPartitions(col("_bucket"), col("_id"))
          .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(tmp)
        SidecarIO.writeString(s"$tmp/_graft_buckets", partitionNum.toString)
        SidecarIO.swapIn(path, tmp)
    }
  }

  /** Fold an `enable_realtime` space's tail into the BUCKETED base — the
    * catalog-aware compaction. `RealtimeTail.compact`'s whole-directory
    * swap would flatten the id-hash bucket layout and drop the bucket
    * meta; here the deduped, delete-gated tail rows merge through the
    * same bucket-pruned path as [[upsert]], with their stream-minted
    * docids PRESERVED (re-minting would orphan nothing — generations
    * only ever reference base docids — but would burn mark range and
    * churn the id space for no reason). Churn is recorded to the
    * lifecycle's mutation ledger (drift-triggered rebuilds must see
    * folded updates), the tail cleared only after the merge lands.
    * Call between ingest runs, like the reference's Indexing loop.
    */
  def compactRealtime(db: String, spaceName: String,
      lifecycle: Option[graft.api.IndexLifecycle] = None,
      orderCol: Option[String] = None): Unit = {
    val path = dir(db, spaceName)
    val rt = realtimeTail(db, spaceName, orderCol)
    if (!rt.hasTail) return
    recover(path)
    val schema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(path).schema.filterNot(_.name == "_bucket"))
    val deny = lifecycle.map(_.allDeletes()).getOrElse(Set.empty[Long])
    val rows = rt.buffered(schema, deny).localCheckpoint(true)
    lifecycle.foreach(_.recordMutations(
      rows.select(col("_id")).distinct().count()))
    mergeBatch(path, rows, bucketsOf(path).getOrElse(1))
    rt.clearTail()
    refreshView(db, spaceName)
  }

  def deleteByQuery(db: String, spaceName: String, pred: org.apache.spark.sql.Column,
      lifecycle: Option[graft.api.IndexLifecycle] = None): Unit = {
    val path = dir(db, spaceName)
    val tmp = s"$path.tmp"
    recover(path) // same argument as in upsert
    // ledger BEFORE the rewrite (the reference's bitmap-delete contract):
    // READY index generations physically contain the matching docs and
    // must stop serving them immediately — record their routing ids so
    // every routed gate (walk allow-functor, scan anti-filter, tail
    // deny) sees them. Ids are collected over the LIVE view when a
    // realtime tail exists: a buffered row matching the predicate never
    // reaches the base rewrite, only the ledger can keep it out of
    // serving and out of the next compaction fold.
    lifecycle.foreach { lc =>
      val base = readPath(path)
      val ridCol: Option[String] =
        if (base.columns.contains("_docid")) Some("_docid")
        else base.schema.fields.find(_.name == "_id")
          .filter(f => f.dataType == org.apache.spark.sql.types.LongType ||
            f.dataType == org.apache.spark.sql.types.IntegerType).map(_.name)
      ridCol.foreach { rc =>
        val rt = realtimeTail(db, spaceName)
        val view = if (rt.hasTail) rt.snapshot(base.schema) else base
        // ONE bounded action probes breadth AND collects the ids — the
        // allow-set pattern (SearchApi.maxFilterAllowIds): a broad
        // purge on a 100× corpus must never collect its rids driver-side
        val probed = view.filter(pred).select(col(rc).cast("long"))
          .distinct().take(SpaceCatalog.maxDeleteLedgerIds + 1)
        if (probed.length > SpaceCatalog.maxDeleteLedgerIds) {
          // mass delete: a ledger of that size would OOM the driver and
          // tax every later search with a corpus-scale deny set. The
          // reference's mass delete is a rebuild (engine.cc:1013-1083):
          // fold the tail into the base FIRST (the rewrite below then
          // covers buffered matches too), then drop every generation —
          // serving falls back to exact FLAT over the rewritten base,
          // ghost-free with an empty ledger delta, until the next build.
          if (rt.hasTail) compactRealtime(db, spaceName, Some(lc))
          lc.dropAllGenerations()
        } else lc.recordDeletes(probed.map(_.getLong(0)).toSeq)
      }
    }
    bucketsOf(path) match {
      case Some(nb) =>
        // only buckets that contain matching rows are rewritten
        val base = spark.read.parquet(path)
        val touched = base.filter(pred)
          .select("_bucket").distinct().collect().map(_.getInt(0)).toSeq
        if (touched.nonEmpty) {
          val remaining = graft.operators.Documents.deleteByQuery(
            base.filter(col("_bucket").isin(touched: _*)).drop("_bucket"), pred)
          withBucket(remaining, nb)
            .repartition(math.max(touched.size, 1), col("_bucket"))
            .sortWithinPartitions(col("_bucket"), col("_id"))
            .write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(tmp)
          touched.foreach(b => replaceBucket(path, tmp, b))
          SidecarIO.delete(tmp)
          // a delete that emptied every bucket must leave a readable
          // (schema-carrying) table behind, not a bare meta file: one
          // empty bucket goes back in place, so the dir keeps its layout
          // and its marks (the docid high-water mark must stay above the
          // ledger's deleted docids, and the bucket count keeps the next
          // upsert bucket-pruned)
          val anyBucketLeft =
            SidecarIO.listNames(path).exists(_.startsWith("_bucket="))
          if (!anyBucketLeft) {
            base.drop("_bucket").limit(0)
              .write.mode(SaveMode.Overwrite).parquet(s"$tmp/_bucket=0")
            replaceBucket(path, tmp, 0)
            SidecarIO.delete(tmp)
          }
        }
      case None =>
        val remaining =
          graft.operators.Documents.deleteByQuery(spark.read.parquet(path), pred)
        remaining.write.mode(SaveMode.Overwrite).parquet(tmp)
        SidecarIO.swapIn(path, tmp)
    }
    refreshView(db, spaceName)
  }

  /** Delete-by-PK for a catalog space — [[deleteByQuery]] over an id
    * list: bucket-pruned rewrite (only the buckets the ids hash into are
    * touched) + ledger recording via `lifecycle`, unlike the
    * space-path-level `IndexLifecycle.deleteByPk` whose whole-directory
    * swap would flatten a bucketed layout.
    */
  def deleteByIds(db: String, spaceName: String, ids: Seq[String],
      lifecycle: Option[graft.api.IndexLifecycle] = None): Unit =
    if (ids.nonEmpty)
      deleteByQuery(db, spaceName, col("_id").isin(ids: _*), lifecycle)

  /** Read a space — the physical `_bucket` routing column stays internal. */
  def read(db: String, spaceName: String): DataFrame = readPath(dir(db, spaceName))

  /** The realtime buffer of an `enable_realtime` space at its
    * conventional paths (`<space>.tail` / `<space>.ckpt`) — the ingest
    * side of [[search]]'s buffer union. `orderCol` resolves same-id
    * redelivery within the tail (pass one whenever the stream can
    * re-deliver an id).
    */
  def realtimeTail(db: String, spaceName: String,
      orderCol: Option[String] = None): graft.streaming.RealtimeTail = {
    val path = dir(db, spaceName)
    tailOf(path, spark.read.parquet(path).columns, orderCol)
  }

  /** [[realtimeTail]] for a space whose table is already open: `columns`
    * come from that frame, so the serving paths pay no second schema
    * read per request.
    */
  private def tailOf(path: String, columns: Seq[String],
      orderCol: Option[String] = None): graft.streaming.RealtimeTail = {
    // docid-carrying spaces merge and delete-gate on the sidecar (the
    // string `_id` can't ride the long index bridges)
    val rid = if (columns.contains("_docid")) Some("_docid") else None
    new graft.streaming.RealtimeTail(spark, path, s"$path.tail",
      s"$path.ckpt", "_id", orderCol, ridCol = rid)
  }

  /** Streaming ingest into an `enable_realtime` space's tail at its
    * conventional paths. For a docid-carrying space each micro-batch
    * mints `_docid`s exactly like [[upsert]] — an updated id keeps its
    * docid (looked up against base ∪ the already-buffered tail, so a
    * doc inserted in one micro-batch and updated in the next keeps one
    * docid), fresh ids mint above the persisted mark — via
    * `foreachBatch`: the plain parquet sink cannot run the per-batch
    * lookup join, and docids must exist BEFORE rows land or the tail
    * merge would bridge nulls. Spaces without the sidecar take the
    * plain [[graft.streaming.RealtimeTail.startIngest]] sink.
    */
  def startRealtimeIngest(db: String, spaceName: String, source: DataFrame,
      intervalMs: Long = 1000L): org.apache.spark.sql.streaming.StreamingQuery = {
    val path = dir(db, spaceName)
    val tailPath = s"$path.tail"
    if (!spark.read.parquet(path).columns.contains("_docid"))
      realtimeTail(db, spaceName).startIngest(source, intervalMs)
    else
      source.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val base0 = spark.read.parquet(path)
          // same bucket-prune as [[upsert]]'s lookup: a micro-batch's
          // existing ids can only live in the buckets it hashes into —
          // without it every micro-batch scans the whole table's two
          // columns
          val basePruned = bucketsOf(path) match {
            case Some(nb) if base0.columns.contains("_bucket") =>
              val t = withBucket(batch, nb).select("_bucket").distinct()
                .collect().map(_.getInt(0)).toSeq
              base0.filter(col("_bucket").isin(t: _*))
            case _ => base0
          }
          val base = basePruned.select(col("_id"), col("_docid"))
          val lookup =
            if (SidecarIO.exists(tailPath))
              base.unionByName(spark.read.parquet(tailPath)
                  .select(col("_id"), col("_docid")))
                .groupBy(col("_id")).agg(min(col("_docid")).as("_docid"))
            else base
          val (assigned, newHwm) = assignDocidsFor(path, base0, lookup, batch)
          assigned.write.mode(SaveMode.Append).parquet(tailPath)
          writeDocidHwm(path, newHwm)
          ()
        }
        .option("checkpointLocation", s"$path.ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
        .start()
  }

  /** Space-declaration-driven search — the router's `/document/search`
    * against a CATALOG space: wires the space table, its lifecycle
    * generations, and (for `enable_realtime` declarations, space.go:151)
    * the conventional realtime tail into
    * [[graft.api.SearchApi.searchAuto]], so one call honors the FULL
    * declaration — index type + params pick the READY generation, the
    * realtime flag decides whether the streaming buffer unions in — with
    * no manual glue.
    */
  def search(db: String, spaceName: String, space: Space,
      requestJson: String): DataFrame = {
    val path = dir(db, spaceName)
    val lc = new graft.api.IndexLifecycle(spark, path)
    val corpus = openServing(path)
    val tail =
      if (space.config.enableRealtime) Some(tailOf(path, corpus.columns))
      else None
    graft.api.SearchApi.searchAuto(corpus, space, requestJson, lc, tail)
  }

  /** Declaration-driven `/document/query` (point lookups / filtered
    * scans): for `enable_realtime` spaces the request answers over the
    * LIVE view — a freshly buffered doc is fetchable by id before the
    * compaction folds it, and the delete ledger keeps a
    * deleted-while-buffered id out, same visibility contract as
    * [[search]].
    */
  def query(db: String, spaceName: String, space: Space,
      requestJson: String): DataFrame = {
    val path = dir(db, spaceName)
    val lc = new graft.api.IndexLifecycle(spark, path)
    // hand the bucket-carrying frame through (the `_bucket` column stays
    // internal to SearchApi.query) so document_ids point reads can
    // partition-prune; a realtime space's live snapshot is unbucketed —
    // there the id-IN pushdown still reaches the base scan through the
    // snapshot union
    val corpus = openServing(path)
    val live =
      if (space.config.enableRealtime) {
        val rt = tailOf(path, corpus.columns)
        if (rt.hasTail) {
          val dropped =
            if (corpus.columns.contains("_bucket")) corpus.drop("_bucket")
            else corpus
          rt.snapshot(dropped.schema, lc.allDeletes())
        } else corpus
      } else corpus
    graft.api.SearchApi.query(live, space, requestJson, Some(lc))
  }

  /** A fresh read of the healed table without the physical `_bucket`
    * column — what writers, views and [[read]] see.
    */
  private def readPath(path: String): DataFrame = {
    // readers only touch aside dirs old enough that no LIVE swap can own
    // them — a reader acting on an in-flight writer's aside would
    // resurrect just-deleted rows or make the writer's move-in collide
    recover(path, minAgeMs = ReadRecoveryGraceMs)
    val df = spark.read.parquet(path)
    if (df.columns.contains("_bucket")) df.drop("_bucket") else df
  }

  /** The serving open of [[search]] and [[query]]: the healed table WITH
    * its physical `_bucket` partition column, so payload fetches can
    * partition-prune on the id-hash layout (`searchAuto` keeps the column
    * internal, never projected into results). It goes through the
    * leaf-signature open cache ([[IndexStore.openTable]]): a warm request
    * pays one directory walk, not a file listing plus a schema-inference
    * job, and any rewrite of a data file reopens the table.
    */
  private def openServing(path: String): DataFrame = {
    recover(path, minAgeMs = ReadRecoveryGraceMs)
    IndexStore.openTable(spark, path)
  }

  /** A live replaceBucket/swapIn completes its swap in well under this;
    * an aside older than it can only be a crash leftover.
    */
  private val ReadRecoveryGraceMs = 60000L

  /** Crash recovery on open: a crash inside [[SidecarIO.swapIn]] can leave the whole
    * table under `path.old` with `path` gone; a crash inside
    * [[replaceBucket]] (between move-aside and move-in) leaves a bucket's
    * rows under `path.oldbucket.N` with no `_bucket=N` dir — data that
    * would otherwise silently vanish from every read. Restore aside dirs
    * whose destination is absent; drop aside dirs whose swap completed.
    *
    * `minAgeMs` guards READERS against racing a live writer's swap (the
    * catalog's write contract is single-writer — the reference serializes
    * writes through one raft leader — but reads are concurrent): only
    * asides older than the grace window are touched. Write paths pass 0 —
    * when a writer starts, no other swap can be in flight.
    */
  private def recover(path: String, minAgeMs: Long = 0L): Unit = {
    val now = System.currentTimeMillis()
    def oldEnough(f: String): Boolean =
      SidecarIO.modifiedAt(f).exists(t => now - t >= minAgeMs)
    val old = s"$path.old"
    if (!SidecarIO.exists(path) && SidecarIO.exists(old) && oldEnough(old)) {
      try SidecarIO.rename(old, path)
      catch { case _: java.io.IOException => () } // another recoverer won
    }
    val hp = new org.apache.hadoop.fs.Path(path)
    val parent = hp.getParent
    val base = hp.getName
    if (parent != null && SidecarIO.exists(parent.toString)) {
      val asides = SidecarIO.listNames(parent.toString)
        .filter(_.startsWith(s"$base.oldbucket."))
        .map(n => s"$parent/$n")
      asides.filter(oldEnough).foreach { aside =>
        val b = aside.substring(aside.lastIndexOf(".oldbucket.") + ".oldbucket.".length)
        val dst = s"$path/_bucket=$b"
        // concurrent readers may race the same aside: losing the move /
        // delete to another recoverer is success, not failure
        try {
          if (SidecarIO.exists(dst)) SidecarIO.delete(aside) // swap completed; aside is leftover
          else SidecarIO.rename(aside, dst) // crash mid-swap: restore the bucket's rows
        } catch { case _: java.io.IOException => () }
      }
    }
  }

  def dropSpace(db: String, spaceName: String): Unit = {
    SidecarIO.delete(dir(db, spaceName))
    cachedViews.remove((db, spaceName)).foreach(_.unpersist())
    spaces.remove((db, spaceName))
    // aliases die with the space — a stale entry would keep serving the
    // deleted directory AND silently rebind to a future same-name space
    aliases.remove((db, spaceName)).foreach(_.foreach { a =>
      spark.catalog.dropTempView(a); ()
    })
    spark.catalog.dropTempView(viewName(db, spaceName))
    ()
  }

  /** Alias CRUD (internal/entity/alias.go; resolved per request at
    * doc_service.go:131-136) — a view over the target space, re-registered
    * on every table rewrite so it never serves deleted files.
    */
  def createAlias(alias: String, db: String, spaceName: String): Unit = {
    readPath(dir(db, spaceName)).createOrReplaceTempView(alias)
    aliases.getOrElseUpdate((db, spaceName),
      scala.collection.mutable.Set.empty) += alias
    ()
  }

  def dropAlias(alias: String): Unit = {
    spark.catalog.dropTempView(alias)
    aliases.values.foreach(_ -= alias)
    ()
  }

  /** Space "stats" (GetDocsNum, engine.cc:1138). */
  def docCount(db: String, spaceName: String): Long = read(db, spaceName).count()

  /** Backup to ANY Hadoop-FS URI — `file://`, `hdfs://`, `s3a://`… (the
    * reference target is an S3-compatible object store,
    * internal/ps/backup/). A byte-faithful directory copy, not a
    * re-written parquet export: the bucketed `_bucket=N` layout and the
    * `_graft_buckets` meta travel with the backup, so restore is a copy
    * too — no shuffle, no re-bucketing, and the restored space keeps its
    * O(|batch|·table/buckets) upsert property.
    */
  def backup(db: String, spaceName: String, targetUri: String): Unit = {
    val path = dir(db, spaceName)
    recover(path) // snapshot the healed table, never a mid-swap aside state
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(path)
    val dst = new org.apache.hadoop.fs.Path(targetUri)
    val dstFs = dst.getFileSystem(conf)
    require(!dstFs.exists(dst), s"backup target $targetUri already exists")
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      src.getFileSystem(conf), src, dstFs, dst,
      /* deleteSource = */ false, /* overwrite = */ false, conf)
    require(ok, s"backup copy to $targetUri failed")
    ()
  }

  /** Restore a space from a backup URI written by [[backup]] (any
    * Hadoop-FS scheme). Fails if the space already exists.
    */
  def restore(db: String, spaceName: String, sourceUri: String): Unit = {
    val path = dir(db, spaceName)
    require(!SidecarIO.exists(path), s"space $spaceName already exists")
    val conf = spark.sessionState.newHadoopConf()
    val src = new org.apache.hadoop.fs.Path(sourceUri)
    val srcFs = src.getFileSystem(conf)
    require(srcFs.exists(src), s"backup source $sourceUri does not exist")
    val dst = new org.apache.hadoop.fs.Path(path)
    Option(dst.getParent).foreach(p => SidecarIO.mkdirs(p.toString))
    val ok = org.apache.hadoop.fs.FileUtil.copy(
      srcFs, src, dst.getFileSystem(conf), dst,
      /* deleteSource = */ false, /* overwrite = */ false, conf)
    require(ok, s"restore copy from $sourceUri failed")
    refreshView(db, spaceName)
  }

  // live cached view per space, so a refresh can unpersist its predecessor
  // (otherwise every upsert of a cache_size>0 space leaks one orphaned
  // InMemoryRelation over deleted files)
  private val cachedViews =
    scala.collection.mutable.Map.empty[(String, String), DataFrame]

  private def refreshView(db: String, spaceName: String): Unit = {
    val df0 = readPath(dir(db, spaceName))
    // cache_size > 0 (space.go:156-164): pin the space's view in executor
    // cache — every query through the view shares the cached plan
    val df = if (spaces.get((db, spaceName)).exists(_.config.cacheSizeMb > 0)) {
      cachedViews.remove((db, spaceName)).foreach(_.unpersist())
      val c = df0.cache()
      cachedViews((db, spaceName)) = c
      c
    } else df0
    df.createOrReplaceTempView(viewName(db, spaceName))
    aliases.getOrElse((db, spaceName), Set.empty)
      .foreach(a => df.createOrReplaceTempView(a))
  }

  /** Per-bucket move-aside swap (same crash-safety argument as [[SidecarIO.swapIn]],
    * scoped to one bucket dir). The aside dir lives OUTSIDE the table path
    * so a crash never leaves a non-partition dir inside it (which would
    * break parquet partition discovery).
    */
  private def replaceBucket(path: String, tmp: String, b: Int): Unit = {
    val dst = s"$path/_bucket=$b"
    val src = s"$tmp/_bucket=$b"
    val old = s"$path.oldbucket.$b"
    SidecarIO.delete(old)
    if (SidecarIO.exists(dst)) SidecarIO.rename(dst, old)
    if (SidecarIO.exists(src)) SidecarIO.rename(src, dst)
    SidecarIO.delete(old)
  }

}
