package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The vearch realtime-search capability (SURVEY §2.8: `enable_realtime` —
  * freshly ingested vectors live in a FLAT-scanned memory buffer, searches
  * scan main index ∪ buffer, a background loop folds the buffer into the
  * index every `refresh_interval` ms, vector_manager.cc:941-1176,
  * engine.cc:1084-1137) re-expressed with Structured Streaming:
  *
  *   ingest:  readStream → writeStream(parquet) into a TAIL table
  *   query:   indexed BASE table ∪ brute-forced TAIL (dedup by id,
  *            tail wins — matches buffer-over-index merge order)
  *   compact: fold tail into base + clear tail (= their Indexing loop);
  *            trigger cadence = refresh_interval.
  *
  * The tail stays small (one refresh interval of ingest), so its
  * brute-force scan cost is bounded regardless of base size.
  */
object RealtimeTail {
  /** (tailPath, routing column) → (directory signature, distinct routing
    * ids). See the note at the use site — shared across instances because
    * handlers construct one RealtimeTail per request.
    */
  private val tailIdsCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (String, Array[Long])]
}

final class RealtimeTail(
    spark: SparkSession,
    val basePath: String,
    val tailPath: String,
    checkpointPath: String,
    idCol: String,
    // column that orders writes to the same id (event time / sequence);
    // without it, id collisions WITHIN the tail resolve arbitrarily — pass
    // one whenever the stream can re-deliver an id
    orderCol: Option[String] = None,
    // the ROUTING id column: the long column index hits and delete-ledger
    // entries reference. Defaults to `idCol` (integral-PK spaces); a
    // string-PK space passes its `_docid` sidecar (the reference maps
    // every string _id to an int docid at ingest so indexes never see
    // strings, engine.cc:730-745) — dedup/upsert stay PK-keyed on
    // `idCol`, merges and delete gates key on this column
    ridCol: Option[String] = None) {

  private def rid: String = ridCol.getOrElse(idCol)

  /** The routing id column merges and delete gates key on (see `ridCol`). */
  private[graft] def routingCol: String = rid

  /** Start ingest at the space's configured `refresh_interval`
    * (space.go:156-164 — the reference's buffer-fold cadence).
    */
  def startIngest(source: DataFrame, space: graft.schema.Space): StreamingQuery =
    startIngest(source, space.config.refreshIntervalMs)

  /** Start streaming ingest into the tail table. */
  def startIngest(source: DataFrame, intervalMs: Long = 1000L): StreamingQuery =
    source.writeStream
      .format("parquet")
      .option("path", tailPath)
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** Whether a tail table exists (fresh writes not yet folded into the
    * base). Serving paths use this to decide between the plain indexed
    * route and the base ∪ tail merge.
    */
  def hasTail: Boolean = {
    val p = new org.apache.hadoop.fs.Path(tailPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Cap above which the per-snapshot tail-id collect is skipped and the
    * merge falls back to the distributed count + anti-join. One refresh
    * interval of ingest stays far below this in any sane configuration;
    * the cap only guards a misconfigured never-compacting tail.
    * ~4M longs ≈ 32 MB driver-side.
    */
  @volatile var maxTailIdCollect: Int = 1 << 22

  // (signature → distinct routing ids of the tail): the tail only
  // changes at trigger boundaries, so every query between folds reuses
  // one collect instead of running a count job + a distributed
  // anti-join build per search (the fixed per-query latency tax on the
  // realtime serving path). The signature is the tail directory's
  // (name, length, mtime) listing — exactly what a new micro-batch or a
  // compaction changes. The cache lives on the companion object keyed by
  // tail PATH (round 21): serving handlers construct a fresh
  // RealtimeTail per request, so an instance field never survived to the
  // next query and every search re-paid the collect; the signature check
  // still invalidates on any tail write/fold, and parquet part files
  // carry per-write UUID names so a content change always changes the
  // signature.

  private def tailSignature(): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(tailPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(","))
  }

  /** The tail's distinct routing ids (PRE-deny — per-query deny sets
    * subtract driver-side), collected once per tail snapshot. None when
    * the tail exceeds [[maxTailIdCollect]] (caller falls back to the
    * distributed path).
    */
  private def tailRidArray(tail: DataFrame): Option[Array[Long]] =
    tailSignature() match {
      case None => Some(Array.empty[Long])
      case Some(sig) =>
        RealtimeTail.tailIdsCache.get((tailPath, rid)) match {
          case Some((s, ids)) if s == sig => Some(ids)
          case _ =>
            val rows = tail.select(col(rid).cast("long")).distinct()
              .limit(maxTailIdCollect + 1).collect()
            if (rows.length > maxTailIdCollect) None
            else {
              val ids = rows.map(_.getLong(0))
              RealtimeTail.tailIdsCache.put((tailPath, rid), (sig, ids))
              Some(ids)
            }
        }
    }

  private def readOrEmpty(path: String, schema: StructType): DataFrame = {
    // only a MISSING path means "no data yet"; any other failure (corrupt
    // footer, permission, schema clash) must propagate — swallowing it
    // would silently turn a hybrid search into a tail-only search. The
    // existence check goes through the Hadoop FS for the path's scheme
    // (java.nio would report hdfs:// or s3a:// paths as always-missing).
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // project exactly the requested fields: partition DISCOVERY appends
    // physical routing columns (a bucketed catalog table's `_bucket=N`
    // dirs) on top of the user schema, and a base∪tail union would then
    // fail on the tail's missing column
    else spark.read.schema(schema).parquet(path)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Unified view: base rows not superseded by tail, plus all tail rows
    * (id-level last-write-wins, the upsert merge semantics).
    */
  def snapshot(schema: StructType): DataFrame = snapshot(schema, Set.empty)

  /** Delete-aware unified view: `deny` (the space's delete ledger,
    * [[graft.api.IndexLifecycle.allDeletes]]) gates the TAIL leg before
    * the upsert — a delete beats an earlier buffered write of the same
    * id, so the id never resurfaces through a fallback (FLAT / filtered
    * / multi-vector) search even while its row still sits in the
    * buffer. The base leg needs no gate: the space-level delete already
    * rewrote the base table. Mirrors the reference's deleted-bitmap
    * check, which covers the memory buffer too (engine.cc:869-899).
    */
  def snapshot(schema: StructType, deny: Set[Long]): DataFrame =
    graft.operators.Documents.upsert(
      readOrEmpty(basePath, schema), buffered(schema, deny), idCol)

  /** The buffered rows alone — deduped (id-level last write wins) and
    * delete-gated: what a compaction folds into the base, and the tail
    * leg every merge scores.
    */
  def buffered(schema: StructType, deny: Set[Long] = Set.empty): DataFrame =
    buffered(readOrEmpty(tailPath, schema), deny)

  private def buffered(tail: DataFrame, deny: Set[Long]): DataFrame = {
    val dedupedTail = orderCol match {
      case Some(oc) => graft.operators.Documents.lastWinsById(tail, idCol, oc)
      case None     => tail.dropDuplicates(idCol) // arbitrary winner — see ctor note
    }
    graft.operators.Documents.dropIds(dedupedTail, col(rid).cast("long"), deny)
  }

  /** Remove the tail table (call AFTER its rows are folded into the
    * base — e.g. by a catalog-level bucketed merge). Idempotent.
    */
  def clearTail(): Unit = {
    val p = new org.apache.hadoop.fs.Path(tailPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }

  /** The generic realtime merge every index family serves through — the
    * reference's buffer-over-index union (vector_manager.cc:941-1012,
    * 1096-1176 merges the memory buffer into EVERY index type's search,
    * not just the graph): the indexed BASE leg ∪ the brute-forced TAIL,
    * tail winning id collisions. Fresh writes are never missed (the tail
    * is scanned exactly) and an UPDATED doc's stale base ranking never
    * survives — base hits whose id exists in the tail are dropped BEFORE
    * the merge (dropping after would let a stale high-ranking version
    * crowd out a legitimate k-th result). The tail is one refresh
    * interval of ingest, so the brute leg stays bounded regardless of
    * base size. Requires an integral id (index hit ids are longs).
    *
    * `tailSearch` scores the deduped, delete-gated tail and
    * `baseSearch(kBase)` runs the family's index search at the
    * over-fetched depth, both returning `(_qid, vec_id: long, _score)`
    * rows for each of the request's `nq` queries. Up to |tail| of the
    * base's top hits may be superseded and dropped, and the base's
    * next-ranked docs then belong in the merged top-k, so the base leg
    * over-fetches by the (bounded) tail size and survivors always
    * suffice. A tail row supersedes its base id for EVERY query (the
    * id-level last-write-wins is query-independent), so the anti-join
    * gates on `vec_id` alone; [[graft.operators.Knn.topKPerQuery]] is the
    * final merge. `SearchApi.searchAuto`'s legs are its one caller.
    */
  private[graft] def mergeTail(schema: StructType, k: Int, metric: String,
      nq: Int, deny: Set[Long] = Set.empty)(
      tailSearch: DataFrame => DataFrame)(
      baseSearch: Int => DataFrame): DataFrame = {
    import graft.operators.{Documents, Knn}
    val tail = readOrEmpty(tailPath, schema)
    val dedupedTail = buffered(tail, deny)
    val tailHits = tailSearch(dedupedTail)
      .select(col("_qid"), col("vec_id").cast("long").as("vec_id"), col("_score"))
    val baseHits = tailRidArray(tail) match {
      case Some(ids0) =>
        // one cached collect serves kBase AND the anti-join — no count
        // job, no distributed anti-join build, per query
        val ids = if (deny.isEmpty) ids0 else ids0.filterNot(deny.contains)
        val kBase = (k + math.min(ids.length.toLong, (Int.MaxValue - k).toLong)).toInt
        Documents.dropIds(baseSearch(kBase), col("vec_id"), ids)
      case None =>
        // over-cap tail: the original distributed path
        val tailIds = dedupedTail.select(col(rid).cast("long").as("vec_id"))
        val kBase = (k + math.min(tailIds.count(), (Int.MaxValue - k).toLong)).toInt
        baseSearch(kBase).join(tailIds, Seq("vec_id"), "left_anti")
    }
    Knn.topKPerQuery(baseHits.unionByName(tailHits), nq, k, Knn.ascending(metric))
  }

  /** Fold the tail into the base (the reference's background Indexing
    * loop, engine.cc:1084-1137) and clear the tail. `assign` is where IVF
    * list_id assignment for the new rows happens (IvfIndex.assign) before
    * the append. Call between ingest runs (stream stopped or paused) —
    * with a transactional table format this becomes a single MERGE +
    * truncate; on plain parquet we swap directories.
    */
  def compact(schema: StructType, assign: DataFrame => DataFrame = identity,
      lifecycle: Option[graft.api.IndexLifecycle] = None): Unit = {
    // churn accounting BEFORE the fold: tail rows merged in place are
    // invisible to a row-count staleness (an UPDATE leaves the base count
    // unchanged while the graph still holds the old vector) — report them
    // to the lifecycle's mutation ledger so drift-triggered rebuilds fire
    // (IndexLifecycle.hnswStaleness's churn term)
    lifecycle.foreach { lc =>
      val folded = readOrEmpty(tailPath, schema).select(idCol).distinct().count()
      lc.recordMutations(folded)
    }
    // deny-gate the fold: a tail row whose id was deleted while buffered
    // must NOT fold back into the base (it would permanently resurrect
    // the deleted doc) — same ledger gate as the serving snapshot
    val deny = lifecycle.map(_.allDeletes()).getOrElse(Set.empty[Long])
    val merged = assign(snapshot(schema, deny))
    val tmp = s"$basePath.compact.tmp"
    merged.write.mode("overwrite").parquet(tmp)
    // move-aside swap (no crash window that loses the base; IO through
    // the FS of basePath's SCHEME), tail cleared only after the new base
    // is in place
    graft.sources.SidecarIO.swapIn(basePath, tmp)
    graft.sources.SidecarIO.delete(tailPath)
  }
}
