package graft.api

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.operators.{BinaryIndex, HnswIndex, IvfIndex, PqIndex, VamanaIndex}
import graft.sources.{IndexStore, SidecarIO}

import IndexLifecycle.Kind
import IndexLifecycle.Kind._

/** Index lifecycle verbs (SURVEY §2.8): rebuild / force-merge / add /
  * remove with the BUILDING→READY/FAILED state machine the reference keeps
  * in RocksDB (scalar_index_manager.h:75-125, engine.cc:1561-1666). Here
  * state is a sidecar JSON next to the index table — atomic because each
  * build writes to a fresh directory and the state file flips last
  * (crash before the flip leaves the previous READY index in place, the
  * same recovery contract as their BUILDING marker).
  *
  * Every layout kind (see [[IndexLifecycle.Kind]]) runs the same
  * protocol over its own state file, so a space can carry a scan (IVF)
  * and a graph (HNSW) layout concurrently; generations are per-index-kind
  * in the reference too (engine.cc:1013-1083). Every build goes through
  * [[withGeneration]], every read through [[state]] / [[ready]].
  *
  * Every sidecar (state files, ledgers, model/baseline files) reads and
  * writes through [[graft.sources.SidecarIO]] — the Hadoop FileSystem
  * API resolved by the space path's scheme, like the table IO around it
  * — so a space rooted on `hdfs://`/`s3a://` keeps the full lifecycle
  * contract, not just its parquet.
  */
final class IndexLifecycle(spark: SparkSession, spacePath: String,
    // per-FIELD generation namespace for multi-vector-field spaces (the
    // reference keeps one index per vector field, vector_manager.cc):
    // state files and layout dirs get a `.{field}` infix so each field's
    // generations flip independently; the delete/mutation LEDGERS stay
    // space-scoped — a document-level delete must gate EVERY field's
    // serving, whichever lifecycle instance recorded it
    fieldScope: Option[String] = None) {

  private def sfx = fieldScope.map("." + _).getOrElse("")

  /** This space's lifecycle for one vector field's generations (shared
    * ledgers, scoped states/layouts — see `fieldScope`).
    */
  def scoped(field: String): IndexLifecycle =
    new IndexLifecycle(spark, spacePath, Some(field))

  /** The space directory this lifecycle manages — the serving path reads
    * space-level sidecars (e.g. the `_graft_buckets` layout mark) from it.
    */
  private[graft] def path: String = spacePath

  private def statePath(kind: Kind) = s"$spacePath$sfx.${kind.infix}_state.json"
  private def layoutPrefix(kind: Kind) = s"$spacePath$sfx.${kind.infix}.g"
  private def layoutPath(kind: Kind, gen: Long) = s"${layoutPrefix(kind)}$gen"

  sealed trait State
  case object Missing extends State
  final case class Building(gen: Long) extends State
  /** `ncentroids` is the kind's layout parameter (the graph kinds store
    * `numShards` in it); `trainedDocs` = corpus size the model was
    * trained on (-1 for sidecars written before the drift metric
    * existed).
    */
  final case class Ready(gen: Long, ncentroids: Int, trainedDocs: Long = -1L)
    extends State
  final case class Failed(gen: Long, reason: String) extends State

  def state(kind: Kind): State = {
    val path = statePath(kind)
    if (!SidecarIO.exists(path)) Missing
    else {
      val s = SidecarIO.readString(path).trim
      // writes are tmp + rename (SidecarIO.writeString), so content that
      // is none of the three states is corruption — serving FLAT or
      // rebuilding over it would hide that
      def corrupt = new IllegalStateException(
        s"unrecognised index state in $path: '$s'")
      val parts = s.split(":", 4)
      try parts(0) match {
        case "BUILDING" => Building(parts(1).toLong)
        case "READY"    => Ready(parts(1).toLong, parts(2).toInt,
          if (parts.length > 3 && parts(3).nonEmpty) parts(3).toLong else -1L)
        // exception messages routinely contain colons — rejoin the tail
        case "FAILED"   => Failed(parts(1).toLong, parts.drop(2).mkString(":"))
        case _          => throw corrupt
      } catch {
        case _: NumberFormatException | _: ArrayIndexOutOfBoundsException =>
          throw corrupt
      }
    }
  }

  /** One READY generation, taken from ONE state-file read: its layout,
    * models and delete gate all derive from `path`, so a READY flip
    * between a request's reads can never pair one generation's layout
    * with another's delete baseline. `param` is the kind's layout
    * parameter (ncentroids, or numShards for the graph kinds).
    * `baseline` is the delete-ledger baseline: an appended graph still
    * carries every node of the generation it grew from, so its gate
    * reaches back to the ORIGINAL build's stamp (the `.ledger_base`
    * sidecar [[appendHnsw]] writes); otherwise it is `gen` itself.
    */
  final case class Generation(gen: Long, path: String, param: Int,
      trainedDocs: Long, baseline: Long) {
    /** Ids that may still be present in this layout but are deleted. */
    def deny: Set[Long] = deletedSince(baseline)
    def table: DataFrame = openLayout(path)
    def ivfModel(metric: String): IvfIndex.Model =
      IndexStore.readIvfModel(s"$path.ivf.txt").copy(metric = metric)
    /** The routing quantizer of a CLUSTERED graph generation — None for
      * hash-sharded generations (full fan-out).
      */
    def routedModel(metric: String): Option[IvfIndex.Model] =
      if (SidecarIO.exists(s"$path.ivf.txt")) Some(ivfModel(metric)) else None
    def pqModel(metric: String): PqIndex.Model =
      IndexStore.readPqModel(s"$path.pq.txt").copy(metric = metric)
    def binaryCentroids: Array[Array[Byte]] =
      IndexStore.readBinaryCentroids(s"$path.cents.txt")
    /** The IVFFLAT kind's coarse quantizer (a parquet sidecar). */
    def centroidModel(metric: String): IvfIndex.Model = {
      val rows = spark.read.parquet(s"$path.centroids").orderBy("list_id").collect()
      IvfIndex.Model(rows.map(_.getSeq[Float](1).toArray), metric)
    }
  }

  /** The READY generation of `kind`, or None while missing/building/failed. */
  def ready(kind: Kind): Option[Generation] = state(kind) match {
    case r: Ready => Some(generation(kind, r)); case _ => None
  }

  private def generation(kind: Kind, r: Ready): Generation = {
    val path = layoutPath(kind, r.gen)
    val base = s"$path.ledger_base"
    Generation(r.gen, path, r.ncentroids, r.trainedDocs,
      if (SidecarIO.exists(base)) SidecarIO.readString(base).trim.toLong else r.gen)
  }

  private def readyForAppend(kind: Kind): Generation = state(kind) match {
    case r: Ready => generation(kind, r)
    case other => throw new IllegalStateException(
      s"no READY ${kind.infix} generation to append to (state: $other)")
  }

  /** The generation protocol every build runs: stamp BUILDING, write the
    * layout under a fresh generation dir (`build` gets its path and
    * returns the layout parameter and trained-doc count), flip READY
    * last, prune the ledgers. Any failure flips FAILED and rethrows; the
    * previous READY generation is served until the flip either way
    * (POST /index/rebuild, engine.cc:1013-1083). After the flip the
    * older generations' open-cache entries are dropped, and with them any
    * rows they kept resident.
    */
  private def withGeneration(kind: Kind)(build: String => (Int, Long)): Ready = {
    val gen = System.currentTimeMillis()
    val sp = statePath(kind)
    SidecarIO.writeString(sp, s"BUILDING:$gen:")
    try {
      val (param, trainedDocs) = build(layoutPath(kind, gen))
      SidecarIO.writeString(sp, s"READY:$gen:$param:$trainedDocs")
      IndexStore.invalidateOpenWhere(p =>
        p.startsWith(layoutPrefix(kind)) && p != layoutPath(kind, gen))
      pruneLedgers()
      Ready(gen, param, trainedDocs)
    } catch {
      case e: Exception =>
        SidecarIO.writeString(sp, s"FAILED:$gen:${e.getMessage}")
        throw e
    }
  }

  private val I8View = "_i8f"

  /** The corpus a build trains on and the column it trains on. An INT8
    * vector field (value_type=INT8, index_model.h:19 — the reference
    * builds every index family over INT8 too) stores BinaryType codes:
    * its builds train on the float view `_i8f` = `view(codes)` and drop
    * it before write (it would duplicate the codes at 4×), so layouts
    * keep the compact codes and serving reranks with the integer
    * kernels. The default view is the RAW code values as floats
    * ([[graft.functions.I8ToFloat]], NOT the b/127 grid): small integers
    * are exact in float, so graph walks' Double-accumulated distances
    * equal the integer kernels bit-for-bit, and the quantizer losses
    * are scale-covariant.
    */
  private def trainingView(vecCol: String,
      view: Column => Column = graft.Graft.F.i8ToFloat): (DataFrame, String) = {
    val corpus = spark.read.parquet(spacePath)
    if (corpus.schema(vecCol).dataType != BinaryType) (corpus, vecCol)
    else (corpus.withColumn(I8View, view(col(vecCol))), I8View)
  }

  // Graph layouts (HNSW/Vamana segment tables) write ONE ROW PER FILE
  // (`maxRecordsPerFile` 1): a segment row carries a whole serialized
  // shard (tens of MB at ~64k nodes), and a parquet row group holding
  // several of them makes the vectorized reader's per-batch column
  // vectors row-group-sized — at 2M vectors that OOMs the executors
  // (measured). One row per file caps a read task's transient memory at
  // one segment, the same bound the walk itself needs.
  private def segmentWriter[T](ds: Dataset[T]): DataFrameWriter[T] =
    ds.write.option("maxRecordsPerFile", 1)

  /** Build (or rebuild) the IVF index: train on the current space
    * contents, write an assigned+partitioned copy under a new generation,
    * flip READY last. An INT8 field trains and assigns in the
    * DE-QUANTIZED float domain (b/127 — order-identical to the int8
    * kernels up to a fixed scale); serving probes with the float query
    * and scores with [[graft.operators.IvfIndex.searchInt8]].
    */
  def rebuild(vecCol: String, ncentroids: Int): Ready = withGeneration(Ivf) { out =>
    val (corpus, c) = trainingView(vecCol, graft.Graft.F.dequantI8)
    val trainedDocs = corpus.count() // recorded for the drift metric
    val model = IvfIndex.train(corpus, c, ncentroids)
    IvfIndex.assign(corpus, c, model).drop(I8View)
      .write.mode("overwrite").partitionBy("list_id").parquet(out)
    // persist centroids alongside for query-time probe selection
    import spark.implicits._
    model.centroids.zipWithIndex.map { case (cen, i) => (i, cen.toSeq) }.toSeq
      .toDF("list_id", "centroid").write.mode("overwrite").parquet(s"$out.centroids")
    (ncentroids, trainedDocs)
  }

  /** Auto-build trigger (engine.cc:759-769,972-1012: the index is built
    * when doc_num reaches `training_threshold`; below it searches stay
    * brute-force over the raw table). Returns true iff a build ran.
    */
  def maybeAutoBuild(vecCol: String, ncentroids: Int,
      trainingThreshold: Long): Boolean = state(Ivf) match {
    case _: Ready | _: Building => false
    case _ =>
      val n = spark.read.parquet(spacePath).count()
      if (n >= trainingThreshold) { rebuild(vecCol, ncentroids); true }
      else false
  }

  /** Build the generation the SPACE DECLARATION asks for — the kind
    * comes from the field's index type ([[IndexLifecycle.kindOf]]) and
    * each builder picks its INT8 training view from the column type, so
    * callers never pick between float and INT8 variants (the
    * reference's Indexing loop builds whatever the space declares,
    * engine.cc:759-769). Parameter defaults follow the reference's space
    * defaults (ncentroids 2048, nsubvector 64, nlinks 32, efConstruction
    * 40, Vamana R 64 / L 100); `numShards` is an engine-level layout
    * choice with no reference analog. Returns None for declarations that
    * serve without a built generation (FLAT / SCALAR). Multi-field spaces
    * build each field under its own [[scoped]] lifecycle.
    */
  def rebuildDeclared(space: graft.schema.Space, field: String,
      idCol: String = "_id", numShards: Int = 8): Option[Ready] = {
    val vo = space.vectorFields.find(_.name == field).flatMap(_.vector)
      .getOrElse(throw new IllegalArgumentException(
        s"no vector field '$field' in space '${space.name}'"))
    val p = vo.indexParams
    def param(n: String, dflt: Int) = p.get(n).filter(_ > 0).getOrElse(dflt)
    val nc = param("ncentroids", 2048)
    IndexLifecycle.kindOf(vo.indexType).map { kind =>
      // binary codes are BinaryType like INT8 codes: only BINARYIVF
      // builds over them, any other family would train on garbage floats
      require(kind == BinaryIvf || vo.valueType != "binary",
        s"no ${vo.indexType} build over binary field '$field'")
      kind match {
        case Ivf => rebuild(field, nc)
        case Hnsw => rebuildHnsw(idCol, field, HnswIndex.Params(
          m = param("nlinks", 32), efConstruction = param("efConstruction", 40),
          metric = vo.metric, numShards = numShards))
        case Vamana => rebuildVamana(idCol, field, VamanaIndex.Params(
          r = param("R", 64), l = param("L", 100), metric = vo.metric,
          numShards = numShards))
        case Pq => rebuildIvfPq(field, nc, param("nsubvector", 64))
        case Scann => rebuildScann(field, nc, param("nsubvector", 64))
        case Rabitq => rebuildIvfRabitq(field, nc)
        case BinaryIvf => rebuildBinaryIvf(field, nc)
      }
    }
  }

  /** [[maybeAutoBuild]] generalized over the declared family: triggers
    * [[rebuildDeclared]] when the corpus reaches `trainingThreshold` and
    * the DECLARED family's generation is missing/failed.
    */
  def maybeAutoBuildDeclared(space: graft.schema.Space, field: String,
      trainingThreshold: Long, idCol: String = "_id",
      numShards: Int = 8): Boolean = {
    val vo = space.vectorFields.find(_.name == field).flatMap(_.vector)
    // no generation to build — return before the corpus count so a
    // periodic auto-build loop over a FLAT space never pays a scan
    IndexLifecycle.kindOf(vo.map(_.indexType).getOrElse("FLAT")).exists { kind =>
      state(kind) match {
        case _: Ready | _: Building => false
        case _ =>
          spark.read.parquet(spacePath).count() >= trainingThreshold &&
            rebuildDeclared(space, field, idCol, numShards).isDefined
      }
    }
  }

  /** Append rows to a READY generation's `list_id` partitions. */
  private def appendLists(g: Generation, rows: DataFrame): Unit = {
    rows.write.mode("append").partitionBy("list_id").parquet(g.path)
    IndexStore.invalidateOpen(g.path) // cached plan pre-dates the new files
  }

  /** Incremental maintenance: assign list_ids for a delta batch with the
    * CURRENT model and append it to the READY generation — the reference's
    * background Indexing loop (engine.cc:1084-1137 folds new vectors into
    * the live index without retraining). Centroids drift is handled by the
    * next rebuild; until then new rows are immediately probe-searchable.
    */
  def appendDelta(delta: DataFrame, vecCol: String): Unit = {
    val g = readyForAppend(Ivf)
    appendLists(g, IvfIndex.assign(delta, vecCol, g.centroidModel("l2")))
  }

  /** Staleness of the READY generation: fraction of indexed docs the
    * model has NOT been trained on — `(indexed - trainedAt) / trainedAt`.
    * 0 right after a rebuild, grows as [[appendDelta]] folds new vectors
    * in under drifting centroids. None when no READY index exists or the
    * sidecar predates the metric.
    */
  def staleness(): Option[Double] = ready(Ivf).filter(_.trainedDocs > 0).map { g =>
    (spark.read.parquet(g.path).count() - g.trainedDocs).toDouble / g.trainedDocs
  }

  /** Drift-triggered retrain — the maintenance twin of the reference's
    * `training_threshold` auto-build loop (engine.cc:759-769,1084-1137):
    * once the delta folded in since the last train exceeds
    * `driftThreshold` (a fraction, e.g. 0.3 = 30% new docs), the index is
    * retrained and rewritten under a fresh generation (BUILDING→READY,
    * old generation served until the flip). Returns true iff a retrain
    * ran. The space table is the training source, so deltas must be
    * upserted there as well as appended to the index — the standard
    * ingest contract.
    */
  def maybeRetrain(vecCol: String, driftThreshold: Double): Boolean =
    state(Ivf) match {
      case Ready(_, ncentroids, _) if staleness().exists(_ >= driftThreshold) =>
        rebuild(vecCol, ncentroids); true
      case _ => false
    }

  // ── delete ledger (the reference's deleted-bitmap: engine.cc:869-899
  //    sets a bit, every index search gates candidates on
  //    IsValid = candidate ∧ ¬deleted, gamma_common_data.h:94-105). Here
  //    the ledger is an append-only sidecar of (ts, id) lines; a routed
  //    search reads the ids recorded SINCE its generation was built and
  //    gates on them — ids deleted before the build are already absent
  //    from the layout. The ledger is pruned at each rebuild, so its size
  //    is bounded by the deletes of one rebuild interval, never the
  //    corpus. ──────────────────────────────────────────────────────────

  private def deleteLedgerPath = s"$spacePath.delete_ledger"

  /** Record ids as deleted (call alongside the space-table delete). */
  def recordDeletes(ids: Seq[Long]): Unit = synchronized {
    if (ids.nonEmpty) {
      val ts = System.currentTimeMillis()
      val lines = ids.map(id => s"$ts $id").mkString("", "\n", "\n")
      SidecarIO.appendString(deleteLedgerPath, lines)
      recordMutations(ids.size.toLong)
    }
  }

  /** Ids deleted at-or-after `gen` (a generation's build-start stamp):
    * exactly the ids that may still be present in that generation's
    * layout. Conservative at the build-race margin — a delete recorded
    * during the build is gated even if the build already excluded it
    * (gating an absent id is a no-op).
    */
  def deletedSince(gen: Long): Set[Long] = {
    if (!SidecarIO.exists(deleteLedgerPath)) Set.empty
    else {
      val b = Set.newBuilder[Long]
      SidecarIO.readLines(deleteLedgerPath).foreach { line =>
        val t = line.trim
        if (t.nonEmpty) {
          val sp = t.indexOf(' ')
          if (sp > 0 && t.substring(0, sp).toLong >= gen)
            b += t.substring(sp + 1).toLong
        }
      }
      b.result()
    }
  }

  /** EVERY id currently in the delete ledger — the gate for serving
    * surfaces with no generation baseline (the FLAT fallback's live
    * view, the compaction fold): a delete must beat an EARLIER buffered
    * upsert of the same id whatever the query shape, mirroring the
    * reference's deleted-bitmap check that covers the memory buffer too
    * (engine.cc:869-899). Bounded like every ledger read — pruning at
    * READY flips keeps the file at one rebuild interval of deletes.
    * Margin (shared with the routed arms' `deletedSince` gates): a
    * ledger entry carries no ordering against tail writes, so an id
    * re-inserted AFTER its delete within the same interval stays gated
    * until the next fold.
    */
  def allDeletes(): Set[Long] = deletedSince(0L)

  /** BUILDING markers older than this age out as FAILED during
    * [[pruneLedgers]]: a crashed build never flips its marker, and a
    * forever-deferred prune lets both ledgers grow unbounded (re-read
    * in full on every gate/staleness check). Margin: a LIVE build that
    * genuinely outlasts the deadline gets its marker flipped underneath
    * it — it still finishes and flips READY (overwriting FAILED), but
    * ledger entries its append baseline needed may have been pruned in
    * the window. Raise the deadline when builds can legitimately run
    * longer than an hour.
    */
  @volatile var buildingStaleMs: Long = 3600000L

  /** Drop delete- AND mutation-ledger entries older than every live
    * generation — called after a rebuild flips READY (the new layout no
    * longer contains them; the churn they recorded no longer exerts
    * rebuild pressure). Entries newer than the OTHER kinds' generations
    * survive: the ledgers are shared across all layout kinds, so pruning
    * keeps everything at-or-after the OLDEST live generation's delete
    * baseline (an appended graph's reaches back to its original build).
    *
    * If ANY kind is mid-BUILDING the prune defers entirely: an in-flight
    * generation's gate baseline is not derivable from its BUILDING stamp
    * (an appended graph's reaches back to the generation it grew from,
    * whose stamp the BUILDING marker has already replaced), so pruning
    * under it could drop entries that generation needs once it flips
    * READY — ghost results until the next delete. Every build ends in a
    * READY/FAILED flip whose own prune call runs then, so deferral is
    * bounded by one build.
    */
  private def pruneLedgers(): Unit = synchronized {
    // age out stale BUILDING markers first (crash leftovers), so one
    // dead build can't defer pruning forever
    val now = System.currentTimeMillis()
    IndexLifecycle.kinds.foreach { k =>
      state(k) match {
        case Building(g) if now - g >= buildingStaleMs =>
          SidecarIO.writeString(statePath(k), s"FAILED:$g:stale BUILDING " +
            s"marker aged out after ${now - g} ms (crashed build?)")
        case _ => ()
      }
    }
    val states = IndexLifecycle.kinds.map(k => (k, state(k)))
    if (!states.exists(_._2.isInstanceOf[Building])) {
      val oldest = states.collect { case (k, r: Ready) => generation(k, r).baseline }
        .minOption.getOrElse(Long.MaxValue)
      pruneLedgerFile(deleteLedgerPath, oldest)
      pruneLedgerFile(mutationLedgerPath, oldest)
    }
  }

  /** Rewrite one `(ts, value)` ledger keeping entries at-or-after
    * `oldest` — both sidecars would otherwise grow without bound and be
    * re-read in full on every gate/staleness check.
    */
  private def pruneLedgerFile(path: String, oldest: Long): Unit =
    if (SidecarIO.exists(path)) {
      val kept = new StringBuilder
      SidecarIO.readLines(path).foreach { line =>
        val t = line.trim
        if (t.nonEmpty) {
          val sp = t.indexOf(' ')
          if (sp > 0 && t.substring(0, sp).toLong >= oldest)
            kept.append(t).append('\n')
        }
      }
      SidecarIO.writeString(path, kept.toString)
    }

  /** Restore the space table if a previous move-aside swap crashed
    * between its two renames — the instant where `spacePath` is absent
    * and the pre-op table sits whole under `.old`. Restoring `.old`
    * makes the crashed op a no-op (its `.tmp` is orphaned and
    * overwritten by the next attempt), so [[deleteByIds]]/[[forceMerge]]
    * are atomic-or-nothing instead of leaving READY states pointing at a
    * missing table. Called by both mutators before reading; safe to call
    * any time.
    */
  def recoverSwap(): Unit =
    if (!SidecarIO.exists(spacePath) && SidecarIO.exists(s"$spacePath.old"))
      SidecarIO.rename(s"$spacePath.old", spacePath)

  /** Delete-by-ids at the SPACE level: rewrite the live table without the
    * ids AND record them in the delete ledger so READY generations stop
    * serving them immediately — the reference's bitmap-delete contract
    * (engine.cc:869-899). The move-aside swap ([[SidecarIO.swapIn]]) has
    * ONE crash window (between the two renames the space path is briefly
    * absent); [[recoverSwap]] closes it on the next open — data is under
    * `spacePath` or `spacePath.old` at every instant, never lost.
    */
  def deleteByIds(idCol: String, ids: Seq[Long]): Unit = {
    recoverSwap()
    val df = spark.read.parquet(spacePath)
    val tmp = s"$spacePath.delete.tmp"
    graft.operators.Documents.deleteByIds(df, idCol, ids)
      .write.mode("overwrite").parquet(tmp)
    SidecarIO.swapIn(spacePath, tmp)
    recordDeletes(ids)
  }

  /** Delete-by-PK for string-id spaces: resolves each `_id` to its
    * `_docid` sidecar ([[Ingest.assignDocids]]) so the ledger records
    * the ROUTING ids the index layouts and tail merges gate on — the
    * reference's bitmap delete likewise keys on the engine docid, not
    * the string PK (engine.cc:869-899 over the docid space). Same
    * swap-atomicity as [[deleteByIds]].
    */
  def deleteByPk(pkCol: String, pks: Seq[String],
      docidCol: String = "_docid"): Unit = {
    recoverSwap()
    val df = spark.read.parquet(spacePath)
    import spark.implicits._
    val docids = df.filter(col(pkCol).isin(pks: _*))
      .select(col(docidCol).cast("long")).as[Long].collect().toSeq
    val tmp = s"$spacePath.delete.tmp"
    df.filter(!col(pkCol).isin(pks: _*)).write.mode("overwrite").parquet(tmp)
    SidecarIO.swapIn(spacePath, tmp)
    recordDeletes(docids)
  }

  // ── mutation ledger: cumulative (ts, count) lines recording rows
  //    CHANGED in place (tail folds, deletes) — the churn a raw row-count
  //    staleness cannot see (an in-place UPDATE leaves count unchanged;
  //    a delete makes the delta negative). maybeRebuildHnsw reads churn
  //    since the build via [[mutationsSince]]. ─────────────────────────

  private def mutationLedgerPath = s"$spacePath.mutation_ledger"

  /** Record `n` rows of churn (folded tail rows, deletes). */
  def recordMutations(n: Long): Unit = synchronized {
    if (n > 0)
      SidecarIO.appendString(mutationLedgerPath,
        s"${System.currentTimeMillis()} $n\n")
  }

  /** Total churn recorded at-or-after `gen`. */
  def mutationsSince(gen: Long): Long = {
    if (!SidecarIO.exists(mutationLedgerPath)) 0L
    else {
      var total = 0L
      SidecarIO.readLines(mutationLedgerPath).foreach { line =>
        val t = line.trim
        if (t.nonEmpty) {
          val sp = t.indexOf(' ')
          if (sp > 0 && t.substring(0, sp).toLong >= gen)
            total += t.substring(sp + 1).toLong
        }
      }
      total
    }
  }

  // `spark.read.parquet` lists files and reads footers on EVERY call (one
  // scheduler job per open). Layouts open through the signature-keyed
  // cache shared across instances ([[graft.sources.IndexStore.openTable]]):
  // serving handlers construct a fresh IndexLifecycle per request, so an
  // instance-held cache would never survive to the next query. Generations
  // are immutable once READY (a rebuild writes a NEW gen path; appends
  // invalidate), so the opened plan stays valid per layout path.
  private def openLayout(path: String): DataFrame = IndexStore.openTable(spark, path)

  /** The graph kinds' full builds (float or INT8 view, see
    * [[trainingView]]): `segments` builds the shard table from the
    * corpus and the column to train on.
    */
  private def buildGraph(kind: Kind, vecCol: String, numShards: Int)(
      segments: (DataFrame, String) => Dataset[_]): Ready =
    withGeneration(kind) { out =>
      val (corpus, c) = trainingView(vecCol)
      val trainedDocs = corpus.count()
      segmentWriter(segments(corpus, c)).mode("overwrite").parquet(out)
      (numShards, trainedDocs)
    }

  /** The graph kinds' CLUSTERED (SPANN-routed) builds: shards =
    * coarse-quantizer lists, table written `partitionBy(shard_id)` so
    * query-time routing is parquet PARTITION PRUNING. The trained
    * quantizer persists as a sidecar next to the layout; its presence
    * ([[Generation.routedModel]]) is what routes [[SearchApi.searchAuto]]
    * through nprobe shard pruning instead of the full fan-out.
    */
  private def buildClustered(kind: Kind, vecCol: String, ncentroids: Int)(
      segments: (DataFrame, IvfIndex.Model) => Dataset[_]): Ready =
    withGeneration(kind) { out =>
      val corpus = spark.read.parquet(spacePath)
      val trainedDocs = corpus.count()
      val ivf = IvfIndex.train(corpus, vecCol, ncentroids)
      segmentWriter(segments(corpus, ivf)).mode("overwrite")
        .partitionBy("shard_id").parquet(out)
      IndexStore.writeIvfModel(s"$out.ivf.txt", ivf)
      (ncentroids, trainedDocs)
    }

  /** Build (or rebuild) the HNSW generation. In the returned `Ready`, the
    * `ncentroids` slot carries `numShards`. An INT8 field's graph stores
    * the raw code values as floats; serving quantizes the float query to
    * the same int8 domain, so routed scores are the i8 kernels' scores
    * exactly and the route is oracle-exact at `ef ≥ |shard|` like the
    * float arm.
    */
  def rebuildHnsw(idCol: String, vecCol: String, params: HnswIndex.Params): Ready =
    buildGraph(Hnsw, vecCol, params.numShards)(HnswIndex.build(_, idCol, _, params))

  /** Incremental HNSW add — the reference's background Indexing loop
    * folds ONLY new vectors into the live graph (engine.cc:1084-1137,
    * AddRTVecsToIndex vector_manager.cc:678) instead of rebuilding over
    * the corpus. Cost ∝ |delta| + the touched shards; untouched shard
    * rows are copied through unchanged. Monotone new ids yield a
    * generation bit-identical to a full rebuild (HnswIndex.append doc).
    * The new generation inherits the OLD generation's delete-ledger
    * baseline: carried-over nodes may still contain ids deleted since
    * the original build, so the gate keeps covering them.
    */
  def appendHnsw(delta: DataFrame, idCol: String, vecCol: String,
      params: HnswIndex.Params): Ready = {
    val old = readyForAppend(Hnsw)
    require(old.param == params.numShards,
      s"appendHnsw numShards ${params.numShards} != READY generation's ${old.param}")
    withGeneration(Hnsw) { out =>
      import spark.implicits._
      val segs = spark.read.parquet(old.path).as[HnswIndex.Segment]
      val deltaN = delta.count()
      segmentWriter(HnswIndex.append(segs, delta, idCol, vecCol, params))
        .mode("overwrite").parquet(out)
      SidecarIO.writeString(s"$out.ledger_base", old.baseline.toString)
      (params.numShards, old.trainedDocs + deltaN)
    }
  }

  /** Build (or rebuild) a CLUSTERED HNSW generation
    * ([[graft.operators.HnswIndex.buildClustered]]) under the same state
    * file as the hash-sharded one — the two are alternative layouts of
    * the same graph kind.
    */
  def rebuildHnswClustered(idCol: String, vecCol: String,
      params: HnswIndex.Params, ncentroids: Int,
      maxShardRows: Int = 1 << 20): Ready =
    buildClustered(Hnsw, vecCol, ncentroids)((corpus, ivf) =>
      HnswIndex.buildClustered(corpus, idCol, vecCol,
        params.copy(numShards = ncentroids), ivf, maxShardRows))

  /** Incremental add into the CLUSTERED HNSW generation: the delta's
    * vectors become fresh sub-segment rows appended into the SAME
    * generation's shard_id partitions ([[graft.operators.HnswIndex.appendClustered]]
    * — the posting-list append; routed search unions every row under a
    * probed shard). The generation stamp is unchanged, so the delete
    * ledger keeps covering the carried-over rows; `trainedDocs` grows by
    * the delta so drift staleness stays honest. Many appends accumulate
    * small sub-segments — [[rebuildHnswClustered]] compacts (the
    * reference's optimize pass).
    */
  def appendHnswClustered(delta: DataFrame, idCol: String, vecCol: String,
      params: HnswIndex.Params): Unit = {
    val g = readyForAppend(Hnsw)
    val ivf = g.routedModel("l2").getOrElse(throw new IllegalStateException(
      "appendHnswClustered needs a CLUSTERED generation (quantizer sidecar missing)"))
    val deltaN = delta.count()
    segmentWriter(HnswIndex.appendClustered(delta, idCol, vecCol,
        params.copy(numShards = ivf.ncentroids), ivf))
      .mode("append").partitionBy("shard_id").parquet(g.path)
    IndexStore.invalidateOpen(g.path) // cached plan pre-dates the new files
    SidecarIO.writeString(statePath(Hnsw),
      s"READY:${g.gen}:${g.param}:${g.trainedDocs + deltaN}")
  }

  /** Staleness of the HNSW generation: the larger of (a) space GROWTH
    * since the build — `max(0, now − trained) / trained` — and (b) the
    * CHURN recorded in the mutation ledger since the build (tail rows
    * folded in place, deletes). Raw row-count deltas alone are blind to
    * in-place updates (count unchanged, graph holds the old vectors) and
    * read NEGATIVE under deletes; the churn term keeps the drift trigger
    * honest for both. Serving stays fresh in the interim through
    * [[graft.streaming.RealtimeTail.searchHnsw]]'s brute tail leg and the
    * delete-ledger gate.
    */
  def hnswStaleness(): Option[Double] = ready(Hnsw).filter(_.trainedDocs > 0).map { g =>
    val grown = math.max(0L, spark.read.parquet(spacePath).count() - g.trainedDocs)
    // churn counts from the LEDGER BASELINE: an appended generation
    // still carries the original build's nodes, so churn (deletes,
    // in-place folds) recorded before the append keeps exerting
    // rebuild pressure until a FULL rebuild clears it
    math.max(grown, mutationsSince(g.baseline)).toDouble / g.trainedDocs
  }

  /** Drift-triggered HNSW rebuild — [[maybeRetrain]]'s twin for the graph
    * kind (the reference rebuilds hnsw through the same index/rebuild
    * verb, engine.cc:1013-1083). Returns true iff a rebuild ran.
    */
  def maybeRebuildHnsw(idCol: String, vecCol: String,
      params: HnswIndex.Params, driftThreshold: Double): Boolean =
    if (hnswStaleness().exists(_ >= driftThreshold)) {
      rebuildHnsw(idCol, vecCol, params); true
    } else false

  /** The residual-PQ builds: coarse quantizer + residual codebooks
    * trained on the space, codes written `partitionBy(list_id)` (probe =
    * partition pruning), models persisted as sidecars. `eta` None =
    * IVFPQ's plain residual loss (the reference's default compressed
    * index, gamma_index_ivfpq.cc; matches faiss IVFPQ and won the
    * RecallGateSpec codebook head-to-head); Some = SCANN's ANISOTROPIC
    * (score-aware) loss for both training and the encode-time
    * assignment (the algorithm class behind the reference's wrapped
    * ScaNN index, impl/scann/; Guo et al., ICML 2020).
    */
  private def buildResidualPq(kind: Kind, vecCol: String, ncentroids: Int,
      m: Int, ksub: Int, eta: Option[Double]): Ready = withGeneration(kind) { out =>
    val (corpus, c) = trainingView(vecCol)
    val trainedDocs = corpus.count()
    val dim = corpus.select(size(col(c))).head().getInt(0)
    val ivf = IvfIndex.train(corpus, c, ncentroids)
    val assigned = IvfIndex.assign(corpus, c, ivf)
    val (pq, codes) = eta match {
      case None =>
        val pq = PqIndex.trainResidual(assigned, c, dim, m, ivf, ksub = ksub,
          maxTrainRows = 200000L, maxIter = 8)
        (pq, PqIndex.encodeResidual(assigned, c, ivf, pq))
      case Some(e) =>
        val pq = PqIndex.trainResidualAnisotropic(assigned, c, dim, m, ivf,
          ksub = ksub, eta = e, maxTrainRows = 200000L, maxIter = 8)
        (pq, PqIndex.encodeResidualAnisotropic(assigned, c, ivf, pq, eta = e))
    }
    codes.drop(I8View).write.mode("overwrite").partitionBy("list_id").parquet(out)
    IndexStore.writeIvfModel(s"$out.ivf.txt", ivf)
    IndexStore.writePqModel(s"$out.pq.txt", pq)
    (ncentroids, trainedDocs)
  }

  /** Build (or rebuild) the IVFPQ generation (see [[buildResidualPq]]). */
  def rebuildIvfPq(vecCol: String, ncentroids: Int, m: Int,
      ksub: Int = 256): Ready =
    buildResidualPq(Pq, vecCol, ncentroids, m, ksub, None)

  /** Incremental add into the READY IVFPQ generation — the reference's
    * background loop folds new vectors into every index without
    * retraining (engine.cc:1084-1137): the delta encodes through the
    * STORED coarse quantizer + residual codebooks and parquet-appends
    * into the generation's `list_id` partitions. Cost ∝ |delta| (the
    * existing codes are untouched); probed searches see the new rows
    * immediately. Append ≡ re-encoding the full corpus with the same
    * models (the codes are a pure per-row function of (vector, models) —
    * spec-asserted). Codebook drift is the next rebuild's job:
    * `trainedDocs` stays at the trained count while the layout grows, so
    * [[staleness]]-style drift triggers keep firing.
    */
  def appendIvfPq(delta: DataFrame, vecCol: String): Unit = {
    val g = readyForAppend(Pq)
    val ivf = g.ivfModel("l2")
    appendLists(g, PqIndex.encodeResidual(
      IvfIndex.assign(delta, vecCol, ivf), vecCol, ivf, g.pqModel("l2")))
  }

  /** Build (or rebuild) the SCANN generation (see [[buildResidualPq]]).
    * `eta ≤ 0` selects the paper's threshold rule at T = 0.2.
    */
  def rebuildScann(vecCol: String, ncentroids: Int, m: Int,
      ksub: Int = 256, eta: Double = 0.0): Ready =
    buildResidualPq(Scann, vecCol, ncentroids, m, ksub, Some(eta))

  /** Build (or rebuild) the IVFRABITQ generation: per-list residual sign
    * codes (RaBitQ class); search = coarse probe ∘ qb-estimator
    * shortlist ∘ exact rerank (gamma_index_ivfrabitq.cc).
    */
  def rebuildIvfRabitq(vecCol: String, ncentroids: Int): Ready =
    withGeneration(Rabitq) { out =>
      val (corpus, c) = trainingView(vecCol)
      val trainedDocs = corpus.count()
      val ivf = IvfIndex.train(corpus, c, ncentroids)
      BinaryIndex.encodeResidual(IvfIndex.assign(corpus, c, ivf), c, ivf)
        .drop(I8View).write.mode("overwrite").partitionBy("list_id").parquet(out)
      IndexStore.writeIvfModel(s"$out.ivf.txt", ivf)
      (ncentroids, trainedDocs)
    }

  /** Incremental add into the READY IVFRABITQ generation — the delta's
    * residual sign codes derive from the STORED quantizer and append
    * into the `list_id` partitions ([[appendIvfPq]]'s contract for the
    * 1-bit family).
    */
  def appendIvfRabitq(delta: DataFrame, vecCol: String): Unit = {
    val g = readyForAppend(Rabitq)
    val ivf = g.ivfModel("l2")
    appendLists(g, BinaryIndex.encodeResidual(
      IvfIndex.assign(delta, vecCol, ivf), vecCol, ivf))
  }

  /** Build (or rebuild) the BINARYIVF generation: Hamming coarse
    * quantizer over the packed codes (gamma_index_binary_ivf.cc / faiss
    * IndexBinaryIVF) — for value_type=binary vector fields whose column
    * IS the code.
    */
  def rebuildBinaryIvf(codeCol: String, ncentroids: Int): Ready =
    withGeneration(BinaryIvf) { out =>
      val corpus = spark.read.parquet(spacePath)
      val trainedDocs = corpus.count()
      val cents = BinaryIndex.trainBinary(corpus, "_id", codeCol, ncentroids)
      BinaryIndex.buildTableBinary(corpus, codeCol, cents, out)
      IndexStore.writeBinaryCentroids(s"$out.cents.txt", cents)
      (cents.length, trainedDocs)
    }

  /** Incremental add into the READY BINARYIVF generation — the delta's
    * packed codes assign to their Hamming-nearest STORED centroid and
    * append into the `list_id` partitions ([[appendIvfPq]]'s contract
    * for the binary-valued family).
    */
  def appendBinaryIvf(delta: DataFrame, codeCol: String): Unit = {
    val g = readyForAppend(BinaryIvf)
    appendLists(g, BinaryIndex.assignBinary(delta, codeCol, g.binaryCentroids))
  }

  /** Build (or rebuild) the DiskANN-static (Vamana) generation;
    * `ncentroids` in the returned Ready carries `numShards`. STATIC by
    * definition (the reference's DiskANN class rebuilds rather than
    * appends), so there is no appendVamana and the ledger baseline is
    * always the generation's own stamp. INT8 fields use the same
    * raw-code float view as [[rebuildHnsw]].
    */
  def rebuildVamana(idCol: String, vecCol: String, params: VamanaIndex.Params): Ready =
    buildGraph(Vamana, vecCol, params.numShards)(VamanaIndex.build(_, idCol, _, params))

  /** Build (or rebuild) a CLUSTERED Vamana generation
    * ([[graft.operators.VamanaIndex.buildClustered]]) — the routed
    * layout [[rebuildHnswClustered]] gives the graph kind, applied to the
    * storage-resident family.
    */
  def rebuildVamanaClustered(idCol: String, vecCol: String,
      params: VamanaIndex.Params, ncentroids: Int,
      maxShardRows: Int = 1 << 20): Ready =
    buildClustered(Vamana, vecCol, ncentroids)((corpus, ivf) =>
      VamanaIndex.buildClustered(corpus, idCol, vecCol,
        params.copy(numShards = ncentroids), ivf, maxShardRows))

  /** Force-merge ≡ compaction: rewrite the space with a target file count
    * (POST /index/forcemerge → Optimize(), handler_document.go:468-476),
    * through the same move-aside swap as [[deleteByIds]].
    */
  def forceMerge(targetFiles: Int = 1): Unit = {
    recoverSwap()
    val tmp = s"$spacePath.merge.tmp"
    spark.read.parquet(spacePath).coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp)
    SidecarIO.swapIn(spacePath, tmp)
  }

  /** Drop EVERY generation of EVERY layout kind and field scope of this
    * space — the mass-delete fallback
    * ([[graft.schema.SpaceCatalog.deleteByQuery]] above its ledger cap):
    * a delete invalidating most of a layout is a rebuild in the
    * reference too (engine.cc:1013-1083). With no READY state the
    * router serves exact FLAT over the rewritten base — ghost-free by
    * construction — until the next explicit/drift build.
    */
  def dropAllGenerations(): Unit = synchronized {
    val hp = new org.apache.hadoop.fs.Path(spacePath)
    val parent = hp.getParent
    if (parent != null) {
      val re = (java.util.regex.Pattern.quote(hp.getName) + """(\.[^.]+)?\.(""" +
        IndexLifecycle.kinds.map(_.infix).mkString("|") + """)(_state\.json$|\.g\d+)""").r
      SidecarIO.listNames(parent.toString)
        .filter(n => re.findPrefixMatchOf(n).isDefined)
        .foreach(n => SidecarIO.delete(s"$parent/$n"))
    }
  }

  /** Remove the IVF index (state + generation). */
  def drop(): Unit = {
    ready(Ivf).foreach { g =>
      SidecarIO.delete(g.path)
      SidecarIO.delete(s"${g.path}.centroids")
    }
    SidecarIO.delete(statePath(Ivf))
  }
}

object IndexLifecycle {

  /** A layout kind: one generation namespace, named on disk by its infix
    * — state file `<space>[.<field>].<infix>_state.json`, layouts
    * `<space>[.<field>].<infix>.g<gen>`.
    */
  sealed abstract class Kind(val infix: String)
  object Kind {
    case object Ivf extends Kind("index")
    case object Hnsw extends Kind("hnsw")
    case object Pq extends Kind("pq")
    case object Scann extends Kind("scann")
    case object Rabitq extends Kind("rb")
    case object BinaryIvf extends Kind("bivf")
    case object Vamana extends Kind("vamana")
  }

  /** The kind table: every layout kind a space can carry. */
  private val kinds: Seq[Kind] = {
    import Kind._
    Seq(Ivf, Hnsw, Pq, Scann, Rabitq, BinaryIvf, Vamana)
  }

  /** The layout kind a declared index type builds and serves from — the
    * one mapping the declared build, the auto-build and the router share.
    * GPU_* serve from the equivalent CPU layout and SSG (the other
    * flat-graph RNG-family index) from the Vamana generation. None for
    * the types that serve without a generation (FLAT, SCALAR).
    */
  def kindOf(indexType: String): Option[Kind] = {
    import Kind._
    indexType match {
      case "IVFFLAT" | "GPU_IVFFLAT"                => Some(Ivf)
      case "HNSW"                                   => Some(Hnsw)
      case "DISKANN_STATIC" | "SSG"                 => Some(Vamana)
      case "IVFPQ" | "GPU_IVFPQ" | "IVFPQ_RELAYOUT" => Some(Pq)
      case "SCANN"                                  => Some(Scann)
      case "IVFRABITQ"                              => Some(Rabitq)
      case "BINARYIVF"                              => Some(BinaryIvf)
      case _                                        => None
    }
  }
}
