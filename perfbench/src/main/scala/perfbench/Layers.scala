package perfbench

import Main.median

/** Per-layer metrics of a traced run, joined from the bench's spans and
  * the Spark listeners' job, stage and SQL-action records. A metric whose
  * layer the workload does not exercise reads 0.
  */
object Layers {

  def compute(run: Run, w: Workload, warmS: Double): Seq[(String, Double, String)] = {
    val col = run.tr.collector
    val spans = run.tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    def rootOf(span: Long): Long = byId.get(span).fold(0L)(_.root)

    val jobsByRoot = col.jobs.values.toSeq.groupBy(j => rootOf(j.span))
    val stagesByRoot = col.stages.values.toSeq.groupBy(s => rootOf(s.span))
    val stagesBySpan = col.stages.values.toSeq.groupBy(_.span)
    val actionsByRoot = col.actions.toSeq
      .groupBy { case (exec, _) => rootOf(col.sqlExecSpan.getOrElse(exec, 0L)) }
    val unattributedJobs = col.jobs.values.count(j => !byId.contains(j.span))

    val roots = spans.filter(s => s.parent == 0L)
    val reqRoots = roots.filter(s => w.requestKinds(s.name))
    val n = math.max(reqRoots.size, 1).toDouble
    def perReq(f: Trace.Span => Double): Double = reqRoots.map(f).sum / n

    def jobsOf(r: Trace.Span) = jobsByRoot.getOrElse(r.id, Nil)
    def stagesOf(r: Trace.Span) = stagesByRoot.getOrElse(r.id, Nil)
    def inJobsMs(r: Trace.Span): Double = {
      // union of the root's job intervals, clipped to the span
      val end = r.startMs + r.durMs
      val iv = jobsOf(r).map(j => (math.max(j.startMs.toDouble, r.startMs.toDouble),
        math.min(j.endMs.toDouble, end))).filter(p => p._2 > p._1).sortBy(_._1)
      var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
      iv.foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (!curS.isNaN) total += curE - curS
      total
    }

    val recs = run.records
    def spansNamed(name: String, under: Set[String]): Seq[Trace.Span] =
      spans.filter(s => s.name == name && byId.get(s.root).exists(r => under(r.name)))
    def p50Ms(name: String, under: Set[String]): Double =
      orZero(median(spansNamed(name, under).map(_.durMs)))
    def subtreeStages(name: String, under: Set[String]): Seq[Trace.StageRec] = {
      val ids = spansNamed(name, under).map(_.id).toSet
      val kids = spans.filter(s => ids(s.parent)).map(_.id).toSet ++ ids
      kids.toSeq.flatMap(id => stagesBySpan.getOrElse(id, Nil))
    }

    // hits returned by the traced search requests
    val hits = recs.filter(r => r.traced && r.primary && r.ok).map(_.docs).sum
    val searchReq = reqRoots.filter(_.name == "search.request")
    val inputRecords = searchReq.flatMap(stagesOf).map(_.inputRecords).sum

    // the write path runs only in `mixed`; other workloads omit its metrics
    val writes = w match {
      case m: MixedWorkload =>
        val write = Set("write.batch")
        val writeRecs = recs.filter(r => r.kind == "write.batch" && r.ok && !r.traced)
        val writtenDocs = recs.filter(r => r.kind == "write.batch" && r.ok && r.traced)
          .map(_.docs).sum
        val upsertStages = subtreeStages("schema.catalog.upsert", write)
        val userBytes = writtenDocs.toDouble * m.fam.docs.head.rawBytes
        Seq(
          ("schema.catalog.upsert_ms", p50Ms("schema.catalog.upsert", write), "ms"),
          ("schema.catalog.rows_rewritten_per_doc",
            if (writtenDocs == 0) 0.0
            else upsertStages.map(_.outputRecords).sum.toDouble / writtenDocs, "ratio"),
          ("schema.catalog.bytes_written_per_user_byte",
            if (userBytes == 0) 0.0 else upsertStages.map(_.outputBytes).sum / userBytes, "ratio"),
          ("api.ingest.conform_ms", p50Ms("api.ingest.conform", write), "ms"),
          ("api.lifecycle.append_hnsw_ms", p50Ms("api.lifecycle.append_hnsw", write), "ms"),
          ("schema.catalog.query_ms", p50Ms("schema.catalog.query", Set("write.readback")), "ms"),
          ("write.p50_ms", orZero(median(writeRecs.map(_.latMs))), "ms"),
          ("write.docs_per_s",
            writeRecs.map(_.docs).sum / math.max(run.untracedWallS, 1e-9), "1/s"))
      case _ => Nil
    }

    val untracedReq = recs.filter(r => r.primary && r.ok && !r.traced)
    val tracedReq = recs.filter(r => r.primary && r.ok && r.traced)
    def setupS(name: String): Double = {
      // per setup rep: the sum of that rep's spans of `name`; median over reps
      val reps = roots.filter(_.name == "setup")
      orZero(median(reps.map(r =>
        spans.filter(s => s.root == r.id && s.name == name).map(_.durMs).sum / 1e3)))
    }

    val timedRootIds = roots.filter(r => r.name != "setup" && r.name != "setup.warmup")
      .map(_.id).toSet
    val timedRunMs = col.stages.values.filter(s => timedRootIds(rootOf(s.span)))
      .map(_.runMs).sum

    // the operators' metrics exist only in `dedup`; other workloads omit them
    val dedup = w match {
      case d: DedupWorkload => d.Ops.flatMap { op =>
        val calls = reqRoots.filter(_.name == s"operators.dedup.$op")
        val cn = math.max(calls.size, 1).toDouble
        def skew(r: Trace.Span): Double = {
          val st = stagesOf(r).filter(_.taskMs.nonEmpty)
          if (st.isEmpty) 0.0
          else {
            val longest = st.maxBy(_.taskMs.sum)
            longest.taskMs.max.toDouble / math.max(1.0, median(longest.taskMs.map(_.toDouble).toSeq))
          }
        }
        Seq(
          (s"operators.dedup.${op}_s", orZero(median(calls.map(_.durMs / 1e3))), "s"),
          (s"operators.dedup.$op.shuffle_records",
            calls.flatMap(stagesOf).map(_.shuffleWriteRecords).sum / cn, "count"),
          (s"operators.dedup.$op.spill_bytes",
            calls.flatMap(stagesOf).map(_.spillBytes).sum / cn, "bytes"),
          (s"operators.dedup.$op.task_skew", orZero(median(calls.map(skew))), "ratio"),
          (s"operators.dedup.$op.pairs_out", d.pairsOut.getOrElse(op, 0).toDouble, "count"))
      } :+ ("dedup.docs_per_s",
        untracedReq.size.toDouble * d.N / math.max(run.untracedWallS, 1e-9), "1/s")
      case _ => Nil
    }
    val recall = w match {
      case s: SearchWorkload => s.fam.recall
      case _ => 0.0
    }
    val classP50 = Gen.Classes.map { c =>
      (s"search.class.${c.name}_p50_ms", orZero(median(
        untracedReq.filter(r => r.kind == "search.request" && r.cls == c.name)
          .map(_.latMs))), "ms")
    }

    Seq(
      ("spark.jobs_per_request", perReq(r => jobsOf(r).size), "count"),
      ("spark.stages_per_request", perReq(r => stagesOf(r).size), "count"),
      ("spark.tasks_per_request", perReq(r => stagesOf(r).map(_.tasks).sum), "count"),
      ("sql.actions_per_request",
        perReq(r => actionsByRoot.getOrElse(r.id, Nil).size), "count"),
      ("sql.planning_ms_per_request",
        perReq(r => actionsByRoot.getOrElse(r.id, Nil).map(_._2).sum), "ms"),
      ("driver.outside_jobs_ms_per_request", perReq(r => r.durMs - inJobsMs(r)), "ms"),
      ("spark.in_jobs_ms_per_request", perReq(inJobsMs), "ms"),
      ("sources.rows_read_per_hit",
        if (hits == 0) 0.0 else inputRecords.toDouble / hits, "ratio"),
      ("sources.bytes_read_per_request",
        perReq(r => stagesOf(r).map(_.inputBytes).sum), "bytes"),
      ("api.search.fetch_ms", p50Ms("api.search.fetch", Set("search.request")), "ms"),
    ) ++ classP50 ++ Seq(
      ("exec.run_ms_per_request", perReq(r => stagesOf(r).map(_.runMs).sum), "ms"),
      ("exec.cpu_ms_per_request", perReq(r => stagesOf(r).map(_.cpuNs).sum / 1e6), "ms"),
      ("exec.shuffle_bytes_per_request",
        perReq(r => stagesOf(r).map(_.shuffleWriteBytes).sum), "bytes"),
    ) ++ writes ++ dedup ++ Seq(
      ("exec.busy_share", timedRunMs / (run.tracedWallS * 1e3 * run.cores), "ratio"),
      ("api.lifecycle.build_hnsw_s", setupS("api.lifecycle.build_hnsw"), "s"),
      ("schema.catalog.bulk_upsert_s", setupS("schema.catalog.bulk_upsert"), "s"),
      ("setup.warmup_s", warmS, "s"),
      ("search.recall_at_10", recall, "ratio"),
      ("ops.failed_ratio", run.failed.get.toDouble / math.max(1L, run.attempted.get), "ratio"),
      ("trace.overhead_ms",
        orZero(median(tracedReq.map(_.latMs))) - orZero(median(untracedReq.map(_.latMs))), "ms"),
      ("trace.unattributed_jobs", unattributedJobs.toDouble, "count"))
  }

  private def orZero(x: Double): Double = if (x.isNaN) 0.0 else x
}
