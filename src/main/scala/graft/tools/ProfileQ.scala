package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Graft, SparkEntry}

/** Dev profiler (guide §1): runs named queries under the SAME session
  * and setup as [[graft.Bench]] (cached fixture tables, resident index
  * layouts, warmed build-once layouts) and reports per-run wall time plus
  * a per-job breakdown (job id, duration, #tasks, first stage name) and
  * a per-stage log (stage id, wall time, #tasks, executor run time, name)
  * so per-query cost can be attributed to specific Spark jobs and stages
  * instead of guessed at. Each query runs `reps` times (default 2) — the
  * delta between rep 1 and rep 2 separates per-query plan/IO warmup from
  * steady-state cost.
  */
object ProfileQ {
  final case class JobRec(id: Int, var ms: Long = -1, var tasks: Int = 0,
      var stages: Int = 0, var desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    val spark = Graft.session(cpus)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        val r = JobRec(js.jobId)
        r.stages = js.stageInfos.size
        r.tasks = js.stageInfos.map(_.numTasks).sum
        r.desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.lastOption.map(_.name).getOrElse(""))
          .take(90)
        jobs.put(js.jobId, r)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null && starts.containsKey(je.jobId))
          r.ms = je.time - starts.get(je.jobId)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(-1L)
        stages.put(si.stageId, f"   stage ${si.stageId}%4d ${wall}%6d ms " +
          f"tasks=${si.numTasks}%4d run=${si.taskMetrics.executorRunTime}%7d ms  " +
          si.name.take(90))
      }
    })
    // Bench-identical warmup
    graft.Bench.warmup(spark, sfDir)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        jobs.clear(); starts.clear(); stages.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val built = (System.nanoTime() - t0) / 1e6
        val n = try { val c = df.count(); graft.operators.Checkpoints.free(df); c }
          catch { case e: Throwable => println(s"ERR $name: ${e.getMessage}"); -1L }
        val total = (System.nanoTime() - t0) / 1e6
        println(f"== $name rep=$rep rows=$n build=$built%.0f ms total=$total%.0f ms")
        import scala.jdk.CollectionConverters._
        val recs = jobs.values.asScala.toSeq.sortBy(_.id)
        recs.foreach { r =>
          println(f"   job ${r.id}%4d ${r.ms}%6d ms stages=${r.stages}%2d tasks=${r.tasks}%4d  ${r.desc}")
        }
        stages.asScala.toSeq.sortBy(_._1).foreach(st => println(st._2))
        println(f"   jobs=${recs.size} jobMsSum=${recs.map(_.ms.max(0L)).sum}")
      }
    }
    spark.stop()
  }
}
