package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per JVM across suites. */
object SparkSpec {
  lazy val spark: SparkSession = Graft.session("4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf = "/root/testdata/sf0.001"

  /** Executed-plan text of every Spark action `body` runs, plus the
    * returned frame's own executed plan — the route-discrimination probe
    * for serving paths that materialize bounded intermediates eagerly
    * (searchAuto's O(k) payload prune collects the index hits at
    * construction, so the generation scan lives in a construction-time
    * action's plan, not the returned frame's). Suites run sequentially
    * in the forked test JVM, so the capture sees only `body`'s actions.
    */
  def plansDuring(body: => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, String) = {
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val df =
      try {
        val r = body
        // the execution-listener bus is async — settle until quiet
        var prev = -1; var tries = 0
        while (plans.size != prev && tries < 50) {
          prev = plans.size; Thread.sleep(100); tries += 1
        }
        r
      } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    (df, (plans.iterator().asScala.toSeq :+
      df.queryExecution.executedPlan.toString).mkString("\n"))
  }

  /** Driver jobs launched while `body` runs, scoped to a unique job
    * group; waits out the async status store before reporting.
    */
  def jobsDuring(body: => Unit): Int = {
    val group = s"action-audit-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobGroup(group, "action audit", false)
    try body finally spark.sparkContext.clearJobGroup()
    def jobs(): Int =
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    var n = jobs(); var stable = false
    (0 until 30).takeWhile { _ =>
      Thread.sleep(100); val m = jobs(); stable = m == n; n = m; !stable }
    n
  }

  /** Total shuffle-write RECORDS for the jobs `body` runs — the
    * measurement behind "this operator shuffles the corpus exactly once /
    * never" claims. Scoped to a unique job group so concurrently-running
    * suites in the shared session don't pollute the count; waits out the
    * async listener bus before reporting.
    */
  def shuffleRecords(body: => Unit): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    val group = s"shuffle-audit-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            group == j.properties.getProperty("spark.jobGroup.id"))
          j.stageIds.foreach(stages.add(_))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId))
          records.addAndGet(
            s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "shuffle audit", false)
    try {
      body
      var prev = -1L
      var tries = 0
      while (records.get != prev && tries < 50) {
        prev = records.get; Thread.sleep(100); tries += 1
      }
      records.get
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
