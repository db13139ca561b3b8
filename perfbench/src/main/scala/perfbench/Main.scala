package perfbench

import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation. `primary` marks the workload's request (the one
  * the end-to-end latency metrics describe); `traced` marks the phase it
  * ran in.
  */
final case class Rec(kind: String, cls: String, latMs: Double, ok: Boolean,
    traced: Boolean, primary: Boolean, docs: Int)

/** State shared by a run's workload code: the session, the tracer, the
  * operation log, and the correctness verdict.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path) {
  val tr = new Trace(spark)
  val cores: Int = spark.sparkContext.defaultParallelism
  private val recs = new ConcurrentLinkedQueue[Rec]()
  private val problems = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  @volatile var phaseTraced = false
  // wall seconds spent in untraced / traced timed phases
  var untracedWallS = 0.0
  var tracedWallS = 0.0

  def records: Seq[Rec] = recs.asScala.toSeq
  def correct: Boolean = problems.isEmpty

  /** A wrong result. Reported on stderr and fails the run's check. */
  def wrong(msg: String): Unit = {
    if (problems.size < 50) System.err.println(s"[perfbench] WRONG: $msg")
    problems.add(msg)
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) wrong(msg)

  /** Time one operation. A thrown error is counted as failed and never
    * retried; the caller gets None.
    */
  def op[A](kind: String, cls: String = "", primary: Boolean = false,
      docs: Int = 0)(f: => A): Option[A] =
    opCounted(kind, cls, primary)(f)(_ => docs)

  /** [[op]] whose recorded item count is derived from its result. */
  def opCounted[A](kind: String, cls: String, primary: Boolean)(f: => A)(
      count: A => Int): Option[A] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    val res =
      try Some(tr.span(kind, cls)(f))
      catch {
        case e: Exception =>
          failed.incrementAndGet()
          System.err.println(s"[perfbench] FAILED $kind/$cls: " +
            s"${e.getClass.getSimpleName}: ${firstLine(e.getMessage)}")
          None
      }
    val lat = (System.nanoTime() - t0) / 1e6
    recs.add(Rec(kind, cls, lat, res.isDefined, phaseTraced, primary,
      res.fold(0)(count)))
    res
  }

  private def firstLine(s: String): String =
    Option(s).map(_.linesIterator.take(1).mkString.take(300)).getOrElse("")

  def catalogRoot(name: String): String = work.resolve(name).toString
}

object Main {

  def usage(): Nothing = {
    System.err.println(
      "usage: perfbench.Main --workload search|concurrent|mixed|dedup --seed N " +
        "--seconds S --trace 0|1 --work DIR [--spans FILE]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage())
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toInt
    val traced = need("--trace") == "1"
    val work = Paths.get(need("--work")).toAbsolutePath
    val w: Workload = workload match {
      case "search"     => new SearchWorkload(clients = 1)
      case "concurrent" => new SearchWorkload(clients = Runtime.getRuntime.availableProcessors)
      case "mixed"      => new MixedWorkload
      case "dedup"      => new DedupWorkload
      case _            => usage()
    }
    // the shipped session factory; SPARK_GRAFT_CPUS is set to nproc
    val t0 = System.nanoTime()
    val spark = graft.Graft.session()
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.err.println(
      f"[perfbench] session ${(System.nanoTime() - t0) / 1e9}%.1f s, jvm up ${up / 1e3}%.1f s")
    val run = new Run(spark, seed, seconds, traced, work)
    printEnv(spark, workload, seed)
    val metrics =
      try execute(run, w)
      finally spark.stop()
    opts.get("--spans").foreach(p => run.tr.writeSpans(Paths.get(p)))
    println(resultJson(run, metrics))
  }

  /** Setup (repeated), warm-up, then the timed phases. An untraced run
    * has one phase of `seconds`; a traced run splits it into quarters
    * traced, untraced, untraced, traced, so a steady warm-up trend
    * cancels out of the tracing overhead.
    */
  def execute(run: Run, w: Workload): Seq[(String, Double, String)] = {
    if (run.traced) run.tr.start()
    val setups = (0 until Workload.SetupReps).map { r =>
      val t0 = System.nanoTime()
      run.tr.span("setup", s"rep$r") { w.setup(run, r) }
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    run.tr.span("setup.warmup") { w.warmup(run) }
    val warmS = (System.nanoTime() - warm0) / 1e9
    System.err.println(f"[perfbench] setup ${setups.map(s => f"$s%.1f").mkString("/")} s, warm-up $warmS%.1f s")
    val phases =
      if (run.traced) Seq(true, false, false, true).map(t => (t, run.seconds / 4.0))
      else Seq((false, run.seconds.toDouble))
    phases.foreach { case (t, s) =>
      if (t) run.tr.start() else run.tr.stop()
      run.phaseTraced = t
      val wall = w.timed(run, s)
      if (t) run.tracedWallS += wall else run.untracedWallS += wall
    }
    run.tr.stop()
    w.finish(run)
    if (run.traced) Layers.compute(run, w, warmS)
    else w.endToEnd(run, median(setups))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def printEnv(spark: SparkSession, workload: String, seed: Long): Unit = {
    val conf = spark.conf.getAll.toSeq.sorted
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    val rt = Runtime.getRuntime
    println(s"""{"env":{"workload":"$workload","seed":$seed,""" +
      s""""nproc":${rt.availableProcessors},""" +
      s""""jvm":"${esc(System.getProperty("java.vm.name"))} ${esc(System.getProperty("java.version"))}",""" +
      s""""max_heap_mb":${rt.maxMemory / (1 << 20)},""" +
      s""""spark":"${spark.version}","sql_conf":{$conf}}}""")
  }

  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def resultJson(run: Run, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${run.correct},"attempted":${run.attempted.get},""" +
      s""""failed":${run.failed.get},"metrics":{$ms}}"""
  }
}
