package graft.tools

import graft.{Graft, SparkEntry}

/** Scaling study runner: times declared queries against one or more
  * fixture dirs in ONE warm JVM and prints per-(dir, query) seconds and
  * output rows, plus the growth ratio of each query between consecutive
  * dirs. Each query runs `reps` times per dir; the FASTEST run is
  * reported (the scaling exponent wants steady-state compute, not stray
  * JIT/IO warmup). The row counts feed the output-normalized scaling
  * tables (BENCH_SCALING.md): the pair-join dedup family is output-bound,
  * so its honest scaling number is pairs/s.
  *
  * Usage: runMain graft.tools.ScaleBench <reps> <dir1> [dir2...] -- <q1> <q2> ...
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val (dirs, rest) = args.drop(1).span(_ != "--")
    val queries = rest.drop(1)
    require(dirs.nonEmpty && queries.nonEmpty,
      "usage: ScaleBench <reps> <dir...> -- <query...>")
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val times = for (dir <- dirs; q <- queries) yield {
      val fn = SparkEntry.queries(q)
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val rows = try df.count() finally graft.operators.Checkpoints.free(df)
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      val (best, rows) = runs.minBy(_._1)
      println(f"[scalebench] $dir $q best=$best%.3f s rows=$rows")
      (dir, q) -> best
    }
    val tm = times.toMap
    val ratios = for (q <- queries; i <- 1 until dirs.length) yield {
      val r = tm((dirs(i), q)) / tm((dirs(i - 1), q))
      s""""$q":${f"$r%.2f"}"""
    }
    println(s"""{"scalebench":{${ratios.mkString(",")}}}""")
    spark.stop()
  }
}
