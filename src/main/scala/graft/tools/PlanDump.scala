package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Graft, SparkEntry}
import graft.operators.{Checkpoints, Dedup}

/** Writes `.explain("formatted")` output for named queries to
  * `<outDir>/<query>_<suffix>.txt` — the plan-evidence artifacts the
  * optimization rounds commit under `plans/`. Cold path (no resident
  * caches), so scan nodes show PushedFilters / ReadSchema / partition
  * pruning the way the correctness runs execute them.
  *
  * Besides the declared queries it accepts `jaccard_pairplan` and
  * `containment_pairplan`: the public dedup pair operators eagerly
  * checkpoint their output, so the declared queries' plans show only a
  * `Scan ExistingRDD` frame. These two names dump the LAZY pair plans
  * (candidate join + verify) so the candidate-filter shape is visible.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query>...
  */
object PlanDump {
  /** The plan to dump for `name` plus the checkpoints it holds. */
  private def plan(spark: SparkSession, sfDir: String, name: String)
      : (DataFrame, Seq[DataFrame]) = {
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")
    name match {
      case "jaccard_pairplan" =>
        Dedup.jaccardPairsPlan(docs, "doc_id", "text", n = 3, threshold = 0.8)
      case "containment_pairplan" =>
        Dedup.containmentPairsPlan(docs, "doc_id", "text", n = 3, threshold = 0.8)
      case _ =>
        val df = SparkEntry.queries(name)(spark, sfDir)
        (df, Seq(df))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = args(0)
    val suffix = args(1)
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(outDir))
    args.drop(2).foreach { name =>
      try {
        val (df, held) = plan(spark, sfDir, name)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        held.foreach(Checkpoints.free)
        println(s"[plandump] wrote ${name}_$suffix.txt (${txt.length} chars)")
      } catch { case NonFatal(e) =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
