package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional names after <sfDir> <outDir> restrict the dump — a
    // builder-side pre-flight for newly added queries (the driver always
    // passes exactly two args and gets the full sweep)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // the shipped session (Graft.session): the oracle checks the
    // configuration the engine runs with
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // write-then-free: dedup-family results are eager checkpoints; a
      // 90+-query sweep would otherwise accumulate their storage blocks
      try {
        val df = fn(spark, sfDir)
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally graft.operators.Checkpoints.free(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
