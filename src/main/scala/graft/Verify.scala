package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv(4, "graft-verify")
    // start from a clean output dir: a renamed/withdrawn capability must
    // not leave a stale result directory behind for the checker to grade
    val outRoot = new java.io.File(outDir)
    Tables.rm(outRoot)
    outRoot.mkdirs()
    // optional comma-separated subset for local iteration (the driver
    // sets nothing → full registry); oracle_sql.json is filtered to the
    // same subset so the checker grades exactly what was dumped
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val failed = SparkEntry.queries.toSeq.filter { case (name, fn) =>
      selected(name) && {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
        }
      }
    }.map(_._1)
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
      .filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a failed query fails the run, but only now: oracle_sql.json is
    // already written, so what did run can still be graded
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
