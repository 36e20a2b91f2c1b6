package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_SQL_ONLY=1: write oracle_sql.json and exit without a
    // SparkSession — feeds scripts/local_check.py --sql-only, the cheap
    // every-oracle-executes gate.
    if (sys.env.get("SPARK_GRAFT_SQL_ONLY").contains("1")) {
      new java.io.File(outDir).mkdirs()
      writeOracleJson(outDir)
      return
    }
    // optional comma-separated allowlist for targeted iteration;
    // resolved before the session so an unknown name fails fast
    val selected = SparkEntry.selected()
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(outDir)
    spark.stop()
  }

  /** oracle_sql.json dump. JSON string escape covers backslash, quote,
    * and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently zero
    * the round's correctness. */
  private def writeOracleJson(outDir: String): Unit = {
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
