package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * fails leaves no output directory and is named, with its exception
  * class, on the last stdout line: `{"metric":"failures","queries":{...}}`
  * (Bench's shape; `{}` when every query wrote). */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name substrings — dev-only
    // targeted runs (the driver always calls with exactly two args)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = writeResults(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) =>
        only.forall(_.exists(name.contains)) })
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(failuresLine(failed))
    spark.stop()
  }

  /** Writes each query's result to `outDir/<name>` and returns the
    * queries that threw, each with its exception class. A failure is
    * reported on stderr when it happens and never stops the run. */
  def writeResults(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.getClass.getName)
      }
    }

  /** The failures line, queries in name order. */
  def failuresLine(failed: Seq[(String, String)]): String =
    failed.sorted.map { case (k, c) => s"${q(k)}:${q(c)}" }
      .mkString("""{"metric":"failures","queries":{""", ",", "}}")

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make a
  // reader's json.load fail and silently zero the correctness check.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
