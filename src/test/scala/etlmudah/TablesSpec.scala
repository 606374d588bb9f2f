package etlmudah

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.DataFrame

/** `Tables.parquet`: a read with a cached schema is the plain read, and
  * any change to the files under a path infers the schema again. */
class TablesSpec extends SparkSpec {

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Writes `df` as ONE parquet file at `path`, replacing what is there. */
  private def writeFile(df: DataFrame, path: String): File = {
    val tmp = Files.createTempDirectory("tables_spec_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(path).toPath, StandardCopyOption.REPLACE_EXISTING)
    new File(path)
  }

  test("a schema-cached read returns the plain read's schema and rows") {
    val part = Files.createTempDirectory("tables_spec").toString + "/t"
    spark.range(20).selectExpr("id", "id % 3 AS p", "cast(id AS string) AS s")
      .write.partitionBy("p").parquet(part)
    for (path <- Seq(s"$sf0001/orders.parquet", s"$sf0001/events.parquet", part)) {
      Tables.parquet(spark, path)
      val (jobs, cached) = countingJobs(Tables.parquet(spark, path))
      assert(jobs == 0, s"$path: a cached read ran $jobs jobs")
      val plain = spark.read.parquet(path)
      assert(cached.schema == plain.schema, path)
      assert(sameRows(cached, plain), path)
    }
  }

  test("a rewritten file re-keys the schema cache on its mtime or its length") {
    val path = Files.createTempDirectory("tables_spec").toString + "/t.parquet"
    val a = writeFile(spark.range(5).toDF("a"), path)
    val (len, mtime) = (a.length(), a.lastModified())
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("a"))
    // same length, new mtime: only the mtime tells the files apart
    val b = writeFile(spark.range(5).toDF("b"), path)
    assert(b.length() == len)
    assert(b.setLastModified(mtime + 60000L))
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("b"))
    // new length, the mtime set back: only the length tells them apart
    val c = writeFile(spark.range(5).selectExpr("id AS c", "'x' AS d"), path)
    assert(c.length() != len)
    assert(c.setLastModified(mtime + 60000L))
    assert(Tables.parquet(spark, path).columns.toSeq == Seq("c", "d"))
  }

  test("a file added to a directory re-keys the schema cache") {
    val dir = Files.createTempDirectory("tables_spec").toString + "/t"
    spark.range(5).toDF("a").write.parquet(dir)
    assert(Tables.parquet(spark, dir).count() == 5)
    assert(countingJobs(Tables.parquet(spark, dir))._1 == 0)
    spark.range(5, 8).toDF("a").write.mode("append").parquet(dir)
    val (jobs, df) = countingJobs(Tables.parquet(spark, dir))
    assert(jobs == 1, s"the read after an append ran $jobs jobs, not one inference")
    assert(df.count() == 8)
    assert(countingJobs(Tables.parquet(spark, dir))._1 == 0)
  }
}
