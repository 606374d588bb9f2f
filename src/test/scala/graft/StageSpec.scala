package graft

import java.io.File
import java.nio.file.Files

/** The stage-once protocol behind every staged artifact and stream
  * stage: build once per key, publish only a finished build, re-key on a
  * source change, and serve directory builds with `_SUCCESS`. Each test
  * keys on its own temp source dir, so nothing is shared with the
  * registry's stages. */
class StageSpec extends SparkSpec {

  /** A fresh source dir holding a one-file `documents.parquet`. */
  private def source(): String = {
    val dir = Files.createTempDirectory("stage_spec").toString
    spark.range(3).coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def leaf(dir: String): File =
    new File(s"$dir/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head

  test("a second call with the same inputs does not run the build") {
    val dir = source()
    var builds = 0
    def stage() = Stage.parquet(spark, dir, "spec-v1", "spec") {
      builds += 1; spark.range(5).toDF("x")
    }
    assert(stage().count() == 5)
    assert(stage().count() == 5)
    assert(builds == 1)
  }

  test("a build that throws publishes no CURRENT; the next call rebuilds") {
    val dir = source()
    var attempts = Seq.empty[String]
    def stage(fail: Boolean) = Stage.directory(spark, dir, "spec-v1", "spec") { o =>
      attempts :+= o
      spark.range(4).toDF("x").write.parquet(s"$o/rows")
      if (fail) throw new IllegalStateException("boom")
    }
    assert(intercept[IllegalStateException](stage(fail = true)).getMessage == "boom")
    val keyed = new File(attempts.head).getParentFile
    assert(!new File(keyed, "CURRENT").exists())
    val out = stage(fail = false)
    assert(attempts.size == 2 && out == attempts(1))
    assert(new File(keyed, "CURRENT").exists())
  }

  test("a new mtime on a source file gives a new key") {
    val dir = source()
    var builds = 0
    def stage() = Stage.directory(spark, dir, "spec-v1", "spec") { o =>
      builds += 1; new File(o).mkdirs()
    }
    val first = new File(stage()).getParentFile
    val f = leaf(dir)
    assert(f.setLastModified(f.lastModified() - 60000L))
    val second = new File(stage()).getParentFile
    assert(builds == 2)
    assert(first.getName != second.getName)
    assert(first.getName.startsWith("spec_") && second.getName.startsWith("spec_"))
  }

  test("a directory build reads back after publishing and carries _SUCCESS") {
    val dir = source()
    val out = Stage.directory(spark, dir, "spec-v1", "spec") { o =>
      spark.range(4).toDF("x").write.parquet(s"$o/rows")
      spark.range(2).toDF("y").write.parquet(s"$o/other")
    }
    assert(new File(out, "_SUCCESS").exists())
    assert(spark.read.parquet(s"$out/rows").count() == 4)
    assert(spark.read.parquet(s"$out/other").count() == 2)
    // the published path is what a second call serves
    assert(Stage.directory(spark, dir, "spec-v1", "spec")(_ => sys.error("rebuilt")) == out)
  }
}
