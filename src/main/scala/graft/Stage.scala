package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-once machinery: an artifact derived from a source table is
  * built once per corpus identity and reused by every consumer, across
  * calls and across processes sharing `java.io.tmpdir`. */
object Stage {

  private def tmpdir: String = System.getProperty("java.io.tmpdir", "/tmp")

  /** Root of every staged artifact; Bench clears it at startup. */
  def root: String = s"$tmpdir/graft_stage"

  /** Per-corpus scratch directory `<tmpdir>/<name>_<dir>` (non-alphanumerics
    * of `dir` as `_`) for the sink round-trip queries. */
  def scratch(name: String, dir: String): String =
    s"$tmpdir/${name}_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"

  /** Builds a directory artifact once and returns its published path.
    * `build` writes the artifact into the directory it is given.
    *
    * The artifact is keyed on source URI + per-leaf-file (name, length,
    * mtime) of `dir/srcTable` ([[etlmudah.Tables.fileIdentity]]) + `tag`,
    * the builder's version and parameters: a corpus regeneration or a
    * parameter change rebuilds instead of silently reusing a stale
    * artifact. Each writer builds
    * under its own attempt dir, marks it with `_SUCCESS`, then atomically
    * renames a pointer file into `CURRENT`. A live attempt dir is never
    * deleted, so racing writers and mid-scan readers are always safe; a
    * build that throws publishes nothing and the next call rebuilds. */
  def directory(s: SparkSession, dir: String, tag: String, prefix: String,
                srcTable: String = "documents.parquet")
               (build: String => Unit): String = {
    val fs = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    val (srcUriPath, leafIds) = etlmudah.Tables.fileIdentity(s, s"$dir/$srcTable")
    // layout=2: attempt-dir + CURRENT-pointer publishing; the version
    // keeps new code off old-layout dirs from earlier rounds
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((s"$srcUriPath|$tag|layout=2|n=${leafIds.size}|" + leafIds.mkString(";"))
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = s"$root/${prefix}_$key"
    val current = new Path(s"$out/CURRENT")
    def resolve(): Option[String] =
      try {
        if (!fs.exists(current)) None
        else {
          val in = fs.open(current)
          val name = try scala.io.Source.fromInputStream(in).mkString.trim
            finally in.close()
          Some(s"$out/$name")
            .filter(a => fs.exists(new Path(s"$a/_SUCCESS")))
        }
      } catch {
        // a racing writer's delete+rename pointer swap has a window
        // where CURRENT vanishes between our exists() and open() —
        // treat it as absent (worst case: a redundant rebuild), never
        // a propagated FileNotFoundException
        case _: java.io.FileNotFoundException => None
      }
    resolve().getOrElse {
      val attempt = s"attempt-${java.util.UUID.randomUUID().toString.take(8)}"
      build(s"$out/$attempt")
      val success = new Path(s"$out/$attempt/_SUCCESS")
      if (!fs.exists(success)) fs.create(success).close()
      val ctmp = new Path(s"$out/.CURRENT.$attempt")
      val o = fs.create(ctmp, true)
      try o.write(attempt.getBytes("UTF-8")) finally o.close()
      fs.delete(current, false) // no-op unless a racer just published
      fs.rename(ctmp, current)  // atomic; loser's pointer stays as junk
      fs.delete(ctmp, false)    // if our rename lost, drop our pointer
      // a racer mid-swap can blank CURRENT for an instant; one retry
      // covers it before declaring the publish failed
      resolve().orElse { Thread.sleep(50); resolve() }
        .getOrElse(sys.error(s"staged artifact publish failed: $out"))
    }
  }

  /** [[directory]] for a single parquet table. */
  def parquet(s: SparkSession, dir: String, tag: String, prefix: String,
              srcTable: String = "documents.parquet")
             (build: => DataFrame): DataFrame =
    etlmudah.Tables.parquet(s, directory(s, dir, tag, prefix, srcTable)(
      build.write.mode("overwrite").parquet(_)))

  /** Stages events `ev` as a file stream source under `root/src` and
    * returns that path: one parquet file per event-time day, named
    * `name(day)`, then the `extra` files. Day files arrive in name order
    * and the extras after them: the files' mtimes are set 2 s apart in
    * that sequence, and a file source feeds the oldest mtime first, so
    * with one file per trigger the sequence is the micro-batch order. */
  def dayLadder(s: SparkSession, root: String, ev: DataFrame, name: Int => String,
                extra: Seq[(String, DataFrame)] = Nil): String = {
    val src = s"$root/src"
    val fs = new Path(src).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(src))
    // bounded driver collect: <= 31 day keys
    val days = ev.select(dayofmonth(col("ts")).as("d")).distinct()
      .collect().map(_.getInt(0))
    val files = days.map(d => name(d) -> ev.filter(dayofmonth(col("ts")) === d))
      .sortBy(_._1).toSeq ++ extra
    files.zipWithIndex.foreach { case ((n, df), i) =>
      val tmp = s"$root/tmp_$n"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      val file = new Path(src, s"$n.parquet")
      fs.rename(part, file)
      fs.delete(new Path(tmp), true)
      fs.setTimes(file, 1700000000000L + i * 2000L, -1)
    }
    src
  }
}
