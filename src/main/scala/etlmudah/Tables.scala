package etlmudah

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the harness testdata tables (TESTDATA.md).
  *
  * Every reader is a plain parquet scan so Catalyst's column pruning and
  * predicate pushdown reach the file source — callers `.select`/`.filter`
  * and the scan narrows automatically. At cluster scale these would be
  * partitioned table locations; the API is identical.
  */
object Tables {
  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The file identity of `path`: its qualified URI path and, sorted, one
    * `relative/path|length|mtime` entry per visible leaf file (a single
    * file is one `length|mtime` entry).
    *
    * The listing is RECURSIVE: a partitioned/nested layout has no
    * top-level data files, and a non-recursive list would leave the
    * identity constant across rewrites. Paths are recorded relative to
    * the root so nested same-name files stay distinct. A leaf only
    * counts if NO segment on its relative path is `_`/`.`-prefixed: data
    * under e.g. a leftover `_temporary/` from a killed write is not part
    * of the table. Throws `FileNotFoundException` if `path` is absent. */
  def fileIdentity(spark: SparkSession, path: String): (String, Seq[String]) = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BEFORE relativizing: listFiles returns scheme-qualified
    // paths, so stripping an unqualified root would be a no-op and the
    // entries would carry absolute paths
    val src = fs.makeQualified(new Path(path))
    val srcUriPath = src.toUri.getPath
    val rootSt = fs.getFileStatus(src)
    val leaves =
      if (rootSt.isDirectory) {
        val it = fs.listFiles(src, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val st = it.next()
          val segs = scala.collection.mutable.ArrayBuffer.empty[String]
          var p = st.getPath
          var visible = true
          while (p != null && p.toUri.getPath != srcUriPath) {
            segs += p.getName
            if (p.getName.startsWith("_") || p.getName.startsWith("."))
              visible = false
            p = p.getParent
          }
          if (visible && p != null)
            buf += s"${segs.reverse.mkString("/")}|${st.getLen}|${st.getModificationTime}"
        }
        buf.sorted.toSeq
      } else Seq(s"${rootSt.getLen}|${rootSt.getModificationTime}")
    (srcUriPath, leaves)
  }

  /** Per session: qualified path -> (leaf identity, inferred schema). One
    * entry per path, so a directory rewritten on every call replaces its
    * entry instead of growing the map. */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[String, (Seq[String], StructType)]]

  /** `spark.read.parquet(path)` that infers the schema once per session
    * and file identity ([[fileIdentity]]), then reads with that schema:
    * inference runs a Spark job per read (~90 ms at sf0.01), a read with
    * a known schema runs none. Any change to a leaf file's length or
    * mtime, or an added or removed leaf, infers again. An absent path
    * falls through to the plain read and its usual error. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val id =
      try Some(fileIdentity(spark, path))
      catch { case _: java.io.FileNotFoundException => None }
    id.fold(spark.read.parquet(path)) { case (qualified, leaves) =>
      val cache = schemas.synchronized(schemas.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap()))
      Option(cache.get(qualified)).collect { case (`leaves`, s) => s } match {
        case Some(s) => spark.read.schema(s).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          cache.put(qualified, (leaves, df.schema))
          df
      }
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "events")

  /** events with `ts` as a proper (UTC-instant) TimestampType,
    * adapting to however the file stores it:
    *  - TIMESTAMP(NANOS) + `spark.sql.legacy.parquet.nanosAsLong` →
    *    epoch-nanos LongType, converted with integer division (a double
    *    `/` would lose precision above 2^53 nanos ≈ 1970+104 days);
    *  - timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ, cast
    *    to TimestampType (sessions pin timeZone=UTC, so the cast is the
    *    identity on the underlying micros);
    *  - already TimestampType → pass through. */
  def eventsTyped(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros, expr}
    val raw = events(spark, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
