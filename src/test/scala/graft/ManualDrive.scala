package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

import etlmudah.streaming.Streaming
import etlmudah.multimodal.Multimodal

/** Dev-only drive harness: exercises library operators end-to-end on the
  * testdata. Run with `sbt "Test/runMain graft.ManualDrive"`.
  * Not a ScalaTest suite — a manual smoke surface for quick verification.
  */
object ManualDrive {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("drive_r12").toString

    // 1. overflow-dim hostile PNG/AVI blobs through the REGISTERED SQL
    //    surface: crafted 0xFFFFFFFF-dim headers must null, not throw
    println("== hostile huge-dim PNG/AVI through the SQL surface")
    def crc32(b: Array[Byte], off: Int, len: Int): Long = {
      val c = new java.util.zip.CRC32(); c.update(b, off, len); c.getValue
    }
    def hugePng(): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      val ihdr = new Array[Byte](13)
      for (i <- 0 until 4) { ihdr(i) = 0xFF.toByte; ihdr(4 + i) = 0xFF.toByte }
      ihdr(8) = 8; ihdr(9) = 2
      val chunk = new Array[Byte](4 + 13)
      "IHDR".getBytes("US-ASCII").copyToArray(chunk)
      ihdr.copyToArray(chunk, 4)
      o.write(Array[Byte](0, 0, 0, 13))
      o.write(chunk)
      val cv = crc32(chunk, 0, chunk.length)
      o.write((0 until 4).map(i => ((cv >> (24 - 8 * i)) & 0xFF).toByte).toArray)
      o.toByteArray
    }
    val hostile = Seq((1L, hugePng())).toDF("id", "png")
      .select(col("id"), Multimodal.pngPixelStats(col("png")).as("ps"),
        Multimodal.pngAHash(col("png")).as("ph"))
    hostile.show(false)
    val hr = hostile.collect().head
    println(s"huge-dim png nulls whole: ps=${hr.isNullAt(1)} ph=${hr.isNullAt(2)}")

    // real synthesized PNG/AVI still decode on the same surface
    val good = (0L until 4L).toDF("id").select(col("id"),
      Multimodal.fakePng24(col("id"), lit(4), lit(3)).as("png"),
      Multimodal.fakeAvi(col("id"), lit(4), lit(3), lit(2)).as("avi"))
      .select(col("id"), Multimodal.pngAHash(col("png")).as("ph"),
        Multimodal.aviFrameAHash(col("avi"), lit(0)).as("ah"),
        Multimodal.aviMeta(col("avi")).as("m"))
    good.show(false)
    println("png/avi frame-0 hash parity: " + good.collect().forall(r =>
      r.getStruct(1) == r.getStruct(2)))

    // 2. q330 CUPED on the (19,6)x(18,6) exact-decimal grid
    println("== q330_cuped_adjustment (sf0.001)")
    SparkEntry.queries("q330_cuped_adjustment")(spark, sf).show(false)

    // 3. latenessAuditSink: EMPTY first batch is a no-op, then data flows
    println("== latenessAuditSink with empty first micro-batch")
    val src = s"$out/events"
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(s"$src")
    new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.renameTo(new java.io.File(src, "a_empty.parquet")))
    Thread.sleep(1100)
    spark.read.parquet(s"$sf/events.parquet").limit(50).coalesce(1)
      .write.mode("append").parquet(src)
    val q = Streaming.latenessAuditSink(
        Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
        s"$out/counts", s"$out/late", s"$out/wm", s"$out/cp",
        latenessUs = 7200000000L, compactEvery = 2)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val counts = spark.read.parquet(s"$out/counts")
    println(s"counts rows=${counts.count()} (stream survived the empty batch)")
    counts.orderBy("hour_us", "event_type").show(5, false)

    // 4. round-12 tier smoke: coreness (ladder + h-index dial land
    //    identically), adaptive k-core, JPEG decode, MJPEG sampling,
    //    bucketed Gini == exact Gini
    println("== coreness ladder vs h-index dial (sf0.001)")
    val cl = SparkEntry.queries("q336_coreness")(spark, sf).collect()
    val ch = SparkEntry.queries("q345_coreness_hindex")(spark, sf).collect()
    println(s"ladder rows=${cl.length} hindex rows=${ch.length} " +
      s"identical=${cl.map(_.toSeq).toSeq == ch.map(_.toSeq).toSeq}")
    println("== adaptive k-core (sf0.001)")
    SparkEntry.queries("q309_k_core")(spark, sf).show(3)
    println("== JPEG pixel stats + MJPEG frame sampling (sf0.001)")
    SparkEntry.queries("q337_jpeg_pixel_stats")(spark, sf).show(3)
    SparkEntry.queries("q344_mjpeg_frame_sample")(spark, sf).show(3)
    println("== gini exact vs bucketed (sf0.001)")
    val ge = SparkEntry.queries("q318_revenue_gini")(spark, sf).collect()
    val gb = SparkEntry.queries("q340_gini_bucketed")(spark, sf).collect()
    println(s"exact=${ge.head} bucketed=${gb.head} " +
      s"identical=${ge.head.toSeq == gb.head.toSeq}")

    // 5. round-13 PNG tier smoke: one gray image through five sample
    //    layouts + a 16-bit leg land on ONE hash; APNG frame sampling
    //    equals the animated-GIF statistics on the shared pixel rule
    println("== PNG color-type/bit-depth quintets (one hash group each)")
    val quint = (0L until 12L).toDF("id")
      .select(expr("id div 6").as("seed"), (col("id") % 6).as("leg"))
      .select(when(col("leg") === 0,
        Multimodal.pngAHash(Multimodal.fakePngTyped(col("seed"), lit(9),
          lit(7), lit(0))))
        .when(col("leg") === 1, Multimodal.pngAHash(
          Multimodal.fakePngTyped(col("seed"), lit(9), lit(7), lit(2))))
        .when(col("leg") === 2, Multimodal.pngAHash(
          Multimodal.fakePngTyped(col("seed"), lit(9), lit(7), lit(3))))
        .when(col("leg") === 3, Multimodal.pngAHash(
          Multimodal.fakePngTyped(col("seed"), lit(9), lit(7), lit(6))))
        .when(col("leg") === 4, Multimodal.pngAHash(
          Multimodal.fakePng16(col("seed"), lit(9), lit(7), lit(2))))
        .otherwise(Multimodal.pngAHash(
          Multimodal.fakePng16(col("seed"), lit(9), lit(7), lit(6))))
        .as("ah"))
      .groupBy(col("ah")).agg(count(lit(1)).as("n"))
    quint.show(false)
    // ahash is brightness-shift-invariant, so nearby seeds may merge
    // legitimately — the invariant is that no sextet ever SPLITS
    println("all sextets whole: " +
      quint.collect().forall(_.getLong(1) % 6L == 0L))
    println("== APNG vs animated-GIF frame sampling (sf0.001)")
    val ap = SparkEntry.queries("q364_apng_frame_sample")(spark, sf).collect()
    val gg = SparkEntry.queries("q353_gif_anim_frame_sample")(spark, sf).collect()
    println(s"apng rows=${ap.length} gif rows=${gg.length} " +
      s"identical=${ap.map(_.toSeq).toSeq == gg.map(_.toSeq).toSeq}")

    spark.stop()
    println("== drive done")
  }
}
