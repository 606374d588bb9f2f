package etlmudah.streaming

import graft.SparkSpec
import etlmudah.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  /** Await termination AND full deregistration: awaitTermination can
    * return before the stream thread's finally-block releases the
    * checkpoint-path registration, so an immediate restart on the SAME
    * checkpoint races a spurious "multiple streaming queries are
    * concurrently using <path>" — drain the active list first. */
  private def awaitDrained(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination(120000)
    q.stop()
    val deadline = System.currentTimeMillis() + 30000
    while (spark.streams.active.nonEmpty &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  /** Simulate a crash between a batch's side effects and its checkpoint
    * commit: drop the commit record (and its checksum sibling — a stale
    * .crc makes the re-written commit's atomic rename fail and Spark
    * misreports it as a concurrent query) so a restart re-delivers. */
  private def dropCommit(cp: String, batchId: Int): Unit = {
    Files.delete(java.nio.file.Paths.get(s"$cp/commits/$batchId"))
    val crc = java.nio.file.Paths.get(s"$cp/commits/.$batchId.crc")
    if (java.nio.file.Files.exists(crc)) Files.delete(crc)
  }

  /** File-stream sources need a directory; stage the events file into one. */
  private def stageEvents(tag: String): String = {
    val dir = Files.createTempDirectory(tag).toString + "/events"
    spark.read.parquet(s"$sf0001/events.parquet")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** Stage one DataFrame as a single flat parquet file inside `srcDir`
    * (the file-source layout): write to a temp dir, move the part file
    * in under `name`. Callers space calls (or sleep) so modTime keeps
    * the intended batch order. */
  private def stageParquet(df: org.apache.spark.sql.DataFrame,
                           srcDir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("stage_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(srcDir).mkdirs()
    Files.move(part.toPath, java.nio.file.Paths.get(s"$srcDir/$name"))
  }

  test("readEvents: no parquet file yet falls back to the fixed schema; a corrupt file throws") {
    val empty = Files.createTempDirectory("src_empty").toString
    val fallback = Streaming.readEvents(spark, empty).schema
    assert(fallback.fieldNames.toSeq == Streaming.eventsFileSchema.fieldNames.toSeq)
    assert(fallback("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val corrupt = Files.createTempDirectory("src_corrupt").toString
    Files.write(java.nio.file.Paths.get(s"$corrupt/day01.parquet"), "PAR1 truncated".getBytes("UTF-8"))
    intercept[Exception](Streaming.readEvents(spark, corrupt))
  }

  test("hourlyCounts stream == batch twin on the same input (exactly-once contract)") {
    val out = Files.createTempDirectory("stream_out").toString
    val q = Streaming.hourlyCounts(
        Streaming.readEvents(spark, stageEvents("src_hourly")))
      .writeStream
      .format("memory").queryName("hourly")
      .outputMode("complete")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val streamed = spark.table("hourly")
      .orderBy("hour_us", "event_type").collect()
    val batch = Tables.eventsTyped(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy("hour_us", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("userSessions stream == batch session_window on the same input") {
    val out = Files.createTempDirectory("stream_sess").toString
    val q = Streaming.userSessions(
        Streaming.readEvents(spark, stageEvents("src_sess")))
      .writeStream
      .format("memory").queryName("sessions")
      .outputMode("complete")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val streamed = spark.table("sessions")
      .orderBy("user_id", "session_start_us").collect()
    val batch = Tables.eventsTyped(spark, sf0001)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("events_in_session"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("events_in_session"))
      .orderBy("user_id", "session_start_us").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("dedupEvents drops duplicate event_ids within the watermark") {
    val out = Files.createTempDirectory("stream_dedup").toString
    val src = s"$out/src"
    new java.io.File(src).mkdirs()
    // duplicate the events file -> every event_id arrives twice
    val events = spark.read.parquet(s"$sf0001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    val extra = spark.read.parquet(src)
    extra.write.mode("append").parquet(src)

    val q = Streaming.dedupEvents(Streaming.readEvents(spark, src))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val n = spark.table("dedup").count()
    val distinct = events.select("event_id").distinct().count()
    assert(n == distinct, s"expected $distinct deduped rows, got $n")
  }

  test("userProfiles: mapGroupsWithState accumulates across batches == batch aggregate") {
    val out = Files.createTempDirectory("stream_state").toString
    val src = stageEvents("src_state")
    val q = Streaming.userProfiles(Streaming.readEvents(spark, src))
      .writeStream.format("memory").queryName("profiles")
      .outputMode("update")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val streamed = spark.table("profiles")
      .groupBy("userId")   // keep the LAST update per user
      .agg(max("events").as("events"), max("valueSum").as("valueSum"))
      .orderBy("userId").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    val batch = etlmudah.Tables.eventsTyped(spark, sf0001)
      .groupBy(col("user_id")).agg(
        count(lit(1)).as("events"), sum("value").as("valueSum"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 100)))
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("userProfiles stateTtl: idle keys are evicted and restart from zero") {
    import spark.implicits._
    val out = Files.createTempDirectory("stream_ttl").toString
    val src = s"$out/src"
    // four files -> four micro-batches (maxFilesPerTrigger through a
    // documents-style flat staging; modTime spacing keeps the order)
    def stageFile(rows: Seq[(Long, Long, Long)], name: String): Unit = {
      stageParquet(rows.toDF("event_id", "user_id", "us")
        .select(col("event_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("user_id"), lit("click").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props")), src, name)
      Thread.sleep(100)
    }
    val t0 = 1700000000000000L   // epoch micros
    val hourUs = 3600L * 1000000L
    // batch 1: user 1 twice, user 2 once
    stageFile(Seq((1L, 1L, t0), (2L, 1L, t0 + 1000L), (3L, 2L, t0)), "f1.parquet")
    // batch 2: only user 2, 10 h later -> watermark (10 h - 30 min
    // lateness) passes user 1's timeout (t0 + 1 h) after this batch
    stageFile(Seq((4L, 2L, t0 + 10L * hourUs)), "f2.parquet")
    // batch 3: only user 2 again — user 1 has no data, so its timed-out
    // group fires here and the state is removed
    stageFile(Seq((5L, 2L, t0 + 11L * hourUs)), "f3.parquet")
    // batch 4: user 1 returns -> must restart from zero (events=1)
    stageFile(Seq((6L, 1L, t0 + 12L * hourUs)), "f4.parquet")

    val q = Streaming.userProfiles(
        Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
        stateTtl = Some("1 hour"), lateness = "30 minutes")
      .writeStream.format("memory").queryName("ttl_profiles")
      .outputMode("update")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val u1 = spark.table("ttl_profiles").filter(col("userId") === 1L)
      .select("events", "lastSeenUs").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // batch 1 update (events=2), the timeout's final emission (events=2),
    // and the post-eviction restart (events=1, NOT 3 — state was removed)
    assert(u1.count(_ == (2L, t0 + 1000L)) == 2,
      s"expected update + final emission for user 1, got ${u1.toSeq}")
    assert(u1.contains((1L, t0 + 12L * hourUs)),
      s"user 1 did not restart from zero after eviction: ${u1.toSeq}")
    assert(!u1.exists(_._1 == 3L),
      s"user 1 state survived the TTL: ${u1.toSeq}")
    // user 2 was never idle past the TTL: accumulates to 3 with no reset
    val u2 = spark.table("ttl_profiles").filter(col("userId") === 2L)
      .select("events").collect().map(_.getLong(0))
    assert(u2.max == 3L, s"user 2 profile lost accumulation: ${u2.toSeq}")
  }

  test("clickAttribution stream-stream interval join == batch interval join") {
    val out = Files.createTempDirectory("stream_attr").toString
    val src = stageEvents("src_attr")
    val q = Streaming.clickAttribution(Streaming.readEvents(spark, src))
      .writeStream.format("memory").queryName("attr")
      .outputMode("append")
      .option("checkpointLocation", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)

    val streamed = spark.table("attr")
      .orderBy("purchase_id", "click_id").collect()
    val ev = Tables.eventsTyped(spark, sf0001)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
    val batch = p.join(c, Seq("user_id"))
      .filter(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
      .orderBy("purchase_id", "click_id").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
  }

  test("dedupIngestSink: one survivor per fingerprint across batches, re-run converges") {
    val out = Files.createTempDirectory("stream_dedup").toString
    val src = s"$out/src"
    // two files -> two micro-batches (maxFilesPerTrigger=1); plant a dup
    // within batch 1, a cross-batch dup in batch 2, and a fresh doc
    import spark.implicits._
    // the file source lists FLAT files: write each batch to a temp dir
    // and move its single part-file into the source dir
    def stageFile(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageParquet(df, src, name)
    stageFile(Seq((1L, "alpha beta gamma", "en", "s", 16L),
        (2L, "alpha beta gamma", "en", "s", 16L),     // in-batch dup of 1
        (3L, "delta epsilon zeta", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f1.parquet")
    Thread.sleep(100)   // file source orders by modTime: keep f1 < f2
    stageFile(Seq((4L, "ALPHA   beta gamma", "en", "s", 18L),  // dup of 1
        (5L, "eta theta iota", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f2.parquet")
    val base = s"$out/base"
    val fps = s"$out/fps"
    def runOnce(cp: String): Unit = {
      val q = Streaming.dedupIngestSink(
          Streaming.readDocuments(spark, src), base, fps, cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val ids = spark.read.parquet(base).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // survivors: 1 (min id of the in-batch pair), 3, 5; 4 is a corpus dup
    assert(ids == Set(1L, 3L, 5L))
    assert(spark.read.parquet(fps).distinct().count() == 3)
    runOnce(s"$out/cp2")   // full re-delivery against standing state
    val again = spark.read.parquet(base).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == Set(1L, 3L, 5L))

    // crash-torn swap states: the live fingerprint table is absent only
    // between the two swap renames — simulate both torn layouts and
    // prove replay recovers the state instead of re-admitting the corpus
    def torn(suffix: String, cp: String): Unit = {
      Files.move(java.nio.file.Paths.get(fps),
        java.nio.file.Paths.get(fps + suffix))
      runOnce(cp)
      val ids2 = spark.read.parquet(base).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(ids2 == Set(1L, 3L, 5L), s"$suffix recovery: $ids2")
      assert(spark.read.parquet(fps).distinct().count() == 3)
    }
    torn("__tmp", s"$out/cp3")   // crashed after table moved aside
    torn("__old", s"$out/cp4")   // crashed before tmp moved in
  }

  test("anomalySink: standing-state scores == batch anomalyZ, state compacts, re-run converges") {
    import etlmudah.analytics.Analytics
    val out = Files.createTempDirectory("stream_anom").toString
    // five files -> five micro-batches so compactEvery=2 fires twice
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/events.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    def runOnce(cp: String): Unit = {
      val q = Streaming.anomalySink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
          s"$out/state", s"$out/report", cp, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val streamed = spark.read.parquet(s"$out/report")
      .orderBy("event_type", "hour_us").collect()
    val batch = Analytics.anomalyZ(Tables.eventsTyped(spark, sf0001),
      "ts", "event_type").collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
    // compaction really fired: only partitions {3, 4} remain
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .distinct().collect().map(_.get(0).toString.toInt).toSet == Set(3, 4))
    // re-delivered COMPACTION batch (crash between compaction swap and
    // checkpoint commit): report must come out identical
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val redelivered = spark.read.parquet(s"$out/report")
      .orderBy("event_type", "hour_us").collect()
    assert(streamed.zip(redelivered).forall { case (a, b) => a == b })
    runOnce(s"$out/cp2")   // full re-delivery: counts re-sum, report identical
    val again = spark.read.parquet(s"$out/report")
      .orderBy("event_type", "hour_us").collect()
    assert(streamed.zip(again).forall { case (a, b) => a == b })
  }

  test("heavyHitterSink: report == batch cmsHeavyHitters, grid merges across batches, re-run converges") {
    import etlmudah.scale.Sketches
    val out = Files.createTempDirectory("stream_hh").toString
    val src = s"$out/src"
    // five files -> five micro-batches so compactEvery=2 fires twice
    spark.read.parquet(s"$sf0001/events.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    val all = spark.read.parquet(src)
    def runOnce(cp: String): Unit = {
      val q = Streaming.heavyHitterSink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
          "event_type", s"$out/state", s"$out/report", cp,
          depth = 4, width = 2, topN = 5, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val streamed = spark.read.parquet(s"$out/report")
      .orderBy(col("n_exact").desc, col("key")).collect()
    // the batch operator over the full corpus — the per-batch grids
    // merged by addition MUST equal the one-shot grid (mergeability)
    val batch = Sketches.cmsHeavyHitters(all, "event_type",
      depth = 4, width = 2, topN = 5).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
    // width 2 over 4+ event types: by pigeonhole at least one key
    // shares a bucket in EVERY depth row, so a nonzero overcount is
    // guaranteed — the sketch side of the parity cannot be vacuous
    assert(streamed.exists(_.getLong(3) > 0),
      "expected a nonzero overcount at width 2")
    // compaction really fired on BOTH state frames
    for (p <- Seq("state__keys", "state__grid"))
      assert(spark.read.parquet(s"$out/$p").select("batch_id")
        .distinct().collect().map(_.get(0).toString.toInt).toSet ==
        Set(3, 4), p)
    // re-delivered compaction batch, then a full fresh re-run
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val redelivered = spark.read.parquet(s"$out/report")
      .orderBy(col("n_exact").desc, col("key")).collect()
    assert(streamed.zip(redelivered).forall { case (a, b) => a == b })
    runOnce(s"$out/cp2")
    val again = spark.read.parquet(s"$out/report")
      .orderBy(col("n_exact").desc, col("key")).collect()
    assert(streamed.zip(again).forall { case (a, b) => a == b })
  }

  test("attributionJoin: stream-stream interval join == the batch join over the same frames") {
    val out = Files.createTempDirectory("stream_ssjoin").toString
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/events.parquet").repartition(4)
      .write.mode("overwrite").parquet(src)
    // batch truth: the identical interval join on the static frames
    // (sf0.001 events store TIMESTAMP_NTZ; UTC session makes the cast
    // the identity on the underlying micros — the Tables.eventsTyped
    // convention)
    val st = spark.read.parquet(src)
      .withColumn("ts", col("ts").cast("timestamp"))
    val bc = st.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val bp = st.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val win = 3600000000L
    val batch = bc.join(bp, col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $win MICROSECOND"))
      .select(col("c_user"), unix_micros(col("c_ts")),
        unix_micros(col("p_ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(batch.nonEmpty, "fixture must produce attribution pairs")
    def runOnce(tag: String): Set[(Long, Long, Long)] = {
      val ev = Streaming.readEvents(spark, src, maxFilesPerTrigger = 1)
      // lateness beyond the corpus span: the files arrive in random
      // event-time order, and this pin is about JOIN algebra, not
      // late-drop policy (the watermark bound is the state story)
      val j = Streaming.attributionJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"),
        "user_id", "ts", win, lateness = "60 days")
      val q = j.select(col("c_user"), unix_micros(col("c_ts")).as("cus"),
          unix_micros(col("p_ts")).as("pus"))
        .writeStream.format("parquet")
        .option("path", s"$out/joined_$tag")
        .option("checkpointLocation", s"$out/cp_$tag")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      spark.read.parquet(s"$out/joined_$tag")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    }
    assert(runOnce("a") == batch, "streamed join must equal the batch join")
    assert(runOnce("b") == batch, "a fresh checkpoint converges too")
  }

  test("attributionJoinLeftOuter: stream == batch on closed windows INCLUDING the null-padded rows; re-run converges") {
    import spark.implicits._
    val out = Files.createTempDirectory("stream_louter").toString
    val src = s"$out/src"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def ev(id: Long, u: Long, h: Int, m: Int, typ: String) =
      (id, ts(h, m), u, typ, 1.0, "{}")
    def frame(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    // u1: click then purchase inside the 1h window -> matched pair
    // u2: purchase, no click at all -> null-padded
    // u3: click 90min before the purchase (outside window) -> null-padded
    // u4: click AFTER the purchase -> null-padded
    // u5: two clicks in window -> two joined rows
    val data = Seq(
      ev(1, 1, 10, 0, "click"), ev(2, 1, 10, 30, "purchase"),
      ev(3, 2, 10, 15, "purchase"),
      ev(4, 3, 9, 0, "click"), ev(5, 3, 10, 30, "purchase"),
      ev(6, 4, 10, 40, "click"), ev(7, 4, 10, 20, "purchase"),
      ev(8, 5, 10, 5, "click"), ev(9, 5, 10, 10, "click"),
      ev(10, 5, 10, 45, "purchase"))
    // heartbeat batches: advance the watermark far past every window
    // (eviction emits the null rows), then once more so the final
    // trigger flushes state the previous watermark expired
    val hb1 = Seq(ev(90, 99, 20, 0, "click"))
    val hb2 = Seq(ev(91, 99, 21, 0, "click"))
    stageParquet(frame(data), src, "f1.parquet")
    Thread.sleep(1100)
    stageParquet(frame(hb1), src, "f2.parquet")
    Thread.sleep(1100)
    stageParquet(frame(hb2), src, "f3.parquet")
    val win = 3600000000L
    def runOnce(tag: String): Set[(Long, Long, Option[Long])] = {
      val evs = Streaming.readEvents(spark, src, maxFilesPerTrigger = 1)
      val j = Streaming.attributionJoinLeftOuter(
        evs.where(col("event_type") === "purchase"),
        evs.where(col("event_type") === "click"),
        "user_id", "ts", win, lateness = "10 minutes")
      val q = j.select(col("p_user"), unix_micros(col("p_ts")).as("pus"),
          unix_micros(col("c_ts")).as("cus"))
        .writeStream.format("parquet")
        .option("path", s"$out/joined_$tag")
        .option("checkpointLocation", s"$out/cp_$tag")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      spark.read.parquet(s"$out/joined_$tag")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    }
    // batch truth: the identical LEFT OUTER interval join on the
    // static frames, restricted to the non-heartbeat users (their
    // windows are all closed by the heartbeat watermark)
    val st = frame(data).withColumn("ts", col("ts").cast("timestamp"))
    val bp = st.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val bc = st.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = bp.join(bc, col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $win MICROSECOND"),
        "left_outer")
      .select(col("p_user"), unix_micros(col("p_ts")),
        unix_micros(col("c_ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    // the fixture must exercise BOTH join outcomes
    assert(batch.exists(_._3.isEmpty) && batch.exists(_._3.nonEmpty))
    assert(batch.count(_._3.isEmpty) == 3, batch.toString) // u2, u3, u4
    val streamed = runOnce("a")
    assert(streamed == batch,
      s"stream=$streamed\nbatch=$batch")
    // crash replay: re-deliver the final heartbeat batch — the
    // parquet sink's commit log dedupes, state eviction re-converges
    dropCommit(s"$out/cp_a", 2)
    // SAME topology as runOnce (one shared file source feeding both
    // sides — the checkpoint records exactly one source)
    val evs2 = Streaming.readEvents(spark, src, maxFilesPerTrigger = 1)
    val q2 = Streaming.attributionJoinLeftOuter(
        evs2.where(col("event_type") === "purchase"),
        evs2.where(col("event_type") === "click"),
        "user_id", "ts", win, lateness = "10 minutes")
      .select(col("p_user"), unix_micros(col("p_ts")).as("pus"),
        unix_micros(col("c_ts")).as("cus"))
      .writeStream.format("parquet")
      .option("path", s"$out/joined_a")
      .option("checkpointLocation", s"$out/cp_a")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q2)
    assert(spark.read.parquet(s"$out/joined_a")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet == batch,
      "re-delivered final batch must converge")
    // fresh full re-run converges too
    assert(runOnce("b") == batch)
  }

  test("attributionJoinFullOuter: stream == batch on closed windows, null pads in BOTH directions; re-run converges") {
    import spark.implicits._
    val out = Files.createTempDirectory("stream_fouter").toString
    val src = s"$out/src"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def ev(id: Long, u: Long, h: Int, m: Int, typ: String) =
      (id, ts(h, m), u, typ, 1.0, "{}")
    def frame(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    // u1: matched pair; u2: purchase, no click -> purchase-side null;
    // u3: click 90min early -> BOTH sides null-pad; u4: click after
    // the purchase -> both null-pad; u5: two clicks in window -> two
    // joined rows; u6: click with NO purchase at all -> click-side null
    val data = Seq(
      ev(1, 1, 10, 0, "click"), ev(2, 1, 10, 30, "purchase"),
      ev(3, 2, 10, 15, "purchase"),
      ev(4, 3, 9, 0, "click"), ev(5, 3, 10, 30, "purchase"),
      ev(6, 4, 10, 40, "click"), ev(7, 4, 10, 20, "purchase"),
      ev(8, 5, 10, 5, "click"), ev(9, 5, 10, 10, "click"),
      ev(10, 5, 10, 45, "purchase"),
      ev(11, 6, 11, 0, "click"))
    // heartbeats: one to advance the watermark far past every real
    // window (incl. click windows c_ts + 1h), one more trigger to
    // flush the evicted state. The GLOBAL watermark is the MIN across
    // both sides' watermarks (multipleWatermarkPolicy=min), so the
    // heartbeat must ride BOTH event types — a click-only heartbeat
    // pins the purchase watermark at the real data's tail and the
    // late click windows never close
    val hb1 = Seq(ev(90, 99, 20, 0, "click"), ev(92, 99, 20, 0, "purchase"))
    val hb2 = Seq(ev(91, 99, 21, 0, "click"), ev(93, 99, 21, 0, "purchase"))
    stageParquet(frame(data), src, "f1.parquet")
    Thread.sleep(1100)
    stageParquet(frame(hb1), src, "f2.parquet")
    Thread.sleep(1100)
    stageParquet(frame(hb2), src, "f3.parquet")
    val win = 3600000000L
    type Row4 = (Option[Long], Option[Long], Option[Long], Option[Long])
    def read4(path: String): Set[Row4] =
      spark.read.parquet(path).collect().map { r =>
        def g(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (g(0), g(1), g(2), g(3))
      }.filter(t => t._1.getOrElse(0L) < 90 && t._3.getOrElse(0L) < 90)
        .toSet
    def runOnce(tag: String): Set[Row4] = {
      val evs = Streaming.readEvents(spark, src, maxFilesPerTrigger = 1)
      val q = Streaming.attributionJoinFullOuter(
        evs.where(col("event_type") === "purchase"),
        evs.where(col("event_type") === "click"),
        "user_id", "ts", win, lateness = "10 minutes")
        .select(col("p_user"), unix_micros(col("p_ts")).as("pus"),
          col("c_user"), unix_micros(col("c_ts")).as("cus"))
        .writeStream.format("parquet")
        .option("path", s"$out/joined_$tag")
        .option("checkpointLocation", s"$out/cp_$tag")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
      read4(s"$out/joined_$tag")
    }
    // batch truth: the identical FULL OUTER interval join on the
    // static frames (heartbeat users excluded — their windows are
    // the ones holding the stream's tail open by design)
    val st = frame(data).withColumn("ts", col("ts").cast("timestamp"))
    val bp = st.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val bc = st.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = bp.join(bc, col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $win MICROSECOND"),
        "full_outer")
      .select(col("p_user"), unix_micros(col("p_ts")),
        col("c_user"), unix_micros(col("c_ts")))
      .collect().map { r =>
        def g(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (g(0), g(1), g(2), g(3))
      }.toSet
    // fixture exercises all three outcomes
    assert(batch.exists(t => t._1.nonEmpty && t._3.nonEmpty))
    assert(batch.count(t => t._3.isEmpty) == 3, batch.toString) // u2 u3 u4
    assert(batch.count(t => t._1.isEmpty) == 3, batch.toString) // u3 u4 u6
    val streamed = runOnce("a")
    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    // crash replay: re-deliver the final heartbeat batch; SAME
    // topology (one shared source feeding both sides)
    dropCommit(s"$out/cp_a", 2)
    val evs2 = Streaming.readEvents(spark, src, maxFilesPerTrigger = 1)
    val q2 = Streaming.attributionJoinFullOuter(
        evs2.where(col("event_type") === "purchase"),
        evs2.where(col("event_type") === "click"),
        "user_id", "ts", win, lateness = "10 minutes")
      .select(col("p_user"), unix_micros(col("p_ts")).as("pus"),
        col("c_user"), unix_micros(col("c_ts")).as("cus"))
      .writeStream.format("parquet")
      .option("path", s"$out/joined_a")
      .option("checkpointLocation", s"$out/cp_a")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q2)
    assert(read4(s"$out/joined_a") == batch,
      "re-delivered final batch must converge")
    assert(runOnce("b") == batch)
  }

  test("topkSink: streamed leaderboard == one-shot batch top-k exactly, re-run converges") {
    import etlmudah.analytics.Analytics
    val out = Files.createTempDirectory("stream_topk").toString
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/events.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    val all = spark.read.parquet(src)
    def runOnce(cp: String): Unit = {
      val q = Streaming.topkSink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
          "event_type", "value",
          "event_id", s"$out/state", s"$out/report", cp,
          k = 5, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("key"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getString(3))).toSeq
    val streamed = rows(spark.read.parquet(s"$out/report"))
    // per-batch survivors re-aggregated MUST equal the one-shot batch
    // top-k of the whole corpus (the top-k monoid property)
    val batch = rows(Analytics.topNPerGroupAgg(
        all.select(col("event_type").cast("string").as("key"),
          col("value"), col("event_id").cast("string").as("event_id")),
        Seq("key"), col("value"), col("event_id"), 5)
      .select(col("key"), col("rank"), col("score"), col("tag")))
    assert(streamed.nonEmpty && streamed == batch)
    // compaction really collapsed old partitions
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .distinct().collect().map(_.get(0).toString.toInt).toSet ==
      Set(3, 4))
    // re-delivered compaction batch, then a fresh full re-run
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    assert(rows(spark.read.parquet(s"$out/report")) == batch)
    runOnce(s"$out/cp2")
    assert(rows(spark.read.parquet(s"$out/report")) == batch)
  }

  test("hllDistinctSink: streamed registers == one-shot batch HLL exactly, re-run converges") {
    import etlmudah.scale.Sketches
    val out = Files.createTempDirectory("stream_hll").toString
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/events.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    val all = spark.read.parquet(src)
    def runOnce(cp: String): Unit = {
      val q = Streaming.hllDistinctSink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
          "user_id", s"$out/state", s"$out/report", cp,
          b = 6, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val streamed = spark.read.parquet(s"$out/report").collect()
    // per-batch sketches max-merged MUST equal the one-shot sketch of
    // the whole corpus: same m/n_zero/maxreg/S/estimate, exactly
    val batch = Sketches.hllReport(all, "user_id", b = 6).collect()
    assert(streamed.length == 1 && batch.length == 1)
    assert(streamed.head == batch.head,
      s"streamed=${streamed.head} batch=${batch.head}")
    // compaction really collapsed old partitions
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .distinct().collect().map(_.get(0).toString.toInt).toSet ==
      Set(3, 4))
    // re-delivered compaction batch, then a fresh full re-run
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    assert(spark.read.parquet(s"$out/report").collect().head ==
      batch.head)
    runOnce(s"$out/cp2")
    assert(spark.read.parquet(s"$out/report").collect().head ==
      batch.head)
  }

  test("pcaDriftSink: streamed component == batch component integer-for-integer, re-run converges") {
    import etlmudah.scale.Spectral
    val out = Files.createTempDirectory("stream_pca").toString
    val src = s"$out/src"
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    emb.repartition(5).write.mode("overwrite").parquet(src)
    val all = spark.read.parquet(src)
    def runOnce(cp: String): Unit = {
      val stream = spark.readStream.schema(all.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = Streaming.pcaDriftSink(stream, "embedding", all,
          s"$out/state", s"$out/report", cp, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val rep = spark.read.parquet(s"$out/report").orderBy("idx").collect()
    assert(rep.length == 64)
    // the standing Gram is the SUM of per-batch partials — exact, so
    // the streamed component equals the batch component exactly
    val batch = Spectral.pcaTopComponent(all, "embedding", 64)
      .orderBy("idx").collect()
    rep.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(1) == b.getLong(1), s"idx ${s.getLong(0)}")
      assert(s.getLong(5) == b.getLong(2) && s.getLong(6) == b.getLong(3))
    }
    // reference was the same corpus -> perfect alignment
    assert(rep.head.getDouble(4) == 1.0, "cos_ref must be exactly 1.0")
    assert(rep.head.getLong(3) == all.count())
    // compaction fired; re-delivered compaction batch and a fresh
    // checkpoint both converge to the identical report
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .distinct().collect().map(_.get(0).toString.toInt).toSet == Set(3, 4))
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val again = spark.read.parquet(s"$out/report").orderBy("idx").collect()
    assert(rep.zip(again).forall { case (a, b) => a == b })
    runOnce(s"$out/cp2")
    val fresh = spark.read.parquet(s"$out/report").orderBy("idx").collect()
    assert(rep.zip(fresh).forall { case (a, b) => a == b })
  }

  test("driftSink: report == batch driftPsi(ref, streamed), state compacts, re-run converges") {
    import etlmudah.analytics.Profile
    val out = Files.createTempDirectory("stream_drift").toString
    // five files -> five micro-batches so compactEvery=2 fires twice
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/events.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    val all = spark.read.parquet(src)
    val ref = all.filter(col("event_id") % 2 === 0)
    def runOnce(cp: String): Unit = {
      val q = Streaming.driftSink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1), ref,
          "value", 10.0, s"$out/state", s"$out/report", cp,
          compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val streamed = spark.read.parquet(s"$out/report").orderBy("bin").collect()
    val batch = Profile.driftPsi(ref, all, "value", binWidth = 10.0).collect()
    assert(streamed.length == batch.length && streamed.length > 0)
    assert(streamed.zip(batch).forall { case (a, b) => a == b })
    // compaction really fired: only partitions {3, 4} remain
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .distinct().collect().map(_.get(0).toString.toInt).toSet == Set(3, 4))
    // re-delivered COMPACTION batch converges
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val redelivered = spark.read.parquet(s"$out/report").orderBy("bin").collect()
    assert(streamed.zip(redelivered).forall { case (a, b) => a == b })
    runOnce(s"$out/cp2")   // fresh checkpoint -> same batches re-delivered
    val again = spark.read.parquet(s"$out/report").orderBy("bin").collect()
    assert(streamed.zip(again).forall { case (a, b) => a == b })
  }

  test("shardExportSink: contiguous shards across batches, budget bounds, re-run converges") {
    val out = Files.createTempDirectory("stream_shard").toString
    val src = s"$out/src"
    // five files -> five micro-batches (readDocuments maxFilesPerTrigger=1):
    // enough that compactEvery=2 fires TWICE (batches 2 and 4), so the
    // second compaction runs over an already-compacted ledger — the case
    // where a fold in the wrong direction leaves rows uncollapsed
    spark.read.parquet(s"$sf0001/documents.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    def runOnce(cp: String): Unit = {
      // compactEvery=2 forces a mid-stream ledger compaction cycle
      val q = Streaming.shardExportSink(
          Streaming.readDocuments(spark, src), "doc_id", "n_chars",
          shardBudget = 3000L, s"$out/state", s"$out/shards", cp,
          compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val assigned = spark.read.parquet(s"$out/shards")
    val corpus = spark.read.parquet(src)
    // every doc assigned exactly once; the ledger accounts for all bytes
    assert(assigned.count() == corpus.count())
    assert(assigned.select("doc_id").distinct().count() == assigned.count())
    assert(spark.read.parquet(s"$out/state")
      .agg(sum("batch_bytes")).head().getLong(0) ==
      corpus.agg(sum("n_chars")).head().getLong(0))
    // batch count really was > 1 (the continuation path was exercised:
    // the OUTPUT keeps one partition per batch; the LEDGER does not)
    assert(assigned.select("batch_id").distinct().count() == 5)
    // compaction really fired (twice): every row below the final
    // compaction batch collapsed into the batch_id=3 partition and the
    // final batch kept its own — exactly 2 rows, partitions {3, 4}
    assert(spark.read.parquet(s"$out/state").count() == 2)
    assert(spark.read.parquet(s"$out/state").select("batch_id")
      .collect().map(_.get(0).toString.toInt).toSet == Set(3, 4))
    // shard ids contiguous from 0; every non-last shard lands within one
    // doc of the budget (the q138 invariant over the concatenated stream)
    val per = assigned.groupBy("shard").agg(sum("n_chars").as("chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(per.map(_._1).toSeq == (0L until per.length).toSeq)
    val maxDoc = corpus.agg(max("n_chars")).head().getLong(0)
    per.dropRight(1).foreach { case (id, chars) =>
      assert(chars <= 3000L + maxDoc && chars + maxDoc >= 3000L,
        s"shard $id: $chars")
    }
    val first = assigned.select("doc_id", "shard").orderBy("doc_id").collect()

    // re-delivered COMPACTION batch: a crash between the compaction
    // swap and the checkpoint commit re-delivers batch 4 against the
    // ALREADY-COMPACTED ledger. Its start offset must be identical
    // (rows below it live whole in the batch_id=3 partition) and its
    // own dynamic-overwrite row must replace, not add — deleting the
    // commit record replays exactly that window.
    val totalBytes = corpus.agg(sum("n_chars")).head().getLong(0)
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val redelivered = spark.read.parquet(s"$out/shards")
      .select("doc_id", "shard").orderBy("doc_id").collect()
    assert(first.zip(redelivered).forall { case (a, b) => a == b })
    assert(spark.read.parquet(s"$out/state")
      .agg(sum("batch_bytes")).head().getLong(0) == totalBytes)
    assert(spark.read.parquet(s"$out/state").count() == 2)

    // fresh checkpoint -> same batches re-delivered -> identical output
    runOnce(s"$out/cp2")
    val again = spark.read.parquet(s"$out/shards")
      .select("doc_id", "shard").orderBy("doc_id").collect()
    assert(first.zip(again).forall { case (a, b) => a == b })

    // crash-torn ledger compaction: the ledger is absent only between
    // swapIn's renames. A LATER batch must see the recovered running
    // totals — a fresh-checkpoint replay would rebuild the ledger from
    // batch 0 and prove nothing, so the torn layout is exercised
    // against the COMMITTED checkpoint with one new source file: only
    // the new batch runs, and its start offset exists only in the
    // recovered ledger (an unrecovered ledger restarts offsets at 0 and
    // re-uses low shard ids).
    import spark.implicits._
    val maxShard = first.map(_.getLong(1)).max
    val ledgerBytes = corpus.agg(sum("n_chars")).head().getLong(0)
    Files.move(java.nio.file.Paths.get(s"$out/state"),
      java.nio.file.Paths.get(s"$out/state__tmp"))
    val extra = Seq((900001L, "tail doc after crash", "en", "t", 3000L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmpd = Files.createTempDirectory("stage_shard").toString
    extra.coalesce(1).write.mode("overwrite").parquet(tmpd)
    val part = new java.io.File(tmpd).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(s"$src/f_extra.parquet"))
    runOnce(s"$out/cp2")   // committed checkpoint: ONLY the new batch runs
    val tail = spark.read.parquet(s"$out/shards")
      .filter(col("doc_id") === 900001L).select("shard").head().getLong(0)
    assert(tail >= maxShard, s"shard restarted: $tail < $maxShard")
    assert(spark.read.parquet(s"$out/state")
      .agg(sum("batch_bytes")).head().getLong(0) == ledgerBytes + 3000L)
  }

  test("packExportSink: packs continue across batch boundaries; non-final packs exact; re-run converges") {
    val out = Files.createTempDirectory("stream_pack").toString
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/documents.parquet").repartition(5)
      .write.mode("overwrite").parquet(src)
    val ctx = 4096L
    def runOnce(cp: String): Unit = {
      val q = Streaming.packExportSink(
          Streaming.readDocuments(spark, src), "doc_id", "n_chars",
          ctx, s"$out/state", s"$out/packs", cp, compactEvery = 2)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val packs = spark.read.parquet(s"$out/packs")
    val corpus = spark.read.parquet(src)
    val totalTok = corpus.agg(sum("n_chars")).head().getLong(0)
    // token conservation + continuation: GLOBAL pack totals are exactly
    // ctx for every pack but the last — a pack cut mid-batch gets its
    // remainder from the next batch, so this invariant can only hold if
    // offsets truly continue across batches
    assert(packs.agg(sum("n_tokens")).head().getLong(0) == totalTok)
    val per = packs.groupBy("pack_id").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(per.map(_._1).toSeq == (0L until per.length).toSeq)
    assert(per.dropRight(1).forall(_._2 == ctx),
      per.filter(_._2 != ctx).mkString(","))
    assert(packs.select("batch_id").distinct().count() == 5)
    // at least one pack truly SPANS a batch boundary
    assert(packs.groupBy("pack_id")
      .agg(countDistinct("batch_id").as("nb"))
      .filter(col("nb") > 1).count() > 0, "no pack spanned a batch boundary")
    // per-doc span tiling: offsets start at 0, chain, and cover the doc
    val spans = packs.select("doc_id", "doc_offset", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val sizes = corpus.filter(col("n_chars") > 0)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(spans.keySet == sizes.keySet)
    spans.foreach { case (id, g) =>
      val s = g.sortBy(_._2)
      assert(s.head._2 == 0L, s"doc $id first span")
      s.sliding(2).foreach {
        case Array(a, b) => assert(a._2 + a._3 == b._2, s"doc $id gap")
        case _ =>
      }
      assert(s.last._2 + s.last._3 == sizes(id), s"doc $id coverage")
    }
    // re-delivered COMPACTION batch (crash between compaction swap and
    // checkpoint commit) converges to the identical pack table
    val first = packs.select("doc_id", "pack_id", "doc_offset")
      .orderBy("doc_id", "pack_id").collect()
    dropCommit(s"$out/cp1", 4)
    runOnce(s"$out/cp1")
    val re = spark.read.parquet(s"$out/packs")
      .select("doc_id", "pack_id", "doc_offset")
      .orderBy("doc_id", "pack_id").collect()
    assert(first.zip(re).forall { case (a, b) => a == b })
  }

  test("decontaminationSink: planted contamination quarantined with evidence; equals the batch screen; re-run converges") {
    import etlmudah.scale.Dedup
    val out = Files.createTempDirectory("stream_decon").toString
    val src = s"$out/src"
    import spark.implicits._
    def stageFile(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageParquet(df, src, name)
    val benchText =
      "the quick brown fox jumps over the lazy dog tonight in the park"
    val evalText =
      "pack my box with five dozen liquor jugs before the storm arrives"
    val ref = Seq((100L, benchText), (101L, evalText)).toDF("doc_id", "text")
    val refFps = Dedup.winnowFingerprints(ref, "text", "doc_id")
    stageFile(Seq(
        (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10L),
        (2L, benchText, "en", "s", 12L)) // verbatim benchmark copy
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f1.parquet")
    Thread.sleep(100)
    stageFile(Seq(
        (3L, "lambda mu nu xi omicron pi rho sigma tau upsilon", "en", "s", 10L),
        (4L, evalText, "en", "s", 12L))   // verbatim eval copy
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f2.parquet")
    val clean = s"$out/clean"
    val quarantine = s"$out/quarantine"
    def runOnce(cp: String): Unit = {
      val q = Streaming.decontaminationSink(
          Streaming.readDocuments(spark, src), refFps,
          clean, quarantine, cp)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    val cleanIds = spark.read.parquet(clean).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val qRows = spark.read.parquet(quarantine)
      .select("doc_id", "ref_id", "shared")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cleanIds == Set(1L, 3L))
    assert(qRows.map(r => (r._1, r._2)).toSet == Set((2L, 100L), (4L, 101L)),
      qRows.mkString(","))
    // a verbatim copy shares EVERY selected fingerprint with its source
    qRows.foreach { case (_, _, shared) => assert(shared >= 2L) }
    // stream == batch twin: the one-sided screen over the whole corpus
    val allDocs = spark.read.parquet(src)
    val batchHits = Dedup.winnowScreenAgainstRef(
        Dedup.winnowFingerprints(allDocs, "text", "doc_id"), refFps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batchHits == qRows.toSet)
    // crash after batch 1's side effects, before its commit: replay
    // recomputes the identical split (no cross-batch state to corrupt)
    dropCommit(s"$out/cp1", 1)
    runOnce(s"$out/cp1")
    assert(spark.read.parquet(clean).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(spark.read.parquet(quarantine).select("doc_id", "ref_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((2L, 100L), (4L, 101L)))
  }

  test("qualityGateSink: split equals the batch scorer; both sides audited; re-run converges") {
    val out = Files.createTempDirectory("stream_qgate").toString
    val src = s"$out/src"
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight in the park",
      "pack my box with five dozen liquor jugs before the storm arrives",
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "lambda mu nu xi omicron pi rho sigma tau upsilon",
      "row store column store scan filter join aggregate sort exchange",
      "tokens weights buckets hashes scores gates keeps rejects audits")
    stageParquet(texts.take(3).zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "s", 10L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"), src, "f1.parquet")
    Thread.sleep(100)
    stageParquet((texts.drop(3).zipWithIndex.map { case (t, i) =>
        ((i + 3).toLong, t, "en", "s", 10L) } :+
        ((99L, null.asInstanceOf[String], "en", "s", 0L))) // unscoreable doc
      .toDF("doc_id", "text", "lang", "source", "n_chars"), src, "f2.parquet")
    // threshold from the batch scorer so BOTH sides are provably
    // non-empty: gate at the median score of the six scoreable docs
    // (the null-text doc produces no score row — the left-join case)
    val batchScores = etlmudah.text.TextStats.hashedLinearScore(
        spark.read.parquet(src)
          .withColumn("clean_text",
            etlmudah.text.TextStats.cleanText(col("text"))),
        "clean_text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!batchScores.contains(99L), "null text must be unscoreable")
    val gate = batchScores.values.toSeq.sorted.apply(3)  // 4th of 6
    val keep = s"$out/keep"
    val reject = s"$out/reject"
    def runOnce(cp: String): Unit = {
      val q = Streaming.qualityGateSink(
          Streaming.readDocuments(spark, src), keep, reject, cp,
          minScore = gate)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    def sides() = (
      spark.read.parquet(keep).select("doc_id", "score")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap,
      spark.read.parquet(reject).select("doc_id", "score")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap)
    val (k1, r1) = sides()
    // split == the batch scorer at the same gate, both sides non-empty
    assert(k1.nonEmpty && r1.nonEmpty)
    assert(k1.keySet == batchScores.filter(_._2 >= gate).keySet, k1.toString)
    // the unscoreable doc is REJECTED with a null score — never silently
    // dropped from both outputs (the audit contract)
    assert(r1.keySet == batchScores.filter(_._2 < gate).keySet + 99L,
      r1.toString)
    assert(r1(99L).isEmpty)
    // per-doc scores identical to the batch computation
    (k1 ++ (r1 - 99L)).foreach { case (id, s) =>
      assert(s.contains(batchScores(id))) }
    // rejects carry their text for audit
    val rejCols = spark.read.parquet(reject).columns.toSet
    assert(rejCols.contains("clean_text") && rejCols.contains("score"))
    // crash after batch 1's side effects, before its commit: replay
    // recomputes the identical split (stateless verdicts)
    dropCommit(s"$out/cp1", 1)
    runOnce(s"$out/cp1")
    val (k2, r2) = sides()
    assert(k2 == k1 && r2 == r1)
  }

  test("qualityGateSink with TRAINED weights: train offline, deploy on the live gate") {
    import etlmudah.text.TextStats
    val out = Files.createTempDirectory("stream_qgate_w").toString
    val src = s"$out/src"
    import spark.implicits._
    // offline training corpus: 'store'-flavored docs are the positives
    val corpus = Seq(
      (1L, 1, "row store column store scan filter join store"),
      (2L, 1, "store exchange store aggregate store sort"),
      (3L, 0, "alpha beta gamma delta epsilon zeta"),
      (4L, 0, "lambda mu nu xi omicron pi rho"))
      .toDF("doc_id", "y", "text")
    val buckets = 16
    val w = TextStats.trainHashedLogReg(corpus, "text", "doc_id", "y",
      buckets, steps = 3, lr = 0.5)
    // live stream: unseen docs of both flavors
    val live = Seq(
      (10L, "store scan store filter store join", "en", "s", 10L),
      (11L, "sigma tau upsilon phi chi psi", "en", "s", 10L),
      (12L, "store store aggregate exchange", "en", "s", 10L),
      (13L, "beta gamma delta epsilon", "en", "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    stageParquet(live, src, "f1.parquet")
    val expected = TextStats.scoreWithWeights(
        spark.read.parquet(src).withColumn("clean_text",
          TextStats.cleanText(col("text"))),
        "clean_text", "doc_id", w, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val q = Streaming.qualityGateSink(
        Streaming.readDocuments(spark, src), s"$out/keep", s"$out/reject",
        s"$out/cp", minScore = 0.0, buckets = buckets,
        trainedWeights = Some(w))
      .trigger(Trigger.AvailableNow()).start()
    awaitDrained(q)
    val kept = spark.read.parquet(s"$out/keep")
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rejected = spark.read.parquet(s"$out/reject")
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the trained gate keeps exactly the positive-flavored unseen docs,
    // with scores identical to the batch scoreWithWeights computation
    assert(kept.keySet == Set(10L, 12L), kept.toString)
    assert(rejected.keySet == Set(11L, 13L), rejected.toString)
    (kept ++ rejected).foreach { case (id, s) =>
      assert(s == expected(id), s"doc $id: stream=$s batch=${expected(id)}") }
  }

  test("decontaminationSink: verdicts independent of batch arrival order (ref-side df cap)") {
    import etlmudah.scale.Dedup
    // the same four docs arrive as (A,B) then (C,D) in one run and as
    // (C,D) then (A,B) in the other; a union-df cap would make the
    // screen depend on per-batch df counts, the ref-side-only cap must
    // produce identical clean/quarantine verdicts either way
    val out = Files.createTempDirectory("stream_decon_ord").toString
    import spark.implicits._
    val benchText =
      "the quick brown fox jumps over the lazy dog tonight in the park"
    val ref = Seq((100L, benchText)).toDF("doc_id", "text")
    val refFps = Dedup.winnowFingerprints(ref, "text", "doc_id")
    val ab = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota", "en", "s", 10L),
      (2L, benchText, "en", "s", 12L))
    val cd = Seq(
      (3L, "lambda mu nu xi omicron pi rho sigma tau upsilon", "en", "s", 10L),
      (4L, benchText + " with a small suffix appended here", "en", "s", 15L))
    def run(first: Seq[(Long, String, String, String, Long)],
            second: Seq[(Long, String, String, String, Long)],
            tag: String): (Set[Long], Set[(Long, Long, Long)]) = {
      val src = s"$out/src_$tag"
      def stage(rows: Seq[(Long, String, String, String, Long)],
                name: String): Unit =
        stageParquet(rows.toDF("doc_id", "text", "lang", "source",
          "n_chars"), src, name)
      stage(first, "f1.parquet"); Thread.sleep(100)
      stage(second, "f2.parquet")
      val q = Streaming.decontaminationSink(
          Streaming.readDocuments(spark, src), refFps,
          s"$out/clean_$tag", s"$out/q_$tag", s"$out/cp_$tag")
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
      (spark.read.parquet(s"$out/clean_$tag").select("doc_id")
         .collect().map(_.getLong(0)).toSet,
       spark.read.parquet(s"$out/q_$tag")
         .select("doc_id", "ref_id", "shared")
         .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    }
    val (clean1, quar1) = run(ab, cd, "abcd")
    val (clean2, quar2) = run(cd, ab, "cdab")
    assert(clean1 == clean2 && clean1 == Set(1L, 3L))
    assert(quar1 == quar2, s"$quar1 vs $quar2")
    assert(quar1.map(q => (q._1, q._2)) == Set((2L, 100L), (4L, 100L)))
  }

  test("composition: dedup-ingest survivors chain into pack-export; crashes between and inside stages converge") {
    // the reference's fetch -> load task chain made streaming-native:
    // stage A (dedupIngestSink) writes the deduped corpus, stage B
    // (packExportSink) packs A's survivor table. Proves the fingerprint
    // swap protocol and the offsets ledger COMPOSE: a crash between the
    // stages (A's side effects durable, its checkpoint commit lost)
    // replays to the same survivor set before B starts, and B's ledger
    // continues across a later wave so a pack spans the chain restart.
    val out = Files.createTempDirectory("stream_chain").toString
    val src = s"$out/src"
    import spark.implicits._
    def stageFile(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      stageParquet(df, src, name)
    stageFile(Seq((1L, "alpha beta gamma", "en", "s", 16L),
        (2L, "alpha beta gamma", "en", "s", 16L),    // in-batch dup of 1
        (3L, "delta epsilon zeta", "en", "s", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f1.parquet")
    Thread.sleep(100)
    stageFile(Seq((4L, "ALPHA   beta gamma", "en", "s", 18L), // dup of 1
        (5L, "eta theta iota", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f2.parquet")
    val base = s"$out/base"
    val fps = s"$out/fps"
    def runA(cp: String): Unit = {
      val q = Streaming.dedupIngestSink(
          Streaming.readDocuments(spark, src), base, fps, cp)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runA(s"$out/cp_a")
    // crash BETWEEN the stages: A's last batch lost its checkpoint
    // commit after its side effects; replay classifies everything as
    // corpus dups and touches nothing — B must start from the same
    // survivor set either way
    dropCommit(s"$out/cp_a", 1)
    runA(s"$out/cp_a")
    val survivors = spark.read.parquet(base)
    assert(survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 5L))
    // stage B: pack A's survivor partitions (ctx=20 leaves wave 1 at
    // offset 48 — mid-pack — so wave 2 must CONTINUE pack 2)
    val ctx = 20L
    def runB(cp: String): Unit = {
      val q = Streaming.packExportSink(
          Streaming.readDocuments(spark, s"$base/batch_id=*"),
          "doc_id", "n_chars", ctx,
          s"$out/state", s"$out/packs", cp, compactEvery = 1)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runB(s"$out/cp_b")
    def packTable() = spark.read.parquet(s"$out/packs")
      .select("doc_id", "pack_id", "doc_offset", "n_tokens")
      .orderBy("doc_id", "pack_id").collect()
    val wave1 = packTable()
    assert(wave1.map(_.getLong(3)).sum == 48L) // survivor tokens only
    // crash INSIDE B (after ledger write + output, before commit):
    // replay rewrites its own batch partition, packs identical
    dropCommit(s"$out/cp_b", 1)
    runB(s"$out/cp_b")
    assert(packTable().toSeq == wave1.toSeq)
    // wave 2: a new crawl file arrives — A appends only fresh docs, B
    // continues the global token offset across the chained restart
    Thread.sleep(100)
    stageFile(Seq((6L, "kappa lambda mu", "en", "s", 15L),
        (7L, "alpha beta gamma", "en", "s", 16L))   // corpus dup of 1
      .toDF("doc_id", "text", "lang", "source", "n_chars"), "f3.parquet")
    runA(s"$out/cp_a")
    runB(s"$out/cp_b")
    val packs2 = spark.read.parquet(s"$out/packs")
    assert(spark.read.parquet(base).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L, 6L))
    assert(packs2.agg(sum("n_tokens")).head().getLong(0) == 63L)
    val per = packs2.groupBy("pack_id").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(per.map(_._1).toSeq == (0L until per.length).toSeq)
    assert(per.dropRight(1).forall(_._2 == ctx),
      per.mkString(","))
    // the ledger carried offset 48 across the B restart: pack 2
    // ([40,60)) draws spans from BOTH waves' B batches
    assert(packs2.filter(col("pack_id") === 2)
      .select("batch_id").distinct().count() > 1,
      "pack 2 did not span the chained restart")
  }

  test("composition: web-curation gate feeds dedup-ingest then pack-export; crash inside the gated stage converges") {
    // the q202/q223 funnel streaming-native: crawled PAGES arrive,
    // stage A = curationGate (robots -> extraction -> blocklist) ->
    // dedupIngestSink on the EXTRACTED text, stage B packs survivors.
    // Dedup must fire on etext (same text under different markup is a
    // dup); gated-out pages must never reach the corpus; a crash
    // inside stage A (side effects durable, commit lost) must replay
    // to the same survivor set; B's ledger must span the restart.
    val out = Files.createTempDirectory("stream_web").toString
    val src = s"$out/src"
    import spark.implicits._
    val pageSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("page",
        org.apache.spark.sql.types.StringType)))
    stageParquet(Seq(
      (1L, "<html><body><p>alpha beta</p></body></html>"),
      // same extracted text as 1 under different markup -> dup
      (2L, "<html><body><div>alpha <!-- x -->  beta</div></body></html>"),
      // robots noindex -> gated out before any dedup state
      (3L, "<html><head><meta name=\"robots\" content=\"noindex\"></head>" +
        "<body><p>gamma delta</p></body></html>"),
      // blocklist: 3 hits of 'slow' > 2 -> gated out
      (4L, "<html><body><p>slow slow slow text</p></body></html>"),
      (5L, "<html><body><p>gamma delta epsilon</p></body></html>"))
      .toDF("doc_id", "page"), src, "f1.parquet")
    val base = s"$out/base"
    val fps = s"$out/fps"
    def readPages() = spark.readStream.schema(pageSchema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1).parquet(src)
    def runA(): Unit = {
      val gated = Streaming.curationGate(readPages(), "page")
      val q = Streaming.dedupIngestSink(gated, base, fps, s"$out/cp_a",
          textCol = "etext")
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runA()
    // crash INSIDE the gated stage: batch side effects durable, its
    // checkpoint commit lost — the replay re-gates deterministically
    // and classifies everything as corpus dups
    dropCommit(s"$out/cp_a", 0)
    runA()
    val corpus = spark.read.parquet(base)
    assert(corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 5L), "gate drops 3/4; extracted-text dedup drops 2")
    assert(corpus.filter(col("etext").contains("<")).isEmpty,
      "markup must not survive extraction")
    // stage B: pack survivors by token count; ctx=3 leaves wave 1
    // mid-pack so wave 2 must continue the same pack
    val baseSchema = org.apache.spark.sql.types.StructType(
      pageSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("etext",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_tok",
          org.apache.spark.sql.types.LongType)))
    def runB(): Unit = {
      val q = Streaming.packExportSink(
          spark.readStream.schema(baseSchema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(s"$base/batch_id=*"),
          "doc_id", "n_tok", 3L,
          s"$out/state", s"$out/packs", s"$out/cp_b", compactEvery = 1)
        .trigger(Trigger.AvailableNow()).start()
      awaitDrained(q)
    }
    runB()
    val wave1 = spark.read.parquet(s"$out/packs")
      .select("doc_id", "pack_id", "doc_offset").orderBy("doc_id", "pack_id")
      .collect()
    // survivors carry 2 + 3 tokens = 5 = pack 0 (3) + pack 1 (2 so far)
    assert(wave1.map(_.getLong(1)).max == 1L, wave1.mkString(","))
    // wave 2: fresh page + a markup-variant dup of doc 5
    Thread.sleep(100)
    stageParquet(Seq(
      (6L, "<html><body><p>zeta eta</p></body></html>"),
      (7L, "<html><body><ul><li>gamma delta epsilon</li></ul></body></html>"))
      .toDF("doc_id", "page"), src, "f2.parquet")
    runA()
    runB()
    assert(spark.read.parquet(base).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 5L, 6L))
    val packs2 = spark.read.parquet(s"$out/packs")
    assert(packs2.agg(sum("n_tokens")).head().getLong(0) == 7L)
    // pack 1 ([3,6)) must span both waves: doc 5's tail tokens from
    // wave 1 and doc 6's head tokens from wave 2
    assert(packs2.filter(col("pack_id") === 1)
      .select("doc_id").distinct().count() == 2L,
      "pack 1 did not span the chained restart")
  }

  test("upsertSink: idempotent, rewrites only touched buckets, recovers torn bucket swaps") {
    val out = Files.createTempDirectory("stream_upsert").toString
    val base = s"$out/base"
    val src = stageEvents("src_upsert")
    val nBuckets = 8
    def runOnce(from: String, cp: String): Unit = {
      val q = Streaming.upsertSink(
          Streaming.readEvents(spark, from),
          base, cp, numBuckets = nBuckets)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(src, s"$out/cp1")
    val first = spark.read.parquet(base)
      .select("event_id", "value").orderBy("event_id").collect()
    runOnce(src, s"$out/cp2")   // fresh checkpoint -> same batch re-delivered
    val second = spark.read.parquet(base)
      .select("event_id", "value").orderBy("event_id").collect()
    assert(first.length > 0)
    assert(first.zip(second).forall { case (a, b) => a == b })

    // a later batch touching only a FEW keys must leave every other
    // bucket's files byte-identical (the O(|batch| x fanout), not
    // O(|base|), write guarantee) while still merging correctly
    val subSrc = s"$out/sub_src"
    spark.read.parquet(src).filter(col("event_id") <= 3)
      .write.mode("overwrite").parquet(subSrc)
    val touched = spark.read.parquet(subSrc)
      .select(pmod(xxhash64(col("event_id")), lit(nBuckets.toLong))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val untouched = (0 until nBuckets).toSet -- touched
    assert(touched.nonEmpty && untouched.nonEmpty)
    def bucketFiles(b: Int): Set[(String, Long, Long)] =
      new java.io.File(s"$base/bucket=$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val beforeUntouched = untouched.map(b => b -> bucketFiles(b)).toMap
    runOnce(subSrc, s"$out/cp3")
    untouched.foreach { b =>
      assert(bucketFiles(b) == beforeUntouched(b),
        s"untouched bucket $b was rewritten")
    }
    val afterSub = spark.read.parquet(base)
      .select("event_id", "value").orderBy("event_id").collect()
    assert(first.zip(afterSub).forall { case (a, b) => a == b })

    // crash-torn bucket swaps: a bucket's live dir is absent only
    // between its two renames. Simulate both torn layouts on a touched
    // bucket and prove the next batch RECOVERS it — the recovery source
    // streams only a subset, so the rows it lacks can only come from
    // the recovered bucket.
    val k = touched.head
    def torn(withTmp: Boolean, cp: String): Unit = {
      new java.io.File(s"${base}__old").mkdirs()
      Files.move(java.nio.file.Paths.get(s"$base/bucket=$k"),
        java.nio.file.Paths.get(s"${base}__old/bucket=$k"))
      if (withTmp) {
        // crash after the aside-rename with __tmp fully written: the
        // recovery must take the __tmp copy (the newest complete state)
        new java.io.File(s"${base}__tmp").mkdirs()
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"${base}__old/bucket=$k"),
          new java.io.File(s"${base}__tmp/bucket=$k"))
      }
      runOnce(subSrc, cp)
      val rec = spark.read.parquet(base)
        .select("event_id", "value").orderBy("event_id").collect()
      assert(rec.length == first.length, s"withTmp=$withTmp")
      assert(first.zip(rec).forall { case (a, b) => a == b },
        s"withTmp=$withTmp")
      assert(!new java.io.File(s"${base}__old").exists())
      assert(!new java.io.File(s"${base}__tmp").exists())
    }
    torn(withTmp = false, s"$out/cp4")  // crashed before __tmp renamed in
    torn(withTmp = true, s"$out/cp5")   // crashed with __tmp complete
  }

  test("upsertSink: bucket-count manifest rejects a mismatched restart") {
    val out = Files.createTempDirectory("stream_upsert_manifest").toString
    val base = s"$out/base"
    val src = stageEvents("src_upsert_manifest")
    def runOnce(buckets: Int, cp: String): Unit = {
      val q = Streaming.upsertSink(
          Streaming.readEvents(spark, src), base, cp, numBuckets = buckets)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000)
      finally { q.stop(); while (spark.streams.active.nonEmpty) Thread.sleep(50) }
    }
    runOnce(8, s"$out/cp1")
    assert(new java.io.File(s"$base/_graft_num_buckets").exists())
    val before = spark.read.parquet(base)
      .select("event_id", "value").orderBy("event_id").collect()
    // a restart with a different bucket count must FAIL the batch, not
    // silently merge against the wrong layout
    val ex = intercept[Exception] { runOnce(4, s"$out/cp2") }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      Option(c.getMessage).exists(_.contains("numBuckets"))), ex.toString)
    // and the base is untouched by the rejected run
    val after = spark.read.parquet(base)
      .select("event_id", "value").orderBy("event_id").collect()
    assert(before.length > 0 && before.zip(after).forall { case (a, b) => a == b })
    // same bucket count restarts fine
    runOnce(8, s"$out/cp3")

    // a TORN manifest (crash between create and write left it empty)
    // must raise a clear error naming the file and remedy — not a bare
    // NumberFormatException from "".toInt on every restart
    Files.write(java.nio.file.Paths.get(s"$base/_graft_num_buckets"),
      Array.empty[Byte])
    val crc = java.nio.file.Paths.get(s"$base/._graft_num_buckets.crc")
    if (Files.exists(crc)) Files.delete(crc)
    val torn = intercept[Exception] { runOnce(8, s"$out/cp4") }
    assert(causes(torn).exists(c => Option(c.getMessage).exists(m =>
      m.contains("empty/unparseable") && m.contains("_graft_num_buckets"))),
      torn.toString)
  }

  test("streamed shard export seals into the verifiable layout; the batch manifest gate covers it") {
    import etlmudah.sinks.Writers
    val out = Files.createTempDirectory("stream_seal").toString
    val src = s"$out/src"
    spark.read.parquet(s"$sf0001/documents.parquet").repartition(3)
      .write.mode("overwrite").parquet(src)
    val q = Streaming.shardExportSink(
        Streaming.readDocuments(spark, src), "doc_id", "n_chars",
        shardBudget = 3000L, s"$out/state", s"$out/shards", s"$out/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    // seal the ACCUMULATED stream output into the batch export layout
    val exp = s"$out/export"
    Writers.sealAssignedExport(spark.read.parquet(s"$out/shards"), exp,
      "doc_id", "n_chars")
    // the batch gate verifies the streamed export clean
    assert(Writers.verifyShardedExport(spark, exp, "doc_id", "n_chars")
      .count() == 0)
    // corpus-level integrity, ARRIVAL-ORDER INVARIANT: totals and the
    // order-independent id-set checksum equal the source corpus's
    val m = spark.read.parquet(s"$exp/_manifest")
      .agg(sum("n_docs"), sum("n_units"), sum("id_checksum")).head()
    val c = spark.read.parquet(src).agg(
      count(lit(1)), sum(col("n_chars").cast("long")),
      sum(conv(substring(md5(col("doc_id").cast("string").cast("binary")),
        1, 12), 16, 10).cast("long"))).head()
    assert(m.getLong(0) == c.getLong(0) && m.getLong(1) == c.getLong(1) &&
      m.getLong(2) == c.getLong(2), s"manifest $m vs corpus $c")
    // tampering one sealed row is caught by the same gate
    val data = spark.read.parquet(s"$exp/data").collect().toSeq
    val schema = spark.read.parquet(s"$exp/data").schema
    val ki = schema.fieldIndex("doc_id")
    val tampered = data.head
    val rest = data.tail :+ org.apache.spark.sql.Row.fromSeq(
      tampered.toSeq.updated(ki, tampered.getAs[Long]("doc_id") + 900000L))
    Writers.writeStaged(spark.createDataFrame(
      spark.sparkContext.parallelize(rest, 2), schema), s"$exp/data")
    val flagged = Writers.verifyShardedExport(spark, exp, "doc_id", "n_chars")
      .collect()
    assert(flagged.length >= 1 &&
      flagged.forall(_.getString(1) == "mismatch"), flagged.mkString(","))
  }

  test("latenessAuditSink: stream == batch on the on-time slice; late rows quarantined with evidence; re-run converges") {
    import spark.implicits._
    val out = Files.createTempDirectory("stream_late").toString
    val src = s"$out/src"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def ev(id: Long, h: Int, m: Int, typ: String, v: Double) =
      (id, ts(h, m), id % 7, typ, v, "{}")
    def frame(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    // batch 1: 10:00-11:59 — first batch, NOTHING can be late
    val b1 = Seq(ev(1, 10, 0, "view", 1.0), ev(2, 10, 30, "click", 2.0),
      ev(3, 11, 59, "view", 3.0), ev(4, 5, 0, "view", 9.0))
    // after b1: watermark = 11:59 - 2h = 09:59
    // batch 2: 12:30 on-time; 09:58 and 07:00 LATE; 10:00 exactly-at-
    //          watermark+1min on-time
    val b2 = Seq(ev(10, 12, 30, "click", 4.0), ev(11, 9, 58, "view", 5.0),
      ev(12, 7, 0, "click", 6.0), ev(13, 10, 0, "view", 7.0))
    stageParquet(frame(b1), src, "f1.parquet")
    Thread.sleep(1100)
    stageParquet(frame(b2), src, "f2.parquet")
    def runOnce(cp: String): Unit = {
      val q = Streaming.latenessAuditSink(
          Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
          s"$out/counts", s"$out/late", s"$out/wm", cp,
          latenessUs = 7200000000L, compactEvery = 2)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDrained(q)
    }
    runOnce(s"$out/cp1")
    // LATE rows: exactly 11 and 12, with event-time evidence
    val late = spark.read.parquet(s"$out/late")
      .orderBy("event_id").collect()
    assert(late.map(_.getLong(0)).toSeq == Seq(11L, 12L), late.mkString(","))
    val wm959 = frame(Seq(ev(0, 9, 59, "x", 0))).select(
      unix_micros(col("ts").cast("timestamp"))).collect()(0).getLong(0)
    late.foreach { r =>
      assert(r.getAs[Long]("watermark_us") == wm959)
      assert(r.getAs[Long]("late_by_us") ==
        wm959 - r.getAs[Long]("ts_us"), r.toString)
      assert(r.getAs[Long]("late_by_us") > 0)
    }
    // counts report == batch aggregate over the ON-TIME slice only
    val onTime = frame(b1 ++ Seq(ev(10, 12, 30, "click", 4.0),
      ev(13, 10, 0, "view", 7.0)))
    def expected = onTime
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("hour_us", "event_type").collect().toSeq
    def streamed = spark.read.parquet(s"$out/counts")
      .orderBy("hour_us", "event_type").collect().toSeq
    assert(streamed == expected, s"streamed=$streamed expected=$expected")
    // crash replay: drop the LAST batch's commit (Spark re-delivers
    // only an uncommitted FINAL batch) — batch 2 replays against the
    // watermark its own first delivery advanced (12:30 - 2h = 10:30),
    // so its 10:00 row NOW quarantines too (the engine's monotone-
    // watermark behavior) and its count/quarantine partitions are
    // rewritten consistently from that one classification
    dropCommit(s"$out/cp1", 1)
    runOnce(s"$out/cp1")
    val lateReplayed = spark.read.parquet(s"$out/late")
      .orderBy("event_id").collect()
    assert(lateReplayed.map(_.getLong(0)).toSeq == Seq(11L, 12L, 13L),
      lateReplayed.mkString(","))
    val expected2 = onTime.filter(col("event_id") =!= 13L)
      .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("hour_us", "event_type").collect().toSeq
    assert(streamed == expected2)
    // fresh full re-run — clean checkpoint AND clean sink state (the
    // watermark lives with the SINK's state, so reusing it replays
    // against the advanced watermark by design, like any restarted
    // engine stream keeps its checkpointed watermark) — converges to
    // the first-run verdicts and counts
    val q2 = Streaming.latenessAuditSink(
        Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
        s"$out/counts2", s"$out/late2", s"$out/wm2", s"$out/cp2",
        latenessUs = 7200000000L, compactEvery = 2)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q2)
    assert(spark.read.parquet(s"$out/late2")
      .orderBy("event_id").collect().map(_.getLong(0)).toSeq ==
      Seq(11L, 12L))
    assert(spark.read.parquet(s"$out/counts2")
      .orderBy("hour_us", "event_type").collect().toSeq == expected)
  }

  test("latenessAuditSink: an EMPTY first micro-batch is a no-op, not a wedge") {
    // an empty batch writes ZERO partition dirs under dynamic
    // overwrite; reading the bare partials dir back used to fail
    // schema inference and crash the stream on every restart (the
    // same empty batch re-delivered forever)
    import spark.implicits._
    val out = Files.createTempDirectory("stream_late_empty").toString
    val src = s"$out/src"
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def frame(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    stageParquet(frame(Seq.empty), src, "f0.parquet") // EMPTY first file
    Thread.sleep(1100)
    stageParquet(frame(Seq((1L, ts(10, 0), 1L, "view", 1.0, "{}"),
      (2L, ts(10, 30), 2L, "click", 2.0, "{}"))), src, "f1.parquet")
    val q = Streaming.latenessAuditSink(
        Streaming.readEvents(spark, src, maxFilesPerTrigger = 1),
        s"$out/counts", s"$out/late", s"$out/wm", s"$out/cp",
        latenessUs = 7200000000L, compactEvery = 2)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitDrained(q)
    val counts = spark.read.parquet(s"$out/counts")
      .orderBy("hour_us", "event_type").collect()
    assert(counts.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("click", 1L), ("view", 1L)), counts.mkString(","))
  }
}
