package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import etlmudah.Tables
import Fragments._

/** Round-12 registry tier — appended to [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]] (per-round registry split, the Round11
  * seam). Same contract: every query ends in an explicit orderBy with
  * full tie-breaks, timestamps leave as epoch micros, counts/ranks
  * cast BIGINT on both sides, sums ride a DECIMAL/BIGINT lattice with
  * one closing double op per group. */
object Round12 {

  /** Stage the events table into one file per event-time DAY, give the
    * files a deterministically SCRAMBLED arrival order (file name and
    * arrival follow ord = (day mod 7)·100 + day), and run
    * [[etlmudah.streaming.Streaming.latenessAuditSink]] over them once
    * per corpus ([[Stage.directory]], published only on a finished run):
    * a later batch carrying an earlier day arrives BELOW the watermark
    * the higher days advanced, so the sink's on-time/late split is a
    * deterministic function of the ladder — which is exactly what
    * q342/q343's oracles replay in SQL (running-max watermark over the
    * batch order, one row per quarantined event). */
  private def stagedLatenessAudit(s: SparkSession, dir: String): String =
    Stage.directory(s, dir, "lateness-audit-v1-l2h-c8", "lateaudit",
        "events.parquet") { root =>
      import org.apache.spark.sql.streaming.Trigger
      import etlmudah.streaming.Streaming
      val src = Stage.dayLadder(s, root, Tables.eventsTyped(s, dir),
        d => f"b${(d % 7) * 100 + d}%04d")
      val q = Streaming.latenessAuditSink(
          Streaming.readEvents(s, src, maxFilesPerTrigger = 1),
          s"$root/counts", s"$root/late", s"$root/wm", s"$root/cp",
          latenessUs = 7200000000L, compactEvery = 8)
        .trigger(Trigger.AvailableNow()).start()
      // a timed-out run must not publish truncated counts
      require(q.awaitTermination(600000),
        "lateness-audit staged sink did not finish within 600s")
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // FULL coreness decomposition (Batagelj–Zaveršnik via the iterated
    // Seidman ladder) of the weight≥2 co-purchase graph: core number
    // per node — the production hub-guard readout beside q313's tail
    // index (q309 answers ONE k; this answers all of them, and
    // max(coreness) is the graph's degeneracy). Non-vacuous at every
    // SF by construction: every node of the simple graph has
    // coreness ≥ 1. The oracle replays the whole ladder — 20 levels ×
    // 16 peel rounds each, each level starting from the previous
    // level's fixpoint — and takes max(level) per surviving node.
    "q336_coreness" -> ((s, dir) =>
      etlmudah.graph.Centrality.coreness(
        SparkEntry.stagedCoEdges(s, dir)
          .filter(col("src") < col("dst") && col("weight") >= 2L)
          .select(col("src").as("u"), col("dst").as("v")))),

    // CORENESS, 100 TB tier — q336's numbers via the H-INDEX FIXPOINT
    // (Lü et al. 2016: iterating c <- H(neighbor c) from the degrees
    // converges exactly to the core number). The ladder pays
    // Σ peel-depth rounds (10–53 measured, grows with degeneracy);
    // this pays one edge join + one degree-bounded per-node window
    // per iteration, 2–4 iterations measured — the plan that holds
    // when the degeneracy is deep. Oracle = q336's VERBATIM (the
    // q340 dial discipline: the tier changes the PLAN, not the
    // statistic); CentralitySpec pins hIndex == ladder on random
    // graphs.
    "q345_coreness_hindex" -> ((s, dir) =>
      etlmudah.graph.Centrality.corenessHIndex(
        SparkEntry.stagedCoEdges(s, dir)
          .filter(col("src") < col("dst") && col("weight") >= 2L)
          .select(col("src").as("u"), col("dst").as("v")))),

    // k-TRUSS of the co-purchase graph (Cohen 2008) — the EDGE-support
    // sibling of q309/q336: keep edges lying in ≥ k−2 triangles
    // within the surviving subgraph (k=3: every edge must close at
    // least one triangle — spam stars die, cliques survive). Fixpoint
    // measured at ≤2 rounds on all three SFs (2387 / 273 / 18
    // surviving edges — non-vacuous everywhere); 4 rounds registered,
    // the extra rounds no-ops. The oracle unrolls the peel round by
    // round (the q309 discipline).
    "q348_k_truss" -> ((s, dir) =>
      etlmudah.graph.Centrality.kTruss(
        SparkEntry.stagedCoEdges(s, dir)
          .filter(col("src") < col("dst") && col("weight") >= 2L)
          .select(col("src").as("u"), col("dst").as("v")),
        k = 3, rounds = 4)),

    // REAL baseline-JPEG pixel decode (JpegFn: full T.81 baseline —
    // marker walk, DQT, canonical DHT, entropy decode with byte
    // stuffing, DC prediction + magnitude categories, AC run/size,
    // dequant, IDCT, JFIF color transform) over synthesized DC-only
    // 4:4:4 streams whose decoded image is the block-constant closed
    // form (flat-block IDCT is exact: dc = 8·(v−128) decodes to v on
    // any conforming decoder; neutral chroma returns Y unchanged), so
    // the oracle replays per-pixel values WITHOUT parsing a byte —
    // the q304 discipline extended to the entropy-coded family. Every
    // 5th blob is maimed to a 40-byte prefix: decode must null whole,
    // never a partial statistic. Dims 4–16 × 3–11 cross MCU edges, so
    // the partial-block crop path is on the oracle surface.
    "q337_jpeg_pixel_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = blockDims(id)
      val blob = etlmudah.multimodal.Multimodal.fakeJpeg(id, wg, hg)
      val maimed = maim(blob, 5, 40)
      Tables.documents(s, dir)
        .select(wg.as("w"), hg.as("h"),
          etlmudah.multimodal.Multimodal.jpegPixelStats(maimed).as("st"))
        .transform(pixelStatsByDims("n_imgs", "rgb"))
    }),

    // CROSS-FORMAT dedup across the LOSSY boundary — q335's planting
    // with the fourth container: consecutive docs share a seed, the
    // EVEN doc renders the block-constant image as a 24bpp BMP
    // (graft_fake_bmp_blocks, raw byte path) and the ODD doc as a
    // baseline JPEG (full entropy decode path); one visual image, two
    // fully independent decoders, one perceptual hash — every planted
    // pair must land in one group. The oracle replays the hash bit
    // for bit from the block closed form (q305 discipline).
    "q338_cross_format_jpeg_dedup" -> ((s, dir) => {
      val seed = plantedSeed(2)
      val (wg, hg) = blockDims(seed)
      val M = etlmudah.multimodal.Multimodal
      val ah = when(col("doc_id") % 2 === 0,
        M.bmpAHash(M.fakeBmpBlocks(seed, wg, hg)))
        .otherwise(M.jpegAHash(M.fakeJpeg(seed, wg, hg)))
      ahashGroupSizes(Tables.documents(s, dir), ah)
    }),

    // JPEG THUMBNAIL path: decode → canonical BMP transcode →
    // box-filter resize → stats (the q306 composition for the lossy
    // family). The oracle box-filters the block closed form — floor
    // mean over each 2×2 window, windows crossing an 8-pixel block
    // edge mix two constants, so the resize arithmetic is genuinely
    // on the oracle surface.
    "q339_jpeg_transcode_resize" -> resizeStats(
      "graft_jpeg_to_bmp24(graft_fake_jpeg(doc_id, w, h))"),

    // GINI, 100 TB tier — q318's number BIT FOR BIT without the
    // single-reducer global rank window: entities bucket by exact
    // percentile boundaries (broadcast scalars), ranks run
    // PARTITIONED per bucket, global rank = bucket offset + local
    // rank (a distributed prefix sum). Exact, not approximate: tie
    // groups never span buckets and Σ i·x is invariant under
    // within-tie permutation (Analytics.giniCoefficientBucketed doc).
    // The oracle is q318's VERBATIM (the q203 must-land-identically
    // discipline) — a green row proves the dial changes the PLAN,
    // not the statistic.
    "q340_gini_bucketed" -> ((s, dir) =>
      etlmudah.analytics.Analytics.giniCoefficientBucketed(
        Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .as("rev")),
        "o_custkey", col("rev"), buckets = 32)),

    // LORENZ ladder, 100 TB tier — value-boundary buckets instead of
    // q322's global ntile window (ntile splits tie groups to equalize
    // counts; boundary buckets keep them together — the two tiers
    // legitimately differ exactly there, so this twin carries its own
    // oracle: the q79 quantile_cont boundary replay). Cumulative
    // share runs over the 10-row summary only.
    "q341_lorenz_binned" -> ((s, dir) =>
      etlmudah.analytics.Analytics.lorenzBinned(
        Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .as("rev")),
        "o_custkey", col("rev"), buckets = 10)),

    // MJPEG VIDEO FRAME SAMPLING — the q334 plan over the
    // entropy-coded codec the JPEG tier unlocked: per doc a synthetic
    // MJPEG AVI ('MJPG' vids stream, each movi chunk a complete
    // baseline JFIF), sampled uniformly (frame j·n div 3) through the
    // SAME registered function family as the uncompressed tier —
    // frame k decodes via the real Huffman+IDCT path and its image is
    // the block closed form at seed doc_id + k, which the oracle
    // replays per sample. Every 7th container is maimed: decode nulls
    // whole. Dims 4–16 × 3–11 cross MCU edges.
    "q344_mjpeg_frame_sample" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = blockDims(id)
      val nf = (id % 5 + 2)
      val M = etlmudah.multimodal.Multimodal
      val blob = M.fakeMjpegAvi(id, wg, hg, nf)
      val maimed = maim(blob, 7, 60)
      Tables.documents(s, dir)
        .select(id, wg.as("w"), hg.as("h"), nf.as("nf"), maimed.as("avi"))
        .select(col("w"), col("h"), col("nf"),
          explode(sequence(lit(0L), lit(2L))).as("j"), col("avi"))
        .select(col("w"), col("h"),
          M.aviFrameStats(col("avi"),
            expr("j * nf div 3")).as("st"))
        .transform(pixelStatsByDims("n_samples", "bgr"))
    }),

    // REAL GIF pixel decode — LZW dictionary coding, the THIRD
    // compression family on the image tier (PNG = zlib, JPEG =
    // Huffman-DCT): variable-width codes, clear/EOI, sub-block
    // ladder, 256-gray palette. Lossless, so the q337 block closed
    // form replays verbatim; every 5th blob maimed nulls whole.
    "q349_gif_pixel_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = blockDims(id)
      val M = etlmudah.multimodal.Multimodal
      val blob = M.fakeGif(id, wg, hg)
      val maimed = maim(blob, 5, 40)
      Tables.documents(s, dir)
        .select(wg.as("w"), hg.as("h"),
          M.gifPixelStats(maimed).as("st"))
        .transform(pixelStatsByDims("n_imgs", "rgb"))
    }),

    // THREE-DECODER dedup on one visual image: doc_id mod 3 renders
    // the block-constant picture as a raw-path BMP, a baseline JPEG
    // (Huffman-DCT), or an LZW GIF — three fully independent decode
    // pipelines, one perceptual hash, every planted triple in one
    // group. Oracle replays the hash from the closed form (q338's
    // discipline with a three-way split).
    "q350_cross_container_lzw_dedup" -> ((s, dir) => {
      val seed = plantedSeed(3)
      val (wg, hg) = blockDims(seed)
      val M = etlmudah.multimodal.Multimodal
      val ah = when(col("doc_id") % 3 === 0,
        M.bmpAHash(M.fakeBmpBlocks(seed, wg, hg)))
        .when(col("doc_id") % 3 === 1,
          M.jpegAHash(M.fakeJpeg(seed, wg, hg)))
        .otherwise(M.gifAHash(M.fakeGif(seed, wg, hg)))
      ahashGroupSizes(Tables.documents(s, dir), ah)
    }),

    // REAL FLAC sample decode — the audio twin of PNG-beside-BMP:
    // lossless Rice-coded residuals + fixed predictors + CRC-verified
    // frames decode to EXACTLY the raw samples, so compressed audio
    // lands on the WAV tier's closed forms. Same shape as q230 (same
    // dims, same maiming), and the ORACLE IS q230's VERBATIM — a
    // green row proves the entropy decoder reproduces the raw tier
    // bit for bit (the q305/q340 must-land-identically discipline).
    "q346_flac_sample_stats" -> sampleStatsByChannels(
      etlmudah.multimodal.Multimodal.fakeFlac,
      etlmudah.multimodal.Multimodal.flacSampleStats(_)),

    // the VAD pair on the compressed family — q265's query shape and
    // ORACLE VERBATIM over FLAC inputs (zero-crossings, silence runs)
    "q347_flac_vad_features" ->
      vadFeatures("graft_flac_features", "graft_fake_flac"),

    // LATENESS-AUDIT SINK batch twin, END-TO-END (the q301 discipline
    // for the streaming tier): the real sink runs over a
    // deterministically scrambled day-batch ladder on disk, and this
    // row reads back its COUNTS report — the hourly on-time slice.
    // The oracle replays the whole micro-batch ledger in SQL: batch
    // order = (day mod 7, day), watermark before a batch = running
    // max of earlier batches' max event time minus 2h, on-time = not
    // below that watermark. Counts only (exact BIGINT lattice — the
    // report's double value_sum stays out of the oracle surface by
    // the float-fold ban).
    "q342_lateness_audit_counts" -> ((s, dir) => {
      val root = stagedLatenessAudit(s, dir)
      Tables.parquet(s, s"$root/counts")
        .select(col("hour_us").cast("long").as("hour_us"),
          col("event_type"), col("cnt").cast("long").as("cnt"))
        .orderBy(col("hour_us"), col("event_type"))
    }),

    // the QUARANTINE side of the same run: every late row with its
    // event-time evidence (ts, the exact watermark that condemned it,
    // late_by_us, and the 0-based batch index it arrived in) — the
    // oracle derives all four from the same SQL ledger replay
    "q343_lateness_audit_quarantine" -> ((s, dir) => {
      val root = stagedLatenessAudit(s, dir)
      Tables.parquet(s, s"$root/late")
        .select(col("event_id").cast("long").as("event_id"),
          col("ts_us").cast("long").as("ts_us"),
          col("watermark_us").cast("long").as("watermark_us"),
          col("late_by_us").cast("long").as("late_by_us"),
          col("batch_id").cast("long").as("batch_id"))
        .orderBy(col("event_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    // coreness ladder unrolled level by level, round by round (the
    // q309 step-replay discipline; AS MATERIALIZED because each alive
    // set is referenced twice per round). 20 levels × 16 rounds
    // covers the measured worst case (sf0.001: degeneracy 16, deepest
    // level drains in 13 rounds); extra rounds/levels are no-ops on
    // an already-fixed set.
    "q336_coreness" -> corenessLadderSql,

    // q336's oracle VERBATIM: the h-index fixpoint must land on the
    // identical decomposition
    "q345_coreness_hindex" -> corenessLadderSql,

    "q337_jpeg_pixel_stats" ->
      jpegPixelStatsSql,

    // the perceptual hash replayed bit for bit from the block closed
    // form (q305's discipline): grid cell (gi, gj) samples VISUAL row
    // h-1-gi*h/8, column gj*w/8; brightness = 3·v (gray); bit set on
    // the exact cross-multiplied cell*64 > total
    "q338_cross_format_jpeg_dedup" ->
      s"""WITH d AS (SELECT doc_id, doc_id // 2 AS seed FROM documents),
         |dd AS (SELECT DISTINCT seed, (seed % 13 + 4) AS w,
         |    (seed % 9 + 3) AS h FROM d),
         |$blockGridCtes,
         |$ahashGroupSizesSql""".stripMargin,

    // box-filtered block closed form: each 2x2 output window floor-
    // means the constants it covers (windows crossing an 8-px block
    // edge mix two constants — q306's cells discipline)
    "q339_jpeg_transcode_resize" ->
      """WITH d AS (SELECT doc_id, (doc_id % 8 + 2)::BIGINT AS w,
        |    ((doc_id * 3) % 8 + 2)::BIGINT AS h
        |  FROM documents WHERE doc_id % 7 = 0),
        |o AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM d),
        |cells AS (
        |  -- resize walks BMP FILE rows; the transcode is bottom-up,
        |  -- so input file row fr carries VISUAL row h-1-fr
        |  SELECT o.doc_id, oy.x AS oy, ox.x AS ox,
        |    (sum((o.doc_id*17 + ((o.h - 1 - (oy.x*2 + dy.x))//8)*5
        |      + ((ox.x*2 + dx.x)//8)*3) % 256) // 4)::INT AS v
        |  FROM o, range(0, 4) oy(x), range(0, 4) ox(x),
        |       range(0, 2) dy(x), range(0, 2) dx(x)
        |  WHERE oy.x < o.oh AND ox.x < o.ow
        |  GROUP BY 1, 2, 3),
        |st AS (SELECT doc_id, count(*)::BIGINT AS n_px,
        |    min(v)::INT AS v_min, max(v)::INT AS v_max,
        |    sum(v)::BIGINT AS v_sum
        |  FROM cells GROUP BY 1)
        |SELECT o.doc_id, o.w, o.h, o.ow, o.oh, st.n_px,
        |  st.v_min AS b_min, st.v_max AS b_max, st.v_sum AS b_sum,
        |  st.v_min AS g_min, st.v_max AS g_max, st.v_sum AS g_sum,
        |  st.v_min AS r_min, st.v_max AS r_max, st.v_sum AS r_sum
        |FROM o JOIN st USING (doc_id)
        |ORDER BY o.doc_id""".stripMargin,

    // q318's oracle VERBATIM: the bucketed plan must land on the
    // identical Gini
    "q340_gini_bucketed" ->
      revenueGiniSql,

    // boundary-bucketed Lorenz replay: quantile_cont boundaries (the
    // q79 percentile parity), cumulative-from-top over the summary
    "q341_lorenz_binned" -> {
      val cmp = (1 to 9).map(i => s"(v >= bs[$i])::INT").mkString(" + ")
      s"""WITH rev AS (SELECT o_custkey,
         |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
         |  FROM orders GROUP BY 1),
         |b AS (SELECT quantile_cont(x::DOUBLE,
         |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM rev),
         |t0 AS (SELECT x::DOUBLE AS v, x,
         |    (1 + $cmp)::BIGINT AS bucket FROM rev, b),
         |bd AS (SELECT bucket, count(*)::BIGINT AS n_cust,
         |    sum(x) AS brev FROM t0 GROUP BY 1),
         |t AS (SELECT sum(brev) AS trev FROM bd)
         |SELECT bucket, n_cust,
         |  CAST(round(brev, 2) AS DOUBLE) AS bucket_revenue,
         |  round(sum(brev) OVER (ORDER BY bucket DESC
         |      ROWS UNBOUNDED PRECEDING)::DOUBLE / trev::DOUBLE, 6)
         |    AS cum_share_from_top
         |FROM bd CROSS JOIN t ORDER BY bucket""".stripMargin
    },

    // MJPEG sampling replayed from the block closed form at seed
    // doc_id + sampled-frame-index (gray frames: all channels carry
    // the same numbers)
    "q344_mjpeg_frame_sample" ->
      """WITH d AS (SELECT doc_id, (doc_id % 13 + 4)::INT AS w,
        |    (doc_id % 9 + 3)::INT AS h, (doc_id % 5 + 2) AS nf
        |  FROM documents),
        |sm AS (SELECT d.*, j.j,
        |    (j.j * d.nf) // 3 AS fk FROM d, range(0, 3) j(j)),
        |px AS (SELECT sm.doc_id, sm.j,
        |    ((sm.doc_id + sm.fk)*17 + (fr.fr//8)*5 + (c.c//8)*3) % 256
        |      AS v
        |  FROM sm, range(0, 11) fr(fr), range(0, 16) c(c)
        |  WHERE sm.doc_id % 7 <> 0 AND fr.fr < sm.h AND c.c < sm.w),
        |st AS (SELECT doc_id, j, count(*)::BIGINT AS n_px,
        |    min(v)::INT AS v_min, max(v)::INT AS v_max,
        |    sum(v)::BIGINT AS v_sum
        |  FROM px GROUP BY 1, 2)
        |SELECT d.w, d.h, count(*) AS n_samples,
        |  count(st.doc_id)::BIGINT AS n_decoded,
        |  sum(st.n_px)::BIGINT AS n_px,
        |  min(st.v_min) AS b_min, max(st.v_max) AS b_max,
        |  sum(st.v_sum)::BIGINT AS b_sum,
        |  min(st.v_min) AS g_min, max(st.v_max) AS g_max,
        |  sum(st.v_sum)::BIGINT AS g_sum,
        |  min(st.v_min) AS r_min, max(st.v_max) AS r_max,
        |  sum(st.v_sum)::BIGINT AS r_sum
        |FROM d CROSS JOIN range(0, 3) j(j)
        |LEFT JOIN st ON st.doc_id = d.doc_id AND st.j = j.j
        |GROUP BY d.w, d.h ORDER BY d.w, d.h""".stripMargin,

    // truss peel unrolled round by round; each round's support join
    // and the alive sets are double-referenced -> AS MATERIALIZED
    "q348_k_truss" -> {
      def round(i: Int) =
        s"""s$i AS MATERIALIZED (SELECT u AS a, v AS b FROM c${i - 1}
           |       UNION ALL SELECT v, u FROM c${i - 1}),
           |t$i AS MATERIALIZED (
           |  SELECT c.u, c.v, count(*) AS sup FROM c${i - 1} c
           |  JOIN s$i s1 ON s1.a = c.u
           |  JOIN s$i s2 ON s2.a = c.v AND s2.b = s1.b
           |  GROUP BY 1, 2),
           |c$i AS MATERIALIZED (SELECT u, v FROM t$i WHERE sup >= 1)""".stripMargin
      s"""WITH e0 AS MATERIALIZED (
         |${coPairsSql}),
         |c0 AS MATERIALIZED (SELECT u, v FROM e0),
         |${(1 to 5).map(round).mkString(",\n")}
         |SELECT c4.u, c4.v, coalesce(t5.sup, 0)::BIGINT AS support
         |FROM c4 LEFT JOIN t5 USING (u, v)
         |ORDER BY c4.u, c4.v""".stripMargin
    },

    // q337's pixel-rule oracle VERBATIM (lossless LZW lands on the
    // identical block closed form)
    "q349_gif_pixel_stats" ->
      jpegPixelStatsSql,

    // the q338 hash replay with the three-way seed split
    "q350_cross_container_lzw_dedup" ->
      s"""WITH d AS (SELECT doc_id, doc_id // 3 AS seed FROM documents),
         |dd AS (SELECT DISTINCT seed, (seed % 13 + 4) AS w,
         |    (seed % 9 + 3) AS h FROM d),
         |$blockGridCtes,
         |$ahashGroupSizesSql""".stripMargin,

    // q230's oracle VERBATIM: the FLAC entropy decode must land on
    // the raw WAV closed form exactly
    "q346_flac_sample_stats" ->
      wavSampleStatsSql,

    // q265's oracle VERBATIM: the VAD features replay identically
    // through the compressed path
    "q347_flac_vad_features" ->
      wavFeaturesSql,

    // the micro-batch ledger replayed in SQL: batch order
    // (day mod 7, day); watermark BEFORE a batch = running max of
    // earlier batches' max(us) minus 2h; hourly counts over the
    // on-time slice
    "q342_lateness_audit_counts" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type,
        |    day(ts) AS d FROM events),
        |dd AS (SELECT DISTINCT d FROM ev),
        |ord AS (SELECT d, (d % 7) * 100 + d AS o FROM dd),
        |mx AS (SELECT d, max(us) AS mxus FROM ev GROUP BY d),
        |wm AS (SELECT ord.d,
        |    max(mxus) OVER (ORDER BY ord.o ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - 7200000000 AS wm
        |  FROM ord JOIN mx USING (d)),
        |cls AS (SELECT ev.us, ev.event_type,
        |    (wm.wm IS NOT NULL AND ev.us < wm.wm) AS late
        |  FROM ev JOIN wm USING (d))
        |SELECT (us // 3600000000) * 3600000000 AS hour_us, event_type,
        |  count(*)::BIGINT AS cnt
        |FROM cls WHERE NOT late
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same ledger, the condemned rows: evidence columns exactly as
    // the sink quarantines them
    "q343_lateness_audit_quarantine" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS us,
        |    day(ts) AS d FROM events),
        |dd AS (SELECT DISTINCT d FROM ev),
        |ord AS (SELECT d, (d % 7) * 100 + d AS o FROM dd),
        |mx AS (SELECT d, max(us) AS mxus FROM ev GROUP BY d),
        |wm AS (SELECT ord.d,
        |    (row_number() OVER (ORDER BY ord.o ASC))::BIGINT - 1
        |      AS batch_id,
        |    max(mxus) OVER (ORDER BY ord.o ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      - 7200000000 AS wm
        |  FROM ord JOIN mx USING (d))
        |SELECT ev.event_id, ev.us AS ts_us,
        |  wm.wm AS watermark_us, wm.wm - ev.us AS late_by_us,
        |  wm.batch_id
        |FROM ev JOIN wm USING (d)
        |WHERE wm.wm IS NOT NULL AND ev.us < wm.wm
        |ORDER BY ev.event_id""".stripMargin
  )
}
