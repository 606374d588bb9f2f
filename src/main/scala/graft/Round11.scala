package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import etlmudah.Tables
import etlmudah.load.BucketedBase
import etlmudah.multimodal.Multimodal
import Fragments._

/** Round-11 registry tier — appended to [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]] (the registry is split per-round from here
  * on; SparkEntry.scala was approaching unreviewable). Same contract:
  * every query ends in an explicit orderBy with full tie-breaks,
  * timestamps leave as epoch micros, counts/ranks cast BIGINT on both
  * sides, sums ride a DECIMAL/BIGINT lattice with one closing double
  * op per group. */
object Round11 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S8 PERSIST path (the reference's staged COPY + ON CONFLICT load,
    // dags/dag.py:250-266) run END-TO-END through the bucket-pruned
    // base: seed orders as a 32-bucket base on disk, merge the q16
    // repricing batch (REWRITING ONLY THE BUCKETS ITS KEYS TOUCH —
    // the files-untouched pin lives in UpsertSpec), read the live base
    // back. The oracle is the same closed form as q16: the batch is
    // synthesized deterministically from orders, so the merged state
    // is CASE-expressible. The fresh-root delete makes the seed part
    // of the query definition (re-runs converge identically).
    "q301_bucketed_merge_load" -> ((s, dir) => {
      val root = Stage.scratch("graft_sink_q301", dir)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val base = s"$root/orders_base"
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      BucketedBase.merge(orders.withColumn("batch_ts", lit(1L)),
        base, Seq("o_orderkey"), Seq(col("batch_ts").desc), numBuckets = 32)
      val batch = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("batch_ts", lit(2L))
      BucketedBase.merge(batch, base, Seq("o_orderkey"),
        Seq(col("batch_ts").desc), numBuckets = 32)
      BucketedBase.read(s, base)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_orderkey"))
    }),

    // TPC-H Q20 shape (excess-stock suppliers) — the last-but-one
    // missing decorrelation in the relational sweep. The correlated
    // `ps_availqty > 0.5 * sum(l_quantity ...)` per-(part,supp)
    // subquery decorrelates into ONE grouped aggregate with TWO
    // conditional sums (on-hand proxy = 1998+ shipments; demand = the
    // 1997 window), the nested IN-part-subset into a broadcast
    // left_semi BEFORE the aggregate (only red parts' lines are ever
    // grouped), and the outer supplier IN into a left_semi on the
    // qualifying pair frame. avail > 0.5*demand is the exact
    // cross-multiply avail*2 > demand on the DECIMAL(18,2) lattice —
    // no float threshold anywhere (q274 discipline).
    "q302_excess_stock_suppliers" -> ((s, dir) => {
      val redParts = Tables.part(s, dir)
        .filter(col("p_name").startsWith("red")).select("p_partkey")
      val zero = lit(0).cast("decimal(18,2)")
      val pairs = Tables.lineitem(s, dir)
        .join(broadcast(redParts),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(
          sum(when(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"),
            col("l_quantity").cast("decimal(18,2)")).otherwise(zero))
            .as("avail"),
          sum(when(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
              && col("l_shipdate") < lit("1998-01-01").cast("timestamp"),
            col("l_quantity").cast("decimal(18,2)")).otherwise(zero))
            .as("demand"))
        .filter(col("avail") * 2 > col("demand"))
        .select(col("l_suppkey"))
      Tables.supplier(s, dir)
        .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(Tables.nation(s, dir),
          col("s_nationkey") === col("n_nationkey"))
        .filter(col("n_name").isin(
          "NATION_3", "NATION_7", "NATION_11", "NATION_19", "NATION_22"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy(col("s_name"), col("s_suppkey"))
    }),

    // TPC-H Q16 shape (supplier count by part attributes) — the last
    // missing decorrelation. The partsupp relation is the DISTINCT
    // (l_partkey, l_suppkey) pair frame; the NOT-IN complained-about
    // suppliers subquery (negative balance as the complaint proxy; the
    // key is non-null so NOT IN == NOT EXISTS) becomes a broadcast
    // left_anti, the part attribute gates (<> brand, NOT LIKE type,
    // size IN list) ride a broadcast join, and the count is
    // countDistinct per (brand, type, size).
    "q303_supplier_count_by_part" -> ((s, dir) => {
      val sizes = Seq(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
      val complained = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("xk"))
      val gatedParts = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#5" &&
          !col("p_type").like("MEDIUM%") &&
          col("p_size").isin(sizes: _*))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(gatedParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(complained), col("l_suppkey") === col("xk"),
          "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand").asc,
          col("p_type").asc, col("p_size").asc)
    }),

    // REAL PNG pixel statistics — the q224 discipline carried to the
    // dominant COMPRESSED web format: non-interlaced 8-bit truecolor
    // decode is JDK Inflater + RFC 2083 filter reversal (native
    // graft_png_stats; scanline filters cycle all five types in the
    // synth, so a green row proves every filter reversal). Pixels are
    // closed-form in (doc_id, fr, c); every fifth blob truncates to
    // 40 bytes to prove partial PNGs yield null, never a partial
    // statistic. The oracle replays the pixel rule over a
    // generate-series — never parses a byte.
    "q304_png_pixel_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = smallDims(id)
      val blob = Multimodal.fakePng24(id, wg, hg)
      val maimed = maim(blob, 5, 40)
      Tables.documents(s, dir)
        .select(wg.as("w"), hg.as("h"),
          Multimodal.pngPixelStats(maimed).as("st"))
        .transform(pixelStatsByDims("n_imgs", "rgb"))
    }),

    // CROSS-FORMAT image dedup on real pixels: consecutive docs share
    // a seed (q227's planting), but here the EVEN doc renders the
    // image as a 24bpp BMP and the ODD doc as a truecolor PNG — the
    // perceptual hash is defined over the VISUAL image with one
    // orientation convention across formats, so every planted pair
    // still lands in one group. The oracle is q227's verbatim (the
    // q203 must-land-identically discipline): a green row proves the
    // PNG decode + hash equals the BMP path bit for bit.
    "q305_cross_format_ahash_dedup" -> ((s, dir) => {
      val seed = plantedSeed(2)
      val (wg, hg) = smallDims(seed)
      val ah = when(col("doc_id") % 2 === 0,
        Multimodal.bmpAHash(Multimodal.fakeBmp24(seed, wg, hg)))
        .otherwise(Multimodal.pngAHash(Multimodal.fakePng24(seed, wg, hg)))
      ahashGroupSizes(Tables.documents(s, dir), ah)
    }),

    // PNG THUMBNAIL path: transcode (graft_png_to_bmp24) composes the
    // whole BMP kernel family onto PNG inputs — decode→canonical
    // BMP→box-filter resize→stats. Same visual image as q264's BMP
    // fixtures, so its oracle lands verbatim (q203 discipline): a
    // green row proves the transcode is byte-faithful through resize.
    "q306_png_transcode_resize" -> resizeStats(
      "graft_png_to_bmp24(graft_fake_png24(doc_id, w, h))"),

    // FULL Public-Suffix-List registered-domain resolution — the
    // production eTLD+1 tier (Web.pslRegisteredDomain) registered with
    // the q226 rule-table-as-CTE discipline: a PSL snapshot carrying
    // every rule kind (plain, longest-match plain pair co.uk/uk,
    // wildcard *.ck, exception !www.ck, comments/blanks) resolves
    // synthesized hosts covering all resolution branches — longest
    // match, wildcard +1, exception-wins, default-* fallback, and
    // bare-public-suffix -> null. The oracle replays parse +
    // candidate-suffix explosion + longest-match in SQL label algebra.
    "q307_psl_registered_domain" -> ((s, dir) => {
      import s.implicits._
      val rules = Seq("// test PSL snapshot", "", "com", "co.uk", "uk",
        "org", "*.ck", "!www.ck").toDF("rule")
      val subs = array(lit("www"), lit("a"), lit("blog"), lit("shop"),
        lit("x9"))
      val names = array(lit("foo"), lit("bar"), lit("baz"), lit("qux"))
      val sufs = array(lit("com"), lit("co.uk"), lit("ck"),
        lit("www.ck"), lit("example"), lit("org"), lit("uk"))
      val host = when(col("doc_id") % 11 === 0, lit("co.uk"))
        .when(col("doc_id") % 13 === 0, lit("ck"))
        .otherwise(concat_ws(".",
          element_at(subs, (col("doc_id") % 5 + 1).cast("int")),
          element_at(names, (col("doc_id") % 4 + 1).cast("int")),
          element_at(sufs, (col("doc_id") % 7 + 1).cast("int"))))
      etlmudah.web.Web.pslRegisteredDomain(
          Tables.documents(s, dir).select(host.as("host")), "host", rules)
        .select(col("host"), col("domain")).distinct()
        .orderBy(col("host"), col("domain"))
    }),

    // 128-BIT SIGNATURE DIAL for the binary ANN tier: 2 bits per
    // dimension, a thermometer code over per-dim EXACT quartiles
    // (bit 2d = x > q25_d, bit 2d+1 = x > q75_d) — Hamming now tracks
    // per-dim rank displacement instead of bare sign agreement. Same
    // probes, candK, rerank, and recall arithmetic as q229, so the
    // two rows measure the dial directly: avg recall@10 at candK=50
    // lifts 0.52 -> 0.70 (measured sf0.01). Thresholds are exact
    // percentiles (the percentile <-> quantile_cont parity), packing
    // stays integer bit arithmetic — the recall NUMBER hash-checks.
    "q308_binary_recall_128" -> ((s, dir) =>
      etlmudah.scale.Similarity.binaryRecallReport(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dims = 64, nprobe = 5, candK = 50, k = 10, bitsPerDim = 2)),

    // k-CORE of the co-purchase graph (Seidman 1983), ADAPTIVE form:
    // the innermost non-empty core at or below k=3 — the weight≥2
    // co-edge graph THINS as SF grows (3-core: 200 nodes at sf0.001,
    // 1055 at sf0.01, EMPTY at sf0.1 where the 2-core holds 18), so a
    // fixed k=3 made the sf0.1 parity leg vacuous. Peel at k=3 to the
    // driver-counted fixpoint; if empty, retry k=2, then k=1 (never
    // vacuous on a non-empty graph). Survivors reported with in-core
    // degree + the k that produced them. The oracle replays ALL THREE
    // candidate peels round by round (the HITS/LPA step-unroll
    // discipline) and selects by the same first-non-empty rule.
    "q309_k_core" -> ((s, dir) =>
      etlmudah.graph.Centrality.kCoreAdaptive(
        SparkEntry.stagedCoEdges(s, dir)
          .filter(col("src") < col("dst") && col("weight") >= 2L)
          .select(col("src").as("u"), col("dst").as("v")),
        kMax = 3, rounds = 10)),

    // t-CLOSENESS audit (Li et al. 2007) of the customer export:
    // per-nation total-variation distance between the nation's
    // market-segment mix and the global mix — the leak l-diversity
    // misses (a class can be fully diverse yet sharply skewed). The
    // distance folds on the integer lattice (|cnt_cs*N - cnt_s*n_c|
    // summed as DECIMAL, absent cells contributing their full margin
    // term) with ONE closing double division.
    "q310_t_closeness" -> ((s, dir) =>
      etlmudah.quality.Privacy.tClosenessReport(
        Tables.customer(s, dir), Seq("c_nationkey"), "c_mktsegment")),

    // Blocked EDIT-DISTANCE linkage over the distinct part-name
    // entity table — q219's typo-class sibling: first-token blocks,
    // the |len diff| <= maxDist lower bound prunes before the DP, the
    // engine's threshold-banded levenshtein(a, b, 2) confirms. Both
    // engines implement classic Levenshtein, so distances and the row
    // set replay exactly. maxDist = 3: within a first-token block the
    // second word varies, and the closest in-block pairs on this
    // vocabulary sit at distance 3 (measured; 2 would be vacuous).
    "q311_edit_link_parts" -> ((s, dir) =>
      etlmudah.joins.Joins.editLinkPairs(
        Tables.part(s, dir).groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("part_id")),
        "part_id", "p_name", maxDist = 3)),

    // HIERARCHICAL ratio-to-parent rollup: revenue per nation with
    // its share of the parent region AND the region's share of the
    // grand total — the drill-down readout (share-of-parent at every
    // level) as two stacked aggregates + broadcast join-backs, no
    // window over the fact table. Shares are exact-decimal
    // cross-ratios with one closing double division each.
    "q312_ratio_to_parent" -> ((s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"), col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("nat_rev"))
      val reg = rev.groupBy(col("n_regionkey"))
        .agg(sum(col("nat_rev")).as("reg_rev"))
      val tot = reg.agg(sum(col("reg_rev")).as("tot_rev"))
      rev.join(broadcast(reg), Seq("n_regionkey"))
        .crossJoin(broadcast(tot))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"),
          round(col("nat_rev"), 2).cast("double").as("nation_revenue"),
          round(col("nat_rev").cast("double") /
            col("reg_rev").cast("double"), 6).as("share_of_region"),
          round(col("reg_rev").cast("double") /
            col("tot_rev").cast("double"), 6).as("region_share_of_total"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // HILL tail-index estimate (Hill 1975) of the co-purchase degree
    // distribution — the "is this graph power-law?" readout behind
    // hub-guard sizing (q64's salted-star threshold): alpha-hat =
    // 1 + n / sum(ln(d_i / d_min)) over degrees >= d_min. Each log
    // term quantizes to BIGINT micro-nats (floor(ln*1e6), the q177
    // lattice) so the SUM is exact integer arithmetic — never a
    // partition-order float fold — with one closing division.
    "q313_degree_tail_index" -> ((s, dir) => {
      val dmin = 5L
      val e = SparkEntry.stagedCoEdges(s, dir)
        .filter(col("src") < col("dst") && col("weight") >= 2L)
      val deg = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= dmin)
        .select(floor(log(col("deg").cast("double") / dmin) * 1e6)
          .cast("long").as("__t"))
        .agg(count(lit(1)).as("n_tail"), sum(col("__t")).as("__s"))
        .select(col("n_tail"),
          round(lit(1.0) + col("n_tail") * lit(1e6) /
            col("__s").cast("double"), 6).as("alpha_hat"))
    }),

    // DAY-OF-WEEK seasonal profile per event type: the periodic-mean
    // index (dow mean / overall mean) behind seasonal adjustment —
    // exact-decimal value sums, BIGINT counts, index as the
    // cross-ratio sum_dow*n_all / (n_dow*sum_all) with one closing
    // double division (never mean/mean).
    "q314_dow_seasonal_index" -> ((s, dir) => {
      val ev = Tables.eventsTyped(s, dir)
        .select(col("event_type"), dayofweek(col("ts")).as("dow"),
          col("value").cast("decimal(18,6)").as("v"))
      val cell = ev.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("vsum"))
      val all = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_all"), sum(col("v")).as("vsum_all"))
      cell.join(broadcast(all), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("n"),
          round(col("vsum"), 2).cast("double").as("sum_value"),
          round((col("vsum") * col("n_all")).cast("double") /
            (col("vsum_all") * col("n")).cast("double"), 6)
            .as("seasonal_index"))
        .orderBy(col("event_type"), col("dow"))
    }),

    // CROSS-TABLE RECONCILIATION audit: does the denormalized order
    // total agree with its lines? Parent-child consistency is the
    // first integrity sweep a warehouse runs; here it HONESTLY finds
    // that the synthetic o_totalprice is unrelated to the lineitem
    // sum (plus 257 orders with no lines at all) and reports the
    // deviation spectrum. Every class boundary is an EXACT decimal
    // comparison (|d| cross-multiplied against the total — no float
    // ratio), so the histogram replays bit-for-bit.
    "q316_order_line_reconciliation" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("lsum"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice").cast("decimal(18,2)").as("otot"))
      val d = col("otot") - col("lsum")
      val ad = abs(d)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left")
        .withColumn("status",
          when(col("lsum").isNull, "no_lines")
            .when(ad <= lit(0.01), "match_1c")
            .when(ad * 10 <= col("otot"), "within_10pct")
            .when(ad * 2 <= col("otot"), "within_50pct")
            .when(ad <= col("otot"), "within_100pct")
            .otherwise("over_100pct"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(coalesce(ad, lit(0).cast("decimal(18,2)"))), 2)
            .cast("double").as("sum_abs_dev"))
        .orderBy(col("status"))
    }),

    // KAPLAN–MEIER reorder-gap survival: durations = day gaps between
    // a customer's consecutive orders (events), plus the open gap
    // from the last order to the corpus horizon (right-censored) —
    // the time-to-reorder curve with censoring handled properly
    // (dropping open gaps would bias survival LOW). Factor logs ride
    // the nano-nat BIGINT lattice, so the running product is exact
    // integer arithmetic with one exp per output row.
    "q317_reorder_survival" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).select(col("o_custkey").as("cust"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey"))
      val w = Window.partitionBy(col("cust"))
        .orderBy(col("d").asc, col("o_orderkey").asc)
      val horizon = o.agg(max(col("d")).as("__md"))
      val spans = o.withColumn("__nd", lead(col("d"), 1).over(w))
        .crossJoin(broadcast(horizon))
        .select(
          when(col("__nd").isNotNull, datediff(col("__nd"), col("d")))
            .otherwise(datediff(col("__md"), col("d"))).as("dur"),
          when(col("__nd").isNotNull, 1).otherwise(0).as("ev"))
      etlmudah.analytics.Analytics.kaplanMeier(spans, "dur", "ev")
    }),

    // GINI concentration of customer revenue (the Lorenz readout
    // behind "top X% of customers carry Y%"): ranks over the
    // |customers| aggregate, rank-weighted sums on the DECIMAL
    // lattice, one closing division.
    "q318_revenue_gini" -> ((s, dir) =>
      etlmudah.analytics.Analytics.giniCoefficient(
        Tables.orders(s, dir).groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
            .as("rev")),
        "o_custkey", col("rev"))),

    // MUTUAL INFORMATION event_type x day-of-week — the dependence
    // screen feature selection runs before keeping a column; per-cell
    // PMI + nano-nat lattice contributions (q313 discipline; the MI
    // total is the exact integer sum of the contribution column).
    "q319_type_dow_mi" -> ((s, dir) =>
      etlmudah.analytics.Analytics.mutualInformation(
        Tables.eventsTyped(s, dir)
          .select(col("event_type"), dayofweek(col("ts")).as("dow")),
        "event_type", "dow")),

    // TIME-WEIGHTED AVERAGE value per user over the event stream —
    // the LOCF integral a plain AVG gets wrong on irregular
    // sampling; exact decimal x micro-interval products, one closing
    // division per user. Top 50 spans for a bounded, fully-ordered
    // output.
    "q320_user_value_twap" -> ((s, dir) =>
      etlmudah.analytics.Events.twap(
        Tables.eventsTyped(s, dir), "user_id", col("ts"), col("value"))
        .orderBy(col("user_id")).limit(50)),

    // VIDEO FRAME SAMPLING on real bytes — the last multimodal verb:
    // per doc a synthetic uncompressed AVI (RIFF 'vids'/DIB, 24bpp
    // BI_RGB frames — real container, real pixel payload) is sampled
    // UNIFORMLY (frame j·n div 3 for j = 0,1,2 — the standard k-of-n
    // plan) and each sampled frame's pixel statistics aggregate per
    // dimension class. Every 7th blob truncates to prove partial
    // videos null whole, never a partial statistic. Frame k's pixels
    // are the shifted-seed BMP closed form, so the oracle replays the
    // whole pipeline over a (doc x sample x row x col) grid — never
    // parsing a byte.
    "q334_video_frame_sample" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = smallDims(id)
      val nf = (id % 5 + 2)
      val blob = Multimodal.fakeAvi(id, wg, hg, nf)
      val maimed = maim(blob, 7, 60)
      Tables.documents(s, dir)
        .select(id, wg.as("w"), hg.as("h"), maimed.as("avi"))
        .select(col("w"), col("h"), col("doc_id"),
          explode(sequence(lit(0L), lit(2L))).as("j"), col("avi"))
        .select(col("w"), col("h"),
          Multimodal.aviFrameStats(col("avi"),
            expr("j * (doc_id % 5 + 2) div 3")).as("st"))
        .transform(pixelStatsByDims("n_samples", "bgr"))
    }),

    // CROSS-CONTAINER image dedup: q227's planted pairs rendered
    // through THREE containers by doc_id % 3 — 24bpp BMP, truecolor
    // PNG, or frame 0 of a single-frame uncompressed AVI. One visual
    // hash convention across all three, so the dedup-group histogram
    // must land exactly on q227's oracle (the q203 discipline, now
    // across image AND video containers).
    "q335_cross_container_dedup" -> ((s, dir) => {
      val seed = plantedSeed(2)
      val (wg, hg) = smallDims(seed)
      val ah = when(col("doc_id") % 3 === 0,
        Multimodal.bmpAHash(Multimodal.fakeBmp24(seed, wg, hg)))
        .when(col("doc_id") % 3 === 1,
          Multimodal.pngAHash(Multimodal.fakePng24(seed, wg, hg)))
        .otherwise(Multimodal.aviFrameAHash(
          Multimodal.fakeAvi(seed, wg, hg, lit(1)), lit(0)))
      ahashGroupSizes(Tables.documents(s, dir), ah)
    }),

    // DISTRIBUTION-FREE median CI (binomial order statistics, normal
    // approximation) — the bootstrap-free sibling of q237: ranks
    // l = max(1, floor((n − 1.96·√n)/2)) and
    // u = min(n, ceil((n + 1.96·√n)/2) + 1) bracket the median at
    // ~95%; the bracketing VALUES resolve on the whole-dollar lattice
    // via the cumulative distinct-value frame (smallest v with
    // cum ≥ rank). The rank chain is the only float math and is
    // written identically on both engines; everything else is exact.
    "q333_median_order_stat_ci" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val v = Tables.orders(s, dir)
        .select(floor(col("o_totalprice")).cast("long").as("v"))
      val byV = v.groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("v").asc)
            .rowsBetween(Window.unboundedPreceding, 0)))
      val n = v.agg(count(lit(1)).as("n"))
      val lo = greatest(lit(1L),
        floor((col("n") - lit(1.96) * sqrt(col("n"))) / 2).cast("long"))
      val hi = least(col("n"),
        (ceil((col("n") + lit(1.96) * sqrt(col("n"))) / 2) + 1)
          .cast("long"))
      byV.crossJoin(broadcast(n.select(col("n"), lo.as("lo_rank"),
          hi.as("hi_rank"))))
        .agg(first(col("n")).as("n"),
          first(col("lo_rank")).as("lo_rank"),
          first(col("hi_rank")).as("hi_rank"),
          min(when(col("cum") >= col("lo_rank"), col("v"))).as("ci_lo"),
          min(when(col("cum") >= col("hi_rank"), col("v"))).as("ci_hi"))
        .crossJoin(broadcast(Tables.orders(s, dir)
          .agg(percentile(col("o_totalprice"), lit(0.5)).as("median"))))
        .select(col("n"), col("lo_rank"), col("hi_rank"),
          round(col("median"), 4).as("median"), col("ci_lo"), col("ci_hi"))
    }),

    // CUPED variance reduction (Deng et al. 2013 — the standard
    // experimentation adjustment): per-user pre-period value sum is
    // the covariate, post-period sum the metric; theta = pooled
    // cov(x,y)/var(x); adjusted arm mean = ybar_arm − theta*(xbar_arm
    // − xbar). Every moment is an exact DECIMAL sum over the |users|
    // frame ((19,6)x(18,6) products are (38,12) — exact at Spark's
    // 38-digit cap; (19,6)x(19,6) needs 39 so Spark rounds the scale
    // to 11 while DuckDB keeps 12, and (18,6)x(18,6) overflows
    // DuckDB's int64 physical path — the asymmetric cast is the one
    // shape exact on BOTH engines);
    // theta / adjusted means / the rho^2 variance-reduction close in
    // one double chain written identically on both engines.
    "q330_cuped_adjustment" -> ((s, dir) => {
      val cut = lit("2024-01-16").cast("timestamp")
      val per = Tables.eventsTyped(s, dir)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < cut,
            col("value").cast("decimal(18,6)"))),
            lit(0).cast("decimal(18,6)")).as("x"),
          coalesce(sum(when(col("ts") >= cut,
            col("value").cast("decimal(18,6)"))),
            lit(0).cast("decimal(18,6)")).as("y"))
        .withColumn("arm",
          when(col("user_id") % 2 === 0, "A").otherwise("B"))
      val d19 = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,6)")
      val d18 = (c: org.apache.spark.sql.Column) => c.cast("decimal(18,6)")
      val pooled = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d19(col("x")) * d18(col("y"))).as("sxy"),
        sum(d19(col("x")) * d18(col("x"))).as("sxx"),
        sum(d19(col("y")) * d18(col("y"))).as("syy"))
      val db = (name: String) => col(name).cast("double")
      val theta = (db("n") * db("sxy") - db("sx") * db("sy")) /
        (db("n") * db("sxx") - db("sx") * db("sx"))
      val rho2 = (db("n") * db("sxy") - db("sx") * db("sy")) *
        (db("n") * db("sxy") - db("sx") * db("sy")) /
        ((db("n") * db("sxx") - db("sx") * db("sx")) *
          (db("n") * db("syy") - db("sy") * db("sy")))
      per.groupBy(col("arm"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("ax"), sum(col("y")).as("ay"))
        .crossJoin(broadcast(pooled))
        .select(col("arm"), col("n_users"),
          round(db("ay") / db("n_users"), 6).as("mean_y"),
          round(db("ay") / db("n_users") - theta *
            (db("ax") / db("n_users") - db("sx") / db("n")), 6)
            .as("adj_mean_y"),
          round(theta, 6).as("theta"),
          round(rho2, 6).as("var_reduction"))
        .orderBy(col("arm"))
    }),

    // MANN–WHITNEY U (tie-corrected) — the rank-based two-sample test
    // beside q254's KS and q249's Welch: URGENT vs LOW order values
    // on the whole-dollar lattice. 2·U_a folds as an EXACT sum over
    // the |distinct values| frame (each a-row beats every b strictly
    // below + half the ties: na_v·(2·cumb_below + nb_v)); the tie
    // term sum(t^3−t) is exact too; z closes in one chain.
    "q331_mann_whitney_u" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select((col("o_orderpriority") === "1-URGENT").as("is_a"),
          floor(col("o_totalprice")).cast("long").as("v"))
      val byV = o.groupBy(col("v")).agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("na_v"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("nb_v"))
      val w = Window.orderBy(col("v").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
      val agg = byV
        .withColumn("cumb", coalesce(sum(col("nb_v")).over(w), lit(0L)))
        .agg(
          sum(col("na_v")).as("n_a"), sum(col("nb_v")).as("n_b"),
          sum(d(col("na_v")) *
            (d(col("cumb")) * 2 + d(col("nb_v")))).as("u2_a"),
          sum(d(col("na_v") + col("nb_v")) *
            d(col("na_v") + col("nb_v")) *
            d(col("na_v") + col("nb_v")) -
            d(col("na_v") + col("nb_v"))).as("tie_t3"))
      val db = (name: String) => col(name).cast("double")
      agg.select(col("n_a"), col("n_b"),
        // exact decimal fold, BIGINT presentation (fits: 2U <= na*2N)
        col("u2_a").cast("long").as("u2_a"),
        round((db("u2_a") - db("n_a") * db("n_b")) /
          (lit(2.0) * sqrt(db("n_a") * db("n_b") / 12.0 *
            ((db("n_a") + db("n_b") + 1.0) - db("tie_t3") /
              ((db("n_a") + db("n_b")) *
                (db("n_a") + db("n_b") - 1.0))))), 6).as("z"))
    }),

    // GRAPH RECIPROCITY + density of the directed host link graph —
    // the health stats a crawl-graph audit leads with (how mutual is
    // the linking?). Distinct directed pairs; reciprocated = the
    // reversed pair exists (one self-semi-join); density over
    // n·(n−1). All exact integers, two closing divisions.
    "q332_host_reciprocity" -> ((s, dir) => {
      val e = SparkEntry.stagedHostEdges(s, dir)
        .select(col("src_host"), col("dst_host")).distinct()
        .filter(col("src_host") =!= col("dst_host"))
        .localCheckpoint(true)
      val recip = e.join(
        e.select(col("dst_host").as("src_host"),
          col("src_host").as("dst_host")),
        Seq("src_host", "dst_host"), "left_semi")
      val nodes = e.select(col("src_host").as("h"))
        .unionByName(e.select(col("dst_host").as("h"))).distinct()
      e.agg(count(lit(1)).as("n_edges"))
        .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_recip"))))
        .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_hosts"))))
        .select(col("n_hosts"), col("n_edges"), col("n_recip"),
          round(col("n_recip").cast("double") / col("n_edges"), 6)
            .as("reciprocity"),
          round(col("n_edges").cast("double") /
            (col("n_hosts").cast("double") *
              (col("n_hosts").cast("double") - 1.0)), 6).as("density"))
    }),

    // CHANGEPOINT split (binary-segmentation step 1): the day k
    // maximizing the CUSUM deviation of the daily order-count series,
    // on the integer lattice — T_k = n*prefix_k - k*total is exact
    // BIGINT, argmax ties break on the earlier day; before/after
    // means close with one division each. Windows run over the
    // |days| aggregate only.
    "q326_changepoint_split" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("x"))
      val wAsc = Window.orderBy(col("day").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val t = daily
        .withColumn("k", row_number().over(Window.orderBy(col("day").asc)))
        .withColumn("pref", sum(col("x")).over(wAsc))
        .crossJoin(broadcast(daily.agg(
          count(lit(1)).as("n"), sum(col("x")).as("tot"))))
        .withColumn("t_k", col("n") * col("pref") - col("k") * col("tot"))
      t.filter(col("k") < col("n"))   // a split needs both sides non-empty
        .withColumn("__r", row_number().over(Window.orderBy(
          abs(col("t_k")).desc, col("day").asc)))
        .filter(col("__r") === 1)
        .select(unix_micros(col("day").cast("timestamp"))
            .as("split_day_us"),
          col("k").cast("long").as("n_days_before"),
          (col("n") - col("k")).as("n_days_after"), col("t_k"),
          round(col("pref").cast("double") / col("k"), 6)
            .as("mean_before"),
          round((col("tot") - col("pref")).cast("double") /
            (col("n") - col("k")), 6).as("mean_after"))
    }),

    // READABILITY profile per source (Flesch reading ease from EXACT
    // integer totals): words = whitespace tokens, sentences =
    // [.!?]+ runs floored at 1, syllables = vowel-group runs — the
    // standard heuristic proxies, all three regexp_count aggregates,
    // with the 206.835 - 1.015*(W/S) - 84.6*(Syl/W) closing chain
    // written identically on both engines from the summed integers.
    "q327_readability_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"),
          (regexp_count(trim(col("text")), lit("\\s+")) + 1).as("w"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
            .as("s"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syl"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
          sum(col("s")).as("sentences"), sum(col("syl")).as("syllables"))
        .withColumn("flesch", round(lit(206.835) -
          lit(1.015) * col("words").cast("double") /
            col("sentences").cast("double") -
          lit(84.6) * col("syllables").cast("double") /
            col("words").cast("double"), 4))
        .orderBy(col("source"))
    }),

    // ENTITY RESOLUTION end to end: the q311 edit-distance pairs
    // close transitively into entity groups (connected components,
    // the q64 pointer-jumping machinery) with the canonical member =
    // min id — fuzzy-pairs -> entities is the step record linkage
    // actually ships. The oracle replays CC as a recursive
    // reachability CTE over the same levenshtein pair set.
    "q328_entity_groups" -> ((s, dir) => {
      val ents = Tables.part(s, dir).groupBy(col("p_name"))
        .agg(min(col("p_partkey")).as("part_id"))
      val pairs = etlmudah.joins.Joins.editLinkPairs(
        ents, "part_id", "p_name", maxDist = 3)
      etlmudah.scale.Dedup.dupClusters(
          pairs.select(col("id_a"), col("id_b")))
        .select(col("doc_id").as("part_id"), col("cluster_id"),
          col("cluster_size"))
        .join(ents.select(col("part_id").as("cluster_id"),
          col("p_name").as("canonical_name")), Seq("cluster_id"))
        .select(col("part_id"), col("cluster_id"), col("cluster_size"),
          col("canonical_name"))
        .orderBy(col("part_id"))
    }),

    // POINT-IN-TIME lookup against the SCD2 history (the warehouse
    // read path q74's build exists for): deterministic probe times
    // (each user's mid-corpus instants) resolve to the version valid
    // AT that instant — from_us <= t < coalesce(to_us, inf), the
    // half-open validity convention scd2History writes.
    "q329_point_in_time_lookup" -> ((s, dir) => {
      val hist = etlmudah.load.Upsert.scd2History(
          Tables.eventsTyped(s, dir).filter(col("user_id") < 5),
          "user_id", "ts", Seq("event_type"))
        .select(col("user_id").as("h_uid"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"))
      val probes = Tables.eventsTyped(s, dir)
        .filter(col("user_id") < 5)
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("__mn"),
          max(unix_micros(col("ts"))).as("__mx"))
        .select(col("user_id"),
          expr("(__mn + __mx) div 2").as("probe_us"))
      probes.join(hist, col("user_id") === col("h_uid") &&
          col("probe_us") >= col("from_us") &&
          (col("to_us").isNull || col("probe_us") < col("to_us")))
        .select(col("user_id"), col("probe_us"), col("event_type"),
          col("from_us"), col("to_us"))
        .orderBy(col("user_id"))
    }),

    // GEO nearest-neighbor over the nation dimension: closed-form
    // synthetic coordinates (the fakeUrl discipline for geography),
    // haversine distance as one codegen'd trig chain, nearest by
    // (rounded km, key) over the broadcast 25x25 pair grid — the
    // S13 geo tier's distance leg. 3dp rounding (~meters) keeps a
    // last-ulp libm difference from ever flipping a value.
    "q321_nearest_nation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def coords(prefix: String) = Tables.nation(s, dir).select(
        col("n_nationkey").as(s"${prefix}key"),
        col("n_name").as(s"${prefix}name"),
        (col("n_nationkey") * 37 % 140 - 70 + lit(0.5)).as(s"${prefix}lat"),
        (col("n_nationkey") * 73 % 360 - 180 + lit(0.5)).as(s"${prefix}lon"))
      val a = coords("a_")
      val b = coords("b_")
      val pairs = a.crossJoin(broadcast(b))
        .filter(col("a_key") =!= col("b_key"))
        .withColumn("dist_km", round(etlmudah.joins.Joins.haversineKm(
          col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon")), 3))
      pairs.withColumn("__r", row_number().over(
          Window.partitionBy(col("a_key"))
            .orderBy(col("dist_km").asc, col("b_key").asc)))
        .filter(col("__r") === 1)
        .select(col("a_key").as("nationkey"), col("a_name").as("n_name"),
          col("b_key").as("nearest_key"), col("b_name").as("nearest_name"),
          col("dist_km"))
        .orderBy(col("nationkey"))
    }),

    // LORENZ decile ladder (q318's curve form): customers ranked into
    // revenue deciles, each decile's exact-decimal revenue and the
    // cumulative share FROM THE TOP — "the top 10% carry X%". ntile
    // and both cumulative sums run over the |customers| aggregate
    // only (the q73/q284 frame-grain discipline).
    "q322_lorenz_deciles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = Tables.orders(s, dir).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      val deciled = rev.withColumn("decile",
        ntile(10).over(Window.orderBy(col("rev").desc, col("o_custkey").asc)))
      val byDecile = deciled
        .withColumn("decile", col("decile").cast("long"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("drev"))
      val tot = byDecile.agg(sum(col("drev")).as("trev"))
      byDecile.crossJoin(broadcast(tot))
        .withColumn("__cum", sum(col("drev")).over(
          Window.orderBy(col("decile").asc)
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("decile"), col("n_cust"),
          round(col("drev"), 2).cast("double").as("decile_revenue"),
          round(col("__cum").cast("double") / col("trev").cast("double"), 6)
            .as("cum_share_from_top"))
        .orderBy(col("decile"))
    }),

    // MATCH-KEY normalization dedup: three deterministically "messy"
    // variants of every distinct part name (case, doubled whitespace,
    // accents + punctuation) collapse to ONE canonical key through
    // the composed pipeline nfc -> accent-fold -> lower -> non-
    // alnum-squash -> trim (graft_nfc / graft_fold_accents, DuckDB
    // nfc_normalize / strip_accents). Proof shape: every key groups
    // exactly 3 variants and the key count equals the entity count —
    // over- OR under-merging breaks one of the two rows.
    "q323_match_key_dedup" -> ((s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
      val variants = names.select(explode(array(
        col("p_name"),
        upper(regexp_replace(col("p_name"), " ", "   ")),
        concat(regexp_replace(col("p_name"), "e", "é"), lit("!!"))))
        .as("messy"))
      val key = trim(regexp_replace(
        lower(call_function("graft_fold_accents",
          call_function("graft_nfc", col("messy")))),
        "[^a-z0-9]+", " "))
      variants.select(key.as("match_key"))
        .groupBy(col("match_key")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_keys"))
        .orderBy(col("group_size"))
    }),

    // NEXT-EVENT prediction eval: first-order transition argmax
    // trained on the first half of January, accuracy measured on
    // consecutive test-half pairs — the sequence-model eval loop
    // (train/score split, argmax with deterministic ties, exact-count
    // accuracy) as one declarative plan.
    "q324_next_event_accuracy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cut = lit("2024-01-16").cast("timestamp")
      val ev = Tables.eventsTyped(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").asc, col("event_id").asc)
      def pairsOf(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("prev"), col("next_type"))
      val train = pairsOf(ev.filter(col("ts") < cut))
        .groupBy(col("prev"), col("next_type"))
        .agg(count(lit(1)).as("c"))
      val model = train.withColumn("__r", row_number().over(
          Window.partitionBy(col("prev"))
            .orderBy(col("c").desc, col("next_type").asc)))
        .filter(col("__r") === 1)
        .select(col("prev"), col("next_type").as("predicted"))
      pairsOf(ev.filter(col("ts") >= cut))
        .join(broadcast(model), Seq("prev"), "left")
        .groupBy(col("prev"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("next_type") === col("predicted"), 1L)
            .otherwise(0L)).as("n_correct"),
          first(col("predicted")).as("predicted"))
        .withColumn("accuracy",
          round(col("n_correct").cast("double") / col("n_pairs"), 6))
        .orderBy(col("prev"))
    }),

    // DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph:
    // Pearson r of endpoint degrees over every directed edge — do
    // hubs link hubs? Sums ride DECIMAL(38,0) (degree products
    // overflow int64 at web scale), one closing double chain written
    // identically on both engines.
    "q325_degree_assortativity" -> ((s, dir) => {
      val e = SparkEntry.stagedCoEdges(s, dir)
        .filter(col("src") < col("dst") && col("weight") >= 2L)
        .select(col("src"), col("dst"))
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val deg = sym.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val xy = sym
        .join(deg.select(col("node").as("src"), col("deg").as("dx")),
          Seq("src"))
        .join(deg.select(col("node").as("dst"), col("deg").as("dy")),
          Seq("dst"))
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
      val db = (name: String) => col(name).cast("double")
      xy.agg(count(lit(1)).as("n"),
          sum(d(col("dx"))).as("sx"), sum(d(col("dy"))).as("sy"),
          sum(d(col("dx")) * d(col("dy"))).as("sxy"),
          sum(d(col("dx")) * d(col("dx"))).as("sxx"),
          sum(d(col("dy")) * d(col("dy"))).as("syy"))
        .select(col("n"),
          // closing chain in double from EXACT decimal sums, written
          // identically in the oracle (single-row math, no folds)
          round((db("n") * db("sxy") - db("sx") * db("sy")) /
            sqrt(db("n") * db("sxx") - db("sx") * db("sx")) /
            sqrt(db("n") * db("syy") - db("sy") * db("sy")), 6)
            .as("assortativity"))
    }),

    // TWO-PROPORTION z-test (the A/B readout beside q118's Wilson CI
    // and q249's Welch t): purchase-event share, arms split by
    // user_id parity. All inputs are exact BIGINT counts; the z
    // statistic is one closing expression over them, written
    // identically on both engines (single-row math, no folds).
    "q315_two_proportion_z" -> ((s, dir) => {
      val ev = Tables.eventsTyped(s, dir)
        .select((col("user_id") % 2 === 0).as("arm_a"),
          (col("event_type") === "purchase").cast("long").as("hit"))
      ev.agg(
          sum(when(col("arm_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm_a"), col("hit")).otherwise(0L)).as("x_a"),
          sum(when(!col("arm_a"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("arm_a"), col("hit")).otherwise(0L)).as("x_b"))
        .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
          round(col("x_a").cast("double") / col("n_a"), 6).as("p_a"),
          round(col("x_b").cast("double") / col("n_b"), 6).as("p_b"),
          round(
            (col("x_a").cast("double") / col("n_a") -
              col("x_b").cast("double") / col("n_b")) /
            sqrt(((col("x_a") + col("x_b")).cast("double") /
              (col("n_a") + col("n_b"))) *
              (lit(1.0) - (col("x_a") + col("x_b")).cast("double") /
                (col("n_a") + col("n_b"))) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
            .as("z"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    // merged state is closed-form: %10==0 keys repriced, rest original
    "q301_bucketed_merge_load" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Q20 shape: correlated 0.5*sum threshold kept CORRELATED in the
    // oracle (the engine decorrelates; DuckDB replays the nested
    // definition) — avail*2 > demand on the exact decimal lattice
    "q302_excess_stock_suppliers" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
        |      THEN CAST(l_quantity AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS avail,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |          AND l_shipdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(l_quantity AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS demand
        |  FROM lineitem
        |  WHERE l_partkey IN
        |    (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |  GROUP BY 1, 2)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11',
        |                 'NATION_19', 'NATION_22')
        |  AND s_suppkey IN (SELECT l_suppkey FROM ps
        |                    WHERE avail * 2 > demand)
        |ORDER BY s_name, s_suppkey""".stripMargin,

    // Q16 shape: literal NOT IN in the oracle (key non-null, so the
    // engine's left_anti is equivalent); distinct-supplier counting
    // per part attribute triple
    "q303_supplier_count_by_part" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC,
        |  p_size ASC""".stripMargin,

    // q224's grid replay with PNG channel order (the synth's closed
    // form is indexed by BMP file row fr; summing over fr == summing
    // over the PNG's visual rows, so the formulas carry unchanged)
    "q304_png_pixel_stats" ->
      """WITH d AS (SELECT doc_id, (doc_id % 4 + 1)::INT AS w,
        |    (doc_id % 3 + 1)::INT AS h FROM documents),
        |px AS (SELECT d.doc_id,
        |    (d.doc_id*13 + fr.fr*7 + c.c*3) % 256 AS r,
        |    (d.doc_id*11 + fr.fr*5 + c.c*2) % 256 AS g,
        |    (d.doc_id*7 + fr.fr*3 + c.c) % 256 AS b
        |  FROM d, range(0, 3) fr(fr), range(0, 4) c(c)
        |  WHERE d.doc_id % 5 <> 0 AND fr.fr < d.h AND c.c < d.w),
        |st AS (SELECT doc_id, count(*)::BIGINT AS n_px,
        |    min(r)::INT AS r_min, max(r)::INT AS r_max,
        |    sum(r)::BIGINT AS r_sum,
        |    min(g)::INT AS g_min, max(g)::INT AS g_max,
        |    sum(g)::BIGINT AS g_sum,
        |    min(b)::INT AS b_min, max(b)::INT AS b_max,
        |    sum(b)::BIGINT AS b_sum
        |  FROM px GROUP BY doc_id)
        |SELECT d.w, d.h, count(*) AS n_imgs,
        |  count(st.doc_id)::BIGINT AS n_decoded,
        |  sum(st.n_px)::BIGINT AS n_px,
        |  min(st.r_min) AS r_min, max(st.r_max) AS r_max,
        |  sum(st.r_sum)::BIGINT AS r_sum,
        |  min(st.g_min) AS g_min, max(st.g_max) AS g_max,
        |  sum(st.g_sum)::BIGINT AS g_sum,
        |  min(st.b_min) AS b_min, max(st.b_max) AS b_max,
        |  sum(st.b_sum)::BIGINT AS b_sum
        |FROM d LEFT JOIN st USING (doc_id)
        |GROUP BY d.w, d.h ORDER BY d.w, d.h""".stripMargin,

    // q227's oracle VERBATIM (the q203 must-land-identically
    // discipline): the mixed BMP/PNG rendering must produce the same
    // dedup-group histogram as the all-BMP tier, because the hash is
    // defined over the visual image independent of container format
    "q305_cross_format_ahash_dedup" ->
      ahashDedupSql,

    // q264's oracle VERBATIM: the PNG→BMP transcode is byte-faithful,
    // so decode→transcode→resize→stats must land exactly where the
    // native-BMP pipeline does
    "q306_png_transcode_resize" ->
      bmpResizeStatsSql,

    // PSL resolution replayed in label algebra: parse rules into
    // (kind, key, klab), explode each host's candidate suffixes,
    // equi-match plain/exception on the suffix and wildcard on its
    // tail, exception wins else longest, default * = 1 label,
    // registered domain = public suffix + 1 (null when the host IS a
    // public suffix)
    "q307_psl_registered_domain" ->
      """WITH hosts0 AS (SELECT DISTINCT CASE
        |    WHEN doc_id % 11 = 0 THEN 'co.uk'
        |    WHEN doc_id % 13 = 0 THEN 'ck'
        |    ELSE list_extract(['www','a','blog','shop','x9'],
        |        (doc_id % 5 + 1)::INT)
        |      || '.' || list_extract(['foo','bar','baz','qux'],
        |        (doc_id % 4 + 1)::INT)
        |      || '.' || list_extract(
        |        ['com','co.uk','ck','www.ck','example','org','uk'],
        |        (doc_id % 7 + 1)::INT)
        |  END AS host FROM documents),
        |rules(raw) AS (VALUES ('com'), ('co.uk'), ('uk'), ('org'),
        |  ('*.ck'), ('!www.ck')),
        |pr AS (SELECT
        |    CASE WHEN raw LIKE '!%' THEN 'e'
        |         WHEN raw LIKE '*.%' THEN 'w' ELSE 'p' END AS kind,
        |    regexp_replace(raw, '^(!|\*\.)', '') AS key
        |  FROM rules),
        |pr2 AS (SELECT kind, key,
        |    len(string_split(key, '.'))::INT AS klab FROM pr),
        |hl AS (SELECT host, string_split(host, '.') AS labs,
        |    len(string_split(host, '.'))::INT AS nlab FROM hosts0),
        |cand AS (SELECT host, k.k,
        |    array_to_string(list_slice(labs, nlab - k.k::INT + 1, nlab),
        |      '.') AS suffix,
        |    CASE WHEN k.k >= 2 THEN array_to_string(
        |      list_slice(labs, nlab - k.k::INT + 2, nlab), '.')
        |      ELSE '' END AS tail
        |  FROM hl, range(1, 9) k(k) WHERE k.k <= nlab),
        |pe AS (SELECT host, kind,
        |    CASE WHEN kind = 'e' THEN klab - 1 ELSE klab END AS pslab
        |  FROM cand JOIN pr2 ON suffix = key AND kind <> 'w'),
        |wd AS (SELECT host, kind, klab + 1 AS pslab
        |  FROM cand JOIN pr2 ON tail = key AND kind = 'w'
        |  WHERE tail <> ''),
        |best AS (SELECT host,
        |    coalesce(max(CASE WHEN kind = 'e' THEN pslab END),
        |             max(CASE WHEN kind <> 'e' THEN pslab END)) AS pslab
        |  FROM (SELECT * FROM pe UNION ALL SELECT * FROM wd)
        |  GROUP BY host),
        |res AS (SELECT h.host, coalesce(b.pslab, 1) AS pslab, h.nlab,
        |    h.labs
        |  FROM hl h LEFT JOIN best b USING (host))
        |SELECT host, CASE WHEN nlab > pslab THEN
        |    array_to_string(list_slice(labs, nlab - pslab::INT, nlab), '.')
        |  END AS domain
        |FROM res ORDER BY host, domain""".stripMargin,

    // q229's recall ladder with the 128-bit thermometer signature:
    // per-dim quartile thresholds (quantile_cont), 4 packed words,
    // 4-word Hamming, same candidate cut / rerank / intersection
    "q308_binary_recall_128" -> {
      val sigWord = (wi: Int) =>
        s"""sum(CASE WHEN d0 >= ${wi * 16} AND d0 < ${wi * 16 + 16} THEN
           |      (CASE WHEN x > t25
           |        THEN 1::BIGINT << (2*(d0 - ${wi * 16}))::INT
           |        ELSE 0 END)
           |    + (CASE WHEN x > t75
           |        THEN 1::BIGINT << (2*(d0 - ${wi * 16}) + 1)::INT
           |        ELSE 0 END)
           |    ELSE 0 END)::BIGINT AS w$wi""".stripMargin
      val ham = (0 until 4)
        .map(wi => s"bit_count(xor(s.w$wi, ps.pw$wi))").mkString(" +\n     ")
      s"""WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
         |    generate_subscripts(embedding, 1) - 1 AS d0 FROM embeddings),
         |th AS (SELECT d0, quantile_cont(x, 0.25) AS t25,
         |    quantile_cont(x, 0.75) AS t75 FROM e GROUP BY d0),
         |et AS (SELECT e.vec_id, e.d0, e.x, th.t25, th.t75
         |  FROM e JOIN th USING (d0)),
         |sig AS (SELECT vec_id,
         |  ${(0 until 4).map(sigWord).mkString(",\n  ")}
         |  FROM et GROUP BY vec_id),
         |pr AS (SELECT vec_id AS probe_id FROM embeddings
         |       ORDER BY md5(vec_id::VARCHAR) DESC, vec_id DESC LIMIT 5),
         |ps AS (SELECT pr.probe_id, s.w0 AS pw0, s.w1 AS pw1,
         |       s.w2 AS pw2, s.w3 AS pw3
         |       FROM pr JOIN sig s ON s.vec_id = pr.probe_id),
         |hm AS (SELECT ps.probe_id, s.vec_id,
         |    ($ham)::INT AS hamming
         |  FROM sig s CROSS JOIN ps WHERE s.vec_id <> ps.probe_id),
         |cand AS (SELECT probe_id, vec_id, hamming FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY hamming ASC, vec_id ASC) AS hr FROM hm)
         |  WHERE hr <= 50),
         |rr AS (SELECT c.probe_id, c.vec_id, c.hamming,
         |    round(list_cosine_similarity(e2.embedding::DOUBLE[],
         |      p.embedding::DOUBLE[]), 6) AS cos_sim
         |  FROM cand c
         |  JOIN embeddings e2 ON e2.vec_id = c.vec_id
         |  JOIN embeddings p ON p.vec_id = c.probe_id),
         |$rerankRecallSql""".stripMargin
    },

    // adaptive k-core: ALL THREE candidate peels (k=3,2,1) unrolled
    // round by round (the q260 step-replay discipline) over the q220
    // co-edge graph; the first-non-empty rule picks the served
    // fixpoint, final degrees over it
    "q309_k_core" -> {
      def round(k: Int, i: Int) =
        peelRoundCtes(k, i, if (i == 1) "a0" else s"a${k}_${i - 1}")
      s"""WITH $corePeelSeedCtes,
         |${(1 to 10).map(round(3, _)).mkString(",\n")},
         |${(1 to 10).map(round(2, _)).mkString(",\n")},
         |${(1 to 2).map(round(1, _)).mkString(",\n")},
         |ku AS MATERIALIZED (SELECT CASE
         |    WHEN (SELECT count(*) FROM a3_10) > 0 THEN 3
         |    WHEN (SELECT count(*) FROM a2_10) > 0 THEN 2
         |    ELSE 1 END AS k),
         |fin AS MATERIALIZED (
         |  SELECT node FROM a3_10 WHERE (SELECT k FROM ku) = 3
         |  UNION ALL
         |  SELECT node FROM a2_10 WHERE (SELECT k FROM ku) = 2
         |  UNION ALL
         |  SELECT node FROM a1_2 WHERE (SELECT k FROM ku) = 1)
         |SELECT s.src AS node, count(*)::BIGINT AS core_degree,
         |  (SELECT k FROM ku)::BIGINT AS k_used
         |FROM sym s
         |JOIN fin x ON x.node = s.src
         |JOIN fin y ON y.node = s.dst
         |GROUP BY 1 ORDER BY node""".stripMargin
    },

    // t-closeness: integer-lattice TV distance with the class x
    // segment grid (absent cells carry their full margin term), one
    // closing double division per class
    "q310_t_closeness" ->
      """WITH cs AS (SELECT c_nationkey, c_mktsegment,
        |    count(*)::BIGINT AS cs FROM customer GROUP BY 1, 2),
        |cl AS (SELECT c_nationkey, sum(cs)::BIGINT AS class_size
        |  FROM cs GROUP BY 1),
        |sm AS (SELECT c_mktsegment, count(*)::BIGINT AS s
        |  FROM customer GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n FROM customer),
        |grid AS (SELECT cl.c_nationkey, cl.class_size, sm.c_mktsegment,
        |    sm.s, coalesce(cs.cs, 0)::BIGINT AS cs, t.n
        |  FROM cl CROSS JOIN sm CROSS JOIN t
        |  LEFT JOIN cs ON cs.c_nationkey = cl.c_nationkey
        |    AND cs.c_mktsegment = sm.c_mktsegment)
        |SELECT c_nationkey, class_size,
        |  round(sum(abs(cs::DECIMAL(19,0) * n - s::DECIMAL(19,0)
        |      * class_size))::DOUBLE
        |    / (2.0 * class_size * n), 6) AS tv_distance
        |FROM grid GROUP BY c_nationkey, class_size, n
        |ORDER BY c_nationkey""".stripMargin,

    // edit-distance linkage: same blocking/length-bound/threshold in
    // SQL; DuckDB levenshtein is the same classic DP
    "q311_edit_link_parts" ->
      """WITH ent AS (SELECT min(p_partkey) AS part_id, p_name
        |  FROM part GROUP BY p_name),
        |k AS (SELECT part_id AS id, p_name AS name,
        |    string_split(p_name, ' ')[1] AS block FROM ent),
        |ok AS (SELECT block FROM k GROUP BY block
        |       HAVING count(*) <= 10000),
        |s AS (SELECT k.* FROM k JOIN ok USING (block))
        |SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
        |  b.name AS name_b, levenshtein(a.name, b.name)::BIGINT AS edit_dist
        |FROM s a JOIN s b ON a.block = b.block AND a.id < b.id
        |WHERE abs(len(a.name) - len(b.name)) <= 3
        |  AND levenshtein(a.name, b.name) <= 3
        |ORDER BY edit_dist, id_a, id_b""".stripMargin,

    // two stacked rollups + exact-decimal cross-ratios
    "q312_ratio_to_parent" ->
      """WITH rev AS (SELECT n_regionkey, n_name,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS nat_rev
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |reg AS (SELECT n_regionkey, sum(nat_rev) AS reg_rev
        |  FROM rev GROUP BY 1),
        |t AS (SELECT sum(reg_rev) AS tot_rev FROM reg)
        |SELECT r_name, n_name,
        |  CAST(round(nat_rev, 2) AS DOUBLE) AS nation_revenue,
        |  round(nat_rev::DOUBLE / reg_rev::DOUBLE, 6) AS share_of_region,
        |  round(reg_rev::DOUBLE / tot_rev::DOUBLE, 6)
        |    AS region_share_of_total
        |FROM rev JOIN reg USING (n_regionkey)
        |CROSS JOIN t
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY r_name, n_name""".stripMargin,

    // Hill estimator on the micro-nat integer lattice: per-term
    // floor(ln(d/dmin)*1e6) BIGINT, exact sum, one closing division
    "q313_degree_tail_index" ->
      s"""WITH e0 AS (
         |${coPairsSql}),
         |deg AS (SELECT node, count(*)::BIGINT AS deg FROM (
         |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
         |  GROUP BY 1),
         |terms AS (SELECT
         |    CAST(floor(ln(deg::DOUBLE / 5) * 1000000) AS BIGINT) AS t
         |  FROM deg WHERE deg >= 5)
         |SELECT count(*)::BIGINT AS n_tail,
         |  round(1.0 + count(*) * 1000000.0 / sum(t)::DOUBLE, 6)
         |    AS alpha_hat
         |FROM terms""".stripMargin,

    // dow profile: Spark dayofweek is 1=Sunday..7, DuckDB's is
    // 0=Sunday..6 — hence the +1; index = the exact cross-ratio
    "q314_dow_seasonal_index" ->
      """WITH ev AS (SELECT event_type,
        |    (dayofweek(ts) + 1)::INT AS dow,
        |    CAST(value AS DECIMAL(18,6)) AS v
        |  FROM events),
        |cell AS (SELECT event_type, dow, count(*)::BIGINT AS n,
        |    sum(v) AS vsum FROM ev GROUP BY 1, 2),
        |alls AS (SELECT event_type, count(*)::BIGINT AS n_all,
        |    sum(v) AS vsum_all FROM ev GROUP BY 1)
        |SELECT cell.event_type, dow, n,
        |  CAST(round(vsum, 2) AS DOUBLE) AS sum_value,
        |  round((vsum * n_all)::DOUBLE / (vsum_all * n)::DOUBLE, 6)
        |    AS seasonal_index
        |FROM cell JOIN alls USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,

    // deviation classes as exact decimal cross-multiplied comparisons
    "q316_order_line_reconciliation" ->
      """WITH l AS (SELECT l_orderkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS lsum
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS otot, lsum,
        |    abs(CAST(o_totalprice AS DECIMAL(18,2)) - lsum) AS ad
        |  FROM orders LEFT JOIN l ON o_orderkey = l_orderkey)
        |SELECT CASE
        |    WHEN lsum IS NULL THEN 'no_lines'
        |    WHEN ad <= 0.01 THEN 'match_1c'
        |    WHEN ad * 10 <= otot THEN 'within_10pct'
        |    WHEN ad * 2 <= otot THEN 'within_50pct'
        |    WHEN ad <= otot THEN 'within_100pct'
        |    ELSE 'over_100pct' END AS status,
        |  count(*) AS n_orders,
        |  CAST(round(sum(coalesce(ad, CAST(0 AS DECIMAL(18,2)))), 2)
        |    AS DOUBLE) AS sum_abs_dev
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    // KM replay: duration frame via the same keyed lead window, then
    // reverse-cumulative at-risk, nano-nat log lattice, forward
    // cumulative sum, exp per output row
    "q317_reorder_survival" ->
      """WITH o AS (SELECT o_custkey AS cust,
        |    CAST(o_orderdate AS DATE) AS d, o_orderkey FROM orders),
        |mx AS (SELECT max(d) AS md FROM o),
        |g AS (SELECT cust, d,
        |    lead(d) OVER (PARTITION BY cust ORDER BY d, o_orderkey)
        |      AS nd FROM o),
        |dur AS (SELECT
        |    CASE WHEN nd IS NULL THEN date_diff('day', d, md)
        |         ELSE date_diff('day', d, nd) END::BIGINT AS t,
        |    CASE WHEN nd IS NULL THEN 0 ELSE 1 END AS ev
        |  FROM g, mx),
        |agg AS (SELECT t, sum(ev)::BIGINT AS d, count(*)::BIGINT AS al
        |  FROM dur GROUP BY 1),
        |r AS (SELECT t, d,
        |    sum(al) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
        |      ::BIGINT AS n_risk
        |  FROM agg),
        |l2 AS (SELECT t, d, n_risk,
        |    CASE WHEN n_risk = d THEN NULL
        |      ELSE CAST(floor(ln((n_risk - d)::DOUBLE / n_risk) * 1e9)
        |        AS BIGINT) END AS lnq,
        |    CASE WHEN n_risk = d AND d > 0 THEN 1 ELSE 0 END AS dead
        |  FROM r),
        |c AS (SELECT t, d, n_risk,
        |    sum(lnq) OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING)
        |      AS cum,
        |    max(dead) OVER (ORDER BY t ASC ROWS UNBOUNDED PRECEDING)
        |      AS z
        |  FROM l2)
        |SELECT t, n_risk, d AS n_events,
        |  CASE WHEN z = 1 THEN 0.0
        |       ELSE round(exp(cum::DOUBLE / 1e9), 6) END AS survival
        |FROM c WHERE d > 0 ORDER BY t""".stripMargin,

    "q318_revenue_gini" ->
      revenueGiniSql,

    // MI cells: +1 aligns DuckDB's 0-based Sunday with Spark's
    // 1-based; nano-nat PMI lattice, contribution = exact count x
    // quantized log over N*1e9
    "q319_type_dow_mi" ->
      """WITH ev AS (SELECT event_type,
        |    (dayofweek(ts) + 1)::INT AS dow FROM events),
        |cell AS (SELECT event_type, dow, count(*)::BIGINT AS n_xy
        |  FROM ev GROUP BY 1, 2),
        |mx AS (SELECT event_type, count(*)::BIGINT AS nx FROM ev
        |  GROUP BY 1),
        |my AS (SELECT dow, count(*)::BIGINT AS ny FROM ev GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n FROM ev),
        |q AS (SELECT cell.event_type, cell.dow, n_xy,
        |    CAST(floor(ln(n_xy::DOUBLE * n / (nx::DOUBLE * ny)) * 1e9)
        |      AS BIGINT) AS pmi_q, n
        |  FROM cell JOIN mx USING (event_type) JOIN my USING (dow)
        |  CROSS JOIN t)
        |SELECT event_type, dow, n_xy,
        |  round(pmi_q::DOUBLE / 1e9, 6) AS pmi_nats,
        |  round((n_xy * pmi_q)::DOUBLE / (n::DOUBLE * 1e9), 9)
        |    AS mi_contrib_nats
        |FROM q ORDER BY event_type, dow""".stripMargin,

    // TWAP: LOCF integral on the decimal x micro lattice
    "q320_user_value_twap" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
        |    CAST(value AS DECIMAL(18,6)) AS v FROM events
        |  WHERE value IS NOT NULL),
        |led AS (SELECT user_id, us, v,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, v) AS nxt
        |  FROM ev),
        |agg AS (SELECT user_id, count(*)::BIGINT AS n_obs,
        |    (max(us) - min(us))::BIGINT AS span_us,
        |    sum(v * (nxt - us)::DECIMAL(19,0)) AS area
        |  FROM led GROUP BY 1)
        |SELECT user_id, n_obs, span_us,
        |  round(area::DOUBLE / span_us::DOUBLE, 6) AS twap
        |FROM agg WHERE span_us > 0
        |ORDER BY user_id LIMIT 50""".stripMargin,

    // frame-sample replay: sampled index j*(n) div 3, shifted-seed
    // pixel rule over the (doc x sample x row x col) grid; %7 maim
    "q334_video_frame_sample" ->
      """WITH d AS (SELECT doc_id, (doc_id % 4 + 1)::INT AS w,
        |    (doc_id % 3 + 1)::INT AS h, (doc_id % 5 + 2) AS nf
        |  FROM documents),
        |sks AS (SELECT DISTINCT d.doc_id, d.w, d.h,
        |    (d.doc_id + (j.j * d.nf) // 3) AS sk
        |  FROM d, range(0, 3) j(j) WHERE d.doc_id % 7 <> 0),
        |px AS (SELECT k.doc_id, k.w, k.h, k.sk,
        |    k.sk * 7 + fr.fr * 3 + c.c AS bb,
        |    k.sk * 11 + fr.fr * 5 + c.c * 2 AS gg,
        |    k.sk * 13 + fr.fr * 7 + c.c * 3 AS rr
        |  FROM sks k, range(0, 3) fr(fr), range(0, 4) c(c)
        |  WHERE fr.fr < k.h AND c.c < k.w),
        |st AS (SELECT doc_id, w, h, sk, count(*)::BIGINT AS n_px,
        |    min(bb % 256)::INT AS b_min, max(bb % 256)::INT AS b_max,
        |    sum(bb % 256)::BIGINT AS b_sum,
        |    min(gg % 256)::INT AS g_min, max(gg % 256)::INT AS g_max,
        |    sum(gg % 256)::BIGINT AS g_sum,
        |    min(rr % 256)::INT AS r_min, max(rr % 256)::INT AS r_max,
        |    sum(rr % 256)::BIGINT AS r_sum
        |  FROM px GROUP BY doc_id, w, h, sk),
        |samples AS (SELECT d.doc_id, d.w, d.h,
        |    (d.doc_id + (j.j * d.nf) // 3) AS sk
        |  FROM d, range(0, 3) j(j))
        |SELECT s.w, s.h, count(*) AS n_samples,
        |  count(st.n_px)::BIGINT AS n_decoded,
        |  sum(st.n_px)::BIGINT AS n_px,
        |  min(st.b_min) AS b_min, max(st.b_max) AS b_max,
        |  sum(st.b_sum)::BIGINT AS b_sum,
        |  min(st.g_min) AS g_min, max(st.g_max) AS g_max,
        |  sum(st.g_sum)::BIGINT AS g_sum,
        |  min(st.r_min) AS r_min, max(st.r_max) AS r_max,
        |  sum(st.r_sum)::BIGINT AS r_sum
        |FROM samples s LEFT JOIN st
        |  ON st.doc_id = s.doc_id AND st.sk = s.sk
        |GROUP BY s.w, s.h ORDER BY s.w, s.h""".stripMargin,

    // q227's oracle verbatim a second time: three containers, one
    // histogram (the q305 discipline extended to video)
    "q335_cross_container_dedup" ->
      ahashDedupSql,

    // order-stat CI replay: same rank chain, same lattice cumulative
    "q333_median_order_stat_ci" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders),
        |byv AS (SELECT v, count(*)::BIGINT AS c FROM v GROUP BY 1),
        |cum AS (SELECT v, sum(c) OVER (ORDER BY v ASC
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM byv),
        |nn AS (SELECT count(*)::BIGINT AS n FROM v),
        |rk AS (SELECT n,
        |    greatest(1, CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT))
        |      AS lo_rank,
        |    least(n, CAST(ceil((n + 1.96 * sqrt(n)) / 2) AS BIGINT) + 1)
        |      AS hi_rank
        |  FROM nn),
        |ci AS (SELECT rk.n, rk.lo_rank, rk.hi_rank,
        |    min(CASE WHEN cum >= lo_rank THEN v END) AS ci_lo,
        |    min(CASE WHEN cum >= hi_rank THEN v END) AS ci_hi
        |  FROM cum CROSS JOIN rk GROUP BY 1, 2, 3),
        |md AS (SELECT quantile_cont(o_totalprice, 0.5) AS median
        |  FROM orders)
        |SELECT n, lo_rank, hi_rank, round(median, 4) AS median,
        |  ci_lo, ci_hi
        |FROM ci CROSS JOIN md""".stripMargin,

    // CUPED replay: same per-user conditional decimal sums, pooled
    // moments, and the identical closing chain
    "q330_cuped_adjustment" ->
      """WITH per AS (SELECT user_id,
        |    coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,6)) END),
        |      CAST(0 AS DECIMAL(18,6))) AS x,
        |    coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,6)) END),
        |      CAST(0 AS DECIMAL(18,6))) AS y,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM events GROUP BY user_id),
        |p AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(18,6)))
        |      AS sxy,
        |    sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(18,6)))
        |      AS sxx,
        |    sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(18,6)))
        |      AS syy
        |  FROM per),
        |a AS (SELECT arm, count(*)::BIGINT AS n_users, sum(x) AS ax,
        |    sum(y) AS ay FROM per GROUP BY 1)
        |SELECT arm, n_users,
        |  round(ay::DOUBLE / n_users::DOUBLE, 6) AS mean_y,
        |  round(ay::DOUBLE / n_users::DOUBLE -
        |    ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |     (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) *
        |    (ax::DOUBLE / n_users::DOUBLE - sx::DOUBLE / n::DOUBLE), 6)
        |    AS adj_mean_y,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
        |    AS theta,
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) *
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
        |    ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
        |     (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6)
        |    AS var_reduction
        |FROM a CROSS JOIN p ORDER BY arm""".stripMargin,

    // MW-U replay: same value lattice, strictly-below cumulative,
    // exact 2U and tie sums, identical z chain
    "q331_mann_whitney_u" ->
      """WITH o AS (SELECT o_orderpriority = '1-URGENT' AS is_a,
        |    CAST(floor(o_totalprice) AS BIGINT) AS v
        |  FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |byv AS (SELECT v,
        |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS na_v,
        |    sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS nb_v
        |  FROM o GROUP BY 1),
        |c AS (SELECT v, na_v, nb_v,
        |    coalesce(sum(nb_v) OVER (ORDER BY v ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumb
        |  FROM byv),
        |s AS (SELECT sum(na_v)::BIGINT AS n_a, sum(nb_v)::BIGINT AS n_b,
        |    sum(na_v::DECIMAL(19,0) *
        |      (cumb::DECIMAL(19,0) * 2 + nb_v::DECIMAL(19,0))) AS u2_a,
        |    sum((na_v + nb_v)::DECIMAL(19,0) *
        |      (na_v + nb_v)::DECIMAL(19,0) *
        |      (na_v + nb_v)::DECIMAL(19,0) -
        |      (na_v + nb_v)::DECIMAL(19,0)) AS tie_t3
        |  FROM c)
        |SELECT n_a, n_b, u2_a::BIGINT AS u2_a,
        |  round((u2_a::DOUBLE - n_a::DOUBLE * n_b::DOUBLE) /
        |    (2.0 * sqrt(n_a::DOUBLE * n_b::DOUBLE / 12.0 *
        |      ((n_a::DOUBLE + n_b::DOUBLE + 1.0) - tie_t3::DOUBLE /
        |        ((n_a::DOUBLE + n_b::DOUBLE) *
        |         (n_a::DOUBLE + n_b::DOUBLE - 1.0))))), 6) AS z
        |FROM s""".stripMargin,

    // reciprocity over the q222 edge CTEs (distinct directed pairs)
    "q332_host_reciprocity" -> {
      val host = (j: String) =>
        s"['www.','blog.',''][(($j) % 3 + 1)::INT] || 'd' || " +
          s"(($j) % 7)::VARCHAR || '.' || " +
          s"['com','org','co.uk','com.my'][(($j) % 4 + 1)::INT]"
      s"""WITH hh AS (SELECT doc_id,
         |    ${host("doc_id")} AS hsrc,
         |    ${host("doc_id + 1")} AS h1,
         |    ${host("3 * doc_id + 5")} AS h2
         |  FROM documents),
         |le AS (SELECT hsrc AS src_host, h1 AS dst_host FROM hh
         |       UNION ALL SELECT hsrc, h2 FROM hh),
         |e AS (SELECT DISTINCT src_host, dst_host FROM le
         |      WHERE src_host <> dst_host),
         |r AS (SELECT count(*)::BIGINT AS n_recip FROM e a
         |      WHERE EXISTS (SELECT 1 FROM e b
         |        WHERE b.src_host = a.dst_host
         |          AND b.dst_host = a.src_host)),
         |nn AS (SELECT count(*)::BIGINT AS n_hosts FROM (
         |    SELECT src_host AS h FROM e
         |    UNION SELECT dst_host FROM e)),
         |ne AS (SELECT count(*)::BIGINT AS n_edges FROM e)
         |SELECT n_hosts, n_edges, n_recip,
         |  round(n_recip::DOUBLE / n_edges::DOUBLE, 6) AS reciprocity,
         |  round(n_edges::DOUBLE /
         |    (n_hosts::DOUBLE * (n_hosts::DOUBLE - 1.0)), 6) AS density
         |FROM ne CROSS JOIN r CROSS JOIN nn""".stripMargin
    },

    // CUSUM argmax on the integer lattice; ties to the earlier day
    "q326_changepoint_split" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    count(*)::BIGINT AS x FROM orders GROUP BY 1),
        |t AS (SELECT day,
        |    row_number() OVER (ORDER BY day ASC) AS k,
        |    sum(x) OVER (ORDER BY day ASC ROWS UNBOUNDED PRECEDING)
        |      ::BIGINT AS pref
        |  FROM daily),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS tot
        |  FROM daily),
        |s AS (SELECT day, k, pref, n, tot,
        |    n * pref - k * tot AS t_k FROM t CROSS JOIN m
        |  WHERE k < n)
        |SELECT epoch_us(day::TIMESTAMP) AS split_day_us,
        |  k::BIGINT AS n_days_before,
        |  (n - k)::BIGINT AS n_days_after, t_k,
        |  round(pref::DOUBLE / k, 6) AS mean_before,
        |  round((tot - pref)::DOUBLE / (n - k), 6) AS mean_after
        |FROM (SELECT *, row_number() OVER (ORDER BY abs(t_k) DESC,
        |    day ASC) AS r FROM s)
        |WHERE r = 1""".stripMargin,

    // three integer proxies summed per source, one closing chain
    "q327_readability_by_source" ->
      """WITH d AS (SELECT source,
        |    (len(regexp_extract_all(trim(text), '\s+')) + 1)::BIGINT
        |      AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
        |      AS s,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
        |      AS syl
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT source, count(*) AS n_docs, sum(w)::BIGINT AS words,
        |  sum(s)::BIGINT AS sentences, sum(syl)::BIGINT AS syllables,
        |  round(206.835 - 1.015 * sum(w)::DOUBLE / sum(s)::DOUBLE
        |    - 84.6 * sum(syl)::DOUBLE / sum(w)::DOUBLE, 4) AS flesch
        |FROM d GROUP BY 1 ORDER BY source""".stripMargin,

    // the q311 pair set closed transitively by a recursive
    // reachability CTE (the q64 discipline); canonical = min id
    "q328_entity_groups" ->
      """WITH RECURSIVE ent AS (SELECT min(p_partkey) AS id,
        |    p_name AS name FROM part GROUP BY p_name),
        |k AS (SELECT id, name, string_split(name, ' ')[1] AS block
        |  FROM ent),
        |ok AS (SELECT block FROM k GROUP BY block
        |       HAVING count(*) <= 10000),
        |sblk AS (SELECT k.* FROM k JOIN ok USING (block)),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b
        |  FROM sblk a JOIN sblk b ON a.block = b.block AND a.id < b.id
        |  WHERE abs(len(a.name) - len(b.name)) <= 3
        |    AND levenshtein(a.name, b.name) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach AS (
        |  SELECT id AS n, id AS r FROM nodes
        |  UNION
        |  SELECT reach.n, e.dst FROM reach JOIN edges e
        |    ON e.src = reach.r),
        |cc AS (SELECT n AS part_id, min(r) AS cluster_id FROM reach
        |  GROUP BY n)
        |SELECT cc.part_id, cc.cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
        |  e.name AS canonical_name
        |FROM cc JOIN ent e ON e.id = cc.cluster_id
        |ORDER BY cc.part_id""".stripMargin,

    // SCD2 build replayed (the q74 lag/lead construction) + the
    // half-open as-of probe
    "q329_point_in_time_lookup" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE user_id < 5),
        |marked AS (SELECT user_id, event_type, us,
        |    CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
        |      OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS chg
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |hist0 AS (SELECT user_id, event_type, us AS from_us,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us) AS to_us
        |  FROM marked WHERE chg = 1),
        |probes AS (SELECT user_id,
        |    (min(us) + max(us)) // 2 AS probe_us
        |  FROM ev GROUP BY 1)
        |SELECT p.user_id, p.probe_us, h.event_type, h.from_us, h.to_us
        |FROM probes p JOIN hist0 h ON h.user_id = p.user_id
        |  AND p.probe_us >= h.from_us
        |  AND (h.to_us IS NULL OR p.probe_us < h.to_us)
        |ORDER BY p.user_id""".stripMargin,

    // haversine replayed verbatim; 3dp km rounding absorbs libm ulps
    "q321_nearest_nation" ->
      """WITH c AS (SELECT n_nationkey AS k, n_name AS nm,
        |    (n_nationkey * 37) % 140 - 70 + 0.5 AS lat,
        |    (n_nationkey * 73) % 360 - 180 + 0.5 AS lon
        |  FROM nation),
        |p AS (SELECT a.k AS ak, a.nm AS anm, b.k AS bk, b.nm AS bnm,
        |    round(2.0 * 6371.0 * asin(sqrt(
        |      sin(radians(b.lat - a.lat) / 2) *
        |        sin(radians(b.lat - a.lat) / 2)
        |      + cos(radians(a.lat)) * cos(radians(b.lat)) *
        |        sin(radians(b.lon - a.lon) / 2) *
        |        sin(radians(b.lon - a.lon) / 2))), 3) AS dist_km
        |  FROM c a CROSS JOIN c b WHERE a.k <> b.k)
        |SELECT ak AS nationkey, anm AS n_name, bk AS nearest_key,
        |  bnm AS nearest_name, dist_km
        |FROM (SELECT *, row_number() OVER (PARTITION BY ak
        |    ORDER BY dist_km ASC, bk ASC) AS r FROM p)
        |WHERE r = 1 ORDER BY nationkey""".stripMargin,

    // deciles + cumulative-from-top on the decimal lattice
    "q322_lorenz_deciles" ->
      """WITH rev AS (SELECT o_custkey,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1),
        |dc AS (SELECT rev, ntile(10) OVER (ORDER BY rev DESC,
        |    o_custkey ASC) AS decile FROM rev),
        |bd AS (SELECT decile, count(*)::BIGINT AS n_cust,
        |    sum(rev) AS drev FROM dc GROUP BY 1),
        |t AS (SELECT sum(drev) AS trev FROM bd)
        |SELECT decile, n_cust,
        |  CAST(round(drev, 2) AS DOUBLE) AS decile_revenue,
        |  round(sum(drev) OVER (ORDER BY decile ASC
        |      ROWS UNBOUNDED PRECEDING)::DOUBLE / trev::DOUBLE, 6)
        |    AS cum_share_from_top
        |FROM bd CROSS JOIN t ORDER BY decile""".stripMargin,

    // the same three messy variants and the same normalization
    // pipeline via DuckDB's nfc_normalize + strip_accents (the 'g'
    // regexp flag — DuckDB defaults to first-match-only)
    "q323_match_key_dedup" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |v AS (
        |  SELECT p_name AS messy FROM names
        |  UNION ALL
        |  SELECT upper(replace(p_name, ' ', '   ')) FROM names
        |  UNION ALL
        |  SELECT replace(p_name, 'e', 'é') || '!!' FROM names),
        |k AS (SELECT trim(regexp_replace(
        |    lower(strip_accents(nfc_normalize(messy))),
        |    '[^a-z0-9]+', ' ', 'g')) AS match_key FROM v),
        |g AS (SELECT match_key, count(*)::BIGINT AS group_size
        |  FROM k GROUP BY 1)
        |SELECT group_size, count(*)::BIGINT AS n_keys
        |FROM g GROUP BY 1 ORDER BY group_size""".stripMargin,

    // train/test split on the timestamp, argmax with (count DESC,
    // type ASC) ties, exact-count accuracy
    "q324_next_event_accuracy" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    event_id, ts FROM events),
        |tr AS (SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS next_type
        |  FROM ev WHERE ts < TIMESTAMP '2024-01-16'),
        |trc AS (SELECT prev, next_type, count(*)::BIGINT AS c
        |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |model AS (SELECT prev, next_type AS predicted FROM (
        |    SELECT *, row_number() OVER (PARTITION BY prev
        |      ORDER BY c DESC, next_type ASC) AS r FROM trc)
        |  WHERE r = 1),
        |te AS (SELECT event_type AS prev,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS next_type
        |  FROM ev WHERE ts >= TIMESTAMP '2024-01-16'),
        |sc AS (SELECT te.prev, te.next_type, m.predicted
        |  FROM te LEFT JOIN model m ON m.prev = te.prev
        |  WHERE te.next_type IS NOT NULL)
        |SELECT prev, count(*)::BIGINT AS n_pairs,
        |  sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)::BIGINT
        |    AS n_correct,
        |  any_value(predicted) AS predicted,
        |  round(sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
        |    ::DOUBLE / count(*), 6) AS accuracy
        |FROM sc GROUP BY 1 ORDER BY prev""".stripMargin,

    // Newman r over directed edges: exact decimal sums, one closing
    // double chain written identically
    "q325_degree_assortativity" ->
      s"""WITH e0 AS (
         |${coPairsSql}),
         |sym AS (SELECT u AS src, v AS dst FROM e0
         |        UNION ALL SELECT v, u FROM e0),
         |deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM sym
         |  GROUP BY 1),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y
         |  FROM sym JOIN deg dx ON dx.node = sym.src
         |  JOIN deg dy ON dy.node = sym.dst),
         |s AS (SELECT count(*)::BIGINT AS n,
         |    sum(x::DECIMAL(19,0)) AS sx, sum(y::DECIMAL(19,0)) AS sy,
         |    sum(x::DECIMAL(19,0) * y::DECIMAL(19,0)) AS sxy,
         |    sum(x::DECIMAL(19,0) * x::DECIMAL(19,0)) AS sxx,
         |    sum(y::DECIMAL(19,0) * y::DECIMAL(19,0)) AS syy
         |  FROM xy)
         |SELECT n,
         |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         |    / sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
         |    / sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE), 6)
         |    AS assortativity
         |FROM s""".stripMargin,

    // z from exact counts, the closing expression written identically
    "q315_two_proportion_z" ->
      """WITH c AS (SELECT
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |        THEN 1 ELSE 0 END)::BIGINT AS x_a,
        |    sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |    sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
        |        THEN 1 ELSE 0 END)::BIGINT AS x_b
        |  FROM events)
        |SELECT n_a, x_a, n_b, x_b,
        |  round(x_a::DOUBLE / n_a, 6) AS p_a,
        |  round(x_b::DOUBLE / n_b, 6) AS p_b,
        |  round((x_a::DOUBLE / n_a - x_b::DOUBLE / n_b)
        |    / sqrt(((x_a + x_b)::DOUBLE / (n_a + n_b))
        |      * (1.0 - (x_a + x_b)::DOUBLE / (n_a + n_b))
        |      * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM c""".stripMargin,
  )
}
