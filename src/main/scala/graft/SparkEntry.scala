package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import etlmudah.Tables
import etlmudah.analytics.Analytics
import etlmudah.expr.Exprs
import etlmudah.ingest.Ingest
import etlmudah.joins.Joins
import etlmudah.load.Upsert
import etlmudah.multimodal.Multimodal
import etlmudah.scale.{Dedup, Sampling, Similarity}
import etlmudah.text.TextStats
import Fragments._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with matching DuckDB-runnable ANSI SQL in `oracleSql`.
  *
  * Determinism rules (SURVEY §7.5): every query ends in an explicit
  * `orderBy` with a full tie-break key list; percentiles are exact
  * (`median`/`percentile` ↔ DuckDB `quantile_cont`); timestamps leave the
  * engine as epoch microseconds (`unix_micros` ↔ `epoch_us`) so the
  * parquet/duckdb type round-trip cannot skew the compare; counts and
  * ranks are cast to BIGINT on both sides.
  */
object SparkEntry {

  /** Flagship (SURVEY §7.3): lineitem ⋈ orders ⋈ customer ⋈ broadcast(nation)
    * → per-nation price stats. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    statsByNation(spark, "/root/testdata/sf0.001")

  private[graft] def statsByNation(s: SparkSession, dir: String): DataFrame = {
    val star = Joins.lineitemStar(
      Tables.lineitem(s, dir), Tables.orders(s, dir),
      Tables.customer(s, dir), Tables.nation(s, dir))
    Analytics.statsBy(star, col("n_name"), "n_name", col("l_extendedprice"),
      Seq(round(avg(col("l_quantity")), 2).as("avg_qty")))
  }

  /** Near-dup pair tier shared by every cluster-consuming query (q64
    * clusters, q66 apply, q82 survivor policy): the PREFIX-filtered
    * PPJoin tier, whose candidate generation excludes corpus-wide hot
    * shingles — the Σdf² of `exactJaccardPairs` is the thing that
    * detonates on a real crawled corpus. The pair set is identical to
    * the exact tier by the prefix lemma (proven in DedupSpec), so
    * every downstream oracle is unchanged; q63 keeps
    * `exactJaccardPairs` as the exact-tier definition and q108 is the
    * prefix tier's own oracle. Tier pinned in PlanShapeSpec. */
  private[graft] val clusterPairsMinJaccard = 0.8
  private[graft] def clusterPairs(docs: DataFrame): DataFrame =
    Dedup.prefixJaccardPairs(docs, "text", "doc_id",
      minJaccard = clusterPairsMinJaccard)

  /** Versions the staged artifact's CONTENT, not just its input: bump
    * on any change to the miner's algorithm, and the mining parameters
    * ride the tag — a parameter or code change re-mines instead of
    * silently reusing a stale artifact from a previous round. */
  private[graft] val clusterPairsTag =
    s"prefixJaccardPairs:v1:minJaccard=$clusterPairsMinJaccard"

  /** The pair table STAGED once per corpus and reused by every
    * cluster-consuming query — the honest pipeline shape (mine once,
    * consume many): q64/q66/q82/q147 previously each re-mined the
    * identical pair set from scratch. The artifact key folds in (a)
    * every LEAF data file's (name, length, mtime) — a directory's own
    * status has length 0 and its mtime can survive an in-place file
    * rewrite, so the root status alone is not an identity — and (b)
    * [[clusterPairsTag]], the miner version + parameters. The write
    * goes to a UNIQUE temp dir and publishes via atomic rename, so a
    * concurrent reader never observes a partial artifact at the
    * published path and racing writers resolve to one winner; an
    * interrupted write leaves an unpublished temp dir, never a torn
    * published one. q108 still runs the miner itself (its own oracle
    * row benchmarks the mining cost every round). */
  private[graft] def stagedClusterPairs(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, clusterPairsTag, "pairs")(
      clusterPairs(Tables.documents(s, dir)))

  /** The q198 trained weight table staged once per corpus — the
    * sketch-once/consume-many discipline applied to the classifier:
    * training is fully deterministic (integer-exact gradients), so the
    * (bucket, w6, w) frame is an artifact of corpus identity + params.
    * q199/q201/q204 consume it and pay SCORING only; q198 keeps
    * benchmarking the live training loop every round (the q108/q165
    * discipline), and q205 trains live on its train split — the
    * holdout protocol it demonstrates. */
  private[graft] val lrWeightsTag = "lrw-v1-b16-s3-lr0.02-y-spark"
  private[graft] def stagedLrWeights(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, lrWeightsTag, "lrw")(
      etlmudah.text.TextStats.trainHashedLogReg(
        Tables.documents(s, dir)
          .withColumn("y",
            org.apache.spark.sql.functions.col("text").contains("spark")
              .cast("int")),
        "text", "doc_id", "y", buckets = 16, steps = 3, lr = 0.02))

  /** Deterministic encoding-damage suffix for q212 (the q176
    * dirty-synthesis precedent): one 'Ã'-family double-decode, one
    * 'â€' punctuation artifact, one 'Â '+space — exactly 3 marker hits.
    * Built from codepoint escapes so no source-encoding round trip can
    * alter the bytes; interpolated into BOTH the Spark lambda and the
    * DuckDB oracle so the two sides inject identical damage. */
  private[graft] val mojibakeSuffix =
    " caf\u00C3\u00A9 \u00E2\u20AC\u0153quote \u00C2 nb"

  /** Deterministic NON-NFC suffix for q252 (the q212 dirty-synthesis
    * precedent): a decomposed e + COMBINING ACUTE, a decomposed A +
    * COMBINING RING, and the U+212B ANGSTROM SIGN compatibility
    * singleton \u2014 NFC composes all three (11 codepoints -> 9), so every
    * doc is changed and the length delta is closed-form. Codepoint
    * escapes only; interpolated into BOTH engines so the injected
    * damage is identical. */
  private[graft] val nfcSuffix = " cafe\u0301 A\u030A \u212B"

  /** Per-doc portable minhash signatures (q152/q157's cost center —
    * the md5 family itself) staged once per corpus identity:
    * signatures are subset-stable, so the one full-corpus table serves
    * the self-join audit AND every train/ref decontamination split
    * that shares (shingleN=3, k=128). */
  private[graft] val portableSigTag = "psig-v1-n3-k128"
  private[graft] def stagedPortableSigs(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, portableSigTag, "psig")(
      Dedup.minhashPortableSigTable(Tables.documents(s, dir),
        "text", "doc_id", shingleN = 3, k = 128))

  /** Winnow fingerprint table (id, pos, fp) staged once per (corpus,
    * k, w): q166/q168/q170 each consumed a full winnow pipeline run
    * (tokenize + two id-keyed windows + dedup; q168 over BOTH split
    * sides) — the same mine-once/consume-many shape as
    * [[stagedPortableSigs]]. Selection is per-document, so the staged
    * whole-corpus table serves the pair self-join AND every train/ref
    * split. q165 still runs the miner itself (its oracle row
    * benchmarks the mining cost every round, the q108 discipline). */
  private[graft] val winnowFpTag = "wfp-v1-k3-w4"
  private[graft] def stagedWinnowFps(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, winnowFpTag, "wfp")(
      Dedup.winnowFingerprints(Tables.documents(s, dir), "text", "doc_id",
        k = 3, w = 4))

  /** The co-purchase edge table staged once per corpus — the q64/q108
    * split applied to the graph tier: q218 keeps running the miner live
    * (its oracle row benchmarks mining + PageRank iteration every
    * round); q220's triangle analysis consumes this artifact and pays
    * only the orientation joins. Edges are directed-symmetric; the
    * undirected weight-thresholded pair view is a pure filter (src <
    * dst keeps exactly one direction, and both directions carry equal
    * weights by construction). */
  private[graft] val coEdgeTag = "coedge-v1-orderkey-partkey"
  private[graft] def stagedCoEdges(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, coEdgeTag, "coedge", "lineitem.parquet")(
      etlmudah.graph.Centrality.cooccurrenceEdges(
        Tables.lineitem(s, dir), "l_orderkey", "l_partkey"))

  /** The host LINK graph staged once per corpus — the q218/q220 split
    * applied to the web tier: q222 keeps mining the graph live from
    * the synthetic pages (its oracle row benchmarks href extraction +
    * edge aggregation + ranking every round); q223's curation funnel
    * consumes this artifact and pays only the rank loop + the gate. */
  private[graft] val hostEdgeTag = "hedge-v1-links2"
  private[graft] def stagedHostEdges(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, hostEdgeTag, "hedge")(
      etlmudah.web.Web.hostLinkEdges(fakePages(s, dir), "url", "page"))

  /** The winnow shared-PAIR table staged one level above the
    * fingerprints — the q64/q108 split applied to the winnow tier:
    * q166 runs the df-capped inverted-index join live (its oracle row
    * benchmarks the join cost every round); q170's cluster composition
    * consumes this artifact and pays only connected components. */
  private[graft] val winnowPairTag = "wpair-v1-k3-w4-ms2-df50"
  private[graft] def stagedWinnowPairs(s: SparkSession, dir: String): DataFrame =
    Stage.parquet(s, dir, winnowPairTag, "wpair")(
      Dedup.winnowSharedPairsFromFps(stagedWinnowFps(s, dir),
        minShared = 2L, maxDf = 50L))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ RoundsA.queries ++ RoundsB.queries ++ Round11.queries ++ Round12.queries ++ Round13.queries

  // lazy: entries reference helper SQL vals defined later in the file
  private[graft] lazy val baseQueries
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 — global scalar aggregates (headline metrics)
    "q01_headline_orders" -> ((s, dir) =>
      Analytics.headlineMetrics(Tables.orders(s, dir), "o_totalprice")),

    // A6/J3 flagship — per-nation multi-agg over the star join
    "q02_stats_by_nation" -> ((s, dir) => statsByNation(s, dir)),

    // A2/O2 — top-K by frequency
    "q03_top_parts" -> ((s, dir) =>
      Analytics.topKByCount(Tables.lineitem(s, dir), "l_partkey", 10)),

    // A3 — full frequency table
    "q04_freq_priority" -> ((s, dir) =>
      Analytics.freqTable(Tables.orders(s, dir), "o_orderpriority")),

    // F12/U1 — CASE segment bucketing + frequency
    "q05_segment_freq" -> ((s, dir) =>
      Analytics.freqTable(
        Tables.orders(s, dir).withColumn("segment",
          Exprs.priceSegment(col("o_totalprice"), 50000, 100000, 200000, 400000)),
        "segment")),

    // A9/A16/W2 — percent-of-total by region over the geo join
    "q06_share_by_region" -> ((s, dir) =>
      Analytics.shareOfTotal(
        Joins.customerGeo(Tables.customer(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir)),
        "r_name")),

    // A8 — fixed-width histogram
    "q07_histogram_totalprice" -> ((s, dir) =>
      Analytics.histogram(Tables.orders(s, dir), col("o_totalprice"), 20000.0)),

    // A14 — per-group quartiles
    "q08_quartiles_by_status" -> ((s, dir) =>
      Analytics.quartilesBy(Tables.orders(s, dir), "o_orderstatus", col("o_totalprice"))),

    // D2/W1 — deterministic latest-per-key dedup
    "q09_latest_order_per_customer" -> ((s, dir) =>
      Analytics.latestPerKey(Tables.orders(s, dir), Seq("o_custkey"),
          Seq(col("o_orderdate").desc, col("o_orderkey").desc))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"))
        .orderBy(col("o_custkey"))),

    // D3/O3 — sorted distinct domain
    "q10_distinct_priorities" -> ((s, dir) =>
      Analytics.distinctDomain(Tables.orders(s, dir), "o_orderpriority")),

    // S5/C13/C4/F6 — JSON flatten + clean (ingest pipeline)
    "q11_events_flatten_clean" -> ((s, dir) =>
      Ingest.flattenEvents(Tables.events(s, dir)).orderBy(col("event_id"))),

    // A10 — Pearson correlation
    "q12_corr_lineitem" -> ((s, dir) =>
      Tables.lineitem(s, dir).agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(corr(col("l_extendedprice"), col("l_discount")), 4).as("corr_price_disc"))),

    // A11 — coefficient of variation per group
    "q13_cv_by_priority" -> ((s, dir) =>
      Tables.orders(s, dir).groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 2).as("avg_value"),
          round(stddev_samp(col("o_totalprice")) / avg(col("o_totalprice")) * 100, 2)
            .as("cv_pct"))
        .orderBy(col("o_orderpriority"))),

    // A12 — argmax group (most customers by region)
    "q14_top_region" -> ((s, dir) =>
      Analytics.topKByCount(
        Joins.customerGeo(Tables.customer(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir)),
        "r_name", 1)),

    // A9/C7 — conditional proportions
    "q15_proportions" -> ((s, dir) =>
      Tables.orders(s, dir).agg(
        round(avg(when(col("o_totalprice") < 100000, 1.0).otherwise(0.0)), 6)
          .as("pct_low"),
        round(avg(when(col("o_orderpriority") === "1-URGENT", 1.0).otherwise(0.0)), 6)
          .as("pct_urgent"))),

    // S8/J1 — upsert merge (last-writer-wins)
    "q16_upsert_orders" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val base = orders.withColumn("batch_ts", lit(1L))
      val batch = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("batch_ts", lit(2L))
      Upsert.upsert(base, batch, Seq("o_orderkey"), Seq(col("batch_ts").desc))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"))
        .orderBy(col("o_orderkey"))
    }),

    // join-key skew report: the hottest keys with share + multiple-of-
    // average — the pre-salting diagnostic (q70 is the cure)
    "q96_skew_report" -> ((s, dir) =>
      Joins.skewReport(Tables.events(s, dir), "user_id", topK = 10)),

    // referential-integrity gate: lineitem FK coverage against a parent
    // with every 7th part removed (synthesized orphans)
    "q97_fk_coverage" -> ((s, dir) =>
      Joins.fkCoverage(Tables.lineitem(s, dir),
        Tables.part(s, dir).filter(col("p_partkey") % 7 =!= 0),
        "l_partkey", "p_partkey")),

    // CDC snapshot diff: change feed derived from two full extracts —
    // %10==3 keys vanish (deleted), %10==0 reprice (updated), shifted
    // %10==7 keys appear (inserted), the rest unchanged
    "q95_snapshot_diff" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val next = orders.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000))
      Upsert.snapshotDiff(orders, next, Seq("o_orderkey"),
          Seq("o_custkey", "o_totalprice", "o_orderpriority"))
        .groupBy(col("change")).agg(
          count(lit(1)).as("n_keys"),
          sum(col("o_orderkey")).as("key_sum"))
        .orderBy(col("change"))
    }),

    "q143_local_supplier_volume" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.nation(s, dir),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        // range literals, not year(): the predicate reaches the orders
        // scan as PushedFilters (a function-wrapped column never does)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("r_name"), col("n_name")).agg(
          count(lit(1)).as("n_items"),
          // price/discount are exact 2dp, so the product is an exact 4dp
          // rational: casting the double product to DECIMAL(18,4) recovers
          // it exactly, making the sum association-order-free (a double
          // sum landed on a half-cent boundary differently per engine)
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("r_name"), col("revenue").desc, col("n_name"))),

    // schema-evolution diff (the metadata third of the snapshot-gate
    // trio with q95/q142): a synthetic next-extract drops a column,
    // retypes another, and adds one — the diff is a constant, so the
    // oracle is the expected table itself
    "q146_schema_evolution" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val next = orders.drop("o_orderpriority")
        .withColumn("o_totalprice",
          col("o_totalprice").cast("decimal(12,2)"))
        .withColumn("o_etl_ts", lit(0L))
      etlmudah.analytics.Profile.schemaDiff(orders, next)
    }),

    // TPC-H Q8-shaped market share: one nation's suppliers' share of a
    // region's customer revenue by year — the dual-role dimension
    // stress (nation joins twice, once per side) with a conditional
    // share aggregate
    "q150_market_share" -> ((s, dir) => {
      val cnat = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
      val snat = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("s_nation"))
      // decimal(18,4) recovers the exact 4dp product (see q143): both
      // conditional and total revenue sums become association-order-free
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")
      val subj = sum(when(col("s_nation") === "NATION_7", rev)
        .otherwise(lit(BigDecimal(0)).cast("decimal(18,4)")))
      Tables.customer(s, dir)
        .join(cnat, col("c_nationkey") === col("c_nk"))
        .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
          col("c_rk") === col("r_regionkey"))
        .join(Tables.orders(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(snat, col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year")).agg(
          round(subj, 2).cast("double").as("subject_rev"),
          round(sum(rev), 2).cast("double").as("total_rev"),
          // the SHARE divides in double on both engines (decimal
          // division scale rules differ between engines; double is IEEE)
          round(subj.cast("double") / sum(rev).cast("double"), 6)
            .as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // PSI distribution-drift gate between the q95 snapshots: per-bin
    // share shift terms over o_totalprice; sum = total PSI
    "q142_drift_psi" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
      val next = orders.filter(col("o_orderkey") % 10 =!= 3)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000))
      etlmudah.analytics.Profile.driftPsi(orders, next, "o_totalprice",
        binWidth = 25000.0)
    }),

    // S8/J1 — partial-column merge (the reference's ON CONFLICT ... DO
    // UPDATE SET <mutable cols>): matched keys refresh o_totalprice and
    // batch_ts ONLY — the batch's clobbered o_orderpriority must NOT
    // survive; new keys insert whole rows
    "q80_partial_upsert" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      val base = orders.withColumn("batch_ts", lit(1L))
      val upd = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("o_orderpriority", lit("X-REINGEST"))
        .withColumn("batch_ts", lit(2L))
      val ins = orders.filter(col("o_orderkey") % 10 === 3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
        .withColumn("o_orderpriority", lit("X-NEWROW"))
        .withColumn("batch_ts", lit(2L))
      Upsert.upsert(base, upd.unionByName(ins), Seq("o_orderkey"),
          Seq(col("batch_ts").desc), Seq("o_totalprice", "batch_ts"))
        .orderBy(col("o_orderkey"))
    }),

    // W3 — ranked top-N per group
    "q17_top3_per_priority" -> ((s, dir) =>
      Analytics.topNPerGroup(Tables.orders(s, dir), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))
        .orderBy(col("o_orderpriority"), col("rn"))),

    // F3/C1/C2/C3 — case-insensitive search + initcap
    "q18_promo_parts" -> ((s, dir) =>
      Tables.part(s, dir)
        .filter(lower(col("p_type")).contains("promo"))
        .select(col("p_partkey"), initcap(lower(col("p_type"))).as("type_label"),
          col("p_retailprice"))
        .orderBy(col("p_partkey"))),

    // text analysis — token/length stats per language
    "q19_doc_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          etlmudah.text.TextStats.tokenCountBpeIsh(col("text")).as("n_bpe"))
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"),
          round(avg(col("n_tokens")), 2).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          round(avg(col("n_bpe")), 2).as("avg_bpe_tokens"))
        .orderBy(col("lang"))),

    // ST — tumbling-window aggregation (batch-equivalent of the streaming slice)
    "q20_events_hourly" -> ((s, dir) =>
      Tables.eventsTyped(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("hour_us"), col("event_type"),
          col("cnt"), col("sum_value"))
        .orderBy(col("hour_us"), col("event_type"))),

    // text quality scoring per source — explode-form token profile
    // (codegen'd conditional sums; no per-row array lambdas)
    "q21_doc_quality_by_source" -> ((s, dir) =>
      TextStats.docTokenProfile(Tables.documents(s, dir), "text", "doc_id",
          qualityStops, langMarkers, carryCols = Seq("source"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"),
          round(avg(col("quality")), 4).as("avg_quality"),
          round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"))
        .orderBy(col("source"))),

    // heuristic language ID vs labeled lang — same explode-form profile
    "q22_langid_agreement" -> ((s, dir) =>
      TextStats.docTokenProfile(Tables.documents(s, dir), "text", "doc_id",
          qualityStops, langMarkers, carryCols = Seq("lang"))
        .groupBy(col("lang"), col("pred_lang").as("pred"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred"))),

    // document fingerprinting (rolling-hash dedup key)
    "q23_fingerprint_collisions" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(TextStats.fingerprint(col("text")).as("fp"), col("doc_id"))
        .groupBy(col("fp")).agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("cnt").desc, col("fp").asc)
        .limit(20)),

    // exact dedup: surviving doc ids
    "q24_exact_dedup_docs" -> ((s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // incremental dedup of an arriving batch vs the standing corpus.
    // The testdata has no exact twins, so the batch synthesizes each
    // class: %5==0 re-crawls (dup_corpus), %5==1 with a novel suffix
    // (new), %5==2 twinned under two ids (first=new, second=dup_batch).
    "q101_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text"), col("source"))
        .unionAll(docs.filter(col("doc_id") % 5 === 1)
          .select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit(" novel suffix")).as("text"), col("source")))
        .unionAll(docs.filter(col("doc_id") % 5 === 2)
          .select((col("doc_id") + 30000).as("doc_id"),
            concat(col("text"), lit(" batch twin")).as("text"), col("source")))
        .unionAll(docs.filter(col("doc_id") % 5 === 2)
          .select((col("doc_id") + 40000).as("doc_id"),
            concat(col("text"), lit(" batch twin")).as("text"), col("source")))
      Dedup.incrementalDedup(batch, docs, "text", "doc_id",
          carryCols = Seq("source"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("status"))
    }),

    // MinHash LSH near-duplicate pairs (no SQL oracle: probabilistic
    // candidate generation; verified by recall tests in DedupSpec)
    "q25_near_dup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(Tables.documents(s, dir), "text", "doc_id",
        minJaccard = 0.8)),

    // SimHash near-duplicate pairs — portable (md5-60bit) token hashes,
    // so the DuckDB oracle reproduces the signature, the chunk banding,
    // and the hamming refine exactly
    "q26_simhash_near_dups" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), "text", "doc_id",
          maxHamming = 6, portable = true)
        .withColumn("hamming", col("hamming").cast("long"))),

    // exact cosine top-k against one query vector
    "q27_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10)),

    // ANN via random-hyperplane LSH, first 20 query ids (no SQL oracle;
    // recall vs brute force is spec-verified)
    "q28_ann_lsh_topk" -> ((s, dir) =>
      // 8x8 bits: bucket count scales with corpus so the candidate join
      // stays ~linear; the recall-vs-brute-force guarantee is asserted in
      // SimilaritySpec with wider buckets on the small sf.
      // probe filter pushed below candidate generation: query-side cost
      // scales with the 20 probes, not the corpus
      Similarity.lshTopKAll(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, tables = 8, bits = 8,
          probeFilter = Some(col("id") < 20))),

    // multimodal plumbing: media metadata + stub features + frame
    // counts; the md5-uniform stub makes even the fake decode
    // oracle-reproducible
    "q29_multimodal_features" -> ((s, dir) => {
      val m = Multimodal.withFakeMedia(Tables.documents(s, dir), "text")
      m.select(col("doc_id"),
          col("media_meta.n_bytes").as("n_bytes"),
          size(Multimodal.frameSample(col("media"), 4, 8)).cast("long").as("n_frames"),
          element_at(Multimodal.decodeFeaturesStub(col("media"), 8), 1).as("f0"))
        .orderBy(col("doc_id"))
    }),

    // J4/F5 — band join: same-brand parts within size tolerance
    "q30_band_join_parts" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val a = p.select(col("p_partkey").as("pk_a"), col("p_brand").as("brand"),
        col("p_size").as("size_a"))
      val b = p.select(col("p_partkey").as("pk_b"), col("p_brand").as("brand"),
        col("p_size").as("size_b"))
      a.join(b, Seq("brand"))
        .filter(col("pk_a") < col("pk_b") &&
          abs(col("size_a") - col("size_b")) <= 2)
        .groupBy(col("brand")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("brand"))
    }),

    // A13 — depreciation-style point lookups on an aggregate curve
    "q31_depreciation" -> ((s, dir) => {
      val withAge = Tables.orders(s, dir)
        .withColumn("age", lit(2026) - year(col("o_orderdate")))
      withAge.agg(
          round(avg(when(col("age") === 29, col("o_totalprice"))), 2).as("avg_age29"),
          round(avg(when(col("age") === 30, col("o_totalprice"))), 2).as("avg_age30"),
          round(avg(when(col("age") === 31, col("o_totalprice"))), 2).as("avg_age31"))
        .withColumn("drop_29_to_31_pct",
          round((col("avg_age29") - col("avg_age31")) / col("avg_age29") * 100, 4))
    }),

    // F1/F2/F4/F10/F11 — compound filter pipeline with projection
    "q32_filter_pipeline" -> ((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_totalprice").between(50000, 300000))
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    // S1-S4 — DSv2 paginated source (pagination + rate limit + retry),
    // cleaned and aggregated per region; the simulated API is integer
    // arithmetic so DuckDB generate_series rebuilds it exactly
    "q34_paged_ingest" -> ((s, dir) =>
      s.read.format("etlmudah.sources.PagedSource")
        .option("regions", "5").option("perRegion", "1000")
        .option("pageSize", "200").option("failEveryNPages", "3")
        .load()
        .filter(col("price") > 0)   // F7 sentinel gate
        .groupBy(col("region_id")).agg(
          count(lit(1)).as("n"),
          round(avg(col("price")), 2).as("avg_price"),
          min(col("mileage_min")).as("min_mileage"),
          max(col("mileage_max")).as("max_mileage"))
        .orderBy(col("region_id"))),

    // A15 — KDE curve over order totals at a fixed grid
    "q35_kde_totalprice" -> ((s, dir) =>
      etlmudah.analytics.Density.kdeAtGrid(
          Tables.orders(s, dir), col("o_totalprice"),
          bandwidth = 50000.0,
          grid = (0 to 10).map(_ * 50000.0))
        .select(col("grid_point"),
          round(col("density") * 1e6, 4).as("density_ppm"))),

    // C9/C11 — presentation strings: anchor tag + currency formatting
    "q36_anchor_labels" -> ((s, dir) =>
      Tables.part(s, dir)
        .filter(col("p_partkey") <= 50)
        .select(col("p_partkey"),
          Exprs.anchorTag(
            concat(lit("https://example.com/part/"), col("p_partkey").cast("string")),
            col("p_name")).as("anchor"))
        .orderBy(col("p_partkey"))),

    // F13/U2/A4/C6/C10 — alias standardization + stats over a derived age
    "q37_standardize_age_stats" -> ((s, dir) =>
      Tables.orders(s, dir)
        .withColumn("status_std", Exprs.standardize(col("o_orderstatus"),
          Map("F" -> "FINAL", "O" -> "OPEN")))
        .withColumn("age", (lit(2026) - year(col("o_orderdate"))).cast("long"))
        .groupBy(col("status_std"), col("age")).agg(
          count(lit(1)).as("n"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("status_std"), col("age"))),

    // sliding-window aggregation (2h window, 1h slide): each event lands
    // in two overlapping windows
    "q39_events_sliding" -> ((s, dir) =>
      Tables.eventsTyped(s, dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("win_us"), col("event_type"),
          col("cnt"))
        .orderBy(col("win_us"), col("event_type"))),

    // session windows: activity sessions per user split by 30-min gaps;
    // output = sessions per user (count matches the gaps-and-islands SQL)
    "q42_user_sessions" -> ((s, dir) =>
      Tables.eventsTyped(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("events_in_session"))
        .groupBy(col("user_id")).agg(
          count(lit(1)).as("n_sessions"),
          max(col("events_in_session")).as("max_session_events"))
        .orderBy(col("user_id"))),

    // ROLLUP subtotals over (priority, status)
    "q40_rollup_orders" -> ((s, dir) =>
      Analytics.rollupCounts(Tables.orders(s, dir), "o_orderpriority",
        "o_orderstatus", col("o_totalprice"))),

    // pivot with an explicit value list
    "q41_pivot_status" -> ((s, dir) =>
      Analytics.pivotAvg(Tables.orders(s, dir), "o_orderpriority",
        "o_orderstatus", Seq("F", "O", "P"), col("o_totalprice"))),

    // cardinality profile: exact distinct counts per column (the
    // vocabulary/key-domain sizing every pipeline audit starts with);
    // the approx_count_distinct variant is invariant-tested in
    // AnalyticsSpec (HLL sketches differ across engines)
    // SPLIT passes, not one multi-distinct aggregate: n distincts in one
    // agg plan as a single Expand x(n+1) — every fact row replicated per
    // distinct before the shuffle. Independent column-pruned passes with
    // map-side partial distinct measured 2x faster at sf0.1 and shuffle
    // 1/5th the volume at scale; the 1-row results broadcast-crossJoin
    // back together (the q93 profiler precedent)
    "q43_cardinalities" -> ((s, dir) => {
      def li = Tables.lineitem(s, dir)
      Seq(
        li.agg(count(lit(1)).as("n_rows")),
        li.agg(countDistinct(col("l_orderkey")).as("n_orders")),
        li.agg(countDistinct(col("l_partkey")).as("n_parts")),
        li.agg(countDistinct(col("l_suppkey")).as("n_supps")),
        li.agg(countDistinct(col("l_returnflag"), col("l_linestatus"))
          .as("n_flag_status")))
        .map(p => broadcast(p)).reduce(_ crossJoin _)
    }),

    // embedding-cosine near-duplicate pairs (no SQL oracle: LSH
    // candidate generation; pair correctness in SimilaritySpec). The
    // testdata embeddings are near-random, so the 0.5 threshold keeps
    // the result small but non-vacuous at sf0.01. Per-vector pair
    // lists are capped at pairCap=50 strongest edges (documented
    // truncation — see Similarity.embeddingNearDups scaladoc).
    "q62_embedding_near_dups" -> ((s, dir) =>
      Similarity.embeddingNearDups(Tables.embeddings(s, dir), "vec_id",
        "embedding", minCosine = 0.5)),

    // exact embedding-pair twin of q62 (the q63<->q25 pattern in
    // embedding space): bounded probe slice, broadcast, exact cosine —
    // the oracle-checked audit floor for the LSH tier
    "q136_embedding_pairs_exact" -> ((s, dir) =>
      Similarity.exactEmbeddingPairs(Tables.embeddings(s, dir), "vec_id",
        "embedding", minCosine = 0.3, probeMaxId = 100L)),

    // SemDeDup: cluster-then-dedup semantic near-dup drop list (no SQL
    // oracle: k-means assignment has no DuckDB twin; precision and
    // single-cluster equivalence are spec'd in SimilaritySpec). 0.35 on
    // near-random testdata keeps the drop list small but non-vacuous.
    "q100_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", simThreshold = 0.35, nlist = 8)),

    // IVF ANN: k-means coarse quantizer + probe-limited refine (no SQL
    // oracle: k-means assignment has no DuckDB twin; recall-verified in
    // SimilaritySpec)
    "q38_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopKAll(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, nlist = 16, nprobe = 4,
          probeFilter = Some(col("id") < 20))),

    // S6 — TSV encode + parse round-trip: write orders as TSV, read it
    // back, aggregate. Exact decimal sums + count/min/max keep the
    // compare independent of float summation order. Oracle runs on the
    // ORIGINAL parquet — a lossy encode would hash-mismatch.
    // S7/S10 real connector: bulk-load orders into an embedded-Derby
    // JDBC table (parallel per-partition inserts), read it back as a
    // 4-way partitioned range extract, aggregate — the q44 round-trip
    // shape through an actual RDBMS wire instead of TSV. Production is
    // the same code with a Postgres URL.
    "q153_jdbc_roundtrip" -> ((s, dir) => {
      val db = s"${Stage.scratch("graft_jdbc", dir)}/orders_db"
      val url = s"jdbc:derby:$db;create=true"
      etlmudah.sinks.Writers.writeJdbc(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        url, "ORDERS_STAGE")
      etlmudah.sinks.Writers.readJdbcPartitioned(s, url, "ORDERS_STAGE",
          "o_orderkey", 0L, 6000000L, 4)
        .transform(copyRoundtripAgg)
    }),

    "q44_tsv_roundtrip" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q44", dir)
      etlmudah.sinks.Writers.writeTsv(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        out)
      s.read.option("delimiter", "\t").option("header", "true")
        .schema("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
        .csv(out)
        .groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // range-clustered layout round-trip: write orders range-sorted by
    // totalprice (disjoint file min/max -> data skipping; clustering is
    // pinned in WritersSpec), read a range slice back, aggregate
    "q85_range_sorted_roundtrip" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q85", dir)
      etlmudah.sinks.Writers.writeRangeSorted(
        Tables.orders(s, dir), out, Seq("o_totalprice"), files = 8)
      Tables.parquet(s, out)
        .filter(col("o_totalprice") < 100000)
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),

    // S9 — partitioned layout round-trip: write orders partitioned by
    // status, read back ONE partition (directory pruning exercised; the
    // pruning itself is pinned in WritersSpec), aggregate.
    "q45_partitioned_roundtrip" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q45", dir)
      etlmudah.sinks.Writers.writePartitioned(
        Tables.orders(s, dir).select("o_orderkey", "o_orderstatus",
          "o_orderpriority", "o_totalprice"),
        out, Seq("o_orderstatus"))
      Tables.parquet(s, out)
        .filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // S7+S12 — staged (write-then-swap) load read through the TTL cache;
    // two getOrCompute calls, second is served from cache (plan identity
    // pinned in WritersSpec) — values must still match the source table.
    "q46_staged_cached" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q46", dir)
      etlmudah.sinks.Writers.writeStaged(
        Tables.customer(s, dir).select("c_custkey", "c_nationkey", "c_acctbal"),
        out)
      val cache = new etlmudah.sinks.Writers.TtlCache(s)
      def load() = cache.getOrCompute(s"q46_$dir", ttlMs = 600000L)(
        Tables.parquet(s, out)
          .groupBy(col("c_nationkey")).agg(
            count(lit(1)).as("n"),
            sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal")))
      load()
      load().orderBy(col("c_nationkey"))
    }),

    // decontamination: near-dups of the "training" half of documents
    // against the "reference" half (no SQL oracle: banded minhash
    // candidate generation; planted-pair recall verified in DedupSpec)
    "q47_decontamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", minJaccard = 0.8)
    }),

    // Gopher/C4-style quality filter: verdict distribution with the
    // first failing rule as the reason
    "q48_quality_filter" -> ((s, dir) =>
      TextStats.qualityFilter(Tables.documents(s, dir), "text", "doc_id",
          qualityStops, minTokens = 30, maxTokens = 100000,
          minStopRatio = 0.03, maxPunctRatio = 0.05)
        .groupBy(col("verdict")).agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy(col("verdict"))),

    // one-pass table profiler: per-column nulls / exact distincts /
    // typed min-max over orders (single Expand + hash aggregate)
    "q93_profile_orders" -> ((s, dir) =>
      etlmudah.analytics.Profile.profileTable(Tables.orders(s, dir))),

    // funnel report over q48's rule stack: per-source survivors after
    // each ordered rule — which rule eats the corpus, by slice
    "q92_filter_funnel" -> ((s, dir) =>
      TextStats.filterFunnel(Tables.documents(s, dir), "text", "doc_id",
        qualityStops, sliceCol = "source", minTokens = 30,
        maxTokens = 100000, minStopRatio = 0.03, maxPunctRatio = 0.05)),

    // Gopher-rule report: independent per-rule pass counts by source
    // (the complement of q92's cumulative funnel). minTokens=30 keeps
    // the length rule non-vacuous on the short synthetic docs.
    "q98_gopher_rules" -> ((s, dir) =>
      TextStats.gopherStats(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source", minTokens = 30)),

    "q99_unigram_logprob" -> ((s, dir) =>
      TextStats.unigramScore(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source")),

    // DSIR importance scoring: target = the English slice; per-lang
    // report shows en scoring positive (target-like) and the rest
    // negative — the "select web data resembling the target" weights
    "q149_dsir_selection" -> ((s, dir) =>
      TextStats.dsirScore(Tables.documents(s, dir), "text", "doc_id",
        isTarget = col("lang") === "en", sliceCol = "lang")),

    // sequence-length distribution: power-of-two token buckets per
    // source with within-slice shares
    "q102_length_histogram" -> ((s, dir) =>
      TextStats.lengthHistogram(Tables.documents(s, dir), "text",
        "doc_id", sliceCol = "source")),

    // robust median/MAD outlier fence per order priority (the screen
    // that survives heavy tails where mean/stddev z-scores drown).
    // fence=1.78 (~1.2 sigma) because TPC-H totalprice is bounded
    // uniform-ish — the conventional 3-sigma fence flags nothing here.
    "q103_robust_outliers" -> ((s, dir) =>
      etlmudah.analytics.Analytics.robustOutliers(
        Tables.orders(s, dir), "o_orderpriority", col("o_totalprice"),
        fence = 1.78)),

    // chi-square independence cells for priority x status (categorical
    // association/drift screen)
    "q104_chi_square" -> ((s, dir) =>
      etlmudah.analytics.Analytics.chiSquare(
        Tables.orders(s, dir), "o_orderpriority", "o_orderstatus")),

    // token-distribution entropy per source (corpus diversity /
    // boilerplate dial)
    "q105_token_entropy" -> ((s, dir) =>
      TextStats.tokenEntropy(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source")),

    // bigram conditional LM scoring per source — the KenLM-ish
    // perplexity-filter proxy, conditional upgrade of q99
    "q106_bigram_logprob" -> ((s, dir) =>
      TextStats.bigramScore(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source")),

    // hourly volume anomalies per event type: z-score vs the trailing
    // 24-hour baseline (the ingestion spike/outage monitor)
    "q107_hourly_anomaly" -> ((s, dir) =>
      etlmudah.analytics.Analytics.anomalyZ(
        Tables.eventsTyped(s, dir), "ts", "event_type", lookback = 24)),

    // prefix-filtered exact Jaccard pairs (PPJoin tier): identical
    // output to q63, candidates from rare-first prefixes only
    "q108_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
        minJaccard = 0.8)),

    // daily cohort retention triangle (D0..D14) over the event log.
    // day columns ship as ISO strings: a DATE round-trips differently
    // through parquet/pandas/duckdb (date32 vs datetime64) and the
    // hash compare sees a dtype mismatch on identical values
    "q110_cohort_retention" -> ((s, dir) =>
      etlmudah.analytics.Events.cohortRetention(
          Tables.eventsTyped(s, dir), "ts", "user_id", maxOffsetDays = 14)
        .withColumn("cohort_day",
          date_format(col("cohort_day"), "yyyy-MM-dd"))),

    // ordered funnel: view -> click -> purchase with first-touch
    // strictly-after semantics, per-stage conversion shares
    "q111_event_funnel" -> ((s, dir) =>
      etlmudah.analytics.Events.funnel(Tables.eventsTyped(s, dir), "ts",
        "user_id", "event_type", Seq("view", "click", "purchase"))),

    // q111 with a CONVERSION WINDOW: each stage must land within 6h of
    // the previous stage's first touch (the windowed funnel product
    // dashboards default to)
    "q151_windowed_funnel" -> ((s, dir) =>
      etlmudah.analytics.Events.funnel(Tables.eventsTyped(s, dir), "ts",
        "user_id", "event_type", Seq("view", "click", "purchase"),
        maxGapUs = Some(6L * 3600 * 1000000))),

    // anti join (EXCEPT shape): customers with no high-value order —
    // the orphan screen every referential model runs (threshold keeps
    // the result non-trivial on the dense synthetic data, where every
    // customer has SOME order)
    "q126_customers_no_orders" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(Tables.orders(s, dir)
            .filter(col("o_totalprice") > 450000)
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy().agg(count(lit(1)).as("n_without"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"),
          sum(col("c_custkey")).as("key_sum"))),

    // semi join (EXISTS shape): customers with at least one URGENT
    // order, counted per nation
    "q127_urgent_customers" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))),

    // portable MinHash banded near-dups: md5-60bit string-shingle
    // sketch, fully replicated in the DuckDB oracle — the banded
    // candidate set itself is hash-checked, not just spec'd (q25's
    // xxhash64 tier stays the fast path)
    "q130_minhash_portable" -> ((s, dir) =>
      Dedup.minhashPortablePairs(Tables.documents(s, dir), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4, minJaccard = 0.7)),

    // q25's production parameters (k=128, b=32, j>=0.8) through the
    // portable md5-60bit hash family: the flagship banded near-dup tier
    // itself gains a hash-checked oracle row (q25's xxhash64 tier stays
    // the fast path; DedupSpec pins the two tiers' recall agreement)
    // signatures come from the staged per-corpus table (the md5 family
    // is the tier's cost center; sketch once, consume many — the
    // stagedClusterPairs discipline applied to the portable family)
    "q152_near_dup_pairs_portable" -> ((s, dir) =>
      Dedup.minhashPortablePairsStaged(Tables.documents(s, dir),
        "text", "doc_id", stagedPortableSigs(s, dir),
        shingleN = 3, k = 128, bands = 32, minJaccard = 0.8)),

    // boilerplate stripping APPLIED (the q135 miner's removal step):
    // tokens covered by any corpus-hot trigram (df >= 5) are dropped,
    // docs reassembled from survivors in order — the CCNet/RefinedWeb
    // templated-fragment strip at n-gram granularity
    "q154_boilerplate_strip" -> ((s, dir) =>
      Dedup.stripBoilerplate(Tables.documents(s, dir), "text", "doc_id",
          shingleN = 3, minDf = 5L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // media metadata decode ROUND TRIP: a valid PNG/GIF/JPEG header is
    // synthesized per doc (dimensions derived from doc_id), then parsed
    // back by the real byte-arithmetic decoder (Multimodal.mediaMeta —
    // PNG/GIF fixed offsets, JPEG bounded marker walk). The oracle
    // computes the expected dimensions directly, so a green row proves
    // encode -> parse recovers format/width/height exactly, including
    // the JPEG segment walk past the filler APP0.
    "q155_media_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fmt = element_at(array(lit("png"), lit("gif"), lit("jpeg")),
        (col("doc_id") % 3 + 1).cast("int"))
      val w = (col("doc_id") % 512 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 512 + 16).cast("int")
      // blob materialized as its own projection first — the q163
      // lesson: an inlined synth tree is re-evaluated by every byte
      // read of the decoder's marker walk
      docs.select(col("doc_id"),
          Multimodal.fakeMediaHeader(fmt, w, h).as("blob"))
        .transform(mediaDims)
    }),

    // PORTABLE hyperplane LSH (the q152 move applied to embedding ANN):
    // integer md5-lattice hyperplanes + floor-quantized coordinates make
    // buckets, candidate set, and the 6dp exact-cosine refine
    // re-derivable in DuckDB bit-for-bit — the hyperplane-LSH tier's
    // oracle row (q28/q38 remain the production spec-verified tiers)
    "q156_lsh_pairs_portable" -> ((s, dir) =>
      Similarity.lshPortablePairs(Tables.embeddings(s, dir),
        "vec_id", "embedding")),

    // PORTABLE decontamination (the q152 move applied to q47): the
    // cross-corpus banded tier at q47's production parameters
    // (k=128, b=32, j>=0.8) through the md5-lane family — the
    // decontamination candidate set and refine gain a hash-checked
    // oracle row, the auditability property an external party needs
    // to re-derive a benchmark-leakage report (q47's xxhash64 tier
    // stays the fast path)
    "q157_decontamination_portable" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // signatures are subset-stable: the SAME staged table q152 reads
      // serves both sides of the split (sketch once, consume many)
      Dedup.minhashPortableCrossStaged(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", stagedPortableSigs(s, dir),
        shingleN = 3, k = 128, bands = 32, minJaccard = 0.8)
    }),

    // PORTABLE IVF coarse assignment (the q38/q94 family's auditable
    // anchor): deterministic md5-ranked centroid pick + exact
    // argmax-cosine assignment, re-derivable in DuckDB — the index
    // BUILD step gains an oracle row while the Lloyd-trained
    // production quantizer stays spec-verified
    "q158_ivf_assign_portable" -> ((s, dir) =>
      Similarity.ivfAssignPortable(Tables.embeddings(s, dir),
        "vec_id", "embedding", nlist = 8)),

    // duplicate-span strip APPLIED (q88's removal step, Lee et al.
    // ExactSubstr at 8-gram granularity): every non-first occurrence
    // of a duplicated 8-token span drops its tokens, docs reassemble
    // from survivors in order — first occurrence (min (doc, pos))
    // survives corpus-wide
    "q160_dup_span_strip" -> ((s, dir) =>
      Dedup.stripDupSpans(Tables.documents(s, dir), "text", "doc_id",
          k = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // token-level sequence packing (GPT-style): concatenate the corpus
    // in doc_id order, chop into 2048-token packs, one row per
    // (doc, pack) span — boundary-straddling docs split across packs;
    // the distributed prefix sum replays as a window cumsum in SQL
    "q159_sequence_packing" -> ((s, dir) =>
      Sampling.packSequences(
        Tables.documents(s, dir)
          .select(col("doc_id"), TextStats.tokenCount(col("text")).as("tok")),
        "doc_id", "tok", ctxLen = 2048)),

    // set op INTERSECT (SURVEY §2.5): customers present in BOTH the
    // urgent-order and the high-order cohort. Spark's intersect plans
    // as a distinct + left-semi — SQL INTERSECT semantics exactly
    "q128_cohort_intersect" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      etlmudah.analytics.SetOps.intersect(
          o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          o.filter(col("o_orderpriority") === "2-HIGH")
            .select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // set op EXCEPT (SURVEY §2.5): urgent-cohort customers with no
    // high-priority order — distinct + left-anti, SQL EXCEPT semantics
    "q129_cohort_except" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      etlmudah.analytics.SetOps.except(
          o.filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          o.filter(col("o_orderpriority") === "2-HIGH")
            .select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // per-frame table from video-like blobs: one row per sampled frame
    // with its fingerprint — the shape a frame-dedup/caption pipeline
    // materializes. frames=4 keeps len/4.0 exact in binary, so the
    // window positions truncate identically in any engine; the synth
    // corpus is ASCII, so byte windows == char windows for the oracle
    "q124_frame_table" -> ((s, dir) => {
      val m = Multimodal.withFakeMedia(
        Tables.documents(s, dir).filter(col("doc_id") < 50), "text")
      m.select(col("doc_id"),
          posexplode(Multimodal.frameSample(col("media"), 4, 8))
            .as(Seq("frame_idx", "frame")))
        .select(col("doc_id"), col("frame_idx"),
          md5(col("frame")).as("frame_fp"),
          length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // per-dimension embedding diagnostics (dead/saturated dimension
    // screen): mean/variance/extremes per vector position
    "q125_embedding_dims" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "__v")))
        .select(col("dim"), col("__v").cast("double").as("__v"))
        .groupBy(col("dim")).agg(
          count(lit(1)).as("n"),
          sum(col("__v")).as("__s1"),
          sum(col("__v") * col("__v")).as("__s2"),
          round(min(col("__v")), 6).as("min_v"),
          round(max(col("__v")), 6).as("max_v"))
        .select(col("dim"), col("n"),
          round(col("__s1") / col("n"), 4).as("avg_v"),
          round((col("__s2") - col("__s1") * col("__s1") / col("n")) /
            (col("n") - 1), 4).as("var_v"),
          col("min_v"), col("max_v"))
        .orderBy(col("dim"))),

    // inter-event gap cadence per event type (sizes session gaps and
    // watermarks from the data)
    "q122_event_gaps" -> ((s, dir) =>
      etlmudah.analytics.Analytics.interEventGaps(Tables.eventsTyped(s, dir),
        "ts", "user_id", "event_type", "event_id")),

    // first-order event transition matrix: per-user (event -> next)
    // counts with row-normalized P(next | current); one user-keyed
    // window, matrix bounded by |event types|^2
    "q141_event_transitions" -> ((s, dir) =>
      etlmudah.analytics.Events.transitionMatrix(Tables.eventsTyped(s, dir),
        "ts", "user_id", "event_type", "event_id")),

    // t-digest decile calibration vs exact percentiles (no SQL oracle:
    // the sketch has no DuckDB twin; envelope spec'd in AnalyticsSpec)
    "q123_decile_calibration" -> ((s, dir) =>
      etlmudah.analytics.Analytics.quantileCalibration(
        Tables.orders(s, dir), col("o_totalprice"), buckets = 10)),

    // dedup normalization ladder: duplicate mass surfaced at each
    // normalization level (raw -> case/ws -> punct -> digit-mask)
    "q120_norm_ladder" -> ((s, dir) =>
      Dedup.normalizationLadder(Tables.documents(s, dir), "text", "doc_id")),

    // LLM-token cost estimate: BPE-ish token count (letter runs, digit
    // runs, punctuation marks) vs whitespace words per source — the
    // per-slice budget multiplier before a real tokenizer pass
    "q121_token_cost" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text"))).as("ws_tokens"),
          sum(TextStats.tokenCountBpeIsh(col("text"))).as("bpeish_tokens"))
        .withColumn("cost_ratio",
          round(col("bpeish_tokens") * 1.0 / col("ws_tokens"), 4))
        .orderBy(col("source"))),

    // Zipf rank-frequency fit over the corpus vocabulary (slope ~ -1
    // for natural text; the one-number corpus-health signal)
    "q119_zipf_fit" -> ((s, dir) =>
      TextStats.zipfFit(Tables.documents(s, dir), "text", "doc_id",
        maxRank = 10000)),

    // vocabulary coverage / OOV mass per source against the corpus
    // top-1000 token vocabulary (the tokenizer-freeze gate)
    "q117_vocab_coverage" -> ((s, dir) =>
      // the synthetic corpus has ~31 distinct tokens — V=20 leaves real
      // OOV mass for the query to measure (V=1000 covers everything)
      TextStats.vocabCoverage(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source", vocabSize = 20)),

    // per-priority share of high-value orders with a Wilson 95%
    // interval — the error bar a bare rate hides
    "q118_proportion_ci" -> ((s, dir) =>
      etlmudah.analytics.Analytics.proportionCI(Tables.orders(s, dir),
        "o_orderpriority", col("o_totalprice") > 150000)),

    // JSONL sink round-trip (the crawl/annotation interchange format):
    // write documents as JSON lines, read back, re-aggregate — values
    // must survive the text encoding exactly (q44's TSV contract)
    "q116_jsonl_roundtrip" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q116", dir)
      etlmudah.sinks.Writers.writeJsonl(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"), out)
      s.read.schema("doc_id BIGINT, source STRING, n_chars BIGINT").json(out)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    }),

    // ANN recall@5 report for the LSH and IVF indexes vs the exact
    // brute-force answer over the first 20 probes (no SQL oracle:
    // hyperplane/k-means assignment has no DuckDB twin; bounds and
    // exhaustive-config behavior are spec-verified)
    "q115_ann_recall" -> ((s, dir) =>
      Similarity.annRecallReport(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 5, maxProbeId = 20L)),

    // end-to-end curation composite: quality gate (q48 rules) -> exact
    // dedup (q24 fingerprint) -> md5 split (q49) -> per-(split, source)
    // doc/token report. Every stage is deterministic, so the WHOLE
    // pipeline carries a DuckDB oracle — the composition proof that the
    // operators snap together without driver-side glue.
    "q114_curation_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val keepIds = TextStats.qualityFilter(docs, "text", "doc_id",
          qualityStops, minTokens = 30, maxTokens = 100000,
          minStopRatio = 0.03, maxPunctRatio = 0.05)
        .filter(col("verdict") === "keep").select(col("id").as("doc_id"))
      val deduped = Dedup.exactDedup(docs.join(keepIds, Seq("doc_id")),
        "text", "doc_id")
      etlmudah.scale.Sampling.hashSplit(deduped, "doc_id",
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .groupBy(col("split"), col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("text"))).as("sum_tokens"))
        .orderBy(col("split"), col("source"))
    }),

    // PMI collocations: bigrams beating the independence expectation
    // (multiword-expression mining with a support floor)
    "q112_collocations" -> ((s, dir) =>
      TextStats.collocations(Tables.documents(s, dir), "text", "doc_id",
        minCount = 3, minPmi = 1.0)),

    // rolling DAU/WAU actives with stickiness share over the event log
    // (day as ISO string — see q110 note)
    "q113_rolling_active" -> ((s, dir) =>
      etlmudah.analytics.Events.rollingActive(Tables.eventsTyped(s, dir),
          "ts", "user_id", windowDays = 7)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))),

    // split-leakage audit: exact near-dup pairs whose members land in
    // DIFFERENT md5-hash splits — the train/test contamination check
    // run before any eval on a held-out slice
    "q109_split_leakage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val splits = etlmudah.scale.Sampling.hashSplit(docs, "doc_id",
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .select(col("doc_id"), col("split"))
      // the staged PPJoin pair artifact: identical pair set (DedupSpec
      // identity), mined once per corpus with the cluster consumers
      stagedClusterPairs(s, dir)
        .join(splits.select(col("doc_id").as("id_a"),
          col("split").as("split_a")), Seq("id_a"))
        .join(splits.select(col("doc_id").as("id_b"),
          col("split").as("split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
          col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // TF-IDF term scores for a bounded doc subset, ordered by (doc,
    // term) — never by the float score — so 1-ulp ln() differences
    // can't flip row order (score VALUES are compared, rounded 4dp)
    "q57_tfidf" -> ((s, dir) =>
      TextStats.tfidf(Tables.documents(s, dir), "text", "doc_id")
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("term"))),

    // Okapi BM25 term scores for a bounded doc subset — the retrieval
    // scoring a RAG index materializes; ordered by (doc, term), score
    // VALUES compared at 4dp (the q57 convention)
    "q131_bm25" -> ((s, dir) =>
      TextStats.bm25(Tables.documents(s, dir), "text", "doc_id")
        .filter(col("id") < 20)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("score"))
        .orderBy(col("doc_id"), col("term"))),

    // C4-style sub-document dedup: 16-token segments, corpus-wide
    // first occurrence survives, docs reassembled from kept segments
    "q132_segment_dedup" -> ((s, dir) =>
      etlmudah.scale.Dedup.segmentDedup(
          Tables.documents(s, dir), "text", "doc_id", segTokens = 16)
        .select(col("id").as("doc_id"), col("text_kept"),
          col("n_seg_total"), col("n_seg_kept"))
        .orderBy(col("doc_id"))),

    // pairwise source overlap matrix: distinct-shingle Jaccard +
    // directional containment per source pair — the dataset-mixing
    // dial (which crawls duplicate which)
    "q133_source_overlap" -> ((s, dir) =>
      etlmudah.scale.Dedup.sourceOverlap(
          Tables.documents(s, dir), "text", "doc_id", "source")
        .orderBy(col("src_a"), col("src_b"))),

    // pairwise Jensen-Shannon divergence between source unigram
    // distributions — the distributional complement of q133's set
    // overlap; grouped by lang for fewer, bigger groups
    "q134_lexical_divergence" -> ((s, dir) =>
      TextStats.lexicalDivergence(
          Tables.documents(s, dir), "text", "doc_id", "lang")
        .select(col("src_a").as("lang_a"), col("src_b").as("lang_b"),
          col("shared_vocab"), col("jsd_bits"))
        .orderBy(col("lang_a"), col("lang_b"))),

    // boilerplate miner: top-25 shingles by document frequency with
    // source spread — the stop-shingle list a curation run feeds back
    // into the PPJoin prefix filter
    "q135_boilerplate_shingles" -> ((s, dir) =>
      etlmudah.scale.Dedup.boilerplateShingles(
          Tables.documents(s, dir), "text", "doc_id", "source", k = 25)),

    // approximate sequence packing: docs into ~512-token training bins,
    // summarized per (bucket, bin)
    "q60_pack_documents" -> ((s, dir) => {
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokenCount(col("text")).as("n_tokens"))
      etlmudah.scale.Sampling.packIntoBins(sized, "doc_id", "n_tokens",
          capacity = 512L, buckets = 8)
        .groupBy(col("bucket"), col("bin")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"))
        .orderBy(col("bucket"), col("bin"))
    }),

    // deflate-ratio quality proxy per source (no SQL oracle: DuckDB has
    // no deflate; determinism + discrimination pinned in TextStatsSpec)
    "q61_compression_by_source" -> ((s, dir) =>
      TextStats.compressionRatio(Tables.documents(s, dir), "text", "doc_id")
        .join(Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")), Seq("id"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("compression_ratio")), 6).as("avg_ratio"))
        .orderBy(col("source"))),

    // within-doc repetition (Gopher boilerplate rule): distribution of
    // duplicate-trigram ratios per source
    "q58_repetition_by_source" -> ((s, dir) =>
      TextStats.repetitionRatio(Tables.documents(s, dir), "text", "doc_id")
        .join(Tables.documents(s, dir).select(col("doc_id").as("id"),
          col("source")), Seq("id"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("rep_ratio")), 6).as("avg_rep_ratio"),
          round(max(col("rep_ratio")), 6).as("max_rep_ratio"))
        .orderBy(col("source"))),

    // PII-pattern scan totals (C4-style scrub diagnostic)
    "q59_pii_scan" -> ((s, dir) =>
      TextStats.piiScan(Tables.documents(s, dir), "text", "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_emails")).as("total_emails"),
          sum(col("n_phones")).as("total_phones"),
          sum(col("n_long_digit_runs")).as("total_digit_runs"),
          sum(when(col("n_emails") + col("n_phones") +
            col("n_long_digit_runs") > 0, 1L).otherwise(0L)).as("docs_with_pii"))),

    // corpus-wide bigram frequency (vocabulary/phrase stats)
    "q56_top_bigrams" -> ((s, dir) =>
      TextStats.topNgrams(Tables.documents(s, dir), "text", "doc_id",
        n = 2, k = 20)),

    // n-gram diversity (distinct/total at n=1..3) per source — the
    // repetition-collapse signal for templated/model-generated text;
    // one tokenize pass feeds all three n via a stacked explode
    "q148_ngram_diversity" -> ((s, dir) =>
      TextStats.ngramDiversity(Tables.documents(s, dir), "text", "doc_id",
        "source", maxN = 3)),

    // sliding token-window chunking (the embedding/context-window prep
    // op); chunk text is compared verbatim against the oracle
    "q55_doc_chunks" -> ((s, dir) =>
      TextStats.chunkDocs(Tables.documents(s, dir), "text", "doc_id",
          chunkTokens = 32, stride = 16)
        .select(col("id").as("doc_id"), col("chunk"), col("n_tokens"),
          col("chunk_text"))),

    // mergeable HLL cardinality rollup (no SQL oracle: DataSketches
    // estimates have no DuckDB twin; the 5% envelope and union-vs-exact
    // agreement are pinned in AnalyticsSpec)
    "q54_distinct_customers_sketch" -> ((s, dir) =>
      Analytics.cardinalityRollup(Tables.orders(s, dir),
        "o_orderstatus", "o_custkey")),

    // the 100 TB dial of q03: sketch-based heavy hitters. Cardinality
    // (5 priorities) is far below maxItemsTracked, so counts are exact
    // and the deterministic re-sort makes this SQL-oracle-checkable.
    "q53_top_priorities_approx" -> ((s, dir) =>
      Analytics.topKByCountApprox(Tables.orders(s, dir), "o_orderpriority", 5)),

    // the 100 TB dial of q02: sketch-based approx median (no SQL oracle:
    // t-digest has no deterministic DuckDB twin; closeness to the exact
    // form is pinned in AnalyticsSpec)
    "q52_stats_by_nation_approx" -> ((s, dir) => {
      val star = Joins.lineitemStar(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))
      Analytics.statsByApprox(star, col("n_name"), "n_name",
        col("l_extendedprice"),
        Seq(round(avg(col("l_quantity")), 2).as("avg_qty")))
    }),

    // exact similarity profile over a bounded probe set (the ANN-tuning
    // diagnostic): max cosine + neighbors above threshold per probe
    "q51_similarity_profile" -> ((s, dir) =>
      Similarity.similarityProfile(Tables.embeddings(s, dir), "vec_id",
        "embedding", maxProbeId = 50L, simThreshold = 0.3)),

    // deterministic train/val/test split from md5 of the key — split
    // composition per language (oracle recomputes the identical uniform)
    "q49_dataset_split" -> ((s, dir) =>
      etlmudah.scale.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
          Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
        .groupBy(col("split"), col("lang")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))),

    // leakage-safe split: near-dup cluster members ride the CLUSTER
    // id's uniform, so no train/test boundary separates near-dups;
    // n_moved counts docs whose label changed vs the plain per-doc split
    "q147_leakage_safe_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bounds = Seq(("train", 0.8), ("val", 0.9), ("test", 1.0))
      val clusters = Dedup.dupClusters(stagedClusterPairs(s, dir))
      val own = Sampling.hashSplit(docs.select(col("doc_id")), "doc_id",
        bounds).withColumnRenamed("split", "own_split")
      Sampling.leakageSafeSplit(docs, "doc_id", bounds, clusters)
        .join(own, Seq("doc_id"))
        .groupBy(col("split")).agg(
          count(lit(1)).as("n_docs"),
          count(col("cluster_id")).as("n_clustered"),
          sum(when(col("own_split") =!= col("split"), 1L).otherwise(0L))
            .as("n_moved"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))
    }),

    // deterministic mixture reweighting: per-language downsampling
    "q50_stratified_sample" -> ((s, dir) =>
      etlmudah.scale.Sampling.stratifiedSample(Tables.documents(s, dir),
          "doc_id", "lang",
          Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.25),
          defaultFraction = 0.1, salt = "mix")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))),

    // per-source document cap (RefinedWeb "at most N pages per domain"):
    // count quota per stratum in deterministic md5-uniform order
    "q89_source_cap" -> ((s, dir) =>
      etlmudah.scale.Sampling.capPerStratum(Tables.documents(s, dir),
          "doc_id", "source", cap = 15, salt = "cap")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))),

    // weighted sampling without replacement (A-Res): 50 winners by
    // ln(u)/n_chars — long docs proportionally likelier, deterministic
    "q90_weighted_sample" -> ((s, dir) =>
      etlmudah.scale.Sampling.weightedSample(Tables.documents(s, dir),
          "doc_id", "n_chars", k = 50, salt = "ws")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          round(col("ares_key"), 6).as("ares_key"))
        .orderBy(col("ares_key").desc, col("doc_id").asc)),

    // deterministic 5-fold CV assignment: fold is a pure function of
    // the key (md5-uniform), so folds reproduce and survive growth
    "q144_kfold_split" -> ((s, dir) =>
      etlmudah.scale.Sampling.kFold(Tables.documents(s, dir), "doc_id",
          k = 5, salt = "cv")
        .groupBy(col("fold")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("fold"))),

    // weighted per-stratum cap: per-lang quota of 20 docs chosen
    // weight-proportionally (A-Res without replacement) in one keyed
    // window — long docs likelier, deterministic
    "q145_weighted_cap" -> ((s, dir) =>
      etlmudah.scale.Sampling.weightedCapPerStratum(Tables.documents(s, dir),
          "doc_id", "lang", "n_chars", cap = 20, salt = "wcap")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))),

    // corpus mixture plan: natural vs target composition plus the
    // sampling rate / epoch count that realizes a 5M-char budget (the
    // LLM data-recipe table); plan cost is one aggregate + broadcast
    // total regardless of corpus size
    "q137_mixture_plan" -> ((s, dir) =>
      etlmudah.scale.Sampling.mixturePlan(Tables.documents(s, dir),
          "source", "n_chars",
          Map("src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.1),
          budget = 5000000L, defaultWeight = 0.01)
        .orderBy(col("source"))),

    // token-balanced shard export: distributed prefix sum (range
    // partition -> parallel local cumsums -> bounded bucket-offset
    // window) assigns ~50k-char shards; per-shard manifest is the
    // oracle surface and is invariant to where range boundaries fall
    "q138_shard_assign" -> ((s, dir) =>
      etlmudah.scale.Sampling.shardAssign(Tables.documents(s, dir),
          "doc_id", "n_chars", shardBudget = 50000L)
        .groupBy(col("shard")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("shard_chars"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"))),

    // adaptive per-source quality floor: drop each source's bottom
    // decile by token count (rank-based, so exact and engine-portable —
    // no interpolated percentile whose last ulp could flip a boundary
    // row), report survivors and the realized cutoff
    "q139_quality_cutoff" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).withColumn("n_tokens",
        TextStats.tokenCount(col("text")))
      etlmudah.scale.Sampling.bottomQuantileDrop(scored, "n_tokens",
          "doc_id", "source", q = 0.1)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_kept"),
          min(col("n_tokens")).as("cutoff_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy(col("source"))
    }),

    // M1-M8 — RF price pipeline feature importances (no SQL oracle:
    // tree ensembles have no DuckDB twin; invariants in PricePipelineSpec)
    "q33_ml_importances" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val t = etlmudah.ml.PricePipeline.train(Tables.part(s, dir),
        catCols = Seq("p_brand", "p_type"), numCols = Seq("p_size"),
        labelCol = "p_retailprice")
      etlmudah.ml.PricePipeline.importances(t)
    }),

    // M6 — single-point prediction with the +/-15% band
    // (price_prediction.py:84-88); no SQL oracle (tree ensemble) —
    // band arithmetic + in-range invariants live in PricePipelineSpec
    "q81_ml_predict_one" -> ((s, dir) => {
      val t = etlmudah.ml.PricePipeline.train(Tables.part(s, dir),
        catCols = Seq("p_brand", "p_type"), numCols = Seq("p_size"),
        labelCol = "p_retailprice")
      val point = Tables.part(s, dir)
        .select("p_brand", "p_type", "p_size")
        .orderBy(col("p_size").asc, col("p_brand").asc, col("p_type").asc)
        .limit(1)
      etlmudah.ml.PricePipeline.predictOne(t, point)
    }),

    // vocabulary pruning: corpus-wide token counts, rare tokens -> <unk>,
    // documents reassembled in token order
    "q86_unk_rewrite" -> ((s, dir) =>
      TextStats.unkRewrite(Tables.documents(s, dir), "text", "doc_id",
          minCount = 900L)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),

    // survivor POLICY over q64's clusters: keep the highest-quality
    // member (n_chars, ties -> lowest id) instead of the min-id canonical
    "q82_dedup_survivor_quality" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = Dedup.dupClusters(stagedClusterPairs(s, dir))
      Dedup.dupSurvivorsBy(clusters, docs, "doc_id", "n_chars")
    }),

    // corpus mixing by TOKEN budget, not document count: per-lang 2000
    // tokens in deterministic md5-uniform order, overshoot <= one doc
    "q83_token_budget_sample" -> ((s, dir) => {
      val sized = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        TextStats.tokenCount(col("text")).as("n_tokens"))
      Sampling.tokenBudgetSample(sized, "doc_id", "lang", "n_tokens",
          budget = 2000L)
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tot_tokens"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // asymmetric containment pairs: drop-the-contained-doc dedup —
    // catches the small-doc-quoted-inside-big-doc case Jaccard misses;
    // exact inverted-index tier, both directions reported
    "q140_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), "text", "doc_id",
        minContainment = 0.7)),

    // exact n-gram Jaccard near-dup pairs (the oracle-checkable exact
    // tier of q25: inverted-index candidates, recall 1.0 by construction)
    "q63_jaccard_pairs" -> ((s, dir) =>
      Dedup.exactJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
        minJaccard = 0.8)),

    // duplicate-cluster assignment: connected components over the
    // near-dup pair graph (prefix tier — identical pair set to q63's
    // exact tier); cluster_id = min doc_id (canonical survivor)
    "q64_dedup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(stagedClusterPairs(s, dir))),

    // exact-tier decontamination (oracle-checkable twin of q47): train =
    // even doc ids, reference = odd doc ids, inverted-index exact Jaccard
    "q65_decontamination_exact" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.exactCrossJaccard(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", minJaccard = 0.8)
    }),

    // contamination FRACTION per training doc (GPT-3/PaLM rule): share
    // of each even-id doc's distinct 3-grams found anywhere in the
    // pooled odd-id reference corpus
    "q87_contamination_fraction" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationFraction(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // duplicate-SPAN coverage (the suffix-array-dedup diagnostic):
    // per-source share of tokens inside verbatim 8-token spans shared
    // with another document, pooled ratio + heavily-duplicated count
    "q88_dup_span_coverage" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dupSpanCoverage(docs, "text", "doc_id", k = 8)
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          round(sum(col("n_covered")).cast("double") / sum(col("n_tokens")), 6)
            .as("dup_coverage"),
          count(when(col("n_covered").cast("double") / col("n_tokens") >= 0.5, 1))
            .as("n_half_dup"))
        .orderBy(col("source"))
    }),

    // bloom-prefiltered exact containment decontamination: train docs
    // (even ids) sharing a verbatim 8-gram with the reference corpus
    // (odd ids); result exact, bloom only prunes the probe stream
    "q91_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.bloomContaminatedIds(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "text", "doc_id", shingleN = 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // dedup APPLIED: drop non-canonical cluster members (keep the min
    // doc id per near-dup cluster), report per-source survival — the
    // filter step an actual training-data pipeline ships
    "q66_dedup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val drops = Dedup.dupClusters(stagedClusterPairs(s, dir))
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(1).as("__drop"))
      docs.join(drops, Seq("doc_id"), "left")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count(when(col("__drop").isNull, 1)).as("n_kept"))
        .orderBy(col("source"))
    }),

    // all-subtotals CUBE with grouping indicators (completes the
    // rollup/pivot grouping family; one Expand + one hash aggregate)
    "q75_cube_orders" -> ((s, dir) =>
      Analytics.cubeCounts(Tables.orders(s, dir), "o_orderpriority",
        "o_orderstatus", col("o_totalprice"))),

    // temperature-based mixture resampling (alpha=0.5): the multilingual
    // corpus-balancing rule; deterministic md5-uniform keeps, census
    // broadcast back — the big side never shuffles
    "q76_temperature_mix" -> ((s, dir) =>
      etlmudah.scale.Sampling.temperatureSample(Tables.documents(s, dir),
          "doc_id", "lang", alpha = 0.5, targetTotal = 300, salt = "temp")
        .groupBy(col("lang")).agg(
          count(lit(1)).as("n_kept"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))),

    // distributed Lloyd refinement of the IVF quantizer: per-list size
    // + cohesion after full-corpus rounds (no SQL oracle — iterative,
    // seed-initialized; invariants in SimilaritySpec)
    "q94_kmeans_refine" -> ((s, dir) =>
      Similarity.kmeansRefine(Tables.embeddings(s, dir), "vec_id",
          "embedding", nlist = 8, rounds = 2)
        .select(col("cid"), col("n_members"), col("cohesion"))),

    // int8 embedding quantization fidelity by label (the 4x-memory ANN
    // sizing study; explode + window + one aggregate, no HOFs)
    "q77_embedding_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8Report(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label")),

    // lexical diversity (pooled type-token ratio) per source — the
    // across-doc vocabulary view complementing q58's within-doc one
    "q78_ttr_by_source" -> ((s, dir) =>
      TextStats.ttrBySlice(Tables.documents(s, dir), "text", "doc_id",
        "source")),

    // SCD2 dimension history: change-collapsed validity intervals from
    // the event log (the warehouse slowly-changing-dimension load)
    "q74_scd2_history" -> ((s, dir) =>
      Upsert.scd2History(
        Tables.eventsTyped(s, dir).filter(col("user_id") < 5),
        "user_id", "ts", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"),
          col("is_current"))
        .orderBy(col("user_id"), col("from_us"))),

    // price deciles via ntile over a fully tie-broken global sort; at
    // 100 TB the same table comes from percentile boundaries + bucketing
    // (no global window) — this is the exact tier
    "q73_price_deciles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_totalprice"), ntile(10).over(w).cast("long").as("decile"))
        .groupBy(col("decile")).agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          round(avg(col("o_totalprice")), 2).as("avg_price"))
        .orderBy(col("decile"))
    }),

    // the SCALE tier of q73: exact-percentile boundaries + range
    // bucketing — no global window, no single-partition sort; counts are
    // near-equal (half-open buckets) instead of ntile's exactly-equal
    "q79_price_deciles_scale" -> ((s, dir) =>
      Analytics.quantileBuckets(Tables.orders(s, dir), col("o_totalprice"), 10)),

    // PII redaction applied (the scrub step q59 diagnoses): per-source
    // docs-touched and characters removed
    "q72_pii_redact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("text"),
          TextStats.piiRedact(col("text")).as("red"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          count(when(col("red") =!= col("text"), 1)).as("n_redacted"),
          sum((length(col("text")) - length(col("red"))).cast("long")).as("chars_removed"))
        .orderBy(col("source"))),

    // skew-resistant salted join — same result as the plain equi-join
    // (which is exactly what the oracle runs), hot keys spread over 8
    // salts
    "q70_salted_join" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      Joins.saltedJoin(orders, cust, "o_custkey", 8)
        .groupBy(col("c_nationkey")).agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("c_nationkey"))
    }),

    // bucketed co-located join: both sides pre-bucketed on the join key,
    // so the SMJ runs with NO runtime exchange (pinned in BucketingSpec);
    // values must still round-trip exactly vs the source tables
    "q71_bucketed_join" -> ((s, dir) => {
      val tag = dir.replaceAll("[^0-9a-zA-Z]", "_")
      etlmudah.sinks.Writers.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        s"orders_b71_$tag", 8, Seq("o_orderkey"))
      etlmudah.sinks.Writers.writeBucketed(
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice"),
        s"lineitem_b71_$tag", 8, Seq("l_orderkey"))
      s.table(s"lineitem_b71_$tag")
        .join(s.table(s"orders_b71_$tag"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // per-label embedding centroids (class centroids, explode-form)
    "q69_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")),

    // AS-OF join — last-touch attribution: each purchase matched to the
    // user's most recent prior click (union + sorted-window form, one
    // shuffle of |left|+|right|; never a range join or per-row subquery)
    "q68_asof_attribution" -> ((s, dir) => {
      val ev = Tables.eventsTyped(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("event_id").as("cid"), col("ts").as("cts"))
      Joins.asofJoin(purchases, clicks, "user_id", "ts",
          Seq("cid" -> "click_id", "cts" -> "click_ts"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
        .orderBy(col("event_id"))
    }),

    // windowed attribution CANDIDATES — the batch twin of the
    // stream-stream interval join (Streaming.clickAttribution): clicks
    // within 1h before the same user's purchase; equi-join on user +
    // time-band post-filter, never a range/cross join
    "q84_attribution_window" -> ((s, dir) => {
      val ev = Tables.eventsTyped(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"))
      p.join(c, Seq("user_id"))
        .filter(col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 hour"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          unix_micros(col("p_ts")).as("p_us"), unix_micros(col("c_ts")).as("c_us"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // W+ — running/cumulative windows over monthly order volume:
    // cumulative count, month-over-month delta (lag), 3-month moving
    // average (bounded frame)
    "q67_monthly_momentum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val monthly = Tables.orders(s, dir)
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("long").as("yyyymm"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      val w = Window.orderBy(col("yyyymm"))
      monthly.select(col("yyyymm"), col("n"), col("total"),
          sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cum_n"),
          (col("n") - lag(col("n"), 1).over(w)).as("delta_n"),
          round(avg(col("n")).over(w.rowsBetween(-2, 0)), 4).as("ma3"))
        .orderBy(col("yyyymm"))
    }),
  )

  /** q257/q258's literal query: doc 0's distinct whitespace tokens —
    * ONE bounded driver read (a single row), the q27 query-vector
    * discipline carried to the lexical tier. The split mirrors
    * [[etlmudah.text.TextStats.tokens]] exactly. */
  private[graft] def doc0Terms(s: SparkSession, dir: String): Seq[String] =
    Tables.documents(s, dir).where(col("doc_id") === 0L)
      .select(col("text")).head().getString(0)
      .trim.split("\\s+").toSeq.distinct

  /** Marker lists for the langid heuristic; first lang wins ties. */
  private[graft] val langMarkers = Seq(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "des"),
    "zh" -> Seq("的"))

  /** q26's oracle, generated: 60 per-bit vote sums over md5-prefix token
    * hashes, packed to a BIGINT, 4x15-bit chunk banding, hamming refine —
    * the exact computation `Dedup.simhashNearDups(portable = true)` runs. */
  private[graft] val simhashOracleSql: String = {
    val votes = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(", ")
    val pack = (0 until 60).map(b =>
      s"CASE WHEN v$b > 0 THEN ${1L << (59 - b)} ELSE 0 END").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS UBIGINT) AS h
       |  FROM tok),
       |votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |sh AS (SELECT doc_id, CAST($pack AS BIGINT) AS sh60 FROM votes),
       |chunks AS (
       |  SELECT doc_id, sh60, i, (sh60 >> (15 * i)) & 32767 AS cval
       |  FROM sh CROSS JOIN range(4) r(i)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    bit_count(xor(a.sh60, b.sh60)) AS hamming
       |  FROM chunks a JOIN chunks b
       |    ON a.i = b.i AND a.cval = b.cval AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
       |FROM cand WHERE hamming <= 6
       |ORDER BY hamming, id_a, id_b""".stripMargin
  }

  def oracleSql: Map[String, String] = baseOracleSql ++ RoundsA.oracleSql ++ RoundsB.oracleSql ++ Round11.oracleSql ++ Round12.oracleSql ++ Round13.oracleSql

  private[graft] lazy val baseOracleSql: Map[String, String] = Map(
    "q26_simhash_near_dups" -> simhashOracleSql,
    "q130_minhash_portable" -> minhashPortableSql(8, 4, 0.7),
    "q152_near_dup_pairs_portable" -> minhashPortableSql(128, 32, 0.8),
    "q157_decontamination_portable" -> minhashPortableCrossSql(128, 32, 0.8),

    // portable IVF assignment: centroids = 8 smallest md5(vec_id),
    // assignment = argmax 6dp cosine, min-cid tie-break — mirrors
    // Similarity.ivfAssignPortable verbatim
    // dup-span strip: string grams stand in for the engine's rolling
    // hashes (same equality); the oracle's per-gram window replays the
    // engine's map-side-combined (count, min(doc, pos)) aggregate
    "q160_dup_span_strip" ->
      """WITH tokarr AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, t.i - 1 AS pos,
        |    array_to_string(arr[t.i:t.i+7], ' ') AS g
        |  FROM tokarr, unnest(generate_series(1, len(arr) - 7)) AS t(i)),
        |ranked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt
        |  FROM grams),
        |dropstart AS (
        |  SELECT doc_id, pos FROM ranked WHERE cnt >= 2 AND rn >= 2),
        |droppos AS (
        |  SELECT DISTINCT doc_id, pos + u.j AS p
        |  FROM dropstart, unnest(generate_series(0, 7)) AS u(j)),
        |tok AS (
        |  SELECT doc_id, unnest(arr) AS t,
        |    generate_subscripts(arr, 1) - 1 AS pos
        |  FROM tokarr),
        |kept AS (
        |  SELECT tok.doc_id, tok.pos, tok.t
        |  FROM tok LEFT JOIN droppos d
        |    ON d.doc_id = tok.doc_id AND d.p = tok.pos
        |  WHERE d.doc_id IS NULL),
        |agg AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS text_clean,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |n AS (SELECT doc_id, len(arr)::BIGINT AS n_tokens FROM tokarr)
        |SELECT n.doc_id, coalesce(a.text_clean, '') AS text_clean,
        |  n.n_tokens, n.n_tokens - coalesce(a.n_kept, 0) AS n_removed
        |FROM n LEFT JOIN agg a ON a.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // sequence packing: window cumsum replays the distributed prefix
    // sum; span arithmetic is exact integer math on both engines
    "q159_sequence_packing" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tok,
        |    coalesce(sum(tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0)::BIGINT AS strt
        |  FROM n),
        |s AS (SELECT doc_id, tok, strt, strt + tok AS fin
        |      FROM c WHERE tok > 0),
        |p AS (
        |  SELECT doc_id, strt, fin,
        |    unnest(generate_series(strt // 2048, (fin - 1) // 2048))
        |      AS pack_id
        |  FROM s)
        |SELECT doc_id, pack_id,
        |  greatest(strt, pack_id * 2048) - strt AS doc_offset,
        |  least(fin, (pack_id + 1) * 2048)
        |    - greatest(strt, pack_id * 2048) AS n_tokens
        |FROM p ORDER BY doc_id, pack_id""".stripMargin,

    "q158_ivf_assign_portable" ->
      s"""WITH ${ivfScoredCtes},
         |ranked AS (
         |  SELECT vec_id, cid, cs,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cs DESC, cid ASC) AS rn
         |  FROM scored)
         |SELECT vec_id, cid AS centroid_id, cs AS cos_sim
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // Cross-corpus exact Jaccard (decontamination, oracle tier): same
    // shingle CTEs as q63, split even/odd, two-sided inverted-index join.
    "q65_decontamination_exact" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT t.doc_id AS train_id, r.doc_id AS ref_id, count(*) AS i
         |  FROM sh t JOIN sh r ON t.g = r.g
         |  WHERE t.doc_id % 2 = 0 AND r.doc_id % 2 = 1
         |  GROUP BY 1, 2)
         |SELECT train_id, ref_id,
         | round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = train_id
         |           JOIN sizes sb ON sb.doc_id = ref_id
         |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
         |ORDER BY train_id, ref_id""".stripMargin,

    // string grams stand in for the engine's rolling hashes (same
    // equality); the interval-union lag trick is shared verbatim
    "q88_dup_span_coverage" ->
      """WITH tokarr AS (
        |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, t.i AS pos, array_to_string(arr[t.i:t.i+7], ' ') AS g
        |  FROM tokarr, unnest(generate_series(1, len(arr) - 7)) AS t(i)),
        |dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |ds AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
        |contrib AS (SELECT doc_id,
        |  least(8, pos - coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |                          pos - 8)) AS c
        |  FROM ds),
        |cov AS (SELECT doc_id, sum(c) AS n_covered FROM contrib GROUP BY doc_id),
        |n AS (SELECT doc_id, source,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents)
        |SELECT source, count(*) AS n_docs,
        | round(sum(coalesce(n_covered, 0))::DOUBLE / sum(n_tokens), 6)
        |   AS dup_coverage,
        | sum(CASE WHEN coalesce(n_covered, 0)::DOUBLE / n_tokens >= 0.5
        |          THEN 1 ELSE 0 END)::BIGINT AS n_half_dup
        |FROM n LEFT JOIN cov USING (doc_id)
        |GROUP BY source ORDER BY source""".stripMargin,

    // the bloom is invisible to the oracle — it only prunes; the exact
    // semantics are "shares any verbatim 8-gram with the odd-id corpus"
    "q91_bloom_decontaminate" ->
      """WITH tokarr AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(arr[t.i:t.i+7], ' ') AS g
        |  FROM tokarr, unnest(generate_series(1, len(arr) - 7)) AS t(i)),
        |refg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 1)
        |SELECT DISTINCT doc_id FROM grams JOIN refg USING (g)
        |WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,

    // same gram construction as q65; reference side pooled to one
    // distinct gram set, then a gram-keyed left join per train doc
    "q87_contamination_fraction" ->
      s"""WITH $shingleCtes,
         |refset AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 1)
         |SELECT t.doc_id, count(*) AS n_grams,
         | sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |   AS n_contaminated,
         | round(sum(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |   / count(*), 6) AS contam_frac
         |FROM sh t LEFT JOIN refset r ON t.g = r.g
         |WHERE t.doc_id % 2 = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q01_headline_orders" ->
      """SELECT count(*) AS n, round(avg(o_totalprice),2) AS avg_value,
        | quantile_cont(o_totalprice,0.5) AS median_value,
        | round(min(o_totalprice),2) AS min_value,
        | round(max(o_totalprice),2) AS max_value FROM orders""".stripMargin,

    "q02_stats_by_nation" ->
      """SELECT n_name, count(*) AS n,
        | round(avg(l_extendedprice),2) AS avg_value,
        | quantile_cont(l_extendedprice,0.5) AS median_value,
        | round(stddev_samp(l_extendedprice),2) AS stddev_value,
        | round(avg(l_quantity),2) AS avg_qty
        | FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q03_top_parts" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        | GROUP BY l_partkey ORDER BY cnt DESC, l_partkey ASC LIMIT 10""".stripMargin,

    "q04_freq_priority" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        | GROUP BY o_orderpriority ORDER BY cnt DESC, o_orderpriority ASC""".stripMargin,

    "q05_segment_freq" ->
      """SELECT CASE
        |  WHEN o_totalprice < 50000 THEN 'Budget (< 50k)'
        |  WHEN o_totalprice < 100000 THEN 'Economy (50k - 100k)'
        |  WHEN o_totalprice < 200000 THEN 'Mid-Range (100k - 200k)'
        |  WHEN o_totalprice < 400000 THEN 'Premium (200k - 400k)'
        |  ELSE 'Luxury (> 400k)' END AS segment, count(*) AS cnt
        | FROM orders GROUP BY segment ORDER BY cnt DESC, segment ASC""".stripMargin,

    "q06_share_by_region" ->
      """SELECT r_name, count(*) AS cnt,
        | round(count(*) * 100.0 / sum(count(*)) OVER (), 4) AS share_pct
        | FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q07_histogram_totalprice" ->
      """SELECT CAST(floor(o_totalprice/20000.0) AS BIGINT) AS bin,
        | count(*) AS cnt,
        | round(min(o_totalprice),2) AS bin_min,
        | round(max(o_totalprice),2) AS bin_max,
        | round(CAST(floor(o_totalprice/20000.0) AS BIGINT) * 20000.0, 2) AS bin_lo
        | FROM orders GROUP BY bin ORDER BY bin""".stripMargin,

    "q08_quartiles_by_status" ->
      """SELECT o_orderstatus,
        | quantile_cont(o_totalprice,0.25) AS q1,
        | quantile_cont(o_totalprice,0.5) AS q2,
        | quantile_cont(o_totalprice,0.75) AS q3
        | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q09_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | epoch_us(o_orderdate) AS o_date_us
        | FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        | WHERE rn = 1 ORDER BY o_custkey""".stripMargin,

    "q10_distinct_priorities" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY o_orderpriority",

    "q11_events_flatten_clean" ->
      """SELECT event_id, event_type,
        | TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        | CASE WHEN value IS NULL THEN NULL ELSE least(value, 100.0) END AS value_clip
        | FROM events
        | WHERE regexp_matches(event_type, '^[a-z]+$')
        |   AND TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) IS NOT NULL
        | ORDER BY event_id""".stripMargin,

    "q12_corr_lineitem" ->
      """SELECT round(corr(l_quantity, l_extendedprice),4) AS corr_qty_price,
        | round(corr(l_extendedprice, l_discount),4) AS corr_price_disc
        | FROM lineitem""".stripMargin,

    "q13_cv_by_priority" ->
      """SELECT o_orderpriority, count(*) AS n,
        | round(avg(o_totalprice),2) AS avg_value,
        | round(stddev_samp(o_totalprice)/avg(o_totalprice)*100, 2) AS cv_pct
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q14_top_region" ->
      """SELECT r_name, count(*) AS cnt
        | FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name ORDER BY cnt DESC, r_name ASC LIMIT 1""".stripMargin,

    "q15_proportions" ->
      """SELECT round(avg(CASE WHEN o_totalprice < 100000 THEN 1.0 ELSE 0.0 END),6)
        |   AS pct_low,
        | round(avg(CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END),6)
        |   AS pct_urgent
        | FROM orders""".stripMargin,

    "q16_upsert_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderpriority, epoch_us(o_orderdate) AS o_date_us
        | FROM orders ORDER BY o_orderkey""".stripMargin,

    "q96_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT sum(cnt)::BIGINT AS tot, count(*) AS nkeys FROM c)
        |SELECT user_id, cnt, round(cnt * 100.0 / tot, 6) AS share_pct,
        | round(cnt::DOUBLE * nkeys / tot, 6) AS x_avg
        |FROM c, t ORDER BY cnt DESC, user_id ASC LIMIT 10""".stripMargin,

    "q97_fk_coverage" ->
      """SELECT count(*) AS n_rows,
        | sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |   AS n_null_fk,
        | sum(CASE WHEN l_partkey IS NOT NULL AND p.p_partkey IS NULL
        |          THEN 1 ELSE 0 END)::BIGINT AS n_orphans,
        | round(count(p.p_partkey)::DOUBLE / count(*), 6) AS coverage
        |FROM lineitem l LEFT JOIN
        | (SELECT DISTINCT p_partkey FROM part WHERE p_partkey % 7 <> 0) p
        | ON l.l_partkey = p.p_partkey""".stripMargin,

    // the diff is synthesized deterministically from orders, so the
    // change classes are closed-form over the key
    "q95_snapshot_diff" ->
      """SELECT change, count(*) AS n_keys, sum(o_orderkey)::BIGINT AS key_sum
        |FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'deleted'
        |         WHEN o_orderkey % 10 = 0 THEN 'updated'
        |         ELSE 'unchanged' END AS change
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'inserted'
        |  FROM orders WHERE o_orderkey % 10 = 7)
        |GROUP BY change ORDER BY change""".stripMargin,

    // the diff of q146's fixed synthetic evolution is a constant —
    // the oracle pins the exact expected table
    "q146_schema_evolution" ->
      """SELECT * FROM (VALUES
        |  ('o_custkey', 'unchanged', 'bigint', 'bigint'),
        |  ('o_etl_ts', 'added', NULL, 'bigint'),
        |  ('o_orderdate', 'unchanged', 'timestamp_ntz', 'timestamp_ntz'),
        |  ('o_orderkey', 'unchanged', 'bigint', 'bigint'),
        |  ('o_orderpriority', 'removed', 'string', NULL),
        |  ('o_orderstatus', 'unchanged', 'string', 'string'),
        |  ('o_totalprice', 'retyped', 'double', 'decimal(12,2)'))
        |  AS t(col_name, status, base_type, next_type)
        |ORDER BY col_name""".stripMargin,

    "q150_market_share" ->
      """SELECT year(o_orderdate)::INT AS o_year,
        | CAST(round(sum(CASE WHEN sn.n_name = 'NATION_7'
        |   THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS subject_rev,
        | CAST(round(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE)
        |   AS total_rev,
        | round(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
        |   THEN CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,4))
        |   ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        |   / CAST(sum(CAST(l_extendedprice * (1.0::DOUBLE - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6)
        |   AS mkt_share
        |FROM customer
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        | JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q143_local_supplier_volume" ->
      """SELECT r_name, n_name, count(*) AS n_items,
        | CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |   AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, revenue DESC, n_name""".stripMargin,

    // same synthetic next-snapshot as q95; shares normalize over the
    // bin frame; every arithmetic term DOUBLE for IEEE parity
    "q142_drift_psi" ->
      """WITH nxt AS (
        |  SELECT CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |              ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 != 3
        |  UNION ALL
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 10 = 7),
        |u AS (
        |  SELECT floor(o_totalprice / 25000::DOUBLE)::BIGINT AS bin,
        |    1::BIGINT AS b, 0::BIGINT AS n FROM orders
        |  UNION ALL
        |  SELECT floor(v / 25000::DOUBLE)::BIGINT, 0, 1 FROM nxt),
        |c AS (SELECT bin, sum(b)::BIGINT AS n_base, sum(n)::BIGINT AS n_next
        |  FROM u GROUP BY bin),
        |p AS (SELECT bin, n_base, n_next,
        |  greatest(n_base::DOUBLE / (sum(n_base) OVER ())::DOUBLE,
        |    1e-6::DOUBLE) AS pb,
        |  greatest(n_next::DOUBLE / (sum(n_next) OVER ())::DOUBLE,
        |    1e-6::DOUBLE) AS pn
        |  FROM c)
        |SELECT bin, n_base, n_next, round(pb, 6) AS p_base,
        |  round(pn, 6) AS p_next,
        |  round((pn - pb) * ln(pn / pb), 6) AS psi_term
        |FROM p ORDER BY bin""".stripMargin,

    // matched keys: price+1000 and batch_ts refresh, priority PRESERVED
    // from base (the batch's X-REINGEST never appears); %10=3 keys insert
    "q80_partial_upsert" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
        |      ELSE o_totalprice END AS o_totalprice,
        | o_orderpriority,
        | (CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END)::BIGINT AS batch_ts
        | FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_custkey, o_totalprice,
        | 'X-NEWROW', 2::BIGINT
        | FROM orders WHERE o_orderkey % 10 = 3
        |ORDER BY o_orderkey""".stripMargin,

    "q17_top3_per_priority" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn
        | FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |   row_number() OVER (PARTITION BY o_orderpriority
        |     ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders)
        | WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,

    "q18_promo_parts" ->
      """SELECT p_partkey,
        | concat(upper(substr(lower(p_type),1,1)), substr(lower(p_type),2)) AS type_label,
        | p_retailprice
        | FROM part WHERE contains(lower(p_type), 'promo')
        | ORDER BY p_partkey""".stripMargin,

    "q19_doc_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        | round(avg(n_chars),2) AS avg_chars,
        | round(avg(len(string_split(text, ' '))),2) AS avg_tokens,
        | max(len(string_split(text, ' '))) AS max_tokens,
        | round(avg(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))),2) AS avg_bpe_tokens
        | FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q20_events_hourly" ->
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
        | count(*) AS cnt, round(sum(value),2) AS sum_value
        | FROM events GROUP BY hour_us, event_type
        | ORDER BY hour_us, event_type""".stripMargin,

    "q21_doc_quality_by_source" ->
      s"""WITH ${qualityProfileCtes("source")}
         |SELECT source, count(*) AS n_docs,
         | round(avg(n_tokens), 4) AS avg_tokens,
         | round(avg(round(
         |   least(n_tokens / 50.0, 1.0) * 0.4
         |   + least(sr * 5.0, 1.0) * 0.4
         |   + greatest(0.0, 1.0 - pr * 5.0) * 0.2, 6)), 4) AS avg_quality,
         | round(avg(sr), 4) AS avg_stop_ratio
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q22_langid_agreement" ->
      """WITH t AS (SELECT lang,
        |  list_transform(string_split_regex(trim(text), '\s+'), x -> lower(x)) AS toks
        |  FROM documents),
        |s AS (SELECT lang,
        |  len(list_filter(toks, x -> x IN ('the','a','of')))::BIGINT AS s_en,
        |  len(list_filter(toks, x -> x IN ('der','die','und')))::BIGINT AS s_de,
        |  len(list_filter(toks, x -> x IN ('el','la','los')))::BIGINT AS s_es,
        |  len(list_filter(toks, x -> x IN ('le','les','des')))::BIGINT AS s_fr,
        |  len(list_filter(toks, x -> x IN ('的')))::BIGINT AS s_zh
        |  FROM t)
        |SELECT lang,
        | CASE WHEN s_zh > greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
        |      WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
        |      WHEN s_es > greatest(s_en, s_de) THEN 'es'
        |      WHEN s_de > s_en THEN 'de'
        |      ELSE 'en' END AS pred,
        | count(*) AS cnt
        |FROM s GROUP BY lang, pred ORDER BY lang, pred""".stripMargin,

    "q23_fingerprint_collisions" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | count(*) AS cnt, min(doc_id) AS first_doc
        | FROM documents GROUP BY fp
        | ORDER BY cnt DESC, fp ASC LIMIT 20""".stripMargin,

    "q24_exact_dedup_docs" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        | GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        | ORDER BY doc_id""".stripMargin,

    // same synthesized batch; status logic replicated with the q24
    // fingerprint and a min-id window within the batch
    "q101_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |batch AS (
        |  SELECT doc_id + 10000 AS id, text, source
        |    FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 20000, text || ' novel suffix', source
        |    FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL SELECT doc_id + 30000, text || ' batch twin', source
        |    FROM documents WHERE doc_id % 5 = 2
        |  UNION ALL SELECT doc_id + 40000, text || ' batch twin', source
        |    FROM documents WHERE doc_id % 5 = 2),
        |b AS (SELECT id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM batch),
        |lab AS (SELECT id, source,
        |    CASE WHEN fp IN (SELECT fp FROM corpus) THEN 'dup_corpus'
        |         WHEN row_number() OVER (PARTITION BY fp ORDER BY id) > 1
        |           THEN 'dup_batch'
        |         ELSE 'new' END AS status
        |  FROM b)
        |SELECT source, status, count(*)::BIGINT AS n_docs
        |FROM lab GROUP BY source, status ORDER BY source, status""".stripMargin,

    "q27_cosine_topk" ->
      """SELECT vec_id,
        | round(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos_sim
        | FROM embeddings, (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        |   WHERE vec_id = 0) q
        | WHERE vec_id <> 0
        | ORDER BY cos_sim DESC, vec_id ASC LIMIT 10""".stripMargin,

    // round BEFORE the threshold, like the Spark side, so both engines
    // filter on identical 6dp values
    "q136_embedding_pairs_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[],
        |   b.embedding::DOUBLE[]), 6) AS cos_sim
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE a.vec_id < 100
        |  AND round(list_cosine_similarity(a.embedding::DOUBLE[],
        |    b.embedding::DOUBLE[]), 6) >= 0.3
        | ORDER BY id_a, id_b""".stripMargin,

    "q30_band_join_parts" ->
      """SELECT a.p_brand AS brand, count(*) AS n_pairs
        | FROM part a JOIN part b ON a.p_brand = b.p_brand
        |  AND a.p_partkey < b.p_partkey
        |  AND abs(a.p_size - b.p_size) <= 2
        | GROUP BY a.p_brand ORDER BY brand""".stripMargin,

    "q31_depreciation" ->
      """WITH a AS (SELECT 2026 - year(o_orderdate) AS age, o_totalprice
        |  FROM orders)
        |, g AS (SELECT
        |  round(avg(CASE WHEN age = 29 THEN o_totalprice END), 2) AS avg_age29,
        |  round(avg(CASE WHEN age = 30 THEN o_totalprice END), 2) AS avg_age30,
        |  round(avg(CASE WHEN age = 31 THEN o_totalprice END), 2) AS avg_age31
        |  FROM a)
        |SELECT avg_age29, avg_age30, avg_age31,
        | round((avg_age29 - avg_age31) / avg_age29 * 100, 4) AS drop_29_to_31_pct
        |FROM g""".stripMargin,

    "q32_filter_pipeline" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        | WHERE o_totalprice BETWEEN 50000 AND 300000
        |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  AND o_orderstatus = 'F'
        | ORDER BY o_orderkey""".stripMargin,

    "q34_paged_ingest" ->
      """WITH s AS (SELECT CAST(i // 1000 AS INTEGER) AS region_id,
        |   (i // 1000) * 1000000 + (i % 1000) AS id
        |  FROM generate_series(0, 4999) t(i)),
        |r AS (SELECT region_id, id,
        |   ((id * 9973) % 1000000) / 100.0 AS price,
        |   (id * 31) % 200000 AS mileage_min,
        |   (id * 31) % 200000 + id % 50000 AS mileage_max
        |  FROM s)
        |SELECT region_id, count(*) AS n,
        | round(avg(price), 2) AS avg_price,
        | min(mileage_min) AS min_mileage,
        | max(mileage_max) AS max_mileage
        |FROM r WHERE price > 0
        |GROUP BY region_id ORDER BY region_id""".stripMargin,

    "q35_kde_totalprice" ->
      """WITH g AS (SELECT i * 50000.0 AS grid_point
        |  FROM generate_series(0, 10) t(i))
        |SELECT grid_point,
        | round(avg(exp(-0.5 * pow((grid_point - o_totalprice) / 50000.0, 2)))
        |   * (1.0 / sqrt(2 * pi())) / 50000.0 * 1e6, 4) AS density_ppm
        |FROM g CROSS JOIN orders
        |GROUP BY grid_point ORDER BY grid_point""".stripMargin,

    "q36_anchor_labels" ->
      """SELECT p_partkey,
        | concat('<a href="', 'https://example.com/part/',
        |   CAST(p_partkey AS VARCHAR), '">', p_name, '</a>') AS anchor
        | FROM part WHERE p_partkey <= 50
        | ORDER BY p_partkey""".stripMargin,

    "q37_standardize_age_stats" ->
      """SELECT CASE WHEN o_orderstatus = 'F' THEN 'FINAL'
        |  WHEN o_orderstatus = 'O' THEN 'OPEN'
        |  ELSE o_orderstatus END AS status_std,
        | 2026 - year(o_orderdate) AS age,
        | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        | FROM orders GROUP BY status_std, age
        | ORDER BY status_std, age""".stripMargin,

    "q39_events_sliding" ->
      """SELECT epoch_us(date_trunc('hour', ts) - (off * INTERVAL 1 HOUR)) AS win_us,
        | event_type, count(*) AS cnt
        | FROM events CROSS JOIN (VALUES (0), (1)) o(off)
        | GROUP BY win_us, event_type
        | ORDER BY win_us, event_type""".stripMargin,

    "q43_cardinalities" ->
      """SELECT count(*) AS n_rows,
        | count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        | FROM lineitem""".stripMargin,

    "q42_user_sessions" ->
      """WITH marked AS (SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |    IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |    >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (SELECT user_id,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM marked),
        |per_session AS (SELECT user_id, session_id, count(*) AS n
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, count(*) AS n_sessions,
        | max(n) AS max_session_events
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q40_rollup_orders" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        | FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        | ORDER BY o_orderpriority ASC NULLS FIRST,
        |   o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q41_pivot_status" ->
      """SELECT o_orderpriority,
        | round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F,
        | round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O,
        | round(avg(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P
        | FROM orders GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin,

    // sink round-trips: the oracle reads the ORIGINAL table — a lossy
    // encode/partition/stage step would show up as a value mismatch
    // boilerplate strip: same trigram CTEs as q63; covered positions
    // via generate_series over each hot-gram start; order-preserving
    // reassembly through string_agg ORDER BY pos
    "q154_boilerplate_strip" ->
      s"""WITH $tokPosCtes,
         |grams AS (
         |  SELECT a.doc_id, a.pos, a.t || ' ' || b.t || ' ' || c.t AS g
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
         |dfreq AS (
         |  SELECT g, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g),
         |drops AS (SELECT g FROM dfreq WHERE df >= 5),
         |cov AS (
         |  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 2)) AS pos
         |  FROM grams JOIN drops USING (g)),
         |kept AS (
         |  SELECT k.doc_id, k.pos, k.t
         |  FROM tok k LEFT JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.pos
         |  WHERE c.pos IS NULL),
         |agg AS (
         |  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS text_clean,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.text_clean, '') AS text_clean,
         | len(string_split_regex(trim(d.text), '\\s+'))::BIGINT AS n_tokens,
         | (len(string_split_regex(trim(d.text), '\\s+'))
         |   - coalesce(a.n_kept, 0))::BIGINT AS n_removed
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    // media metadata round trip: the oracle computes the dimensions the
    // Spark side ENCODED into real PNG/GIF/JPEG headers and then parsed
    // back with byte arithmetic — equality proves the parse is exact
    "q155_media_meta_roundtrip" ->
      """SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    ELSE 'jpeg' END AS format,
        |  (doc_id % 512 + 16)::BIGINT AS width,
        |  ((doc_id * 7) % 512 + 16)::BIGINT AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // portable hyperplane LSH: the weight lattice, quantized projection
    // sums, band buckets, and candidate pairs re-derive from md5 +
    // integer arithmetic; the refine is the q136 portable cosine. Every
    // intermediate is integer-exact, so the candidate set (and thus the
    // row set) matches Spark's bit-for-bit
    "q156_lsh_pairs_portable" ->
      """WITH xq AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(floor(unnest(embedding)::DOUBLE * 1000000) AS BIGINT) AS xq
        |  FROM embeddings),
        |wt AS (
        |  SELECT t.t, j.j, d.d,
        |    CAST(CAST(('0x' || substr(md5(t.t || ':' || j.j || ':' || d.d),
        |      1, 8)) AS UBIGINT) AS BIGINT) % 2001 - 1000 AS w
        |  FROM range(0, 4) t(t), range(0, 8) j(j), range(1, 65) d(d)),
        |proj AS (
        |  SELECT x.vec_id, w.t, w.j, sum(w.w * x.xq) AS p
        |  FROM xq x JOIN wt w ON x.dim = w.d
        |  GROUP BY 1, 2, 3),
        |bkt AS (
        |  SELECT vec_id, t,
        |    sum(CASE WHEN p > 0 THEN 1::BIGINT << j ELSE 0::BIGINT END) AS bkt
        |  FROM proj GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt a JOIN bkt b ON a.t = b.t AND a.bkt = b.bkt
        |   AND a.vec_id < b.vec_id)
        |SELECT c.id_a, c.id_b,
        |  round(list_cosine_similarity(ea.embedding::DOUBLE[],
        |    eb.embedding::DOUBLE[]), 6) AS cos_sim
        |FROM cand c
        |JOIN embeddings ea ON ea.vec_id = c.id_a
        |JOIN embeddings eb ON eb.vec_id = c.id_b
        |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
        |  eb.embedding::DOUBLE[]), 6) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    "q153_jdbc_roundtrip" ->
      copyRoundtripSql,

    "q44_tsv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        | FROM orders GROUP BY o_orderpriority
        | ORDER BY o_orderpriority""".stripMargin,

    "q85_range_sorted_roundtrip" ->
      """SELECT count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        | FROM orders WHERE o_totalprice < 100000""".stripMargin,

    "q45_partitioned_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        | FROM orders WHERE o_orderstatus = 'F'
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q46_staged_cached" ->
      """SELECT c_nationkey, count(*) AS n,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        | FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q48_quality_filter" ->
      s"""WITH ${qualityProfileCtes("doc_id")}
         |SELECT CASE WHEN n_tokens < 30 THEN 'too_short'
         |  WHEN n_tokens > 100000 THEN 'too_long'
         |  WHEN sr < 0.03 THEN 'low_stopwords'
         |  WHEN pr > 0.05 THEN 'high_punct'
         |  ELSE 'keep' END AS verdict,
         | count(*) AS n_docs,
         | round(avg(n_tokens), 4) AS avg_tokens
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q93_profile_orders" ->
      """SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
        | count(*) - count(o_custkey) AS n_null,
        | count(DISTINCT o_custkey) AS n_distinct,
        | min(o_custkey)::DOUBLE AS min_num, max(o_custkey)::DOUBLE AS max_num,
        | NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM orders
        |UNION ALL
        |SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        | count(DISTINCT o_orderdate), NULL::DOUBLE, NULL::DOUBLE,
        | strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        | strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
        |UNION ALL
        |SELECT 'o_orderkey', count(*), count(*) - count(o_orderkey),
        | count(DISTINCT o_orderkey),
        | min(o_orderkey)::DOUBLE, max(o_orderkey)::DOUBLE,
        | NULL::VARCHAR, NULL::VARCHAR FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
        | count(DISTINCT o_orderpriority), NULL::DOUBLE, NULL::DOUBLE,
        | min(o_orderpriority), max(o_orderpriority) FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        | count(DISTINCT o_orderstatus), NULL::DOUBLE, NULL::DOUBLE,
        | min(o_orderstatus), max(o_orderstatus) FROM orders
        |UNION ALL
        |SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        | count(DISTINCT o_totalprice),
        | min(o_totalprice)::DOUBLE, max(o_totalprice)::DOUBLE,
        | NULL::VARCHAR, NULL::VARCHAR FROM orders
        |ORDER BY col_name""".stripMargin,

    // q48's profile expressions verbatim; the funnel is cumulative
    // conditional counts in rule order
    "q92_filter_funnel" ->
      s"""WITH ${qualityProfileCtes("doc_id, source")}
         |SELECT source, count(*) AS n_docs,
         | sum(CASE WHEN n_tokens >= 30 THEN 1 ELSE 0 END)::BIGINT
         |   AS after_min_len,
         | sum(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000
         |          THEN 1 ELSE 0 END)::BIGINT AS after_max_len,
         | sum(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000 AND sr >= 0.03
         |          THEN 1 ELSE 0 END)::BIGINT AS after_stopwords,
         | sum(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000 AND sr >= 0.03
         |          AND pr <= 0.05 THEN 1 ELSE 0 END)::BIGINT AS after_punct
         |FROM m GROUP BY source ORDER BY source""".stripMargin,

    // power-of-two buckets via binary digit count — exact integer
    // arithmetic, no floor(log2) float edges
    "q102_length_histogram" ->
      """WITH t AS (SELECT source,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n
        |  FROM documents),
        |h AS (SELECT source,
        |    (length(format('{:b}', n)) - 1)::BIGINT AS bucket,
        |    count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS sum_tokens
        |  FROM t GROUP BY source, bucket)
        |SELECT source, bucket, (2**bucket)::BIGINT AS lo,
        | (2**(bucket+1) - 1)::BIGINT AS hi, n_docs, sum_tokens,
        | round(n_docs * 100.0 / sum(n_docs) OVER (PARTITION BY source), 4)
        |   AS share_pct
        |FROM h ORDER BY source, bucket""".stripMargin,

    // median/MAD fence: quantile_cont == Spark's interpolating
    // percentile (q08 precedent); the fence multiplier is ONE literal
    // so both engines parse the identical double
    "q103_robust_outliers" ->
      """WITH med AS (SELECT o_orderpriority AS k,
        |    quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1),
        |mad AS (SELECT o_orderpriority AS k,
        |    quantile_cont(abs(o_totalprice - med), 0.5) AS mad
        |  FROM orders JOIN med ON o_orderpriority = med.k GROUP BY 1)
        |SELECT o_orderpriority, count(*)::BIGINT AS n,
        | round(any_value(med.med), 4) AS med,
        | round(any_value(mad.mad), 4) AS mad,
        | sum(CASE WHEN abs(o_totalprice - med.med) > 1.78 * mad.mad
        |     THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        | round(sum(CASE WHEN abs(o_totalprice - med.med) > 1.78 * mad.mad
        |     THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS outlier_pct
        |FROM orders JOIN med ON o_orderpriority = med.k
        | JOIN mad ON o_orderpriority = mad.k
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // contingency cells + expected/contrib via window sums over the
    // aggregated cells only
    "q104_chi_square" ->
      """WITH cells AS (SELECT o_orderpriority, o_orderstatus,
        |    count(*)::BIGINT AS obs
        |  FROM orders GROUP BY 1, 2),
        |e AS (SELECT o_orderpriority, o_orderstatus, obs,
        |    sum(obs) OVER (PARTITION BY o_orderpriority)::DOUBLE
        |      * sum(obs) OVER (PARTITION BY o_orderstatus)
        |      / sum(obs) OVER () AS expected
        |  FROM cells)
        |SELECT o_orderpriority, o_orderstatus, obs,
        | round(expected, 4) AS expected,
        | round(pow(obs - expected, 2) / expected, 6) AS contrib
        |FROM e ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    // entropy from the same H = log2(T) - sum(m ln m)/(T ln 2) formula:
    // per-term ln runs on exact integers, only the final double sum is
    // combine-order sensitive (absorbed at 4dp, q99's convention).
    // log2 is spelled ln(x)/ln(2) to match Spark's Logarithm(base, x)
    "q105_token_entropy" ->
      """WITH tf AS (SELECT source, t, count(*)::BIGINT AS m
        |  FROM (SELECT source,
        |          unnest(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY source, t),
        |agg AS (SELECT source, sum(m)::BIGINT AS n_tokens,
        |    count(*)::BIGINT AS n_distinct, sum(m * ln(m)) AS mlnm
        |  FROM tf GROUP BY source)
        |SELECT source, n_tokens, n_distinct,
        | round(ln(n_tokens)/ln(2) - mlnm / (n_tokens * ln(2)), 4)
        |   AS entropy_bits,
        | CASE WHEN n_distinct > 1 THEN
        |   round((ln(n_tokens)/ln(2) - mlnm / (n_tokens * ln(2)))
        |     / (ln(n_distinct)/ln(2)), 4) ELSE 0.0 END AS norm_entropy
        |FROM agg ORDER BY source""".stripMargin,

    // bigram LM: transition tf via the pos self-join; MLE on the
    // corpus itself so every scored bigram has c2>=1 (no smoothing
    // constant to keep in sync); ln on exact integer counts
    "q106_bigram_logprob" ->
      s"""WITH $bigramCountCtes,
         |ctx AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM big GROUP BY prev),
         |doc AS (SELECT doc_id, source,
         |    round(sum(m * (ln(c2) - ln(c1))) / sum(m), 6) AS doc_lp
         |  FROM tf JOIN big USING (prev, cur) JOIN ctx USING (prev)
         |  GROUP BY doc_id, source)
         |${logprobBySourceSql}""".stripMargin,

    // trailing-window z from exact integer window sums (sum x, sum
    // x^2) — the variance expression is ONE fixed double formula in
    // both engines, so no Welford order sensitivity; the hour axis is
    // densified per key (zero-event hours are real zero buckets) so
    // outage hours are scored and the 24-bucket baseline is 24h of
    // wall clock, mirroring Analytics.scoreHourly
    "q107_hourly_anomaly" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    count(*)::BIGINT AS cnt
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, min(h) AS h0, max(h) AS h1
        |  FROM hourly GROUP BY 1),
        |dense AS (SELECT event_type,
        |    unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds),
        |filled AS (SELECT d.event_type, d.h,
        |    coalesce(cnt, 0)::BIGINT AS cnt
        |  FROM dense d LEFT JOIN hourly USING (event_type, h)),
        |w AS (SELECT event_type, h, cnt,
        |    count(*) OVER tw AS nw,
        |    CAST(sum(cnt) OVER tw AS DOUBLE) AS s1,
        |    CAST(sum(cnt*cnt) OVER tw AS DOUBLE) AS s2
        |  FROM filled
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, epoch_us(h) AS hour_us, cnt,
        | round(s1/24.0, 4) AS baseline_mean,
        | round((cnt - s1/24.0) / sqrt((s2 - s1*s1/24.0) / 23.0), 4) AS z
        |FROM w WHERE nw = 24 AND (s2 - s1*s1/24.0) / 23.0 > 0
        |ORDER BY event_type, hour_us""".stripMargin,

    // PPJoin tier returns the identical pair set — q63's oracle applies
    // verbatim (prefix filtering is lossless by the prefix lemma)
    "q108_prefix_jaccard" ->
      jaccardPairsSql,

    // day-level buckets, exact integer counts; only the display share
    // is a rounded double
    "q110_cohort_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    date_trunc('day', ts)::DATE AS day FROM events),
        |cohorts AS (SELECT user_id, min(day) AS cohort_day
        |  FROM days GROUP BY 1),
        |sizes AS (SELECT cohort_day, count(*)::BIGINT AS n_cohort
        |  FROM cohorts GROUP BY 1),
        |cells AS (SELECT cohort_day,
        |    date_diff('day', cohort_day, day)::INT AS day_offset,
        |    count(*)::BIGINT AS n_active
        |  FROM days JOIN cohorts USING (user_id)
        |  WHERE date_diff('day', cohort_day, day) <= 14
        |  GROUP BY 1, 2)
        |SELECT cohort_day::VARCHAR AS cohort_day, day_offset, n_active,
        | n_cohort, round(n_active * 100.0 / n_cohort, 4) AS retention_pct
        |FROM cells JOIN sizes USING (cohort_day)
        |ORDER BY 1, day_offset""".stripMargin,

    // first-touch funnel; epoch_us comparisons mirror Spark's micros
    // truncation so the strict > is integer-exact in both engines
    "q111_event_funnel" ->
      s"""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1
         |  FROM events WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(epoch_us(ts)) AS t2
         |  FROM events e JOIN v USING (user_id)
         |  WHERE event_type = 'click' AND epoch_us(ts) > t1 GROUP BY 1),
         |p AS (SELECT e.user_id, min(epoch_us(ts)) AS t3
         |  FROM events e JOIN c USING (user_id)
         |  WHERE event_type = 'purchase' AND epoch_us(ts) > t2 GROUP BY 1),
         |$funnelStagesSql""".stripMargin,

    // q111's stage CTEs with the 6-hour conversion-window bound added
    "q151_windowed_funnel" ->
      s"""WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t1
         |  FROM events WHERE event_type = 'view' GROUP BY 1),
         |c AS (SELECT e.user_id, min(epoch_us(ts)) AS t2
         |  FROM events e JOIN v USING (user_id)
         |  WHERE event_type = 'click' AND epoch_us(ts) > t1
         |    AND epoch_us(ts) <= t1 + 21600000000 GROUP BY 1),
         |p AS (SELECT e.user_id, min(epoch_us(ts)) AS t3
         |  FROM events e JOIN c USING (user_id)
         |  WHERE event_type = 'purchase' AND epoch_us(ts) > t2
         |    AND epoch_us(ts) <= t2 + 21600000000 GROUP BY 1),
         |$funnelStagesSql""".stripMargin,

    "q126_customers_no_orders" ->
      """SELECT count(*)::BIGINT AS n_without, min(c_custkey) AS min_key,
        | max(c_custkey) AS max_key, sum(c_custkey)::BIGINT AS key_sum
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |  WHERE o_totalprice > 450000)""".stripMargin,

    "q127_urgent_customers" ->
      """SELECT c_nationkey, count(*)::BIGINT AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q128_cohort_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |ORDER BY o_custkey""".stripMargin,

    "q129_cohort_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |ORDER BY o_custkey""".stripMargin,

    // same truncated positions (len/4.0 is exact — no round-vs-trunc
    // ambiguity); md5 of the char window == md5 of the byte window on
    // this ASCII corpus
    "q124_frame_table" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len
        |  FROM documents WHERE doc_id < 50),
        |f AS (SELECT doc_id, i AS frame_idx,
        |    substring(text, CAST(trunc(i * (len / 4.0) + 1) AS INTEGER), 8)
        |      AS frame
        |  FROM d, unnest(range(0, 4)) AS t(i)
        |  WHERE len >= 4)
        |SELECT doc_id, frame_idx::INT AS frame_idx, md5(frame) AS frame_fp,
        | length(frame)::BIGINT AS frame_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // variance from explicit sums (engine-stable formula); element
    // floats cast to double before summing in both engines
    "q125_embedding_dims" ->
      """WITH v AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |    unnest(embedding)::DOUBLE AS v
        |  FROM embeddings),
        |a AS (SELECT dim, count(*)::BIGINT AS n, sum(v) AS s1,
        |    sum(v*v) AS s2, round(min(v), 6) AS min_v,
        |    round(max(v), 6) AS max_v
        |  FROM v GROUP BY dim)
        |SELECT dim::INT AS dim, n, round(s1 / n, 4) AS avg_v,
        | round((s2 - s1*s1/n) / (n - 1), 4) AS var_v, min_v, max_v
        |FROM a ORDER BY dim""".stripMargin,

    // gap = fixed integer-micros subtraction / 1e6; quantile_cont ==
    // Spark's interpolating percentile (q08 precedent); ties in the
    // user order broken by event_id in BOTH engines
    "q122_event_gaps" ->
      """WITH g AS (SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 AS gap
        |  FROM events)
        |SELECT event_type AS key, count(*)::BIGINT AS n_gaps,
        | round(avg(gap), 4) AS avg_gap_s,
        | round(quantile_cont(gap, 0.5), 4) AS median_gap_s,
        | round(quantile_cont(gap, 0.9), 4) AS p90_gap_s
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same four fingerprint projections; exact distinct counts
    "q120_norm_ladder" ->
      """WITH f AS (SELECT md5(text) AS f0,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f1,
        |  md5(regexp_replace(regexp_replace(lower(trim(text)), '\s+', ' ',
        |    'g'), '[^a-z0-9 ]', '', 'g')) AS f2,
        |  md5(regexp_replace(regexp_replace(regexp_replace(lower(trim(text)),
        |    '\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), '[0-9]+', '0', 'g'))
        |    AS f3
        |  FROM documents),
        |a AS (SELECT count(*)::BIGINT AS n,
        |    count(DISTINCT f0)::BIGINT AS d0, count(DISTINCT f1)::BIGINT AS d1,
        |    count(DISTINCT f2)::BIGINT AS d2, count(DISTINCT f3)::BIGINT AS d3
        |  FROM f),
        |l AS (SELECT 1 AS level, 'raw' AS normalization, n, d0 AS n_distinct FROM a
        |  UNION ALL SELECT 2, 'ws_case', n, d1 FROM a
        |  UNION ALL SELECT 3, 'punct', n, d2 FROM a
        |  UNION ALL SELECT 4, 'digits', n, d3 FROM a)
        |SELECT level, normalization, n AS n_docs, n_distinct,
        | n - n_distinct AS n_dups,
        | round((n - n_distinct) * 100.0 / n, 4) AS dup_pct
        |FROM l ORDER BY level""".stripMargin,

    // identical BPE-ish segmentation regex (letter runs | digit runs |
    // single non-alnum marks) — char classes only, RE2/Java-identical
    "q121_token_cost" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        | sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
        |   AS ws_tokens,
        | sum(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS bpeish_tokens,
        | round(sum(len(regexp_extract_all(text,
        |   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) * 1.0
        |   / sum(len(string_split_regex(trim(text), '\s+'))), 4)
        |   AS cost_ratio
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // identical explicit least-squares sums (NOT regr_* aggregates,
    // whose accumulation internals differ across engines)
    "q119_zipf_fit" ->
      """WITH tf AS (SELECT t, count(*)::BIGINT AS cnt
        |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY t),
        |ranked AS (SELECT ln(row_number() OVER
        |    (ORDER BY cnt DESC, t ASC)) AS x, ln(cnt) AS y
        |  FROM tf QUALIFY row_number() OVER (ORDER BY cnt DESC, t ASC)
        |    <= 10000),
        |s AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM ranked)
        |SELECT n AS n_tokens_ranked,
        | round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS zipf_slope,
        | round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4)
        |   AS intercept,
        | round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |   / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS r2
        |FROM s""".stripMargin,

    // top-V vocabulary with the q56 tie-break (count desc, token asc)
    // in both engines; coverage sums on exact integers
    "q117_vocab_coverage" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT source, t, count(*)::BIGINT AS m
        |  FROM tok GROUP BY 1, 2),
        |vocab AS (SELECT t FROM (SELECT t, sum(m) AS cnt FROM tf
        |  GROUP BY t ORDER BY cnt DESC, t ASC LIMIT 20)),
        |j AS (SELECT tf.source, tf.m,
        |    (vocab.t IS NOT NULL) AS inv
        |  FROM tf LEFT JOIN vocab ON tf.t = vocab.t)
        |SELECT source, sum(m)::BIGINT AS n_tokens,
        | sum(CASE WHEN inv THEN m ELSE 0 END)::BIGINT AS covered_tokens,
        | count(*)::BIGINT AS n_distinct,
        | sum(CASE WHEN inv THEN 1 ELSE 0 END)::BIGINT AS covered_distinct,
        | round(sum(CASE WHEN inv THEN m ELSE 0 END) * 100.0 / sum(m), 4)
        |   AS coverage_pct,
        | round((sum(m) - sum(CASE WHEN inv THEN m ELSE 0 END)) * 100.0
        |   / sum(m), 4) AS oov_pct
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // Wilson interval spelled as the identical double expression tree
    // (z*z written as 1.96*1.96 so both engines fold the same product)
    "q118_proportion_ci" ->
      """WITH a AS (SELECT o_orderpriority,
        |    count(*)::BIGINT AS n,
        |    sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)::BIGINT
        |      AS successes
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_orderpriority, n, successes,
        |    successes / CAST(n AS DOUBLE) AS p, CAST(n AS DOUBLE) AS nd
        |  FROM a)
        |SELECT o_orderpriority, n, successes,
        | round(p * 100.0, 4) AS rate_pct,
        | round((p + (1.96*1.96) / (nd*2) - 1.96 * sqrt(p*(1.0-p)/nd
        |   + (1.96*1.96)/(nd*nd*4))) / (1.0 + (1.96*1.96)/nd) * 100.0, 4)
        |   AS ci_lo_pct,
        | round((p + (1.96*1.96) / (nd*2) + 1.96 * sqrt(p*(1.0-p)/nd
        |   + (1.96*1.96)/(nd*nd*4))) / (1.0 + (1.96*1.96)/nd) * 100.0, 4)
        |   AS ci_hi_pct
        |FROM b ORDER BY o_orderpriority""".stripMargin,

    // round-trip identity: integer/string columns through JSONL must
    // re-aggregate to exactly the source-table numbers
    "q116_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        | sum(n_chars)::BIGINT AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        | FROM documents GROUP BY source
        | ORDER BY source""".stripMargin,

    // the q48 keep-rules, q24 fingerprint dedup, and q49 md5 split
    // composed in one statement
    "q114_curation_pipeline" ->
      s"""WITH ${qualityProfileCtes("doc_id, source, text")},
         |kept AS (SELECT doc_id, source, text, n_tokens FROM m
         |  WHERE n_tokens >= 30 AND n_tokens <= 100000
         |    AND sr >= 0.03 AND pr <= 0.05),
         |dedup AS (SELECT min(doc_id) AS doc_id FROM kept
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
         |surv AS (SELECT k.* FROM kept k JOIN dedup USING (doc_id)),
         |sp AS (SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |       WHEN u < 1.0 THEN 'test' ELSE 'rest' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS UBIGINT) / 4294967296.0 AS u FROM surv))
         |SELECT split, source, count(*)::BIGINT AS n_docs,
         | sum(n_tokens)::BIGINT AS sum_tokens
         |FROM surv JOIN sp USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // PMI spelled as a fixed sum of ln's on exact integer counts (a
    // product form would exceed double exactness on corpus totals)
    "q112_collocations" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
        |      AS pos
        |  FROM documents),
        |uni AS (SELECT t, count(*)::BIGINT AS c1 FROM tok GROUP BY t),
        |t1 AS (SELECT sum(c1)::BIGINT AS t1 FROM uni),
        |bg AS (SELECT a.t AS w1, b.t AS w2, count(*)::BIGINT AS pair_count
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |t2 AS (SELECT sum(pair_count)::BIGINT AS t2 FROM bg),
        |scored AS (SELECT w1, w2, pair_count,
        |    round(ln(pair_count) + ln(t1) + ln(t1) - ln(t2)
        |      - ln(ua.c1) - ln(ub.c1), 4) AS pmi
        |  FROM bg JOIN uni ua ON ua.t = w1 JOIN uni ub ON ub.t = w2
        |  CROSS JOIN t1 CROSS JOIN t2
        |  WHERE pair_count >= 3)
        |SELECT w1, w2, pair_count, pmi FROM scored
        |WHERE pmi >= 1.0 ORDER BY w1, w2""".stripMargin,

    // day-level buckets; WAU via the constant-fan-out explode (each
    // user-day contributes to <= 7 window days), exact integer counts
    "q113_rolling_active" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    date_trunc('day', ts)::DATE AS day FROM events),
        |cal AS (SELECT DISTINCT day FROM days),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM days GROUP BY 1),
        |wau AS (SELECT c.day, count(DISTINCT d.user_id)::BIGINT AS wau
        |  FROM cal c JOIN days d ON d.day BETWEEN c.day - 6 AND c.day
        |  GROUP BY 1),
        |mn AS (SELECT min(day) AS d0 FROM cal)
        |SELECT day::VARCHAR AS day, dau, wau,
        | round(dau * 100.0 / wau, 4) AS stickiness_pct
        |FROM dau JOIN wau USING (day) CROSS JOIN mn
        |WHERE day >= d0 + 6
        |ORDER BY 1""".stripMargin,

    // q63's pair set joined to the q49 md5 split labels; leaked =
    // members in different splits
    "q109_split_leakage" ->
      s"""WITH $shingleOverlapCtes,
         |pairs AS (
         |  SELECT id_a, id_b,
         |    round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |             JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
         |sp AS (SELECT doc_id,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |       WHEN u < 1.0 THEN 'test' ELSE 'rest' END AS split
         |  FROM (SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS UBIGINT) / 4294967296.0 AS u FROM documents))
         |SELECT id_a, id_b, sa.split AS split_a, sb.split AS split_b,
         | jaccard
         |FROM pairs JOIN sp sa ON sa.doc_id = id_a
         |           JOIN sp sb ON sb.doc_id = id_b
         |WHERE sa.split <> sb.split
         |ORDER BY id_a, id_b""".stripMargin,

    // unigram LM: same tf shape; ln on identical integer inputs agrees
    // across engines, and 6dp doc / 4dp slice rounding absorbs
    // double-sum combine order (q57's convention)
    "q99_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, source,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS t
         |  FROM documents),
         |tf AS (SELECT doc_id, source, t, count(*)::BIGINT AS m
         |  FROM tok GROUP BY doc_id, source, t),
         |vocab AS (SELECT t AS vt, sum(m)::BIGINT AS cnt FROM tf GROUP BY t),
         |tot AS (SELECT sum(cnt)::BIGINT AS total FROM vocab),
         |doc AS (SELECT doc_id, source,
         |    round(sum(m * (ln(cnt) - ln(total))) / sum(m), 6) AS doc_lp
         |  FROM tf JOIN vocab ON tf.t = vocab.vt CROSS JOIN tot
         |  GROUP BY doc_id, source)
         |${logprobBySourceSql}""".stripMargin,

    // q99's tf chain with a target flag; +0.5 smoothing keeps
    // target-absent tokens finite; every smoothed term DOUBLE
    "q149_dsir_selection" ->
      """WITH tok AS (SELECT doc_id, lang, lang = 'en' AS tgt,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, any_value(lang) AS lang,
        |    any_value(tgt) AS tgt, count(*)::BIGINT AS m
        |  FROM tok GROUP BY doc_id, t),
        |vocab AS (SELECT t AS vt, sum(m)::BIGINT AS cs,
        |    sum(CASE WHEN tgt THEN m ELSE 0 END)::BIGINT AS ct
        |  FROM tf GROUP BY t),
        |tot AS (SELECT sum(cs)::BIGINT AS ns, sum(ct)::BIGINT AS nt,
        |    count(*)::BIGINT AS v FROM vocab),
        |doc AS (SELECT doc_id, any_value(lang) AS lang,
        |    round(sum(m * ((ln(ct + 0.5::DOUBLE) - ln(nt + 0.5::DOUBLE * v))
        |      - (ln(cs + 0.5::DOUBLE) - ln(ns + 0.5::DOUBLE * v))))
        |      / sum(m), 6) AS score
        |  FROM tf JOIN vocab ON tf.t = vocab.vt CROSS JOIN tot
        |  GROUP BY doc_id)
        |SELECT lang, count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN score > 0 THEN 1 ELSE 0 END)::BIGINT AS n_target_like,
        | round(avg(score), 4) AS avg_score
        |FROM doc GROUP BY lang ORDER BY lang""".stripMargin,

    // Gopher rules: word stats over the same \s+ tokenization; line
    // stats via the identical regexes (RE2 and java.util.regex agree on
    // these patterns — no flags, no backrefs)
    "q98_gopher_rules" ->
      """WITH t AS (SELECT doc_id, source, text,
        |    string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |m AS (SELECT source,
        |    len(toks)::BIGINT AS n_tokens,
        |    list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |      / len(toks) AS mwl,
        |    len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
        |      / len(toks) AS alpha_frac,
        |    (len(regexp_extract_all(text, '#')) +
        |     len(regexp_extract_all(text, '\.\.\.')))::DOUBLE
        |      / len(toks) AS sym_ratio,
        |    len(regexp_extract_all(text, '(^|\n)[ \t]*[-*•]'))::DOUBLE
        |      / len(string_split(text, chr(10))) AS bullet_frac,
        |    len(regexp_extract_all(text, '\.\.\.(\n|$)'))::DOUBLE
        |      / len(string_split(text, chr(10))) AS ellipsis_frac
        |  FROM t)
        |SELECT source, count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000
        |     THEN 1 ELSE 0 END)::BIGINT AS pass_len,
        | sum(CASE WHEN mwl >= 3.0 AND mwl <= 10.0
        |     THEN 1 ELSE 0 END)::BIGINT AS pass_word_len,
        | sum(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END)::BIGINT
        |   AS pass_alpha,
        | sum(CASE WHEN sym_ratio <= 0.1 THEN 1 ELSE 0 END)::BIGINT
        |   AS pass_symbol,
        | sum(CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END)::BIGINT
        |   AS pass_bullet,
        | sum(CASE WHEN ellipsis_frac <= 0.3 THEN 1 ELSE 0 END)::BIGINT
        |   AS pass_ellipsis,
        | sum(CASE WHEN n_tokens >= 30 AND n_tokens <= 100000
        |     AND mwl >= 3.0 AND mwl <= 10.0 AND alpha_frac >= 0.8
        |     AND sym_ratio <= 0.1 AND bullet_frac <= 0.9
        |     AND ellipsis_frac <= 0.3 THEN 1 ELSE 0 END)::BIGINT AS pass_all,
        | round(avg(mwl), 4) AS avg_word_len
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q51_similarity_profile" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 50)
        |SELECT qid,
        | round(max(list_cosine_similarity(qv, v)), 6) AS max_cos,
        | sum(CASE WHEN list_cosine_similarity(qv, v) >= 0.3
        |     THEN 1 ELSE 0 END)::BIGINT AS n_above
        |FROM p JOIN e ON e.vec_id <> p.qid
        |GROUP BY qid ORDER BY qid""".stripMargin,

    "q60_pack_documents" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    floor(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |      / 4294967296.0 * 8)::INTEGER AS bucket
        |  FROM documents),
        |run AS (
        |  SELECT bucket, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS running
        |  FROM sized)
        |SELECT bucket, ((running - n_tokens) // 512)::BIGINT AS bin,
        | count(*) AS n_docs, sum(n_tokens)::BIGINT AS bin_tokens
        |FROM run GROUP BY bucket, bin
        |ORDER BY bucket, bin""".stripMargin,

    "q86_unk_rewrite" ->
      s"""WITH $tokPosCtes,
         |freq AS (SELECT t, count(*) AS n FROM tok GROUP BY t),
         |rw AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN n >= 900 THEN tok.t ELSE '<unk>' END AS t2
         |  FROM tok JOIN freq USING (t))
         |SELECT doc_id, string_agg(t2, ' ' ORDER BY pos) AS text,
         | sum(CASE WHEN t2 = '<unk>' THEN 1 ELSE 0 END)::BIGINT AS n_unk
         |FROM rw GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same md5-uniform order + next-fit budget cut as the Spark side
    "q83_token_budget_sample" ->
      """WITH sized AS (
        |  SELECT doc_id, lang,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |      / 4294967296.0 AS u
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY u, doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sized)
        |SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS tot_tokens,
        | sum(doc_id)::BIGINT AS id_sum
        |FROM c WHERE cum - n_tokens < 2000
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q58_repetition_by_source" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents),
        |g AS (
        |  SELECT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS g
        |  FROM tok a
        |  JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |r AS (
        |  SELECT doc_id,
        |    round(1 - count(DISTINCT g)::DOUBLE / count(*), 6) AS rep_ratio
        |  FROM g GROUP BY doc_id)
        |SELECT d.source, count(*) AS n_docs,
        | round(avg(rep_ratio), 6) AS avg_rep_ratio,
        | round(max(rep_ratio), 6) AS max_rep_ratio
        |FROM r JOIN documents d USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    "q59_pii_scan" ->
      """WITH p AS (SELECT
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS e,
        |  len(regexp_extract_all(text, '\+?[0-9][0-9() -]{7,}[0-9]'))::BIGINT AS ph,
        |  len(regexp_extract_all(text, '[0-9]{9,}'))::BIGINT AS dr
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        | sum(e)::BIGINT AS total_emails,
        | sum(ph)::BIGINT AS total_phones,
        | sum(dr)::BIGINT AS total_digit_runs,
        | sum(CASE WHEN e + ph + dr > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii
        |FROM p""".stripMargin,

    "q57_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
        |SELECT doc_id, term, tf,
        | round(tf * ln(n::DOUBLE / df), 4) AS score
        |FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |WHERE doc_id < 20
        |ORDER BY doc_id, term""".stripMargin,

    // identical constant combination order ((1.2 + 1.0), (1.0 - 0.75))
    // on both sides so the IEEE doubles match bit-for-bit before the
    // display round; avgdl is an explicit sum/count in both engines
    "q131_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl
        |  FROM dl)
        |SELECT doc_id, term, tf,
        | round(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |   (tf * (1.2 + 1.0)) /
        |   (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
        |FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
        |CROSS JOIN tot
        |WHERE doc_id < 20
        |ORDER BY doc_id, term""".stripMargin,

    // 16-token segments; first occurrence by (doc_id, seg); docs
    // reassembled from survivors, fully-deduped docs keep '' text
    "q132_segment_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) - 1 AS pos
        |  FROM documents),
        |seg AS (
        |  SELECT doc_id, pos // 16 AS seg,
        |    string_agg(t, ' ' ORDER BY pos) AS seg_text
        |  FROM tok GROUP BY 1, 2),
        |marked AS (
        |  SELECT doc_id, seg, seg_text,
        |    row_number() OVER (PARTITION BY seg_text
        |                       ORDER BY doc_id, seg) AS rk
        |  FROM seg)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN rk = 1 THEN seg_text END, ' '
        |    ORDER BY seg) FILTER (rk = 1), '') AS text_kept,
        |  count(*) AS n_seg_total,
        |  count(*) FILTER (rk = 1) AS n_seg_kept
        |FROM marked GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // same shingle definition as q63 (distinct word 3-grams per doc,
    // whole text for <3-token docs), collapsed to distinct per source
    "q133_source_overlap" ->
      s"""WITH $shingleCtes,
         |src_sh AS (
         |  SELECT DISTINCT d.source AS src, s.g
         |  FROM sh s JOIN documents d USING (doc_id)),
         |sizes AS (SELECT src, count(*) AS n FROM src_sh GROUP BY 1),
         |inter AS (
         |  SELECT a.src AS src_a, b.src AS src_b, count(*) AS i
         |  FROM src_sh a JOIN src_sh b ON a.g = b.g AND a.src < b.src
         |  GROUP BY 1, 2)
         |SELECT sa.src AS src_a, sb.src AS src_b, sa.n AS n_a, sb.n AS n_b,
         |  coalesce(i.i, 0) AS inter,
         |  round(coalesce(i.i, 0)::DOUBLE
         |    / (sa.n + sb.n - coalesce(i.i, 0)), 6) AS jaccard,
         |  round(coalesce(i.i, 0)::DOUBLE / sa.n, 6) AS containment_a,
         |  round(coalesce(i.i, 0)::DOUBLE / sb.n, 6) AS containment_b
         |FROM sizes sa JOIN sizes sb ON sa.src < sb.src
         |LEFT JOIN inter i ON i.src_a = sa.src AND i.src_b = sb.src
         |ORDER BY src_a, src_b""".stripMargin,

    // identical per-term expression shape on both sides; only the sum
    // ORDER differs across engines, absorbed by the 4dp round
    "q134_lexical_divergence" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |counts AS (SELECT lang, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |totals AS (SELECT lang, sum(c) AS n FROM counts GROUP BY 1),
        |dist AS (
        |  SELECT lang, t, c::DOUBLE / n AS p
        |  FROM counts JOIN totals USING (lang)),
        |shared AS (
        |  SELECT a.lang AS lang_a, b.lang AS lang_b, count(*) AS sv,
        |    sum(0.5 * (a.p * ln(2.0 * a.p / (a.p + b.p))
        |             + b.p * ln(2.0 * b.p / (a.p + b.p)))) AS s,
        |    sum(a.p) AS ma, sum(b.p) AS mb
        |  FROM dist a JOIN dist b ON a.t = b.t AND a.lang < b.lang
        |  GROUP BY 1, 2)
        |SELECT ta.lang AS lang_a, tb.lang AS lang_b,
        |  coalesce(sh.sv, 0) AS shared_vocab,
        |  round((coalesce(sh.s, 0)
        |    + 0.5 * ln(2.0) * (2.0 - coalesce(sh.ma, 0)
        |      - coalesce(sh.mb, 0))) / ln(2.0), 4) AS jsd_bits
        |FROM totals ta JOIN totals tb ON ta.lang < tb.lang
        |LEFT JOIN shared sh ON sh.lang_a = ta.lang AND sh.lang_b = tb.lang
        |ORDER BY lang_a, lang_b""".stripMargin,

    // q63's shingle CTEs; df over distinct (doc, shingle), ties at the
    // k boundary break by shingle text in both engines
    "q135_boilerplate_shingles" ->
      s"""WITH $shingleCtes,
         |per AS (
         |  SELECT s.g AS shingle, count(*) AS df,
         |    count(DISTINCT d.source) AS n_sources
         |  FROM sh s JOIN documents d USING (doc_id) GROUP BY 1),
         |tot AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT shingle, df, round(df::DOUBLE / n_docs, 6) AS df_share,
         |  n_sources
         |FROM per CROSS JOIN tot
         |ORDER BY df DESC, shingle ASC LIMIT 25""".stripMargin,

    "q56_top_bigrams" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT a.t || ' ' || b.t AS ngram
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
        |SELECT ngram, count(*) AS cnt FROM bg
        |GROUP BY ngram ORDER BY cnt DESC, ngram ASC LIMIT 20""".stripMargin,

    "q148_ngram_diversity" ->
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
        |  FROM documents),
        |g2 AS (
        |  SELECT a.source, a.t || ' ' || b.t AS g
        |  FROM tok a JOIN tok b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |g3 AS (
        |  SELECT a.source, a.t || ' ' || b.t || ' ' || c.t AS g
        |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |u AS (
        |  SELECT source, 1 AS n, t AS g FROM tok
        |  UNION ALL SELECT source, 2, g FROM g2
        |  UNION ALL SELECT source, 3, g FROM g3)
        |SELECT source, n, count(*) AS total_ngrams,
        |  count(DISTINCT g) AS distinct_ngrams,
        |  round(count(DISTINCT g)::DOUBLE / count(*)::DOUBLE, 6) AS diversity
        |FROM u GROUP BY source, n ORDER BY source, n""".stripMargin,

    "q55_doc_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t,
        |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) - 1 AS pos
        |  FROM documents),
        |memb AS (
        |  SELECT doc_id, pos, t,
        |    unnest(range(CASE WHEN pos < 32 THEN 0 ELSE (pos - 32) // 16 + 1 END,
        |                 pos // 16 + 1)) AS chunk
        |  FROM tok)
        |SELECT doc_id, chunk, count(*) AS n_tokens,
        | string_agg(t, ' ' ORDER BY pos) AS chunk_text
        |FROM memb GROUP BY doc_id, chunk
        |ORDER BY doc_id, chunk""".stripMargin,

    "q53_top_priorities_approx" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        | GROUP BY o_orderpriority
        | ORDER BY cnt DESC, o_orderpriority ASC LIMIT 5""".stripMargin,

    "q49_dataset_split" ->
      """WITH u AS (SELECT lang,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    / 4294967296.0 AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val'
        |            WHEN u < 1.0 THEN 'test' ELSE 'rest' END AS split,
        | lang, count(*) AS n_docs
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q50_stratified_sample" ->
      """WITH u AS (SELECT lang, doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0 AS u
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM u
        |WHERE u < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |               WHEN 'fr' THEN 0.25 ELSE 0.1 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q89_source_cap" ->
      """WITH u AS (SELECT source, doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0 AS u
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |  row_number() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC) AS rn
        |  FROM u)
        |SELECT source, count(*) AS n_kept, sum(doc_id)::BIGINT AS id_sum
        |FROM r WHERE rn <= 15
        |GROUP BY source ORDER BY source""".stripMargin,

    // every arithmetic term cast to DOUBLE so both engines run the
    // identical IEEE ops (DuckDB literals are DECIMAL by default)
    "q137_mixture_plan" ->
      """WITH p AS (SELECT source, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS tokens FROM documents GROUP BY source),
        |t AS (SELECT sum(tokens)::BIGINT AS total FROM p),
        |w AS (SELECT source, n_docs, tokens,
        |  (CASE source WHEN 'src0' THEN 0.2 WHEN 'src1' THEN 0.15
        |     WHEN 'src2' THEN 0.1 ELSE 0.01 END)::DOUBLE AS target_weight
        |  FROM p)
        |SELECT source, n_docs, tokens,
        |  round(tokens::DOUBLE / (SELECT total FROM t)::DOUBLE, 6) AS natural_share,
        |  target_weight,
        |  round(5000000::DOUBLE * target_weight, 1) AS target_tokens,
        |  round(5000000::DOUBLE * target_weight / tokens::DOUBLE, 6) AS epochs,
        |  round(least(5000000::DOUBLE * target_weight / tokens::DOUBLE,
        |    1.0::DOUBLE), 6) AS sampling_fraction
        |FROM w ORDER BY source""".stripMargin,

    "q138_shard_assign" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM documents)
        |SELECT CAST(floor((cum - n_chars)::DOUBLE / 50000::DOUBLE) AS BIGINT)
        |    AS shard,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS shard_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,

    // rank-based drop: rn > floor(0.1*n) with both factors DOUBLE so
    // the floor argument is the identical IEEE product on both engines
    "q139_quality_cutoff" ->
      """WITH t AS (SELECT doc_id, source,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_tokens,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_tokens ASC, doc_id ASC) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n FROM t)
        |SELECT source, count(*) AS n_kept, min(n_tokens) AS cutoff_tokens,
        |  round(avg(n_tokens), 4) AS avg_tokens
        |FROM r WHERE rn > floor(0.1::DOUBLE * n::DOUBLE)
        |GROUP BY source ORDER BY source""".stripMargin,

    // same A-Res construction: u floored at 1e-12, key rounded to 12 dp
    // BEFORE ranking (ulp armor), display rounding to 6 dp after
    "q90_weighted_sample" ->
      """WITH u AS (SELECT doc_id, lang, source, n_chars,
        |  greatest(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0, 1e-12) AS u
        |  FROM documents),
        |k AS (SELECT doc_id, lang, source, n_chars,
        |  round(ln(u) / n_chars, 12) AS ares
        |  FROM u),
        |win AS (SELECT * FROM k ORDER BY ares DESC, doc_id ASC LIMIT 50)
        |SELECT doc_id, lang, source, n_chars, round(ares, 6) AS ares_key
        |FROM win ORDER BY ares_key DESC, doc_id ASC""".stripMargin,

    // fold = least(floor(u*k), k-1); u*5 in DOUBLE on both engines
    "q144_kfold_split" ->
      """WITH u AS (SELECT doc_id,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'cv'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0 AS u
        |  FROM documents)
        |SELECT least(floor(u * 5::DOUBLE), 4)::INT AS fold,
        |  count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum
        |FROM u GROUP BY 1 ORDER BY fold""".stripMargin,

    // q90's A-Res key (u floor + 12-dp round) ranked per stratum
    "q145_weighted_cap" ->
      """WITH u AS (SELECT lang, doc_id, n_chars,
        |  greatest(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'wcap'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0, 1e-12) AS u
        |  FROM documents),
        |k AS (SELECT lang, doc_id, n_chars,
        |  round(ln(u) / n_chars, 12) AS ares FROM u),
        |r AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY ares DESC, doc_id ASC) AS rn FROM k)
        |SELECT lang, count(*) AS n_kept, sum(doc_id)::BIGINT AS id_sum,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM r WHERE rn <= 20 GROUP BY lang ORDER BY lang""".stripMargin,

    // Multimodal stub plumbing: media = utf8(text), so n_bytes is the
    // utf8 length, frameSample yields 4 frames when len >= 4, and the
    // stub feature 0 is the md5-uniform of (bytes ++ '0') cast float.
    "q29_multimodal_features" ->
      """SELECT doc_id,
        | octet_length(encode(text)) AS n_bytes,
        | CASE WHEN octet_length(encode(text)) >= 4
        |      THEN 4::BIGINT ELSE 0::BIGINT END AS n_frames,
        | (CAST(('0x' || substr(md5(text || '0'), 1, 8)) AS UBIGINT)
        |    / 4294967296.0)::FLOAT AS f0
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q63_jaccard_pairs" ->
      jaccardPairsSql,

    // same shingle/inverted-index CTEs as q63; the final select reports
    // both containment directions and thresholds on their max
    "q140_containment_pairs" ->
      s"""WITH $shingleOverlapCtes
         |SELECT id_a, id_b, round(i::DOUBLE / sa.n, 6) AS c_a_in_b,
         |  round(i::DOUBLE / sb.n, 6) AS c_b_in_a
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |           JOIN sizes sb ON sb.doc_id = id_b
         |WHERE greatest(i::DOUBLE / sa.n, i::DOUBLE / sb.n) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin,

    "q141_event_transitions" ->
      """WITH s AS (SELECT event_type AS from_event,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS to_event
        |  FROM events),
        |m AS (SELECT from_event, to_event, count(*) AS n FROM s
        |  WHERE to_event IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT from_event, sum(n)::BIGINT AS row_n FROM m GROUP BY 1)
        |SELECT m.from_event, m.to_event, m.n,
        |  round(m.n::DOUBLE / r.row_n::DOUBLE, 6) AS p
        |FROM m JOIN r USING (from_event)
        |ORDER BY from_event, to_event""".stripMargin,

    // Connected components over the exact near-dup pair graph via a
    // recursive reachability CTE; cluster_id = min reachable doc_id.
    "q64_dedup_clusters" ->
      s"""WITH RECURSIVE $nearDupCcCtes
         |SELECT doc_id, cluster_id,
         | count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cc ORDER BY doc_id""".stripMargin,

    // q64's recursive CC + q49's split CASE, keyed on
    // coalesce(cluster_id, doc_id) for the leakage-safe label and on
    // doc_id for the own label it is compared against
    "q147_leakage_safe_split" ->
      s"""WITH RECURSIVE $nearDupCcCtes,
         |j AS (SELECT d.doc_id, cc.cluster_id,
         |  coalesce(cc.cluster_id, d.doc_id) AS ek
         |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
         |lab AS (SELECT doc_id, cluster_id,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
         |    / 4294967296.0 AS uo,
         |  CAST(('0x' || substr(md5(CAST(ek AS VARCHAR)), 1, 8)) AS UBIGINT)
         |    / 4294967296.0 AS ue
         |  FROM j),
         |fin AS (SELECT doc_id, cluster_id,
         |  CASE WHEN uo < 0.8 THEN 'train' WHEN uo < 0.9 THEN 'val'
         |       WHEN uo < 1.0 THEN 'test' ELSE 'rest' END AS own_split,
         |  CASE WHEN ue < 0.8 THEN 'train' WHEN ue < 0.9 THEN 'val'
         |       WHEN ue < 1.0 THEN 'test' ELSE 'rest' END AS split
         |  FROM lab)
         |SELECT split, count(*) AS n_docs, count(cluster_id) AS n_clustered,
         |  sum(CASE WHEN own_split != split THEN 1 ELSE 0 END)::BIGINT AS n_moved,
         |  sum(doc_id)::BIGINT AS id_sum
         |FROM fin GROUP BY split ORDER BY split""".stripMargin,

    // q64's connected components + per-cluster argmax(n_chars, min id)
    "q82_dedup_survivor_quality" ->
      s"""WITH RECURSIVE $nearDupCcCtes,
         |sized AS (
         |  SELECT cc.doc_id, cc.cluster_id,
         |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |    d.n_chars
         |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id ASC) AS rn
         |  FROM sized)
         |SELECT cluster_id, cluster_size, doc_id AS survivor_id,
         | n_chars AS survivor_score
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    // Dedup applied: q64's clusters -> drop non-canonical members ->
    // per-source survival counts.
    "q66_dedup_apply" ->
      s"""WITH RECURSIVE $nearDupCcCtes,
         |drops AS (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
         |SELECT source, count(*) AS n_docs,
         | count(*) FILTER (WHERE d.doc_id IS NULL) AS n_kept
         |FROM documents LEFT JOIN drops d USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q75_cube_orders" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(GROUPING(o_orderpriority) AS BIGINT) AS grp_a,
        | CAST(GROUPING(o_orderstatus) AS BIGINT) AS grp_b,
        | count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY grp_a, grp_b, o_orderpriority NULLS FIRST,
        | o_orderstatus NULLS FIRST""".stripMargin,

    "q76_temperature_mix" ->
      """WITH census AS (
        |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |fr AS (
        |  SELECT lang,
        |    least(1.0, 300.0 * sqrt(n) / sum(sqrt(n)) OVER () / n) AS f
        |  FROM census),
        |u AS (
        |  SELECT d.lang, d.doc_id, f,
        |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'temp'), 1, 8))
        |      AS UBIGINT) / 4294967296.0 AS u
        |  FROM documents d JOIN fr USING (lang))
        |SELECT lang, count(*) AS n_kept, min(doc_id) AS min_id,
        | max(doc_id) AS max_id
        |FROM u WHERE u < f GROUP BY lang ORDER BY lang""".stripMargin,

    "q77_embedding_quantize" ->
      """WITH ex AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x
        |  FROM embeddings),
        |sc AS (
        |  SELECT vec_id, label, x,
        |    max(abs(x)) OVER (PARTITION BY vec_id) / 127.0 AS scale
        |  FROM ex),
        |qq AS (
        |  SELECT label, x, scale,
        |    CASE WHEN scale = 0 THEN 0.0 ELSE round(x / scale, 0) END AS q
        |  FROM sc)
        |SELECT label, count(*) AS n_values,
        | round(avg(abs(x - q * scale)), 6) AS avg_abs_err,
        | round(max(abs(x - q * scale)), 9) AS max_abs_err,
        | round(avg(abs(q)), 4) AS avg_abs_q
        |FROM qq GROUP BY label ORDER BY label""".stripMargin,

    "q78_ttr_by_source" ->
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents)
        |SELECT source AS slice, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS total_tokens, count(DISTINCT t) AS distinct_tokens,
        | round(CAST(count(DISTINCT t) AS DOUBLE) / count(*), 6) AS pooled_ttr,
        | round(CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id), 2)
        |   AS avg_doc_tokens
        |FROM tok GROUP BY source ORDER BY source""".stripMargin,

    "q74_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events WHERE user_id < 5),
        |chg AS (
        |  SELECT user_id, ts, event_type FROM e
        |  WHERE prev_ts IS NULL OR event_type IS DISTINCT FROM prev),
        |iv AS (
        |  SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS vt
        |  FROM chg)
        |SELECT user_id, event_type, epoch_us(vf) AS from_us,
        | epoch_us(vt) AS to_us, vt IS NULL AS is_current
        |FROM iv ORDER BY user_id, from_us""".stripMargin,

    "q73_price_deciles" ->
      """WITH t AS (
        |  SELECT o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |SELECT decile, count(*) AS n, min(o_totalprice) AS lo,
        | max(o_totalprice) AS hi, round(avg(o_totalprice), 2) AS avg_price
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,

    // same half-open range-bucket definition as Analytics.quantileBuckets;
    // quantile_cont == Spark's exact interpolating percentile
    "q79_price_deciles_scale" -> {
      val cmp = (1 to 9).map(i => s"(v >= bs[$i])::INT").mkString(" + ")
      s"""WITH b AS (
         |  SELECT quantile_cont(o_totalprice::DOUBLE,
         |    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM orders),
         |t AS (
         |  SELECT o_totalprice::DOUBLE AS v, (1 + $cmp)::BIGINT AS bucket
         |  FROM orders, b)
         |SELECT bucket, count(*) AS n, round(min(v), 2) AS lo,
         | round(max(v), 2) AS hi, round(avg(v), 2) AS avg_value
         |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // Same regexes as the Spark side; DuckDB regexp_replace needs the
    // explicit 'g' flag to match Spark's global-replace default.
    "q72_pii_redact" ->
      """WITH r AS (
        |  SELECT source, text,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{9,}', '<DIGITS>', 'g'),
        |      '\+?[0-9][0-9() -]{7,}[0-9]', '<PHONE>', 'g') AS red
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | count(*) FILTER (WHERE red <> text) AS n_redacted,
        | CAST(sum(length(text) - length(red)) AS BIGINT) AS chars_removed
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // Bucketing only changes the physical layout; values must equal the
    // plain join over the source tables.
    "q71_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The salted join is an execution-strategy change only; its result
    // set is definitionally the plain equi-join below.
    "q70_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q69_label_centroids" ->
      """WITH ex AS (
        |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |    unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim, count(*) AS n,
        | round(avg(v), 6) AS centroid
        |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    // DuckDB has a native ASOF JOIN with exactly the inclusive
    // greatest-ts-<= semantics of Joins.asofJoin.
    "q68_asof_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS click_id, user_id, ts AS cts FROM events
        |  WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, c.click_id,
        | epoch_us(p.ts) - epoch_us(c.cts) AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.cts
        |ORDER BY p.event_id""".stripMargin,

    "q84_attribution_window" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        | epoch_us(p.ts) AS p_us, epoch_us(c.ts) AS c_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin,

    // Running/cumulative windows over monthly order volume. The window
    // sum is cast back to BIGINT (DuckDB widens window sums to HUGEINT).
    "q67_monthly_momentum" ->
      """WITH monthly AS (
        |  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
        |      AS yyyymm,
        |    count(*) AS n,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM orders GROUP BY 1)
        |SELECT yyyymm, n, total,
        | CAST(sum(n) OVER (ORDER BY yyyymm ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |   AS cum_n,
        | n - lag(n, 1) OVER (ORDER BY yyyymm) AS delta_n,
        | round(avg(n) OVER (ORDER BY yyyymm
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
        |FROM monthly ORDER BY yyyymm""".stripMargin,
  )
}
