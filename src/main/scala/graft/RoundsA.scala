package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import etlmudah.Tables
import etlmudah.analytics.{Analytics, Density, Events}
import etlmudah.text.TextStats
import etlmudah.multimodal.Multimodal
import etlmudah.scale.{Dedup, Sampling, Similarity, Sketches, Spectral}
import etlmudah.web.Web
import SparkEntry._
import Fragments._

/** Registry tier q161-q230 (rounds 7-9) — carved out of SparkEntry.scala behind the per-round
  * registry seam (the Round11 convention): `SparkEntry.queries` /
  * `oracleSql` concatenate this object's maps. Entries are MOVED
  * VERBATIM — no behavior change; helper vals/defs stay on
  * [[SparkEntry]] (package-private) and arrive via the wildcard
  * import. */
object RoundsA {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // TPC-H Q5-shaped local-supplier volume: a 6-table join (customer,
    // orders, lineitem, supplier, nation, region) with the
    // same-nation residual — the join-reordering stress query. The
    // plan is declared flat and Catalyst orders it: dims broadcast,
    // fact tables hash-join on their keys, the year filter pushes to
    // the orders scan
    // TPC-H Q3 shape (shipping priority): segment-filtered customers x
    // orders placed before the cut x lineitems shipped after it — the
    // unshipped-revenue backlog per order, top 10. Date literals (not
    // functions) so both scans keep their PushedFilters
    "q183_shipping_priority" -> ((s, dir) =>
      Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit("1997-06-01").cast("timestamp"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > lit("1997-06-01").cast("timestamp"))
        .groupBy(col("o_orderkey"), col("o_orderdate")).agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)
        .limit(10)),


    // TPC-H Q10 shape (returned-item ranking): customers ranked by
    // revenue they returned in one quarter — the churn-investigation
    // join (customer x orders x returned lineitems x nation), top 20
    "q184_returned_customers" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_returnflag") === "R")
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name")).agg(
          round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)),


    // Cavnar–Trenkle rank-profile n-gram classification (the classic
    // n-gram language-ID algorithm, demonstrated with source as the
    // category): top-20 char-trigram profiles per class, out-of-place
    // distance, min-distance assignment — deterministic, so the whole
    // pipeline re-derives in SQL
    "q167_rank_profile_classify" -> ((s, dir) =>
      TextStats.rankProfileClassify(Tables.documents(s, dir), "text",
          "doc_id", "source", topV = 20)
        .select(col("id").as("doc_id"), col("actual"), col("predicted"),
          col("distance"))
        .orderBy(col("doc_id"))),


    // PORTABLE SemDeDup twin at q100's parameters (threshold 0.35,
    // nlist=8): the q158 deterministic centroid pick + 6dp cosine
    // replace the trained quantizer, so the cluster-then-drop pipeline
    // re-derives in SQL end-to-end — the semantic-dedup tier's oracle
    // row (q100 keeps the trained quantizer for list balance)
    "q164_semantic_dedup_portable" -> ((s, dir) =>
      Similarity.semanticDedupPortable(Tables.embeddings(s, dir),
        "vec_id", "embedding", simThreshold = 0.35, nlist = 8)),


    // winnowing fingerprints (Schleimer/Wilkerson/Aiken SIGMOD'03, the
    // MOSS selection rule): trigram hashes, windows of 4, rightmost-min
    // per window — the classic guarantee-bearing fingerprint sampler
    // (any shared run of >= w+k-1 tokens yields a shared fingerprint
    // at ~2/(w+1) density); portable md5 lane so DuckDB re-derives
    // every selection
    "q165_winnow_fingerprints" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir), "text", "doc_id",
          k = 3, w = 4)
        .select(col("id").as("doc_id"), col("pos").cast("bigint").as("pos"),
          col("fp"))
        .orderBy(col("doc_id"), col("pos"))),


    // the winnow dedup application: doc pairs sharing >= 2 selected
    // fingerprints (hot fingerprints with df > 50 dropped before the
    // inverted-index join — the banded tiers' bucket cap); fingerprints
    // come from the staged artifact, mined once per corpus
    "q166_winnow_shared_pairs" -> ((s, dir) =>
      Dedup.winnowSharedPairsFromFps(stagedWinnowFps(s, dir),
          minShared = 2L, maxDf = 50L)
        .select(col("id_a"), col("id_b"), col("shared"))),


    // sparse TF-IDF cosine similarity: term-keyed sparse dot product
    // over q57's weights, stopword-grade terms (df > 10% of corpus)
    // capped out before the pair join, norms over the surviving terms
    "q169_tfidf_cosine_pairs" -> ((s, dir) =>
      TextStats.tfidfCosinePairs(Tables.documents(s, dir), "text", "doc_id",
        minCosine = 0.5, maxDfFrac = 0.1)),


    // winnow dup clusters: the q64 pipeline with winnow shared-pair
    // candidates — fingerprint-selected pairs feed the same pointer-
    // jumping connected components, proving the tiers compose; pairs
    // come from the staged artifact (q166 keeps benchmarking the join
    // itself, the q64/q108 split)
    "q170_winnow_dup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(
        stagedWinnowPairs(s, dir).select(col("id_a"), col("id_b")))),


    // winnow-fingerprint DECONTAMINATION (even-id train vs odd-id ref,
    // the q157 split): train/ref pairs sharing >= 2 selected
    // fingerprints, boilerplate fingerprints capped across both
    // corpora. Selection is per-document, so splitting the staged
    // whole-corpus fingerprint table equals winnowing each side — the
    // same subset-stability the oracle SQL already relies on
    "q168_winnow_decontamination" -> ((s, dir) => {
      val fps = stagedWinnowFps(s, dir)
      Dedup.winnowCrossPairsFromFps(
          fps.filter(col("id") % 2 === 0),
          fps.filter(col("id") % 2 === 1),
          minShared = 2L, maxDf = 50L)
        .select(col("train_id"), col("ref_id"), col("shared"))
    }),


    // ORC round-trip (the columnar interchange tier q44/q116 cover for
    // text formats): write zstd ORC, read back, aggregate — types
    // survive exactly, so the oracle is the source table itself
    "q181_orc_roundtrip" -> ((s, dir) => {
      val out = Stage.scratch("graft_sink_q181", dir)
      etlmudah.sinks.Writers.writeOrc(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority", "o_totalprice"),
        out)
      s.read.orc(out)
        .transform(copyRoundtripAgg)
    }),


    // unigram-LM log-prob scoring per source (the perplexity-filter
    // proxy): LM trained on the corpus itself, docs scored by mean
    // token log-probability
    // cross-source rank-ensemble calibration: three deterministic
    // integer signals (token/char/distinct-type counts) percentile-
    // ranked WITHIN source, averaged into one unit-free keep/drop
    // ordering — integer-exact 6dp (score6), no engine-round seam
    "q207_rank_ensemble" -> ((s, dir) =>
      TextStats.rankEnsemble(
        Tables.documents(s, dir)
          .withColumn("n_tokens", TextStats.tokenCount(col("text")))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("n_types",
            size(array_distinct(TextStats.tokens(col("text")))).cast("long")),
        "doc_id", "source", Seq("n_tokens", "n_chars", "n_types"))),


    // interpolated Kneser-Ney bigram scoring per source — q106 with
    // the production smoothing: absolute discount 0.75 + continuation
    // probability (how many contexts a word follows), the formulation
    // real perplexity filters run
    "q188_kneser_ney_logprob" -> ((s, dir) =>
      TextStats.knBigramScore(Tables.documents(s, dir), "text", "doc_id",
        sliceCol = "source")),


    // CCNet-style perplexity buckets per source: rank docs by the KN
    // score and split into head/middle/tail tiles — the keep/drop
    // grain real curation pipelines use (Wenzek et al. 2020)
    "q189_perplexity_buckets" -> ((s, dir) =>
      TextStats.knPerplexityBuckets(Tables.documents(s, dir), "text",
        "doc_id", sliceCol = "source")),


    // THEORETICAL banding S-curve table (MMDS ch.3): catch probability
    // for every factorization of a 16-hash budget over a jaccard grid
    // — the design table q209's measured curve confirms; pure
    // driver-side computation (the q146 precedent), multiply-chain
    // arithmetic so both engines produce bit-identical doubles
    // NOTE on numbering: q215 was retired during round 8 (a draft
    // PSI-drift variant superseded by q211 before it ever shipped a
    // row); the id is left unused so recorded CORRECTNESS/BENCH
    // histories never alias two different queries under one name.
    "q214_banding_design" -> ((s, dir) =>
      Dedup.bandingDesignTable(s, k = 16)),


    // banded-tier recall CURVE: the portable MinHash candidate set
    // measured against exact-Jaccard ground truth per similarity
    // decile — SCALE.md's recall evidence promoted to a hash-checked
    // query (run on an audit slice at corpus scale). The 0.02 gate
    // deliberately includes the background-noise deciles so the row
    // set shows BOTH curve ends: ~0 recall on unrelated pairs (banding
    // correctly ignores them) and 1.0 on the near-dup decile
    "q209_banded_recall_curve" -> ((s, dir) =>
      Dedup.bandedRecallReport(Tables.documents(s, dir), "text", "doc_id",
        shingleN = 3, k = 8, bands = 4, gate = 0.02)),


    // one-sided winnow decontamination SCREEN (the decontaminationSink
    // batch twin): every-tenth doc is the static reference corpus, the
    // rest arrive for screening; the df cap runs on the REFERENCE side
    // only, so verdicts are independent of arrival batching
    "q172_winnow_screen_ref" -> ((s, dir) => {
      val fps = stagedWinnowFps(s, dir)
      Dedup.winnowScreenAgainstRef(
          fps.filter(col("id") % 10 =!= 0),
          fps.filter(col("id") % 10 === 0),
          minShared = 2L, maxDf = 50L)
        .select(col("id").as("doc_id"), col("ref_id"), col("shared"))
        .orderBy(col("doc_id"), col("ref_id"))
    }),


    // BMP PIXEL statistics — the first REAL pixel decode (24bpp
    // BI_RGB is pure byte arithmetic; the native graft_bmp_stats
    // expression walks the padded-stride rows): per-doc synthetic
    // BMPs whose pixel rule is closed-form in (doc_id, row, col),
    // every doc_id%5==0 blob truncated mid-header to prove truncation
    // yields null (counted, never a partial stat). The oracle replays
    // the statistics from the generation rule over a lateral
    // generate-series grid — it never parses a byte, so a green row
    // pins header validation, stride padding, channel order, and the
    // exact sums/mins/maxs cross-engine
    "q224_bmp_pixel_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val (wg, hg) = smallDims(id)
      val blob = Multimodal.fakeBmp24(id, wg, hg)
      val maimed = maim(blob, 5, 40)
      Tables.documents(s, dir)
        .select(wg.as("w"), hg.as("h"),
          Multimodal.bmpPixelStats(maimed).as("st"))
        .transform(pixelStatsByDims("n_imgs", "bgr"))
    }),


    // WAV SAMPLE statistics — the audio twin of q224: 16-bit PCM
    // samples decode with pure byte arithmetic (native
    // graft_wav_stats), giving the clipping peak / DC offset / RMS
    // energy audio curation actually computes. Samples are
    // closed-form in (doc_id, index); every seventh blob truncates
    // mid-data to prove partial audio yields null, never a partial
    // statistic. The oracle replays the sample rule over a
    // generate-series — never parses a byte
    "q230_wav_sample_stats" -> sampleStatsByChannels(
      Multimodal.fakeWav16, Multimodal.wavSampleStats(_)),


    // IMAGE near-dup dedup on REAL pixels: perceptual average hash
    // (8x8 nearest-neighbor grid over the decoded 24bpp rows,
    // brightness-vs-grid-mean bits, exact cross-multiplied compare)
    // grouped for duplicate images — consecutive docs share a seed,
    // so every synthetic image arrives (at least) twice and the
    // planted pairs MUST land in one group. The oracle replays the
    // whole hash from the pixel rule (grid indices are integer
    // division) — never parses a byte
    "q227_image_ahash_dedup" -> ((s, dir) => {
      val seed = plantedSeed(2)
      val blob = Multimodal.fakeBmp24(seed,
        (seed % 4 + 1).cast("int"), (seed % 3 + 1).cast("int"))
      ahashGroupSizes(Tables.documents(s, dir), Multimodal.bmpAHash(blob))
    }),


    // BMP/TIFF header ROUND TRIP — closes the raster-header set:
    // per doc the builder cycles modern BMP (signed LE32 dims) /
    // legacy BITMAPCOREHEADER (LE16) / little-endian TIFF (IFD walk,
    // SHORT values) / big-endian TIFF (SHORT + LONG values); the
    // oracle computes expected dims directly, so a green row proves
    // both DIB layouts and both TIFF byte orders decode exactly
    "q185_bmp_tiff_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val variant = element_at(array(lit("bmp"), lit("bmpcore"),
        lit("tiffii"), lit("tiffmm")), (col("doc_id") % 4 + 1).cast("int"))
      val w = (col("doc_id") % 512 + 16).cast("int")
      val h = ((col("doc_id") * 11) % 512 + 16).cast("int")
      // blob materialized as its own projection first (the q163 lesson)
      docs.select(col("doc_id"),
          Multimodal.fakeMediaHeader(variant, w, h).as("blob"))
        .transform(mediaDims)
    }),


    // MP4 (ISO-BMFF) video header ROUND TRIP — the video leg of the
    // media-metadata set: a valid MP4 head (ftyp + free + moov with
    // mvhd, an audio trak the track selection must SKIP, and the video
    // trak with a trailing stub child) is synthesized per doc cycling
    // the v0/v1 box layouts, parsed back by the two bounded box walks
    // (Multimodal.videoMeta), and duration_ms derives integer-exactly.
    // Runs on a FIXED doc_id%5 slice (ids alternate parity, so both
    // box-version layouts stay covered): this tier exists to keep the
    // interpreted HOF walk's ~2ms/row cost measured next to q203's
    // expression tier — a bounded slice benchmarks that cost honestly
    // without spending 8s of every bench pass on the known-slow path;
    // the corpus-wide decode is q203's job (identity-pinned to this)
    "q186_video_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
      val variant = element_at(array(lit("v0"), lit("v1")),
        (col("doc_id") % 2 + 1).cast("int"))
      val w = (col("doc_id") % 512 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 512 + 16).cast("int")
      val dur = (col("doc_id") * 13 + 600).cast("long")
      // blob materialized as its own projection first (the q163 lesson)
      docs.select(col("doc_id"),
          Multimodal.fakeMp4Header(variant, w, h, lit(600), dur).as("blob"))
        .select(col("doc_id"), Multimodal.videoMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.width").as("width"), col("m.height").as("height"),
          expr("m.duration * 1000 div m.timescale").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),


    // the SCALE tier of q186: the same box walk as a mapPartitions
    // byte-array codec (~µs/row vs the interpreted HOF's ~2 ms/row),
    // against q186's oracle verbatim — a green row pins the two tiers
    // equal cross-engine; MultimodalSpec pins them equal on the
    // hostile fixture grid too
    "q203_video_meta_fast" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val variant = element_at(array(lit("v0"), lit("v1")),
        (col("doc_id") % 2 + 1).cast("int"))
      val w = (col("doc_id") % 512 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 512 + 16).cast("int")
      val dur = (col("doc_id") * 13 + 600).cast("long")
      Multimodal.videoMetaScan(
          docs.select(col("doc_id"),
            Multimodal.fakeMp4Header(variant, w, h, lit(600), dur)
              .as("blob")),
          "blob", "doc_id")
        .select(col("id").as("doc_id"), col("format"), col("width"),
          col("height"),
          expr("duration * 1000 div timescale").as("duration_ms"))
        .orderBy(col("doc_id"))
    }),


    // MP3 audio header ROUND TRIP — the compressed-audio sibling of
    // q163: an ID3v2-tagged Layer III stream head is synthesized per
    // doc (pad sizes cross the 128-byte syncsafe carry; version,
    // bitrate index, sample-rate index, and channel mode all cycle
    // independently), parsed back by pure bit arithmetic
    "q187_mp3_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ver = element_at(array(lit("1"), lit("2"), lit("2.5")),
        (col("doc_id") % 3 + 1).cast("int"))
      val br = (col("doc_id") % 14 + 1).cast("int")
      val sr = floor((col("doc_id") % 9) / 3).cast("int")
      val mono = (col("doc_id") % 2).cast("int")
      val pad = ((col("doc_id") * 37) % 300).cast("int")
      docs.select(col("doc_id"),
          Multimodal.fakeMp3Header(ver, br, sr, mono, pad).as("blob"))
        .select(col("doc_id"), Multimodal.mp3Meta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.mpeg_version").as("mpeg_version"),
          col("m.layer").cast("bigint").as("layer"),
          col("m.bitrate_kbps").cast("bigint").as("bitrate_kbps"),
          col("m.sample_rate_hz").as("sample_rate_hz"),
          col("m.channels").cast("bigint").as("channels"))
        .orderBy(col("doc_id"))
    }),


    // FLAC STREAMINFO ROUND TRIP — the lossless leg of the audio set:
    // rate (20 bits), channels (3), bits/sample (5), and total
    // samples (36) are packed across byte seams, so a green row
    // proves the bit surgery exact on both encode and decode;
    // total samples crosses 32 bits on odd doc_ids
    "q191_flac_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ch = (col("doc_id") % 8 + 1).cast("int")
      val rate = element_at(array(lit(8000L), lit(22050L), lit(44100L),
        lit(96000L), lit(655350L)), (col("doc_id") % 5 + 1).cast("int"))
      val bits = element_at(array(lit(8), lit(12), lit(16), lit(24), lit(32)),
        (col("doc_id") % 5 + 1).cast("int"))
      val n = col("doc_id") * 977L + (col("doc_id") % 2) * 4294967296L
      docs.select(col("doc_id"),
          Multimodal.fakeFlacHeader(ch, rate, bits, n).as("blob"))
        .select(col("doc_id"), Multimodal.flacMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").cast("bigint").as("channels"),
          col("m.sample_rate_hz").as("sample_rate_hz"),
          col("m.bits_per_sample").cast("bigint").as("bits_per_sample"),
          col("m.total_samples").as("total_samples"))
        .orderBy(col("doc_id"))
    }),


    // Ogg identification-header ROUND TRIP — the audio container the
    // WAV/MP3/FLAC decoders don't cover: a valid first page (BOS flag,
    // one-packet segment table) is synthesized per doc alternating
    // Vorbis and Opus; the decoder skips the page header via the
    // segment count and dispatches the codec on first-packet magic
    "q195_ogg_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val codec = element_at(array(lit("vorbis"), lit("opus")),
        (col("doc_id") % 2 + 1).cast("int"))
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = element_at(array(lit(8000L), lit(44100L), lit(48000L)),
        (col("doc_id") % 3 + 1).cast("int"))
      val preSkip = (col("doc_id") % 1000 + 1).cast("int")
      // blob materialized as its own projection first (the q163 lesson)
      docs.select(col("doc_id"),
          Multimodal.fakeOggHeader(codec, ch, rate, preSkip).as("blob"))
        .select(col("doc_id"), Multimodal.oggMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").cast("bigint").as("channels"),
          col("m.sample_rate_hz").as("sample_rate_hz"),
          col("m.pre_skip_samples").cast("bigint").as("pre_skip_samples"))
        .orderBy(col("doc_id"))
    }),


    // WebP header ROUND TRIP — q155 for the fourth dominant web
    // format: a valid WebP (RIFF) header is synthesized per doc
    // cycling the VP8 (lossy 14-bit dims) / VP8L (lossless packed
    // 14+14-bit) / VP8X (extended 24-bit canvas) variants, then parsed
    // back by the byte-arithmetic decoder; the oracle computes the
    // expected dimensions directly, so a green row proves every
    // variant's bit layout encodes and decodes exactly
    "q171_webp_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val variant = element_at(array(lit("vp8"), lit("vp8l"), lit("vp8x")),
        (col("doc_id") % 3 + 1).cast("int"))
      val w = (col("doc_id") % 512 + 16).cast("int")
      val h = ((col("doc_id") * 7) % 512 + 16).cast("int")
      // blob materialized as its own projection first (the q163 lesson)
      docs.select(col("doc_id"),
          Multimodal.fakeWebpHeader(variant, w, h).as("blob"))
        .transform(mediaDims)
    }),


    // cluster-balanced DIVERSITY sample: q158's portable assignment +
    // the q89 md5-ordered cap, composed — dense semantic regions
    // contribute at most perCluster docs, sparse regions keep all;
    // the whole pipeline (pick, argmax, cap) replays in SQL
    "q208_cluster_balanced_sample" -> ((s, dir) =>
      etlmudah.scale.Sampling.clusterBalancedSample(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        nlist = 8, perCluster = 32, salt = "cbs")),


    // Matryoshka truncation fidelity: top-k on the 16-dim embedding
    // prefix vs full 64-dim ground truth, overlap per probe — the
    // evaluation that must sit next to a truncate-and-serve ANN dial
    // BINARY QUANTIZATION serving tier, oracle-checked end to end:
    // sign-bit packed signatures (32x storage cut), Hamming-distance
    // candidates via bit_count(xor) — exact integer bit arithmetic
    // cross-engine — and the exact 6dp cosine rerank on only the
    // candK survivors; both top-k windows probe-keyed
    "q225_binary_hamming_topk" -> ((s, dir) =>
      etlmudah.scale.Similarity.binaryHammingTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dims = 64, nprobe = 5, candK = 50, k = 10)),


    // the binary tier's recall@10 at the production candK=50 dial —
    // deterministic end to end, so the metric itself hash-checks
    "q229_binary_recall" -> ((s, dir) =>
      etlmudah.scale.Similarity.binaryRecallReport(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        dims = 64, nprobe = 5, candK = 50, k = 10)),


    "q210_matryoshka_recall" -> ((s, dir) =>
      Similarity.matryoshkaRecall(Tables.embeddings(s, dir),
        "vec_id", "embedding", dPrime = 16, k = 10, nProbes = 10)),


    // SEMANTIC drift gate: even-id vecs = reference snapshot, odd-id =
    // current; both assigned to the reference's q158 centroids, PSI
    // over the cluster shares — topical drift the scalar stats miss
    "q211_semantic_drift_psi" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticDriftPsi(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding", nlist = 8)
    }),


    // PORTABLE Product-Quantization encode (Jégou et al. — the memory
    // answer for billion-vector ANN; int8 (q77) compresses 4x, PQ 32x):
    // md5-ranked codebook pick per subspace, integer-lattice argmin-L2
    // assignment with lowest-code ties — every step BIGINT-exact, so
    // the full encode gains a hash-checked oracle row
    "q177_pq_codes" -> ((s, dir) =>
      Similarity.pqEncodePortable(Tables.embeddings(s, dir),
        "vec_id", "embedding", m = 8, codes = 16)),


    // PQ Asymmetric Distance Computation top-k (the FAISS serving
    // path): per-probe (sub, code) lookup table broadcast, corpus
    // scored by m table lookups — no vector moves to score a
    // candidate; integer-exact, oracle re-derives pick/encode/LUT/rank
    "q178_pq_adc_topk" -> ((s, dir) =>
      Similarity.pqAdcTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", nprobe = 5, k = 10, m = 8, codes = 16)),


    // IVF-PQ COMPOSED (FAISS IndexIVFPQ, the billion-vector serving
    // path): q158's coarse lists prune candidates to each probe's 2
    // closest lists, q178's ADC LUT ranks only those — the oracle pins
    // the property neither tier alone checks: a vector outside the
    // probed lists never appears, however close its ADC distance
    "q179_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Tables.embeddings(s, dir),
        "vec_id", "embedding", nlist = 8, nprobeLists = 2,
        nprobe = 5, k = 10, m = 8, codes = 16)),


    // hashed-feature linear quality scorer (the fastText/FineWeb-Edu
    // model-gate SHAPE): md5-lattice weights over hashed-trick token
    // buckets, BIGINT sum, one division — a trained model drops in as
    // a broadcast weight table; the oracle re-derives every score
    "q180_quality_scorer" -> ((s, dir) =>
      etlmudah.text.TextStats.hashedLinearScore(
          Tables.documents(s, dir), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_tokens"), col("score"))
        .orderBy(col("doc_id"))),


    // BPE tokenizer training on-engine (rows-only: iterative,
    // data-dependent argmax per round — not SQL-expressible; serial
    // replay in TextStatsSpec is the correctness gate). nMerges=16
    // keeps the bench round count honest while exercising the loop
    "q161_bpe_merges" -> ((s, dir) =>
      TextStats.bpeMerges(Tables.documents(s, dir), "text",
          nMerges = 16)
        .orderBy(col("rank"))),


    // BPE APPLY: merges learned on the even-id train split segment the
    // odd-id held-out split — per-source fertility report (rows-only:
    // consumes the iterative trainer's model; serial replay in
    // TextStatsSpec). The <= nMerges-row collect IS the model.
    "q162_bpe_segment_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = TextStats.bpeMerges(
          docs.filter(col("doc_id") % 2 === 0), "text", nMerges = 16)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.bpeSegmentReport(
        docs.filter(col("doc_id") % 2 === 1), "text", "source", merges)
    }),


    // WAV (RIFF) audio header ROUND TRIP — the audio sibling of q155:
    // a valid PCM WAV header (odd-sized LIST filler between WAVE and
    // fmt, so the pad-byte chunk walk is exercised; data declared
    // last) is synthesized per doc, parsed back by the byte-arithmetic
    // chunk walker (Multimodal.audioMeta), and duration derives from
    // the recovered fields with integer-exact math
    "q163_audio_meta_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = element_at(array(lit(8000L), lit(16000L), lit(22050L),
        lit(44100L), lit(48000L)), (col("doc_id") % 5 + 1).cast("int"))
      val bits = element_at(array(lit(8), lit(16), lit(24), lit(32)),
        (col("doc_id") % 4 + 1).cast("int"))
      val db = (col("doc_id") % 100000L + 1000L).cast("long")
      // the blob is materialized as its OWN projection before the
      // decoder touches it — in production the binary column is a scan
      // attribute, and inlining the synth tree instead makes the walk's
      // every byte read re-evaluate the whole unhex(concat(...)) build
      // (measured 50x slower); CollapseProject keeps the split because
      // the alias is non-cheap and multiply-referenced
      docs.select(col("doc_id"),
          Multimodal.fakeWavHeader(ch, rate, bits, db).as("blob"))
        .select(col("doc_id"), Multimodal.audioMeta(col("blob")).as("m"))
        .select(col("doc_id"), col("m.format").as("format"),
          col("m.channels").cast("bigint").as("channels"),
          col("m.sample_rate_hz").as("sample_rate_hz"),
          col("m.bits_per_sample").cast("bigint").as("bits_per_sample"),
          col("m.data_bytes").as("data_bytes"))
        .withColumn("duration_ms", expr(
          "data_bytes * 8000 div (sample_rate_hz * channels * bits_per_sample)"))
        .orderBy(col("doc_id"))
    }),


    // top event PATHS (q141 extended from bigrams to trigram paths):
    // the most common 3-step event-type sequences per user stream
    "q213_event_paths" -> ((s, dir) =>
      etlmudah.analytics.Events.eventPaths(Tables.eventsTyped(s, dir),
        "ts", "user_id", "event_type", "event_id", len = 3, topK = 20)),


    // integer-lattice PageRank over the part co-purchase graph (parts
    // sharing an order link both ways, weight = co-occurrence count):
    // BIGINT-exact teleport/damping arithmetic — Spark `div` and DuckDB
    // `//` agree on non-negatives — so the oracle replays all 3
    // unrolled rounds and hash-matches, no epsilon envelope
    "q218_part_pagerank" -> ((s, dir) =>
      etlmudah.graph.Centrality.pageRankInt(
        etlmudah.graph.Centrality.cooccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey"),
        iters = 3)),


    // per-part triangle participation over the REPEAT-co-purchase graph
    // (weight >= 2, the significance prefilter): degree-ordered
    // orientation generates each triangle exactly once via equi-joins
    // only — the clustering-vs-star diagnostic on affinity graphs.
    // Consumes the staged edge artifact (q218 benchmarks the live
    // mine); src < dst keeps one direction of the symmetric edges,
    // which IS cooccurrencePairs' output by construction
    "q220_part_triangles" -> ((s, dir) =>
      etlmudah.graph.Centrality.triangleStats(
        stagedCoEdges(s, dir)
          .filter(col("src") < col("dst") && col("weight") >= 2L)
          .select(col("src").as("u"), col("dst").as("v")))),


    // TextRank keywords: the graph tier composed with the text tier —
    // PageRank over the undirected word-adjacency graph on md5-60bit
    // word ids; vocab-sized iteration regardless of corpus size
    "q221_textrank_keywords" -> ((s, dir) =>
      TextStats.textRankKeywords(Tables.documents(s, dir),
        "text", "doc_id", iters = 3, topK = 20)),


    // blocked fuzzy record linkage over the DISTINCT part-name entity
    // table (canonical id = min partkey per name): first-token
    // blocking, native codegen'd graft_jaro_winkler refine, threshold
    // on the ROUNDED sim so the DuckDB twin (its own
    // jaro_winkler_similarity, convention spec-pinned) keeps the
    // identical row set
    "q219_fuzzy_link_parts" -> ((s, dir) =>
      etlmudah.joins.Joins.fuzzyLinkPairs(
        Tables.part(s, dir).groupBy(col("p_name"))
          .agg(min(col("p_partkey")).as("id")),
        "id", "p_name", minSim = 0.85)),


    // mojibake (encoding-damage) scan per source: deterministic damage
    // injected on every third doc (the q176 dirty-synthesis precedent),
    // lead-character markers counted by one codegen'd regexp_count
    "q212_mojibake_scan" -> ((s, dir) => {
      val dirty = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(mojibakeSuffix))).otherwise(col("text"))
      TextStats.mojibakeScan(
        Tables.documents(s, dir).withColumn("text", dirty),
        "text", "doc_id", "source")
    }),


    // WEB-CURATION composite (q114's composition proof for the round-8
    // web tier): unicode normalize -> hashed-model score gate -> exact
    // dedup on the CLEANED text -> per-registered-domain cap -> domain
    // report. Every stage is deterministic/portable, so the WHOLE
    // chain carries ONE oracle — min/max score are order statistics of
    // 6dp-rounded per-doc values, exact cross-engine (an avg would
    // re-introduce float summation order)
    "q182_web_curation" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("url",
          etlmudah.web.Web.fakeUrl(col("doc_id"), col("source")))
        .withColumn("clean_text", TextStats.cleanText(col("text")))
      val gate = TextStats.hashedLinearScore(base, "clean_text", "doc_id")
        .filter(col("score") >= -0.01)
        .select(col("id").as("doc_id"), col("score"))
      val deduped = Dedup.exactDedup(base.join(gate, Seq("doc_id")),
        "clean_text", "doc_id")
      etlmudah.web.Web.domainCap(deduped, "url", "doc_id", cap = 10,
          salt = "webcur")
        .groupBy(col("domain")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("clean_text"))).as("n_tokens"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("domain"))
    }),


    // per-REGISTERED-DOMAIN curation report (the FineWeb/RefinedWeb
    // grain): synthetic URLs (testdata has no url column — the
    // fakeMediaHeader precedent) -> host regexp -> eTLD+1 via the
    // multi-suffix heuristic -> one domain-keyed aggregate; the share
    // window runs over the aggregated (domain-sized) frame. A green
    // row proves host parsing AND suffix normalization replay exactly
    "q174_domain_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      etlmudah.web.Web.domainStats(
        docs.withColumn("url",
          etlmudah.web.Web.fakeUrl(col("doc_id"), col("source"))),
        "url", "text")
    }),


    // per-registered-domain document cap (q89's quota at the domain
    // grain RefinedWeb actually uses): md5-uniform deterministic order
    // through the same capPerStratum window
    "q175_domain_cap" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      etlmudah.web.Web.domainCap(
          docs.withColumn("url",
            etlmudah.web.Web.fakeUrl(col("doc_id"), col("source"))),
          "url", "doc_id", cap = 10)
        .groupBy(col("domain")).agg(
          count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("domain"))
    }),


    // URL canonicalization ROUND TRIP — the dedup key web pipelines
    // group on: per doc, TWO messy spellings of the same page (upper
    // case + www + :443 + shuffled params + a tracking param + a
    // fragment + trailing slash vs a plain form with a different
    // tracking param) both canonicalize; the oracle carries the
    // CLOSED-FORM clean URL, so a green row proves every rule —
    // case, www, default port, param filter+sort, fragment, slash —
    // lands exactly, and both_agree proves the variants collide
    "q190_url_canonical_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val id = col("doc_id")
      val suffix = element_at(
        array(lit("com"), lit("org"), lit("co.uk"), lit("com.my")),
        (id % 4 + 1).cast("int"))
      val base = concat(lit("d"), (id % 7).cast("string"), lit("."), suffix)
      val messyA = concat(lit("HTTPS://WWW."), upper(base), lit(":443/p/"),
        id.cast("string"), lit("/?b=2&utm_source="), col("source"),
        lit("&a=1#sec"))
      val messyB = concat(lit("https://"), base, lit("/p/"),
        id.cast("string"), lit("?a=1&b=2&fbclid=x"))
      docs.select(id,
          etlmudah.web.Web.canonicalUrl(messyA).as("canonical"),
          (etlmudah.web.Web.canonicalUrl(messyA) ===
            etlmudah.web.Web.canonicalUrl(messyB)).as("both_agree"))
        .orderBy(id)
    }),


    // HTML -> text extraction (the first transform of every web-crawl
    // corpus): each doc's text wrapped in a deterministic synthetic
    // page — style + script-with-hostile-body + comment + entities +
    // block/inline tags — then pushed through all five htmlToText
    // passes; the oracle replays synthesis AND extraction pass by
    // pass, so a green row proves the element drops, the block-tag
    // newlines, the tag strip, the entity decode ORDER (&amp; last),
    // and the whitespace collapse all land engine-exactly
    "q192_html_to_text" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.select(col("doc_id"),
          etlmudah.web.Web.htmlToText(
            etlmudah.web.Web.fakeHtml(col("doc_id"), col("text")))
            .as("clean_text"))
        .orderBy(col("doc_id"))
    }),


    // crawl-policy gate: the robots meta directives of each synthetic
    // page (noindex/none pages asked not to be kept — the compliance
    // filter run before any content processing); the oracle carries
    // the CLOSED-FORM expected directives, so a green row proves the
    // extraction (both attribute orders, case fold, word-boundary
    // noindex test) without ever replicating the parser
    "q196_robots_policy" -> ((s, dir) => {
      val id = col("doc_id")
      val robots = element_at(array(lit("noindex, follow"),
        lit("index, follow"), lit("NONE"), lit(null).cast("string")),
        (id % 4 + 1).cast("int"))
      Tables.documents(s, dir)
        .select(id, etlmudah.web.Web.fakeHtml(id, col("text"), robots)
          .as("page"))
        .select(id,
          etlmudah.web.Web.metaRobots(col("page")).as("robots_directives"),
          etlmudah.web.Web.metaNoindex(col("page")).as("noindex"))
        .orderBy(id)
    }),


    // blocklist / safety-wordlist gate (the C4 "bad words" scan):
    // per-(source, fired-term-set) doc counts and total hits; term
    // matching is case-insensitive on word boundaries, the fired set
    // is lowercased+sorted verdict text — fully engine-portable, so
    // the oracle replays the scan with the identical pattern
    "q193_blocklist_scan" -> ((s, dir) => {
      val terms = Seq("spark", "slow")
      Tables.documents(s, dir).select(col("source"),
          TextStats.blocklistHitCount(col("text"), terms).as("n_hits"),
          TextStats.blocklistTermsHit(col("text"), terms).as("terms_hit"))
        .groupBy(col("source"), col("terms_hit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_hits")).as("n_hits"))
        .orderBy(col("source"), col("terms_hit"))
    }),


    // ON-ENGINE CLASSIFIER TRAINING, oracle-checked: 3 full-batch
    // logistic-regression steps over hash-trick token features with
    // every gradient a 6dp-scaled BIGINT sum and every float tree
    // fixed — the oracle replays the ENTIRE training loop (w0=0 ->
    // p=0.5 -> gradient -> update, x3) and must land on bit-identical
    // weights; labels are the deterministic contains('spark') rule
    "q198_hashed_lr_train" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      TextStats.trainHashedLogReg(docs, "text", "doc_id", "y",
          buckets = 16, steps = 3, lr = 0.02)
        .orderBy(col("bucket"))
    }),


    // the trained model CONSUMED (hashedLinearScore's promised
    // "trained model drops in"): q198's weights score every doc; the
    // per-label min/max of the 6dp scores are order statistics (exact
    // cross-engine, the q182 discipline) and show the separation the
    // 3 steps learned
    "q199_lr_train_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      val w = stagedLrWeights(s, dir)
      TextStats.scoreWithWeights(docs, "text", "doc_id", w, buckets = 16)
        .join(docs.select(col("doc_id").as("id"), col("y")), Seq("id"))
        .groupBy(col("y")).agg(
          count(lit(1)).as("n_docs"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("y"))
    }),


    // HOLDOUT evaluation — the proper protocol composed from existing
    // tiers: q49's md5 split partitions the corpus, training sees ONLY
    // the train split, and AUC is measured on the untouched test
    // split; the whole protocol (split -> ladder-on-train ->
    // score-test -> integer AUC) replays in the oracle, so even the
    // generalization measurement is hash-checked
    "q205_lr_holdout_auc" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      val split = etlmudah.scale.Sampling.hashSplit(docs, "doc_id",
        Seq(("train", 0.8), ("val", 0.9), ("test", 1.0)))
      val train = split.filter(col("split") === "train")
      val test = split.filter(col("split") === "test")
      val w = TextStats.trainHashedLogReg(train, "text", "doc_id", "y",
        buckets = 16, steps = 3, lr = 0.02)
      val scored = TextStats.scoreWithWeights(test, "text", "doc_id", w,
          buckets = 16)
        .join(test.select(col("doc_id").as("id"), col("y")), Seq("id"))
      Analytics.binaryAuc(scored, "score", "y")
        .select(lit("holdout").as("eval_split"), col("n_pos"), col("n_neg"),
          col("auc"))
    }),


    // CALIBRATION table of the trained model (the reliability-diagram
    // data, completing the eval suite: q198 train, q200 loss, q201
    // AUC): deciles over (score, id) — deterministic ties, the q189
    // ntile discipline — with observed positive rate per decile; a
    // healthy ranking model shows pos_rate rising with the decile
    "q204_lr_calibration" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      val w = stagedLrWeights(s, dir)
      val scored = TextStats.scoreWithWeights(docs, "text", "doc_id", w,
          buckets = 16)
        .join(docs.select(col("doc_id").as("id"), col("y")), Seq("id"))
      Analytics.calibrationTable(scored, "score", "y", "id", bins = 10)
    }),


    // WEB-CURATION v2 — the round's new tiers COMPOSED in one
    // statement: synthetic page (with robots meta) -> metaNoindex
    // policy filter -> htmlToText extraction -> blocklist gate on the
    // EXTRACTED text -> hashed-model score gate -> per-domain cap ->
    // domain report. The oracle carries the CLOSED-FORM extracted text
    // (q190 style: the extractor is never replicated, only its known
    // answer on the synthetic page), replays robots policy from the
    // doc_id rule, and re-derives blocklist/score/cap — a green row
    // proves the WHOLE funnel lands engine-exactly
    "q202_web_curation_v2" -> ((s, dir) => {
      import etlmudah.web.Web
      val docs = Tables.documents(s, dir)
      val id = col("doc_id")
      val robots = element_at(array(lit("noindex, follow"),
        lit("index, follow"), lit("NONE"), lit(null).cast("string")),
        (id % 4 + 1).cast("int"))
      val pages = docs.select(id, col("source"), col("text"),
        Web.fakeHtml(id, col("text"), robots).as("page"))
      val extracted = pages
        .filter(!Web.metaNoindex(col("page")))
        .withColumn("etext", Web.htmlToText(col("page")))
      val gated = extracted
        .filter(TextStats.blocklistHitCount(col("etext"), Seq("slow")) <= 2)
      val scored = TextStats.hashedLinearScore(gated, "etext", "doc_id")
        .select(col("id").as("doc_id"), col("score"))
      val kept = gated.join(scored, Seq("doc_id"))
        .filter(col("score") >= -0.005)
        .withColumn("url", Web.fakeUrl(id, col("source")))
      Web.domainCap(kept, "url", "doc_id", cap = 5, salt = "wc2")
        .groupBy(col("domain")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("etext"))).as("n_tokens"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("domain"))
    }),


    // robots.txt PATH-rule gate (RFC 9309): per-host Allow/Disallow
    // path rules with * wildcards and $ anchors, longest-match wins,
    // allow wins ties, no-rule hosts default allowed. The rule set is
    // a deterministic literal table over the synthetic URL space, so
    // the oracle replays rule compilation (escape chain -> LIKE) and
    // resolution verbatim — a green row pins precedence, wildcard,
    // anchor, and default semantics cross-engine
    "q226_robots_path_gate" -> ((s, dir) => {
      import etlmudah.web.Web
      import s.implicits._
      val id = col("doc_id")
      val rules = Seq(
        ("www.d1.org", "disallow", "/src"),      // broad block...
        ("www.d1.org", "allow", "/src3"),        // ...longer allow wins
        ("blog.d2.com", "disallow", "/*/1*"),    // wildcard mid-pattern
        ("www.d3.org", "disallow", "/*/45$"),    // anchored exact doc
        ("www.d4.com.my", "allow", "/"),         // explicit allow-all...
        ("www.d4.com.my", "disallow", "/src9"))  // ...longer disallow wins
        .toDF("host", "directive", "path")
      val pages = Tables.documents(s, dir)
        .select(id, Web.fakeUrl(id, col("source")).as("url"))
      Web.robotsPathGate(pages, "url", "doc_id", rules)
        .select(lower(Web.urlHost(col("url"))).as("host"),
          col("crawl_allowed"))
        .groupBy(col("host")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("crawl_allowed").cast("int")).cast("long").as("n_allowed"))
        .orderBy(col("host"))
    }),


    // ANCHOR-TEXT profile per target domain — the second link-graph
    // curation signal (what other pages CALL a domain): anchors are
    // injected closed-form (term cycles on doc_id per link slot), so
    // the oracle carries the known (target host, term) pairs and
    // replays the domain CASE + count + top-k window; the extractor
    // (paired regexp groups zipped in match order) is never replicated
    "q228_anchor_text_profile" -> ((s, dir) => {
      import etlmudah.web.Web
      val id = col("doc_id")
      val words = array(lit("great"), lit("cheap"), lit("fast"), lit("new"))
      val anchors = array(
        element_at(words, ((id + 1) % 4 + 1).cast("int")),
        element_at(words, ((id + 2) % 4 + 1).cast("int")))
      val pages = Tables.documents(s, dir).select(
        Web.fakeHtml(id, col("text"), lit(null).cast("string"),
          Web.fakeLinkUrls(id), anchors).as("page"))
      Web.anchorTermProfile(pages, "page", topK = 3)
    }),


    // HOST LINK-GRAPH centrality — the CommonCrawl/FineWeb curation
    // prior (rank hosts, then select documents): absolute hrefs are
    // extracted from the synthetic pages (closed-form link injection:
    // each page links the fakeHosts of docId+1 and 3*docId+5, so the
    // oracle carries the KNOWN targets and never replicates the
    // extractor), host->host edges aggregate, and the integer-lattice
    // PageRank runs 3 BIGINT-exact rounds on md5-60bit host ids — the
    // oracle replays them unrolled and hash-matches. Mines LIVE (the
    // q218 discipline); q223 consumes the staged edge artifact
    "q222_host_link_rank" -> ((s, dir) => {
      import etlmudah.web.Web
      val pages = fakePages(s, dir)
      Web.hostRank(Web.hostLinkEdges(pages, "url", "page"), iters = 3)
    }),


    // WEB-CURATION v3 — the link-graph prior JOINED INTO the funnel
    // (FineWeb: rank hosts by centrality BEFORE selecting documents):
    // staged host edges -> integer PageRank -> keep hosts ranking
    // above the uniform baseline (rank > scale div |hosts|, exact
    // BIGINT — a host with any in-link endorsement clears it, a
    // no-in-link host's 0.15 teleport floor cannot) -> extraction ->
    // per-domain cap -> domain report carrying the centrality
    // evidence (max host rank per domain). The gate's |hosts| count
    // rides ONE window over the AGGREGATED rank frame, never the
    // corpus; the kept-host table broadcasts into the page join
    "q223_web_curation_v3" -> ((s, dir) => {
      import etlmudah.web.Web
      import org.apache.spark.sql.expressions.Window
      val id = col("doc_id")
      val pages = Tables.documents(s, dir).select(
        id, col("source"),
        Web.fakeUrl(id, col("source")).as("url"),
        Web.fakeHtml(id, col("text"), lit(null).cast("string"),
          Web.fakeLinkUrls(id)).as("page"))
        .withColumn("host", Web.urlHost(col("url")))
      val kept = Web.hostRank(stagedHostEdges(s, dir), iters = 3)
        .withColumn("nh", count(lit(1)).over(Window.partitionBy()))
        .filter(col("rank") > expr("1000000000000L div nh"))
        .select(col("host"), col("rank"))
      val gated = pages.join(broadcast(kept), Seq("host"))
        .withColumn("etext", Web.htmlToText(col("page")))
      Web.domainCap(gated, "url", "doc_id", cap = 5, salt = "wc3")
        .groupBy(col("domain")).agg(
          count(lit(1)).as("n_docs"),
          sum(TextStats.tokenCount(col("etext"))).as("n_tokens"),
          max(col("rank")).as("max_host_rank"))
        .orderBy(col("domain"))
    }),


    // EXACT model evaluation: Mann–Whitney AUC (average-rank ties,
    // BIGINT rank sums, one final division) of the trained q198 model
    // vs the untrained md5-lattice baseline on the same labels — the
    // eval metric itself is oracle-checked, and the row pair SHOWS the
    // training lifted AUC above the unsupervised baseline
    "q201_model_auc_eval" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      val labels = docs.select(col("doc_id").as("id"), col("y"))
      val w = stagedLrWeights(s, dir)
      val trained = TextStats.scoreWithWeights(docs, "text", "doc_id", w,
          buckets = 16)
        .join(labels, Seq("id"))
      val baseline = TextStats.hashedLinearScore(docs, "text", "doc_id")
        .join(labels, Seq("id"))
      Analytics.binaryAuc(trained, "score", "y")
        .select(lit("trained").as("model"), col("n_pos"), col("n_neg"),
          col("auc"))
        .unionByName(Analytics.binaryAuc(baseline, "score", "y")
          .select(lit("untrained").as("model"), col("n_pos"), col("n_neg"),
            col("auc")))
        .orderBy(col("model"))
    }),


    // q198's convergence DIAGNOSTIC: per-step total cross-entropy as a
    // 6dp-scaled BIGINT sum (order-independent), one row per step plus
    // the trained-weights row — the oracle replays the ladder and the
    // loss expression, so even "is the loss falling" is hash-checked
    "q200_lr_loss_curve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("y", col("text").contains("spark").cast("int"))
      TextStats.trainHashedLogRegLoss(docs, "text", "doc_id", "y",
          buckets = 16, steps = 3, lr = 0.02)
        .orderBy(col("step"))
    }),


    // the SCALE tier of q193 (mapPartitions token-set membership —
    // O(text) per row, constant in blocklist size) producing q193's
    // exact aggregate against q193's exact oracle: a green row pins
    // the whole-token == word-boundary-regex equivalence cross-engine
    "q197_blocklist_scan_large" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextStats.blocklistScanLarge(docs, "text", "doc_id",
          Seq("spark", "slow"))
        .join(docs.select(col("doc_id").as("id"), col("source")), Seq("id"))
        .groupBy(col("source"), col("terms_hit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_hits")).as("n_hits"))
        .orderBy(col("source"), col("terms_hit"))
    }),


    // Flesch reading-ease per doc: the rule-based readability tier
    // next to the trained quality scorer; three codegen'd regexp
    // counts, score left UNROUNDED (identical IEEE tree both engines)
    "q217_readability" -> ((s, dir) =>
      TextStats.readability(Tables.documents(s, dir), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")),


    // epoch-CAPPED mixture plan (q137 with the Muennighoff repetition
    // ceiling): exact closed-form water-filling — integer 1:2:3:4
    // weight parts cycling by source index, 4-epoch cap, BIGINT-exact
    // saturation prefix and allocations; at the gate SF the 80k budget
    // saturates part of the order so both branches are exercised
    "q216_epoch_plan" -> ((s, dir) =>
      etlmudah.scale.Sampling.epochPlan(
        Tables.documents(s, dir)
          .withColumn("n_tokens", TextStats.tokenCount(col("text"))),
        "source", "n_tokens",
        (0 until 20).map(i => s"src$i" -> ((i % 4) + 1).toLong).toMap,
        budget = 80000L, maxEpochs = 4)),


    // export MANIFEST over q138's shard assignment: per-shard count,
    // unit total, key range, and an order-independent 48-bit-md5-lane
    // id-set checksum — the integrity artifact a consumer verifies a
    // multi-TB export against (Writers.verifyShardedExport recomputes
    // this exact frame from the data files); every column including
    // the checksum re-derived by the oracle
    "q194_shard_manifest" -> ((s, dir) =>
      etlmudah.sinks.Writers.shardManifest(Tables.documents(s, dir),
          "doc_id", "n_chars", shardBudget = 50000L)
        .orderBy(col("shard"))),


    // FUZZY dedup refine: character-level edit similarity over
    // shingle-gated candidates — order-exact where Jaccard is
    // order-blind (a paragraph shuffle scores jaccard ~1 but low
    // edit_sim); banded DP bounded by the candidate tier
    "q173_edit_similarity_pairs" -> ((s, dir) =>
      Dedup.editSimilarityPairs(Tables.documents(s, dir), "text", "doc_id",
        jaccardGate = 0.3, minEditSim = 0.98)),


    // contrastive triplet mining for retriever training: per anchor,
    // best near-dup positive (jac >= 0.8) + best HARD negative (the
    // below-threshold pairs the same inverted index surfaces); the
    // low negLo is a demo dial — at scale feed tripletsFromPairs a
    // staged banded pair table
    "q206_contrastive_triplets" -> ((s, dir) =>
      Dedup.contrastiveTriplets(Tables.documents(s, dir), "text",
        "doc_id", posMin = 0.8, negLo = 0.005)),


    // unicode cleanup ladder APPLIED (the normalize step q120's
    // diagnostics recommend): dirty text synthesized per doc — control
    // chars, curly quotes, doubled spaces, en dash, NBSP — then pushed
    // through all three cleanText passes; the oracle replays synthesis
    // AND cleaning, so a green row proves the control-class regex, the
    // translate fold, and the whitespace collapse match engine-exactly
    "q176_text_clean" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dirty = concat(lit("\u0007 \u201C"),
        regexp_replace(col("text"), " ", "  "),
        lit("\u201D \u2013 \u00A0end\u0001"))
      docs.select(col("doc_id"), TextStats.cleanText(dirty).as("clean_text"))
        .orderBy(col("doc_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(

    "q209_banded_recall_curve" -> bandedRecallSql(8, 4, 0.02),

    "q214_banding_design" ->
      bandingDesignSql(16, (1 to 9).map(_ / 10.0)),


    // WAV round trip: the oracle computes the expected header fields
    // directly from doc_id, so a green row proves encode -> chunk-walk
    // parse recovers channels/rate/bits/data bytes exactly (including
    // the odd-LIST pad skip), and the duration math agrees integer-for-
    // integer across engines
    "q163_audio_meta_roundtrip" ->
      """SELECT doc_id, 'wav' AS format,
        |  (doc_id % 2 + 1)::BIGINT AS channels,
        |  list_extract([8000,16000,22050,44100,48000],
        |    (doc_id % 5 + 1)::INT)::BIGINT AS sample_rate_hz,
        |  list_extract([8,16,24,32],
        |    (doc_id % 4 + 1)::INT)::BIGINT AS bits_per_sample,
        |  (doc_id % 100000 + 1000)::BIGINT AS data_bytes,
        |  ((doc_id % 100000 + 1000) * 8000) //
        |    (list_extract([8000,16000,22050,44100,48000],
        |       (doc_id % 5 + 1)::INT)
        |     * (doc_id % 2 + 1)
        |     * list_extract([8,16,24,32], (doc_id % 4 + 1)::INT))
        |    AS duration_ms
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // portable SemDeDup: deterministic centroid pick + argmax-cosine
    // assignment (the q158 construct), then the non-iterative
    // within-cluster drop rule — b drops iff some cluster-mate a < b
    // has 6dp-rounded cosine >= 0.35; kept_by is the most-similar such
    // mate (ties -> lowest id)
    "q164_semantic_dedup_portable" ->
      s"""WITH ${ivfCentroidCtes},
         |scored AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    round(list_cosine_similarity(e.embedding::DOUBLE[],
         |      c.cvec::DOUBLE[]), 6) AS cs
         |  FROM embeddings e CROSS JOIN c),
         |assigned AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT vec_id, embedding, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY cs DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |pairs AS (
         |  SELECT b.vec_id, a.vec_id AS keep_id,
         |    round(list_cosine_similarity(a.embedding::DOUBLE[],
         |      b.embedding::DOUBLE[]), 6) AS cos
         |  FROM assigned a JOIN assigned b
         |    ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT vec_id, keep_id AS kept_by, cos AS max_cos FROM (
         |  SELECT vec_id, keep_id, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, keep_id ASC) AS rn
         |  FROM pairs WHERE cos >= 0.35)
         |WHERE rn = 1 ORDER BY vec_id""".stripMargin,


    // winnowing: trigram md5-lane hashes, trailing windows of 4,
    // rightmost-min selection. The sortable key h || lpad(1e9 - pos)
    // encodes (hash asc, pos desc) so a plain min() replicates the
    // robust-winnowing tie-break; rn >= w admits every full window,
    // rn = total admits the short-doc whole-doc window
    "q165_winnow_fingerprints" ->
      (winnowSelSql + """
        |SELECT doc_id, pos, fp FROM sel ORDER BY doc_id, pos""".stripMargin),


    // Cavnar–Trenkle: char-trigram counts per doc (one lateral offset
    // scan), class counts summed FROM the doc counts, both rank
    // profiles top-20 with (count desc, gram asc) ties, out-of-place
    // distance with topV penalty for absent grams, min-distance class
    // (ties -> class asc)
    "q167_rank_profile_classify" ->
      """WITH base AS (
        |  SELECT doc_id, source AS cls, lower(text) AS t FROM documents
        |  WHERE len(lower(text)) >= 3),
        |g AS (
        |  SELECT doc_id, cls, substr(t, i::INT, 3) AS g
        |  FROM (SELECT doc_id, cls, t,
        |          unnest(generate_series(1, len(t) - 2)) AS i
        |        FROM base)),
        |dg AS (SELECT doc_id, cls, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
        |cg AS (SELECT cls, g, sum(c) AS c FROM dg GROUP BY 1, 2),
        |cp AS (
        |  SELECT cls AS pcls, g, row_number() OVER (
        |    PARTITION BY cls ORDER BY c DESC, g ASC) AS crank
        |  FROM cg QUALIFY crank <= 20),
        |dp AS (
        |  SELECT doc_id, cls AS actual, g, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, g ASC) AS drank
        |  FROM dg QUALIFY drank <= 20),
        |classes AS (SELECT DISTINCT pcls FROM cp),
        |dist AS (
        |  SELECT dp.doc_id, dp.actual, classes.pcls,
        |    sum(coalesce(abs(dp.drank - cp.crank), 20))::BIGINT AS distance
        |  FROM dp CROSS JOIN classes
        |  LEFT JOIN cp ON cp.pcls = classes.pcls AND cp.g = dp.g
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, actual, pcls AS predicted, distance FROM (
        |  SELECT doc_id, actual, pcls, distance, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY distance ASC, pcls ASC) AS rn
        |  FROM dist) WHERE rn = 1 ORDER BY doc_id""".stripMargin,


    "q166_winnow_shared_pairs" ->
      (winnowSelSql + s""",
        |$winnowColdCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin),


    // sparse tf-idf cosine: q57's weight formula, df-capped terms,
    // term-keyed dot product, norms over surviving terms only
    "q169_tfidf_cosine_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |w AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n::DOUBLE / dfreq.df) AS w
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  WHERE dfreq.df <= ceil(n.n * 0.1)),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
        |FROM dots JOIN nrm na ON na.doc_id = id_a
        |          JOIN nrm nb ON nb.doc_id = id_b
        |WHERE dot / (na.nrm * nb.nrm) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,


    // winnow dup clusters: winnow pairs (the q166 CTEs) symmetrized to
    // edges, transitive closure via the recursive reach CTE, min-id
    // cluster labels — q64's oracle shape over the fingerprint tier
    "q170_winnow_dup_clusters" ->
      (winnowSelSql.replace("WITH tokarr", "WITH RECURSIVE tokarr") + s""",
        |$winnowColdCtes,
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |$reachCcCtes
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cc ORDER BY doc_id""".stripMargin),


    // winnow decontamination: selection is per-doc, so winnowing the
    // whole corpus then splitting even/odd equals winnowing each side;
    // the df cap counts docs across BOTH corpora
    "q168_winnow_decontamination" ->
      (winnowSelSql + s""",
        |$winnowColdCtes
        |SELECT t.doc_id AS train_id, r.doc_id AS ref_id,
        |  count(*) AS shared
        |FROM cold t JOIN cold r
        |  ON t.fp = r.fp AND t.doc_id % 2 = 0 AND r.doc_id % 2 = 1
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY train_id, ref_id""".stripMargin),


    // q158's assignment CTEs + the q89 md5-uniform cap window — the
    // full cluster-then-cap pipeline replayed
    "q208_cluster_balanced_sample" ->
      s"""WITH ${ivfScoredCtes},
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY cs DESC, cid ASC) AS rn
         |    FROM scored) WHERE rn = 1),
         |u AS (
         |  SELECT vec_id, cid,
         |    CAST(('0x' || substr(md5(vec_id::VARCHAR || 'cbs'), 1, 8))
         |      AS UBIGINT) / 4294967296.0 AS u
         |  FROM assign),
         |r AS (
         |  SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid
         |                       ORDER BY u ASC, vec_id ASC) AS pick_rank
         |  FROM u)
         |SELECT vec_id, cid AS centroid_id, pick_rank::BIGINT AS pick_rank
         |FROM r WHERE pick_rank <= 32 ORDER BY vec_id""".stripMargin,


    // reference-side (even-id) md5 centroid pick, both snapshots
    // assigned by q158's argmax CTEs, q142's PSI arithmetic over the
    // cluster-share counts
    "q211_semantic_drift_psi" ->
      """WITH ref AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
        |cur AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
        |c AS (
        |  SELECT vec_id AS cid, embedding AS cvec FROM ref
        |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
        |sb AS (
        |  SELECT e.vec_id, c.cid,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      c.cvec::DOUBLE[]), 6) AS cs
        |  FROM ref e CROSS JOIN c),
        |ab AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY cs DESC, cid ASC) AS rn
        |    FROM sb) WHERE rn = 1),
        |sn AS (
        |  SELECT e.vec_id, c.cid,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      c.cvec::DOUBLE[]), 6) AS cs
        |  FROM cur e CROSS JOIN c),
        |an AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |                         ORDER BY cs DESC, cid ASC) AS rn
        |    FROM sn) WHERE rn = 1),
        |u AS (
        |  SELECT cid AS bin, 1::BIGINT AS b, 0::BIGINT AS n FROM ab
        |  UNION ALL
        |  SELECT cid, 0, 1 FROM an),
        |cnt AS (SELECT bin, sum(b)::BIGINT AS n_base,
        |  sum(n)::BIGINT AS n_next FROM u GROUP BY bin),
        |p AS (SELECT bin, n_base, n_next,
        |  greatest(n_base::DOUBLE / (sum(n_base) OVER ())::DOUBLE,
        |    1e-6::DOUBLE) AS pb,
        |  greatest(n_next::DOUBLE / (sum(n_next) OVER ())::DOUBLE,
        |    1e-6::DOUBLE) AS pn
        |  FROM cnt)
        |SELECT bin, n_base, n_next, round(pb, 6) AS p_base,
        |  round(pn, 6) AS p_next,
        |  round((pn - pb) * ln(pn / pb), 6) AS psi_term
        |FROM p ORDER BY bin""".stripMargin,


    // truncated-prefix vs full-dim top-10 overlap per probe: probes =
    // 10 largest-md5 ids (the q178 pick), both ranks order by
    // (6dp cosine desc, id) — list slicing replays the engine's
    // slice(vec, 1, 16) projection
    // the full serving path replayed: identical sign packing (strict
    // x > 0, per-32-bit words), identical md5 probe pick, bit_count
    // over xor Hamming, the same (hamming, id) candidate window, and
    // DuckDB's own list_cosine_similarity for the rerank
    "q225_binary_hamming_topk" ->
      s"""WITH $duckBinaryRerankCtes
         |SELECT probe_id, vec_id, hamming, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_sim DESC, vec_id ASC)::BIGINT AS rank FROM rr)
         |WHERE rank <= 10
         |ORDER BY probe_id, rank""".stripMargin,


    // q225's chain to its top-10, the exact top-10 replayed per probe,
    // and the intersection count — the recall METRIC hash-checked
    "q229_binary_recall" ->
      s"""WITH $duckBinaryRerankCtes,
         |$rerankRecallSql""".stripMargin,


    "q210_matryoshka_recall" ->
      """WITH p AS (
        |  SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
        |  ORDER BY md5(vec_id::VARCHAR) DESC, vec_id DESC LIMIT 10),
        |s AS (
        |  SELECT p.probe_id, e.vec_id AS id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[],
        |      p.pvec::DOUBLE[]), 6) AS cf,
        |    round(list_cosine_similarity(e.embedding[1:16]::DOUBLE[],
        |      p.pvec[1:16]::DOUBLE[]), 6) AS ct
        |  FROM embeddings e CROSS JOIN p
        |  WHERE e.vec_id <> p.probe_id),
        |rf AS (
        |  SELECT probe_id, id FROM (
        |    SELECT probe_id, id,
        |      row_number() OVER (PARTITION BY probe_id
        |                         ORDER BY cf DESC, id ASC) AS r
        |    FROM s) WHERE r <= 10),
        |rt AS (
        |  SELECT probe_id, id FROM (
        |    SELECT probe_id, id,
        |      row_number() OVER (PARTITION BY probe_id
        |                         ORDER BY ct DESC, id ASC) AS r
        |    FROM s) WHERE r <= 10)
        |SELECT f.probe_id, 10::BIGINT AS k,
        |  sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS overlap,
        |  round(sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / 10, 6) AS recall
        |FROM rf f LEFT JOIN rt t
        |  ON t.probe_id = f.probe_id AND t.id = f.id
        |GROUP BY f.probe_id ORDER BY f.probe_id""".stripMargin,


    // PQ encode replay: md5-ranked 16-vector codebook (code = rank-1),
    // integer subspace coordinates ((p-1)//8, (p-1)%8), BIGINT squared
    // distances, argmin with lowest-code ties
    "q177_pq_codes" ->
      s"""WITH $pqScoredCtes,
         |best AS (
         |  SELECT vec_id, sub, code, sqd,
         |    row_number() OVER (PARTITION BY vec_id, sub
         |                       ORDER BY sqd ASC, code ASC) AS rn
         |  FROM scored)
         |SELECT vec_id, sub, code, sqd FROM best WHERE rn = 1
         |ORDER BY vec_id, sub""".stripMargin,


    // ADC replay: q177's encode CTEs + the probe LUT (5 largest-md5
    // probes, exact subvectors x codebook) + per-probe ranking
    "q178_pq_adc_topk" ->
      s"""WITH $pqScoredCtes,
         |$pqEncProbeCtes,
         |lut AS (
         |  SELECT s.vec_id AS probe_id, c.sub, c.code,
         |    sum((s.xq - c.cq) * (s.xq - c.cq))::BIGINT AS lut
         |  FROM sx s JOIN probes pr ON pr.probe_id = s.vec_id
         |            JOIN cb c ON c.sub = s.sub AND c.pos = s.pos
         |  GROUP BY 1, 2, 3),
         |adc AS (
         |  SELECT l.probe_id, e.vec_id, sum(l.lut)::BIGINT AS adc_dist
         |  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
         |  GROUP BY 1, 2)
         |SELECT probe_id, rank, vec_id, adc_dist FROM (
         |  SELECT probe_id, vec_id, adc_dist,
         |    row_number() OVER (PARTITION BY probe_id
         |                       ORDER BY adc_dist ASC, vec_id ASC) AS rank
         |  FROM adc) WHERE rank <= 10
         |ORDER BY probe_id, rank""".stripMargin,


    // IVF-PQ replay: q158's centroid/assignment CTEs + q177's encode
    // CTEs + q178's probe LUT, composed — candidates restricted to
    // each probe's 2 best lists before the ADC ranking
    "q179_ivfpq_topk" ->
      s"""WITH ${ivfCentroidCtes},
         |lists AS (
         |  SELECT vec_id AS id, cid FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_cosine_similarity(e.embedding::DOUBLE[],
         |          c.cvec::DOUBLE[]), 6) DESC, c.cid ASC) AS rn
         |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |$pqScoredCtes,
         |$pqEncProbeCtes,
         |plists AS (
         |  SELECT probe_id, cid FROM (
         |    SELECT p.probe_id, c.cid,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        round(list_cosine_similarity(e.embedding::DOUBLE[],
         |          c.cvec::DOUBLE[]), 6) DESC, c.cid ASC) AS lrn
         |    FROM probes p JOIN embeddings e ON e.vec_id = p.probe_id
         |    CROSS JOIN c) WHERE lrn <= 2),
         |lut AS (
         |  SELECT s.vec_id AS probe_id, c.sub, c.code,
         |    sum((s.xq - c.cq) * (s.xq - c.cq))::BIGINT AS lut
         |  FROM sx s JOIN probes pr ON pr.probe_id = s.vec_id
         |            JOIN cb c ON c.sub = s.sub AND c.pos = s.pos
         |  GROUP BY 1, 2, 3),
         |cand AS (
         |  SELECT pl.probe_id, l.id, l.cid FROM lists l
         |  JOIN plists pl ON pl.cid = l.cid),
         |adc AS (
         |  SELECT cd.probe_id, cd.id, cd.cid, sum(l.lut)::BIGINT AS adc_dist
         |  FROM cand cd JOIN enc e ON e.vec_id = cd.id
         |  JOIN lut l ON l.probe_id = cd.probe_id
         |            AND l.sub = e.sub AND l.code = e.code
         |  GROUP BY 1, 2, 3)
         |SELECT probe_id, rank, vec_id, list_id, adc_dist FROM (
         |  SELECT probe_id, id AS vec_id, cid AS list_id, adc_dist,
         |    row_number() OVER (PARTITION BY probe_id
         |                       ORDER BY adc_dist ASC, id ASC) AS rank
         |  FROM adc) WHERE rank <= 10
         |ORDER BY probe_id, rank""".stripMargin,


    // scorer replay: hash-trick bucket and md5-lattice weight per
    // token, BIGINT sum, one rounded division
    "q180_quality_scorer" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substr(md5('w:q:' ||
        |      (CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
        |        % 1024)::VARCHAR), 1, 8)) AS UBIGINT) AS BIGINT)
        |      % 2001 - 1000 AS w
        |  FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CASE WHEN sum(w) >= 0
        |    THEN floor((abs(sum(w) * 1000) * 2 + count(*)) / (count(*) * 2))
        |    ELSE -floor((abs(sum(w) * 1000) * 2 + count(*)) / (count(*) * 2))
        |    END / 1000000.0 AS score
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,


    // Q3 shape: same exact-decimal revenue construct as q143
    "q183_shipping_priority" ->
      """SELECT o_orderkey,
        | CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        | o_orderdate
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate ASC, o_orderkey ASC
        |LIMIT 10""".stripMargin,


    // Q10 shape: returned-revenue ranking, same decimal construct
    "q184_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,


    // one-sided screen: winnow CTEs + reference-side df cap + inverted
    // join — the decontaminationSink's per-batch computation replayed
    // over the whole corpus
    "q172_winnow_screen_ref" ->
      (winnowSelSql + """,
        |fpd AS (SELECT DISTINCT doc_id, fp FROM sel),
        |ref AS (SELECT doc_id, fp FROM fpd WHERE doc_id % 10 = 0),
        |arriving AS (SELECT doc_id, fp FROM fpd WHERE doc_id % 10 <> 0),
        |refdf AS (SELECT fp, count(*) AS fp_df FROM ref GROUP BY fp),
        |refcold AS (
        |  SELECT r.fp, r.doc_id AS ref_id FROM ref r JOIN refdf USING (fp)
        |  WHERE fp_df <= 50)
        |SELECT a.doc_id, c.ref_id, count(*) AS shared
        |FROM arriving a JOIN refcold c USING (fp)
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id, ref_id""".stripMargin),


    "q230_wav_sample_stats" ->
      wavSampleStatsSql,


    "q227_image_ahash_dedup" ->
      ahashDedupSql,


    // the pixel rule replayed over a correlated generate-series grid
    // (doc x row x col), truncated docs excluded by the same %5 rule,
    // per-image stats re-aggregated per (w, h) — no byte parsing
    "q224_bmp_pixel_stats" ->
      """WITH d AS (SELECT doc_id, (doc_id % 4 + 1)::INT AS w,
        |    (doc_id % 3 + 1)::INT AS h FROM documents),
        |px AS (SELECT d.doc_id,
        |    (d.doc_id*7 + fr.fr*3 + c.c) % 256 AS b,
        |    (d.doc_id*11 + fr.fr*5 + c.c*2) % 256 AS g,
        |    (d.doc_id*13 + fr.fr*7 + c.c*3) % 256 AS r
        |  FROM d, range(0, 3) fr(fr), range(0, 4) c(c)
        |  WHERE d.doc_id % 5 <> 0 AND fr.fr < d.h AND c.c < d.w),
        |st AS (SELECT doc_id, count(*)::BIGINT AS n_px,
        |    min(b)::INT AS b_min, max(b)::INT AS b_max,
        |    sum(b)::BIGINT AS b_sum,
        |    min(g)::INT AS g_min, max(g)::INT AS g_max,
        |    sum(g)::BIGINT AS g_sum,
        |    min(r)::INT AS r_min, max(r)::INT AS r_max,
        |    sum(r)::BIGINT AS r_sum
        |  FROM px GROUP BY doc_id)
        |SELECT d.w, d.h, count(*) AS n_imgs,
        |  count(st.doc_id)::BIGINT AS n_decoded,
        |  sum(st.n_px)::BIGINT AS n_px,
        |  min(st.b_min) AS b_min, max(st.b_max) AS b_max,
        |  sum(st.b_sum)::BIGINT AS b_sum,
        |  min(st.g_min) AS g_min, max(st.g_max) AS g_max,
        |  sum(st.g_sum)::BIGINT AS g_sum,
        |  min(st.r_min) AS r_min, max(st.r_max) AS r_max,
        |  sum(st.r_sum)::BIGINT AS r_sum
        |FROM d LEFT JOIN st USING (doc_id)
        |GROUP BY d.w, d.h ORDER BY d.w, d.h""".stripMargin,


    // BMP/TIFF round trip: every variant decodes to the synthesized
    // dimensions; format name derives from the variant cycle
    "q185_bmp_tiff_roundtrip" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 IN (0, 1) THEN 'bmp' ELSE 'tiff' END AS format,
        |  (doc_id % 512 + 16)::BIGINT AS width,
        |  ((doc_id * 11) % 512 + 16)::BIGINT AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // MP4 round trip: both box-version layouts decode to the
    // synthesized track dims and movie duration; the oracle recomputes
    // them from doc_id, duration_ms via DuckDB integer division
    "q186_video_meta_roundtrip" ->
      """SELECT doc_id, 'mp4' AS format,
        |  (doc_id % 512 + 16)::BIGINT AS width,
        |  ((doc_id * 7) % 512 + 16)::BIGINT AS height,
        |  ((doc_id * 13 + 600) * 1000) // 600 AS duration_ms
        |FROM documents WHERE doc_id % 5 = 0
        |ORDER BY doc_id""".stripMargin,


    // q186's oracle verbatim — the scale tier must land identically
    "q203_video_meta_fast" ->
      """SELECT doc_id, 'mp4' AS format,
        |  (doc_id % 512 + 16)::BIGINT AS width,
        |  ((doc_id * 7) % 512 + 16)::BIGINT AS height,
        |  ((doc_id * 13 + 600) * 1000) // 600 AS duration_ms
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // MP3 round trip: the oracle carries the Layer III bitrate and
    // sample-rate tables as list literals — a green row proves the
    // bit-field extraction and both per-version tables are exact
    "q187_mp3_meta_roundtrip" ->
      """SELECT doc_id, 'mp3' AS format,
        |  CASE doc_id % 3 WHEN 0 THEN '1' WHEN 1 THEN '2' ELSE '2.5' END
        |    AS mpeg_version,
        |  3::BIGINT AS layer,
        |  (CASE WHEN doc_id % 3 = 0 THEN list_extract(
        |      [32,40,48,56,64,80,96,112,128,160,192,224,256,320], doc_id % 14 + 1)
        |    ELSE list_extract(
        |      [8,16,24,32,40,48,56,64,80,96,112,128,144,160], doc_id % 14 + 1)
        |  END)::BIGINT AS bitrate_kbps,
        |  (CASE doc_id % 3
        |    WHEN 0 THEN list_extract([44100,48000,32000], (doc_id % 9) // 3 + 1)
        |    WHEN 1 THEN list_extract([22050,24000,16000], (doc_id % 9) // 3 + 1)
        |    ELSE list_extract([11025,12000,8000], (doc_id % 9) // 3 + 1)
        |  END)::BIGINT AS sample_rate_hz,
        |  (CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END)::BIGINT AS channels
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // FLAC round trip: the oracle recomputes every packed field from
    // doc_id in closed form
    "q191_flac_meta_roundtrip" ->
      """SELECT doc_id, 'flac' AS format,
        |  (doc_id % 8 + 1)::BIGINT AS channels,
        |  list_extract([8000,22050,44100,96000,655350],
        |    doc_id % 5 + 1)::BIGINT AS sample_rate_hz,
        |  list_extract([8,12,16,24,32], doc_id % 5 + 1)::BIGINT
        |    AS bits_per_sample,
        |  (doc_id * 977 + (doc_id % 2) * 4294967296)::BIGINT
        |    AS total_samples
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // Ogg round trip: expected codec/params computed directly from
    // doc_id (the q191 pattern); pre-skip is Opus-only by spec
    "q195_ogg_meta_roundtrip" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'ogg-vorbis'
        |       ELSE 'ogg-opus' END AS format,
        |  (doc_id % 2 + 1)::BIGINT AS channels,
        |  list_extract([8000,44100,48000], doc_id % 3 + 1)::BIGINT
        |    AS sample_rate_hz,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL
        |       ELSE (doc_id % 1000 + 1) END::BIGINT AS pre_skip_samples
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // WebP round trip: every variant decodes to the same synthesized
    // dimensions, so the oracle computes them directly from doc_id —
    // a green row proves all three variant bit layouts are exact
    "q171_webp_meta_roundtrip" ->
      """SELECT doc_id, 'webp' AS format,
        |  (doc_id % 512 + 16)::BIGINT AS width,
        |  ((doc_id * 7) % 512 + 16)::BIGINT AS height
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // ORC is lossless: the round-trip aggregate must equal the same
    // aggregate straight off the source table
    "q181_orc_roundtrip" ->
      copyRoundtripSql,


    // Kneser-Ney: same CTE ladder as q106 plus the continuation
    // counts; the P expression is parenthesized IDENTICALLY to the
    // Spark side so both engines run the same float tree over the
    // same exact-integer counts
    "q188_kneser_ney_logprob" ->
      s"""WITH $bigramCountCtes,
         |$kneserNeyDocCtes
         |${logprobBySourceSql}""".stripMargin,


    // perplexity buckets: q188's doc CTE + an ntile window; the 6dp
    // doc_lp round happens BEFORE the ordering and ties break by
    // doc_id, so bucket assignment is deterministic cross-engine
    "q189_perplexity_buckets" ->
      s"""WITH $bigramCountCtes,
         |$kneserNeyDocCtes,
         |bk AS (SELECT source, doc_lp, ntile(3) OVER
         |    (PARTITION BY source ORDER BY doc_lp DESC, doc_id) AS bucket
         |  FROM doc)
         |SELECT source, bucket::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
         | round(avg(doc_lp), 4) AS avg_logprob,
         | round(min(doc_lp), 6) AS min_logprob,
         | round(max(doc_lp), 6) AS max_logprob
         |FROM bk GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,


    // the whole curation chain replayed: q176's clean passes, q180's
    // scorer, q114's fingerprint-dedup CTE on the cleaned text, then
    // q174/q175's domain CTEs and quota window (salt 'webcur')
    "q182_web_curation" ->
      s"""WITH base AS (
         |  SELECT doc_id, source,
         |${fakeUrlExpr},
         |    trim(regexp_replace(
         |      translate(
         |        regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |        chr(8220)||chr(8221)||chr(8216)||chr(8217)||chr(8211)||chr(8212)||chr(160),
         |        '""''''-- '),
         |      '\\s+', ' ', 'g')) AS clean_text
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(clean_text), '\\s+')) AS t
         |  FROM base),
         |wts AS (
         |  SELECT doc_id,
         |    CAST(CAST(('0x' || substr(md5('w:q:' ||
         |      (CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
         |        % 1024)::VARCHAR), 1, 8)) AS UBIGINT) AS BIGINT)
         |      % 2001 - 1000 AS w
         |  FROM tok),
         |sc AS (
         |  SELECT doc_id, CASE WHEN sum(w) >= 0
         |    THEN floor((abs(sum(w) * 1000) * 2 + count(*)) / (count(*) * 2))
         |    ELSE -floor((abs(sum(w) * 1000) * 2 + count(*)) / (count(*) * 2))
         |    END / 1000000.0 AS score
         |  FROM wts GROUP BY doc_id),
         |gated AS (
         |  SELECT b.*, s.score FROM base b JOIN sc s USING (doc_id)
         |  WHERE s.score >= -0.01),
         |ded AS (
         |  SELECT min(doc_id) AS doc_id FROM gated
         |  GROUP BY md5(regexp_replace(lower(trim(clean_text)), '\\s+', ' ', 'g'))),
         |surv AS (SELECT g.* FROM gated g JOIN ded USING (doc_id)),
         |hd AS (
         |  SELECT doc_id, clean_text, score,
         |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host
         |  FROM surv),
         |ad AS (
         |  SELECT doc_id, clean_text, score, host,
         |    string_split(lower(host), '.') AS arr,
         |    len(string_split(lower(host), '.')) AS n
         |  FROM hd),
         |dm AS (
         |  SELECT doc_id, clean_text, score,
         |$registeredDomainExpr
         |  FROM ad),
         |k AS (
         |  SELECT domain, doc_id, clean_text, score,
         |    row_number() OVER (PARTITION BY domain
         |      ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || 'webcur'), 1, 8))
         |        AS UBIGINT) / 4294967296.0 ASC, doc_id ASC) AS rn
         |  FROM dm)
         |SELECT domain, count(*) AS n_docs,
         |  sum(len(string_split_regex(trim(clean_text), '\\s+')))::BIGINT AS n_tokens,
         |  min(score) AS min_score, max(score) AS max_score
         |FROM k WHERE rn <= 10
         |GROUP BY domain ORDER BY domain""".stripMargin,


    // replay: synth URL -> host regexp -> eTLD+1 CASE -> aggregate.
    // url canonicalization: the oracle carries the CLOSED-FORM clean
    // URL (never replicating the parser), so the hash compare proves
    // every canonicalization rule exactly
    "q190_url_canonical_dedup" ->
      """SELECT doc_id,
        |  'https://d' || (doc_id % 7)::VARCHAR || '.' ||
        |  ['com','org','co.uk','com.my'][(doc_id % 4 + 1)::INT] ||
        |  '/p/' || doc_id::VARCHAR || '?a=1&b=2' AS canonical,
        |  TRUE AS both_agree
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    // Replays fakeHtml synthesis + all five htmlToText passes with the
    // same regexes (RE2 and Java agree on every construct used: inline
    // (?is), non-greedy, \b, explicit whitespace classes). Entity
    // decode order matches the Spark side exactly — &amp; LAST.
    "q192_html_to_text" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id::VARCHAR ||
        |    '</title><style type="text/css">body { color:#333; }</style>' ||
        |    '<script>var x = 1 < 2 && "</scr" + "junk";</script>' ||
        |    '</head><body><!-- crawl ' || doc_id::VARCHAR ||
        |    ' --><h1>Title &amp; Doc ' || doc_id::VARCHAR ||
        |    '</h1><p>Lead&nbsp;para  &lt;kept&gt;.</p><div class="b">' || text ||
        |    '</div><ul><li>item&#39;s one</li><li>item &quot;two&quot;</li>' ||
        |    '</ul><em>fine</em>print</body></html>' AS h
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(h,
        |  '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS h FROM page),
        |s2 AS (SELECT doc_id, regexp_replace(h,
        |  '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS h FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(h,
        |  '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
        |s4 AS (SELECT doc_id, regexp_replace(h,
        |  '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|blockquote)\b[^>]*>',
        |  chr(10), 'g') AS h FROM s3),
        |s5 AS (SELECT doc_id, regexp_replace(h,
        |  '(?s)<[^>]*>', ' ', 'g') AS h FROM s4),
        |s6 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(replace(h,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
        |    '&apos;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS h FROM s5),
        |s7 AS (SELECT doc_id, regexp_replace(h,
        |  '[ \t\r\f]+', ' ', 'g') AS h FROM s6),
        |s8 AS (SELECT doc_id, regexp_replace(h,
        |  ' ?\n ?', chr(10), 'g') AS h FROM s7),
        |s9 AS (SELECT doc_id, regexp_replace(h,
        |  '\n+', chr(10), 'g') AS h FROM s8)
        |SELECT doc_id, trim(h, ' ' || chr(10)) AS clean_text
        |FROM s9 ORDER BY doc_id""".stripMargin,


    // Closed-form expected directives per doc_id — the q190 oracle
    // style: extraction logic never replicated, only its answer
    "q196_robots_policy" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'noindex, follow'
        |                  WHEN 1 THEN 'index, follow'
        |                  WHEN 2 THEN 'none' ELSE '' END AS robots_directives,
        |  doc_id % 4 IN (0, 2) AS noindex
        |FROM documents
        |ORDER BY doc_id""".stripMargin,


    "q193_blocklist_scan" ->
      blocklistScanSql,


    // The full 3-step training loop replayed: z (BIGINT), p (fixed
    // float tree), gradient (round to 6dp-scaled BIGINT), update
    // (both engines round-to-integer the identical double). A hash
    // match means DuckDB re-trained the model to the same weights.
    "q198_hashed_lr_train" ->
      s"""WITH $lrLabelsCtes,
         |${lrTrainCtes("documents")}
         |SELECT b AS bucket, w6, w6::DOUBLE / 1000000.0 AS w
         |FROM w3 ORDER BY bucket""".stripMargin,


    // q49's split bounds gate every CTE: the ladder sees only u<0.8
    // docs (nn counts them), scoring/AUC see only u>=0.9 docs
    "q205_lr_holdout_auc" ->
      s"""WITH uu AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |    AS UBIGINT) / 4294967296.0 AS u FROM documents),
         |$lrLabelsCtes,
         |tr AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN uu USING (doc_id) WHERE uu.u < 0.8),
         |te AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN uu USING (doc_id) WHERE uu.u >= 0.9 AND uu.u < 1.0),
         |${lrTrainCtes("tr")},
         |${lrBucketCtes("tokt", "xt", "te")},
         |sct AS (SELECT xt.doc_id,
         |${lrScoreExpr("xt")}
         |  FROM xt JOIN w3 USING (b) GROUP BY 1),
         |${aucCtes("t")}
         |SELECT 'holdout' AS eval_split, n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |    round((s_sum - n_pos * (n_pos + 1))::DOUBLE /
         |      (2.0 * (n_pos * n_neg)::DOUBLE), 6) END AS auc
         |FROM aggt""".stripMargin,


    // q198's ladder -> trained scores -> the identical ntile window
    // ((score, doc_id) order) -> per-decile observed positive rate
    "q204_lr_calibration" ->
      s"""WITH $lrLabelsCtes,
         |${lrTrainCtes("documents")},
         |sc AS (SELECT x.doc_id, yl.y,
         |${lrScoreExpr("x")}
         |  FROM x JOIN w3 USING (b) JOIN yl USING (doc_id)
         |  GROUP BY x.doc_id, yl.y),
         |nt AS (SELECT y, score,
         |    ntile(10) OVER (ORDER BY score ASC, doc_id ASC) AS bin
         |  FROM sc)
         |SELECT bin, count(*) AS n_docs, sum(y)::BIGINT AS n_pos,
         |  round(sum(y)::DOUBLE / count(*), 6) AS pos_rate,
         |  min(score) AS lo_score, max(score) AS hi_score
         |FROM nt GROUP BY bin ORDER BY bin""".stripMargin,


    // identical rule table + the same compile chain (escape -> LIKE
    // ESCAPE) + row_number resolution (prec DESC, allow DESC — the
    // lexicographic-max twin of Spark's max(struct)) + default-allow
    // left join, over the closed-form URL space
    "q226_robots_path_gate" ->
      s"""WITH rules(host, directive, path) AS (VALUES
         |    ('www.d1.org', 'disallow', '/src'),
         |    ('www.d1.org', 'allow', '/src3'),
         |    ('blog.d2.com', 'disallow', '/*/1*'),
         |    ('www.d3.org', 'disallow', '/*/45$$'),
         |    ('www.d4.com.my', 'allow', '/'),
         |    ('www.d4.com.my', 'disallow', '/src9')),
         |r0 AS (SELECT lower(host) AS rh,
         |    CASE WHEN lower(directive) = 'allow' THEN 1 ELSE 0 END
         |      AS allow,
         |    path AS p,
         |    right(path, 1) = '$$' AS anch
         |  FROM rules),
         |r AS (SELECT rh, allow,
         |    length(body) AS prec,
         |    replace(replace(replace(replace(body,
         |      '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
         |      || CASE WHEN anch THEN '' ELSE '%' END AS lik
         |  FROM (SELECT *, CASE WHEN anch
         |      THEN substring(p, 1, length(p) - 1) ELSE p END AS body
         |    FROM r0)),
         |u AS (SELECT doc_id,
         |    'https://' || ${duckFakeHost("doc_id")} ||
         |    '/' || source || '/' || doc_id::VARCHAR AS url
         |  FROM documents),
         |pp AS (SELECT doc_id,
         |    lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS h,
         |    CASE WHEN regexp_extract(url,
         |        '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
         |      ELSE regexp_extract(url,
         |        '^[^:/?#]+://[^/?#]*([^?#]*)', 1) END AS path
         |  FROM u),
         |v AS (SELECT doc_id, allow FROM (
         |    SELECT pp.doc_id, r.allow,
         |      row_number() OVER (PARTITION BY pp.doc_id
         |        ORDER BY r.prec DESC, r.allow DESC) AS rn
         |    FROM pp JOIN r ON pp.h = r.rh
         |      AND pp.path LIKE r.lik ESCAPE '\\')
         |  WHERE rn = 1)
         |SELECT pp.h AS host, count(*) AS n_docs,
         |  sum(CASE WHEN coalesce(v.allow, 1) = 1 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_allowed
         |FROM pp LEFT JOIN v USING (doc_id)
         |GROUP BY pp.h ORDER BY host""".stripMargin,


    // the known (target host, anchor term) pairs from the doc_id
    // rules + the q202 domain CASE + the same count/top-k window
    "q228_anchor_text_profile" ->
      s"""WITH l AS (
         |  SELECT ${duckFakeHost("doc_id + 1")} AS host,
         |    ['great','cheap','fast','new'][((doc_id + 1) % 4 + 1)::INT]
         |      AS term
         |  FROM documents
         |  UNION ALL
         |  SELECT ${duckFakeHost("3 * doc_id + 5")},
         |    ['great','cheap','fast','new'][((doc_id + 2) % 4 + 1)::INT]
         |  FROM documents),
         |d AS (SELECT host, term, string_split(host, '.') AS arr,
         |    len(string_split(host, '.')) AS n FROM l),
         |r AS (SELECT term,
         |    CASE WHEN n <= 2 THEN host
         |         WHEN (arr[n-1] || '.' || arr[n]) IN
         |           ('co.uk','ac.uk','gov.uk','org.uk','com.my','gov.my',
         |            'edu.my','org.my','com.au','net.au','org.au','co.jp',
         |            'ne.jp','or.jp','com.br','com.cn','com.sg','co.in','co.kr')
         |           THEN arr[n-2] || '.' || arr[n-1] || '.' || arr[n]
         |         ELSE arr[n-1] || '.' || arr[n] END AS domain
         |  FROM d),
         |g AS (SELECT domain, term, count(*)::BIGINT AS n_links
         |  FROM r GROUP BY 1, 2)
         |SELECT domain, term, n_links, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY domain
         |    ORDER BY n_links DESC, term ASC)::BIGINT AS rank FROM g)
         |WHERE rank <= 3
         |ORDER BY domain, rank""".stripMargin,


    // known link targets from the doc_id rule + the q218 unrolled
    // rounds over md5-60bit host ids — the extractor is never
    // replicated, only its closed-form answer on the synthetic pages
    "q222_host_link_rank" ->
      s"""WITH $duckHostRankCtes
         |SELECT host, rank FROM hostrank
         |ORDER BY rank DESC, host""".stripMargin,


    // the rank CTEs + the above-uniform gate (exact BIGINT, |hosts|
    // window) + closed-form extracted text (q202's, extended by the
    // anchor texts the link block adds) + the q202 domain/cap replay —
    // the centrality-gated funnel re-derived end to end
    "q223_web_curation_v3" ->
      s"""WITH $duckHostRankCtes,
         |kh AS (SELECT host, rank FROM (
         |    SELECT host, rank, count(*) OVER () AS nh FROM hostrank) t
         |  WHERE rank > 1000000000000 // nh),
         |g AS (SELECT d.doc_id, d.source, d.text, kh.rank
         |  FROM documents d
         |  JOIN hh ON d.doc_id = hh.doc_id
         |  JOIN kh ON kh.host = hh.hsrc),
         |ex AS (SELECT doc_id, source, rank,
         |    'Doc ' || doc_id::VARCHAR || chr(10) ||
         |    'Title & Doc ' || doc_id::VARCHAR || chr(10) ||
         |    'Lead para <kept>.' || chr(10) || text || chr(10) ||
         |    'item''s one' || chr(10) || 'item "two"' || chr(10) ||
         |    'fine print rel frag out out' AS etext
         |  FROM g),
         |u AS (SELECT doc_id, etext, rank,
         |    'https://' || ${duckFakeHost("doc_id")} ||
         |    '/' || source || '/' || doc_id::VARCHAR AS url
         |  FROM ex),
         |h AS (SELECT *, regexp_extract(url,
         |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host FROM u),
         |d AS (SELECT *, string_split(lower(host), '.') AS arr,
         |    len(string_split(lower(host), '.')) AS n FROM h),
         |r AS (SELECT doc_id, etext, rank,
         |$registeredDomainExpr
         |  FROM d),
         |k AS (SELECT *, row_number() OVER (PARTITION BY domain
         |    ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || 'wc3'), 1, 8))
         |      AS UBIGINT) / 4294967296.0 ASC, doc_id ASC) AS rn
         |  FROM r)
         |SELECT domain, count(*) AS n_docs,
         |  sum(len(string_split_regex(trim(etext), '\\s+')))::BIGINT
         |    AS n_tokens,
         |  max(rank) AS max_host_rank
         |FROM k WHERE rn <= 5
         |GROUP BY domain ORDER BY domain""".stripMargin,


    // closed-form extracted text + doc_id robots rule + the q193/q180/
    // q175 replays chained — the funnel re-derived end to end
    "q202_web_curation_v2" ->
      s"""WITH kept0 AS (SELECT doc_id, source, text FROM documents
         |               WHERE doc_id % 4 NOT IN (0, 2)),
         |ex AS (SELECT doc_id, source,
         |    'Doc ' || doc_id::VARCHAR || chr(10) ||
         |    'Title & Doc ' || doc_id::VARCHAR || chr(10) ||
         |    'Lead para <kept>.' || chr(10) || text || chr(10) ||
         |    'item''s one' || chr(10) || 'item "two"' || chr(10) ||
         |    'fine print' AS etext
         |  FROM kept0),
         |bl AS (SELECT * FROM ex
         |  WHERE len(regexp_extract_all(etext,
         |    '(?i)\\b(\\Qslow\\E)\\b', 1)) <= 2),
         |tok AS (SELECT doc_id,
         |  unnest(string_split_regex(trim(etext), '\\s+')) AS t FROM bl),
         |sc AS (SELECT doc_id,
         |$untrainedScoreExpr
         |  FROM tok GROUP BY doc_id),
         |g AS (SELECT bl.doc_id, bl.source, bl.etext, sc.score
         |  FROM bl JOIN sc USING (doc_id) WHERE sc.score >= -0.005),
         |u AS (SELECT doc_id, etext, score,
         |${fakeUrlExpr}
         |  FROM g),
         |h AS (SELECT *, regexp_extract(url,
         |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host FROM u),
         |d AS (SELECT *, string_split(lower(host), '.') AS arr,
         |    len(string_split(lower(host), '.')) AS n FROM h),
         |r AS (SELECT doc_id, etext, score,
         |$registeredDomainExpr
         |  FROM d),
         |k AS (SELECT *, row_number() OVER (PARTITION BY domain
         |    ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || 'wc2'), 1, 8))
         |      AS UBIGINT) / 4294967296.0 ASC, doc_id ASC) AS rn
         |  FROM r)
         |SELECT domain, count(*) AS n_docs,
         |  sum(len(string_split_regex(trim(etext), '\\s+')))::BIGINT
         |    AS n_tokens,
         |  min(score) AS min_score, max(score) AS max_score
         |FROM k WHERE rn <= 5
         |GROUP BY domain ORDER BY domain""".stripMargin,


    // q198's ladder -> trained scores -> the integer AUC formula,
    // plus q180's scorer through the SAME formula; ranks derive from
    // cumulative counts over the distinct-score frame
    "q201_model_auc_eval" ->
      s"""WITH $lrLabelsCtes,
         |${lrTrainCtes("documents")},
         |sct AS (SELECT x.doc_id,
         |${lrScoreExpr("x")}
         |  FROM x JOIN w3 USING (b) GROUP BY 1),
         |scu AS (SELECT doc_id, count(*) AS n_tokens,
         |$untrainedScoreExpr
         |  FROM tok GROUP BY doc_id),
         |${aucCtes("t")},
         |${aucCtes("u")}
         |SELECT * FROM (
         |  SELECT 'trained' AS model, n_pos, n_neg,
         |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |      round((s_sum - n_pos * (n_pos + 1))::DOUBLE /
         |        (2.0 * (n_pos * n_neg)::DOUBLE), 6) END AS auc
         |  FROM aggt
         |  UNION ALL
         |  SELECT 'untrained', n_pos, n_neg,
         |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         |      round((s_sum - n_pos * (n_pos + 1))::DOUBLE /
         |        (2.0 * (n_pos * n_neg)::DOUBLE), 6) END
         |  FROM aggu)
         |ORDER BY model""".stripMargin,


    // q198's ladder + per-step loss rows; ln/exp trees fixed, the
    // per-doc losses rounded to 6dp-scaled BIGINTs before summing
    "q200_lr_loss_curve" -> {
      def loss(i: Int) =
        s"""sum(round(-(p$i.y *
           |    ln(least(greatest(p$i.p, 1e-9), 1.0 - 1e-9)) +
           |    (1 - p$i.y) * ln(1.0 -
           |    least(greatest(p$i.p, 1e-9), 1.0 - 1e-9)))
           |    * 1000000.0))::BIGINT""".stripMargin
      val later = (2 to 4).map(i =>
        s"\n  UNION ALL\n  SELECT $i, ${loss(i)} FROM p$i").mkString
      s"""WITH $lrLabelsCtes,
         |${lrTrainCtes("documents")},
         |${lrProbCtes(4)},
         |ls AS (
         |  SELECT 1 AS step, ${loss(1)} AS loss6
         |  FROM p1$later)
         |SELECT step, loss6, loss6::DOUBLE / 1000000.0 AS loss
         |FROM ls ORDER BY step""".stripMargin
    },


    // q198's ladder + the scoring join; min/max are order statistics
    // of the 6dp scores, so the report is exact cross-engine
    "q199_lr_train_score" ->
      s"""WITH $lrLabelsCtes,
         |${lrTrainCtes("documents")},
         |sc AS (SELECT x.doc_id,
         |${lrScoreExpr("x")}
         |  FROM x JOIN w3 USING (b) GROUP BY 1)
         |SELECT yl.y, count(*) AS n_docs,
         |  min(sc.score) AS min_score,
         |  max(sc.score) AS max_score
         |FROM sc JOIN yl USING (doc_id)
         |GROUP BY 1 ORDER BY y""".stripMargin,


    // q193's oracle verbatim: the large tier must produce the
    // IDENTICAL aggregate (whole-token == word-boundary equivalence)
    "q197_blocklist_scan_large" ->
      blocklistScanSql,


    // The suffix IN list mirrors Web.DefaultMultiSuffixes verbatim
    "q174_domain_stats" ->
      s"""WITH u AS (
         |  SELECT doc_id, source, text,
         |${fakeUrlExpr}
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, text,
         |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host
         |  FROM u),
         |d AS (
         |  SELECT doc_id, text, host, string_split(lower(host), '.') AS arr,
         |    len(string_split(lower(host), '.')) AS n
         |  FROM h),
         |r AS (
         |  SELECT doc_id, text, host,
         |$registeredDomainExpr
         |  FROM d)
         |SELECT domain, count(*) AS n_docs,
         |  count(DISTINCT host) AS n_hosts,
         |  sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens,
         |  round(count(*)::DOUBLE / (sum(count(*)) OVER ()), 6) AS doc_share
         |FROM r GROUP BY domain ORDER BY domain""".stripMargin,


    // same URL/domain CTEs; then q89's md5-uniform quota window at the
    // domain grain (salt 'domcap')
    "q175_domain_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id, source,
         |${fakeUrlExpr}
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1) AS host
         |  FROM u),
         |d AS (
         |  SELECT doc_id, host, string_split(lower(host), '.') AS arr,
         |    len(string_split(lower(host), '.')) AS n
         |  FROM h),
         |r AS (
         |  SELECT doc_id,
         |$registeredDomainExpr
         |  FROM d),
         |k AS (
         |  SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
         |    ORDER BY CAST(('0x' || substr(md5(doc_id::VARCHAR || 'domcap'), 1, 8))
         |      AS UBIGINT) / 4294967296.0 ASC, doc_id ASC) AS rn
         |  FROM r)
         |SELECT domain, count(*) AS n_kept, sum(doc_id)::BIGINT AS id_sum
         |FROM k WHERE rn <= 10
         |GROUP BY domain ORDER BY domain""".stripMargin,


    // same integer counts (DuckDB regexp_matches runs RE2 over the
    // same patterns), same double expression tree over them
    "q217_readability" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
        |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
        |    AS n_sentences,
        |  len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
        |    AS n_syllables,
        |  206.835::DOUBLE
        |    - 1.015::DOUBLE *
        |      (len(string_split_regex(trim(text), '\s+'))::DOUBLE
        |       / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::DOUBLE)
        |    - 84.6::DOUBLE *
        |      (len(regexp_extract_all(lower(text), '[aeiouy]+'))::DOUBLE
        |       / len(string_split_regex(trim(text), '\s+'))::DOUBLE)
        |    AS fre
        |FROM documents ORDER BY doc_id""".stripMargin,


    // water-filling replay: same ratio order (cap/w double + source
    // tie-break), same cross-multiplied BIGINT saturation prefix, same
    // integer divisions — '//' is DuckDB's integral division, DIV's twin
    "q216_epoch_plan" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(string_split_regex(trim(text), '\s+')))::BIGINT
        |      AS tokens
        |  FROM documents GROUP BY 1),
        |base AS (
        |  SELECT source, n_docs, tokens,
        |    ((CAST(substr(source, 4) AS INT) % 4) + 1)::BIGINT AS weight,
        |    (tokens * 4)::BIGINT AS cap_tokens
        |  FROM per),
        |ord AS (
        |  SELECT *, CASE WHEN weight > 0
        |    THEN cap_tokens::DOUBLE / weight END AS ratio FROM base),
        |c AS (
        |  SELECT *,
        |    coalesce(sum(cap_tokens) OVER wb, 0)::BIGINT AS capB,
        |    coalesce(sum(weight) OVER wb, 0)::BIGINT AS wB,
        |    (sum(weight) OVER ())::BIGINT AS wT
        |  FROM ord
        |  WINDOW wb AS (ORDER BY ratio ASC NULLS LAST, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |m AS (
        |  SELECT *, CASE WHEN weight * (80000 - capB) >=
        |    cap_tokens * (wT - wB) THEN 1 ELSE 0 END AS ok FROM c),
        |sat AS (
        |  SELECT *, min(ok) OVER (ORDER BY ratio ASC NULLS LAST, source
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    AS saturated
        |  FROM m),
        |fin AS (
        |  SELECT *,
        |    coalesce(sum(CASE WHEN saturated THEN cap_tokens END)
        |      OVER (), 0)::BIGINT AS capSat,
        |    coalesce(sum(CASE WHEN NOT saturated THEN weight END)
        |      OVER (), 0)::BIGINT AS wUnsat
        |  FROM sat),
        |alloc AS (
        |  SELECT source, n_docs, tokens, weight, cap_tokens, saturated,
        |    (CASE WHEN saturated THEN cap_tokens
        |          WHEN wUnsat > 0
        |            THEN (weight * (80000 - capSat)) // wUnsat
        |          ELSE 0 END)::BIGINT AS alloc_tokens
        |  FROM fin)
        |SELECT source, n_docs, tokens, weight, cap_tokens, saturated,
        |  alloc_tokens,
        |  CASE WHEN tokens > 0 THEN
        |    ((alloc_tokens // tokens) * 1000000 +
        |     ((alloc_tokens - (alloc_tokens // tokens) * tokens)
        |       * 2000000 + tokens) // (tokens * 2))::DOUBLE / 1000000.0
        |  END AS epochs
        |FROM alloc ORDER BY source""".stripMargin,


    // q138's cumsum + the 48-bit md5-lane checksum re-derived in SQL
    // (the '0x'||hex UBIGINT cast is the hashUniform precedent)
    "q194_shard_manifest" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |  sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM documents)
        |SELECT CAST(floor((cum - n_chars)::DOUBLE / 50000::DOUBLE) AS BIGINT)
        |    AS shard,
        |  count(*) AS n_docs, sum(n_chars)::BIGINT AS n_units,
        |  min(doc_id) AS first_key, max(doc_id) AS last_key,
        |  CAST(sum(CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 12))
        |    AS UBIGINT)) AS BIGINT) AS id_checksum
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,


    // q63's shingle/inverted-index CTEs at the 0.005 negative gate,
    // symmetrized; per (anchor, class) the row_number pick orders on
    // the 6dp-ROUNDED jaccard + partner id — the Spark side's exact
    // selection key — and only anchors with both legs survive
    "q206_contrastive_triplets" ->
      s"""WITH $shingleOverlapCtes,
         |p AS (
         |  SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jac
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |             JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.005),
         |sym AS (SELECT id_a AS anchor, id_b AS other, jac FROM p
         |        UNION ALL SELECT id_b, id_a, jac FROM p),
         |best AS (
         |  SELECT anchor, other, jac, jac >= 0.8 AS is_pos,
         |    row_number() OVER (PARTITION BY anchor, jac >= 0.8
         |                       ORDER BY jac DESC, other) AS rn
         |  FROM sym)
         |SELECT p.anchor, p.other AS pos_id, p.jac AS pos_sim,
         |  n.other AS neg_id, n.jac AS neg_sim
         |FROM best p JOIN best n ON p.anchor = n.anchor
         |WHERE p.is_pos AND p.rn = 1 AND NOT n.is_pos AND n.rn = 1
         |ORDER BY p.anchor""".stripMargin,


    // three integer signals ranked per source ((rn-1)/(n-1), id
    // tie-break), 6dp via the integer-exact score6 replay (floor of
    // the half-offset quotient — never an engine round()), ensemble =
    // score6 over the summed scaled ranks
    "q207_rank_ensemble" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens,
        |    length(text)::BIGINT AS n_chars,
        |    len(list_distinct(string_split_regex(trim(text), '\s+')))::BIGINT
        |      AS n_types
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id)
        |      - 1 AS a1,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
        |      - 1 AS a2,
        |    row_number() OVER (PARTITION BY source ORDER BY n_types, doc_id)
        |      - 1 AS a3,
        |    greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS d
        |  FROM m),
        |r6 AS (
        |  SELECT doc_id AS id, source,
        |    floor((a1 * 2000000 + d) / (d * 2)) AS r1,
        |    floor((a2 * 2000000 + d) / (d * 2)) AS r2,
        |    floor((a3 * 2000000 + d) / (d * 2)) AS r3
        |  FROM r)
        |SELECT id, source,
        |  r1 / 1000000.0 AS r_n_tokens,
        |  r2 / 1000000.0 AS r_n_chars,
        |  r3 / 1000000.0 AS r_n_types,
        |  floor(((r1 + r2 + r3) * 2 + 3) / 6) / 1000000.0 AS ensemble
        |FROM r6 ORDER BY id""".stripMargin,


    // same shingle/inverted-index CTEs as q63 at the lower 0.3 gate,
    // then DuckDB's own levenshtein refines: edit_sim =
    // 1 - lev/max(len). The oracle needs no band/length prunes —
    // they are exact necessary conditions of the final filter (the
    // Spark side carries +1 slack so 6dp boundary pairs always reach
    // the exact comparison both engines share)
    "q173_edit_similarity_pairs" ->
      s"""WITH $shingleOverlapCtes,
         |cand AS (
         |  SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |             JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.3)
         |SELECT c.id_a, c.id_b, c.jaccard,
         |  CASE WHEN greatest(length(da.text), length(db.text)) = 0 THEN 1.0
         |       ELSE round(1.0 - levenshtein(da.text, db.text)::DOUBLE /
         |              greatest(length(da.text), length(db.text)), 6) END
         |    AS edit_sim
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.id_a
         |JOIN documents db ON db.doc_id = c.id_b
         |WHERE CASE WHEN greatest(length(da.text), length(db.text)) = 0 THEN 1.0
         |       ELSE round(1.0 - levenshtein(da.text, db.text)::DOUBLE /
         |              greatest(length(da.text), length(db.text)), 6) END >= 0.98
         |ORDER BY id_a, id_b""".stripMargin,


    // q141's window extended to two leads; same (ts, event_id) ordering
    "q213_event_paths" ->
      """WITH s AS (
        |  SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT s0 || '>' || s1 || '>' || s2 AS path, count(*) AS n
        |FROM s WHERE s1 IS NOT NULL AND s2 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,


    // the same orientation replayed in SQL: tuple-compare picks each
    // edge's (degree, node)-smaller endpoint, the wedge filter orders
    // endpoints by the SAME key (carried dt), closure is an equi-join
    // on the oriented pair — triangles counted exactly once
    "q220_part_triangles" ->
      s"""WITH e AS (
         |${coPairsSql}),
         |deg AS (
         |  SELECT node, count(*)::BIGINT AS d FROM (
         |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY 1),
         |o AS (
         |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
         |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
         |         CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dt
         |  FROM e JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
         |tri AS (
         |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
         |  FROM o e1 JOIN o e2 ON e1.s = e2.s
         |   AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))
         |  JOIN o e3 ON e3.s = e1.t AND e3.t = e2.t),
         |pern AS (
         |  SELECT node, count(*)::BIGINT AS triangles FROM (
         |    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri)
         |  GROUP BY 1)
         |SELECT d.node, d.d AS degree,
         |       COALESCE(p.triangles, 0)::BIGINT AS triangles
         |FROM deg d LEFT JOIN pern p USING (node)
         |ORDER BY triangles DESC, node""".stripMargin,


    // q218's unrolled rounds over the word-adjacency graph: same
    // tokenizer as every text oracle, same md5-60bit ids as the
    // portable simhash twin, same BIGINT lattice arithmetic
    "q221_textrank_keywords" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
         |         generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos
         |  FROM documents),
         |adj AS (
         |  SELECT least(a.w, b.w) AS cu, greatest(a.w, b.w) AS cv,
         |         count(*)::BIGINT AS weight
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.w <> b.w GROUP BY 1, 2),
         |e AS (
         |  SELECT CAST(('0x' || substr(md5(cu),1,15)) AS UBIGINT)::BIGINT AS src,
         |         CAST(('0x' || substr(md5(cv),1,15)) AS UBIGINT)::BIGINT AS dst,
         |         weight FROM adj
         |  UNION ALL
         |  SELECT CAST(('0x' || substr(md5(cv),1,15)) AS UBIGINT)::BIGINT,
         |         CAST(('0x' || substr(md5(cu),1,15)) AS UBIGINT)::BIGINT,
         |         weight FROM adj),
         |$pageRankCtes,
         |words AS (SELECT DISTINCT w AS word,
         |    CAST(('0x' || substr(md5(w),1,15)) AS UBIGINT)::BIGINT AS node
         |  FROM tok)
         |SELECT wd.word, r3.rank FROM r3 JOIN words wd USING (node)
         |ORDER BY rank DESC, word LIMIT 20""".stripMargin,


    // DuckDB's own jaro_winkler_similarity IS the oracle — the native
    // expression's convention (match window, integer transposition
    // halving, strict 0.7 boost gate, empty->0) is pinned to it by
    // JaroWinklerSpec fixtures; same entity table, blocking, cap, and
    // rounded-threshold filter
    "q219_fuzzy_link_parts" ->
      """WITH ent AS (
        |  SELECT p_name AS name, min(p_partkey)::BIGINT AS id
        |  FROM part GROUP BY 1),
        |k AS (SELECT id, name, string_split(name, ' ')[1] AS block
        |      FROM ent),
        |s AS (SELECT k.* FROM k JOIN (
        |        SELECT block FROM k GROUP BY block
        |        HAVING count(*) <= 10000) b USING (block))
        |SELECT a.id AS id_a, b.id AS id_b,
        |       a.name AS name_a, b.name AS name_b,
        |       round(jaro_winkler_similarity(a.name, b.name), 6) AS jw_sim
        |FROM s a JOIN s b ON a.block = b.block AND a.id < b.id
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.85
        |ORDER BY jw_sim DESC, id_a, id_b""".stripMargin,


    // the 3 PageRank rounds unrolled as CTEs: same co-occurrence
    // self-join, same BIGINT lattice (10^12), same truncating `//` per
    // edge — every intermediate is ::BIGINT-cast so DuckDB's HUGEINT
    // sums can't drift the schema
    "q218_part_pagerank" ->
      s"""WITH e AS (
         |  SELECT a.l_partkey::BIGINT AS src, b.l_partkey::BIGINT AS dst,
         |         count(*)::BIGINT AS weight
         |  FROM lineitem a JOIN lineitem b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
         |  GROUP BY 1, 2),
         |$pageRankCtes
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node""".stripMargin,


    // identical damage injection (the shared mojibakeSuffix literal)
    // and the IDENTICAL marker pattern (TextStats.mojibakeMarkers
    // interpolated) — RE2 counts the same non-overlapping matches
    "q212_mojibake_scan" ->
      s"""WITH d AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 3 = 0 THEN text || '$mojibakeSuffix'
         |         ELSE text END AS t
         |  FROM documents),
         |h AS (SELECT source,
         |  len(regexp_extract_all(t, '${TextStats.mojibakeMarkers}'))
         |    AS hits FROM d)
         |SELECT source AS slice, count(*) AS n_docs,
         |  sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
         |  sum(hits)::BIGINT AS n_hits,
         |  round(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS flagged_share
         |FROM h GROUP BY source ORDER BY source""".stripMargin,


    // dirty synthesis via chr() codes (8220/8221 curly doubles,
    // 8216/8217 curly singles, 8211/8212 dashes, 160 NBSP), then the
    // three cleanText passes with the same RE2-compatible classes
    "q176_text_clean" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    chr(7) || ' ' || chr(8220) || replace(text, ' ', '  ') ||
        |    chr(8221) || ' ' || chr(8211) || ' ' || chr(160) || 'end' || chr(1)
        |      AS d
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    translate(
        |      regexp_replace(d, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      chr(8220)||chr(8221)||chr(8216)||chr(8217)||chr(8211)||chr(8212)||chr(160),
        |      '""''''-- '),
        |    '\s+', ' ', 'g')) AS clean_text
        |FROM dirty ORDER BY doc_id""".stripMargin,
  )
}
