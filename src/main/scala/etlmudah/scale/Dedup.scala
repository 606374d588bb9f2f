package etlmudah.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import etlmudah.text.TextStats

/** Deduplication at training-data scale: exact, MinHash+LSH banded
  * near-dup, SimHash, n-gram Jaccard.
  *
  * Scale design (the 100 TB contract):
  *  - NEVER an all-pairs cross join. Candidates come only from LSH band
  *    buckets (MinHash) or 16-bit SimHash chunks — the self-join key is
  *    (band index, band hash), so cost is sum of |bucket|^2 over buckets,
  *    which banding keeps tiny for non-duplicate corpora. Degenerate
  *    buckets are capped (`maxBucketSize`) before the pair join.
  *  - Signatures are computed explode -> partial-aggregate, NOT as per-row
  *    nested higher-order functions. Spark's array lambdas are
  *    CodegenFallback (interpreted) and CollapseProject inlines upstream
  *    expressions into lambda bodies, re-evaluating tokenization once per
  *    lambda iteration — measured 100x slowdowns. The explode shape keeps
  *    every operator inside whole-stage codegen, combines map-side
  *    (partial min/sum before any exchange), and shuffles only
  *    (id, seed, hash) longs — a few KB per document regardless of text
  *    size.
  *  - Candidate pair joins carry IDs only; shingle payloads re-join for
  *    the exact-Jaccard refine, bounded by candidate count, not corpus.
  *  - Sessions running these operators should set
  *    `spark.sql.codegen.maxFields >= 200`: the signature aggregates
  *    (128 min columns / 64 vote columns) exceed the default 100-field
  *    whole-stage-codegen cutoff and silently drop to interpreted
  *    aggregation (~2x measured) otherwise.
  */
object Dedup {

  /** Exact dedup: keep one deterministic winner per normalized-text
    * fingerprint (lowest id wins). One shuffle on the fingerprint. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol).asc)
    df.withColumn("__fp", TextStats.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Incremental exact dedup — the arriving-batch twin of `exactDedup`,
    * the shape every continuously-crawled corpus needs (re-deduping
    * 100 TB from scratch per batch is not a plan): classifies each
    * batch document as 'new' (first sighting anywhere), 'dup_corpus'
    * (fingerprint already present in the base corpus), or 'dup_batch'
    * (absent from the corpus, but a batch-mate with a smaller id
    * carries the same fingerprint — the deterministic min-id winner
    * rule of `exactDedup`, applied within the batch).
    *
    * Cost: one shuffle of each side on the 16-byte fingerprint; the
    * corpus reduces to DISTINCT fingerprints before the left join
    * (fingerprint-set semi-join — at scale this is the only corpus
    * state the operator needs, so it can be a maintained fingerprint
    * table rather than a rescan of the raw text). */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
                       textCol: String, idCol: String,
                       carryCols: Seq[String] = Nil): DataFrame = {
    val b = batch.select((Seq(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("__fp")) ++
      carryCols.map(col)): _*)
    val c = corpus.select(TextStats.fingerprint(col(textCol)).as("__fp"))
      .distinct().withColumn("__in_corpus", lit(true))
    val w = Window.partitionBy(col("__fp")).orderBy(col("id").asc)
    b.join(c, Seq("__fp"), "left")
      .withColumn("__rn", row_number().over(w))
      .select((Seq(col("id"),
        when(col("__in_corpus"), lit("dup_corpus"))
          .when(col("__rn") > 1, lit("dup_batch"))
          .otherwise(lit("new")).as("status")) ++ carryCols.map(col)): _*)
  }

  /** Normalization ladder — how much duplication each normalization
    * level would surface, BEFORE committing the pipeline to one: raw
    * bytes, whitespace+case folding (the [[exactDedup]] fingerprint),
    * punctuation stripping, digit masking. Each row reports the
    * distinct-fingerprint count and the duplicate mass at that level;
    * the jump between rows is the signal (a big raw->ws_case jump
    * means trivial recrawl dups; a big punct->digits jump means
    * templated numeric boilerplate).
    *
    * One scan: all four fingerprints are projections of the same text,
    * counted in a single multi-distinct aggregate (the q93 profiler's
    * Expand shape — rows x 4, bounded and map-side combined); the
    * ladder unpivots from the one-row aggregate, so nothing here
    * depends on corpus size except the scan. */
  def normalizationLadder(df: DataFrame, textCol: String,
                          idCol: String): DataFrame = {
    val ws = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val punct = regexp_replace(ws, "[^a-z0-9 ]", "")
    val digits = regexp_replace(punct, "[0-9]+", "0")
    val agg = df.agg(
      count(lit(1)).as("n"),
      countDistinct(md5(col(textCol).cast("binary"))).as("d0"),
      countDistinct(md5(ws.cast("binary"))).as("d1"),
      countDistinct(md5(punct.cast("binary"))).as("d2"),
      countDistinct(md5(digits.cast("binary"))).as("d3"))
    agg.selectExpr("n",
        "stack(4, 1, 'raw', d0, 2, 'ws_case', d1, 3, 'punct', d2, " +
          "4, 'digits', d3) as (level, normalization, n_distinct)")
      .select(col("level"), col("normalization"), col("n").as("n_docs"),
        col("n_distinct"), (col("n") - col("n_distinct")).as("n_dups"),
        // empty input still yields one aggregate row with n = 0; an
        // unguarded share would DIVIDE_BY_ZERO under ANSI mode
        when(col("n") > 0,
          round((col("n") - col("n_distinct")) * 100.0 / col("n"), 4))
          .otherwise(lit(0.0)).as("dup_pct"))
      .orderBy(col("level"))
  }

  /** Per-document LSH band hashes via distributed MinHash. Returns
    * (id, n_shingles, band, bhash); documents with zero shingles drop
    * out.
    *
    * Cost shape: each shingle is string-hashed ONCE (xxhash64); the k
    * hash families re-hash that single long with a seed literal —
    * an 8-byte codegen'd hash, no string re-hashing, no ANSI overflow
    * (affine a*h+b would throw under ANSI mode). Accumulated by a single
    * groupBy(id) hash aggregate with k min() columns — one shuffle of
    * k longs per doc, every operator codegen'd, no k-times explode. */
  def minhashBands(shingled: DataFrame, idCol: String, shCol: String,
                   k: Int, bands: Int): DataFrame =
    minhashBandsRows(
      shingled.select(col(idCol).as("id"), explode(col(shCol)).as("shingle")),
      k, bands)

  /** Same as `minhashBands` but over exploded (id, shingle) rows — the
    * codegen-native form used by `nearDupPairs`. */
  def minhashBandsRows(shingleRows: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    require(bands * rowsPerBand == k, "k must be divisible by bands")

    val th = shingleRows.select(col("id"), xxhash64(col("shingle")).as("th"))
    val minAggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("th"))).as(s"m$i"))
    // carry the shingle count through the same aggregate: callers needing
    // |shingles(id)| (the Jaccard denominator) read it from here instead
    // of re-deriving the whole shingle pipeline
    val aggs = minAggs :+ count(lit(1)).as("n_shingles")
    val sig = th.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)

    // band hash = one multi-column xxhash64 over the band's r min-values
    // (longs hashed directly — a string concat here would materialize
    // bands x docs temporary strings for no semantic gain)
    val bandCols = (0 until bands).map { b =>
      xxhash64((0 until rowsPerBand).map(j => col(s"m${b * rowsPerBand + j}")): _*)
        .as(s"bh$b")
    }
    sig.select(col("id") +: col("n_shingles") +: bandCols: _*)
      .select(col("id"), col("n_shingles"),
        posexplode(array((0 until bands).map(b => col(s"bh$b")): _*))
          .as(Seq("band", "bhash")))
  }

  /** Candidate pairs from MinHash LSH + exact n-gram Jaccard refine.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= minJaccard,
    * ordered desc. k=128, bands=32 (r=4) targets the ~0.7+ band with
    * near-total recall. */
  /** Distinct word-n-gram shingles as (id, shingle) ROWS, built with
    * posexplode + window lead() — every operator codegen'd. The
    * array-HOF equivalent (TextStats.shingles) runs interpreted at
    * ~0.8 ms/row; this form is for the hot path. Documents shorter than
    * n tokens contribute their full token string so they stay
    * dedup-eligible. The window shuffle doubles as the parallelism
    * barrier for single-split inputs. */
  def shingleRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    gramRows(df, textCol, idCol, n).distinct()

  /** Hashed form for the hot path: tokens are hashed FIRST and the
    * shingle value is a rolling hash of n consecutive token hashes, so
    * the lead() window sorts 8-byte longs instead of token strings, the
    * gram string is never materialized, and the distinct plus every
    * downstream join/shuffle moves 8 bytes per shingle. Collisions
    * (~n^2/2^64) are negligible against MinHash's own approximation
    * error; DedupSpec still validates recall against a string-shingle
    * brute force. */
  private[scale] def shingleHashRows(df: DataFrame, textCol: String,
                                     idCol: String, n: Int,
                                     includeShort: Boolean = true): DataFrame = {
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), xxhash64(col("t")).as("th"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("th"), j).over(w))
    val grams = tok
      .select(col("id"), xxhash64(col("th") +: leads: _*).as("shingle"),
        leads.last.isNotNull.as("__full"))
      .filter(col("__full"))
      .select("id", "shingle")
    // short docs (< n tokens): one shingle from the hash of the whole
    // token-hash sequence — same value for identical text, and distinct
    // from any n-gram (token counts differ). Jaccard callers want this
    // (identical short docs should still pair); strict-n-gram callers
    // (bloom containment) pass includeShort = false — a doc with < n
    // tokens HAS no n-gram.
    if (!includeShort) return grams.distinct()
    val short = df
      .filter(size(TextStats.tokens(col(textCol))) < n)
      .select(col(idCol).as("id"),
        xxhash64(concat_ws(" ", TextStats.tokens(col(textCol)))).as("shingle"))
    grams.union(short).distinct()
  }

  private def gramRows(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    // Repartition the raw docs BEFORE exploding: single-split inputs
    // would tokenize on one core, and hashpartitioning(id) here is
    // reused by the lead() window below (no second shuffle).
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("t"), j).over(w))
    val grams = tok
      .select(col("id"), concat_ws(" ", col("t") +: leads: _*).as("shingle"),
        leads.last.isNotNull.as("__full"))
      .filter(col("__full"))
      .select("id", "shingle")
    // Docs with < n tokens produce no grams — exactly the docs a cheap
    // per-row predicate finds; give them their whole token string (no
    // anti-join, which would recompute the gram pipeline a second time).
    val short = df
      .filter(size(TextStats.tokens(col(textCol))) < n)
      .select(col(idCol).as("id"),
        concat_ws(" ", TextStats.tokens(col(textCol))).as("shingle"))
    grams.union(short)
  }

  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                   minJaccard: Double = 0.7,
                   maxBucketSize: Int = 1000): DataFrame = {
    // materialized: the shingle rows feed the signature aggregate AND
    // the two refine-join sides through DIFFERENT exchange keys, so
    // ReuseExchange cannot collapse them — measured ~30% faster at
    // sf0.1 with the checkpoint
    val sh = shingleHashRows(df, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val buckets = minhashBandsRows(sh, k, bands)

    // Degenerate-bucket guard before the quadratic-in-bucket-size join.
    // Materialized: both candidate-join sides read the bucket rows, and
    // an unmaterialized plan evaluates the whole signature aggregate
    // twice; bucket rows are |docs| x bands skinny ids.
    val sized = capBuckets(buckets, maxBucketSize).localCheckpoint(true)

    val cands = sized
      .select(col("band"), col("bhash"), col("id").as("id_a"),
        col("n_shingles").as("na"))
      .join(sized.select(col("band"), col("bhash"), col("id").as("id_b"),
        col("n_shingles").as("nb")), Seq("band", "bhash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "na", "nb")
      .distinct()   // a pair may collide in several bands; ids only -> cheap

    // Exact Jaccard refine in exploded form: |intersection| is a count of
    // matching (shingle) rows between the two candidate docs; sizes ride
    // along from the signature aggregate, so the shingle pipeline is
    // evaluated once for buckets and once for the refine join — never a
    // third time for denominators.
    val inter = cands
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
  }

  /** EXACT n-gram Jaccard near-dup pairs — the oracle-checkable tier of
    * near-dup detection. Candidates come from an inverted-index
    * self-join on shingles (any pair with jaccard >= t > 0 shares at
    * least one shingle, so recall is 1.0 by construction — no
    * probabilistic banding), and the same join doubles as the
    * intersection count, so the refine step of `nearDupPairs`
    * disappears. Shingles are hashed to longs first (`shingleHashRows`),
    * so the self-join shuffles 8-byte keys, never gram strings.
    *
    * Scale shape: cost is sum over shingles of df(s)^2 — linear for
    * corpora whose shingle document-frequency is bounded (true after
    * exact dedup removes identical boilerplate). For heavy-tailed
    * shingle DF at 100 TB, `nearDupPairs` (MinHash-banded) is the scale
    * path; this operator is the exact tier used on bounded slices and
    * as the recall oracle for the banded one. */
  def exactJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3,
                        minJaccard: Double = 0.8): DataFrame = {
    // NOT materialized: the three consumers (sizes + both join sides)
    // sit over a plain parquet-scan subtree, which Catalyst's
    // ReuseExchange already dedupes — an eager checkpoint here measured
    // ~50% SLOWER at sf0.1 (it breaks pipelining for no saved work).
    // Contrast the RDD-backed subtrees (simhash chunks, LSH buckets,
    // portable signatures), where canonicalization fails and an
    // explicit checkpoint IS the dedupe.
    val sh = shingleHashRows(df, textCol, idCol, shingleN)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("id").as("id_a"), col("shingle"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** ASYMMETRIC containment pairs: C(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    * Jaccard misses the quote/boilerplate case — a 50-shingle doc fully
    * embedded in a 5000-shingle doc has jaccard ~0.01 but containment
    * 1.0 — so curation pipelines dedup on containment to drop documents
    * swallowed by bigger ones (the usual survivor rule: keep the
    * superset, drop the contained). Emits the pair when EITHER
    * direction reaches `minContainment`, with both directions reported.
    *
    * Same inverted-index self-join as [[exactJaccardPairs]] (one
    * hashed-shingle shuffle; the join doubles as the intersection
    * count), and the same sum(df^2) scale caveat: this is the exact,
    * oracle-checkable tier. At crawl scale, prune candidates first
    * (banded MinHash over the smaller doc's shingles, or
    * `bloomContaminatedIds` with the big docs as the reference side) —
    * a containment threshold admits arbitrarily size-mismatched pairs,
    * so the symmetric PPJoin length filter does NOT apply. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleN: Int = 3,
                       minContainment: Double = 0.9): DataFrame = {
    // NOT materialized: the three consumers (sizes + both join sides)
    // sit over a plain parquet-scan subtree, which Catalyst's
    // ReuseExchange already dedupes — an eager checkpoint here measured
    // ~50% SLOWER at sf0.1 (it breaks pipelining for no saved work).
    // Contrast the RDD-backed subtrees (simhash chunks, LSH buckets,
    // portable signatures), where canonicalization fails and an
    // explicit checkpoint IS the dedupe.
    val sh = shingleHashRows(df, textCol, idCol, shingleN)
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("id").as("id_a"), col("shingle"))
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
      .withColumn("c_a_in_b", col("inter").cast("double") / col("na"))
      .withColumn("c_b_in_a", col("inter").cast("double") / col("nb"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= minContainment)
      .select(col("id_a"), col("id_b"),
        round(col("c_a_in_b"), 6).as("c_a_in_b"),
        round(col("c_b_in_a"), 6).as("c_b_in_a"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** FUZZY dedup refine: normalized edit (Levenshtein) similarity over
    * shingle-gated candidate pairs — the character-level tier that
    * separates true near-copies (small in-place edits) from docs that
    * merely REUSE the same vocabulary. Set similarities (Jaccard,
    * containment, MinHash) are order-blind: a document and a paragraph
    * -level shuffle of it score jaccard ~1.0 yet are different texts.
    * `edit_sim = 1 - lev(a,b) / max(len(a), len(b))` is order-exact, so
    * curation pipelines use it as the final verify before dropping a
    * survivor (the classic candidate-generate/verify split: Gravano et
    * al. VLDB'01 run edit-distance joins exactly this way — n-gram
    * candidates first, DP verify second).
    *
    * Shape: candidates come from [[exactJaccardPairs]] at a LOW gate
    * (`jaccardGate`), texts join back for candidate pairs only, and the
    * O(len*len) DP runs on that bounded pair set — never all n^2.
    * Recall relative to pure edit similarity is bounded by the gate: a
    * pair at `minEditSim` whose edits are spread densely enough to kill
    * every shared `shingleN`-gram can hide below `jaccardGate` (each
    * char edit destroys <= shingleN word-grams, so high edit_sim with
    * near-zero gram overlap requires edits in most windows); gate low,
    * verify exact is the standard trade.
    *
    * Before the DP, two exact prunes (both follow from
    * lev >= |len(a) - len(b)|, Gusfield's bound):
    *  - pairs whose LENGTH GAP alone caps edit_sim below the threshold
    *    never run the DP (the slack covers both the floor gap and the
    *    6dp rounding margin — see the band construction — so boundary
    *    pairs still reach the exact comparison at any doc length);
    *  - the DP itself runs BANDED via levenshtein's threshold form —
    *    cost O(maxLen * band) instead of O(la * lb); beyond-band pairs
    *    return -1 and cannot pass the filter anyway (the threshold
    *    carries the same slack, so the band never decides a
    *    boundary pair — the exact rounded comparison does). Filter
    *    pushdown inlines the DP into the join condition up to 3x
    *    (predicate + sentinel check + output column); that re-eval is
    *    of the BANDED form, so the worst case stays ~3(1-t) of one
    *    unbanded DP — a win for any t >= 2/3, and below that the
    *    candidate join dominates regardless.
    *
    * 100 TB shape: swap the exact candidate tier for the banded MinHash
    * one (`nearDupPairs` / `minhashPortablePairs`) — the verify here
    * only reads (id_a, id_b) and is tier-agnostic; DP cost stays
    * |candidates| x banded-DP. Empty-vs-empty pairs define edit_sim=1
    * (they are identical), dodging the 0/0.
    *
    * Extends the reference's key-exact dedup (`dags/dag.py:214-219`,
    * seen-set on listing ids) to the fuzzy-content tier its corpus
    * would need at scale; q173's oracle replays candidates + DuckDB's
    * own `levenshtein`. */
  def editSimilarityPairs(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3,
                          jaccardGate: Double = 0.3,
                          minEditSim: Double = 0.6): DataFrame = {
    val texts = df.select(col(idCol), col(textCol))
    val cands = exactJaccardPairs(df, textCol, idCol, shingleN, jaccardGate)
    val paired = cands
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("ta")), Seq("id_a"))
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("tb")), Seq("id_b"))
      .withColumn("la", length(col("ta")))
      .withColumn("lb", length(col("tb")))
    val maxLen = greatest(col("la"), col("lb"))
    // exact-prune band: floor((1-t)*maxLen) + 1 covers the floor gap and
    // + ceil(5e-7*maxLen) covers the 6dp rounding margin — WITHOUT that
    // term the +1 alone is only safe while maxLen <= 2e6 (a d = B+1 pair
    // on a multi-megabyte doc could round up past t while the band
    // returns -1); with it the band never decides a boundary pair at
    // ANY length, only the exact rounded comparison does
    val slackBand =
      floor((lit(1.0) - lit(minEditSim)) * maxLen).cast("int") + lit(1) +
        ceil(maxLen.cast("double") * lit(5e-7)).cast("int")
    paired
      .filter(abs(col("la") - col("lb")) <= slackBand)
      .withColumn("dist",
        when(maxLen === 0, lit(0))   // two empty docs: identical
          .otherwise(call_function("levenshtein", col("ta"), col("tb"), slackBand)))
      .withColumn("edit_sim",
        when(maxLen === 0, lit(1.0)).otherwise(
          round(lit(1.0) - col("dist").cast("double") / maxLen, 6)))
      .filter(col("dist") >= 0 && col("edit_sim") >= minEditSim)
      .select(col("id_a"), col("id_b"), col("jaccard"), col("edit_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Prefix-filtered exact Jaccard join — the PPJoin-style scale tier
    * of [[exactJaccardPairs]] (Chaudhuri et al. ICDE'06 / Bayardo et
    * al. WWW'07 prefix-filtering principle): under a global rare-first
    * shingle order, any pair with Jaccard >= t must share a shingle
    * inside both docs' first (n - ceil(t*n) + 1) shingles, so the
    * candidate join runs on PREFIXES only. Where [[exactJaccardPairs]]
    * pays sum(df^2) over EVERY shingle — quadratic in the corpus-wide
    * boilerplate shingles with the heaviest document frequency — the
    * prefix join, by putting the RAREST shingles in the prefix,
    * excludes exactly those hot keys from candidate generation. Same
    * exact output (recall 1.0 by the prefix lemma, verified against
    * the unfiltered tier in DedupSpec), so q63's oracle applies
    * verbatim.
    *
    * Candidate pruning applies the full PPJoin filter stack BEFORE the
    * verify join, not just the prefix lemma:
    *  - LENGTH filter: jaccard >= t forces min(na,nb) >= t*max(na,nb)
    *    (inter <= min and inter >= t/(1+t)*(na+nb)), so size-mismatched
    *    pairs never reach verification;
    *  - POSITIONAL filter: a shared prefix shingle at ranks (i, j)
    *    under the global order bounds the whole intersection by
    *    min(i,j) + min(na-i, nb-j) — shared shingles at-or-before s
    *    number at most min(i,j), those after at most min(na-i, nb-j).
    *    The bound holds for EVERY shared prefix shingle, so a pair is
    *    pruned when the MINIMUM bound over its matches falls below the
    *    required overlap alpha = ceil(t/(1+t)*(na+nb)). Both filters
    *    are necessary conditions — the surviving pair set still has
    *    recall 1.0 and the output is byte-identical (DedupSpec pins
    *    identity to the unfiltered tier).
    * Measured at sf0.1 the filters cut surviving candidates ~4x, and
    * the verify join — the dominant cost of this tier — shrinks with
    * them.
    *
    * Verify phase: candidate pairs re-join the exploded (id, shingle)
    * rows keyed on (id, shingle) and COUNT the matches — the
    * `nearDupPairs` refine shape, restricted to candidates. Cost is
    * |candidates| x doc length in 8-byte rows, never an index-wide
    * rescan, and — unlike a `collect_list` set verify — nothing
    * materializes per-document arrays or leaves whole-stage codegen.
    * Doc sizes ride the candidate aggregate, so the verify output needs
    * no size join at all.
    *
    * The prefix bound subtracts an epsilon before `ceil`: when t*n is
    * mathematically an exact integer, fp rounding can land one ulp
    * ABOVE it, and a naive ceil would shorten the prefix by one and
    * break the recall-1.0 lemma for that doc size.
    *
    * The shingle rows are materialized ONCE (`localCheckpoint`, the
    * `dupClusters` precedent): three consumers read them (the
    * df+prefix window pass and the verify join's two sides), and
    * re-running tokenize+window per consumer measured ~2x the whole
    * query. At cluster scale the same move is writing the (id,
    * shingle) table once — 8 bytes a shingle — before indexing it. */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int = 3,
                         minJaccard: Double = 0.8,
                         hotDfCutoff: Long = 1000000L): DataFrame = {
    val sh = shingleHashRows(df, textCol, idCol, shingleN).localCheckpoint(true)
    // document frequency via a map-side-combined groupBy, NOT a
    // shingle-partitioned window: the window form moves EVERY occurrence
    // of a hot shingle to one reducer and holds them in one frame — on a
    // Zipf corpus the top boilerplate shingle can be percents of all
    // rows, i.e. one melting task at 100 TB. The groupBy partial-
    // aggregates hot keys to one row per map task before the shuffle, so
    // the df table is Heaps-law-sized with no skewed partition. Joining
    // df back onto sh is then the only skew risk; split hot/cold:
    //  - HOT shingles (df >= hotDfCutoff): by Zipf only a head-sized
    //    handful, so their (shingle, df) rows broadcast and sh's hot
    //    rows never shuffle by shingle at all;
    //  - COLD shingles: every key moves < hotDfCutoff rows, so the
    //    shuffle join is skew-bounded by construction.
    // Net row movement equals the old window (sh crosses the wire once
    // keyed by shingle) plus a Heaps-sized partial-agg shuffle.
    // materialized: the hot broadcast, the anti-join, and the cold join
    // all read the df table — unmaterialized, the corpus-scale count
    // aggregate runs once per consumer; the table is Heaps-law-sized
    val dfTbl = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
      .localCheckpoint(true)
    val hotDfTbl = dfTbl.filter(col("__df") >= hotDfCutoff)
    val shHot = sh.join(broadcast(hotDfTbl), Seq("shingle"))
    val shCold = sh
      .join(broadcast(hotDfTbl.select(col("shingle"))), Seq("shingle"),
        "left_anti")
      .join(dfTbl.filter(col("__df") < hotDfCutoff), Seq("shingle"))
    val wN = Window.partitionBy(col("id"))
    // global canonical order: document frequency asc (rarest first),
    // shingle hash as the deterministic tiebreak
    val wRk = Window.partitionBy(col("id"))
      .orderBy(col("__df").asc, col("shingle").asc)
    // NOT materialized (tried round 14, reverted): pinning the prefix
    // table halves the PRINTED plan (both candidate-join sides carry
    // the hot/cold+window subtree), but the subtree sits over the
    // checkpointed `sh` RDD whose exchanges canonicalize — runtime
    // reuse already dedupes it, so the eager checkpoint only added its
    // own materialization (no bench win) and hid the hot-broadcast /
    // no-shingle-window shape from the plan pins that guard this
    // operator's skew story.
    val prefix = shHot.unionByName(shCold)
      .withColumn("__n", count(lit(1)).over(wN))
      .withColumn("__rk", row_number().over(wRk))
      .filter(col("__rk") <=
        col("__n") - ceil(lit(minJaccard) * col("__n") - lit(1e-9)) + 1)
      .select(col("id"), col("shingle"), col("__rk"), col("__n"))
    // every epsilon below LOOSENS a necessary condition (false admits
    // are re-checked by verify; false prunes would break recall)
    val tFrac = minJaccard / (1.0 + minJaccard)
    val cand = prefix.select(col("id").as("id_a"), col("shingle"),
        col("__rk").as("__rka"), col("__n").as("na"))
      .join(prefix.select(col("id").as("id_b"), col("shingle"),
        col("__rk").as("__rkb"), col("__n").as("nb")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("na"), col("nb")).cast("double") >=
        lit(minJaccard) * greatest(col("na"), col("nb")) - lit(1e-9))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(min(least(col("__rka"), col("__rkb")) +
        least(col("na") - col("__rka"), col("nb") - col("__rkb"))).as("__ub"))
      .filter(col("__ub") >=
        ceil(lit(tFrac) * (col("na") + col("nb")) - lit(1e-9)))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"))
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PORTABLE MinHash near-dup pairs — the externally-auditable banded
    * tier (the q26 portable-simhash move applied to MinHash): shingles
    * stay STRINGS and every hash is a 32-bit hex lane of a seeded md5
    * (`substr(md5(seed || ':' || shingle), 1 + 8*lane, 8)`, four lanes
    * per digest, min over the fixed-width hex itself), so
    * any engine with md5 (DuckDB, Postgres, Trino) reproduces the
    * entire pipeline bit-for-bit — signatures, band buckets, candidate
    * set, and the exact-Jaccard refine. That turns the probabilistic
    * banding from "rows-only, trust the spec" into a hash-checkable
    * oracle row: the candidate set is sampling-free and deterministic
    * given the hash family, even though its RECALL is the usual banded
    * 1-(1-j^r)^b curve, not 1.0.
    *
    * Same scale shape as [[nearDupPairs]] (band-bucket equi-joins, id
    * pairs only, candidate-bounded refine); ~20% slower hashing than
    * the xxhash64 tier (md5 + string shingles), which is the price of
    * auditability — use the fast tier when nothing external needs to
    * re-derive the sketch. Defaults k=8, bands=4 (r=2) keep the
    * signature aggregate 8 columns wide so an external SQL twin stays
    * writable by hand.
    *
    * Vocabulary bound of the 32-bit lanes: with V distinct shingles a
    * lane collides with probability ~V/2^32, so min-hash agreement is
    * inflated by ~V/2^32 per lane — negligible below ~10^8 distinct
    * shingles, and a COST effect (larger band buckets -> more
    * candidates), never a correctness one, because the exact-Jaccard
    * refine filters candidates exactly. A 100 TB corpus exceeds 2^32
    * distinct shingles: pass `laneHex = 16` — two 64-bit lanes per
    * digest (hex chars 1-16 / 17-32) at 2x the md5 calls, pushing the
    * collision knee past ~10^17 distinct shingles — or run the
    * xxhash64 64-bit tier ([[nearDupPairs]], q25) when nothing
    * external needs to re-derive the sketch. Every lane stays a
    * fixed-width hex substring, so the external SQL twin changes only
    * its two width literals. */
  def minhashPortablePairs(df: DataFrame, textCol: String, idCol: String,
                           shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                           minJaccard: Double = 0.7,
                           laneHex: Int = 8): DataFrame = {
    require(bands * (k / bands) == k, "k must be divisible by bands")
    val sh = shingleRows(df, textCol, idCol, shingleN).localCheckpoint(true)
    portableSelfPairs(sh, portableSig(sh, k, laneHex), k, bands, minJaccard)
  }

  /** [[minhashPortablePairs]] over a PRE-STAGED signature table (the
    * `minhashPortableSigTable` artifact, typically parquet): the
    * md5-dominated signature stage — the whole tier's cost center — is
    * paid once at staging time, and every consuming pass (self-join
    * audits, cross-corpus decontamination, re-runs with different
    * band/threshold dials that share k) starts from the table. `sig`
    * must carry (id, mins[k]) for at least every id in `df`.
    *
    * NOTE the defaults are the PRODUCTION dials (k=128, b=32,
    * minJaccard=0.8 — q152's parameters), not [[minhashPortablePairs]]'s
    * cheap-oracle dials (k=8, b=4, 0.7): migrating a call site to the
    * staged tier must pass its thresholds explicitly or the result set
    * changes. */
  def minhashPortablePairsStaged(df: DataFrame, textCol: String,
                                 idCol: String, sig: DataFrame,
                                 shingleN: Int = 3, k: Int = 128,
                                 bands: Int = 32,
                                 minJaccard: Double = 0.8): DataFrame = {
    require(bands * (k / bands) == k, "k must be divisible by bands")
    val sh = shingleRows(df, textCol, idCol, shingleN).localCheckpoint(true)
    val scoped = unpackSig(sig, k).join(df.select(col(idCol).as("id")),
      Seq("id"), "left_semi")
    portableSelfPairs(sh, scoped, k, bands, minJaccard)
    // (no laneHex here: the staged table already fixed the lane width
    // at build time, and banding/refine are width-agnostic)
  }

  /** The standalone (id, mins: array<string>[k]) portable signature
    * table — the artifact to STAGE (write once, consume many):
    * signatures are per-document, so one full-corpus table serves the
    * self-join tier (q152) and every corpus-subset cross tier (q157)
    * that shares (shingleN, k). Mins are PACKED into one array column:
    * a 128-separate-string-columns parquet layout measured ~5x slower
    * to encode than the single array (13 s vs 2.5 s at sf0.1), and
    * consumers unpack with element_at projections that codegen flat.
    * Not checkpointed here — the caller materializes it (parquet)
    * exactly once. */
  def minhashPortableSigTable(df: DataFrame, textCol: String,
                              idCol: String, shingleN: Int = 3,
                              k: Int = 128, laneHex: Int = 8): DataFrame =
    portableSigRaw(shingleRows(df, textCol, idCol, shingleN), k, laneHex)
      .select(col("id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("mins"))

  /** Unpack a staged (id, mins) signature table back to the (id,
    * m0..m{k-1}) shape the banding expects. */
  private def unpackSig(sig: DataFrame, k: Int): DataFrame =
    sig.select(col("id") +:
      (0 until k).map(i => element_at(col("mins"), i + 1).as(s"m$i")): _*)

  private def portableSelfPairs(sh: DataFrame, sig: DataFrame, k: Int,
                                bands: Int, minJaccard: Double): DataFrame = {
    val buckets = portableBandBuckets(sig, k, bands)
    val cand = buckets.select(col("band"), col("bkey"), col("id").as("id_a"))
      .join(buckets.select(col("band"), col("bkey"), col("id").as("id_b")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("nb")), Seq("id_b"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Seeded-md5 lane signature over checkpointed shingle rows
    * (id, shingle). Four 32-bit lanes per md5 (hex chars 1-8 / 9-16 /
    * 17-24 / 25-32): hash i uses seed i/4, lane i%4, so k min-hashes
    * cost ceil(k/4) md5 calls — the digest is the dominant cost at
    * k=128. The min rides the HEX SUBSTRING itself: fixed-width
    * lowercase hex orders lexicographically exactly as its numeric
    * value, so no base conversion runs on either engine (conv() was
    * ~40% of the signature stage). Seeded digests are materialized as
    * a projection BEFORE the aggregate so each is computed once per
    * row, not once per lane. Replicated verbatim in SQL:
    *   min(substr(md5(seed || ':' || g), 1 + 8*lane, 8))
    * Checkpointed: in the self-join tier both sides of the band join
    * read it, and an unmaterialized plan computes the md5 projection +
    * k-column min aggregate TWICE (verified in the physical plan); the
    * table is |docs| x k fixed-width lanes — vanishing vs corpus, so
    * the cross-corpus tier (single consumer) keeps it too rather than
    * branching. */
  private def portableSig(sh: DataFrame, k: Int,
                          laneHex: Int = 8): DataFrame =
    portableSigRaw(sh, k, laneHex).localCheckpoint(true)

  /** Unmaterialized signature construction — used directly by
    * [[minhashPortableSigTable]], whose caller persists the result
    * itself (a checkpoint would double-materialize). `laneHex` sets the
    * lane width in hex chars: 8 (four 32-bit lanes per digest, the
    * audit-sample default) or 16 (two 64-bit lanes per digest — the
    * 100 TB configuration, 2x the md5 calls, collision knee ~10^17
    * distinct shingles). Fixed-width lowercase hex orders
    * lexicographically as its numeric value at EVERY width, so the
    * min/banding/refine machinery is width-agnostic. */
  private def portableSigRaw(sh: DataFrame, k: Int,
                             laneHex: Int = 8): DataFrame = {
    require(laneHex == 8 || laneHex == 16,
      s"laneHex must be 8 (32-bit lanes) or 16 (64-bit lanes), got $laneHex")
    val lanesPer = 32 / laneHex
    val nSeeds = (k + lanesPer - 1) / lanesPer
    val hashed = sh.select(col("id") +: (0 until nSeeds).map(j =>
      md5(concat(lit(s"$j:"), col("shingle")).cast("binary")).as(s"h$j")): _*)
    def lane(i: Int): Column =
      substring(col(s"h${i / lanesPer}"), 1 + laneHex * (i % lanesPer), laneHex)
    val minAggs = (0 until k).map(i => min(lane(i)).as(s"m$i"))
    hashed.groupBy(col("id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** Single-pass banding over a portable signature: explode every
    * band's bucket key (the ':'-joined min tuple — mins are FIXED-WIDTH
    * hex, 8 or 16 chars per the signature's lane width, so the
    * concatenation is injective and key equality IS tuple equality) so
    * the candidate join runs ONCE on (band, bkey). A per-band join loop
    * is `bands` separate shuffles — pure scheduling overhead at any
    * scale (32 joins for k=128/b=32). */
  private def portableBandBuckets(sig: DataFrame, k: Int,
                                  bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandKeys = (0 until bands).map { b =>
      concat_ws(":", (0 until rowsPerBand).map(j =>
        col(s"m${b * rowsPerBand + j}")): _*)
    }
    sig.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
  }

  /** PORTABLE cross-corpus decontamination — [[crossCorpusNearDups]]
    * (q47's banded tier) through the q152 md5-lane family, so the
    * ENTIRE decontamination pipeline (seeded signatures, band buckets,
    * train x ref candidate set, exact-Jaccard refine) re-derives
    * bit-for-bit in any md5-capable engine (DuckDB, Postgres, Trino).
    * Candidates come from joining the two corpora's band buckets —
    * cost is the sum over buckets of |left| x |right|, bounded by
    * banding exactly like the self-join case, never |train| x |ref|.
    * Recall follows the usual banded 1-(1-j^r)^b curve; what the
    * oracle checks is that the candidate set and refine are
    * DETERMINISTIC given the hash family — the auditability property
    * that matters when a decontamination pass must be defensible to an
    * external party. The 32-bit-lane vocabulary bound documented on
    * [[minhashPortablePairs]] applies per corpus. */
  def minhashPortableCrossPairs(train: DataFrame, ref: DataFrame,
                                textCol: String, idCol: String,
                                shingleN: Int = 3, k: Int = 128,
                                bands: Int = 32,
                                minJaccard: Double = 0.7,
                                laneHex: Int = 8): DataFrame = {
    require(bands * (k / bands) == k, "k must be divisible by bands")
    // each corpus's shingle rows feed its signature aggregate, its
    // refine-join side, and its size aggregate — three consumers with
    // different exchange keys, so materialize once per corpus
    val shT = shingleRows(train, textCol, idCol, shingleN).localCheckpoint(true)
    val shR = shingleRows(ref, textCol, idCol, shingleN).localCheckpoint(true)
    portableCrossPairs(shT, shR, portableSig(shT, k, laneHex),
      portableSig(shR, k, laneHex), k, bands, minJaccard)
  }

  /** [[minhashPortableCrossPairs]] over a PRE-STAGED signature table
    * covering BOTH corpora (per-document signatures are
    * subset-stable, so the one full-corpus `minhashPortableSigTable`
    * artifact serves any train/ref split of it). NOTE: defaults are the
    * production dials (k=128, b=32, minJaccard=0.8), not the inline
    * twin's cheap-oracle dials — pass thresholds explicitly when
    * migrating a call site. */
  def minhashPortableCrossStaged(train: DataFrame, ref: DataFrame,
                                 textCol: String, idCol: String,
                                 sig: DataFrame, shingleN: Int = 3,
                                 k: Int = 128, bands: Int = 32,
                                 minJaccard: Double = 0.8): DataFrame = {
    require(bands * (k / bands) == k, "k must be divisible by bands")
    val shT = shingleRows(train, textCol, idCol, shingleN).localCheckpoint(true)
    val shR = shingleRows(ref, textCol, idCol, shingleN).localCheckpoint(true)
    val unpacked = unpackSig(sig, k)
    def scoped(side: DataFrame) = unpacked
      .join(side.select(col(idCol).as("id")), Seq("id"), "left_semi")
    portableCrossPairs(shT, shR, scoped(train), scoped(ref), k, bands,
      minJaccard)
  }

  private def portableCrossPairs(shT: DataFrame, shR: DataFrame,
                                 sigT: DataFrame, sigR: DataFrame,
                                 k: Int, bands: Int,
                                 minJaccard: Double): DataFrame = {
    val bT = portableBandBuckets(sigT, k, bands)
    val bR = portableBandBuckets(sigR, k, bands)
    val cand = bT.select(col("band"), col("bkey"), col("id").as("train_id"))
      .join(bR.select(col("band"), col("bkey"), col("id").as("ref_id")),
        Seq("band", "bkey"))
      .select("train_id", "ref_id")
      .distinct()
    val szT = shT.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val szR = shR.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(shT.select(col("id").as("train_id"), col("shingle")),
        Seq("train_id"))
      .join(shR.select(col("id").as("ref_id"), col("shingle")),
        Seq("ref_id", "shingle"))
      .groupBy(col("train_id"), col("ref_id")).agg(count(lit(1)).as("inter"))
    inter
      .join(szT.select(col("id").as("train_id"), col("n_sh").as("na")),
        Seq("train_id"))
      .join(szR.select(col("id").as("ref_id"), col("n_sh").as("nb")),
        Seq("ref_id"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("train_id"), col("ref_id"),
        round(col("jac"), 6).as("jaccard"))
      .orderBy(col("train_id"), col("ref_id"))
  }

  /** Duplicate-CLUSTER assignment: connected components over a near-dup
    * pair graph. Returns (doc_id, cluster_id, cluster_size) for every
    * node that appears in a pair, ordered by doc_id; cluster_id is the
    * component's minimum doc id (the canonical survivor). Self-loops
    * and repeated or reversed pairs add nothing; a pair with one null id
    * contributes only its other end, and null ids never appear.
    *
    * Round layout: the pair set is pinned once, and edge sets at or
    * below `localEdgeThreshold` rows (distinct edges, the pairs taken
    * both ways) are labelled on the DRIVER by union-find instead of in
    * Spark rounds — on one machine a round costs scheduling, not data
    * work, and the former single-partition rounds ran one pinned job
    * plus an `isEmpty` probe per round (~20 jobs on a 47-node graph).
    * One job reads the pinned pairs: each partition folds its pairs
    * into a spanning forest, one (id, component min) link per node it
    * holds, and the driver unions those links over sorted primitive
    * long arrays ([[minLabels]]), so driver memory is a few dozen bytes
    * per NODE however many pairs repeat it. The result goes back as an
    * in-memory local relation, already in doc_id order: one 3-long row
    * per node. Every node owns at least one distinct edge, so at the
    * 5M-edge default bound that is at most 5M rows of ~90 B as encoded
    * Spark rows (a 3-long payload plus row and array headers): ~450 MB
    * of driver heap at the very bound, plus a second copy while a plan
    * executes it. Larger edge sets keep their natural partitioning and
    * run the distributed rounds below, with AQE sizing each round's
    * exchanges (pass 0 to force that path).
    *
    * Distributed rounds: iterative min-label propagation — each node's
    * label becomes the minimum label among itself and its neighbors
    * until a fixpoint. Labels are `localCheckpoint`ed each round so the
    * plan does not grow with iteration count. Each round also
    * pointer-jumps (label := label(label), path halving), so even
    * adversarial long-chain graphs converge in O(log diameter) rounds
    * instead of O(diameter) — near-dup components in practice are
    * near-cliques and finish in 2-3 rounds either way. Labels still
    * changing after `maxIter` rounds are an error, never a result.
    *
    * Skew guard (distributed path only): the per-round joins key on raw
    * node/label ids, so a hot star head — one node in a vast fraction of
    * the edges, or one component label shared by most nodes — would land
    * its whole key on a single reducer. A one-pass max-degree probe on
    * the materialized edges decides; above `hotDegreeThreshold` both the
    * edge⋈label join and the pointer-jump label chase run through
    * `Joins.saltedJoin` (labels side replicated x`skewSaltFactor`, edge/
    * node side salted), which spreads each hot key over saltFactor
    * tasks at the cost of a bounded label-table replication. Output is
    * identical either way (equi-join semantics; spec-pinned on a forced
    * hot-star graph). */
  /** The CC round-layout decision, factored pure so the scale
    * rehearsal can assert it ENGAGES on a given graph's real stats:
    * returns (driver tier?, salted joins?). */
  private[scale] def ccLayout(edgeCount: Long, maxDegree: Long,
                              localEdgeThreshold: Long,
                              hotDegreeThreshold: Long): (Boolean, Boolean) = {
    val local = edgeCount <= localEdgeThreshold
    (local, !local && maxDegree > hotDegreeThreshold)
  }

  def dupClusters(pairs: DataFrame, aCol: String = "id_a",
                  bCol: String = "id_b", maxIter: Int = 25,
                  localEdgeThreshold: Long = 5000000L,
                  hotDegreeThreshold: Long = 2000000L,
                  skewSaltFactor: Int = 16): DataFrame = {
    // pin the PAIR MINING PIPELINE so it runs once: the driver tier
    // counts and then reads it, and union(p, p.swapped) below would
    // evaluate its input twice — measured ~2x the mining cost inside
    // every cluster-consuming query before the pin. Lazy, so the count
    // job is also the job that materializes it.
    val p = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint(false)
    val nPairs = p.queryExecution.toRdd.count()
    // the symmetrized edge set has at most 2 * nPairs rows, so a small
    // pair set is known to be local without building it
    if (2 * nPairs <= localEdgeThreshold) return clustersOnDriver(p)
    val edges = p
      .union(p.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val edgeCount = edges.count()
    if (edgeCount <= localEdgeThreshold) return clustersOnDriver(p)
    // hot-key probe: max degree over the materialized edge set (one
    // map-side-combined aggregate); no edges have max degree 0, not NULL
    val maxDegree = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("__d"))
      .agg(coalesce(max(col("__d")), lit(0L))).head().getLong(0)
    val (_, salted) =
      ccLayout(edgeCount, maxDegree, localEdgeThreshold, hotDegreeThreshold)
    def joinLabels(bigSide: DataFrame, labelSide: DataFrame, key: String,
                   joinType: String): DataFrame =
      if (salted)
        etlmudah.joins.Joins.saltedJoin(bigSide, labelSide, key,
          skewSaltFactor, joinType)
      else bigSide.join(labelSide, Seq(key), joinType)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = joinLabels(edges,
          labels.select(col("id").as("src"), col("label").as("nl")),
          "src", "inner")
        .groupBy(col("dst").as("id")).agg(min(col("nl")).as("min_nbr"))
      val prop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("l1"))
      // pointer jumping: a label is itself a node id, so chase one level
      // (label of my label) — halves chain length every round; a hot
      // component's shared label is the OTHER skewed key, so the chase
      // rides the same salted-join guard
      val jumped = joinLabels(prop,
          labels.select(col("id").as("l1"), col("label").as("ll")),
          "l1", "left")
        .select(col("id"), col("label"),
          least(col("l1"), coalesce(col("ll"), col("l1"))).as("new_label"))
      // convergence flag rides along in the same materialization, so each
      // round is exactly one job plus a cheap isEmpty probe
      val updated = jumped.select(col("id"), col("new_label"),
          (col("new_label") < col("label")).as("chg"))
        .localCheckpoint(true)
      converged = updated.filter(col("chg")).isEmpty
      labels = updated.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClusters: labels still changing after maxIter=$maxIter rounds")
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** The driver tier of [[dupClusters]] over its pinned (src, dst)
    * pairs: one job collects each partition's spanning forest, the
    * driver unions the forests and hands the labels back as a local
    * relation in doc_id order, with the schema the distributed rounds
    * produce (ids nullable iff either input id is). */
  private def clustersOnDriver(p: DataFrame): DataFrame = {
    val forests = p.queryExecution.toRdd.mapPartitions { rows =>
      val a = Array.newBuilder[Long]
      val b = Array.newBuilder[Long]
      // a null end links nothing: the other end enters as a self-loop
      rows.foreach { r =>
        if (!r.isNullAt(0)) {
          a += r.getLong(0)
          b += (if (r.isNullAt(1)) r.getLong(0) else r.getLong(1))
        } else if (!r.isNullAt(1)) {
          a += r.getLong(1)
          b += r.getLong(1)
        }
      }
      Iterator.single(minLabels(a.result(), b.result()))
    }.collect()
    val (ids, roots) =
      minLabels(forests.flatMap(_._1), forests.flatMap(_._2))
    val sizes = new Array[Long](ids.length)
    roots.foreach(r => sizes(java.util.Arrays.binarySearch(ids, r)) += 1)
    val idNullable = p.schema.exists(_.nullable)
    localRows(p.sparkSession, StructType(Seq(
        StructField("doc_id", LongType, idNullable),
        StructField("cluster_id", LongType, idNullable),
        StructField("cluster_size", LongType, nullable = false))),
      ids.length) { i =>
      (ids(i), roots(i), sizes(java.util.Arrays.binarySearch(ids, roots(i))))
    }
  }

  /** Connected components of the pairs (a(k), b(k)) by union-find over
    * primitive arrays: returns the sorted distinct ids and, per id, the
    * minimum id of its component. Ids are indexed by sorted position,
    * so linking each root under the smaller index links it under the
    * smaller id, and a root always holds its component's minimum. */
  private def minLabels(a: Array[Long],
                        b: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = sortedDistinct(a ++ b)
    val n = ids.length
    val parent = Array.range(0, n)
    def find(i0: Int): Int = {  // path halving
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    for (k <- a.indices) {
      val x = find(java.util.Arrays.binarySearch(ids, a(k)))
      val y = find(java.util.Arrays.binarySearch(ids, b(k)))
      if (x < y) parent(y) = x else if (y < x) parent(x) = y
    }
    (ids, Array.tabulate(n)(i => ids(find(i))))
  }

  /** `xs` sorted ascending without repeats, in place on its own buffer:
    * no boxing (the graph driver tiers' node and edge-key index). */
  private[etlmudah] def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    for (i <- xs.indices) if (n == 0 || xs(i) != xs(n - 1)) {
      xs(n) = xs(i)
      n += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  /** A graph driver tier's result handed back as an in-memory local
    * relation: `n` rows of three longs in index order, each built only
    * as the relation encodes it (never held as a boxed collection),
    * then fitted to `schema`: its names, its (integral) types and its
    * nullability. */
  private[etlmudah] def localRows(spark: SparkSession, schema: StructType,
                                  n: Int)(row: Int => (Long, Long, Long)): DataFrame = {
    import spark.implicits._
    val rows = new IndexedSeq[(Long, Long, Long)] {
      def length: Int = n
      def apply(i: Int): (Long, Long, Long) = row(i)
    }
    rows.toDF(schema.fieldNames.toSeq: _*).select(schema.fields.map { f =>
      // no value fails the cast (each came from that type); the
      // encoder's longs are never null, and a CASE without ELSE is the
      // identity that widens a column the schema wants nullable
      val c = col(f.name).cast(f.dataType)
      (if (f.nullable) when(c.isNotNull, c) else c).as(f.name)
    }.toSeq: _*)
  }

  /** Survivor-selection POLICY over duplicate clusters: keep the
    * highest-`scoreCol` member per cluster (ties -> lowest id) instead
    * of `dupClusters`' canonical min-id — the curation rule that keeps
    * the best-quality copy of a boilerplate family rather than an
    * arbitrary one. `clusters` is `dupClusters` output; `scores` maps
    * `idCol` -> quality. Cost: one equi-join of the (tiny) cluster
    * table against the score table plus one map-side-combined argmax —
    * nothing touches the full corpus. */
  def dupSurvivorsBy(clusters: DataFrame, scores: DataFrame,
                     idCol: String, scoreCol: String): DataFrame =
    clusters
      .join(scores.select(col(idCol).as("doc_id"), col(scoreCol).as("__score")),
        Seq("doc_id"))
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(
        max_by(col("doc_id"), struct(col("__score"), -col("doc_id")))
          .as("survivor_id"),
        max(col("__score")).as("survivor_score"))
      .select("cluster_id", "cluster_size", "survivor_id", "survivor_score")
      .orderBy(col("cluster_id"))

  /** Cross-corpus near-duplicate detection — DECONTAMINATION: find
    * training documents that are near-dups of a reference corpus (eval
    * benchmarks, held-out sets). Same banded-LSH shape as
    * `nearDupPairs`, but candidates come from joining the two corpora's
    * band buckets, so cost is sum over buckets of |left| x |right| —
    * bounded by banding exactly like the self-join case, never
    * |train| x |ref|. Returns (train_id, ref_id, jaccard) >= minJaccard.
    * At 100 TB the reference side is typically tiny (benchmarks);
    * everything per-side is the same bounded pipeline as nearDupPairs. */
  def crossCorpusNearDups(train: DataFrame, ref: DataFrame,
                          textCol: String, idCol: String,
                          shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                          minJaccard: Double = 0.7,
                          maxBucketSize: Int = 1000): DataFrame = {
    // materialized: each corpus's shingle rows feed its signature
    // aggregate AND its refine-join side (different exchange keys — no
    // ReuseExchange; see nearDupPairs)
    val shT = shingleHashRows(train, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val shR = shingleHashRows(ref, textCol, idCol, shingleN)
      .localCheckpoint(true)
    val bT = capBuckets(minhashBandsRows(shT, k, bands), maxBucketSize)
    val bR = capBuckets(minhashBandsRows(shR, k, bands), maxBucketSize)

    val cands = bT.select(col("band"), col("bhash"), col("id").as("train_id"),
        col("n_shingles").as("na"))
      .join(bR.select(col("band"), col("bhash"), col("id").as("ref_id"),
        col("n_shingles").as("nb")), Seq("band", "bhash"))
      .select("train_id", "ref_id", "na", "nb")
      .distinct()

    val inter = cands
      .join(shT.select(col("id").as("train_id"), col("shingle")), Seq("train_id"))
      .join(shR.select(col("id").as("ref_id"), col("shingle")),
        Seq("ref_id", "shingle"))
      .groupBy(col("train_id"), col("ref_id"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("train_id"), col("ref_id"), col("jaccard"))
      .orderBy(col("jaccard").desc, col("train_id").asc, col("ref_id").asc)
  }

  /** Degenerate-bucket guard shared by the self- and cross-corpus joins. */
  private def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.withColumn("bsz",
      count(lit(1)).over(Window.partitionBy(col("band"), col("bhash"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")

  /** SimHash per document: one hash per token occurrence, then a single
    * groupBy(id) with one conditional-sum vote column per bit (codegen'd,
    * map-side combined; one shuffle of `bits` longs per doc), packed into
    * a long by a static projection. Returns (id, sh); empty-token docs
    * drop out.
    *
    * `portable = false` (default): 64-bit xxhash64 token hashes — the
    * fast tier. `portable = true`: 60-bit token hashes from the first 15
    * hex chars of md5 — ~20% slower but reproducible in any engine with
    * md5 (DuckDB, Postgres, Trino), which makes the whole simhash
    * pipeline externally auditable; 60 bits because a 16-hex-char prefix
    * would not fit a signed long under ANSI mode. */
  def simhashAll(df: DataFrame, textCol: String, idCol: String,
                 portable: Boolean = false): DataFrame = {
    val bits = simhashBits(portable)
    val tok = df.repartition(col(idCol))   // parallelize tokenization itself
      .select(col(idCol).as("id"), explode(TextStats.tokens(col(textCol))).as("t"))
    val th =
      if (portable)
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10).cast("long")
      else xxhash64(col("t"))
    val hashed = tok.select(col("id"), th.as("th"))
    val voteAggs = (0 until bits).map(b =>
      sum(when(shiftrightunsigned(col("th"), b).bitwiseAND(lit(1L)) === 1L,
        lit(1L)).otherwise(lit(-1L))).as(s"v$b"))
    hashed.groupBy(col("id")).agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, lit(1L << (bits - 1 - b))).otherwise(lit(0L)))
          .reduce(_ + _).as("sh64"))
  }

  private def simhashBits(portable: Boolean): Int = if (portable) 60 else 64

  def hammingDist(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the hash into 4 equal-width chunks;
    * any pair within Hamming distance 3 must agree on at least one chunk
    * (pigeonhole), so the candidate join is exact-match on
    * (chunk index, chunk value) — never all-pairs. With maxHamming above
    * 3, pairs differing in all 4 chunks are (deliberately) not
    * candidates; the portable variant's external oracle replicates the
    * same banding, so the function stays exactly reproducible. */
  def simhashNearDups(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3,
                      portable: Boolean = false): DataFrame = {
    val bits = simhashBits(portable)
    val cw = bits / 4
    val mask = (1L << cw) - 1
    val withHash = simhashAll(df, textCol, idCol, portable)
    // materialized: both self-join sides read the chunk rows — without
    // this the full simhash vote aggregate runs twice
    val chunked = withHash.select(col("id"), col("sh64"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sh64"), cw * i).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "cval")))
      .localCheckpoint(true)
    val l = chunked.select(col("chunk"), col("cval"),
      col("id").as("id_a"), col("sh64").as("h_a"))
    val r = chunked.select(col("chunk"), col("cval"),
      col("id").as("id_b"), col("sh64").as("h_b"))
    l.join(r, Seq("chunk", "cval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDist(col("h_a"), col("h_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming").asc, col("id_a").asc, col("id_b").asc)
  }

  /** Cross-corpus EXACT n-gram Jaccard — the oracle-checkable tier of
    * `crossCorpusNearDups`, same inverted-index construction as
    * `exactJaccardPairs`: any (train, ref) pair with jaccard >= t > 0
    * shares a shingle, so joining the two corpora's shingle sets is both
    * complete candidate generation and the intersection count. Same
    * scale caveat as `exactJaccardPairs`; the banded variant is the
    * heavy-tail path. */
  def exactCrossJaccard(train: DataFrame, ref: DataFrame,
                        textCol: String, idCol: String,
                        shingleN: Int = 3,
                        minJaccard: Double = 0.8): DataFrame = {
    // not materialized: parquet-sourced subtrees — ReuseExchange
    // dedupes the shared aggregates (see exactJaccardPairs note)
    val shT = shingleHashRows(train, textCol, idCol, shingleN)
    val shR = shingleHashRows(ref, textCol, idCol, shingleN)
    val szT = shT.groupBy(col("id")).agg(count(lit(1)).as("na"))
    val szR = shR.groupBy(col("id")).agg(count(lit(1)).as("nb"))
    shT.select(col("id").as("train_id"), col("shingle"))
      .join(shR.select(col("id").as("ref_id"), col("shingle")), Seq("shingle"))
      .groupBy(col("train_id"), col("ref_id")).agg(count(lit(1)).as("inter"))
      .join(szT.select(col("id").as("train_id"), col("na")), Seq("train_id"))
      .join(szR.select(col("id").as("ref_id"), col("nb")), Seq("ref_id"))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJaccard)
      .select(col("train_id"), col("ref_id"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("train_id"), col("ref_id"))
  }

  /** Per-document contamination FRACTION — the GPT-3/PaLM-style
    * decontamination rule (different axis than pairwise Jaccard): for
    * each training document, the fraction of its distinct n-grams that
    * appear ANYWHERE in the reference corpus. Pairwise Jaccard (q65)
    * misses a train doc stitched together from many eval documents;
    * this catches it, because the reference side is pooled into one
    * gram set before matching. Returns (id, n_grams, n_contaminated,
    * contam_frac) for every training document.
    *
    * Scale shape: both corpora reduce to distinct 8-byte gram-hash rows
    * (`shingleHashRows`); the reference pool is one partial-agg'd
    * distinct (|ref vocab| rows, never the ref corpus), and the match
    * is a single gram-keyed left join — cost O(|train grams| +
    * |ref vocab|), never |train|x|ref|. The fraction is a ratio of two
    * exact counts, so the 6-dp round is combine-order-safe. */
  def contaminationFraction(train: DataFrame, ref: DataFrame,
                            textCol: String, idCol: String,
                            shingleN: Int = 3): DataFrame = {
    val shT = shingleHashRows(train, textCol, idCol, shingleN)
    val refSet = shingleHashRows(ref, textCol, idCol, shingleN)
      .select(col("shingle")).distinct()
    shT.join(refSet.withColumn("__hit", lit(1L)), Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contam_frac",
        round(col("n_contaminated").cast("double") / col("n_grams"), 6))
  }

  /** Bloom-prefiltered exact containment decontamination: ids of train
    * documents sharing at least one verbatim n-token shingle with the
    * reference corpus. The RESULT is exact (a confirming semi-join
    * removes every bloom false positive); the bloom is purely a
    * prefilter, and it is where the scale win lives: the reference
    * vocabulary folds into a fixed-size bitset via Spark's own
    * distributed, mergeable `BloomFilterAggregate` (exposed here as
    * `graft_bloom_agg` — map-side partial blooms OR-merge, so the
    * reference corpus never moves), the probe (`graft_might_contain`,
    * codegen'd) is a per-row projection on the train side, and only the
    * surviving sliver — true hits plus the bloom's ~1% false positives
    * — pays the exact shingle-keyed semi-join. Probing 100 TB of train
    * grams against a 10 GB reference thus shuffles ~nothing instead of
    * the full train gram stream.
    *
    * The bloom travels as an uncorrelated scalar subquery (evaluated
    * once, inlined as a literal — `might_contain` requires that form);
    * its size is `expectedItems`-driven and bounded, the same contract
    * as Spark's own runtime join filters. Strict n-gram semantics:
    * documents with fewer than `shingleN` tokens have no shingle and
    * cannot match. */
  def bloomContaminatedIds(train: DataFrame, ref: DataFrame,
                           textCol: String, idCol: String,
                           shingleN: Int = 8,
                           expectedItems: Long = 4L << 20): DataFrame = {
    val spark = train.sparkSession
    // materialized: the ref vocabulary feeds the bloom-building scalar
    // subquery AND the confirming semi-join (different exchange shapes,
    // no ReuseExchange)
    shingleHashRows(ref, textCol, idCol, shingleN, includeShort = false)
      .select(col("shingle")).distinct()
      .localCheckpoint(true)
      .createOrReplaceTempView("__graft_bloom_ref")
    shingleHashRows(train, textCol, idCol, shingleN, includeShort = false)
      .createOrReplaceTempView("__graft_bloom_train")
    spark.sql(
      s"""WITH cand AS (
         |  SELECT id, shingle FROM __graft_bloom_train
         |  WHERE graft_might_contain(
         |    (SELECT graft_bloom_agg(shingle, ${expectedItems}L)
         |     FROM __graft_bloom_ref),
         |    shingle))
         |SELECT DISTINCT id FROM cand
         |LEFT SEMI JOIN __graft_bloom_ref r ON cand.shingle = r.shingle
         |""".stripMargin)
  }

  /** Duplicate-SPAN coverage — the exact-substring-dedup diagnostic
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): for each document, the fraction of its tokens
    * lying inside some k-token span that also occurs verbatim in a
    * DIFFERENT document. Pairwise Jaccard scores whole documents; this
    * measures how much of each document is boilerplate shared with the
    * rest of the corpus — the quantity suffix-array dedup removes.
    *
    * Not a suffix array: every k-gram occurrence is hashed (8-byte
    * rolling hash over token hashes, gram strings never materialized),
    * cross-document grams are found with one map-side-combinable
    * min/max aggregate (min(id) != max(id) beats count(distinct id)),
    * and per-document covered-token counts come from the classic
    * fixed-length interval-union trick: sorted duplicate-gram starts
    * contribute least(k, pos - lag(pos)) each, so the union needs one
    * doc-keyed window over DUPLICATE STARTS ONLY — never a token-level
    * mark-and-count. Shuffles: one by doc (tokenize+window, reused),
    * one by gram hash (8-byte keys), one by doc for the union window.
    * Documents with fewer than k tokens have no k-spans and report 0.
    *
    * Returns (id, n_tokens, n_covered, coverage) per document. */
  def dupSpanCoverage(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 8): DataFrame = {
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
      .select(col("id"), col("pos"), xxhash64(col("t")).as("th"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("th"), j).over(w))
    val grams = tok
      .select(col("id"), col("pos"),
        xxhash64(col("th") +: leads: _*).as("g"),
        leads.last.isNotNull.as("__full"))
      .filter(col("__full"))
    val dup = grams.groupBy(col("g"))
      .agg(min(col("id")).as("__mn"), max(col("id")).as("__mx"))
      .filter(col("__mn") =!= col("__mx"))
      .select(col("g"))
    val starts = grams.join(dup, Seq("g")).select(col("id"), col("pos"))
    val cw = Window.partitionBy(col("id")).orderBy(col("pos"))
    val covered = starts
      .withColumn("__c", least(lit(k),
        col("pos") - coalesce(lag(col("pos"), 1).over(cw), col("pos") - k)))
      .groupBy(col("id")).agg(sum(col("__c")).as("n_covered"))
    df.select(col(idCol).as("id"),
        TextStats.tokenCount(col(textCol)).as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("coverage"))
  }

  /** Duplicate-span STRIP applied — [[dupSpanCoverage]]'s removal step
    * (Lee et al. 2022 ExactSubstr semantics at fixed k-gram
    * granularity): every occurrence of a duplicated k-token span
    * EXCEPT the corpus-wide first (minimum (doc, pos) — deterministic)
    * marks its k tokens for removal, and each document reassembles
    * from its surviving tokens in order. "Duplicated" means >= 2
    * occurrences anywhere — across documents or repeated inside one.
    * The kept first occurrence can still lose tokens to OTHER
    * overlapping duplicate spans — the over-removal tradeoff the
    * suffix-array cutter makes too; a fully-duplicated document
    * strips to the empty string but KEEPS its row, so removal rates
    * stay visible. Docs shorter than k tokens have no k-span and are
    * never stripped. Returns (id, text_clean, n_tokens, n_removed).
    *
    * Scale shape mirrors [[stripBoilerplate]]: grams travel as 8-byte
    * rolling hashes (token strings never shuffle by gram); per-gram
    * (count, first-occurrence) come from ONE map-side-combined
    * aggregate — min over a (id, pos) struct is combinable, so no
    * gram-keyed window exists anywhere; the drop-start join splits
    * hot/cold on `hotCutoff` with the Zipf head BROADCAST, so a
    * corpus-dominating span never shuffles by gram key; covered
    * positions explode k rows per dropped start (constant); reassembly
    * is one doc-keyed aggregate. */
  def stripDupSpans(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, hotCutoff: Long = 1000000L): DataFrame = {
    require(k >= 2, s"span length k must be >= 2 (got $k)")
    // materialized: the token explode feeds the gram build AND the
    // kept anti-join — unmaterialized it would tokenize the corpus
    // twice
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("t"), j).over(w))
    // materialized: feeds the gram-stats aggregate AND both drop-start
    // join branches (three consumers, two exchange keys)
    val grams = tok
      .select(col("id"), col("pos"),
        xxhash64(concat_ws(" ", col("t") +: leads: _*)).as("gh"),
        leads.last.isNotNull.as("__full"))
      .filter(col("__full"))
      .select("id", "pos", "gh")
      .localCheckpoint(true)
    val gstats = grams
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col("id"), col("pos"))).as("__first"))
      .filter(col("__cnt") >= 2)
      .localCheckpoint(true)   // hot and cold branches both read it
    val hot = gstats.filter(col("__cnt") >= hotCutoff)
      .select("gh", "__first")
    val cold = gstats.filter(col("__cnt") < hotCutoff)
      .select("gh", "__first")
    def notFirst(joined: DataFrame): DataFrame = joined
      .filter(struct(col("id"), col("pos")) =!= col("__first"))
      .select(col("id"), col("pos"))
    val dropStarts = notFirst(grams.join(broadcast(hot), Seq("gh")))
      .unionByName(notFirst(grams.join(cold, Seq("gh"))))
    val covered = dropStarts
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    val kept = tok.join(covered, Seq("id", "pos"), "left_anti")
    val perDoc = kept.groupBy(col("id")).agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("t")))),
        s => s.getField("t")), " ").as("text_clean"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(TextStats.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Boilerplate stripping APPLIED — the removal step the
    * [[boilerplateShingles]] miner only reports: every token covered by
    * a corpus-hot word n-gram (document frequency >= `minDf`) is
    * dropped and each document reassembled from its surviving tokens in
    * order. The CCNet/RefinedWeb "strip templated fragments" pass at
    * n-gram granularity (this corpus is newline-less, so line-level
    * stripping has no unit to work with). Returns (id, text_clean,
    * n_tokens, n_removed) for ALL input docs — a fully-templated doc
    * keeps its row with empty text, so removal rates stay visible.
    * Docs shorter than `shingleN` tokens have no n-gram and are never
    * stripped.
    *
    * Scale shape: distinct (doc, gram) rows partial-aggregate to a
    * Heaps-sized df table (hot grams combine map-side — never a
    * gram-keyed window); the drop set is df >= minDf, bounded above by
    * total-grams/minDf. Marking covered starts splits hot/cold exactly
    * like `prefixJaccardPairs`' df join: drop-grams at df >=
    * `hotDfCutoff` are a Zipf-head handful and BROADCAST, so the
    * corpus-dominating boilerplate gram never shuffles by gram; the
    * cold remainder's shuffle join moves < hotDfCutoff rows per key by
    * construction. Coverage positions explode n rows per covered start
    * (n = shingleN, a constant); reassembly is one doc-keyed
    * aggregate. */
  def stripBoilerplate(df: DataFrame, textCol: String, idCol: String,
                       shingleN: Int = 3, minDf: Long = 5L,
                       hotDfCutoff: Long = 1000000L): DataFrame = {
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until shingleN).map(j => lead(col("t"), j).over(w))
    // gram start positions; hash the gram string so the df aggregate
    // and the drop-set join move 8-byte keys, never token strings
    val grams = tok
      .select(col("id"), col("pos"),
        xxhash64(concat_ws(" ", col("t") +: leads: _*)).as("gh"),
        leads.lastOption.map(_.isNotNull).getOrElse(lit(true)).as("__full"))
      .filter(col("__full"))
      .select("id", "pos", "gh")
      .localCheckpoint(true)
    // materialized: the hot and cold drop-set branches both read the df
    // table — unmaterialized, the corpus-scale distinct + count runs
    // twice (verified in the physical plan); the table is Heaps-sized
    val dfTbl = grams.select(col("id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("__df"))
      .localCheckpoint(true)
    val dropHot = dfTbl.filter(col("__df") >= greatest(lit(minDf), lit(hotDfCutoff)))
      .select(col("gh"))
    val dropCold = dfTbl
      .filter(col("__df") >= minDf && col("__df") < greatest(lit(minDf), lit(hotDfCutoff)))
      .select(col("gh"))
    val coveredStarts = grams.join(broadcast(dropHot), Seq("gh"))
      .select(col("id"), col("pos"))
      .unionByName(grams.join(dropCold, Seq("gh"))
        .select(col("id"), col("pos")))
    val covered = coveredStarts
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(shingleN - 1))).as("pos"))
      .distinct()
    val kept = tok.join(covered, Seq("id", "pos"), "left_anti")
    val perDoc = kept.groupBy(col("id")).agg(
      array_join(transform(array_sort(collect_list(struct(col("pos"), col("t")))),
        s => s.getField("t")), " ").as("text_clean"),
      count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(TextStats.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Sub-document exact dedup at fixed token-segment granularity — the
    * C4/RefinedWeb "remove repeated lines across the corpus" pass,
    * adapted to segments because crawl text arrives newline-less after
    * normalization. Docs split into consecutive `segTokens`-token
    * segments; each distinct segment text survives ONLY in its first
    * occurrence (min (doc, seg) lexicographically — deterministic);
    * every doc is reassembled from its surviving segments in order.
    * Returns (id, text_kept, n_seg_total, n_seg_kept) for ALL input
    * docs — a fully-deduplicated doc keeps the row with empty text and
    * n_seg_kept = 0, so the caller sees removal rates, not a shrunken
    * id set.
    *
    * Scale shape: one doc-keyed shuffle builds segments (the
    * `chunkDocs` array_sort(collect_list) reassembly, bounded by
    * segTokens elements); the first-occurrence window partitions by
    * the SEGMENT TEXT itself — each partition is one duplicate group,
    * so no reducer sees more rows than a segment's corpus-wide
    * duplicate count (boilerplate-heavy corpora: the hot group is the
    * empty/template segment, still one group per distinct string, and
    * the window computes only row_number, no buffering of values);
    * reassembly is a second doc-keyed shuffle. No corpus-wide sort, no
    * per-corpus collect. */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 16): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val seg = tok
      .withColumn("seg", floor(col("pos") / lit(segTokens)).cast("long"))
      .groupBy(col("id"), col("seg"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        s => s.getField("t")), " ").as("seg_text"))
    val wFirst = Window.partitionBy(col("seg_text"))
      .orderBy(col("id"), col("seg"))
    val marked = seg.withColumn("__rk", row_number().over(wFirst))
    val perDoc = marked.groupBy(col("id")).agg(
      count(lit(1)).as("n_seg_total"),
      sum(when(col("__rk") === 1, 1L).otherwise(0L)).as("n_seg_kept"),
      array_join(transform(array_sort(collect_list(
          when(col("__rk") === 1, struct(col("seg"), col("seg_text"))))),
        s => s.getField("seg_text")), " ").as("text_kept"))
    perDoc.select(col("id"), col("text_kept"),
      col("n_seg_total"), col("n_seg_kept"))
  }

  /** Boilerplate miner: the top-k word shingles by DOCUMENT frequency,
    * with their df share and source spread — the direct answer to
    * "which templated fragments make Σdf² candidate generation
    * detonate". High-df shingles spread across many sources are nav
    * bars, cookie banners, license headers; this report is how a
    * curation run picks a stop-shingle list (and why the PPJoin tier
    * excludes exactly these from its prefixes). Returns (shingle, df,
    * df_share, n_sources) ordered df desc, shingle asc.
    *
    * Scale shape: distinct (doc, shingle) rows aggregate per shingle
    * with map-side combine; the top-k is orderBy + limit — a
    * TakeOrderedAndProject, never a full sort; the corpus doc count
    * rides a broadcast 1-row aggregate. String shingles on purpose:
    * the output is a human-read report, and the aggregate collapses
    * the corpus to vocabulary size before anything wide happens. */
  def boilerplateShingles(df: DataFrame, textCol: String, idCol: String,
                          groupCol: String, k: Int = 20,
                          shingleN: Int = 3): DataFrame = {
    val perShingle = shingleRows(df, textCol, idCol, shingleN)
      .join(df.select(col(idCol).as("id"), col(groupCol).as("__src")),
        Seq("id"))
      .groupBy(col("shingle")).agg(
        count(lit(1)).as("df"),
        countDistinct(col("__src")).as("n_sources"))
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    perShingle.crossJoin(broadcast(nDocs))
      .select(col("shingle"), col("df"),
        round(col("df").cast("double") / col("__n_docs"), 6).as("df_share"),
        col("n_sources"))
      .orderBy(col("df").desc, col("shingle").asc)
      .limit(k)
  }

  /** Pairwise shingle overlap between corpus groups (sources, crawls,
    * snapshots): for every group pair, the distinct-shingle Jaccard
    * and both directional containments — the "how much of source A is
    * already inside source B" question that drives dataset mixing and
    * drop decisions. Returns (src_a, src_b, n_a, n_b, inter, jaccard,
    * containment_a, containment_b) for ALL pairs (zero-overlap pairs
    * included), src_a < src_b.
    *
    * Scale shape: the corpus collapses to DISTINCT (group, shingle)
    * first — vocabulary-sized, not corpus-sized; the self-join on
    * shingle generates at most |groups|² pairs per distinct shingle
    * (groups are dataset provenance labels — dozens, not millions), so
    * no Σdf² blowup is possible; the final matrix join runs on two
    * |groups|-row aggregates (broadcast by size). Same shingle
    * definition as the q63 exact tier (`shingleHashRows`), so overlap
    * numbers are comparable with the pair-level dedup reports. */
  def sourceOverlap(df: DataFrame, textCol: String, idCol: String,
                    groupCol: String, shingleN: Int = 3): DataFrame = {
    val sh = shingleHashRows(df, textCol, idCol, shingleN)
    val srcMap = df.select(col(idCol).as("id"), col(groupCol).as("src"))
    // materialized: sizes + both join sides read the vocabulary-sized
    // (src, shingle) set
    val srcSh = sh.join(srcMap, Seq("id"))
      .select(col("src"), col("shingle")).distinct()
      .localCheckpoint(true)
    val sizes = srcSh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val inter = srcSh.select(col("src").as("src_a"), col("shingle"))
      .join(srcSh.select(col("src").as("src_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
    val iD = col("inter").cast("double")
    broadcast(sizes.select(col("src").as("src_a"), col("n").as("n_a")))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("n_b"))),
        col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("inter"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("inter"),
        round(iD / (col("n_a") + col("n_b") - iD), 6).as("jaccard"),
        round(iD / col("n_a"), 6).as("containment_a"),
        round(iD / col("n_b"), 6).as("containment_b"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03 — the MOSS algorithm): positional token k-grams are
    * hashed with the portable 32-bit md5 lane (fixed-width hex, so
    * lexicographic min == numeric min and DuckDB re-derives every
    * selection), and each window of `w` consecutive gram hashes selects
    * its RIGHTMOST minimal hash (robust winnowing) — guaranteeing any
    * shared run of at least w + k - 1 tokens yields a shared
    * fingerprint while keeping ~2/(w+1) of grams. Docs with fewer than
    * `w` grams select the minimum of what they have (the trailing
    * window of the last gram covers the whole doc); docs under k tokens
    * yield no grams and so no fingerprints.
    *
    * Scale shape: one hashpartitioning(id) exchange feeds the gram
    * lead() window, the trailing-min window, and the rightmost-win
    * dedup — per-doc state is w hashes, output is the selected
    * fraction. Returns (id, pos, fp) ordered by (id, pos); `pos` is the
    * 0-based token offset of the selected gram, `fp` the
    * `laneHex`-hex-char hash (8 = 32-bit lane, the audit default; 16 =
    * 64-bit lane for corpora past ~10^8 distinct grams — same
    * vocabulary dial as the portable minhash family; fixed-width hex
    * keeps lexicographic min == numeric min at either width). */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 3, w: Int = 4,
                         laneHex: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    require(laneHex == 8 || laneHex == 16,
      s"laneHex must be 8 (32-bit) or 16 (64-bit), got $laneHex")
    val tok = df.repartition(col(idCol))
      .select(col(idCol).as("id"),
        posexplode(TextStats.tokens(col(textCol))).as(Seq("pos", "t")))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("t"), j).over(win))
    val grams = tok.select(col("id"), col("pos"),
        concat_ws(" ", col("t") +: leads: _*).as("g"),
        (if (k == 1) lit(true) else leads.last.isNotNull).as("__full"))
      .filter(col("__full"))
      .select(col("id"), col("pos"),
        substring(md5(col("g").cast("binary")), 1, laneHex).as("h"))
    // trailing window of w hashes; min over struct(h, -pos) = smallest
    // hash, ties broken toward the RIGHTMOST position (robust rule).
    // rn/total gate which windows are real: every full window, plus the
    // final (whole-doc) window of a short doc
    val sel = grams.select(col("id"),
        min(struct(col("h").as("h"), (-col("pos")).as("negpos")))
          .over(win.rowsBetween(-(w - 1), Window.currentRow)).as("s"),
        row_number().over(win).as("rn"),
        count(lit(1)).over(Window.partitionBy(col("id"))).as("total"))
      .filter(col("rn") >= w || col("rn") === col("total"))
      .select(col("id"), (-col("s.negpos")).as("pos"), col("s.h").as("fp"))
      .distinct()
    sel.orderBy(col("id"), col("pos"))
  }

  /** Cross-corpus [[winnowSharedPairs]] — winnow-fingerprint
    * decontamination: (train, ref) doc pairs sharing at least
    * `minShared` selected fingerprints. Selection is per-document, so
    * fingerprinting each corpus separately equals fingerprinting their
    * union; the df cap counts DISTINCT documents across both corpora
    * (a doc ingested into both sides counts once, and a fingerprint
    * boilerplate-hot on either side never joins). The guarantee
    * transfers: any train/ref shared run of >= w + k - 1 tokens whose
    * window survives the cap yields a shared fingerprint. */
  def winnowCrossPairs(train: DataFrame, ref: DataFrame, textCol: String,
                       idCol: String, k: Int = 3, w: Int = 4,
                       minShared: Long = 2L, maxDf: Long = 50L): DataFrame =
    winnowCrossPairsFromFps(
      winnowFingerprints(train, textCol, idCol, k, w),
      winnowFingerprints(ref, textCol, idCol, k, w),
      minShared, maxDf)

  /** [[winnowCrossPairs]] over PRE-COMPUTED fingerprint tables — the
    * staged-artifact consumer path (mine the expensive fingerprints
    * once per corpus, decontaminate many): inputs carry (id, fp),
    * extra columns ignored. Selection is per-document, so a staged
    * whole-corpus fingerprint table split into train/ref sides equals
    * fingerprinting each side. */
  def winnowCrossPairsFromFps(trainFps: DataFrame, refFps: DataFrame,
                              minShared: Long = 2L,
                              maxDf: Long = 50L): DataFrame = {
    val tf = trainFps.select(col("id"), col("fp")).distinct()
      .localCheckpoint(true)
    val rf = refFps.select(col("id"), col("fp")).distinct()
      .localCheckpoint(true)
    // distinct BEFORE counting: a doc present in both corpora (a
    // self-audit, or shared ingestion) must count once per fingerprint,
    // not twice — double-counting would halve the effective cap
    val dfCounts = tf.unionByName(rf).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("fp_df"))
      .filter(col("fp_df") <= maxDf)
    tf.join(dfCounts, Seq("fp")).select(col("fp"), col("id").as("train_id"))
      .join(rf.join(dfCounts, Seq("fp"))
        .select(col("fp"), col("id").as("ref_id")), Seq("fp"))
      .groupBy(col("train_id"), col("ref_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("train_id"), col("ref_id"))
  }

  /** The dedup application of [[winnowFingerprints]]: pairs of docs
    * sharing at least `minShared` selected fingerprints, with the
    * shared count. Fingerprints appearing in more than `maxDf` docs are
    * dropped BEFORE the pair join (boilerplate fingerprints — the same
    * hot-key cap every banded tier applies), so per-fingerprint join
    * fan-out is maxDf-bounded by construction and the inverted index
    * moves (fp, id) rows only. */
  def winnowSharedPairs(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 3, w: Int = 4, minShared: Long = 2L,
                        maxDf: Long = 50L): DataFrame =
    winnowSharedPairsFromFps(winnowFingerprints(df, textCol, idCol, k, w),
      minShared, maxDf)

  /** One-sided winnow decontamination SCREEN: incoming docs checked
    * against a STATIC reference fingerprint set — the shape a
    * continuous-ingestion pipeline needs, where the reference
    * (benchmark/eval corpora) is fixed and arriving batches must be
    * screened one at a time. Unlike [[winnowCrossPairsFromFps]], the
    * boilerplate df cap is computed over the REFERENCE side only:
    * union-df would change per batch (screening decisions must not
    * depend on which batch a doc arrives in), and the cap's fan-out
    * bound needs only the indexed side capped. The capped reference
    * index is benchmark-sized — pass it pre-distinct'd/persisted when
    * screening many batches ([[etlmudah.streaming.Streaming]] builds
    * it once per sink). Returns (id, ref_id, shared) per contaminated
    * (doc, reference-doc) pair. */
  def winnowScreenAgainstRef(fps: DataFrame, refFps: DataFrame,
                             minShared: Long = 2L,
                             maxDf: Long = 50L): DataFrame =
    winnowScreenAgainstIndex(fps, winnowRefIndex(refFps, maxDf), minShared)
      .orderBy(col("id"), col("ref_id"))

  /** The df-capped reference inverted index [[winnowScreenAgainstRef]]
    * screens with, exposed so a long-lived consumer (the streaming
    * decontamination sink) can build it ONCE, persist it, and screen
    * every batch against the same (fp, ref_id) table instead of
    * re-aggregating the reference per batch. */
  def winnowRefIndex(refFps: DataFrame, maxDf: Long = 50L): DataFrame = {
    val rf = refFps.select(col("id"), col("fp")).distinct()
    rf.join(
      rf.groupBy(col("fp")).agg(count(lit(1)).as("fp_df"))
        .filter(col("fp_df") <= maxDf),
      Seq("fp"))
      .select(col("fp"), col("id").as("ref_id"))
  }

  /** Screen against a PREBUILT [[winnowRefIndex]] — the hot streaming
    * path: no reference aggregation, no trailing sort (callers that
    * need deterministic output order add their own). */
  def winnowScreenAgainstIndex(fps: DataFrame, refIndex: DataFrame,
                               minShared: Long = 2L): DataFrame =
    fps.select(col("id"), col("fp")).distinct()
      .join(broadcast(refIndex), Seq("fp"))
      .groupBy(col("id"), col("ref_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)

  /** [[winnowSharedPairs]] over a PRE-COMPUTED fingerprint table — the
    * staged-artifact consumer path: input carries (id, fp), extra
    * columns ignored. The (id, fp) distinct is materialized because it
    * feeds the df-count aggregate AND both sides of the pair self-join
    * — unmaterialized the input would be scanned up to 4x. */
  def winnowSharedPairsFromFps(fps: DataFrame, minShared: Long = 2L,
                               maxDf: Long = 50L): DataFrame = {
    val fp = fps.select(col("id"), col("fp")).distinct()
      .localCheckpoint(true)
    val dfCounts = fp.groupBy(col("fp")).agg(count(lit(1)).as("fp_df"))
    val cold = fp.join(dfCounts.filter(col("fp_df") <= maxDf), Seq("fp"))
    cold.select(col("fp"), col("id").as("id_a"))
      .join(cold.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Contrastive TRIPLET mining over a similarity-pair table — the
    * training-data export for retriever/embedding training (anchor,
    * positive, hard negative), built from the dedup machinery this
    * module already has. Near-dup pairs at `posMin`+ are positives;
    * pairs BELOW `posMin` (but above the pair table's own lower gate)
    * are exactly the "hard" negatives contrastive learning wants —
    * lexically close enough to share candidate buckets, yet not
    * duplicates (random negatives are trivially separable; batch-local
    * hard-negative mining is the standard fix, e.g. DPR, Karpukhin et
    * al. 2020 — here mined corpus-wide instead of per-batch).
    *
    * Per anchor: the best-scoring positive and the best-scoring
    * negative, ties broken by partner id — fully deterministic. Only
    * anchors holding BOTH survive (a triplet needs all three legs).
    * Selection orders on the pair table's 6dp-ROUNDED score so the
    * choice is reproducible cross-engine (raw-double ordering could
    * flip partners that tie at 6dp).
    *
    * `pairs` is any (id_a, id_b, score) frame with id_a < id_b
    * convention — [[exactJaccardPairs]] at small scale, the staged
    * [[minhashPortablePairsStaged]] / PPJoin tiers at corpus scale, so
    * the quadratic risk is whatever the chosen pair tier already
    * bounded; this step adds only a symmetrize (×2 row explode), one
    * anchor-keyed window, and an anchor equi-join. */
  def tripletsFromPairs(pairs: DataFrame, posMin: Double,
                        simCol: String = "jaccard"): DataFrame = {
    require(posMin > 0 && posMin < 1, "posMin must be in (0, 1)")
    // materialized: the pair table feeds FOUR subtrees (both union
    // directions, then the pos and neg legs of the final join) and a
    // pair-generation tier is exactly what you never compute twice —
    // the pair table itself is the small, banding-bounded frame
    // (measured on q206 at sf0.1: 5.3 s -> 4.0 s warm, on par with
    // its tier sibling q63's single pair pass)
    val p = pairs.localCheckpoint(true)
    val sym = p.select(col("id_a").as("anchor"),
        col("id_b").as("other"), col(simCol).as("sim"))
      .unionByName(p.select(col("id_b").as("anchor"),
        col("id_a").as("other"), col(simCol).as("sim")))
    val w = Window.partitionBy(col("anchor"), col("is_pos"))
      .orderBy(col("sim").desc, col("other").asc)
    val best = sym
      .withColumn("is_pos", col("sim") >= lit(posMin))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    best.filter(col("is_pos"))
      .select(col("anchor"), col("other").as("pos_id"),
        col("sim").as("pos_sim"))
      .join(best.filter(!col("is_pos"))
        .select(col("anchor"), col("other").as("neg_id"),
          col("sim").as("neg_sim")), Seq("anchor"))
      .orderBy(col("anchor"))
  }

  /** [[tripletsFromPairs]] over the exact n-gram Jaccard tier: one
    * inverted-index pair pass at the NEGATIVE gate (`negLo` — the pair
    * generation is shared by both legs), split at `posMin`. The exact,
    * oracle-checkable tier; at crawl scale feed [[tripletsFromPairs]]
    * a staged banded pair table instead. */
  def contrastiveTriplets(df: DataFrame, textCol: String, idCol: String,
                          shingleN: Int = 3, posMin: Double = 0.8,
                          negLo: Double = 0.2): DataFrame = {
    require(negLo < posMin, "negLo must sit below posMin")
    tripletsFromPairs(
      exactJaccardPairs(df, textCol, idCol, shingleN, minJaccard = negLo),
      posMin)
  }

  /** Banded-tier RECALL CURVE: the portable MinHash tier's measured
    * hit rate against exact-Jaccard ground truth, bucketed by true
    * similarity — the 1-(1-j^r)^b S-curve every banded dedup
    * deployment must VERIFY, not assume (banding that silently misses
    * 0.8-similarity pairs is a dedup pipeline that ships duplicates).
    * Per jaccard decile at/above `gate`: how many true pairs exist,
    * how many the banded candidate set surfaced, and the recall ratio.
    *
    * This is SCALE.md's "measured recall evidence" promoted to a
    * first-class, hash-checked query: both tiers are deterministic
    * (exact inverted index; seeded-md5 banding), so an external engine
    * re-derives the full report — ground truth, candidates, and curve.
    *
    * An EVALUATION harness, priced accordingly: the exact side is the
    * [[exactJaccardPairs]] inverted-index join with its sum(df²) cost —
    * run it on a bounded audit slice (a stratified sample of the
    * corpus), not 100 TB; the banded side reuses the slice's
    * signatures. The report's movement is both pair tiers' plus one
    * |pairs|-sized join and a ≤10-row aggregate. */
  /** THEORETICAL banding design table — the 1-(1-j^r)^b catch
    * probability for every (bands, rows-per-band) factorization of a
    * k-hash budget, over a jaccard grid: the table an engineer reads
    * to pick `bands` BEFORE running [[bandedRecallReport]] to confirm
    * the choice empirically (MMDS ch.3's S-curve, materialized). No
    * corpus is touched — the q146 driver-side-computation precedent.
    *
    * Cross-engine determinism: j^r and (1-j^r)^b are evaluated as
    * EXPLICIT repeated IEEE multiplications (a fold here, a literal
    * multiply chain in the SQL twin) — never pow(), whose last-ulp
    * behavior differs across libm builds — and the 6dp rounding is
    * floor(x*1e6 + 0.5)/1e6 on both sides, never an engine round().
    *
    * Output: (k, bands, rows_per_band, jaccard, p_catch). */
  def bandingDesignTable(spark: org.apache.spark.sql.SparkSession,
                         k: Int = 16,
                         jGrid: Seq[Double] = (1 to 9).map(_ / 10.0))
      : DataFrame = {
    import spark.implicits._
    require(k >= 1, "k must be positive")
    val rows = for {
      b <- 1 to k if k % b == 0
      r = k / b
      j <- jGrid
    } yield {
      val jr = (1 to r).foldLeft(1.0)((acc, _) => acc * j)
      val miss = (1 to b).foldLeft(1.0)((acc, _) => acc * (1.0 - jr))
      val p = math.floor((1.0 - miss) * 1e6 + 0.5) / 1e6
      (k.toLong, b.toLong, r.toLong,
        math.floor(j * 1e6 + 0.5) / 1e6, p)
    }
    rows.toSeq.toDF("k", "bands", "rows_per_band", "jaccard", "p_catch")
      .orderBy(col("bands"), col("jaccard"))
  }

  def bandedRecallReport(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                         gate: Double = 0.5): DataFrame = {
    val exact = exactJaccardPairs(df, textCol, idCol, shingleN,
      minJaccard = gate)
    // the banded tier refines candidates to exact jaccard >= gate, so
    // its output IS candidates ∩ ground-truth — the left join below
    // marks exactly the true pairs banding surfaced
    val banded = minhashPortablePairs(df, textCol, idCol, shingleN,
        k, bands, minJaccard = gate)
      .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
    exact.join(banded, Seq("id_a", "id_b"), "left")
      .groupBy(floor(col("jaccard") * 10).cast("long").as("jac_decile"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
      .withColumn("recall",
        round(col("n_found").cast("double") / col("n_true"), 6))
      .orderBy(col("jac_decile"))
  }
}
