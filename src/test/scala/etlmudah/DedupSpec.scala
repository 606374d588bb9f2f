package etlmudah.scale

import graft.SparkSpec
import etlmudah.Tables
import etlmudah.text.TextStats
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  test("exactDedup: keeps lowest id per normalized text") {
    import spark.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "text", "doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("minhash band collisions track jaccard") {
    import spark.implicits._
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16 w17 w18 w19 w20"
    val b = a + " w21"                       // near-identical
    val c = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10" // disjoint
    val shingled = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
      .select(col("id"), TextStats.shingles(col("text"), 3).as("sh"))
    val bands = Dedup.minhashBands(shingled, "id", "sh", 128, 32)
      .select("id", "band", "bhash")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getLong(2))).toSet }
    assert(bands(1L).size == 32)
    // near-identical docs share many band hashes; disjoint docs none
    assert(bands(1L).intersect(bands(2L)).size >= 8)
    assert(bands(1L).intersect(bands(3L)).isEmpty)
  }

  test("nearDupPairs: finds the planted near-dups on sf0.001 with full recall vs brute force") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // brute-force truth at jaccard >= 0.8 via exploded shingle self-join
    // (codegen-friendly; the naive crossJoin + array_intersect runs
    // interpreted and takes minutes even at 500 docs)
    val sh = docs.select(col("doc_id"),
      TextStats.shingles(col("text"), 3).as("sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n"))
    val inter = ex.select(col("doc_id").as("id_a"), col("s"))
      .join(ex.select(col("doc_id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("j", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(truth.nonEmpty, "testdata should contain planted near-dups")

    val found = Dedup.nearDupPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .select("id_a", "id_b").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    // precision is exact by construction (jaccard recomputed exactly);
    // recall should be ~1 at j>=0.8 with k=128, bands=32
    assert(found.subsetOf(truth.union(truth)), "no false positives above threshold")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall over ${truth.size} true pairs")
  }

  test("crossCorpusNearDups: decontamination equals the cross-parity slice of self-join pairs") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    // truth: the verified self-join pairs, restricted to (even, odd) ids
    val selfPairs = Dedup.nearDupPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val truth = selfPairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)) // orient as (train=even, ref=odd)
    }.collect { case (t, r, j) if t % 2 == 0 && r % 2 == 1 => (t, r, j) }.toSet
    assert(truth.nonEmpty, "planted pairs should cross the parity split")

    val found = Dedup.crossCorpusNearDups(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(found == truth)
  }

  test("contaminationFraction: hand-computed gram overlap, pooled reference") {
    import spark.implicits._
    val train = Seq(
      (0L, "a b c d"),        // grams: "a b c","b c d"
      (2L, "x y z w"),        // grams: "x y z","y z w"
      (4L, "a b c x y z q")). // grams: abc,bcx,cxy,xyz,yzq
      toDF("doc_id", "text")
    val ref = Seq(
      (1L, "a b c d e"),      // pooled set gains: abc,bcd,cde
      (3L, "x y z")).         // pooled set gains: xyz (3 tokens = 1 gram)
      toDF("doc_id", "text")
    val r = Dedup.contaminationFraction(train, ref, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r(0L) == ((2L, 2L)))  // both grams in ref
    assert(r(2L) == ((2L, 1L)))  // only "x y z" hits; "y z w" doesn't
    assert(r(4L) == ((5L, 2L)))  // "a b c" and "x y z" hit; stitched doc caught
    // pairwise-Jaccard blind spot: doc 4 has jaccard < 0.8 with BOTH refs
    val pj = Dedup.exactCrossJaccard(train, ref, "text", "doc_id",
      minJaccard = 0.3)
    assert(!pj.collect().exists(_.getLong(0) == 4L))
  }

  test("nearDupPairs: degenerate-bucket cap suppresses quadratic blowup") {
    import spark.implicits._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val clones = (1L to 40L).map(i => (i, text)).toDF("doc_id", "text")
    // 40 identical docs -> every band bucket holds 40; cap of 10 drops
    // them all, so the pair join never sees the 780-pair blowup
    val capped = Dedup.nearDupPairs(clones, "text", "doc_id",
      minJaccard = 0.8, maxBucketSize = 10)
    assert(capped.count() == 0)
    // with the cap lifted the full clique comes back
    val full = Dedup.nearDupPairs(clones, "text", "doc_id",
      minJaccard = 0.8, maxBucketSize = 1000)
    assert(full.count() == 40L * 39 / 2)
  }

  test("simhash: identical texts collide, near-identical within small hamming") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 7) "changed" else s"tok$i").mkString(" ")
    val far = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far)).toDF("doc_id", "text")
    val hs = Dedup.simhashAll(df, "text", "doc_id").orderBy("id")
      .collect().map(_.getLong(1))
    assert(hs(0) == hs(1))
    assert(java.lang.Long.bitCount(hs(0) ^ hs(2)) <= 12)
    assert(java.lang.Long.bitCount(hs(0) ^ hs(3)) > 12)
  }

  test("simhashNearDups: exact duplicates surface at hamming 0") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, "completely different words here"))
      .toDF("doc_id", "text")
    val out = Dedup.simhashNearDups(df, "text", "doc_id", maxHamming = 3).collect()
    assert(out.map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSeq
      == Seq((1L, 2L, 0)))
  }

  test("exactJaccardPairs: superset of banded pairs, exact values, full recall") {
    // exact tier must find at least everything the probabilistic tier
    // finds on real data, at identical jaccard values
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.exactJaccardPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val banded = Dedup.nearDupPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded.subsetOf(exact))
    assert(exact.nonEmpty)
  }

  test("prefixJaccardPairs: identical output to the unfiltered exact tier") {
    // the prefix lemma promises recall 1.0 — the PPJoin tier must be
    // bit-identical to the full inverted-index join on real data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val full = Dedup.exactJaccardPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pref = Dedup.prefixJaccardPairs(docs, "text", "doc_id", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pref == full)
    assert(pref.nonEmpty)
  }

  test("prefixJaccardPairs: exact values on a hand-built corpus") {
    import spark.implicits._
    // doc1/doc2 share 9 of 10 shingles (j=9/11≈0.818); doc3 disjoint
    val a = (1 to 12).map(i => s"w$i").mkString(" ")          // shingles w1..w10 starts
    val b = (1 to 11).map(i => s"w$i").mkString(" ") + " zz"  // differs in last token
    val df = Seq((1L, a), (2L, b), (3L, "x y z q r s t u v")).toDF("doc_id", "text")
    val out = Dedup.prefixJaccardPairs(df, "text", "doc_id", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1)
    val (ia, ib, j) = out.head
    assert(ia == 1L && ib == 2L)
    // |A|=10, |B|=10, inter=9 (trigrams starting at w1..w9), union=11
    assert(math.abs(j - math.rint(9.0 / 11.0 * 1e6) / 1e6) < 1e-9)
  }

  test("prefixJaccardPairs: planted ultra-hot shingle rides broadcast, never a shingle window") {
    import spark.implicits._
    // every doc opens with the same 3-token boilerplate phrase -> one
    // shingle with df = #docs; cutoff 5 forces it onto the hot branch
    val boiler = "common header line"
    val rows = (1L to 30L).map { i =>
      (i, s"$boiler u${i}a u${i}b u${i}c u${i}d u${i}e")
    } :+ ((31L, s"$boiler u1a u1b u1c u1d u1e")) // exact dup of doc 1
    val df = rows.toDF("doc_id", "text")
    val hot = Dedup.prefixJaccardPairs(df, "text", "doc_id",
      minJaccard = 0.5, hotDfCutoff = 5L)
    // the plan must never single-partition the hot shingle: every window
    // is id-keyed (df comes from a partial-agg'd groupBy, not a window)
    // and the hot df side arrives by broadcast
    val windows = hot.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.forall(!_.toString.contains("shingle"))),
      windows.map(_.partitionSpec.mkString(",")).mkString("\n"))
    assert(hot.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    // byte-identity across the hot/cold split and vs the exact tier
    def setOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = setOf(Dedup.exactJaccardPairs(df, "text", "doc_id", minJaccard = 0.5))
    assert(setOf(hot) == exact)
    assert(setOf(Dedup.prefixJaccardPairs(df, "text", "doc_id", minJaccard = 0.5))
      == exact)
    assert(exact == Set((1L, 31L, 1.0)))
  }

  test("minhashPortablePairs at q25's parameters (k=128,b=32) == fast tier == exact tier") {
    // the q152 registry query: q25's production sketch through the
    // portable hash family. At j>=0.8 with r=4,b=32 the banded miss
    // probability is ~(1-0.8^4)^32 ~ 5e-8 per true pair — both tiers
    // must equal the full-recall exact tier on the sf0.001 corpus.
    val docs = Tables.documents(spark, sf0001)
    def setOf(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = setOf(Dedup.exactJaccardPairs(docs, "text", "doc_id",
      minJaccard = 0.8))
    val fast = setOf(Dedup.nearDupPairs(docs, "text", "doc_id",
      minJaccard = 0.8))
    val portable = setOf(Dedup.minhashPortablePairs(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, minJaccard = 0.8))
    assert(exact.nonEmpty)
    assert(fast == exact)
    assert(portable == exact)
  }

  test("64-bit lanes (laneHex=16): portable tiers still equal the exact tier; signatures verifiably wide") {
    // the 100 TB configuration: two 64-bit lanes per digest. Same
    // full-recall construction as the 32-bit test — at j>=0.8, r=4,
    // b=32 both widths must reproduce the exact tier on sf0.001; wider
    // lanes can only LOWER collision-driven candidate inflation, never
    // change the refine's exact output.
    val docs = Tables.documents(spark, sf0001)
    def setOf(d: org.apache.spark.sql.DataFrame) =
      d.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = setOf(Dedup.exactJaccardPairs(docs, "text", "doc_id",
      minJaccard = 0.8))
    assert(exact.nonEmpty)
    assert(setOf(Dedup.minhashPortablePairs(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, minJaccard = 0.8,
      laneHex = 16)) == exact)
    // the wide signature table carries 16-hex-char mins, and a staged
    // consumer reproduces the inline result at the wide width too
    val fns = org.apache.spark.sql.functions
    val sig = Dedup.minhashPortableSigTable(docs, "text", "doc_id",
      shingleN = 3, k = 128, laneHex = 16).localCheckpoint(true)
    assert(sig.select(fns.explode(fns.col("mins")).as("m"))
      .filter(fns.length(fns.col("m")) =!= 16).count() == 0)
    assert(setOf(Dedup.minhashPortablePairsStaged(docs, "text", "doc_id",
      sig, shingleN = 3, k = 128, bands = 32, minJaccard = 0.8)) == exact)
    // cross tier at the wide width
    val train = docs.filter(fns.col("doc_id") % 2 === 0)
    val ref = docs.filter(fns.col("doc_id") % 2 === 1)
    val crossNarrow = setOf(Dedup.minhashPortableCrossPairs(train, ref,
      "text", "doc_id", minJaccard = 0.8)
      .withColumnRenamed("train_id", "id_a").withColumnRenamed("ref_id", "id_b"))
    val crossWide = setOf(Dedup.minhashPortableCrossPairs(train, ref,
      "text", "doc_id", minJaccard = 0.8, laneHex = 16)
      .withColumnRenamed("train_id", "id_a").withColumnRenamed("ref_id", "id_b"))
    assert(crossWide == crossNarrow && crossNarrow.nonEmpty)
  }

  test("staged-signature portable tiers equal their inline-signature forms") {
    val docs = Tables.documents(spark, sf0001)
    val sig = Dedup.minhashPortableSigTable(docs, "text", "doc_id",
      shingleN = 3, k = 128).localCheckpoint(true)
    def set3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val selfInline = set3(Dedup.minhashPortablePairs(docs, "text", "doc_id",
      shingleN = 3, k = 128, bands = 32, minJaccard = 0.8))
    assert(selfInline.nonEmpty)
    assert(set3(Dedup.minhashPortablePairsStaged(docs, "text", "doc_id", sig,
      shingleN = 3, k = 128, bands = 32, minJaccard = 0.8)) == selfInline)
    val fns = org.apache.spark.sql.functions
    val train = docs.filter(fns.col("doc_id") % 2 === 0)
    val ref = docs.filter(fns.col("doc_id") % 2 === 1)
    val crossInline = set3(Dedup.minhashPortableCrossPairs(train, ref,
      "text", "doc_id", minJaccard = 0.8))
    assert(crossInline.nonEmpty)
    assert(set3(Dedup.minhashPortableCrossStaged(train, ref, "text",
      "doc_id", sig, minJaccard = 0.8)) == crossInline)
  }

  test("minhashPortableCrossPairs == fast cross tier == exact cross tier at q47's parameters") {
    // the q157 registry query: q47's decontamination banding (k=128,
    // b=32, j>=0.8) through the portable md5-lane family, even-id
    // train vs odd-id ref. Same ~5e-8 banded miss bound per true pair
    // as the self-join case, so all three tiers must agree on sf0.001.
    val docs = Tables.documents(spark, sf0001)
    val train = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val ref = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1)
    def setOf(d: org.apache.spark.sql.DataFrame) =
      d.select("train_id", "ref_id", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = setOf(Dedup.exactCrossJaccard(train, ref, "text", "doc_id",
      minJaccard = 0.8))
    val fast = setOf(Dedup.crossCorpusNearDups(train, ref, "text", "doc_id",
      minJaccard = 0.8))
    val portable = setOf(Dedup.minhashPortableCrossPairs(train, ref,
      "text", "doc_id", shingleN = 3, k = 128, bands = 32,
      minJaccard = 0.8))
    assert(exact.nonEmpty)
    assert(fast == exact)
    assert(portable == exact)
  }

  test("stripDupSpans: first occurrence survives, later copies strip, within-doc repeats strip") {
    import spark.implicits._
    val passage = (1 to 10).map(i => s"w$i").mkString(" ")   // 10 tokens > k=8
    val docs = Seq(
      (1L, s"alpha beta $passage gamma"),             // owns the first occurrence
      (2L, "totally unique words here only once ever said nine ten eleven"),
      (3L, s"prefix $passage suffix"),                // later copy -> stripped
      (4L, s"$passage $passage"),                     // both copies non-first -> empty
      (5L, "short doc")                               // < k tokens, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.stripDupSpans(docs, "text", "doc_id", k = 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1 holds every duplicated gram's first occurrence -> untouched
    assert(out(1L) == (s"alpha beta $passage gamma", 13L, 0L))
    // unique and sub-k docs untouched
    assert(out(2L) == ("totally unique words here only once ever said nine ten eleven", 11L, 0L))
    assert(out(5L) == ("short doc", 2L, 0L))
    // doc 3: its three duplicated gram starts (pos 1..3) cover the whole
    // passage (tokens 1..10); only the frame words survive
    assert(out(3L) == ("prefix suffix", 12L, 10L))
    // doc 4 is passage twice — every token lies under some non-first
    // duplicated 8-gram occurrence, so it strips to empty but keeps its row
    assert(out(4L) == ("", 20L, 20L))
  }

  test("normalizationLadder: each level surfaces exactly its own dup class") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello World"),
      (2L, "hello   world"),        // dup of 1 at ws_case
      (3L, "hello, world!"),        // dup at punct
      (4L, "hello world 42"),
      (5L, "hello world 99"),       // dup of 4 at digit-mask
      (6L, "something else")
    ).toDF("doc_id", "text")
    val out = Dedup.normalizationLadder(docs, "text", "doc_id").collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out("raw") == ((6L, 0L)))
    assert(out("ws_case") == ((5L, 1L)))   // 1==2
    assert(out("punct") == ((4L, 2L)))     // 1==2==3
    assert(out("digits") == ((3L, 3L)))    // + 4==5
  }

  /** dupClusters at the default threshold (the driver tier on these
    * graphs) pinned to the forced distributed rounds (threshold 0):
    * same rows in the same doc_id order, same schema. Returns the
    * default tier's rows. */
  private def clustersBothTiers(
      pairs: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = {
    val driver = Dedup.dupClusters(pairs)
    val rounds = Dedup.dupClusters(pairs, localEdgeThreshold = 0L)
    assert(driver.schema == rounds.schema)
    val rows = driver.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == rounds.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    rows
  }

  test("dupClusters: min-label components over a known graph") {
    import spark.implicits._
    // two components: {1,2,3} (chain 1-2, 2-3) and {7,9}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val out = clustersBothTiers(pairs)
    assert(out == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L)))
  }

  test("dupClusters: long chain converges (diameter > one round)") {
    import spark.implicits._
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = clustersBothTiers(chain)
    assert(out.length == 13 && out.forall(_._2 == 0L))
    assert(out.forall(_._3 == 13L))
  }

  test("dupClusters: self-loops, reversed duplicates, empty input and null ids agree on both tiers") {
    import spark.implicits._
    // one graph, three disjoint parts: a self-loop puts its node in as
    // a singleton and links nothing (1-3); repeated and reversed pairs
    // are one edge (11-14); a null end links nothing, so the other end
    // stands alone, and nulls drop (21-25)
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(1L)), (Some(2L), Some(3L)), (Some(3L), Some(3L)),
      (Some(11L), Some(12L)), (Some(12L), Some(11L)), (Some(11L), Some(12L)),
      (Some(14L), Some(13L)), (Some(13L), Some(14L)),
      (Some(21L), None), (None, Some(24L)), (None, None), (Some(22L), Some(23L)),
      (Some(25L), None), (Some(25L), Some(22L))).toDF("id_a", "id_b")
    assert(clustersBothTiers(pairs) == Seq((1L, 1L, 1L), (2L, 2L, 2L),
      (3L, 2L, 2L), (11L, 11L, 2L), (12L, 11L, 2L), (13L, 13L, 2L),
      (14L, 13L, 2L), (21L, 21L, 1L), (22L, 22L, 3L), (23L, 22L, 3L),
      (24L, 24L, 1L), (25L, 22L, 3L)))
    // 0 edges are within any threshold, 0 included, so an empty pair
    // set takes the driver tier on both calls
    assert(clustersBothTiers(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty)
  }

  test("dupClusters: an empty pair set on the distributed path returns no rows") {
    import spark.implicits._
    // a negative threshold sends even 0 edges to the rounds, whose
    // max-degree probe then reads the max of no rows
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val rounds = Dedup.dupClusters(empty, localEdgeThreshold = -1L)
    assert(rounds.schema == Dedup.dupClusters(empty).schema)
    assert(rounds.collect().isEmpty)
  }

  test("dupClusters: the driver tier runs at most 3 Spark jobs") {
    import spark.implicits._
    // the former single-partition layout ran a pinned job plus an
    // isEmpty probe per round on top of its setup pins
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val (jobs, out) = countingJobs(Dedup.dupClusters(pairs).collect())
    assert(out.length == 5)
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("dupClusters: rounds that reach maxIter unconverged throw") {
    import spark.implicits._
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.dupClusters(chain, maxIter = 1, localEdgeThreshold = 0L))
    assert(e.getMessage.contains("maxIter=1"), e.getMessage)
  }

  test("dupSurvivorsBy: per-cluster argmax quality, ties break to lowest id") {
    import spark.implicits._
    // clusters {1,2,3} and {7,9}; quality: 2 wins cluster 1; 7 and 9 tie
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val clusters = Dedup.dupClusters(pairs)
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 20L), (7L, 5L), (9L, 5L))
      .toDF("doc_id", "quality")
    val out = Dedup.dupSurvivorsBy(clusters, scores, "doc_id", "quality")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set((1L, 3L, 2L, 30L), (7L, 2L, 7L, 5L)))
  }

  test("dupClusters: distributed round layout (threshold 0) matches on a long chain") {
    import spark.implicits._
    // 60-node chain (diameter 59) plus a separate clique-ish component;
    // pointer jumping must converge well inside maxIter even with the
    // single-partition fast path disabled
    val chain = (100L until 159L).map(i => (i, i + 1)) ++
      Seq((7L, 9L), (9L, 11L), (7L, 11L))
    val pairs = chain.toDF("id_a", "id_b")
    val dist = Dedup.dupClusters(pairs, localEdgeThreshold = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dist == local)
    assert(dist.filter(_._2 == 100L).map(_._1) == (100L to 159L).toSet)
    assert(dist.filter(_._2 == 7L).map(_._1) == Set(7L, 9L, 11L))
  }

  test("minhashPortablePairs: subset of the exact tier with identical scores; identical docs always pair") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different text about distributed hash joins today"),
      (4L, "the quick brown fox jumps over the lazy dog again and apart"))
      .toDF("doc_id", "text")
    val port = Dedup.minhashPortablePairs(df, "text", "doc_id",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = Dedup.exactJaccardPairs(df, "text", "doc_id",
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // banding can only MISS pairs (recall < 1), never invent or rescore
    assert(port.toSet.subsetOf(exact), s"${port.toSet} vs $exact")
    // identical documents have identical signatures in every band — the
    // sketch cannot miss them
    assert(port.contains((1L, 2L, 1.0)), port.mkString(","))
    // the same invariants hold at q130's dials with 64-bit lanes
    val wide = Dedup.minhashPortablePairs(df, "text", "doc_id",
        minJaccard = 0.5, laneHex = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(wide.toSet.subsetOf(exact), s"${wide.toSet} vs $exact")
    assert(wide.contains((1L, 2L, 1.0)), wide.mkString(","))
  }

  test("dupClusters: salted skew guard on a hot star matches the unsalted path") {
    import spark.implicits._
    // hot star: node 1 pairs with 400 spokes (a boilerplate family whose
    // canonical head would melt one reducer at scale), plus a disjoint
    // triangle. Force the distributed layout AND the salt guard
    // (hotDegreeThreshold=1 makes the 400-degree head trip it), and pin
    // byte-identical clustering against the default path.
    val star = (2L to 401L).map(i => (1L, i)) ++
      Seq((500L, 501L), (501L, 502L), (500L, 502L))
    val pairs = star.toDF("id_a", "id_b")
    val guarded = Dedup.dupClusters(pairs, localEdgeThreshold = 0L,
        hotDegreeThreshold = 1L, skewSaltFactor = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded == plain)
    assert(guarded.filter(_._2 == 1L).map(_._1) == (1L to 401L).toSet)
    assert(guarded.filter(_._2 == 500L).map(_._1) == Set(500L, 501L, 502L))
  }

  test("dupSpanCoverage: interval union over duplicated k-gram starts") {
    import spark.implicits._
    // docs 1 and 2 share the 4-token run "a b c d": with k=3 the dup
    // grams are (a b c) and (b c d); their overlapping spans must union
    // to 4 covered tokens, not 6
    val df = Seq(
      (1L, "a b c d x y z"),
      (2L, "q r a b c d"),
      (3L, "m n o p qq rr")
    ).toDF("doc_id", "text")
    val cov = Dedup.dupSpanCoverage(df, "text", "doc_id", k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(cov(1L) == ((7L, 4L)))
    assert(cov(2L) == ((6L, 4L)))
    assert(cov(3L) == ((6L, 0L)))
  }

  test("bloomContaminatedIds: exact hits survive, bloom only prunes, short docs exempt") {
    import spark.implicits._
    val train = Seq(
      (2L, "t1 t2 a b c d e f g h t3"),  // contains ref's 8-gram
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // no shared gram
      (6L, "a b c")                       // < 8 tokens: cannot match
    ).toDF("doc_id", "text")
    val ref = Seq(
      (1L, "zz a b c d e f g h yy"),
      (3L, "a b c")                       // identical short doc — still no 8-gram
    ).toDF("doc_id", "text")
    val out = Dedup.bloomContaminatedIds(train, ref, "text", "doc_id",
      shingleN = 8).collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
  }

  test("bloomContaminatedIds: matches the unbloomed shingle join on real docs") {
    val docsF = Tables.documents(spark, sf0001)
    val train = docsF.filter(col("doc_id") % 2 === 0)
    val ref = docsF.filter(col("doc_id") % 2 === 1)
    val got = Dedup.bloomContaminatedIds(train, ref, "text", "doc_id",
      shingleN = 8).collect().map(_.getLong(0)).toSet
    // ground truth: the same strict-8-gram semi-join without the bloom
    val refG = Dedup.shingleHashRows(ref, "text", "doc_id", 8,
      includeShort = false).select("shingle").distinct()
    val expect = Dedup.shingleHashRows(train, "text", "doc_id", 8,
        includeShort = false)
      .join(refG, Seq("shingle"), "left_semi")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
  }

  test("incrementalDedup: corpus hit, batch twin, and first sighting classify correctly") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA  beta gamma"),   // normalizes to corpus doc 1 -> dup_corpus
      (11L, "fresh new words"),     // first sighting -> new
      (12L, "twin text here"),      // first of a batch pair -> new
      (13L, "twin  TEXT here"),     // same fingerprint, larger id -> dup_batch
      (14L, "another new one")      // new
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, corpus, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "dup_corpus", 11L -> "new", 12L -> "new",
      13L -> "dup_batch", 14L -> "new"), got.toString)
  }

  test("segmentDedup: first occurrence survives, docs reassemble in order, full dups keep empty rows") {
    import spark.implicits._
    // segTokens=2: doc 1 = [a b][c d], doc 2 repeats [a b] then fresh
    // [e f], doc 3 is entirely made of already-seen segments
    val df = Seq(
      (1L, "a b c d"),
      (2L, "a b e f"),
      (3L, "a b c d")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "text", "doc_id", segTokens = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a b c d", 2L, 2L),
      (2L, "e f", 2L, 1L),
      (3L, "", 2L, 0L)), out.toSeq.toString)
  }

  test("segmentDedup: within-doc repeated segment keeps only its first copy") {
    import spark.implicits._
    val df = Seq((1L, "x y x y z w")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "text", "doc_id", segTokens = 2)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("x y z w", 3L, 2L)))
  }

  test("stripBoilerplate: hot-trigram spans removed, unique text kept, hot/cold branches agree") {
    import spark.implicits._
    val boiler = "all rights reserved"   // planted in 5 docs -> df = 5
    val docs = Seq(
      (1L, s"$boiler unique one body text here"),
      (2L, s"$boiler unique two body text here"),
      (3L, s"unique three body $boiler text tail"),
      (4L, s"$boiler unique four body text here"),
      (5L, boiler),                       // fully templated -> empty row
      (6L, "fresh content with no template at all"),
      (7L, "tiny doc")                    // < 3 tokens: never stripped
    ).toDF("doc_id", "text")
    def run(cutoff: Long) =
      Dedup.stripBoilerplate(docs, "text", "doc_id", shingleN = 3,
          minDf = 5L, hotDfCutoff = cutoff)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
    val out = run(1000000L)               // all drops on the cold branch
    assert(out.contains((1L, "unique one body text here", 8L, 3L)))
    assert(out.contains((3L, "unique three body text tail", 8L, 3L)))
    assert(out.contains((5L, "", 3L, 3L)))
    assert(out.contains((6L, "fresh content with no template at all", 7L, 0L)))
    assert(out.contains((7L, "tiny doc", 2L, 0L)))
    // forcing every drop-gram onto the broadcast hot branch is
    // byte-identical to the cold path
    assert(run(1L) == out)
    // plan pin: the hot drop-set arrives by broadcast and no window
    // ever partitions by the gram key (df is a partial-agg'd groupBy)
    val hotPlan = Dedup.stripBoilerplate(docs, "text", "doc_id",
      shingleN = 3, minDf = 5L, hotDfCutoff = 1L)
      .queryExecution.sparkPlan
    assert(hotPlan.toString.contains("BroadcastHashJoin"))
    val gramWindows = hotPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.exists(_.toString.contains("gh")) => w
    }
    assert(gramWindows.isEmpty)
  }

  test("sourceOverlap: jaccard and containments match hand-computed sets; zero-overlap pairs present") {
    import spark.implicits._
    // src A: shingles {a b c, b c d} ∪ {b c d, c d e} = 3 distinct
    // src B: {c d e, d e f} = 2 distinct, inter(A,B) = {c d e} = 1
    // src C: disjoint vocabulary -> zero row must still appear
    val df = Seq(
      (1L, "a b c d", "A"), (2L, "b c d e", "A"),
      (3L, "c d e f", "B"),
      (4L, "p q r", "C")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.sourceOverlap(df, "text", "doc_id", "source")
      .orderBy("src_a", "src_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.toSeq == Seq(
      ("A", "B", 3L, 2L, 1L, 0.25, 0.333333, 0.5),
      ("A", "C", 3L, 1L, 0L, 0.0, 0.0, 0.0),
      ("B", "C", 2L, 1L, 0L, 0.0, 0.0, 0.0)), rows.toSeq.toString)
  }

  test("boilerplateShingles: df over distinct doc shingles, source spread, desc-df order with text tie-break") {
    import spark.implicits._
    // "a b c" in 3 docs across 2 sources (twice in doc 3 -> still df 3);
    // "b c d" in 2 docs of one source; everything else df 1
    val df = Seq(
      (1L, "a b c d", "s1"),        // shingles: a b c, b c d
      (2L, "a b c", "s2"),          // a b c
      (3L, "a b c a b c", "s1"),    // a b c, b c a, c a b
      (4L, "b c d", "s1")           // b c d
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.boilerplateShingles(df, "text", "doc_id", "source",
        k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      ("a b c", 3L, 0.75, 2L),
      ("b c d", 2L, 0.5, 1L),
      ("b c a", 1L, 0.25, 1L)), rows.toSeq.toString)
  }

  test("containmentPairs: catches the quoted-small-doc case jaccard misses") {
    import spark.implicits._
    // doc 1 (4 shingles) is fully embedded in doc 2 (13 shingles):
    // containment(1 in 2) = 1.0 but jaccard = 4/13 ~ 0.31
    val small = "alpha beta gamma delta epsilon zeta"
    val big = small + " eta theta iota kappa lambda mu nu xi omicron"
    val df = Seq((1L, small), (2L, big), (3L, "totally unrelated text here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id",
        minContainment = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1.0, 0.307692)), got.toSeq.toString)
    // the jaccard tier at the same bar finds nothing
    assert(Dedup.exactJaccardPairs(df, "text", "doc_id",
      minJaccard = 0.9).count() == 0L)
  }

  test("editSimilarityPairs: order-exact refine separates edits from shuffles; equals local DP truth") {
    import spark.implicits._
    val x = (1 to 20).map(i => s"w$i").mkString(" ")
    val edited = x.replace("w5", "zz")                 // tiny in-place edit
    val halves =                                        // block shuffle: high jaccard, low edit_sim
      ((11 to 20) ++ (1 to 10)).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, x), (2L, edited), (3L, halves), (4L, x),
      (5L, ""), (6L, "")).toDF("doc_id", "text")

    val got = Dedup.editSimilarityPairs(docs, "text", "doc_id",
        jaccardGate = 0.3, minEditSim = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap

    // independent truth: gate from the (already verified) jaccard tier,
    // refined by a local textbook DP — not Spark's levenshtein
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = Map(1L -> x, 2L -> edited, 3L -> halves, 4L -> x, 5L -> "", 6L -> "")
    val truth = Dedup.exactJaccardPairs(docs, "text", "doc_id", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .map { case (a, b) =>
        val (ta, tb) = (texts(a), texts(b))
        val m = math.max(ta.length, tb.length)
        (a, b) -> (if (m == 0) 1.0
                   else BigDecimal(1.0 - lev(ta, tb).toDouble / m)
                     .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.filter(_._2 >= 0.9).toMap
    assert(got == truth, s"got=$got truth=$truth")

    // the planted scenarios actually exercise the refine:
    assert(got((1L, 2L)) == 0.971429)       // edit kept: 1 - 2/70
    assert(got((1L, 4L)) == 1.0)            // identical pair
    assert(got((5L, 6L)) == 1.0)            // empty-vs-empty defined identical
    assert(!got.contains((1L, 3L)))         // shuffle gated IN but refined OUT
    assert(Dedup.exactJaccardPairs(docs, "text", "doc_id", minJaccard = 0.3)
      .filter(col("id_a") === 1L && col("id_b") === 3L).count() == 1L,
      "the shuffle pair must reach the refine via the gate")
  }

  test("editSimilarityPairs: banded DP never decides a boundary pair (equals unbounded filter)") {
    import spark.implicits._
    // lengths engineered around the band: minEditSim=0.8 over len-10
    // texts puts the band at floor(0.2*10)+1 = 3; dist 2 passes, dist 3
    // lands exactly ON the +1 slack edge (sim 0.7 < 0.8, filtered by
    // the exact comparison, NOT by a -1 band sentinel), dist 4 beyond
    val base = "abcdefghij"
    val d2 = "abcdefghXY"   // dist 2 -> sim 0.8 (kept)
    val d3 = "abcdefgXYZ"   // dist 3 -> sim 0.7 (cut by the filter)
    // all share enough word-grams? single-token docs: whole-string
    // fallback shingles differ -> no candidates. Use token padding to
    // share grams while keeping the char edits small:
    val p = "p1 p2 p3 p4 p5 p6 p7 p8"
    val a = s"$p aaaaaa"
    val b = s"$p aaaaab"     // dist 1 over len 30 -> sim 0.966667 kept at 0.9
    val c = s"$p aaabbb"     // dist 3 -> sim 0.9 exactly: boundary pair must KEEP
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.editSimilarityPairs(docs, "text", "doc_id",
        jaccardGate = 0.3, minEditSim = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got((1L, 2L)) == 0.966667, got.toString)
    assert(got((1L, 3L)) == 0.9, "exact-boundary pair must survive the band")
    assert(got((2L, 3L)) == 0.933333)   // dist 2
  }

  test("containmentPairs: symmetric duplicates report 1.0 both ways") {
    import spark.implicits._
    val df = Seq((1L, "one two three four five"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id", minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1.0, 1.0)))
  }

  test("scale rehearsal: Zipf corpus at sf0.1 volume — hot branch engages, bounded wall time") {
    import spark.implicits._
    // 5000 docs (sf0.1's document count); 30% open with the same
    // boilerplate phrase -> ONE shingle with df=1500, far above the
    // test cutoff, so the broadcast-head branch must carry it. The
    // rest of each doc is unique filler, so candidate volume stays
    // truthful to a Zipf head: huge df, no true pairs from it.
    val boiler = "terms of service"
    val rows = (1L to 5000L).map { i =>
      val head = if (i % 10 < 3) s"$boiler " else ""
      (i, head + (0 until 12).map(t => s"u${i}x$t").mkString(" "))
    } :+ ((5001L, boiler + " " + (0 until 12).map(t => s"u42x$t").mkString(" ")))
    // 5001 is a near-dup of 42 (same filler, extra boilerplate head)
    val df = rows.toDF("doc_id", "text").repartition(8)
    val t0 = System.nanoTime()
    val pairs = Dedup.prefixJaccardPairs(df, "text", "doc_id",
      minJaccard = 0.5, hotDfCutoff = 500L)
    // plan shape: no shingle-partitioned window anywhere; the hot df
    // side arrives by broadcast
    val windows = pairs.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.forall(!_.toString.contains("shingle"))))
    assert(pairs.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.toSeq == Seq((42L, 5001L)), got.toSeq.take(5).toString)
    // generous completion bound: the point is "finishes sanely at this
    // volume with the skew guard engaged", not a benchmark
    assert(secs < 180.0, f"prefix tier took $secs%.1f s")
  }

  test("scale rehearsal: edit refine at sf0.1 volume — DP only on gated candidates, bounded wall time") {
    import spark.implicits._
    // 5000 unique-vocabulary docs (sf0.1's corpus size) so the shingle
    // gate yields ONLY the planted candidates; the banded DP then runs
    // on that bounded pair set — the tier's whole scale contract
    val rows = (1L to 5000L).map { i =>
      (i, (0 until 15).map(t => s"u${i}x$t").mkString(" "))
    } ++ Seq(
      (5001L, (0 until 15).map(t =>
        if (t == 7) "EDITED" else s"u42x$t").mkString(" ")),   // 1-token edit of 42
      (5002L, (0 until 15).map(t =>
        if (t == 3) "CHANGED" else s"u99x$t").mkString(" ")),  // 1-token edit of 99
      (5003L, (0 until 15).map(t => s"u7x$t").mkString(" "))) // exact copy of 7
    val df = rows.toDF("doc_id", "text").repartition(8)
    val t0 = System.nanoTime()
    val got = Dedup.editSimilarityPairs(df, "text", "doc_id",
        jaccardGate = 0.3, minEditSim = 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.keySet == Set((42L, 5001L), (99L, 5002L), (7L, 5003L)),
      got.toString)
    assert(got((7L, 5003L)) == 1.0)
    assert(got((42L, 5001L)) >= 0.8 && got((42L, 5001L)) < 1.0)
    // generous completion bound: the point is "finishes sanely at this
    // volume with candidates bounded by the gate", not a benchmark
    assert(secs < 180.0, f"edit refine took $secs%.1f s")
  }

  test("scale rehearsal: CC star head — salted layout engages and labels correctly") {
    import spark.implicits._
    // one star head (node 0 in every edge) plus disjoint 2-chains: the
    // max-degree probe must flip the salted layout on under a forced
    // distributed threshold, and labels must still be exact
    val star = (1L to 2000L).map(i => (0L, i))
    val chains = (3000L until 3400L by 2).map(i => (i, i + 1))
    val edges = (star ++ chains).toDF("id_a", "id_b").repartition(8)
    // decision logic engages on this graph's real stats
    val maxDeg = 2000L
    assert(Dedup.ccLayout(edges.count(), maxDeg,
      localEdgeThreshold = 100L, hotDegreeThreshold = 500L) == ((false, true)))
    val t0 = System.nanoTime()
    val clusters = Dedup.dupClusters(edges,
        localEdgeThreshold = 100L, hotDegreeThreshold = 500L,
        skewSaltFactor = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val secs = (System.nanoTime() - t0) / 1e9
    val byId = clusters.map(c => c._1 -> c._2).toMap
    assert((0L to 2000L).forall(byId(_) == 0L))          // the star
    assert(byId(3000L) == 3000L && byId(3001L) == 3000L) // a chain
    assert(clusters.filter(_._2 == 0L).head._3 == 2001L) // star size
    assert(secs < 180.0, f"salted CC took $secs%.1f s")
  }

  test("winnowFingerprints: SIGMOD'03 guarantee, density, rightmost tie-break, short docs") {
    import spark.implicits._
    val k = 3; val w = 4
    // two docs sharing a run of exactly w + k - 1 = 6 tokens must share
    // a fingerprint (the winnowing guarantee), surrounded by disjoint
    // filler so nothing else collides
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 a5 $shared a6 a7 a8 a9"),
      (2L, s"b1 b2 b3 b4 b5 $shared b6 b7 b8 b9"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12"),
      (4L, "d1 d2"),   // under k tokens: no grams, no fingerprints
      (5L, "e1 e2 e3 e4")) // 2 grams < w: whole-doc window, min selected
      .toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprints(docs, "text", "doc_id", k, w)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "guaranteed shared fingerprint missing")
    assert(byDoc(1L).intersect(byDoc(3L)).isEmpty)
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).size == 1)
    // every selected fingerprint is the rightmost minimum of SOME
    // trailing window — replay serially
    def serialWinnow(text: String): Set[(Int, String)] = {
      val toks = text.trim.split("\\s+")
      val grams = toks.sliding(k).zipWithIndex.map { case (g, p) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(g.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        (p, hex)
      }.toVector
      if (grams.isEmpty) Set.empty
      else {
        val windows =
          if (grams.size < w) Vector(grams)
          else grams.sliding(w).toVector
        windows.map(win => win.minBy(g => (g._2, -g._1)))
          .map { case (p, h) => (p, h) }.toSet
      }
    }
    for ((id, text) <- Seq(1L, 2L, 3L, 5L).map(i =>
        i -> docs.filter(col("doc_id") === i).head().getString(1))) {
      val want = serialWinnow(text)
      val got = fp.filter(_._1 == id).map(t => (t._2, t._3)).toSet
      assert(got == want, s"doc $id: $got != $want")
    }
    // density: the selected fraction of a long random doc sits near
    // 2/(w+1), never above 1/1 of windows
    val long = (1 to 500).map(i => s"t${i * 7919 % 501}").mkString(" ")
    val sel = serialWinnow(long).size.toDouble / (500 - k + 1)
    assert(sel > 0.2 && sel < 0.6, s"density $sel")
  }

  test("winnowCrossPairs: planted contamination surfaces; equals whole-corpus winnow split") {
    import spark.implicits._
    val leak1 = "the quick brown fox jumps over lazy dogs"
    val leak2 = "pack my box with five dozen liquor jugs"
    val train = Seq(
      (2L, s"t1 t2 $leak1 t3 $leak2 t4"),
      (4L, "t5 t6 t7 t8 t9 t10 t11 t12")).toDF("doc_id", "text")
    val ref = Seq(
      (1L, s"r1 $leak1 r2 $leak2 r3"),
      (3L, "r4 r5 r6 r7 r8 r9 r10 r11")).toDF("doc_id", "text")
    val pairs = Dedup.winnowCrossPairs(train, ref, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // both planted runs are >= w+k-1 tokens -> (2, 1) shares >= 2 fps
    assert(pairs.exists(p => p._1 == 2L && p._2 == 1L && p._3 >= 2L),
      pairs.toSeq.toString)
    assert(pairs.forall(p => p._1 == 2L && p._2 == 1L), pairs.toSeq.toString)
    // per-doc selection: winnowing the union then splitting gives the
    // same pairs (the equivalence the q168 oracle relies on)
    val union = train.unionByName(ref)
    val fpAll = Dedup.winnowFingerprints(union, "text", "doc_id")
      .select(col("id"), col("fp")).distinct()
    val dfc = fpAll.groupBy("fp").count().filter(col("count") <= 50)
    val cold = fpAll.join(dfc, Seq("fp"))
    val viaUnion = cold.filter(col("id") % 2 === 0)
      .select(col("fp"), col("id").as("train_id"))
      .join(cold.filter(col("id") % 2 === 1)
        .select(col("fp"), col("id").as("ref_id")), Seq("fp"))
      .groupBy("train_id", "ref_id").count()
      .filter(col("count") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.toSet == viaUnion)
    // self-audit (same corpus on both sides): the df cap counts
    // DISTINCT docs, so a fingerprint in exactly maxDf docs survives —
    // double-counting the two sides would halve the effective cap
    val leakDocs = (1L to 4L)
      .map(i => (i, s"x$i $leak1 y$i")).toDF("doc_id", "text")
    val selfPairs = Dedup.winnowCrossPairs(leakDocs, leakDocs,
        "text", "doc_id", minShared = 1L, maxDf = 4L)
      .collect()
    assert(selfPairs.nonEmpty,
      "fingerprint at exactly maxDf distinct docs must survive the cap")
  }

  test("winnowSharedPairs: planted near-dup pair surfaces; hot fingerprints capped out") {
    import spark.implicits._
    // docs 1/2 share two long runs -> >= 2 shared fingerprints; the
    // boilerplate line appears in EVERY doc so its fingerprints exceed
    // maxDf and never join
    val boiler = "copyright footer terms of service apply here now"
    val run1 = "alpha beta gamma delta epsilon zeta eta"
    val run2 = "one two three four five six seven"
    val rows = Seq(
      (1L, s"$run1 x1 $run2 $boiler"),
      (2L, s"y1 $run1 y2 $run2 $boiler")) ++
      (3L to 30L).map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e $boiler"))
    val docs = rows.toDF("doc_id", "text")
    val pairs = Dedup.winnowSharedPairs(docs, "text", "doc_id",
        k = 3, w = 4, minShared = 2L, maxDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 2L),
      s"planted pair missing: ${pairs.toSeq}")
    // no pair may exist solely through the capped boilerplate
    assert(pairs.forall(p => p._1 == 1L && p._2 == 2L),
      s"boilerplate-only pair leaked: ${pairs.toSeq}")
  }

  test("contrastiveTriplets: best positive + best hard negative per anchor; ties break on id; no-positive anchors drop") {
    import spark.implicits._
    val base = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val docs = Seq(
      (1L, base),                                // anchor under test
      (2L, base + " t11"),                       // near-dup of 1 (jac 8/9)
      (3L, "t1 t2 t3 t4 x5 x6 x7 x8 x9 x10"),    // hard neg of 1 (jac 2/14)
      (5L, "t1 t2 t3 t4 y5 y6 y7 y8 y9 y10"),    // tied hard neg of 1
      (9L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")     // disjoint: no pairs at all
    ).toDF("doc_id", "text")
    val out = Dedup.contrastiveTriplets(docs, "text", "doc_id",
        posMin = 0.8, negLo = 0.005)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // anchors 3/5/9 have no positive leg -> dropped; 1 and 2 survive
    assert(out.map(_._1) == Seq(1L, 2L), s"anchors: $out")
    val t1 = out.head
    assert(t1._2 == 2L && math.abs(t1._3 - 8.0 / 9.0) < 1e-6)
    // negatives 3 and 5 tie at 2/14 -> deterministic pick of id 3
    assert(t1._4 == 3L && math.abs(t1._5 - 2.0 / 14.0) < 1e-6)
    val t2 = out(1)
    assert(t2._2 == 1L && t2._4 == 3L)
  }

  test("bandedRecallReport: exact duplicates always surface; found never exceeds true; recall column is consistent") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base),              // jac 1.0 -> decile 10
      (3L, base + " x1"),                  // jac 28/29 vs 1,2 -> decile 9
      (4L, (1 to 30).map(i => s"z$i").mkString(" "))  // disjoint
    ).toDF("doc_id", "text")
    val rep = Dedup.bandedRecallReport(docs, "text", "doc_id", gate = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // identical signatures collide in every band: decile 10 recall is 1
    val d10 = rep.find(_._1 == 10L)
    assert(d10.exists(r => r._2 == 1L && r._4 == 1.0), s"report: ${rep.toSeq}")
    assert(rep.forall(r => r._3 <= r._2))
    assert(rep.forall(r =>
      r._4 == math.round(r._3.toDouble / r._2 * 1e6) / 1e6))
  }

  test("bandingDesignTable: p is monotone in j per dial; extreme dials bracket the diagonal") {
    val t = Dedup.bandingDesignTable(spark, k = 16)
      .collect().map(r => (r.getLong(1), r.getDouble(3), r.getDouble(4)))
    // 5 factorizations of 16 x 9 grid points
    assert(t.length == 45)
    t.groupBy(_._1).foreach { case (_, g) =>
      g.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(b >= a)
        case _ =>
      }
    }
    // b=16 (r=1): OR of 16 single hashes -> p >= j everywhere
    t.filter(_._1 == 16L).foreach { case (_, j, p) => assert(p >= j) }
    // b=1 (r=16): AND of 16 hashes -> p <= j everywhere
    t.filter(_._1 == 1L).foreach { case (_, j, p) => assert(p <= j) }
  }
}
