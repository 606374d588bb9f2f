package etlmudah.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextStatsSpec extends SparkSpec {
  import TextStats._

  private def one[T](c: org.apache.spark.sql.Column): T = {
    spark.range(1).select(c.as("v")).collect().head.getAs[T]("v")
  }

  test("tokens + tokenCount on messy whitespace") {
    assert(one[Long](tokenCount(lit("  the  quick   fox "))) == 3L)
  }

  test("tokenCountBpeIsh: letter runs + digit runs + punctuation marks") {
    // "don't stop, v2.0!" -> don,',t,stop,',',v,2,'.',0,'!' = 10
    assert(one[Long](tokenCountBpeIsh(lit("don't stop, v2.0!"))) == 10L)
    assert(one[Long](tokenCountBpeIsh(lit("plain words here"))) == 3L)
  }

  test("punctRatio counts sentence punctuation per char") {
    val r = one[Double](punctRatio(lit("ab,cd!")))
    assert(math.abs(r - 2.0 / 6.0) < 1e-9)
    assert(one[Double](punctRatio(lit(""))) == 0.0)
  }

  test("stopwordRatio fraction of stopword tokens") {
    val r = one[Double](stopwordRatio(lit("the cat sat on the mat"), Seq("the", "on")))
    assert(math.abs(r - 3.0 / 6.0) < 1e-9)
  }

  test("qualityScore bounded in [0,1]") {
    val texts = Seq("", "the", "a b c d e f g h i j the of and to a " * 5, "!!!!!!")
    import spark.implicits._
    val scores = texts.toDF("t")
      .select(qualityScore(col("t"), Seq("the", "a", "of", "and", "to")).as("q"))
      .collect().map(_.getDouble(0))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("langIdByMarkers: argmax with first-lang tie-break") {
    val langs = Seq(
      "en" -> Seq("the", "of"), "de" -> Seq("der", "und"), "es" -> Seq("el", "los"))
    assert(one[String](langIdByMarkers(lit("the house of cards"), langs)) == "en")
    assert(one[String](langIdByMarkers(lit("der hund und die katze"), langs)) == "de")
    // zero hits everywhere -> first language wins the tie
    assert(one[String](langIdByMarkers(lit("xyz qrs"), langs)) == "en")
  }

  test("docTokenProfile (explode form) matches the per-row expression APIs") {
    val docs = etlmudah.Tables.documents(spark, sf0001).limit(100)
    val stops = Seq("the", "a", "of", "and", "to")
    val langs = Seq("en" -> Seq("the", "a", "of"), "de" -> Seq("der", "die", "und"))
    val profile = docTokenProfile(docs, "text", "doc_id", stops, langs)
      .select("id", "n_tokens", "stop_ratio", "quality", "pred_lang")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
    val colForm = docs.select(col("doc_id"),
        tokenCount(col("text")).as("n"),
        stopwordRatio(col("text"), stops).as("sr"),
        qualityScore(col("text"), stops).as("q"),
        langIdByMarkers(col("text"), langs).as("p"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
    assert(profile.size == 100)
    assert(profile == colForm)
  }

  test("chunkDocs: sliding windows cover every token, overlap by stride, reassemble in order") {
    import spark.implicits._
    val doc = (0 until 40).map(i => s"w$i").mkString(" ")
    val df = Seq((7L, doc)).toDF("doc_id", "text")
    val chunks = chunkDocs(df, "text", "doc_id", chunkTokens = 32, stride = 16)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    // 40 tokens, size 32, stride 16 -> chunks at 0, 16, 32
    assert(chunks.map(c => (c._1, c._2)).toSeq ==
      Seq((0L, 32L), (1L, 24L), (2L, 8L)))
    assert(chunks(0)._3.startsWith("w0 w1 ") && chunks(0)._3.endsWith(" w31"))
    assert(chunks(1)._3.startsWith("w16 ") && chunks(1)._3.endsWith(" w39"))
    assert(chunks(2)._3 == (32 until 40).map(i => s"w$i").mkString(" "))
    // tiling (stride == size): partitions exactly, no overlap
    val tiled = chunkDocs(df, "text", "doc_id", chunkTokens = 16, stride = 16)
      .collect().map(_.getLong(2)).sum
    assert(tiled == 40L)
  }

  test("topNgrams: occurrence counts with deterministic tie order") {
    import spark.implicits._
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val bi = topNgrams(df, "text", "doc_id", n = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // "a b" x3 (twice in doc1, once in doc2); then ties count-1 sorted asc
    assert(bi.head == ("a b" -> 3L))
    assert(bi.tail.map(_._2).forall(_ == 1L))
    assert(bi.tail.map(_._1) == bi.tail.map(_._1).sorted)
    val uni = topNgrams(df, "text", "doc_id", n = 1, k = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(uni.take(2) == Seq("a" -> 3L, "b" -> 3L))
  }

  test("tfidf: ubiquitous terms score 0, rarer terms higher; topNPerGroup composes") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common rare2")).toDF("doc_id", "text")
    val scored = tfidf(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byKey = scored.map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(byKey((1L, "common")) == (2L, 0.0))       // df == N -> ln(1) = 0
    assert(byKey((1L, "rare1"))._2 > byKey((2L, "rare2"))._2) // df 1 beats df 2
    val top = etlmudah.analytics.Analytics.topNPerGroup(
      tfidf(df, "text", "doc_id"), Seq("id"),
      Seq(col("score").desc, col("term").asc), 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("term")).toMap
    assert(top == Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare2"))
  }

  test("repetitionRatio: repeated phrases raise the ratio, unique prose stays 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),     // 4 trigrams, 1 distinct
      (2L, "all words here are fully unique")).toDF("doc_id", "text")
    val r = repetitionRatio(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((4L, 1L, 0.75)))
    assert(r(2L)._3 == 0.0)
  }

  test("piiScan counts email/phone/digit-run shapes") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at a.b@example.com or +60 12-345 6789 ok"),
      (2L, "id 123456789012 plain text"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val r = piiScan(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L)._1 == 1L && r(1L)._2 >= 1L)
    assert(r(2L)._3 == 1L)
    assert(r(3L) == ((0L, 0L, 0L)))
  }

  test("compressionRatio: repetitive text compresses far below varied text; deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val varied = (0 until 200).map(_ => rnd.alphanumeric.take(6).mkString).mkString(" ")
    val df = Seq(
      (1L, "spam " * 400),
      (2L, varied),
      (3L, "")).toDF("doc_id", "text")
    val r = compressionRatio(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(3))).toMap
    assert(r(1L)._2 < 0.05, s"repetitive ratio ${r(1L)._2}")
    assert(r(2L)._2 > 3 * r(1L)._2, s"varied ${r(2L)._2} vs ${r(1L)._2}")
    assert(r(3L) == ((0L, 1.0)))
    val again = compressionRatio(df, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(again == r.map { case (k, v) => k -> v._2 })
  }

  test("fingerprint invariant to case and whitespace runs") {
    val a = one[String](fingerprint(lit("Hello   World")))
    val b = one[String](fingerprint(lit("hello world")))
    val c = one[String](fingerprint(lit("hello worlds")))
    assert(a == b && a != c)
  }

  test("piiRedact: replaces all three shapes, idempotent, clean text unchanged") {
    def red(s: String): String =
      spark.range(1).select(piiRedact(lit(s)).as("r")).collect().head.getString(0)
    val dirty = "mail a.b@example.com or +1 (555) 123-4567 ref 1234567890 twice 9876543210"
    val out = red(dirty)
    assert(!out.contains("@") && out.contains("<EMAIL>"))
    assert(out.contains("<PHONE>") && out.contains("<DIGITS>"))
    // tags contain nothing the patterns can re-match -> idempotent
    assert(red(out) == out)
    assert(red("clean prose with no contacts") == "clean prose with no contacts")
  }

  test("cleanText: strips controls, folds typography, collapses whitespace, idempotent") {
    def clean(s: String): String =
      spark.range(1).select(cleanText(lit(s)).as("c")).collect().head.getString(0)
    // every ladder rule at once, hand-computed:
    // ctrl-G stripped, curly doubles folded, NBSP+runs collapsed
    assert(clean("\u0007 a\u201Cb\u201D  c\t\u00A0 ") == "a\"b\" c")
    assert(clean("x \u2013 y\u2014z \u2018q\u2019") == "x - y-z 'q'")
    // tab/newline/CR are whitespace, not control-stripped: they collapse
    assert(clean("a\tb\nc\rd") == "a b c d")
    // DEL and C0 vanish without leaving a space
    assert(clean("a\u0001\u007Fb") == "ab")
    val messy = "  \u201Chi\u201D \u2014 the\u0002 end\t"
    assert(clean(clean(messy)) == clean(messy), "idempotent")
    assert(clean("") == "" && clean("already clean") == "already clean")
  }


  test("hashedLinearScore: equals a local md5 replay; bounded; deterministic") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha alpha"),
      (3L, ""), (4L, "zeta")).toDF("doc_id", "text")
    val got = hashedLinearScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def u32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    def w(tok: String): Long = u32("w:q:" + (u32(tok) % 1024L)) % 2001L - 1000L
    def score(toks: Seq[String]): Double = {
      // the integer-exact half-away rounding (TextStats.score6 replay)
      val a = toks.map(w).sum * 1000L
      val n = toks.size.toLong
      val mag = (math.abs(a) * 2 + n) / (2 * n)
      (if (a >= 0) mag else -mag) / 1000000.0
    }
    assert(got(1L) == ((3L, score(Seq("alpha", "beta", "gamma")))))
    assert(got(2L) == ((2L, score(Seq("alpha", "alpha")))))
    // empty text tokenizes to the single empty token (the q63 contract)
    assert(got(3L) == ((1L, score(Seq("")))))
    assert(got(4L) == ((1L, score(Seq("zeta")))))
    assert(got.values.forall { case (_, sc) => sc >= -1.0 && sc <= 1.0 })
    val again = hashedLinearScore(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == got.map { case (k, v) => k -> v._2 })
  }

  test("shingles: distinct n-grams, short-doc fallback") {
    def seqOf(c: org.apache.spark.sql.Column): Seq[String] =
      spark.range(1).select(c.as("v")).collect().head.getSeq[String](0)
    assert(seqOf(shingles(lit("a b c d"), 3)).toSet == Set("a b c", "b c d"))
    assert(seqOf(shingles(lit("a b"), 3)) == Seq("a b"))
  }

  test("unkRewrite: corpus-wide counts drive <unk>, token order preserved") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat"),
      (3L, "a rare token")).toDF("doc_id", "text")
    // corpus counts: the=3, sat=2, cat/on/mat/dog/a/rare/token=1
    val r = unkRewrite(df, "text", "doc_id", minCount = 2L)
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r(1L) == (("the <unk> sat <unk> the <unk>", 3L)))
    assert(r(2L) == (("the <unk> sat", 1L)))
    assert(r(3L) == (("<unk> <unk> <unk>", 3L)))
    // minCount=1 is the identity rewrite
    val id = unkRewrite(df, "text", "doc_id", minCount = 1L)
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(id(1L) == "the cat sat on the mat" && id(3L) == "a rare token")
  }

  test("ttrBySlice: pooled TTR separates templated from diverse slices") {
    import spark.implicits._
    val docs = Seq(
      // templated slice: every doc reuses the same 3-word vocabulary
      (1L, "spam", "buy now cheap"), (2L, "spam", "buy cheap now"),
      (3L, "spam", "now buy cheap buy"),
      // diverse slice: disjoint vocabularies
      (4L, "prose", "alpha beta gamma"), (5L, "prose", "delta epsilon zeta"),
      (6L, "prose", "eta theta iota kappa")
    ).toDF("doc_id", "source", "text")
    val r = TextStats.ttrBySlice(docs, "text", "doc_id", "source")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    val (spamDocs, spamTok, spamTypes, spamTtr) = r("spam")
    val (_, proseTok, proseTypes, proseTtr) = r("prose")
    assert(spamDocs == 3 && spamTok == 10 && spamTypes == 3)
    assert(proseTok == 10 && proseTypes == 10 && proseTtr == 1.0)
    assert(spamTtr < proseTtr)
  }

  test("filterFunnel: stages shrink monotonically; last stage == qualityFilter keeps") {
    val docs = etlmudah.Tables.documents(spark, sf0001)
    val stops = Seq("the", "a", "of", "and", "to")
    val funnel = filterFunnel(docs, "text", "doc_id", stops,
      sliceCol = "source", minTokens = 30, maxTokens = 100000,
      minStopRatio = 0.03, maxPunctRatio = 0.05).collect()
    funnel.foreach { r =>
      val stages = (1 to 5).map(r.getLong)
      stages.sliding(2).foreach { case Seq(a, b) =>
        assert(a >= b, s"${r.getString(0)}: $stages not monotone")
      }
    }
    val keeps = qualityFilter(docs, "text", "doc_id", stops,
        minTokens = 30, maxTokens = 100000, minStopRatio = 0.03,
        maxPunctRatio = 0.05, carryCols = Seq("source"))
      .filter(col("verdict") === "keep").groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    funnel.foreach { r =>
      assert(r.getLong(5) == keeps.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)}: funnel end != keep count")
    }
  }

  test("lengthHistogram: power-of-two buckets partition docs; shares sum to 100") {
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq(1, 2, 3, 4, 7, 8, 31, 32).zipWithIndex
      .map { case (n, i) => (i.toLong, words(n), "s") }
      .toDF("doc_id", "text", "source")
    val rows = lengthHistogram(docs, "text", "doc_id", "source").collect()
    val byBucket = rows.map(r => r.getLong(1) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // 1 -> b0; 2,3 -> b1; 4,7 -> b2; 8 -> b3; 31 -> b4; 32 -> b5
    assert(byBucket.view.mapValues(_._3).toMap ==
      Map(0L -> 1L, 1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    byBucket.foreach { case (b, (lo, hi, _)) =>
      assert(lo == (1L << b) && hi == (1L << (b + 1)) - 1)
    }
    assert(math.abs(rows.map(_.getDouble(6)).sum - 100.0) < 1e-6)
    assert(rows.map(_.getLong(4)).sum == 8)
  }

  test("unigramScore: common-token docs outscore rare-token docs; exact unigram math") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common common common common common", "hi"),
      (2L, "common common common common common", "hi"),
      (3L, "rare1 rare2 rare3 rare4 rare5", "lo")
    ).toDF("doc_id", "text", "source")
    val r = unigramScore(docs, "text", "doc_id", "source")
      .collect().map(x => x.getString(0) -> x.getDouble(2)).toMap
    // total = 15 tokens; "common" has count 10, each rare token count 1
    assert(math.abs(r("hi") - math.log(10.0 / 15)) < 1e-3, r.toString)
    assert(math.abs(r("lo") - math.log(1.0 / 15)) < 1e-3, r.toString)
    assert(r("hi") > r("lo") && r.values.forall(_ < 0))
  }

  test("gopherStats: each rule catches its crafted violator independently") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy sleeping dog " * 5
    val docs = Seq(
      (1L, good, "s"),                                  // passes everything
      (2L, "too short", "s"),                           // fails len only
      (3L, ("a " * 60).trim, "s"),                      // fails mean word len (1.0)
      (4L, (1000 to 1059).map(_.toString).mkString(" "), "s"), // fails alpha frac
      (5L, good + " " + "### ... ### ... ### ... ### ... ### ... ### end", "s"),
      (6L, (1 to 10).map(_ => "- bullet line of text here now ok").mkString("\n"), "s"),
      (7L, (1 to 10).map(_ =>
        "a much longer line of ordinary prose text that keeps going for " +
          "quite a while before trailing off into dots ...").mkString("\n"), "s")
    ).toDF("doc_id", "text", "source")
    val r = gopherStats(docs, "text", "doc_id", "source", minTokens = 20)
      .collect().head
    assert(r.getLong(1) == 7)                           // n_docs
    assert(r.getLong(2) == 6, s"pass_len ${r.getLong(2)}")
    assert(r.getLong(3) == 6, s"pass_word_len ${r.getLong(3)}")
    assert(r.getLong(4) == 6, s"pass_alpha ${r.getLong(4)}")
    assert(r.getLong(5) == 6, s"pass_symbol ${r.getLong(5)}")
    assert(r.getLong(6) == 6, s"pass_bullet ${r.getLong(6)}")
    assert(r.getLong(7) == 6, s"pass_ellipsis ${r.getLong(7)}")
    assert(r.getLong(8) == 1, s"pass_all ${r.getLong(8)}")
  }

  test("bm25: hand-computed scores; idf never negative; long docs penalized") {
    import spark.implicits._
    // corpus of 2 docs, avgdl = (4 + 2) / 2 = 3
    //  doc 1: "x x y z"  (dl=4)   doc 2: "x w"  (dl=2)
    val df = Seq((1L, "x x y z"), (2L, "x w")).toDF("doc_id", "text")
    val out = bm25(df, "text", "doc_id").collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getDouble(3))).toMap
    def score(tf: Long, dfq: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (2 - dfq + 0.5) / (dfq + 0.5))
      val tfn = (tf * (1.2 + 1.0)) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / 3.0))
      math.rint(idf * tfn * 1e4) / 1e4
    }
    assert(out((1L, "x")) == score(2, 2, 4), out.toString)
    assert(out((1L, "y")) == score(1, 1, 4))
    assert(out((2L, "w")) == score(1, 1, 2))
    // ubiquitous term: positive but far below the unique terms (the
    // non-negative Lucene idf — plain idf ln(N/df) would give 0 here)
    assert(out((2L, "x")) > 0 && out((2L, "x")) < out((2L, "w")))
    // same tf/df, longer doc scores lower (length normalization)
    assert(out((1L, "y")) < out((2L, "w")))
  }

  test("zipfFit: exact power law fits slope -1 with r2 = 1") {
    import spark.implicits._
    // counts 12/r for ranks 1..4: a perfect Zipf corpus
    val text = ("a " * 12) + ("b " * 6) + ("c " * 4) + ("d " * 3)
    val docs = Seq((1L, text.trim)).toDF("doc_id", "text")
    val r = zipfFit(docs, "text", "doc_id").collect().head
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) == -1.0, s"slope ${r.getDouble(1)}")
    assert(r.getDouble(3) == 1.0, s"r2 ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(2) - math.rint(math.log(12.0) * 1e4) / 1e4)
      < 1e-9)
  }

  test("vocabCoverage: boundary tie breaks to token asc, OOV mass exact") {
    import spark.implicits._
    // counts: a=3, b=2, c=2, d=1. V=2 -> vocab {a, b} (b beats c on the
    // asc tie-break). slice coverage: 5 of 8 occurrences, 2 of 4 distinct
    val docs = Seq((1L, "a a a b b c c d", "s")).toDF("doc_id", "text", "source")
    val r = vocabCoverage(docs, "text", "doc_id", "source", vocabSize = 2)
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((8L, 5L, 4L, 2L)))
    assert(r.getDouble(5) == 62.5 && r.getDouble(6) == 37.5)
  }

  test("collocations: planted pair scores exact PMI, hapax pair floored out") {
    import spark.implicits._
    // "new york" always together (5x); filler tokens independent; the
    // pair "rare gem" occurs once -> support floor must drop it
    val text = (1 to 5).map(_ => "new york").mkString(" ") +
      " alpha beta gamma delta rare gem"
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val out = collocations(docs, "text", "doc_id", minCount = 3, minPmi = 0.5)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.contains(("new", "york")))
    assert(!out.keySet.contains(("rare", "gem")))
    val (cnt, pmi) = out(("new", "york"))
    // c2=5, T1=16, T2=15, c(new)=5, c(york)=5 ->
    // pmi = ln5 + 2ln16 - ln15 - ln5 - ln5
    val expect = math.log(5) + 2 * math.log(16) - math.log(15) -
      math.log(5) - math.log(5)
    assert(cnt == 5L)
    assert(math.abs(pmi - math.rint(expect * 1e4) / 1e4) < 1e-9)
  }

  test("tokenEntropy: uniform slice hits log2(V) with norm 1, constant slice 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d", "uniform"),       // 4 distinct tokens, once each
      (2L, "e f g h", "uniform"),       // -> 8 tokens over V=8, H=3 bits
      (3L, "x x x x x x", "constant")   // one token -> H=0
    ).toDF("doc_id", "text", "source")
    val r = tokenEntropy(docs, "text", "doc_id", "source").collect()
      .map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r("uniform") == ((8L, 8L, 3.0, 1.0)))
    assert(r("constant")._1 == 6L && r("constant")._2 == 1L)
    assert(r("constant")._3 == 0.0)
  }

  test("tokenEntropy: skewed distribution matches hand-computed H") {
    import spark.implicits._
    // counts: a=3, b=1 over T=4 -> H = 2 - (3 ln3)/(4 ln2) ≈ 0.811278
    val docs = Seq((1L, "a a a b", "s")).toDF("doc_id", "text", "source")
    val h = tokenEntropy(docs, "text", "doc_id", "source")
      .collect().head.getDouble(3)
    val expect = 2.0 - 3.0 * math.log(3.0) / (4.0 * math.log(2.0))
    assert(math.abs(h - math.rint(expect * 1e4) / 1e4) < 1e-9)
  }

  test("bigramScore: MLE transition math on a hand corpus") {
    import spark.implicits._
    // corpus transitions: (a->b) x2, (b->a) x1, (b->c) x1
    // c(a,b)=2 c1(a)=2 -> ln 1 = 0 ; c(b,a)=1, c(b,c)=1, c1(b)=2 -> ln .5
    val docs = Seq((1L, "a b a b c", "s")).toDF("doc_id", "text", "source")
    val r = bigramScore(docs, "text", "doc_id", "source").collect().head
    // doc_lp = (2*0 + 1*ln.5 + 1*ln.5)/4 = ln(0.5)/2 ≈ -0.346574
    val expect = math.log(0.5) / 2.0
    assert(r.getLong(1) == 1L)
    assert(math.abs(r.getDouble(2) - math.rint(expect * 1e4) / 1e4) < 1e-9)
  }

  test("bigramScore: common transitions outscore rare ones in shared contexts") {
    import spark.implicits._
    // context "the" continues to cat 4x but dog/bird once each; the
    // doc riding the dominant transition must score strictly higher
    val docs = Seq(
      (1L, "the cat sat the cat sat the cat sat the cat sat", "s"),
      (2L, "the dog sat the bird sat", "s"))
      .toDF("doc_id", "text", "source")
    val perDoc = bigramScore(docs.withColumn("source",
        concat(col("source"), col("doc_id"))), "text", "doc_id", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // doc1: (4 ln(4/6))/11 ≈ -0.1474 ; doc2: (2 ln(1/6))/5 ≈ -0.7167
    assert(perDoc("s1") > perDoc("s2"))
    assert(math.abs(perDoc("s1") - 4.0 * math.log(4.0 / 6.0) / 11.0) < 1e-3)
    assert(math.abs(perDoc("s2") - 2.0 * math.log(1.0 / 6.0) / 5.0) < 1e-3)
  }

  test("knBigramScore: interpolated Kneser-Ney matches a serial replay on a hand corpus") {
    import spark.implicits._
    val texts = Seq((1L, "a b a b c", "s1"), (2L, "b c a c c b", "s2"),
      (3L, "a b c a b", "s1"))
    val docs = texts.toDF("doc_id", "text", "source")
    // serial replay of the exact formula over the same tokenization
    val allBg = texts.flatMap { case (id, t, src) =>
      val tok = t.trim.split("\\s+").toSeq
      tok.zip(tok.tail).map(bg => (id, src, bg))
    }
    val c2 = allBg.groupBy(_._3).map { case (bg, xs) => bg -> xs.size.toLong }
    val c1 = c2.groupBy(_._1._1).map { case (p, xs) => p -> xs.values.sum }
    val n1f = c2.groupBy(_._1._1).map { case (p, xs) => p -> xs.size.toLong }
    val n1b = c2.groupBy(_._1._2).map { case (c, xs) => c -> xs.size.toLong }
    val bTot = c2.size.toLong
    val want = allBg.groupBy(x => (x._1, x._2)).map { case ((id, src), xs) =>
      val lp = xs.map { case (_, _, bg) =>
        val p = (c2(bg) - 0.75) / c1(bg._1) +
          (0.75 * n1f(bg._1) / c1(bg._1)) * (n1b(bg._2).toDouble / bTot)
        math.log(p)
      }.sum / xs.size
      (id, src, math.rint(lp * 1e6) / 1e6)
    }
    val wantBySrc = want.groupBy(_._2).map { case (src, xs) =>
      src -> (xs.size.toLong, xs.map(_._3).sum / xs.size,
        xs.map(_._3).min, xs.map(_._3).max)
    }
    val got = knBigramScore(docs, "text", "doc_id", "source").collect()
    assert(got.length == 2)
    got.foreach { r =>
      val (n, avg, mn, mx) = wantBySrc(r.getString(0))
      assert(r.getLong(1) == n)
      assert(math.abs(r.getDouble(2) - math.rint(avg * 1e4) / 1e4) < 1e-9)
      assert(math.abs(r.getDouble(3) - mn) < 1e-9)
      assert(math.abs(r.getDouble(4) - mx) < 1e-9)
    }
    // smoothing sanity: every probability < 1, so scores are negative
    got.foreach(r => assert(r.getDouble(2) < 0.0))
  }

  test("knPerplexityBuckets: equal tiles per slice, ordered head to tail, deterministic ties") {
    import spark.implicits._
    // 6 docs, one source: buckets of 2; doc 6 repeats doc 5's text so
    // their scores TIE at 6dp and the id tie-break decides the split
    val docs = Seq(
      (1L, "a b a b a b a b", "s"), (2L, "a b c d e f", "s"),
      (3L, "b a c a d a", "s"), (4L, "c c c b a b", "s"),
      (5L, "e f a b c d", "s"), (6L, "e f a b c d", "s"))
      .toDF("doc_id", "text", "source")
    val got = knPerplexityBuckets(docs, "text", "doc_id", "source").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getLong(2)).toSeq == Seq(2L, 2L, 2L))
    // head bucket's floor >= middle's ceiling >= tail's ceiling
    val (mins, maxs) = (got.map(_.getDouble(4)), got.map(_.getDouble(5)))
    assert(mins(0) >= maxs(1) && mins(1) >= maxs(2))
    // determinism: a second run buckets identically
    val again = knPerplexityBuckets(docs, "text", "doc_id", "source").collect()
    assert(got.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("lexicalDivergence: 0 for identical, 1 bit for disjoint, textbook value for P=[1,0] vs Q=[.5,.5]") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x x y", "A"),     // A: p(x)=2/3, p(y)=1/3
      (2L, "x x y", "B"),     // B identical to A -> jsd 0
      (3L, "x", "C"),         // C: p(x)=1
      (4L, "x y", "D"),       // D: p(x)=p(y)=1/2 -> JSD(C,D)=0.3113 bits
      (5L, "z", "E")          // E disjoint from C -> exactly 1 bit
    ).toDF("doc_id", "text", "source")
    val got = lexicalDivergence(docs, "text", "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got(("A", "B")) == (2L, 0.0))
    assert(got(("C", "E")) == (0L, 1.0))
    // H(M) - (H(P)+H(Q))/2 with M=[.75,.25]: 0.811278 - 0.5 = 0.311278
    assert(got(("C", "D")) == (1L, 0.3113))
    // full matrix: 5 sources -> C(5,2) = 10 pairs, disjoint included
    assert(got.size == 10)
  }

  test("dsirScore: target-lookalike docs score positive, disjoint-vocab docs negative") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "wiki facts wiki facts", "tgt"),   // the target slice
      (2L, "wiki facts", "cand"),             // candidate sharing target vocab
      (3L, "spam casino spam casino", "cand") // candidate disjoint from target
    ).toDF("doc_id", "text", "kind")
    val got = TextStats.dsirScore(docs, "text", "doc_id",
        isTarget = col("kind") === "tgt", sliceCol = "kind")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // cand: one of two target-like; the tgt doc itself scores positive
    assert(got("cand")._1 == 2L && got("cand")._2 == 1L, got.toString)
    assert(got("tgt")._2 == 1L)
    // per-doc check: shared-vocab candidate positive, disjoint negative
    // p_t(wiki) >> p_corpus(wiki); casino/spam absent from target
    assert(got("tgt")._3 > 0 && got("cand")._3.abs > 0)
  }

  test("ngramDiversity: hand-counted grams; repetition collapses diversity") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b", "rep"),     // 1g: 4 tot / 2 dist; 2g: 3/2; 3g: 2/2
      (2L, "w x y z", "nat")      // 1g: 4/4; 2g: 3/3; 3g: 2/2
    ).toDF("doc_id", "text", "source")
    val got = TextStats.ngramDiversity(docs, "text", "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got(("rep", 1)) == (4L, 2L, 0.5))
    assert(got(("rep", 2)) == (3L, 2L, 0.666667))
    assert(got(("rep", 3)) == (2L, 2L, 1.0))
    assert(got(("nat", 1)) == (4L, 4L, 1.0))
    assert(got(("nat", 2)) == (3L, 3L, 1.0))
    // the repeated text is strictly less diverse at every n < 3
    assert(got(("rep", 1))._3 < got(("nat", 1))._3)
  }

  /** Serial reference BPE: same algorithm as [[TextStats.bpeMerges]]
    * (left-to-right non-overlapping application, (freq desc, l, r)
    * tie-break) on an in-memory word-count map. */
  private def serialBpe(counts: Map[String, Long], nMerges: Int,
                        minPairFreq: Long): Seq[(Int, String, String, String, Long)] = {
    var vocab = counts.toSeq.map { case (w, c) =>
      (w.toCharArray.map(_.toString).toVector, c)
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var rank = 0
    var go = true
    while (go && rank < nMerges) {
      val freqs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Seq(a, b) => freqs((a, b)) = freqs.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (freqs.isEmpty) go = false
      else {
        val ((l, r), f) = freqs.minBy { case ((a, b), c) => (-c, a, b) }
        if (f < minPairFreq) go = false
        else {
          out += ((rank, l, r, l + r, f))
          vocab = vocab.map { case (syms, c) =>
            val acc = scala.collection.mutable.ArrayBuffer.empty[String]
            syms.foreach { s =>
              if (acc.nonEmpty && acc.last == l && s == r)
                acc(acc.length - 1) = l + r
              else acc += s
            }
            (acc.toVector, c)
          }
          rank += 1
        }
      }
    }
    out.toSeq
  }

  test("bpeMerges: classic corpus learns the expected first merges") {
    import spark.implicits._
    // Sennrich's example words (no end-of-word marker): the most
    // frequent pair overall is (e, s) from newest(6) + widest(3) = 9
    val docs = Seq(
      (1L, Seq.fill(5)("low").mkString(" ")),
      (2L, Seq.fill(2)("lower").mkString(" ")),
      (3L, Seq.fill(6)("newest").mkString(" ")),
      (4L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
    val got = TextStats.bpeMerges(docs, "text", nMerges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got.head == ((0, "e", "s", "es", 9L)), got.mkString(","))
    assert(got(1) == ((1, "es", "t", "est", 9L)), got.mkString(","))
    // after est: lo (5+2=7) leads (w,est)=6... (l,o)=7 wins
    assert(got(2) == ((2, "l", "o", "lo", 7L)), got.mkString(","))
  }

  test("bpeEncodeWords: lossless, rank-order greedy; classic merges segment a held-out word") {
    import spark.implicits._
    val merges = Seq(("e", "s"), ("es", "t"), ("l", "o"))
    val words = Seq("lowest", "low", "zzz", "test").toDF("w")
    val got = TextStats.bpeEncodeWords(words, merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // held-out word segments through all three merges in rank order
    assert(got("lowest") == List("lo", "w", "est"))
    assert(got("low") == List("lo", "w"))
    assert(got("zzz") == List("z", "z", "z"))      // untouched by the table
    assert(got("test") == List("t", "est"))
    // losslessness: subtokens concatenate back to every word
    assert(got.forall { case (w, syms) => syms.mkString == w })
  }

  test("bpeSegmentReport: per-source fertility consistent with a serial encode") {
    val docs = etlmudah.Tables.documents(spark, sf0001)
    val train = docs.filter(col("doc_id") % 2 === 0)
    val held = docs.filter(col("doc_id") % 2 === 1)
    val mergeRows = TextStats.bpeMerges(train, "text", nMerges = 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val report = TextStats.bpeSegmentReport(held, "text", "source", mergeRows)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // serial replay: encode every held-out word with the same greedy
    // fold, aggregate per source
    def encode(w: String): Int = {
      var syms = w.toCharArray.map(_.toString).toVector
      mergeRows.foreach { case (l, r) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { s =>
          if (acc.nonEmpty && acc.last == l && s == r)
            acc(acc.length - 1) = l + r
          else acc += s
        }
        syms = acc.toVector
      }
      syms.length
    }
    val serial = held.select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).trim.split("\\s+").filter(_.nonEmpty)
        .map(w => r.getString(0) -> encode(w)))
      .groupBy(_._1)
      .map { case (src, g) =>
        val n = g.length.toLong
        val sub = g.map(_._2.toLong).sum
        src -> (n, sub,
          BigDecimal(sub.toDouble / n).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(g.count(_._2 == 1).toDouble / n).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    assert(report == serial)
  }

  test("bpeMerges: equals the serial replay on the sf0.001 corpus; deterministic") {
    val docs = etlmudah.Tables.documents(spark, sf0001)
    val got = TextStats.bpeMerges(docs, "text", nMerges = 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val counts = docs
      .select(explode(TextStats.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = serialBpe(counts, nMerges = 12, minPairFreq = 2L)
    assert(got == expect)
    val again = TextStats.bpeMerges(docs, "text", nMerges = 12)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == again)
  }

  test("bpeMerges: driver fast path equals the distributed loop bit for bit") {
    // the default threshold routes bench-scale vocabularies to the
    // driver loop; threshold 0 forces the distributed rounds — the two
    // must produce the identical merge table on the same corpus
    val docs = etlmudah.Tables.documents(spark, sf0001)
    def run(threshold: Long) = TextStats.bpeMerges(docs, "text",
        nMerges = 12, driverVocabThreshold = threshold)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(run(65536L) == run(0L))
  }

  test("bpeMerges: maxBatch = 0 is rejected, not an infinite round loop") {
    import spark.implicits._
    val df = Seq((1L, "ab ab ab")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      TextStats.bpeMerges(df, "text", nMerges = 2, maxBatch = 0)
    }
    assert(ex.getMessage.contains("maxBatch"), ex.getMessage)
  }

  // the planted edge-corpus tests run through BOTH loop drivers: the
  // default threshold exercises the driver fast path, threshold 0 forces
  // the distributed incremental pair-frame loop — the adversarial
  // cases (conflict fallback, tie trim, multi-accept batches) must hold
  // on the trickier distributed code too, not just the local replay
  private val bpePaths = Seq("driver" -> 65536L, "distributed" -> 0L)

  test("bpeMerges: interacting top pairs fall back to one accept; equals serial replay") {
    import spark.implicits._
    // (y,z) f=15 dominates; (x,y) f=10 SHARES y -> the batch walk must
    // stop at the conflict (accept only (y,z)) and let the next round
    // recount — a batch of both would count (x,y) against pre-merge text
    val text = (Seq.fill(10)("xyz") ++ Seq.fill(5)("yz")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    for ((label, thr) <- bpePaths) {
      val got = TextStats.bpeMerges(df, "text", nMerges = 6,
          minPairFreq = 2L, driverVocabThreshold = thr)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val counts = Map("xyz" -> 10L, "yz" -> 5L)
      assert(got == serialBpe(counts, 6, 2L), s"[$label] $got")
      assert(got.head._2 == "y" && got.head._3 == "z",
        s"[$label] ${got.head}")
    }
  }

  test("bpeMerges: equal-freq accept tied with a rejected conflicting pair is trimmed; equals serial replay") {
    import spark.implicits._
    // sorted pairs: (a,b) 6, (c,d) 5, (d,e) 5 — walk accepts (a,b),(c,d),
    // stops on (d,e) (shares d); the trim then drops (c,d) because its
    // freq TIES the rejected pair's, so serial tie-breaking stays in
    // charge of the (c,d)-vs-(d,e) order
    val text = (Seq.fill(6)("ab") ++ Seq.fill(5)("cd") ++
      Seq.fill(5)("de")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    for ((label, thr) <- bpePaths) {
      val got = TextStats.bpeMerges(df, "text", nMerges = 5,
          minPairFreq = 2L, driverVocabThreshold = thr)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val counts = Map("ab" -> 6L, "cd" -> 5L, "de" -> 5L)
      assert(got == serialBpe(counts, 5, 2L), s"[$label] $got")
    }
  }

  test("bpeMerges: a multi-accept batch equals maxBatch=1 driving and the serial replay") {
    import spark.implicits._
    // ten disjoint two-char words at strictly distinct frequencies: one
    // batched round should accept many merges at once, and the result
    // must be identical to serial driving
    val words = ('a' to 'j').zipWithIndex.map { case (c, i) =>
      Seq.fill(20 - i)(s"$c$c") }
    val df = Seq((1L, words.flatten.mkString(" "))).toDF("doc_id", "text")
    for ((label, thr) <- bpePaths) {
      def run(mb: Int) = TextStats.bpeMerges(df, "text", nMerges = 10,
          minPairFreq = 2L, maxBatch = mb, driverVocabThreshold = thr)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
      val batched = run(16)
      assert(batched == run(1), s"[$label] $batched")
      val counts = ('a' to 'j').zipWithIndex
        .map { case (c, i) => s"$c$c" -> (20 - i).toLong }.toMap
      assert(batched == serialBpe(counts, 10, 2L), s"[$label] $batched")
      assert(batched.length == 10)
    }
  }

  test("tfidfCosinePairs: identical docs hit 1.0, disjoint never pair, hot terms capped") {
    import spark.implicits._
    // 1/2 identical; 3 disjoint; 'common' appears in ALL docs of a
    // 30-doc corpus -> df > 10% cap -> it cannot create pairs on its own
    val rows = Seq(
      (1L, "alpha beta gamma delta common"),
      (2L, "alpha beta gamma delta common"),
      (3L, "zeta eta theta iota common")) ++
      (4L to 30L).map(i => (i, s"w${i}a w${i}b w${i}c common"))
    val out = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
        "text", "doc_id", minCosine = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only the identical pair at 1.0: ${out.toSeq}")
    // determinism of the float pipeline
    val again = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
        "text", "doc_id", minCosine = 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == again.toSeq)
  }

  /** Brute-force reference for [[TextStats.tfidfCosinePairs]]: the full
    * quadratic pairwise cosine over the df-capped tf-idf vectors, no
    * prefix filtering — what the pruned plan must exactly reproduce. */
  private def bruteTfidfPairs(rows: Seq[(Long, String)], minCosine: Double,
                              maxDfFrac: Double): Seq[(Long, Long)] = {
    val toks = rows.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq }
    val n = rows.map(_._1).distinct.size
    val tf = toks.flatMap { case (id, ts) => ts.map(id -> _) }
      .groupBy(identity).map { case ((id, t), g) => (id, t, g.size) }.toSeq
    val df = tf.groupBy(_._2).map { case (t, g) => t -> g.size }
    val cap = math.ceil(n * maxDfFrac)
    val byDoc = tf.filter { case (_, t, _) => df(t) <= cap }
      .map { case (id, t, f) => (id, t, f * math.log(n.toDouble / df(t))) }
      .groupBy(_._1).map { case (id, g) =>
        id -> g.map(x => x._2 -> x._3).toMap }
    val ids = byDoc.keys.toSeq.sorted
    for {
      i <- ids; j <- ids if i < j
      va = byDoc(i); vb = byDoc(j)
      na = math.sqrt(va.values.map(x => x * x).sum)
      nb = math.sqrt(vb.values.map(x => x * x).sum)
      if na > 0 && nb > 0
      dot = va.keySet.intersect(vb.keySet).toSeq.sorted
        .map(t => va(t) * vb(t)).sum
      if dot / (na * nb) >= minCosine - 1e-9
    } yield (i, j)
  }

  test("tfidfCosinePairs: prefix-filtered plan equals brute force with a planted at-the-cap hot term") {
    import spark.implicits._
    // 10 planted near-dup pairs (3 of 4 rare terms shared), then 4 docs
    // carrying 'hot' — df(hot) = 4 = ceil(40 x 0.1), EXACTLY at the cap,
    // so it survives capping; without prefix filtering it alone fans out
    // quadratically, and its pairs must still be (correctly) rejected by
    // the exact verify because 'hot' carries too little weight mass
    val rows =
      (1L to 10L).flatMap(i => Seq(
        (2 * i - 1, s"p${i}x p${i}y p${i}z q$i"),
        (2 * i, s"p${i}x p${i}y p${i}z s$i"))) ++
      (21L to 24L).map(i => (i, s"hot z${i}a z${i}b z${i}c")) ++
      (25L to 40L).map(i => (i, s"f${i}a f${i}b f${i}c f${i}d"))
    val got = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
        "text", "doc_id", minCosine = 0.5, maxDfFrac = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = bruteTfidfPairs(rows, 0.5, 0.1).toSet
    assert(got == want, s"pruned=$got brute=$want")
    // exactly the 10 planted pairs: the hot term created none
    assert(want == (1L to 10L).map(i => (2 * i - 1, 2 * i)).toSet)
  }

  test("tfidfCosinePairs: equals brute force across seeded random corpora and thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3; minCos <- Seq(0.3, 0.7)) {
      val vocab = (0 until 30).map(v => s"v$v")
      val rows = (1L to 25L).map { id =>
        val len = 3 + rnd.nextInt(6)
        (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
          "text", "doc_id", minCosine = minCos, maxDfFrac = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = bruteTfidfPairs(rows, minCos, 0.3).toSet
      assert(got == want, s"trial=$trial t=$minCos pruned=$got brute=$want")
    }
  }

  test("scale rehearsal: planted at-the-cap clique — prefix filter keeps the pair join bounded") {
    import spark.implicits._
    // 20k docs; 'glue' appears in 2000 of them — EXACTLY the 10% cap, so
    // it survives df capping. Unpruned, that one term alone generates
    // ~2M candidate pairs before any cosine can reject them; the prefix
    // filter must keep it out of nearly every doc's index (it is the
    // most-frequent surviving term, so it sorts LAST) and finish in
    // bounded time with exactly the planted near-dup pairs.
    val n = 20000L
    val rows = (1L to n).map { i =>
      val uniq = s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"
      val withGlue = if (i <= 2000) s"$uniq glue" else uniq
      // 50 planted near-dup pairs INSIDE the glue clique: doc i and
      // i+1000 share six rare pair-terms plus the glue term
      if (i <= 50) (i, s"p${i}a p${i}b p${i}c p${i}d p${i}e p${i}f glue")
      else if (i > 1000 && i <= 1050)
        (i, s"p${i - 1000}a p${i - 1000}b p${i - 1000}c p${i - 1000}d p${i - 1000}e p${i - 1000}f glue")
      else (i, withGlue)
    }
    val t0 = System.nanoTime()
    val got = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
        "text", "doc_id", minCosine = 0.8, maxDfFrac = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.toSet == (1L to 50L).map(i => (i, i + 1000)).toSet,
      s"got ${got.length} pairs")
    // generous bound: the unpruned formulation's 2M-pair explosion blows
    // far past this even on this corpus
    assert(secs < 120.0, f"took $secs%.1f s")
  }

  test("bpeMerges: batching cuts driver job rounds vs maxBatch=1 (same merges)") {
    import spark.implicits._
    // ten disjoint high-freq pairs learned in ONE batched round need far
    // fewer Spark jobs than ten serial rounds — the observable form of
    // the 'driver rounds drop ~maxBatch-fold' claim
    val words = ('a' to 'j').zipWithIndex.map { case (c, i) =>
      Seq.fill(30 - i)(s"$c$c") }
    val df = Seq((1L, words.flatten.mkString(" "))).toDF("doc_id", "text")
    // threshold 0 forces the distributed loop — this test is about
    // THAT loop's batching; small vocabs normally drive locally
    def countJobs(mb: Int): (Int, Seq[(Int, String)]) = countingJobs(
      TextStats.bpeMerges(df, "text", nMerges = 10,
          minPairFreq = 2L, maxBatch = mb, driverVocabThreshold = 0L)
        .collect().map(r => (r.getInt(0), r.getString(3))).toSeq)
    val (serialJobs, serialOut) = countJobs(1)
    val (batchedJobs, batchedOut) = countJobs(16)
    assert(batchedOut == serialOut)
    assert(batchedJobs * 2 < serialJobs,
      s"batched=$batchedJobs serial=$serialJobs")
  }

  test("tfidfCosinePairs: small-corpus cliff — n <= 1/maxDfFrac is always empty, larger maxDfFrac restores pairs") {
    import spark.implicits._
    // 6 docs, two identical: at maxDfFrac = 0.1 the cap is ceil(0.6) = 1
    // and two docs can never share a df = 1 term -> empty BY DESIGN
    val rows = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta"), (4L, "eta theta iota"),
      (5L, "kappa lambda mu"), (6L, "nu xi omicron"))
    val cliff = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
      "text", "doc_id", minCosine = 0.5, maxDfFrac = 0.1).collect()
    assert(cliff.isEmpty, s"expected the documented cliff: ${cliff.toSeq}")
    // the documented remedy: a cap admitting df = 2 pairs them at 1.0
    val wide = TextStats.tfidfCosinePairs(rows.toDF("doc_id", "text"),
        "text", "doc_id", minCosine = 0.5, maxDfFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(wide.toSeq == Seq((1L, 2L, 1.0)), wide.toSeq.toString)
  }

  test("rankProfileClassify: separable classes classify perfectly; out-of-profile distance is topV-capped") {
    import spark.implicits._
    // two char-distributionally disjoint 'languages'
    val aText = "alpha apple amber arbor angle ankle"
    val zText = "zigzag fuzzy buzzer puzzle dizzy muzzle"
    val docs = Seq(
      (1L, "A", aText), (2L, "A", aText + " apple amber"),
      (3L, "A", "arbor angle apple alpha"),
      (4L, "Z", zText), (5L, "Z", zText + " fuzzy dizzy"),
      (6L, "Z", "puzzle buzzer zigzag fuzzy"))
      .toDF("doc_id", "lang", "text")
    val topV = 10
    val out = TextStats.rankProfileClassify(docs, "text", "doc_id", "lang",
        topV = topV)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out.length == 6)
    out.foreach { case (id, actual, pred, _) =>
      assert(actual == pred, s"doc $id: $actual classified $pred") }
    // the out-of-place distance is bounded by its algebraic maximum:
    // topV profiled grams, each costing at most the topV penalty
    out.foreach { case (id, _, _, d) =>
      assert(d >= 0L && d <= topV.toLong * topV, s"doc $id distance $d") }
    // a class whose text is disjoint from every other profile
    // self-classifies with distance < the all-absent floor of others
    val probe = docs.union(
      Seq((7L, "Q", "kkk www kkk www kkk www")).toDF("doc_id", "lang", "text"))
    val q = TextStats.rankProfileClassify(probe, "text", "doc_id", "lang",
        topV = topV)
      .filter(col("id") === 7L).collect().head
    assert(q.getString(2) == "Q" && q.getLong(3) == 0L, q.toString)
    // determinism
    val again = TextStats.rankProfileClassify(docs, "text", "doc_id", "lang",
        topV = topV)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("charNgramCounts: native single pass equals explode+substr+count, incl. astral code points") {
    import spark.implicits._
    val rows = Seq(
      (1L, "hello world"),
      (2L, "ab"),                 // shorter than n -> no grams
      (3L, "ααβγ😀😀x"), // multi-byte + astral
      (4L, "aaaa"),               // overlapping repeats
      (5L, ""))
    val df = rows.toDF("id", "t")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(col("id"), col("g")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val native = canon(df.select(col("id"),
        explode(call_function("graft_char_ngram_counts", col("t"), lit(3)))
          .as("gc"))
      .select(col("id"), col("gc.g").as("g"), col("gc.c").as("c")))
    val composed = canon(df
      .filter(length(col("t")) >= 3)
      .select(col("id"),
        explode(sequence(lit(1), length(col("t")) - 2)).as("i"), col("t"))
      .select(col("id"), col("t").substr(col("i"), lit(3)).as("g"))
      .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c")))
    assert(native == composed, s"native=$native composed=$composed")
    assert(native.exists(_._1 == 3L), "astral-plane row must produce grams")
    assert(!native.exists(r => r._1 == 2L || r._1 == 5L),
      "sub-n rows must vanish")
  }

  test("blocklistScan: word boundaries, case folding, regex-metachar terms, verdict text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the Spark engine is SPARK fast"),     // 2 case-folded hits
      (2L, "classify en masse"),                   // substring must NOT fire "ass"
      (3L, "a+b is a+b"),                          // metachar term, escaped
      (4L, "slow spark slow"),                     // multi-term verdict sorts
      (5L, "clean text here"))
      .toDF("doc_id", "text")
    val out = TextStats.blocklistScan(docs, "text", "doc_id",
        Seq("spark", "ass", "a+b", "slow"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(out(1L) == ((2L, "spark")))
    assert(out(2L) == ((0L, "")), "no word-boundary hit inside 'classify'/'masse'")
    assert(out(3L) == ((2L, "a+b")), "metachars must be literal, not regex")
    assert(out(4L) == ((3L, "slow,spark")), "verdict sorted + distinct")
    assert(out(5L) == ((0L, "")))
  }

  test("blocklistScanLarge == regex tier on seeded random corpora incl. non-ASCII seams") {
    import spark.implicits._
    val terms = Seq("spark", "slow", "risk", "a1_b")
    val words = Seq("spark", "Slow", "fast", "risk", "risky", "a1_b",
      "data", "x9", "_lead", "SPARK")
    // separators include a non-ASCII letter: Java/RE2 \w is ASCII-only,
    // so 'é' splits word runs — the seam where a naive tokenizer and
    // the regex tier could disagree
    val seps = Seq(" ", "  ", "-", ", ", "é", ".")
    val rnd = new scala.util.Random(4242)
    val docs = (0L until 300L).map { i =>
      val n = 1 + rnd.nextInt(30)
      val sb = new StringBuilder
      (0 until n).foreach { _ =>
        sb.append(words(rnd.nextInt(words.length)))
        sb.append(seps(rnd.nextInt(seps.length)))
      }
      (i, sb.toString)
    }.toDF("doc_id", "text")
    val fast = TextStats.blocklistScanLarge(docs, "text", "doc_id", terms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val regex = TextStats.blocklistScan(docs, "text", "doc_id", terms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(fast.size == 300 && regex.size == 300)
    fast.keys.foreach { id =>
      assert(fast(id) == regex(id), s"doc $id: large=${fast(id)} regex=${regex(id)}") }
    // phrases / metachars are explicitly refused, not silently wrong
    intercept[IllegalArgumentException] {
      TextStats.blocklistScanLarge(docs, "text", "doc_id", Seq("two words"))
    }
    intercept[IllegalArgumentException] {
      TextStats.blocklistScanLarge(docs, "text", "doc_id", Seq("a+b"))
    }
  }

  test("trainHashedLogReg: matches a serial local replay bit-for-bit; learns separation; deterministic") {
    import spark.implicits._
    val docs = Seq(
      (1L, 1, "good clean prose here good"),
      (2L, 1, "good text good prose clean"),
      (3L, 1, "clean good words prose"),
      (4L, 0, "junk garbage noise junk junk"),
      (5L, 0, "noise garbage junk noise"),
      (6L, 0, "garbage noise junk words"))
      .toDF("doc_id", "y", "text")
    val buckets = 8; val steps = 3; val lr = 1.0
    val got = TextStats.trainHashedLogReg(docs, "text", "doc_id", "y",
        buckets, steps, lr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // serial replay of the EXACT arithmetic on the driver
    def bucketOf(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % buckets
    }
    val rows = Seq(
      (1L, 1, "good clean prose here good"),
      (2L, 1, "good text good prose clean"),
      (3L, 1, "clean good words prose"),
      (4L, 0, "junk garbage noise junk junk"),
      (5L, 0, "noise garbage junk noise"),
      (6L, 0, "garbage noise junk words"))
    val x: Map[(Long, Long), Long] = rows.flatMap { case (id, _, t) =>
      t.trim.split("\\s+").toSeq.map(tok => (id, bucketOf(tok)))
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val yOf = rows.map(r => r._1 -> r._2).toMap
    val n = rows.size.toDouble
    var w6 = Array.fill[Long](buckets)(0L)
    for (_ <- 1 to steps) {
      val g6 = Array.fill[Long](buckets)(0L)
      rows.foreach { case (id, y, _) =>
        val z6 = (0 until buckets).map(b =>
          x.getOrElse((id, b.toLong), 0L) * w6(b)).sum
        val p = 1.0 / (1.0 + math.exp(-(z6.toDouble / 1000000.0)))
        (0 until buckets).foreach { b =>
          val xv = x.getOrElse((id, b.toLong), 0L)
          if (xv != 0L)
            g6(b) += java.math.BigDecimal.valueOf((p - y) * xv * 1000000.0)
              .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
        }
      }
      w6 = Array.tabulate(buckets) { b =>
        val v = (w6(b).toDouble / 1000000.0 -
          lr * ((g6(b).toDouble / 1000000.0) / n)) * 1000000.0
        java.math.BigDecimal.valueOf(v)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      }
    }
    (0 until buckets).foreach { b =>
      assert(got(b.toLong) == w6(b), s"bucket $b: spark=${got(b.toLong)} local=${w6(b)}") }

    // the trained model separates the classes
    val w = TextStats.trainHashedLogReg(docs, "text", "doc_id", "y",
      buckets, steps, lr)
    val scored = TextStats.scoreWithWeights(docs, "text", "doc_id", w, buckets)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val good = Seq(1L, 2L, 3L).map(scored)
    val bad = Seq(4L, 5L, 6L).map(scored)
    assert(good.min > bad.max,
      s"no separation learned: good=$good bad=$bad")
    // determinism across runs
    val again = TextStats.trainHashedLogReg(docs, "text", "doc_id", "y",
        buckets, steps, lr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == again)

    // the loss curve strictly falls on this separable corpus, starting
    // from the exact w=0 loss n·ln 2 (p = 0.5 for every doc)
    val curve = TextStats.trainHashedLogRegLoss(docs, "text", "doc_id", "y",
        buckets, steps, lr)
      .orderBy(col("step")).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(curve.map(_._1).toSeq == Seq(1, 2, 3, 4))
    val ln2PerDoc = java.math.BigDecimal.valueOf(math.log(2.0) * 1000000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    assert(curve.head._2 == 6L * ln2PerDoc, s"step-1 loss ${curve.head._2}")
    curve.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b < a, s"loss must fall: $a -> $b") }
  }

  test("rankEnsemble: per-source percentile ranks, id tie-break, single-row source ranks zero, ensemble is the exact mean") {
    import spark.implicits._
    val df = Seq(
      // source A: c1 ascending 10/20/30, c2 order 2,3,1
      (1L, "A", 10L, 30L), (2L, "A", 20L, 10L), (3L, "A", 30L, 20L),
      // source B: one row -> both ranks 0
      (4L, "B", 99L, 99L),
      // source C: tied c1 -> id decides; c2 untied
      (5L, "C", 7L, 1L), (6L, "C", 7L, 2L)
    ).toDF("doc_id", "src", "c1", "c2")
    val out = TextStats.rankEnsemble(df, "doc_id", "src", Seq("c1", "c2"))
      .collect().map(r => (r.getLong(0),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    val expect = Seq(
      (1L, 0.0, 1.0, 0.5),
      (2L, 0.5, 0.0, 0.25),
      (3L, 1.0, 0.5, 0.75),
      (4L, 0.0, 0.0, 0.0),
      (5L, 0.0, 0.0, 0.0),   // tie on c1 -> lower id ranks first
      (6L, 1.0, 1.0, 1.0))
    assert(out == expect, s"got $out")
  }

  test("mojibakeScan: counts lead-char artifacts per slice; clean docs score zero") {
    import spark.implicits._
    val df = Seq(
      (1L, "clean text here", "a"),
      (2L, "caf\u00C3\u00A9 and \u00E2\u20AC\u0153quote", "a"), // 2 hits
      (3L, "nb\u00C2 space \u00C2 again", "b"),                    // 2 hits
      (4L, "also clean", "b"),
      (5L, "\u00C3\u00A9\u00C3\u00A9\u00C3\u00A9", "b")        // 3 hits
    ).toDF("doc_id", "text", "source")
    val out = TextStats.mojibakeScan(df, "text", "doc_id", "source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      ("a", 2L, 1L, 2L, 0.5),
      ("b", 3L, 2L, 5L, 0.666667)), out.toSeq.toString)
  }

  test("rankEnsemble: lopsided-source rehearsal — one source holding ~90% of rows still ranks exactly") {
    import spark.implicits._
    // 900 rows in source BIG, 100 spread over 10 small sources; scores
    // are a shuffled deterministic permutation so ranks are non-trivial
    val rows = (0L until 1000L).map { i =>
      val src = if (i < 900) "BIG" else s"s${i % 10}"
      (i, src, (i * 7919) % 1000)  // permutation of 0..999 scaled
    }
    val df = rows.toDF("doc_id", "src", "score")
    val out = TextStats.rankEnsemble(df, "doc_id", "src", Seq("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // within BIG: rank must equal the exact percentile of its score
    val big = rows.filter(_._2 == "BIG")
    val order = big.sortBy(t => (t._3, t._1)).map(_._1).zipWithIndex.toMap
    val n = big.length - 1
    out.filter(_._2 == "BIG").foreach { case (id, _, r) =>
      val expect = math.floor(order(id).toDouble * 1000000 / n + 0.5) / 1e6
      assert(math.abs(r - expect) < 1e-9, s"id=$id r=$r expect=$expect")
    }
    // every rank is in [0,1]; small sources rank within themselves only
    assert(out.forall(t => t._3 >= 0.0 && t._3 <= 1.0))
  }

  test("readability: hand-counted Flesch components; headline floors sentences at 1") {
    import spark.implicits._
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),   // 6 words, 2 sentences, 6 syll
      (2L, "Breaking news headline")       // 3 words, 0 terminators -> 1
    ).toDF("doc_id", "text")
    val out = TextStats.readability(df, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val (_, w1, s1, y1, f1) = out(0)
    assert((w1, s1, y1) == (6L, 2L, 6L), out(0).toString)
    assert(math.abs(f1 - (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-9)
    val (_, w2, s2, y2, _) = out(1)
    // vowel GROUPS: breaking -> ea,i (2); news -> e (1);
    // headline -> ea,i,e (3) = 6 total
    assert((w2, s2, y2) == (3L, 1L, 6L), out(1).toString)
  }

  test("textRankKeywords matches a serial integer replay; self-adjacency dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark joins spark joins fast fast shuffle"),
      (2L, "joins shuffle joins spark"),
      (3L, "solo")).toDF("doc_id", "text")
    // serial replay of the documented recurrence over md5-60bit ids
    def h(w: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(15), 16)
    val pair = scala.collection.mutable.Map.empty[(String, String), Long]
    Seq("spark joins spark joins fast fast shuffle",
        "joins shuffle joins spark", "solo").foreach { t =>
      t.split("\\s+").sliding(2).foreach {
        case Array(a, b) if a != b =>
          val k = (Seq(a, b).min, Seq(a, b).max)
          pair(k) = pair.getOrElse(k, 0L) + 1L
        case _ => ()
      }
    }
    val edges = pair.toSeq.flatMap { case ((a, b), c) =>
      Seq((h(a), h(b), c), (h(b), h(a), c)) }
    val SCALE = 1000000000000L
    val ns = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = ns.size.toLong
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = ns.map(_ -> SCALE / n).toMap
    (0 until 3).foreach { _ =>
      val c = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => (r(s) * w) / outw(s) }.sum }
      r = ns.map(v => v -> ((15L * SCALE) / (100L * n) +
        (85L * c.getOrElse(v, 0L)) / 100L)).toMap
    }
    val wmap = Seq("spark", "joins", "fast", "shuffle").map(w => h(w) -> w).toMap
    val expected = r.toSeq.map { case (nd, rk) => (wmap(nd), rk) }
      .sortBy { case (w, rk) => (-rk, w) }
    val got = TextStats.textRankKeywords(docs, "text", "doc_id", iters = 3,
        topK = 10)
      .collect().map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(got == expected, s"got $got expected $expected")
    // "solo" has no adjacency: it must not appear as a node at all,
    // and the repeated "fast fast" self-pair must not self-loop
    assert(!got.exists(_._1 == "solo"))
    assert(got.map(_._1).toSet == Set("spark", "joins", "fast", "shuffle"))
  }

  test("textRankKeywords: empty corpus and single-token docs yield no keywords") {
    import spark.implicits._
    val empty = TextStats.textRankKeywords(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id")
    assert(empty.count() == 0)
    val singles = TextStats.textRankKeywords(
      Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text"), "text", "doc_id")
    assert(singles.count() == 0)
  }

  test("bm25Search: closed-form scores, query-doc exclusion, tie order") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark joins fast"),            // the query source
      (1L, "spark spark slow"),            // tf(spark)=2, dl=3
      (2L, "joins joins"),                 // tf(joins)=2, dl=2
      (3L, "nothing relevant here at all") // no hits, dl=5
    ).toDF("doc_id", "text")
    val q = Seq("spark", "joins", "fast")
    val r = TextStats.bm25Search(docs, "text", "doc_id", q, k = 10,
      excludeId = Some(0L)).collect()
    // hand replay: N=4, avgdl=13/4; idf(t)=ln(1+(4-df+.5)/(df+.5))
    val avgdl = 13.0 / 4
    def score(tf: Long, df: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (4 - df + 0.5) / (df + 0.5))
      val tfn = (tf * (1.2 + 1.0)) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      BigDecimal(idf * tfn)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byId = r.map(x => x.getLong(0) ->
      ((x.getAs[Long]("terms_hit"), x.getAs[Double]("score")))).toMap
    assert(!byId.contains(0L) && !byId.contains(3L))
    assert(byId(1L) == ((1L, score(2, 2, 3))))
    assert(byId(2L) == ((1L, score(2, 2, 2))))
    // the shorter doc's length normalization must outrank doc 1
    assert(r.head.getLong(0) == 2L)
  }

  test("chiSquareTerms: 2x2 closed form, per-doc presence, minDf prune") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "apple banana apple"),   // repeat must not double-count
      (2L, "en", "apple"),
      (3L, "de", "banana kiwi")
    ).toDF("doc_id", "lang", "text")
    val r = TextStats.chiSquareTerms(docs, "text", "doc_id",
      col("lang") === "en", minDf = 1L, k = 10)
      .collect()
      .map(x => x.getString(0) ->
        (x.getAs[Long]("df_term"), x.getAs[Long]("df_pos"),
          x.getAs[Double]("chi2"))).toMap
    // N=3, n_pos=2. apple: a=2 b=0 c=0 d=1 -> 3*(2*1)^2/(2*1*2*1)=3.0
    assert(r("apple") == ((2L, 2L, 3.0)))
    // kiwi: a=0 b=1 c=2 d=0 -> 3*(0-2)^2/(1*2*2*1) = 3.0
    assert(r("kiwi") == ((1L, 0L, 3.0)))
    // banana: a=1 b=1 c=1 d=0 -> 3*(0-1)^2/(2*1*2*1) = 0.75
    assert(r("banana") == ((2L, 1L, 0.75)))
    // minDf=2 prunes the df=1 term
    val pruned = TextStats.chiSquareTerms(docs, "text", "doc_id",
      col("lang") === "en", minDf = 2L, k = 10)
      .collect().map(_.getString(0)).toSet
    assert(pruned == Set("apple", "banana"))
  }

  test("chiSquareTerms: degenerate single-class corpus yields null chi2") {
    import spark.implicits._
    val docs = Seq((1L, "en", "apple"), (2L, "en", "banana"))
      .toDF("doc_id", "lang", "text")
    val r = TextStats.chiSquareTerms(docs, "text", "doc_id",
      col("lang") === "en", minDf = 1L, k = 10).collect()
    assert(r.nonEmpty && r.forall(_.isNullAt(3)))
  }

  test("graft_nfc: composes sequences and singletons; idempotent; null-safe") {
    import spark.implicits._
    val decomposedE = "café"          // e + COMBINING ACUTE
    val angstrom = "Å"                 // compatibility singleton
    val df = Seq(decomposedE + " " + angstrom).toDF("t")
      .select(call_function("graft_nfc", col("t")).as("n"))
    val got = df.collect().head.getString(0)
    assert(got == "café Å")
    // idempotent: a second pass is the identity
    val twice = Seq(got).toDF("t")
      .select(call_function("graft_nfc", col("t"))).collect().head.getString(0)
    assert(twice == got)
    val nul = Seq[Option[String]](None).toDF("t")
      .select(call_function("graft_nfc", col("t"))).collect().head
    assert(nul.isNullAt(0))
  }

  test("graft_fold_accents: composed and decomposed fold to the same key; non-mark letters pass; null-safe") {
    import spark.implicits._
    def fold(s: String): String =
      Seq(s).toDF("t")
        .select(call_function("graft_fold_accents", col("t")))
        .collect().head.getString(0)
    assert(fold("café") == "cafe")            // composed
    assert(fold("café") == "cafe")           // decomposed
    assert(fold("Ångström") == "Angstrom")
    // NOT transliteration: no combining-mark decomposition -> pass
    assert(fold("œuvre straße") == "œuvre straße")
    assert(fold("plain ascii") == "plain ascii")
    val nul = Seq[Option[String]](None).toDF("t")
      .select(call_function("graft_fold_accents", col("t"))).collect().head
    assert(nul.isNullAt(0))
  }

  test("nfcAudit: per-slice change counts and codepoint deltas") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "plain ascii"),                 // unchanged
      ("s1", "broken café"),           // 12 chars -> 11 composed
      ("s2", "Å lab")                   // 5 chars -> 5 (singleton swap)
    ).toDF("source", "text")
    val r = TextStats.nfcAudit(docs, "text", "source").collect()
      .map(x => (x.getString(0), x.getAs[Long]("n_docs"),
        x.getAs[Long]("n_changed"), x.getAs[Long]("chars_raw"),
        x.getAs[Long]("chars_nfc"))).toSeq
    assert(r == Seq(("s1", 2L, 1L, 23L, 22L), ("s2", 1L, 1L, 5L, 5L)))
  }

  test("scriptProfile: block counts, dominance, latin tie priority, none class") {
    import spark.implicits._
    val df = Seq(
      ("s1", "hello world"),            // latin 10
      ("s1", "привет мир"),             // cyrillic 9
      ("s1", "你好世界"),                // cjk 4
      ("s1", "abc жжж"),                // tie 3-3 -> latin priority
      ("s1", "123 !?"),                 // none
      ("s2", "mixed текст 好")          // latin 5, cyr 5, cjk 1 -> latin
    ).toDF("source", "text")
    val got = TextStats.scriptProfile(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(("s1", "latin")) == ((2L, 13L, 3L, 0L)))
    assert(got(("s1", "cyrillic")) == ((1L, 0L, 9L, 0L)))
    assert(got(("s1", "cjk")) == ((1L, 0L, 0L, 4L)))
    assert(got(("s1", "none")) == ((1L, 0L, 0L, 0L)))
    assert(got(("s2", "latin")) == ((1L, 5L, 5L, 1L)))
    assert(got.size == 5)
  }
}
