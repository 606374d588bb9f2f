package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: Map literals silently drop
  * duplicate keys, so a copy-pasted query id would erase an existing
  * entry without any compile error. */
class ContractSpec extends AnyFunSuite {

  test("every oracle has a query; ids are well-formed and collision-free") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${o -- q}")
    assert(q.forall(_.matches("^q\\d+_[a-z0-9_]+$")), q.filterNot(_.matches("^q\\d+_[a-z0-9_]+$")))
    val nums = q.toSeq.map(_.takeWhile(_ != '_'))
    assert(nums.distinct.size == q.size, "duplicate q-number prefixes (a Map key collision ate one)")
  }

  /** Pins the registry's surface byte for byte: a refactor that moves
    * queries or oracles between files must leave both digests unchanged;
    * adding, renaming or editing a query or an oracle updates them. */
  test("registry digest: queries key set and (key, oracleSql) pairs") {
    def sha256(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val keys = sha256(SparkEntry.queries.keys.toSeq.sorted.mkString("\u0000"))
    val pairs = sha256(SparkEntry.oracleSql.toSeq.sorted
      .map { case (k, v) => s"$k\u0000$v" }.mkString("\u0000"))
    assert(keys ==
      "bf8c9d3a76b19532c8e7e77215d8772399a0b303d342d6352bed2069d6be0b7d",
      s"queries key set digest: $keys")
    assert(pairs ==
      "9ff35b643b7a0a57353a7f56da78f2441069d0b83b892bf90919b0f037a45dd7",
      s"oracleSql pairs digest: $pairs")
  }

  test("PlanDump resolves short ids; missing and ambiguous names fail together") {
    val keys = Set("q1_a", "q1_b", "q2_c", "q3_d")
    assert(PlanDump.resolve(keys, Seq("q2", "q1_b", "q3")) == Right(Seq("q2_c", "q1_b", "q3_d")))
    assert(PlanDump.resolve(keys, Seq("q1", "q9", "q2")) ==
      Left("q1: ambiguous (q1_a, q1_b); q9: not in SparkEntry.queries"))
    assert(PlanDump.resolve(SparkEntry.queries.keySet, Seq("q18")).exists(_.head.startsWith("q18_")))
  }

  test("Verify: a throwing builder is named with its exception class; the rest still write") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    val spark = SparkTestSession.spark
    val out = java.nio.file.Files.createTempDirectory("verify_spec").toString
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "q1_ok" -> ((s, _) => s.range(3).toDF()),
      "q2_boom" -> ((_, _) => throw new IllegalStateException("boom")))
    val failed = Verify.writeResults(spark, "unused", out, queries)
    assert(failed == Seq("q2_boom" -> "java.lang.IllegalStateException"))
    assert(spark.read.parquet(s"$out/q1_ok").count() == 3)
    assert(!new java.io.File(s"$out/q2_boom").exists())
    assert(Verify.failuresLine(failed) == """{"metric":"failures",""" +
      """"queries":{"q2_boom":"java.lang.IllegalStateException"}}""")
    assert(Verify.failuresLine(Nil) == """{"metric":"failures","queries":{}}""")
  }

  test("GraftExtensions: every native function resolves and evaluates in SQL") {
    val spark = SparkTestSession.spark
    val probes = Seq(
      "SELECT graft_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F))",
      "SELECT graft_jaro_winkler('martha', 'marhta')",
      "SELECT graft_bmp_stats(CAST(NULL AS BINARY))",
      "SELECT graft_bmp_stats(graft_fake_bmp24(1L, 2L, 2L)).n_px",
      "SELECT graft_bmp_ahash(graft_fake_bmp24(1L, 2L, 2L)).h0",
      "SELECT graft_bpe_fold(array('a','b','c'), array('a'), array('b'))",
      "SELECT graft_wav_stats(graft_fake_wav16(1L, 1L, 8000L, 4L)).rms",
      "SELECT graft_bloom_agg(CAST(id AS BIGINT)) FROM range(10)",
      "SELECT graft_cms(CAST(id AS STRING), 4, 16) FROM range(10)",
      "SELECT graft_viterbi('abx', array('ab'), array(10L))",
      "SELECT graft_gram(array(CAST(id AS DOUBLE), 1.0D), 2, 1024) " +
        "FROM range(10)",
      "SELECT graft_nfc('cafe\u0301')",
      "SELECT graft_fold_accents('caf\u00e9')",
      "SELECT graft_topk(CAST(id AS DOUBLE), CAST(id AS STRING), 3) " +
        "FROM range(10)",
      "SELECT graft_bmp_stats(graft_bmp_resize(" +
        "graft_fake_bmp24(1L, 4L, 4L), 2)).n_px",
      "SELECT graft_wav_features(" +
        "graft_fake_wav16(1L, 1L, 8000L, 4L), 8000).n_zero_cross")
    probes.foreach { p =>
      val rows = spark.sql(p).collect()
      assert(rows.nonEmpty, p)
    }
  }

  test("oracle SQL strings are non-empty and reference a harness table") {
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // pure-computation oracles by DESIGN touch no table (q146-style
    // driver-side results checked against literal SQL arithmetic) —
    // each exemption must be deliberate, so the list is explicit
    val tableFree = Set("q214_banding_design")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, name)
      assert(tableFree(name) || tables.exists(sql.contains),
        s"$name references no harness table")
    }
  }
}
