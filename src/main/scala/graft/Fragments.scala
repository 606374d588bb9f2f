package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import etlmudah.Tables
import etlmudah.multimodal.Multimodal

/** The registry's shared building blocks, each defined once: DuckDB
  * oracle fragments (CTE chains, expressions and whole oracles that
  * several queries replay) and, where a synthetic fixture exists in
  * both engines, its Spark `Column` next to its DuckDB SQL, so a change
  * to one shows the other.
  *
  * Naming: `fooCtes` is a comma-joined CTE list without `WITH` and
  * without a trailing comma (callers write `WITH $fooCtes,`); `fooSql`
  * is a whole oracle; `fooExpr` is a SQL expression. A fragment takes a
  * parameter only where its call sites pass different values. Every
  * oracle that interpolates one of these must stay byte-identical to
  * what it spelled out before — ContractSpec's `(key, oracleSql)`
  * digest pins that. */
private[graft] object Fragments {

  // ---- word tokens, 3-gram shingles and near-dup clusters ------------------

  /** `tokarr(doc_id, arr)`: whitespace tokens per doc; `tok(doc_id, t,
    * pos)`: one row per token with its 1-based position. */
  val tokPosCtes: String =
    """tokarr AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(arr) AS t, generate_subscripts(arr, 1) AS pos
      |  FROM tokarr)""".stripMargin

  /** q63's shingle set `sh(doc_id, g)`: distinct word 3-grams per doc,
    * plus the whole token string for docs shorter than 3 tokens. */
  val shingleCtes: String =
    s"""$tokPosCtes,
       |grams AS (
       |  SELECT DISTINCT a.doc_id, a.t || ' ' || b.t || ' ' || c.t AS g
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |short AS (
       |  SELECT doc_id, array_to_string(arr, ' ') AS g
       |  FROM tokarr WHERE len(arr) < 3),
       |sh AS (SELECT * FROM grams UNION SELECT * FROM short)""".stripMargin

  /** [[shingleCtes]] plus the inverted-index self-join: `sizes(doc_id,
    * n)` and the shared-shingle count `inter(id_a, id_b, i)` of every
    * pair with id_a < id_b. */
  val shingleOverlapCtes: String =
    s"""$shingleCtes,
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Connected components of an undirected pair set `pairs(id_a,
    * id_b)`: symmetrized `edges`, recursive reachability, and `cc(doc_id,
    * cluster_id)` labelled by the least reachable id. Needs `WITH
    * RECURSIVE`. */
  val reachCcCtes: String =
    """edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach AS (
      |  SELECT id AS n, id AS r FROM nodes
      |  UNION
      |  SELECT reach.n, e.dst FROM reach JOIN edges e ON e.src = reach.r),
      |cc AS (SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n)""".stripMargin

  /** q64's near-dup clusters: exact 3-gram Jaccard >= 0.8 pairs, then
    * [[reachCcCtes]]. Needs `WITH RECURSIVE`. */
  val nearDupCcCtes: String =
    s"""$shingleOverlapCtes,
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |             JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8),
       |$reachCcCtes""".stripMargin

  /** q63's exact 3-gram Jaccard pairs (>= 0.8): distinct word trigrams
    * per doc (docs shorter than 3 tokens contribute their whole token
    * string), inverted-index self-join as both candidate generation and
    * intersection count. q108's PPJoin tier returns the identical pair
    * set (prefix filtering is lossless by the prefix lemma). */
  val jaccardPairsSql: String =
    s"""WITH $shingleOverlapCtes
       |SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |           JOIN sizes sb ON sb.doc_id = id_b
       |WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  // ---- portable minhash and winnowing --------------------------------------

  /** The k md5-60bit min-hashes of `sh`: four 32-bit hex lanes per
    * md5, hash i = seed i/4, lane i%4 (hex chars 1-8 / 9-16 / 17-24 /
    * 25-32); the min runs on the fixed-width hex substring
    * (lexicographic == numeric) — mirrors Dedup.minhashPortablePairs
    * exactly. */
  private def minhashSigCtes(k: Int): String = {
    val mins = (0 until k).map(i =>
      s"min(substr(md5('${i / 4}:' || g), ${1 + 8 * (i % 4)}, 8)) AS m$i")
      .mkString(", ")
    s"""$shingleCtes,
       |sig AS (SELECT doc_id, $mins, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** Band agreement of signatures `a` and `b`: an OR over `bands` bands
    * of the AND of their k/bands per-row min equalities. */
  private def bandPredSql(k: Int, bands: Int): String = {
    val rpb = k / bands
    (0 until bands).map { b =>
      (0 until rpb).map(j => s"a.m${rpb * b + j} = b.m${rpb * b + j}")
        .mkString("(", " AND ", ")")
    }.mkString(" OR ")
  }

  /** Parametric DuckDB twin of `Dedup.minhashPortablePairs`: the q63
    * shingles, k md5-60bit min-hashes, `bands` bands of k/bands rows
    * (band agreement as an OR of per-band min-pair equalities), and the
    * same candidate-restricted exact-Jaccard refine at `minJ` — so the
    * probabilistic candidate set itself hash-matches. q130 keeps the
    * hand-auditable small sketch; q152 runs q25's production parameters
    * (k=128, b=32) so the flagship banded tier itself carries an oracle
    * row. */
  def minhashPortableSql(k: Int, bands: Int, minJ: Double): String =
    s"""WITH ${minhashSigCtes(k)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (${bandPredSql(k, bands)})),
       |inter AS (
       |  SELECT id_a, id_b, count(*) AS i
       |  FROM cand JOIN sh sa ON sa.doc_id = id_a
       |            JOIN sh sb ON sb.doc_id = id_b AND sb.g = sa.g
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       | round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sig sa ON sa.doc_id = id_a
       |           JOIN sig sb ON sb.doc_id = id_b
       |WHERE i::DOUBLE / (sa.n + sb.n - i) >= $minJ
       |ORDER BY id_a, id_b""".stripMargin

  /** Twin of `Dedup.bandingDesignTable`: one UNION ALL row per
    * (bands, j) with j^r and (1-j^r)^b written as EXPLICIT multiply
    * chains (left-associative, ::DOUBLE literals so DuckDB never
    * parses them as DECIMAL) — the same IEEE operation sequence the
    * engine's fold performs, so every double is bit-identical; 6dp via
    * floor(x*1e6 + 0.5), never an engine round(). */
  def bandingDesignSql(k: Int, jGrid: Seq[Double]): String = {
    val rows = for {
      b <- 1 to k if k % b == 0
      r = k / b
      j <- jGrid
    } yield {
      val jl = s"$j::DOUBLE"
      val jr = Seq.fill(r)(jl).mkString(" * ")
      val miss = Seq.fill(b)(s"(1 - $jr)").mkString(" * ")
      s"SELECT $k::BIGINT AS k, $b::BIGINT AS bands, " +
        s"$r::BIGINT AS rows_per_band, " +
        s"floor($jl * 1000000 + 0.5) / 1000000.0 AS jaccard, " +
        s"floor((1 - $miss) * 1000000 + 0.5) / 1000000.0 AS p_catch"
    }
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY bands, jaccard")
  }

  /** Recall-curve twin of [[minhashPortableSql]] — replicates
    * `Dedup.bandedRecallReport`: the SAME shingle/signature CTEs serve
    * both the exact-Jaccard ground truth (inverted-index self-join at
    * `gate`) and the banded candidate set (seeded-md5 lane mins, band
    * equality), then true pairs group by jaccard decile with a
    * found-by-banding left join. */
  def bandedRecallSql(k: Int, bands: Int, gate: Double): String =
    s"""WITH ${minhashSigCtes(k)},
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exj AS (
       |  SELECT id_a, id_b, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
       |  FROM inter JOIN sig sa ON sa.doc_id = id_a
       |             JOIN sig sb ON sb.doc_id = id_b
       |  WHERE i::DOUBLE / (sa.n + sb.n - i) >= $gate),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (${bandPredSql(k, bands)}))
       |SELECT floor(jaccard * 10)::BIGINT AS jac_decile,
       |  count(*) AS n_true,
       |  sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
       |    AS n_found,
       |  round(sum(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
       |    / count(*), 6) AS recall
       |FROM exj LEFT JOIN cand c ON c.id_a = exj.id_a AND c.id_b = exj.id_b
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cross-corpus (even-id train vs odd-id ref) variant of
    * [[minhashPortableSql]] — replicates
    * `Dedup.minhashPortableCrossPairs` verbatim: same seeded-md5 lane
    * mins, band equality BETWEEN the two corpora's signatures instead
    * of a self-join, exact-Jaccard refine over the candidate set. */
  def minhashPortableCrossSql(k: Int, bands: Int, minJ: Double): String =
    s"""WITH ${minhashSigCtes(k)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS ref_id
       |  FROM sig a JOIN sig b
       |    ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND (${bandPredSql(k, bands)})),
       |inter AS (
       |  SELECT train_id, ref_id, count(*) AS i
       |  FROM cand JOIN sh sa ON sa.doc_id = train_id
       |            JOIN sh sb ON sb.doc_id = ref_id AND sb.g = sa.g
       |  GROUP BY 1, 2)
       |SELECT train_id, ref_id,
       | round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sig sa ON sa.doc_id = train_id
       |           JOIN sig sb ON sb.doc_id = ref_id
       |WHERE i::DOUBLE / (sa.n + sb.n - i) >= $minJ
       |ORDER BY train_id, ref_id""".stripMargin

  /** Shared CTE prefix for the winnowing oracles (q165/q166): trigram
    * positional grams, 32-bit md5-lane hashes, trailing windows of 4
    * with the rightmost-min selection encoded as a plain min() over the
    * sortable key h || lpad(1e9 - pos). Mirrors
    * [[etlmudah.scale.Dedup.winnowFingerprints]] at k=3, w=4. */
  val winnowSelSql: String =
    s"""WITH $tokPosCtes,
       |grams AS (
       |  SELECT a.doc_id, a.pos - 1 AS pos,
       |    substr(md5(a.t || ' ' || b.t || ' ' || c.t), 1, 8) AS h
       |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
       |             JOIN tok c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
       |win AS (
       |  SELECT doc_id, pos, h,
       |    min(h || lpad((1000000000 - pos)::VARCHAR, 10, '0'))
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sk,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
       |    count(*) OVER (PARTITION BY doc_id) AS total
       |  FROM grams),
       |sel AS (
       |  SELECT DISTINCT doc_id,
       |    1000000000 - substr(sk, 9, 10)::BIGINT AS pos,
       |    substr(sk, 1, 8) AS fp
       |  FROM win WHERE rn >= 4 OR rn = total)""".stripMargin

  /** q166's df-capped fingerprint set over [[winnowSelSql]]'s `sel`:
    * `cold(doc_id, fp)` keeps fingerprints held by at most 50 docs. */
  val winnowColdCtes: String =
    """fpd AS (SELECT DISTINCT doc_id, fp FROM sel),
      |dfc AS (SELECT fp, count(*) AS fp_df FROM fpd GROUP BY fp),
      |cold AS (
      |  SELECT f.doc_id, f.fp FROM fpd f JOIN dfc USING (fp)
      |  WHERE fp_df <= 50)""".stripMargin

  // ---- text quality, blocklists and language models ------------------------

  /** Stopword list shared by quality/text queries (and their oracles). */
  val qualityStops: Seq[String] = Seq("the", "a", "of", "and", "to")

  /** q48's per-doc quality profile, carrying the columns `keys`: the
    * tokens `toks` and punctuation rate `pr` in `t`, then `m` with the
    * token count `n_tokens`, the [[qualityStops]] rate `sr` and `pr`
    * (0 for empty text). */
  def qualityProfileCtes(keys: String): String = {
    val stops = qualityStops.map(w => s"'$w'").mkString(",")
    s"""t AS (SELECT $keys,
       |  string_split_regex(trim(text), '\\s+') AS toks,
       |  len(regexp_extract_all(text, '[.,;:!?]'))::DOUBLE
       |    / nullif(length(text), 0) AS pr
       |  FROM documents),
       |m AS (SELECT $keys, len(toks)::BIGINT AS n_tokens,
       |  CASE WHEN len(toks) > 0 THEN
       |    len(list_filter(toks, x -> x IN ($stops)))::DOUBLE
       |      / len(toks) ELSE 0.0 END AS sr,
       |  coalesce(pr, 0.0) AS pr FROM t)""".stripMargin
  }

  /** q193's blocklist scan (q197's large tier lands on the identical
    * aggregate). The identical (?i)\b(\Q..\E|..)\b pattern — \Q..\E
    * quoting is shared, and \b agrees on this pure-ASCII corpus (Java's
    * \b is Unicode-aware, RE2's ASCII — the seam is documented at the
    * operator and never touches ASCII text). The coalesce matches
    * Spark's '' clean verdict: DuckDB's list chain yields NULL, not
    * '', on the empty match list. */
  val blocklistScanSql: String =
    """WITH s AS (
      |  SELECT source,
      |    len(regexp_extract_all(text,
      |      '(?i)\b(\Qspark\E|\Qslow\E)\b', 1)) AS hits,
      |    coalesce(array_to_string(list_sort(list_distinct(list_transform(
      |      regexp_extract_all(text, '(?i)\b(\Qspark\E|\Qslow\E)\b', 1),
      |      x -> lower(x)))), ','), '') AS terms_hit
      |  FROM documents)
      |SELECT source, terms_hit, count(*) AS n_docs,
      |  CAST(sum(hits) AS BIGINT) AS n_hits
      |FROM s GROUP BY source, terms_hit
      |ORDER BY source, terms_hit""".stripMargin

  /** q106's bigram counts: positional tokens `tok(doc_id, source, t,
    * pos)`, per-doc bigram counts `tf(doc_id, source, prev, cur, m)` and
    * corpus counts `big(prev, cur, c2)`. */
  val bigramCountCtes: String =
    """tok AS (SELECT doc_id, source,
      |    unnest(string_split_regex(trim(text), '\s+')) AS t,
      |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
      |      AS pos
      |  FROM documents),
      |bg AS (SELECT a.doc_id, a.source, a.t AS prev, b.t AS cur
      |  FROM tok a JOIN tok b
      |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |tf AS (SELECT doc_id, source, prev, cur, count(*)::BIGINT AS m
      |  FROM bg GROUP BY doc_id, source, prev, cur),
      |big AS (SELECT prev, cur, sum(m)::BIGINT AS c2
      |  FROM tf GROUP BY prev, cur)""".stripMargin

  /** q188's interpolated Kneser-Ney (discount 0.75) over
    * [[bigramCountCtes]]: `doc(doc_id, source, doc_lp)`, each doc's mean
    * log-probability at 6dp. The P expression is parenthesized
    * identically to the Spark side, so both engines run the same float
    * tree over the same exact-integer counts. */
  val kneserNeyDocCtes: String =
    """ctx AS (SELECT prev, sum(c2)::BIGINT AS c1, count(*)::BIGINT AS n1f
      |  FROM big GROUP BY prev),
      |cont AS (SELECT cur, count(*)::BIGINT AS n1b FROM big GROUP BY cur),
      |tot AS (SELECT count(*)::BIGINT AS b FROM big),
      |doc AS (SELECT doc_id, source,
      |    round(sum(m * ln((c2 - 0.75) / c1
      |      + ((0.75 * n1f) / c1) * (CAST(n1b AS DOUBLE) / b)))
      |      / sum(m), 6) AS doc_lp
      |  FROM tf JOIN big USING (prev, cur) JOIN ctx USING (prev)
      |    JOIN cont USING (cur) CROSS JOIN tot
      |  GROUP BY doc_id, source)""".stripMargin

  /** The per-source report of doc log-probabilities `doc(doc_id, source,
    * doc_lp)`: doc count, mean at 4dp, min and max at 6dp. */
  val logprobBySourceSql: String =
    """SELECT source, count(*)::BIGINT AS n_docs,
      | round(avg(doc_lp), 4) AS avg_logprob,
      | round(min(doc_lp), 6) AS min_logprob,
      | round(max(doc_lp), 6) AS max_logprob
      |FROM doc GROUP BY source ORDER BY source""".stripMargin

  /** The q257 lexical-retrieval CTE ladder (through the per-doc
    * aggregate `agg`) — ONE definition feeding both the q257 oracle
    * and q258's lexical half so the tiers cannot drift. Mirrors
    * [[etlmudah.text.TextStats.bm25Search]]: q131's exact idf/tfnorm
    * expression text, per-term 4dp round, DECIMAL sum, query-doc
    * excluded from results only. */
  val bm25SearchSql: String =
    """qterms AS (
      |  SELECT DISTINCT unnest(string_split_regex(trim(text), '\s+'))
      |    AS term
      |  FROM documents WHERE doc_id = 0),
      |docs AS (
      |  SELECT doc_id AS id, text,
      |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS dl
      |  FROM documents),
      |tot AS (SELECT count(*)::BIGINT AS n,
      |    sum(dl)::DOUBLE / count(*) AS avgdl FROM docs),
      |tf AS (
      |  SELECT id, dl, term, count(*)::BIGINT AS tf FROM (
      |    SELECT id, dl,
      |      unnest(string_split_regex(trim(text), '\s+')) AS term
      |    FROM docs)
      |  WHERE term IN (SELECT term FROM qterms)
      |  GROUP BY 1, 2, 3),
      |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT id, CAST(round(
      |      ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
      |      (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4)
      |    AS DECIMAL(20,4)) AS ts
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN tot),
      |agg AS (
      |  SELECT id, count(*)::BIGINT AS terms_hit,
      |    CAST(sum(ts) AS DOUBLE) AS score
      |  FROM scored WHERE id <> 0 GROUP BY id)""".stripMargin

  // ---- q198's hashed logistic regression -----------------------------------

  /** Labels `yl(doc_id, y)`: y = 1 when the text contains 'spark'. */
  val lrLabelsCtes: String =
    """yl AS (SELECT doc_id,
      |  CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END AS y
      |  FROM documents)""".stripMargin

  /** Tokens `tok` of the docs in `src` and their per-doc counts `x(doc_id,
    * b, x)` in 16 md5 buckets. */
  def lrBucketCtes(tok: String, x: String, src: String): String =
    s"""$tok AS (SELECT doc_id,
       |  unnest(string_split_regex(trim(text), '\\s+')) AS t FROM $src),
       |$x AS (SELECT doc_id,
       |    CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
       |      % 16 AS b,
       |    count(*)::BIGINT AS x
       |  FROM $tok GROUP BY 1, 2)""".stripMargin

  /** Step i's predictions `p<i>(doc_id, y, p)` under weights `w<i-1>`. */
  def lrProbCtes(i: Int): String =
    s"""p$i AS (SELECT z.doc_id, yl.y,
       |    1.0/(1.0 + exp(-((z.z6)::DOUBLE / 1000000.0))) AS p
       |  FROM (SELECT x.doc_id, sum(x.x * w${i - 1}.w6)::BIGINT AS z6
       |        FROM x JOIN w${i - 1} USING (b) GROUP BY 1) z
       |  JOIN yl USING (doc_id))""".stripMargin

  /** The full 3-step training loop over the docs in `src` (needs
    * [[lrLabelsCtes]] first): z (BIGINT), p (fixed float tree),
    * gradient `g<i>` (round to 6dp-scaled BIGINT), update `w<i>(b, w6)`
    * at lr 0.02 (both engines round-to-integer the identical double).
    * Ends with the trained weights `w3`. */
  def lrTrainCtes(src: String): String = {
    def step(i: Int) =
      s"""${lrProbCtes(i)},
         |g$i AS (SELECT x.b,
         |    sum(round((p$i.p - p$i.y) * x.x * 1000000.0))::BIGINT AS g6
         |  FROM x JOIN p$i USING (doc_id) GROUP BY 1),
         |w$i AS (SELECT bl.b,
         |    round((coalesce(w${i - 1}.w6, 0)::DOUBLE / 1000000.0 -
         |      0.02 * ((coalesce(g$i.g6, 0)::DOUBLE / 1000000.0) /
         |        (SELECT n FROM nn))) * 1000000.0)::BIGINT AS w6
         |  FROM bl LEFT JOIN w${i - 1} USING (b) LEFT JOIN g$i USING (b))""".stripMargin
    s"""${lrBucketCtes("tok", "x", src)},
       |nn AS (SELECT count(*)::DOUBLE AS n FROM $src),
       |bl AS (SELECT range::BIGINT AS b FROM range(0, 16)),
       |w0 AS (SELECT b, 0::BIGINT AS w6 FROM bl),
       |""".stripMargin + (1 to 3).map(step).mkString(",\n")
  }

  /** A doc's trained score from its bucket counts `x` and `w3`: the
    * half-away 6dp rounding of the weighted mean, in exact integers. */
  def lrScoreExpr(x: String): String =
    s"""    CASE WHEN sum($x.x * w3.w6) >= 0
       |    THEN floor((abs(sum($x.x * w3.w6)) * 2 + sum($x.x)) /
       |      (sum($x.x) * 2))
       |    ELSE -floor((abs(sum($x.x * w3.w6)) * 2 + sum($x.x)) /
       |      (sum($x.x) * 2)) END / 1000000.0 AS score""".stripMargin

  /** The integer AUC inputs of scores `sc<sfx>(doc_id, score)`: per-score
    * counts, the count of strictly lower scores `cb`, and
    * `agg<sfx>(n_pos, n_neg, s_sum)` (s_sum = twice the positives' rank
    * sum, ties at the midrank). */
  def aucCtes(sfx: String): String =
    s"""per$sfx AS (SELECT sc$sfx.score AS s, count(*)::BIGINT AS n,
       |    sum(yl.y)::BIGINT AS n1
       |  FROM sc$sfx JOIN yl USING (doc_id) GROUP BY 1),
       |rk$sfx AS (SELECT s, n, n1, coalesce(sum(n) OVER (ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
       |    AS cb FROM per$sfx),
       |agg$sfx AS (SELECT sum(n1)::BIGINT AS n_pos,
       |    (sum(n) - sum(n1))::BIGINT AS n_neg,
       |    sum(n1 * (2 * cb + n + 1))::BIGINT AS s_sum FROM rk$sfx)""".stripMargin

  /** q180's untrained quality scorer over `tok(doc_id, t)`: each token's
    * 1024-bucket weight in [-1000, 1000], the per-doc mean scaled by
    * 1000 and rounded half away from zero at 6dp. */
  val untrainedScoreExpr: String =
    """    CASE WHEN sum(CAST(CAST(('0x' || substr(md5('w:q:' ||
      |      (CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
      |        % 1024)::VARCHAR), 1, 8)) AS UBIGINT) AS BIGINT)
      |      % 2001 - 1000) >= 0
      |    THEN floor((abs(sum(CAST(CAST(('0x' || substr(md5('w:q:' ||
      |      (CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
      |        % 1024)::VARCHAR), 1, 8)) AS UBIGINT) AS BIGINT)
      |      % 2001 - 1000) * 1000) * 2 + count(*)) / (count(*) * 2))
      |    ELSE -floor((abs(sum(CAST(CAST(('0x' || substr(md5('w:q:' ||
      |      (CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) AS BIGINT)
      |        % 1024)::VARCHAR), 1, 8)) AS UBIGINT) AS BIGINT)
      |      % 2001 - 1000) * 1000) * 2 + count(*)) / (count(*) * 2))
      |    END / 1000000.0 AS score""".stripMargin

  // ---- synthetic web pages, URLs and host ranks ----------------------------

  /** DuckDB closed form of [[etlmudah.web.Web.fakeHost]] applied to the
    * BIGINT expression `j` — the host-arithmetic building block the
    * q222/q223 oracles use to carry the KNOWN link targets. */
  def duckFakeHost(j: String): String =
    s"['www.','blog.',''][(($j) % 3 + 1)::INT] || 'd' || " +
      s"(($j) % 7)::VARCHAR || '.' || " +
      s"['com','org','co.uk','com.my'][(($j) % 4 + 1)::INT]"

  /** DuckDB twin of [[etlmudah.web.Web.fakeUrl]]`(doc_id, source)`:
    * https://<[[duckFakeHost]] of doc_id>/<source>/<doc_id>. */
  val fakeUrlExpr: String =
    """    'https://' || ['www.','blog.',''][(doc_id % 3 + 1)::INT] ||
      |    'd' || (doc_id % 7)::VARCHAR || '.' ||
      |    ['com','org','co.uk','com.my'][(doc_id % 4 + 1)::INT] ||
      |    '/' || source || '/' || doc_id::VARCHAR AS url""".stripMargin

  /** The registered domain of `host` split as `arr` of length `n`: the
    * last three labels under a Web.DefaultMultiSuffixes suffix (the IN
    * list mirrors it verbatim), else the last two. */
  val registeredDomainExpr: String =
    """    CASE WHEN n <= 2 THEN lower(host)
      |         WHEN (arr[n-1] || '.' || arr[n]) IN
      |           ('co.uk','ac.uk','gov.uk','org.uk','com.my','gov.my',
      |            'edu.my','org.my','com.au','net.au','org.au','co.jp',
      |            'ne.jp','or.jp','com.br','com.cn','com.sg','co.in','co.kr')
      |           THEN arr[n-2] || '.' || arr[n-1] || '.' || arr[n]
      |         ELSE arr[n-1] || '.' || arr[n] END AS domain""".stripMargin

  /** The synthetic web pages `(url, page)`: each doc rendered as HTML
    * carrying its two known links ([[etlmudah.web.Web.fakeLinkUrls]]),
    * whose hosts [[hostLinkCtes]] derives in closed form. */
  def fakePages(s: SparkSession, dir: String): DataFrame = {
    import etlmudah.web.Web
    val id = col("doc_id")
    Tables.documents(s, dir).select(
      Web.fakeUrl(id, col("source")).as("url"),
      Web.fakeHtml(id, col("text"), lit(null).cast("string"),
        Web.fakeLinkUrls(id)).as("page"))
  }

  /** [[etlmudah.web.Web.fakeLinkUrls]]'s known link targets in DuckDB:
    * `hh(doc_id, hsrc, h1, h2)` (each page's host and its two link
    * hosts) and the host link list `le(src_host, dst_host)`. */
  val hostLinkCtes: String =
    s"""hh AS (SELECT doc_id,
       |    ${duckFakeHost("doc_id")} AS hsrc,
       |    ${duckFakeHost("doc_id + 1")} AS h1,
       |    ${duckFakeHost("3 * doc_id + 5")} AS h2
       |  FROM documents),
       |le AS (SELECT hsrc AS src_host, h1 AS dst_host FROM hh
       |       UNION ALL SELECT hsrc, h2 FROM hh)""".stripMargin

  /** [[hostLinkCtes]] aggregated to weighted host edges `e0(src_host,
    * dst_host, weight)` (self-links dropped) and keyed by md5-60bit ids
    * as `e(src, dst, weight)`. */
  val hostEdgeCtes: String =
    s"""$hostLinkCtes,
       |e0 AS (SELECT src_host, dst_host, count(*)::BIGINT AS weight
       |       FROM le WHERE src_host <> dst_host GROUP BY 1, 2),
       |e AS (SELECT
       |    CAST(('0x' || substr(md5(src_host),1,15)) AS UBIGINT)::BIGINT AS src,
       |    CAST(('0x' || substr(md5(dst_host),1,15)) AS UBIGINT)::BIGINT AS dst,
       |    weight FROM e0)""".stripMargin

  /** q218's integer-lattice PageRank over weighted directed edges
    * `e(src, dst, weight)`: `nodes`, `nn`, out-weights `ew`, the
    * uniform start `r0` and 3 unrolled rounds at damping 0.85 on the
    * 10^12 lattice with a truncating `//` per edge. Ends with
    * `r3(node, rank)`. */
  val pageRankCtes: String = {
    def step(i: Int) =
      s"""r$i AS (SELECT nd.node,
         |         ((15 * 1000000000000) // (100 * (SELECT n FROM nn))
         |          + (85 * COALESCE(c.c, 0)) // 100)::BIGINT AS rank
         |       FROM nodes nd LEFT JOIN (
         |         SELECT ew.dst AS node,
         |                sum((r.rank * ew.weight) // ew.outw)::BIGINT AS c
         |         FROM ew JOIN r${i - 1} r ON ew.src = r.node GROUP BY 1) c
         |         USING (node))""".stripMargin
    """nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
      |ew AS (
      |  SELECT e.src, e.dst, e.weight, o.outw
      |  FROM e JOIN (SELECT src, sum(weight)::BIGINT AS outw
      |               FROM e GROUP BY 1) o USING (src)),
      |r0 AS (SELECT node,
      |         (1000000000000 // (SELECT n FROM nn))::BIGINT AS rank
      |       FROM nodes),
      |""".stripMargin + (1 to 3).map(step).mkString(",\n")
  }

  /** Shared CTE chain of the q222/q223 oracles (callers prepend WITH
    * and append their SELECT): known link targets from the doc_id rule
    * -> weighted host edges -> md5-60bit ids -> the 3 unrolled
    * integer-lattice PageRank rounds ([[pageRankCtes]], q218's shape) ->
    * `hostrank(host, rank)`. Also exposes `hh(doc_id, hsrc)` so q223
    * can key pages to their host without re-deriving it. */
  val duckHostRankCtes: String =
    s"""$hostEdgeCtes,
       |$pageRankCtes,
       |hosts AS (SELECT host,
       |    CAST(('0x' || substr(md5(host),1,15)) AS UBIGINT)::BIGINT AS node
       |  FROM (SELECT src_host AS host FROM e0
       |        UNION SELECT dst_host FROM e0)),
       |hostrank AS (SELECT hosts.host, r3.rank
       |  FROM r3 JOIN hosts USING (node))""".stripMargin

  // ---- co-purchase graph and k-core peels ----------------------------------

  /** The q220 co-purchase pair set as a SELECT body: parts bought
    * together in at least 2 orders, one row `(u, v)` per pair, u < v. */
  val coPairsSql: String =
    """  SELECT a.l_partkey::BIGINT AS u, b.l_partkey::BIGINT AS v
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  /** A k-core peel's start: [[coPairsSql]] as `e0(u, v)`, symmetrized
    * as `sym(src, dst)`, and every node alive in `a0(node)`. */
  val corePeelSeedCtes: String =
    s"""e0 AS MATERIALIZED (
       |$coPairsSql),
       |sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0
       |        UNION ALL SELECT v, u FROM e0),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)""".stripMargin

  /** Round i of the level-k peel: degrees `d<k>_<i>` within the alive
    * set `prev` and its survivors `a<k>_<i>` (degree >= k). AS
    * MATERIALIZED: each alive set is referenced twice per round, and
    * DuckDB's CTE inlining would otherwise expand the chain
    * exponentially (2^10 copies of the base self-join at 10 rounds). */
  def peelRoundCtes(k: Int, i: Int, prev: String): String =
    s"""d${k}_$i AS MATERIALIZED (
       |  SELECT s.src AS node, count(*) AS deg FROM sym s
       |  JOIN $prev x ON x.node = s.src
       |  JOIN $prev y ON y.node = s.dst GROUP BY 1),
       |a${k}_$i AS MATERIALIZED (SELECT node FROM d${k}_$i WHERE deg >= $k)""".stripMargin

  /** The full coreness-ladder unroll (shared by q336 and its q345
    * h-index dial twin — the identical-statistic discipline): levels
    * 1–20, 16 peel rounds each, every level starting from the last
    * round of the one below; a node's coreness is the highest level
    * it survives. */
  lazy val corenessLadderSql: String = {
    val R = 16
    val rounds = (for (k <- 1 to 20; i <- 1 to R) yield {
      val prev = if (k == 1 && i == 1) "a0"
        else if (i == 1) s"a${k - 1}_$R"
        else s"a${k}_${i - 1}"
      peelRoundCtes(k, i, prev)
    }).mkString(",\n")
    val levels = (1 to 20)
      .map(k => s"SELECT node, $k AS k FROM a${k}_$R")
      .mkString("\n  UNION ALL ")
    s"""WITH $corePeelSeedCtes,
       |$rounds,
       |lev AS MATERIALIZED (
       |  $levels)
       |SELECT node, max(k)::BIGINT AS coreness
       |FROM lev GROUP BY node ORDER BY node""".stripMargin
  }

  // ---- vector search -------------------------------------------------------

  /** q158's IVF centroids `c(cid, cvec)`: the 8 vectors first in md5
    * order. */
  val ivfCentroidCtes: String =
    """c AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8)""".stripMargin

  /** [[ivfCentroidCtes]] plus every vector's 6dp cosine to every
    * centroid, `scored(vec_id, cid, cs)`. */
  val ivfScoredCtes: String =
    s"""$ivfCentroidCtes,
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    round(list_cosine_similarity(e.embedding::DOUBLE[],
       |      c.cvec::DOUBLE[]), 6) AS cs
       |  FROM embeddings e CROSS JOIN c)""".stripMargin

  /** q177's PQ encode: integer subspace coordinates `sx(vec_id, sub,
    * pos, xq)` ((p-1)//8, (p-1)%8, floor(x*1e6)), the md5-ranked
    * 16-vector codebook `cb(code, sub, pos, cq)` (code = rank-1) and the
    * BIGINT squared distances `scored(vec_id, sub, code, sqd)`. */
  val pqScoredCtes: String =
    """sx AS (
      |  SELECT vec_id, ((generate_subscripts(embedding, 1) - 1) // 8) AS sub,
      |    ((generate_subscripts(embedding, 1) - 1) % 8) AS pos,
      |    CAST(floor(unnest(embedding)::DOUBLE * 1000000) AS BIGINT) AS xq
      |  FROM embeddings),
      |pick AS (
      |  SELECT vec_id AS code_src,
      |    row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code
      |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
      |cb AS (
      |  SELECT p.code, s.sub, s.pos, s.xq AS cq
      |  FROM pick p JOIN sx s ON s.vec_id = p.code_src),
      |scored AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    sum((s.xq - c.cq) * (s.xq - c.cq))::BIGINT AS sqd
      |  FROM sx s JOIN cb c ON c.sub = s.sub AND c.pos = s.pos
      |  GROUP BY 1, 2, 3)""".stripMargin

  /** Each vector's per-subspace code `enc(vec_id, sub, code)` (argmin
    * sqd, lowest code on ties) and the 5 largest-md5 probes
    * `probes(probe_id)`. */
  val pqEncProbeCtes: String =
    """enc AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub
      |                         ORDER BY sqd ASC, code ASC) AS rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS probe_id FROM embeddings
      |  ORDER BY md5(vec_id::VARCHAR) DESC, vec_id DESC LIMIT 5)""".stripMargin

  /** Shared CTE chain of the q225/q229 oracles: sign-bit packing (two
    * 32-bit words per vector), the md5 probe pick, bit_count(xor)
    * Hamming, the (hamming, id) candidate window at candK=50, and the
    * exact rerank — ends with `rr(probe_id, vec_id, hamming, cos_sim)`
    * and exposes `pr(probe_id)`. */
  val duckBinaryRerankCtes: String =
    """e AS (SELECT vec_id, unnest(embedding) AS x,
      |    generate_subscripts(embedding, 1) - 1 AS d0 FROM embeddings),
      |sig AS (SELECT vec_id,
      |    sum(CASE WHEN d0 < 32 AND x > 0 THEN (1::BIGINT << d0::INT)
      |        ELSE 0 END)::BIGINT AS w0,
      |    sum(CASE WHEN d0 >= 32 AND x > 0
      |        THEN (1::BIGINT << (d0 - 32)::INT)
      |        ELSE 0 END)::BIGINT AS w1
      |  FROM e GROUP BY vec_id),
      |pr AS (SELECT vec_id AS probe_id FROM embeddings
      |       ORDER BY md5(vec_id::VARCHAR) DESC, vec_id DESC LIMIT 5),
      |ps AS (SELECT pr.probe_id, s.w0 AS pw0, s.w1 AS pw1
      |       FROM pr JOIN sig s ON s.vec_id = pr.probe_id),
      |hm AS (SELECT ps.probe_id, s.vec_id,
      |    (bit_count(xor(s.w0, ps.pw0)) +
      |     bit_count(xor(s.w1, ps.pw1)))::INT AS hamming
      |  FROM sig s CROSS JOIN ps WHERE s.vec_id <> ps.probe_id),
      |cand AS (SELECT probe_id, vec_id, hamming FROM (
      |    SELECT *, row_number() OVER (PARTITION BY probe_id
      |      ORDER BY hamming ASC, vec_id ASC) AS hr FROM hm)
      |  WHERE hr <= 50),
      |rr AS (SELECT c.probe_id, c.vec_id, c.hamming,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[],
      |      p.embedding::DOUBLE[]), 6) AS cos_sim
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.vec_id
      |  JOIN embeddings p ON p.vec_id = c.probe_id)""".stripMargin

  /** The recall@10 of a reranked candidate list `rr(probe_id, vec_id,
    * cos_sim)` against the exact top-10 of each probe in `pr(probe_id)`:
    * the per-probe hit count and recall. */
  val rerankRecallSql: String =
    """bin AS (SELECT probe_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cos_sim DESC, vec_id ASC) AS rk FROM rr)
      |  WHERE rk <= 10),
      |ex AS (SELECT probe_id, vec_id FROM (
      |    SELECT p.probe_id, em.vec_id,
      |      row_number() OVER (PARTITION BY p.probe_id
      |        ORDER BY round(list_cosine_similarity(
      |          em.embedding::DOUBLE[], pe.embedding::DOUBLE[]), 6)
      |          DESC, em.vec_id ASC) AS rk
      |    FROM pr p
      |    JOIN embeddings pe ON pe.vec_id = p.probe_id
      |    CROSS JOIN embeddings em WHERE em.vec_id <> p.probe_id)
      |  WHERE rk <= 10),
      |h AS (SELECT bin.probe_id, count(*)::BIGINT AS n_hits
      |  FROM bin JOIN ex USING (probe_id, vec_id) GROUP BY 1)
      |SELECT pr.probe_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
      |  round(coalesce(h.n_hits, 0)::DOUBLE / 10, 6) AS recall
      |FROM pr LEFT JOIN h USING (probe_id)
      |ORDER BY probe_id""".stripMargin

  /** Round r of a greedy diverse selection over `cand(id, vec)` (q262's
    * MMR, q279's k-center): `m<r>(id, msim)`, each unselected
    * candidate's 6dp max cosine to the selected set `sel<r-1>`. Every
    * CTE is MATERIALIZED: each `sel<r>` is referenced 3x by round r+1,
    * and inlined CTEs would re-evaluate exponentially. */
  def greedyMaxSimCtes(r: Int): String =
    s"""m$r AS MATERIALIZED (
       |  SELECT c2.id,
       |    max(round(list_cosine_similarity(c2.vec, s.vec), 6))
       |      AS msim
       |  FROM cand c2, cand s
       |  WHERE s.id IN (SELECT id FROM sel${r - 1})
       |    AND c2.id NOT IN (SELECT id FROM sel${r - 1})
       |  GROUP BY c2.id)""".stripMargin

  /** Round r's selected set: `sel<r-1>` plus the round's pick `s<r>`. */
  def greedySelCtes(r: Int): String =
    s"""sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1}
       |          UNION ALL SELECT * FROM s$r)""".stripMargin

  /** Shared CTE chain of the q232/q233 oracles — the FULL exact-integer
    * PCA replay: lattice quantization (round half-away matches on both
    * engines; *1024 is exact in double), the d x d Gram via a self-join
    * on vec_id, exact centering n*G - s*s', the one-time covariance
    * rescale, and THREE unrolled lattice power-iteration steps with
    * truncating division (DuckDB `//` == Java `/`). Ends with
    * `v3(i, v)` (the iterate), `wf(i, w)` (one more mat-vec for the
    * Rayleigh pair), and `ray(num, den)`; `q(vec_id, i, qv)` stays
    * visible for the projection oracle. */
  val duckPcaCtes: String = {
    // mat-vec `w` with the previous iterate, then `v` = w rescaled so
    // its largest entry is 32768
    def matVec(w: String, prev: String) =
      s"""$w AS (SELECT cg.i, sum(cg.cv * $prev.v)::BIGINT AS w
         |  FROM cg JOIN $prev ON $prev.i = cg.j GROUP BY 1)""".stripMargin
    def step(i: Int) =
      s"""${matVec(s"w$i", s"v${i - 1}")},
         |v$i AS (SELECT i, ((w * 32768) //
         |    (SELECT greatest(1, max(abs(w))) FROM w$i))::BIGINT AS v FROM w$i),
         |""".stripMargin
    """q AS (SELECT vec_id,
      |    generate_subscripts(embedding, 1) - 1 AS i,
      |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1024) AS BIGINT)
      |      AS qv
      |  FROM embeddings),
      |g AS (SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv)::BIGINT AS gij
      |  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
      |s AS (SELECT i, sum(qv)::BIGINT AS si FROM q GROUP BY 1),
      |nn AS (SELECT count(*)::BIGINT AS n FROM embeddings),
      |c AS (SELECT g.i, g.j,
      |    ((SELECT n FROM nn) * g.gij - sa.si * sb.si)::BIGINT AS cij
      |  FROM g JOIN s sa ON sa.i = g.i JOIN s sb ON sb.i = g.j),
      |gd AS (SELECT greatest(1, max(abs(cij)) // 1048576)::BIGINT AS gdiv
      |  FROM c),
      |cg AS (SELECT i, j, (cij // (SELECT gdiv FROM gd))::BIGINT AS cv
      |  FROM c),
      |v0 AS (SELECT i, 1::BIGINT AS v FROM range(64) t(i)),
      |""".stripMargin + (1 to 3).map(step).mkString +
      s"""${matVec("wf", "v3")},
         |ray AS (SELECT sum(v3.v * wf.w)::BIGINT AS num,
         |    sum(v3.v * v3.v)::BIGINT AS den
         |  FROM v3 JOIN wf USING (i))""".stripMargin
  }

  // ---- synthetic images: each Spark fixture beside its DuckDB twin ---------

  /** Planted near-duplicates: `every` consecutive docs share the seed
    * `doc_id div every`; SQL twin `doc_id // every AS seed`. */
  def plantedSeed(every: Int): Column = expr(s"doc_id div $every")

  /** (w, h) of the 24bpp BMP/PNG/AVI fixtures drawn from `base`: 1–4 x
    * 1–3; SQL twin `(base % 4 + 1)`, `(base % 3 + 1)`. */
  def smallDims(base: Column): (Column, Column) =
    ((base % 4 + 1).cast("int"), (base % 3 + 1).cast("int"))

  /** (w, h) of the block-constant JPEG/GIF/PNG/TIFF fixtures drawn from
    * `base`: 4–16 x 3–11, so MCU edges are crossed; SQL twin
    * `(base % 13 + 4)`, `(base % 9 + 3)`. */
  def blockDims(base: Column): (Column, Column) =
    ((base % 13 + 4).cast("int"), (base % 9 + 3).cast("int"))

  /** `blob` cut to its first `keep` bytes on every `every`-th doc: the
    * decoder must null a truncated blob whole, never return a partial
    * statistic; the oracles drop those docs with `doc_id % every <> 0`. */
  def maim(blob: Column, every: Int, keep: Int): Column =
    when(col("doc_id") % every === 0, substring(blob, 1, keep)).otherwise(blob)

  /** The dims a media-header decoder reads back from `blobs(doc_id,
    * blob)`: (doc_id, format, width, height) in doc_id order. The blob
    * is its own projection first: an inlined synth tree would be
    * re-evaluated by every byte read of the decoder's marker walk. */
  def mediaDims(blobs: DataFrame): DataFrame =
    blobs.select(col("doc_id"), Multimodal.mediaMeta(col("blob")).as("m"))
      .select(col("doc_id"), col("m.format").as("format"),
        col("m.width").cast("bigint").as("width"),
        col("m.height").cast("bigint").as("height"))
      .orderBy(col("doc_id"))

  /** Per-(w, h) roll-up of a decoded `st` stats struct: the row count as
    * `n`, decoded rows, pixels, and each channel's min/max/sum in the
    * order of `channels` (the BMP-family structs list b,g,r; PNG, JPEG
    * and GIF list r,g,b). Use with `Dataset.transform`. */
  def pixelStatsByDims(n: String, channels: String)(
      df: DataFrame): DataFrame = {
    val perChannel = channels.toSeq.flatMap { c =>
      Seq(min(col(s"st.${c}_min")).as(s"${c}_min"),
        max(col(s"st.${c}_max")).as(s"${c}_max"),
        sum(col(s"st.${c}_sum")).as(s"${c}_sum"))
    }
    df.groupBy(col("w"), col("h"))
      .agg(count(lit(1)).as(n),
        Seq(count(col("st")).as("n_decoded"),
          sum(col("st.n_px")).as("n_px")) ++ perChannel: _*)
      .orderBy(col("w"), col("h"))
  }

  /** The per-(w, h) stats of gray images `px(doc_id, v)` over docs
    * `d(doc_id, w, h)`, with the one gray value reported for each of
    * r, g and b: the DuckDB twin of [[pixelStatsByDims]]`("n_imgs",
    * "rgb")` on a gray fixture. */
  val grayPixelStatsSql: String =
    """st AS (SELECT doc_id, count(*)::BIGINT AS n_px,
      |    min(v)::INT AS v_min, max(v)::INT AS v_max,
      |    sum(v)::BIGINT AS v_sum
      |  FROM px GROUP BY doc_id)
      |SELECT d.w, d.h, count(*) AS n_imgs,
      |  count(st.doc_id)::BIGINT AS n_decoded,
      |  sum(st.n_px)::BIGINT AS n_px,
      |  min(st.v_min) AS r_min, max(st.v_max) AS r_max,
      |  sum(st.v_sum)::BIGINT AS r_sum,
      |  min(st.v_min) AS g_min, max(st.v_max) AS g_max,
      |  sum(st.v_sum)::BIGINT AS g_sum,
      |  min(st.v_min) AS b_min, max(st.v_max) AS b_max,
      |  sum(st.v_sum)::BIGINT AS b_sum
      |FROM d LEFT JOIN st USING (doc_id)
      |GROUP BY d.w, d.h ORDER BY d.w, d.h""".stripMargin

  /** q337's JPEG pixel stats replayed from the block-constant closed
    * form (R = G = B = (seed*17 + (y div 8)*5 + (x div 8)*3) mod 256 at
    * visual pixel (y, x)) — the oracle never parses a byte. q349's
    * lossless GIF lands on it verbatim. */
  val jpegPixelStatsSql: String =
    s"""WITH d AS (SELECT doc_id, (doc_id % 13 + 4)::INT AS w,
       |    (doc_id % 9 + 3)::INT AS h FROM documents),
       |px AS (SELECT d.doc_id,
       |    (d.doc_id*17 + (fr.fr//8)*5 + (c.c//8)*3) % 256 AS v
       |  FROM d, range(0, 11) fr(fr), range(0, 16) c(c)
       |  WHERE d.doc_id % 5 <> 0 AND fr.fr < d.h AND c.c < d.w),
       |$grayPixelStatsSql""".stripMargin

  /** The perceptual-hash dedup histogram: `docs` grouped by their aHash
    * `ah` (h0, h1), then the number of groups of each size. SQL twin:
    * [[ahashGroupSizesSql]]. */
  def ahashGroupSizes(docs: DataFrame, ah: Column): DataFrame =
    docs.select(ah.as("ah"))
      .groupBy(col("ah.h0").as("h0"), col("ah.h1").as("h1"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size")).agg(
        count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_docs"))
      .orderBy(col("group_size"))

  /** 8x8 aHash grid `px(seed, gi, gj, s)` over seeds `dd(seed, w, h)`:
    * cell (gi, gj) samples pixel (gi*h//8, gj*w//8) and its brightness
    * is the three closed-form 24bpp channels summed. */
  val rgbGridCtes: String =
    """px AS (SELECT dd.seed, gi.i AS gi, gj.j AS gj,
      |    (dd.seed*7 + ((gi.i*dd.h)//8)*3 + ((gj.j*dd.w)//8)) % 256
      |  + (dd.seed*11 + ((gi.i*dd.h)//8)*5 + ((gj.j*dd.w)//8)*2) % 256
      |  + (dd.seed*13 + ((gi.i*dd.h)//8)*7 + ((gj.j*dd.w)//8)*3) % 256
      |    AS s
      |  FROM dd, range(0, 8) gi(i), range(0, 8) gj(j))""".stripMargin

  /** [[rgbGridCtes]] for the block-constant gray fixtures: R = G = B =
    * (seed*17 + (y div 8)*5 + (x div 8)*3) mod 256 at visual pixel
    * (y, x), rows stored bottom-up. */
  val blockGridCtes: String =
    """px AS (SELECT dd.seed, gi.i AS gi, gj.j AS gj,
      |    3 * ((dd.seed*17 + ((dd.h - 1 - (gi.i*dd.h)//8)//8)*5
      |      + (((gj.j*dd.w)//8)//8)*3) % 256) AS s
      |  FROM dd, range(0, 8) gi(i), range(0, 8) gj(j))""".stripMargin

  /** DuckDB twin of [[ahashGroupSizes]] over a grid `px(seed, gi, gj, s)`
    * and docs `d(doc_id, seed)`: bit = cell*64 > grid total (exact
    * BIGINT), two 32-bit words, then the group-size histogram. */
  val ahashGroupSizesSql: String =
    """tot AS (SELECT seed, sum(s)::BIGINT AS t FROM px GROUP BY seed),
      |hw AS (SELECT px.seed,
      |    sum(CASE WHEN px.gi*8 + px.gj < 32 AND px.s*64 > tot.t
      |      THEN (1::BIGINT << (px.gi*8 + px.gj)::INT)
      |      ELSE 0 END)::BIGINT AS h0,
      |    sum(CASE WHEN px.gi*8 + px.gj >= 32 AND px.s*64 > tot.t
      |      THEN (1::BIGINT << (px.gi*8 + px.gj - 32)::INT)
      |      ELSE 0 END)::BIGINT AS h1
      |  FROM px JOIN tot USING (seed) GROUP BY px.seed),
      |doc AS (SELECT d.doc_id, hw.h0, hw.h1 FROM d JOIN hw USING (seed)),
      |grp AS (SELECT h0, h1, count(*) AS group_size
      |  FROM doc GROUP BY h0, h1)
      |SELECT group_size, count(*) AS n_groups,
      |  sum(group_size)::BIGINT AS n_docs
      |FROM grp GROUP BY group_size ORDER BY group_size""".stripMargin

  /** q227's aHash dedup histogram over planted pairs (doc_id // 2) of
    * 24bpp images, replayed from the pixel rule; q305 and q335 render
    * the same images through other containers and land on it
    * verbatim. */
  val ahashDedupSql: String =
    s"""WITH d AS (SELECT doc_id, doc_id // 2 AS seed FROM documents),
       |dd AS (SELECT DISTINCT seed, (seed % 4 + 1) AS w,
       |    (seed % 3 + 1) AS h FROM d),
       |$rgbGridCtes,
       |$ahashGroupSizesSql""".stripMargin

  /** q264's thumbnail fixture: every 7th doc as a w x h image (w, h in
    * 2–9) rendered by the SQL expression `bmp` (over doc_id, w, h) to a
    * 24bpp BMP, box-filter resized 2x and described. SQL twin:
    * [[bmpResizeStatsSql]] (q264, q306). */
  def resizeStats(bmp: String)(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        (col("doc_id") % 8 + 2).as("w"),
        ((col("doc_id") * 3) % 8 + 2).as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        expr(s"graft_bmp_stats(graft_bmp_resize($bmp, 2))").as("st"))
      .select(col("doc_id"), col("w"), col("h"),
        col("st.width").as("ow"), col("st.height").as("oh"),
        col("st.n_px"),
        col("st.b_min"), col("st.b_max"), col("st.b_sum"),
        col("st.g_min"), col("st.g_max"), col("st.g_sum"),
        col("st.r_min"), col("st.r_max"), col("st.r_sum"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of [[resizeStats]] (q264 BMP, q306 PNG): the q224
    * closed form pushed through the box filter — every output pixel is
    * the floor mean of its 2x2 block, generated per (oy, ox, dy, dx)
    * and aggregated per channel. */
  val bmpResizeStatsSql: String =
    """WITH d AS (SELECT doc_id, (doc_id % 8 + 2)::BIGINT AS w,
      |    ((doc_id * 3) % 8 + 2)::BIGINT AS h
      |  FROM documents WHERE doc_id % 7 = 0),
      |o AS (SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh FROM d),
      |cells AS (
      |  SELECT o.doc_id, oy.x AS oy, ox.x AS ox,
      |    (sum((o.doc_id*7 + (oy.x*2 + dy.x)*3 + (ox.x*2 + dx.x))
      |      % 256) // 4)::INT AS b,
      |    (sum((o.doc_id*11 + (oy.x*2 + dy.x)*5 + (ox.x*2 + dx.x)*2)
      |      % 256) // 4)::INT AS g,
      |    (sum((o.doc_id*13 + (oy.x*2 + dy.x)*7 + (ox.x*2 + dx.x)*3)
      |      % 256) // 4)::INT AS r
      |  FROM o, range(0, 4) oy(x), range(0, 4) ox(x),
      |       range(0, 2) dy(x), range(0, 2) dx(x)
      |  WHERE oy.x < o.oh AND ox.x < o.ow
      |  GROUP BY 1, 2, 3),
      |st AS (SELECT doc_id, count(*)::BIGINT AS n_px,
      |    min(b)::INT AS b_min, max(b)::INT AS b_max,
      |    sum(b)::BIGINT AS b_sum,
      |    min(g)::INT AS g_min, max(g)::INT AS g_max,
      |    sum(g)::BIGINT AS g_sum,
      |    min(r)::INT AS r_min, max(r)::INT AS r_max,
      |    sum(r)::BIGINT AS r_sum
      |  FROM cells GROUP BY 1)
      |SELECT o.doc_id, o.w, o.h, o.ow, o.oh, st.n_px,
      |  st.b_min, st.b_max, st.b_sum, st.g_min, st.g_max, st.g_sum,
      |  st.r_min, st.r_max, st.r_sum
      |FROM o JOIN st USING (doc_id)
      |ORDER BY o.doc_id""".stripMargin

  // ---- synthetic audio: each Spark fixture beside its DuckDB twin ----------

  /** q230's audio fixture: clip `doc_id` rendered by `fake` with 1–2
    * channels and 4–12 frames at 8 kHz, every 7th maimed to 50 bytes,
    * decoded by `stats` and rolled up per generated channel count. SQL
    * twin: [[wavSampleStatsSql]]. */
  def sampleStatsByChannels(fake: (Column, Column, Column, Column) => Column,
                            stats: Column => Column)(
      s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ch = (id % 2 + 1)
    val nf = (id % 3 + 1) * 4
    Tables.documents(s, dir)
      .select(ch.cast("int").as("channels_gen"),
        stats(maim(fake(id, ch, lit(8000L), nf), 7, 50)).as("st"))
      .groupBy(col("channels_gen")).agg(
        count(lit(1)).as("n_docs"),
        count(col("st")).as("n_decoded"),
        sum(col("st.n_samples")).as("n_samples"),
        max(col("st.peak")).as("peak"),
        min(col("st.s_min")).as("s_min"),
        max(col("st.s_max")).as("s_max"),
        sum(col("st.s_sum")).as("s_sum"),
        sum(col("st.sq_sum")).as("sq_sum"))
      .orderBy(col("channels_gen"))
  }

  /** DuckDB twin of [[sampleStatsByChannels]] (q230 WAV, q346 FLAC):
    * the sample rule replayed over a generate-series, truncated docs
    * excluded by the same %7 rule, per-clip stats re-aggregated per
    * generated channel count. */
  val wavSampleStatsSql: String =
    """WITH d AS (SELECT doc_id, (doc_id % 2 + 1)::INT AS ch,
      |    (doc_id % 3 + 1) * 4 AS nf FROM documents),
      |s AS (SELECT d.doc_id, d.ch,
      |    ((d.doc_id * 31 + i.i * 17) % 65536) - 32768 AS v
      |  FROM d, range(0, 24) i(i)
      |  WHERE i.i < d.nf * d.ch AND d.doc_id % 7 <> 0),
      |st AS (SELECT doc_id, ch, count(*)::BIGINT AS n_samples,
      |    max(abs(v))::INT AS peak, min(v)::INT AS s_min,
      |    max(v)::INT AS s_max,
      |    sum(v)::BIGINT AS s_sum, sum(v * v)::BIGINT AS sq_sum
      |  FROM s GROUP BY 1, 2)
      |SELECT d.ch AS channels_gen, count(*) AS n_docs,
      |  count(st.doc_id)::BIGINT AS n_decoded,
      |  sum(st.n_samples)::BIGINT AS n_samples,
      |  max(st.peak) AS peak, min(st.s_min) AS s_min,
      |  max(st.s_max) AS s_max,
      |  sum(st.s_sum)::BIGINT AS s_sum,
      |  sum(st.sq_sum)::BIGINT AS sq_sum
      |FROM d LEFT JOIN st USING (doc_id)
      |GROUP BY d.ch ORDER BY channels_gen""".stripMargin

  /** q265's voice-activity fixture: every 7th doc (from 3) as a mono
    * 8 kHz clip of 10–59 frames made by the SQL function `fake`, whose
    * zero crossings and silence runs `features` reports. SQL twin:
    * [[wavFeaturesSql]] (q265, q347). */
  def vadFeatures(features: String, fake: String)(
      s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .where(col("doc_id") % 7 === 3)
      .select(col("doc_id"), expr(
        s"$features($fake(doc_id, 1L, 8000L, doc_id % 50 + 10), 8000)")
        .as("f"))
      .select(col("doc_id"), col("f.n_samples"), col("f.n_zero_cross"),
        col("f.n_silent"), col("f.n_silence_runs"),
        col("f.max_silence_run"))
      .orderBy(col("doc_id"))

  /** DuckDB twin of [[vadFeatures]] (q265 WAV, q347 FLAC): samples
    * from the synth closed form (doc_id >= 0, so SQL % equals
    * floorMod), crossings via lag, silence runs via the islands trick
    * over silent rows only. */
  val wavFeaturesSql: String =
    """WITH d AS (SELECT doc_id, (doc_id % 50 + 10)::BIGINT AS nf
      |  FROM documents WHERE doc_id % 7 = 3),
      |s AS (SELECT d.doc_id, i.x AS i,
      |    ((d.doc_id * 31 + i.x * 17) % 65536 - 32768)::BIGINT AS v
      |  FROM d, range(0, 60) i(x) WHERE i.x < d.nf),
      |f AS (SELECT doc_id, i, v,
      |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv,
      |    CASE WHEN abs(v) <= 8000 THEN 1 ELSE 0 END AS sil
      |  FROM s),
      |runs AS (SELECT doc_id, i,
      |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
      |      AS grp
      |  FROM f WHERE sil = 1),
      |runagg AS (SELECT doc_id, count(*)::BIGINT AS rl FROM runs
      |           GROUP BY doc_id, grp),
      |rstats AS (SELECT doc_id, count(*)::BIGINT AS n_runs,
      |             max(rl)::BIGINT AS max_run
      |           FROM runagg GROUP BY doc_id),
      |base AS (SELECT doc_id, count(*)::BIGINT AS n_samples,
      |    sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
      |      THEN 1 ELSE 0 END)::BIGINT AS n_zero_cross,
      |    sum(sil)::BIGINT AS n_silent
      |  FROM f GROUP BY doc_id)
      |SELECT b.doc_id, n_samples, n_zero_cross, n_silent,
      |  coalesce(r.n_runs, 0)::BIGINT AS n_silence_runs,
      |  coalesce(r.max_run, 0)::BIGINT AS max_silence_run
      |FROM base b LEFT JOIN rstats r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- orders: analytics series and copy round trips -----------------------

  /** Shared q253/q257 input: the exact-cent monthly revenue series per
    * priority — one map-side-combined aggregate, BIGINT lattice so the
    * trend/changepoint statistics replay engine-exactly. */
  def monthlyCents(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .where(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull)
      .groupBy(col("o_orderpriority"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"))
      .agg(sum(round(col("o_totalprice").cast("double") * 100)
        .cast("long")).as("cents"))

  /** The q253/q256 series CTE body — kept in ONE place so the Spark
    * helper and both oracles cannot drift. */
  val monthlyCentsSql: String =
    """SELECT o_orderpriority AS g,
      |    (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT AS m,
      |    sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
      |      ::BIGINT AS cents
      |  FROM orders
      |  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
      |  GROUP BY 1, 2""".stripMargin

  /** q318's revenue Gini over per-customer decimal sums: rank-weighted
    * decimal sums, one closing division. q340's bucketed plan must land
    * on it verbatim. */
  val revenueGiniSql: String =
    """WITH rev AS (SELECT o_custkey AS id,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      |  FROM orders GROUP BY 1),
      |rk AS (SELECT x, row_number() OVER (ORDER BY x ASC, id ASC)
      |    AS i FROM rev)
      |SELECT count(*)::BIGINT AS n,
      |  CAST(round(sum(x), 2) AS DOUBLE) AS total,
      |  round((2::DECIMAL(19,0) * sum(x * i::DECIMAL(19,0))
      |      - (count(*) + 1)::DECIMAL(19,0) * sum(x))::DOUBLE
      |    / (count(*)::DOUBLE * sum(x)::DOUBLE), 6) AS gini
      |FROM rk""".stripMargin

  /** The orders aggregate a lossless copy must reproduce, per
    * priority: q153 round-trips orders through the JDBC wire and q181
    * through ORC (doubles survive bit for bit; the decimal sum fixes the
    * association order on both engines). Use with `Dataset.transform`;
    * the DuckDB twin below aggregates the source table itself. */
  def copyRoundtripAgg(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))

  val copyRoundtripSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      | min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      | FROM orders GROUP BY o_orderpriority
      | ORDER BY o_orderpriority""".stripMargin

  // ---- event funnels -------------------------------------------------------

  /** q111's funnel report over the per-stage user sets `v`, `c` and `p`
    * (view, click, purchase): each stage's users as a share of all
    * users and of the previous stage. */
  val funnelStagesSql: String =
    """tot AS (SELECT count(DISTINCT user_id)::BIGINT AS n0 FROM events),
      |s AS (
      |  SELECT 1 AS stage_idx, 'view' AS stage,
      |    (SELECT count(*) FROM v)::BIGINT AS n_users
      |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)::BIGINT
      |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p)::BIGINT)
      |SELECT stage_idx, stage, n_users,
      | round(n_users * 100.0 / n0, 4) AS pct_of_all,
      | round(n_users * 100.0 /
      |   coalesce(lag(n_users) OVER (ORDER BY stage_idx), n0), 4)
      |   AS pct_of_prev
      |FROM s CROSS JOIN tot ORDER BY stage_idx""".stripMargin
}
