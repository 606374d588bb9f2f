package etlmudah.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Tiers, per the 100 TB contract:
  *  - `bruteForceTopK`: exact cosine against one query vector — a single
  *    map + TakeOrderedAndProject; linear scan, no shuffle of the corpus.
  *    Correct baseline and the refine step of the ANN paths.
  *  - `similarityProfile`: exact neighborhood diagnostic for a bounded
  *    probe set (broadcast probes, one corpus scan) — run before
  *    choosing ANN parameters.
  *  - `lshTopKAll`: random-hyperplane LSH — L tables x B hyperplane sign
  *    bits per vector, computed as pure expressions. Candidates are
  *    bucket-equality joins carrying IDs only; cosine refine only within
  *    buckets. At 1000 executors the bucket join shuffles fixed-width
  *    keys, never the n^2 pair space.
  *  - `ivfTopKAll`: FAISS-style inverted file — a coarse quantizer
  *    trained driver-side on a bounded sample, broadcast centroids, and
  *    an nprobe/nlist cost dial on the cluster-equi-join candidates.
  *  - `embeddingNearDups`: LSH-bucketed near-duplicate pairs above a
  *    cosine threshold (dedup-by-embedding).
  */
object Similarity {

  /** Cosine similarity of two float arrays, computed in double.
    * Sequential left-fold keeps the summation order deterministic. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (s, x) => s + x))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (s, x) => s + x))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  /** Cosine via the native codegen'd CosineSimilarity expression
    * (registered by etlmudah.GraftExtensions). Bit-identical to
    * `cosine` (same sequential double fold) but runs inside
    * whole-stage codegen instead of interpreted lambdas — this is the
    * hot loop of brute-force scans and LSH refines. Requires the
    * session to carry spark.sql.extensions=etlmudah.GraftExtensions. */
  def cosineFast(a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * retriever result sets — THE standard hybrid-search combiner:
    * rrf(d) = Σ_r 1/(c + rank_r(d)) over the rankings that returned d,
    * with the canonical c = 60. Rank-based, so the two retrievers'
    * score scales never need calibrating against each other (the
    * reason RRF beats score interpolation in practice — BM25 points
    * and cosine similarities are incomparable units).
    *
    * Inputs are standardized (id, score) frames — each retriever's
    * top-N candidates. Ranks are 1-based row_numbers ordered
    * (score desc, id asc) so ties are deterministic; the fused score
    * is one fixed two-term expression over exact integer ranks —
    * engine-reproducible at 6dp. A document missing from one ranking
    * contributes 0 from that ranking (null rank preserved in the
    * output for the readout).
    *
    * Scale: the global rank windows run over the CANDIDATE frames
    * (≤ each retriever's N — bounded by construction), never a
    * corpus; the fusion is one full-outer id join of two bounded
    * frames. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 10,
              c: Int = 60): DataFrame = {
    def ranked(df: DataFrame, tag: String) = df.select(col("id"),
      row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("id").asc))
        .cast("long").as(s"rank_$tag"))
    ranked(a, "a").join(ranked(b, "b"), Seq("id"), "full_outer")
      .select(col("id"), col("rank_a"), col("rank_b"),
        round(coalesce(lit(1.0) / (lit(c) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rank_b")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("id").asc)
      .limit(k)
  }

  /** Maximal-Marginal-Relevance diverse re-ranking (Carbonell &
    * Goldstein 1998) of a retriever's candidate set (id, score, vec):
    * greedily select k items maximizing
    * λ·score − (1−λ)·max cos-sim to the already-selected set — the
    * redundancy dial every retrieval stack ends with (the serving-time
    * cousin of SemDeDup: near-duplicate results add no value to a
    * result page or a RAG context window).
    *
    * Fully deterministic and on-engine: each greedy round is one
    * anti-join of the remaining candidates, one broadcast sim join
    * against the ≤k selected vectors with the 6dp-rounded
    * `graft_cosine` kernel (the q27 parity convention), and one
    * struct-max argmax with id tie-break; (1−λ) is computed IN-ENGINE
    * as 1.0 − λ so both engines fold the identical double. The oracle
    * unrolls all k rounds. Returns (rank, id, mmr).
    *
    * Scale: every frame is bounded by the CANDIDATE set (the
    * retriever's N) — the greedy loop never touches the corpus. A
    * candidate set at or below `driverCandThreshold` rows (counted
    * first — a bounded collect, guide §5's driver discipline; the
    * serving-time k≪N rerank always is) collects ONCE and runs the
    * greedy argmax loop on the driver with the identical arithmetic
    * (same sequential-fold cosine kernel as graft_cosine, same
    * HALF_UP 6dp rounding, same (mmr, smaller-id) tie order), replayed
    * bit-for-bit against the distributed loop by SimilaritySpec —
    * collapsing k sequential Spark jobs (each an anti-join + broadcast
    * sim join + argmax, ~2.4s measured at k=10 on 50 candidates, pure
    * scheduling) into one job plus a LocalTableScan. Larger candidate
    * sets take the distributed loop unchanged: k small bounded jobs
    * (localCheckpoint-pinned, the PageRank loop discipline). */
  def mmrSelect(candidates: DataFrame, k: Int,
                lambda: Double = 0.7,
                driverCandThreshold: Long = 65536L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = candidates.select(col("id").cast("long").as("id"),
        col("score").cast("double").as("score"), col("vec"))
      .localCheckpoint(true)
    val n = cand.count()
    val rounds = math.min(k.toLong, n).toInt
    if (rounds == 0)
      return cand.select(lit(1L).as("rank"), col("id"),
        col("score").as("mmr")).limit(0)
    if (n <= driverCandThreshold)
      return mmrSelectLocal(cand, rounds, lambda)
    def argmax(scored: DataFrame, rank: Int): DataFrame = scored
      .agg(max(struct(col("__mmr"), (-col("id")).as("__nid"),
        col("id"))).as("__b"))
      .select(lit(rank.toLong).as("rank"), col("__b.id").as("id"),
        col("__b.__mmr").as("mmr"))
    var sel = argmax(cand.select(col("id"),
      round(lit(lambda) * col("score"), 6).as("__mmr")), 1)
      .localCheckpoint(true)
    var r = 2
    while (r <= rounds) {
      val selVecs = cand.join(broadcast(sel.select(col("id"))), Seq("id"))
        .select(col("vec").as("__sv"))
      val remaining = cand
        .join(broadcast(sel.select(col("id"))), Seq("id"), "left_anti")
      val scored = remaining.crossJoin(broadcast(selVecs))
        .select(col("id"), col("score"),
          round(cosineFast(col("vec"), col("__sv")), 6).as("__sim"))
        .groupBy(col("id"), col("score"))
        .agg(max(col("__sim")).as("__msim"))
        .select(col("id"),
          round(lit(lambda) * col("score") -
            (lit(1.0) - lit(lambda)) * col("__msim"), 6).as("__mmr"))
      sel = sel.unionByName(argmax(scored, r)).localCheckpoint(true)
      r += 1
    }
    sel.orderBy(col("rank"))
  }

  /** Spark's Round(double, 6): HALF_UP on the decimal expansion of the
    * double's shortest representation (BigDecimal.valueOf semantics) —
    * the exact scalar the engine's `round(x, 6)` produces, so the
    * driver-side greedy loops replay the distributed plans bit-for-bit
    * (NaN/Infinity pass through, as in the engine). */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The graft_cosine kernel verbatim (sequential double fold over the
    * common prefix, zero-norm → 0.0) on driver-collected float
    * vectors. */
  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na > 0.0 && nb > 0.0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
  }

  /** Driver-side replay of [[mmrSelect]]'s greedy loop over the
    * collected candidate frame: the same per-round argmax of
    * round6(λ·score − (1−λ)·max round6(cos)) with ties to the smallest
    * id (the distributed struct-max's (-id) lane), the same
    * engine-folded 1.0 − λ. One bounded collect replaces k sequential
    * jobs; the result materializes as a LocalTableScan. */
  private def mmrSelectLocal(cand: DataFrame, rounds: Int,
                             lambda: Double): DataFrame = {
    val spark = cand.sparkSession
    val rows = cand.select(col("id"), col("score"),
        col("vec").cast("array<float>").as("vec"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Float](2).toArray))
    val oneMinus = 1.0 - lambda
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Array[Float])]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // Spark's double ordering (engine max/struct-max): NaN is GREATER
    // than every value and equal to itself — java.lang.Double.compare
    // has exactly those semantics (-0.0 never reaches a comparison:
    // round6 normalizes it to 0.0 via BigDecimal).
    def dcmp(a: Double, b: Double): Int = java.lang.Double.compare(a, b)
    var r = 1
    while (r <= rounds) {
      val selIds = selected.map(_._1).toSet
      var bestId = Long.MinValue; var bestMmr = Double.NaN
      var bestRow: (Long, Double, Array[Float]) = null
      rows.foreach { case row @ (id, score, vec) =>
        if (!selIds.contains(id)) {
          val mmr =
            if (r == 1) round6(lambda * score)
            else {
              var msim = Double.NegativeInfinity
              selected.foreach { s =>
                val sim = round6(cosineLocal(vec, s._3))
                if (dcmp(sim, msim) > 0) msim = sim
              }
              round6(lambda * score - oneMinus * msim)
            }
          // the distributed argmax is max(struct(mmr, -id, id)): higher
          // mmr wins (NaN greatest, as in the engine), ties to the
          // SMALLER id
          val c = if (bestRow == null) 1 else dcmp(mmr, bestMmr)
          if (c > 0 || (c == 0 && id < bestId)) {
            bestId = id; bestMmr = mmr; bestRow = row
          }
        }
      }
      selected += bestRow
      out += ((r.toLong, bestId, bestMmr))
      r += 1
    }
    import spark.implicits._
    // rank-ascending by construction; the explicit sort pins the output
    // order contract shared with the distributed path's orderBy(rank)
    out.toSeq.toDF("rank", "id", "mmr").orderBy(col("rank"))
  }

  /** k-CENTER GREEDY / farthest-point sampling (Gonzalez, "Clustering
    * to minimize the maximum intercluster distance", TCS 1985) — the
    * coreset-selection twin of [[mmrSelect]]: where MMR trades
    * relevance against redundancy, k-center ignores relevance and
    * maximizes pure COVERAGE, the standard diverse-subset pick for
    * training-data selection ("choose k examples that span the
    * embedding space"). Greedy is a 2-approximation of the optimal
    * k-center radius — the best any polynomial algorithm guarantees.
    *
    * Determinism: the seed is the SMALLEST id (no RNG to align);
    * each round picks the candidate whose max 6dp-rounded cosine to
    * the selected set is LOWEST (farthest in cosine distance), ties
    * to the smallest id — a total order both engines replay. Returns
    * (rank, id, coverage) where coverage is that max-similarity at
    * selection time (null for the seed); coverage is non-decreasing
    * down the ranks, the stopping-curve the caller reads k off.
    *
    * Scale shape ([[mmrSelect]] discipline): greedy rounds touch the
    * BOUNDED candidate frame only — per round one anti join against
    * ≤k broadcast ids, a ≤k-row selected-vector broadcast, and a
    * struct-min argmin; the corpus is never rescanned, cost stays
    * O(k·|cand|·dim) regardless of corpus size. */
  def kCenterSelect(candidates: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cand = candidates.select(col("id").cast("long").as("id"),
      col("vec")).localCheckpoint(true)
    val n = cand.count()
    val rounds = math.min(k.toLong, n).toInt
    if (rounds == 0)
      return cand.select(lit(1L).as("rank"), col("id"),
        lit(null).cast("double").as("coverage")).limit(0)
    var sel = cand.agg(min(col("id")).as("id"))
      .select(lit(1L).as("rank"), col("id"),
        lit(null).cast("double").as("coverage"))
      .localCheckpoint(true)
    var r = 2
    while (r <= rounds) {
      val selVecs = cand.join(broadcast(sel.select(col("id"))), Seq("id"))
        .select(col("vec").as("__sv"))
      val scored = cand
        .join(broadcast(sel.select(col("id"))), Seq("id"), "left_anti")
        .crossJoin(broadcast(selVecs))
        .select(col("id"),
          round(cosineFast(col("vec"), col("__sv")), 6).as("__sim"))
        .groupBy(col("id"))
        .agg(max(col("__sim")).as("__msim"))
      val pick = scored
        .agg(min(struct(col("__msim"), col("id"))).as("__b"))
        .select(lit(r.toLong).as("rank"), col("__b.id").as("id"),
          col("__b.__msim").as("coverage"))
      sel = sel.unionByName(pick).localCheckpoint(true)
      r += 1
    }
    sel.orderBy(col("rank"))
  }

  /** Exact top-k by cosine against the vector of `queryId` (excluded from
    * results). The query row is broadcast; the corpus is scanned once. */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
    embeddings.filter(col(idCol) =!= queryId)
      .join(broadcast(q))
      .select(col(idCol),
        round(cosineFast(col(vecCol), col("__qvec")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
      .limit(k)
  }

  /** Binary (sign-bit) embedding quantization + Hamming-candidate
    * serving with exact rerank — the production "binary quantization"
    * tier: each vector packs to dims/32 sign words (float32 -> 1 bit
    * per dim, a 32x storage cut), candidates rank by HAMMING distance
    * over the packed words (`bit_count(xor)` — integer bit arithmetic
    * both engines reproduce exactly), and only the top `candK`
    * candidates per probe fetch their float vectors for the exact
    * cosine rerank. Probes are the md5-picked audit set (the
    * q115/q158/q210 discipline), excluded from their own results.
    *
    * Returns (probe_id, vec_id, hamming, cos_sim, rank): top `k` per
    * probe after rerank, rank ordered (cos_sim DESC, vec_id ASC), the
    * Hamming distance carried as evidence. Sign bits use strict
    * `> 0f` — an exact float comparison with no rounding ambiguity
    * (0.0 components pack as 0 on both engines), so the whole path is
    * oracle-replayable end to end: signature packing, Hamming ties,
    * candidate cut, and the 6dp-rounded rerank.
    *
    * 100 TB shape: the signature table stages once (dims/8 bytes per
    * vector; at 64 dims the Hamming scan reads ~3% of the raw corpus
    * bytes) and the |probes| signature rows broadcast over it — no
    * corpus shuffle; full vectors are fetched for |probes| x candK
    * rows only. Both top-k windows are probe-keyed, so
    * InferWindowGroupLimit prunes per-partition before the exchange
    * (the q210 pin).
    *
    * `bitsPerDim = 2` is the 128-BIT SIGNATURE DIAL: each dimension
    * contributes a THERMOMETER code over its corpus-wide exact
    * quartiles — bit 2d = (x > q25_d), bit 2d+1 = (x > q75_d) — a
    * 2-level scalar quantization whose Hamming distance tracks
    * per-dim rank displacement instead of bare sign agreement
    * (sign bits saturate when a dimension is mostly one-signed; the
    * quartile cuts split every dimension 25/50/25 BY CONSTRUCTION).
    * Still fully oracle-replayable: thresholds are exact percentiles
    * (the established `percentile` ↔ `quantile_cont` parity), the
    * packing stays integer bit arithmetic. Storage is dims/4 bytes
    * per vector (16x cut at float32). The threshold fit is one exact-
    * percentile pass over (dim, x) pairs — at corpus scale fit it on
    * a sample (the q284 sample-first dial); the thresholds are 2·dims
    * doubles broadcast as a |dims|-row table either way. Measured
    * recall lift vs the 64-bit sign tier: q229 vs q308. */
  def binaryHammingTopK(embeddings: DataFrame, idCol: String,
                        vecCol: String, dims: Int = 64, nprobe: Int = 5,
                        candK: Int = 50, k: Int = 10,
                        bitsPerDim: Int = 1): DataFrame = {
    require(bitsPerDim == 1 || bitsPerDim == 2,
      s"bitsPerDim must be 1 (sign) or 2 (quartile thermometer), got $bitsPerDim")
    require(dims * bitsPerDim % 32 == 0,
      s"dims*bitsPerDim must be a multiple of 32, got ${dims * bitsPerDim}")
    import org.apache.spark.sql.expressions.Window
    val words = dims * bitsPerDim / 32
    def bc(c: Column): Column = call_function("bit_count", c)
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val ex = vecs.select(col("id"), posexplode(col("vec")).as(Seq("d0", "x")))
    // one conditional sum per 32-bit word (the lshPortablePairs
    // projection-aggregate idiom — flat expressions, no lambda nest)
    val sigRows =
      if (bitsPerDim == 1) {
        val wordAggs = (0 until words).map { wi =>
          sum(when(col("d0") >= wi * 32 && col("d0") < (wi + 1) * 32 &&
              col("x") > 0f,
            expr(s"shiftleft(1L, int(d0 - ${wi * 32}))")).otherwise(0L))
            .as(s"w$wi")
        }
        ex.groupBy(col("id")).agg(wordAggs.head, wordAggs.tail: _*)
      } else {
        // per-dim exact quartiles -> |dims|-row broadcast; 16 dims per
        // 32-bit word (2 bits each)
        val th = ex.groupBy(col("d0")).agg(
          percentile(col("x"), lit(0.25)).as("t25"),
          percentile(col("x"), lit(0.75)).as("t75"))
        val perWord = 32 / bitsPerDim
        val wordAggs = (0 until words).map { wi =>
          sum(when(col("d0") >= wi * perWord &&
              col("d0") < (wi + 1) * perWord,
            when(col("x").cast("double") > col("t25"),
              expr(s"shiftleft(1L, int(2*(d0 - ${wi * perWord})))"))
              .otherwise(0L) +
            when(col("x").cast("double") > col("t75"),
              expr(s"shiftleft(1L, int(2*(d0 - ${wi * perWord}) + 1))"))
              .otherwise(0L)).otherwise(0L)).as(s"w$wi")
        }
        ex.join(broadcast(th), Seq("d0"))
          .groupBy(col("id")).agg(wordAggs.head, wordAggs.tail: _*)
      }
    val sig = sigRows
      .localCheckpoint(true) // staged once; probe and corpus sides share it
    val probes = md5ProbePick(embeddings, idCol, nprobe)
    val probeSig = sig.join(broadcast(probes), col("id") === col("probe_id"))
      .select(col("probe_id") +:
        (0 until words).map(wi => col(s"w$wi").as(s"pw$wi")): _*)
    val ham = (0 until words)
      .map(wi => bc(col(s"w$wi").bitwiseXOR(col(s"pw$wi"))))
      .reduce(_ + _)
    val cands = sig.crossJoin(broadcast(probeSig))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"), ham.cast("int").as("hamming"))
      .withColumn("__hr", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("hamming").asc, col("id").asc)))
      .filter(col("__hr") <= candK)
      .drop("__hr")
    cands
      .join(vecs, Seq("id"))
      .join(broadcast(
        vecs.select(col("id").as("probe_id"), col("vec").as("__pv"))
          .join(probes, Seq("probe_id"))), Seq("probe_id"))
      .select(col("probe_id"), col("id").as("vec_id"), col("hamming"),
        round(cosineFast(col("vec"), col("__pv")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("cos_sim").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Recall@k of the binary-Hamming tier at a PRODUCTION candidate
    * dial, against the exact cosine ground truth — the q209/q115
    * evaluation discipline applied to [[binaryHammingTopK]], and
    * because every stage of BOTH sides is deterministic and
    * SQL-replayable (sign packing, Hamming ties, candidate cut,
    * 6dp rerank, exact top-k), the recall NUMBER itself is
    * hash-checked cross-engine, not just spec-asserted. Returns one
    * row per probe: (probe_id, n_hits, recall). */
  def binaryRecallReport(embeddings: DataFrame, idCol: String,
                         vecCol: String, dims: Int = 64, nprobe: Int = 5,
                         candK: Int = 50, k: Int = 10,
                         bitsPerDim: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bin = binaryHammingTopK(embeddings, idCol, vecCol, dims, nprobe,
        candK, k, bitsPerDim)
      .select(col("probe_id"), col("vec_id"))
    val probes = md5ProbePick(embeddings, idCol, nprobe)
    val pvecs = embeddings
      .select(col(idCol).as("probe_id"), col(vecCol).as("__pv"))
      .join(broadcast(probes), Seq("probe_id"))
    val exact = embeddings
      .crossJoin(broadcast(pvecs))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("vec_id"),
        round(cosineFast(col(vecCol), col("__pv")), 6).as("__cs"))
      .withColumn("__r", row_number().over(
        Window.partitionBy("probe_id")
          .orderBy(col("__cs").desc, col("vec_id").asc)))
      .filter(col("__r") <= k)
      .select(col("probe_id"), col("vec_id"))
    val hits = bin.join(exact, Seq("probe_id", "vec_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hits"))
    probes.join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
      .orderBy(col("probe_id"))
  }

  /** Seeded hyperplane weights, generated driver-side once and folded
    * into the plan as literals — tiny (tables x bits x dims doubles),
    * identical on every executor, no broadcast, no per-eval hashing. */
  private def hyperplanes(tables: Int, bits: Int, dims: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(tables, bits, dims)(rnd.nextGaussian())
  }

  /** Bucket keys for a whole corpus, the codegen path: explode vectors
    * to (id, dim, x), compute all tables x bits hyperplane projections
    * as sum() aggregate columns with literal-array weight lookups
    * (element_at on a constant array is O(1) and codegen'd), then pack
    * sign bits per table. Returns (id, tbl, bkt). One shuffle of
    * tables x bits doubles per vector. */
  def lshBucketsAll(vecs: DataFrame, tables: Int, bits: Int, dims: Int): DataFrame = {
    val hp = hyperplanes(tables, bits, dims)
    val ex = vecs.select(col("id"), posexplode(col("vec")).as(Seq("dim", "x")))
    val projAggs = for (t <- 0 until tables; j <- 0 until bits) yield
      sum(element_at(typedLit(hp(t)(j)), col("dim") + 1) * col("x").cast("double"))
        .as(s"p_${t}_$j")
    val proj = ex.groupBy(col("id")).agg(projAggs.head, projAggs.tail: _*)
    val keyCols = (0 until tables).map { t =>
      (0 until bits).map(j =>
        when(col(s"p_${t}_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"k$t")
    }
    proj.select(col("id") +: keyCols: _*)
      .select(col("id"),
        posexplode(array((0 until tables).map(t => col(s"k$t")): _*))
          .as(Seq("tbl", "bkt")))
  }

  /** Spherical-k-means quantizer trained DRIVER-SIDE on a bounded,
    * deterministic sample (hash-ordered `limit(sampleCap)`). This is the
    * FAISS recipe: at any corpus size the quantizer sees O(sampleCap)
    * vectors, so training cost is constant — one bounded collect plus
    * in-memory Lloyd's iterations — instead of `iters` distributed jobs
    * over the full corpus. Assignment metric is cosine (matches the
    * probe/refine metric). Returns `nlist` (or fewer, if the sample is
    * smaller) centroids. */
  private[scale] def trainQuantizer(vecs: DataFrame, nlist: Int, iters: Int,
                                    seed: Long, sampleCap: Int): Array[Array[Float]] = {
    val sample: Array[Array[Double]] = vecs
      .orderBy(xxhash64(col("id"), lit(seed)), col("id"))
      .limit(sampleCap)
      .select(col("vec")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "cannot train a quantizer on an empty corpus")
    val dims = sample.head.length
    val k = math.min(nlist, sample.length)
    val rnd = new scala.util.Random(seed)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dims) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na > 0 && nb > 0) dot / math.sqrt(na * nb) else 0.0
    }
    def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestSim = Double.NegativeInfinity; var c = 0
      while (c < cents.length) {
        val s = cos(cents(c), v)
        if (s > bestSim) { bestSim = s; best = c }
        c += 1
      }
      best
    }
    var cents = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone).toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(k, dims)(0.0)
      val counts = new Array[Long](k)
      for (v <- sample) {
        val c = nearest(cents, v)
        counts(c) += 1
        var d = 0; while (d < dims) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents.map(_.map(_.toFloat))
  }

  /** IVF (inverted-file) ANN: k-means coarse quantizer -> each vector is
    * indexed under its nearest centroid; a query probes only its
    * `nprobe` most-similar centroids and refines within those lists.
    * Classic FAISS-style recall/cost dial: cost ~ nprobe/nlist of the
    * corpus per query. The quantizer trains on a bounded driver-side
    * sample (see `trainQuantizer`); assignment is one broadcast-join
    * pass with the codegen'd cosine and a map-side-combined argmax —
    * candidate generation is an equi-join on cluster id, never
    * all-pairs. */
  def ivfTopKAll(embeddings: DataFrame, idCol: String, vecCol: String,
                 k: Int, nlist: Int = 16, nprobe: Int = 4,
                 seed: Long = 42, sampleCap: Int = 4096,
                 probeFilter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._

    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    // probe pushdown: the query side shrinks BEFORE centroid scoring and
    // the candidate join, so query-side cost scales with |probes|, not
    // |corpus| (the index side must stay full — it is what's searched).
    // The predicate is over the normalized columns (id, vec).
    val probeVecs = probeFilter.map(vecs.filter).getOrElse(vecs)
    val centArr = trainQuantizer(vecs, nlist, iters = 10, seed, sampleCap)
    val centroids = centArr.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cid", "cvec")

    // Assignment: corpus x nlist cosine scores against broadcast
    // centroids, argmax per id via max_by on (sim, -cid) — partial
    // aggregation collapses the fan-out map-side, and groupBy(id) reuses
    // the repartition(id) exchange, so no extra shuffle of the corpus.
    val assigned = vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        cosineFast(col("vec"), col("cvec")).as("csim"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
        first(col("vec")).as("vec"))
      .select(col("cid"), col("id").as("nid"), col("vec").as("nvec"))

    val probeW = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = probeVecs.select(col("id").as("qid"), col("vec").as("qvec"))
      .crossJoin(broadcast(centroids))
      .select(col("qid"), col("qvec"), col("cid"),
        cosineFast(col("qvec"), col("cvec")).as("csim"))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobe)
      .select("qid", "qvec", "cid")

    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid").asc)
    probes.join(assigned, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(cosineFast(col("qvec"), col("nvec")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid").asc, col("rank").asc)
  }

  /** Distributed Lloyd refinement — the full-corpus scale path layered
    * over the FAISS-style sampled quantizer. `trainQuantizer`'s bounded
    * sample is the right COST recipe at any corpus size, but a 4096-row
    * sample can under-represent a skewed 100 TB corpus; this starts from
    * those centroids and runs `rounds` exact Lloyd iterations over every
    * vector. Per round: one corpus scan (broadcast centroids, codegen'd
    * cosine argmax reusing the q38 assignment shape) plus one
    * explode-form partial-aggregated (cid, dim) sum — the corpus never
    * shuffles; only k x dims aggregated doubles return to the driver,
    * which is driver-sized BY DEFINITION (the centroid table is the
    * model). Same bounded-collect contract as `trainQuantizer`.
    *
    * Returns (cid, cvec, n_members, cohesion) where cohesion is the
    * mean cosine of a centroid's members to it — the per-list quality
    * dial that decides nprobe. No SQL oracle exists (iterative,
    * seed-initialized); invariants live in SimilaritySpec. */
  def kmeansRefine(embeddings: DataFrame, idCol: String, vecCol: String,
                   nlist: Int = 16, rounds: Int = 3, seed: Long = 42,
                   sampleCap: Int = 4096): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    var cents = trainQuantizer(vecs, nlist, iters = 10, seed, sampleCap)
    val dims = cents.head.length
    for (_ <- 0 until rounds) {
      val centroids = cents.zipWithIndex
        .map { case (c, i) => (i, c) }.toSeq.toDF("cid", "cvec")
      val sums = vecs.crossJoin(broadcast(centroids))
        .select(col("id"), col("vec"), col("cid"),
          cosineFast(col("vec"), col("cvec")).as("csim"))
        .groupBy(col("id"))
        .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
          first(col("vec")).as("vec"))
        .select(col("cid"), posexplode(col("vec")).as(Seq("d", "x")))
        .groupBy(col("cid"), col("d"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val acc = Array.fill(cents.length, dims)(0.0)
      val cnt = new Array[Long](cents.length)
      sums.foreach { r =>
        acc(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
        cnt(r.getInt(0)) = r.getLong(3)
      }
      cents = Array.tabulate(cents.length)(c =>
        if (cnt(c) > 0) acc(c).map(v => (v / cnt(c)).toFloat) else cents(c))
    }
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cid", "cvec")
    vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("cid"), col("cvec"),
        cosineFast(col("vec"), col("cvec")).as("csim"))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cid"), col("cvec"), col("csim")),
        struct(col("csim"), -col("cid"))).as("b"))
      .select(col("b.cid").as("cid"), col("b.cvec").as("cvec"),
        col("b.csim").as("csim"))
      .groupBy(col("cid"))
      .agg(first(col("cvec")).as("cvec"),
        count(lit(1)).as("n_members"),
        round(avg(col("csim")), 6).as("cohesion"))
      .orderBy(col("cid"))
  }

  /** Neighborhood profile for a bounded probe set: exact max cosine and
    * count of neighbors at/above `simThreshold` per probe — the
    * diagnostic run before choosing ANN parameters (nlist/nprobe, LSH
    * bits) or a near-dup threshold. Probes broadcast; the corpus is
    * scanned once with the codegen'd cosine; aggregates are
    * order-independent (max/count), so results are deterministic. Cost
    * is |corpus| x |probes| — bound the probe set, not the corpus. */
  def similarityProfile(embeddings: DataFrame, idCol: String, vecCol: String,
                        maxProbeId: Long, simThreshold: Double): DataFrame = {
    val corpus = embeddings.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val probes = embeddings.filter(col(idCol) < maxProbeId)
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    corpus.join(broadcast(probes), col("qid") =!= col("nid"))
      .select(col("qid"), cosineFast(col("qvec"), col("nvec")).as("cos"))
      .groupBy(col("qid")).agg(
        round(max(col("cos")), 6).as("max_cos"),
        sum(when(col("cos") >= simThreshold, 1L).otherwise(0L)).as("n_above"))
      .orderBy(col("qid"))
  }

  /** Per-class embedding centroids in EXPLODE form: (label, dim) ->
    * mean component. One posexplode + one hash aggregate — partial
    * aggregation combines map-side, the shuffle carries |labels| x dims
    * rows, and no per-row array lambda runs interpreted (the HOF
    * `aggregate()` form would). Centroids feed classifier probes,
    * per-class drift monitoring, and IVF seeding at any corpus size. */
  def labelCentroids(embeddings: DataFrame, labelCol: String,
                     vecCol: String): DataFrame =
    embeddings
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), round(avg(col("v")), 6).as("centroid"))
      .orderBy(col("label"), col("dim"))

  /** Embedding-cosine near-duplicate pairs (the dedup-by-embedding
    * method): LSH-bucketed candidates refined to pairs above a cosine
    * threshold. Returns (id_a, id_b, cos_sim), id_a < id_b.
    *
    * `pairCap` bounds each vector's pair list: candidates come from
    * `lshTopKAll(k = pairCap)`, so a vector with more than `pairCap`
    * neighbors above the threshold silently truncates to its pairCap
    * MOST similar — fine for dedup-clustering (transitive closure
    * re-links the tail through the kept strongest edges) but a
    * completeness caveat for pair-level audits; raise `pairCap` (or use
    * `exactEmbeddingPairs` as the audit floor) when every pair matters. */
  def embeddingNearDups(embeddings: DataFrame, idCol: String, vecCol: String,
                        minCosine: Double, tables: Int = 8, bits: Int = 8,
                        dims: Int = 64, pairCap: Int = 50): DataFrame =
    lshTopKAll(embeddings, idCol, vecCol, k = pairCap, tables, bits, dims)
      .filter(col("cos_sim") >= minCosine && col("qid") < col("nid"))
      .select(col("qid").as("id_a"), col("nid").as("id_b"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("id_a").asc, col("id_b").asc)

  /** Exact embedding-cosine pairs over a bounded probe slice — the
    * oracle-checkable exact twin of `embeddingNearDups` (the q63↔q25
    * pattern, in embedding space): the LSH tier is the scale path,
    * this is the audit floor its recall is judged against. The probe
    * side is a bounded id range, broadcast; the corpus side streams
    * through the native codegen'd cosine — cost is
    * O(|corpus| x |probe|), linear in the corpus for a fixed probe
    * budget, never all-pairs. Matching rounds BEFORE the threshold on
    * both engines so the filter sees identical 6dp values. */
  def exactEmbeddingPairs(embeddings: DataFrame, idCol: String,
                          vecCol: String, minCosine: Double,
                          probeMaxId: Long): DataFrame = {
    val probe = embeddings.filter(col(idCol) < probeMaxId)
      .select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    embeddings.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
      .join(broadcast(probe), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFast(col("__va"), col("__vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PORTABLE hyperplane LSH near-neighbor pairs — the q152 move
    * (externally-auditable sketch parameters) applied to embedding LSH:
    * every step is integer-exact and re-derivable by any engine with
    * md5, so DuckDB replicates buckets, candidate set, and refine
    * bit-for-bit. That gives the hyperplane-LSH tier an ORACLE ROW
    * where the production tier ([[lshTopKAll]]) is spec-only:
    *
    *  - hyperplane weights are INTEGERS from the md5 family:
    *    w(t,j,d) = (uint32 of md5("t:j:d") hex prefix) % 2001 - 1000,
    *    computed driver-side here and by `'0x'||substr(md5(...),1,8)`
    *    casts in SQL — same 8 hex chars, same lattice point;
    *  - coordinates quantize by floor(x * 1e6) — float->double cast and
    *    the multiply are IEEE-exact and identical cross-engine, floor
    *    has no rounding-mode ambiguity (round() half-up vs half-even
    *    would not);
    *  - projections are BIGINT sums of w * xq — exact and associative,
    *    so no float-sum ordering can flip a sign bit near zero (THE
    *    hazard that makes naive float hyperplane LSH non-portable);
    *  - bucket key per table = sum of 2^j over positive projections;
    *    candidates = same-(table, bucket) id pairs, distinct;
    *  - refine = exact cosine on the ORIGINAL vectors rounded to 6dp
    *    (the q136-proven portable construct), thresholded.
    *
    * Same scale shape as [[lshTopKAll]]: bucket equi-join, id-only
    * candidates, candidate-bounded refine — never n². The integer
    * lattice changes the hyperplane DISTRIBUTION (uniform cube, not
    * Gaussian), which only shifts banded recall slightly; recall keeps
    * its floor in SimilaritySpec. */
  def lshPortablePairs(embeddings: DataFrame, idCol: String, vecCol: String,
                       tables: Int = 4, bits: Int = 8, dims: Int = 64,
                       minCosine: Double = 0.3): DataFrame = {
    // the SAME integers the SQL twin derives with
    // CAST('0x' || substr(md5(t||':'||j||':'||d), 1, 8) AS UBIGINT) % 2001 - 1000
    // (d is 1-based to match generate_subscripts)
    val w: Array[Array[Array[Long]]] = Array.tabulate(tables, bits, dims) {
      (t, j, d0) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$t:$j:${d0 + 1}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.substring(0, 8)
        java.lang.Long.parseLong(hex, 16) % 2001L - 1000L
    }
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val ex = vecs
      .select(col("id"), posexplode(col("vec")).as(Seq("dim", "x")))
      .select(col("id"), col("dim"),
        floor(col("x").cast("double") * 1e6).cast("long").as("xq"))
    val projAggs = for (t <- 0 until tables; j <- 0 until bits) yield
      sum(element_at(typedLit(w(t)(j)), col("dim") + 1) * col("xq"))
        .as(s"p_${t}_$j")
    val proj = ex.groupBy(col("id")).agg(projAggs.head, projAggs.tail: _*)
    val keyCols = (0 until tables).map { t =>
      (0 until bits).map(j =>
        when(col(s"p_${t}_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"k$t")
    }
    // materialized: both sides of the candidate self-join read the
    // buckets frame — unmaterialized, the corpus-wide tables*bits
    // projection aggregate runs twice (the plan shape lshTopKAll's own
    // checkpoint exists to avoid)
    val buckets = proj.select(col("id") +: keyCols: _*)
      .select(col("id"),
        posexplode(array((0 until tables).map(t => col(s"k$t")): _*))
          .as(Seq("tbl", "bkt")))
      .localCheckpoint(true)
    val cand = buckets.select(col("tbl"), col("bkt"), col("id").as("id_a"))
      .join(buckets.select(col("tbl"), col("bkt"), col("id").as("id_b")),
        Seq("tbl", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(vecs.select(col("id").as("id_a"), col("vec").as("__va")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosineFast(col("__va"), col("__vb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** PORTABLE IVF coarse-quantizer assignment — the auditable anchor
    * for the q38/q94 family. [[trainQuantizer]] is Lloyd-iterated from
    * a seeded sample, so no external engine can re-derive its
    * centroids; this tier replaces training with a DETERMINISTIC,
    * engine-replicable pick — the `nlist` corpus vectors with the
    * lexicographically smallest `md5(id)` (an unbiased pseudo-random
    * sample any md5-capable engine reproduces) — and assigns every
    * vector to its argmax-cosine centroid, cosine rounded to 6dp (the
    * q136-proven portable construct) with min-cid tie-break. A green
    * oracle row proves the ASSIGNMENT machinery (broadcast centroid
    * scoring, argmax, tie-breaking) exact end-to-end; the production
    * tiers keep the trained quantizer for list balance.
    *
    * Scale shape is exactly [[ivfTopKAll]]'s assignment stage: corpus
    * x nlist scores against BROADCAST centroids, map-side-combined
    * argmax riding the repartition(id) exchange — the corpus never
    * shuffles for the argmax and never joins itself. */
  def ivfAssignPortable(embeddings: DataFrame, idCol: String,
                        vecCol: String, nlist: Int = 8): DataFrame =
    portableAssign(embeddings, idCol, vecCol, nlist, keepVec = false)
      .select(col("id").as("vec_id"), col("cid").as("centroid_id"),
        col("csim").as("cos_sim"))
      .orderBy(col("vec_id"))

  /** The ONE deterministic pick + assignment construct behind both
    * portable tiers ([[ivfAssignPortable]] and [[semanticDedupPortable]])
    * — shared so a tie-break or rounding change can never diverge the
    * q158 and q164 oracles. Centroids are the `nlist` vectors with the
    * lexicographically smallest md5(id) (TakeOrderedAndProject — never
    * a global sort); every vector assigns to its argmax-6dp-cosine
    * centroid, ties to the lowest cid, argmax riding the
    * repartition(id) exchange map-side-combined. `keepVec` carries the
    * vector through the aggregate only when the caller needs it (the
    * within-cluster pair join) — the assignment-only tier shuffles ids
    * and scores, not embeddings. */
  private[scale] def portableAssign(embeddings: DataFrame, idCol: String,
                             vecCol: String, nlist: Int,
                             keepVec: Boolean,
                             cents: Option[DataFrame] = None): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    // callers that already hold the centroid frame pass it in — the
    // corpus is TakeOrdered'd for the pick at most once per query
    val centroids = cents.getOrElse(md5CentroidPick(vecs, nlist))
    val scored = vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        round(cosineFast(col("vec"), col("cvec")), 6).as("csim"))
    val best = max_by(struct(col("cid"), col("csim")),
      struct(col("csim"), -col("cid"))).as("best")
    val agged =
      if (keepVec)
        scored.groupBy(col("id")).agg(best, first(col("vec")).as("vec"))
      else
        scored.drop("vec").groupBy(col("id")).agg(best)
    agged.select(
      Seq(col("id")) ++ (if (keepVec) Seq(col("vec")) else Nil) ++
        Seq(col("best.cid").as("cid"), col("best.csim").as("csim")): _*)
  }

  /** PORTABLE Product-Quantization encode (Jégou/Douze/Schmid TPAMI'11
    * — the memory answer for billion-vector ANN): `dims` splits into
    * `m` subspaces of dims/m; each subspace gets a `codes`-entry
    * codebook and every vector stores one code per subspace — 8 bytes
    * a vector at the defaults instead of 256, the compression that
    * lets a 100 TB embedding corpus fit an ANN serving tier.
    *
    * The q158 portability move applied to PQ: production PQ trains
    * per-subspace k-means (no external engine can re-derive it), so
    * the codebook here is the DETERMINISTIC md5 pick — the `codes`
    * corpus vectors with the smallest md5(id), code index = md5 rank —
    * restricted to each subspace. Everything downstream is
    * integer-exact: coordinates quantize by floor(x*1e6) (the q156
    * construct), squared distances are BIGINT sums, argmin ties break
    * to the lowest code — so DuckDB replays the full encode
    * bit-for-bit and q177 gets a hash-checked oracle row for the
    * ASSIGNMENT machinery the trained tier shares.
    *
    * Shape: coordinates explode once with (sub, pos) keys riding
    * along; the codes x dims codebook broadcasts; the per-(vector,
    * subspace, code) distance aggregate is map-side combined, then a
    * second (vector, subspace) aggregate takes the argmin. The corpus
    * never self-joins; shuffled rows are n*m*codes longs, not vectors.
    *
    * Output: (vec_id, sub, code, sqd) — n*m rows. */
  def pqEncodePortable(embeddings: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, codes: Int = 16,
                       dims: Int = 64): DataFrame = {
    val (sx, cb) = pqParts(embeddings, idCol, vecCol, m, codes, dims)
    pqAssign(sx, cb)
      .select(col("id").as("vec_id"),
        col("sub").cast("long").as("sub"),
        col("code").cast("long").as("code"), col("sqd"))
      .orderBy(col("vec_id"), col("sub"))
  }

  /** PQ Asymmetric Distance Computation top-k (the ADC of the same
    * paper, the FAISS serving path): the probe stays EXACT while the
    * corpus is represented only by its codes. Per probe, a lookup
    * table of (subspace, code) -> squared distance between the probe's
    * exact subvector and that codebook entry — nprobe*m*codes rows,
    * built once and BROADCAST — and every corpus vector's approximate
    * distance is the sum of m table lookups: a join on (sub, code)
    * plus one map-side-combined aggregate. No vector ever moves to
    * score a candidate; that is the entire point of PQ at scale.
    *
    * Probes are the `nprobe` LARGEST-md5 vectors (the mirror image of
    * the codebook's smallest-md5 pick — disjoint from it on any corpus
    * with more than codes + nprobe rows). The per-probe ranking window
    * is the flat-PQ tier; at corpus scale compose with [[ivfTopKAll]]'s
    * coarse lists first (IVF-PQ) so each probe ranks one inverted
    * list, not the corpus.
    *
    * Integer-exact end to end, so q178's oracle re-derives pick,
    * encode, LUT, and ranking — bit-for-bit.
    *
    * Output: (probe_id, rank<=k, vec_id, adc_dist). */
  def pqAdcTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                nprobe: Int = 5, k: Int = 10,
                m: Int = 8, codes: Int = 16, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (sx, cb) = pqParts(embeddings, idCol, vecCol, m, codes, dims)
    val enc = pqAssign(sx, cb)
    val probeIds = md5ProbePick(embeddings, idCol, nprobe)
    val lut = pqProbeLut(sx, cb, probeIds)
    val adc = enc
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("probe_id"), col("id"))
      .agg(sum(col("lut")).as("adc_dist"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("id").asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("id").as("vec_id"),
        col("adc_dist"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** The q158 deterministic coarse-centroid pick, shared by every
    * portable tier that needs the centroid FRAME (assignment, probe
    * list selection): the `n` vectors with the smallest md5(id),
    * TakeOrderedAndProject — never a global sort. */
  private def md5CentroidPick(vecs: DataFrame, n: Int): DataFrame =
    vecs.orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      .limit(n)
      .select(col("id").as("cid"), col("vec").as("cvec"))

  /** The `nprobe` LARGEST-md5 probe pick — the mirror image of
    * [[md5CentroidPick]]; ONE site shared by the flat-ADC and IVF-PQ
    * tiers so probe ordering can never diverge between them. */
  private def md5ProbePick(embeddings: DataFrame, idCol: String,
                           nprobe: Int): DataFrame =
    embeddings.select(col(idCol).as("probe_id"))
      .orderBy(md5(col("probe_id").cast("string").cast("binary")).desc,
        col("probe_id").desc)
      .limit(nprobe)

  /** The per-probe ADC lookup table (exact probe subvectors x full
    * codebook -> BIGINT distances) — ONE construction site for q178
    * and q179, the pqParts no-divergence discipline. */
  private def pqProbeLut(sx: DataFrame, cb: DataFrame,
                         probeIds: DataFrame): DataFrame =
    sx.withColumnRenamed("id", "probe_id")
      .join(broadcast(probeIds), Seq("probe_id"))
      .join(broadcast(cb), Seq("sub", "pos"))
      .select(col("probe_id"), col("sub"), col("code"),
        ((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("sq"))
      .groupBy(col("probe_id"), col("sub"), col("code"))
      .agg(sum(col("sq")).as("lut"))

  /** IVF-PQ top-k — the two portable index tiers COMPOSED into the
    * actual billion-vector serving path (FAISS `IndexIVFPQ`): the
    * coarse quantizer (q158's md5-pick + argmax-cosine lists) prunes
    * the corpus to each probe's `nprobeLists` closest inverted lists,
    * and PQ ADC (q178's broadcast LUT) ranks ONLY those candidates —
    * so per-probe cost is the probed lists' population, not the
    * corpus, and the ranking window never sees unprobed vectors.
    *
    * Every stage is a proven-portable construct (6dp-rounded cosines
    * for list selection, BIGINT lattice ADC for ranking), so the whole
    * serving path re-derives in DuckDB — q179 is the oracle row that
    * pins coarse pruning and fine ranking COMPOSED, the property
    * neither q158 nor q178 alone can check: a vector outside the
    * probed lists must never appear, however close its ADC distance.
    *
    * Output: (probe_id, rank<=k, vec_id, list_id, adc_dist). Recall
    * vs flat ADC is governed by nprobeLists/nlist exactly as q38's
    * nprobe dial; SimilaritySpec pins full-probe == flat equality. */
  def ivfPqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                nlist: Int = 8, nprobeLists: Int = 2,
                nprobe: Int = 5, k: Int = 10,
                m: Int = 8, codes: Int = 16, dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val cents = md5CentroidPick(vecs, nlist)
    // coarse lists: every vector's argmax-cosine centroid (q158),
    // reusing the centroid frame picked above (no second TakeOrdered)
    val lists = portableAssign(embeddings, idCol, vecCol, nlist,
      keepVec = false, cents = Some(cents)).select(col("id"), col("cid"))
    // PQ encode (q177)
    val (sx, cb) = pqParts(embeddings, idCol, vecCol, m, codes, dims)
    val enc = pqAssign(sx, cb)
    // probes: the nprobe largest-md5 vectors (q178's mirror pick)
    val probeIds = md5ProbePick(embeddings, idCol, nprobe)
    // each probe's nprobeLists closest centroids, 6dp cosine, min-cid ties
    val listW = Window.partitionBy(col("probe_id"))
      .orderBy(col("cs").desc, col("cid").asc)
    val plists = vecs
      .join(broadcast(probeIds), col("id") === col("probe_id"))
      .select(col("probe_id"), col("vec"))
      .crossJoin(broadcast(cents))
      .select(col("probe_id"), col("cid"),
        round(cosineFast(col("vec"), col("cvec")), 6).as("cs"))
      .withColumn("lrn", row_number().over(listW))
      .filter(col("lrn") <= nprobeLists)
      .select(col("probe_id"), col("cid"))
    val lut = pqProbeLut(sx, cb, probeIds)
    // candidates = vectors of the probed lists only; ADC-rank them
    val cand = lists.join(broadcast(plists), Seq("cid"))
    val adc = cand
      .join(enc, Seq("id"))
      .join(broadcast(lut), Seq("probe_id", "sub", "code"))
      .groupBy(col("probe_id"), col("id"), col("cid"))
      .agg(sum(col("lut")).as("adc_dist"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_dist").asc, col("id").asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("id").as("vec_id"),
        col("cid").as("list_id"), col("adc_dist"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Shared PQ pieces: integer subspace coordinates for the whole
    * corpus and the broadcastable md5-ranked codebook — one
    * construction site so the q177 and q178 oracles can never diverge
    * on pick, quantization, or code numbering. */
  private def pqParts(embeddings: DataFrame, idCol: String, vecCol: String,
                      m: Int, codes: Int,
                      dims: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(dims % m == 0, s"dims=$dims must split evenly into m=$m subspaces")
    val d = dims / m
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val sx = vecs
      .select(col("id"), posexplode(col("vec")).as(Seq("p", "x")))
      .select(col("id"),
        (col("p") / d).cast("int").as("sub"),
        (col("p") % d).cast("int").as("pos"),
        floor(col("x").cast("double") * 1e6).cast("long").as("xq"))
    val pickW = Window.orderBy(
      md5(col("code_src").cast("string").cast("binary")), col("code_src"))
    val codebookIds = vecs
      .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
      .limit(codes)
      .select(col("id").as("code_src"))
      // partition-less window over the <= codes-row pick frame only
      .withColumn("code", row_number().over(pickW) - 1)
    val cb = sx
      .withColumnRenamed("id", "code_src")
      .join(broadcast(codebookIds), Seq("code_src"))
      .select(col("code"), col("sub"), col("pos"), col("xq").as("cq"))
    (sx, cb)
  }

  /** Argmin-code assignment over the exploded integer coordinates:
    * distances partial-aggregate map-side over `pos`, then a second
    * (id, sub) aggregate takes min_by with the lowest-code tie-break. */
  private def pqAssign(sx: DataFrame, cb: DataFrame): DataFrame =
    sx.join(broadcast(cb), Seq("sub", "pos"))
      .select(col("id"), col("sub"), col("code"),
        ((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("sq"))
      .groupBy(col("id"), col("sub"), col("code"))
      .agg(sum(col("sq")).as("sqd"))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(struct(col("code"), col("sqd")),
        struct(col("sqd"), col("code"))).as("best"))
      .select(col("id"), col("sub"),
        col("best.code").as("code"), col("best.sqd").as("sqd"))

  /** ANN top-k for ALL vectors at once (the scale path): bucket-join
    * candidates from L tables, refine with exact cosine, rank per query.
    * Output: (query_id, neighbor_id, cos_sim, rank<=k). */
  def lshTopKAll(embeddings: DataFrame, idCol: String, vecCol: String,
                 k: Int, tables: Int = 8, bits: Int = 10,
                 dims: Int = 64,
                 probeFilter: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Repartition by id first: a single-split corpus would serialize the
    // projection aggregate on one core otherwise.
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    // Bucket rows and the candidate join are ID-ONLY — vectors are never
    // replicated through the band explode or deduped through distinct();
    // they re-join only for the refine, which is bounded by the candidate
    // count, not tables x corpus. The refine itself is the native
    // codegen'd cosine expression.
    // materialized ONLY when no probe filter is given: there the same
    // bucket rows feed both candidate-join sides, and unmaterialized
    // the projection aggregate over every vector runs twice. With a
    // probe filter the full-corpus buckets have a single consumer (the
    // searched side), so an eager checkpoint would materialize the
    // full-corpus projection up front on exactly the path the probe
    // pushdown keeps |probes|-scale.
    val fullBuckets = lshBucketsAll(vecs, tables, bits, dims)
    val withBuckets =
      if (probeFilter.isEmpty) fullBuckets.localCheckpoint(true)
      else fullBuckets
    // probe pushdown: bucket only the probe side when a filter is given —
    // projection aggregates, candidate join, and refine then scale with
    // |probes| on the query side while the searched side stays full.
    // The predicate is over the normalized columns (id, vec).
    val probeBuckets = probeFilter
      .map(f => lshBucketsAll(vecs.filter(f), tables, bits, dims))
      .getOrElse(withBuckets)
    val probeVecs = probeFilter.map(vecs.filter).getOrElse(vecs)
    val cands = probeBuckets.select(col("tbl"), col("bkt"), col("id").as("qid"))
      .join(withBuckets.select(col("tbl"), col("bkt"), col("id").as("nid")),
        Seq("tbl", "bkt"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
      .distinct()
    val scored = cands
      .join(probeVecs.select(col("id").as("qid"), col("vec").as("qvec")), Seq("qid"))
      .join(vecs.select(col("id").as("nid"), col("vec").as("nvec")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(cosineFast(col("qvec"), col("nvec")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy(col("qid").asc, col("rank").asc)
  }

  /** Recall@k evaluation of the ANN indexes against the exact answer —
    * the index-quality report that belongs NEXT TO any approximate
    * index in production (an ANN whose recall nobody measures is a
    * wrong-answers generator with good latency). For every probe, the
    * exact top-k comes from a broadcast-probe brute-force scan (q51's
    * cost shape: |probes| x corpus, the honest baseline); each method's
    * top-k set is intersected per probe and the report carries mean
    * and worst-case recall per method.
    *
    * Scale: both ANN sides use the probe pushdown, so the whole report
    * costs O(|probes| x corpus) on the exact side and the usual
    * bucketed costs on the approximate sides — a fixed, budgetable
    * evaluation pass, run on a sampled probe set in practice. */
  def annRecallReport(embeddings: DataFrame, idCol: String, vecCol: String,
                      k: Int = 5, maxProbeId: Long = 20L,
                      tables: Int = 8, bits: Int = 8,
                      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val probes = vecs.filter(col("id") < maxProbeId)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("nid").asc)
    // pinned: BOTH method legs below join against the exact top-k —
    // unpinned, each leg replans the |probes| x corpus brute-force
    // scan (guide §5 reuse); the pinned frame is <= |probes| x k rows
    val exact = vecs.join(broadcast(probes))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        round(cosineFast(col("vec"), col("qvec")), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"))
      .localCheckpoint(true)
    def recallOf(method: String, approx: DataFrame): DataFrame =
      exact
        .join(approx.select(col("qid"), col("nid"), lit(1L).as("__hit")),
          Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") / k)
          .as("recall"))
        .agg(count(lit(1)).as("n_probes"),
          round(avg(col("recall")), 4).as("avg_recall"),
          round(min(col("recall")), 4).as("min_recall"))
        .select(lit(method).as("method"), col("n_probes"),
          col("avg_recall"), col("min_recall"))
    val pf = Some(col("id") < maxProbeId)
    recallOf("lsh",
        lshTopKAll(embeddings, idCol, vecCol, k, tables, bits, probeFilter = pf))
      .unionAll(recallOf("ivf",
        ivfTopKAll(embeddings, idCol, vecCol, k, nlist, nprobe, probeFilter = pf)))
      .orderBy(col("method"))
  }

  /** MATRYOSHKA truncation fidelity: how much top-k retrieval quality
    * survives serving only the FIRST `dPrime` embedding dimensions
    * (Kusupati et al. 2022 "Matryoshka Representation Learning" — MRL
    * models front-load information so a prefix is a valid low-dim
    * embedding; truncate-and-serve is the standard latency/memory dial
    * and this report is the evaluation that must sit next to it).
    * Per probe: exact cosine top-k on full dims vs top-k on the
    * dPrime-prefix, report the overlap — recall@k of the truncated
    * serving path against the full-dimension ground truth.
    *
    * Deterministic and oracle-checkable end to end: probes are the
    * `nProbes` LARGEST-md5 ids (the q178 pick), both rankings order by
    * (6dp cosine desc, id asc), overlap is an integer.
    *
    * Scale shape: probes broadcast (one corpus scan computes BOTH
    * scores — the prefix slice is a projection, not a second pass);
    * per-probe top-k is a rank-filtered window that Catalyst rewrites
    * into Partial+Final WindowGroupLimit (Spark 3.5+
    * InferWindowGroupLimit): every input split keeps only its own
    * top-k per probe BEFORE the exchange, so the probe-keyed sort
    * never sees a corpus-sized partition — the two-stage pruning a
    * manual salted pre-rank would hand-build, done by the optimizer
    * with one exchange instead of two (pinned in PlanShapeSpec). */
  def matryoshkaRecall(embeddings: DataFrame, idCol: String, vecCol: String,
                       dPrime: Int, k: Int = 10,
                       nProbes: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(dPrime >= 1, "dPrime must be >= 1")
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val probes = vecs
      .orderBy(md5(col("id").cast("string").cast("binary")).desc,
        col("id").desc)
      .limit(nProbes)
      .select(col("id").as("probe_id"), col("vec").as("pvec"))
    val scored = vecs.join(broadcast(probes))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id"),
        round(cosineFast(col("vec"), col("pvec")), 6).as("cos_full"),
        round(cosineFast(slice(col("vec"), 1, dPrime),
          slice(col("pvec"), 1, dPrime)), 6).as("cos_trunc"))
    def topK(c: String): DataFrame = {
      val fin = Window.partitionBy(col("probe_id"))
        .orderBy(col(c).desc, col("id").asc)
      scored.withColumn("__r", row_number().over(fin))
        .filter(col("__r") <= k)
        .select(col("probe_id"), col("id"))
    }
    topK("cos_full")
      .join(topK("cos_trunc").withColumn("__hit", lit(1L)),
        Seq("probe_id", "id"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("overlap"))
      .withColumn("k", lit(k.toLong))
      .withColumn("recall",
        round(col("overlap").cast("double") / k, 6))
      .select(col("probe_id"), col("k"), col("overlap"), col("recall"))
      .orderBy(col("probe_id"))
  }

  /** SEMANTIC drift gate: PSI over cluster-share distributions of two
    * embedding corpora — q142's population-stability arithmetic with
    * the bin COMPUTED by semantic clustering instead of a value
    * histogram. A crawl refresh whose scalar stats look stable can
    * still have shifted topically (more spam, less code, a new
    * language); assigning both snapshots to the SAME centroids and
    * comparing cluster shares catches exactly that class of drift, and
    * the standard PSI thresholds (0.1 watch / 0.25 act, summed over
    * bins) apply unchanged.
    *
    * Centroids come from the REFERENCE side only (the q158 md5 pick) —
    * drift must be measured against the baseline's structure, not a
    * moving mixture of both. Deterministic end to end, so the whole
    * gate — pick, both assignments, shares, PSI terms — replays in
    * external SQL (q211).
    *
    * Scale shape: two q158 assignment passes (broadcast centroids,
    * map-side-combined argmax — vectors never shuffle) into a
    * union→aggregate of (cid, side) pairs; the PSI share windows run
    * over the ≤nlist-row aggregate (the q06 share-of-total shape).
    * Output: (bin, n_base, n_next, p_base, p_next, psi_term). */
  def semanticDriftPsi(ref: DataFrame, cur: DataFrame, idCol: String,
                       vecCol: String, nlist: Int = 8,
                       eps: Double = 1e-6): DataFrame = {
    val refVecs = ref.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val cents = md5CentroidPick(refVecs, nlist)
    def assigned(df: DataFrame) =
      portableAssign(df, idCol, vecCol, nlist, keepVec = false,
        cents = Some(cents))
    val counts = assigned(ref)
      .select(col("cid").as("bin"), lit("base").as("__side"))
      .unionByName(assigned(cur)
        .select(col("cid").as("bin"), lit("next").as("__side")))
      .groupBy(col("bin")).agg(
        sum(when(col("__side") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__side") === "next", 1L).otherwise(0L)).as("n_next"))
    etlmudah.analytics.Profile.psiFromCounts(counts, eps)
  }

  /** SemDeDup-style semantic deduplication (cluster-then-dedup, after
    * the published LAION/C4 recipe): every vector is assigned to its
    * nearest coarse-quantizer centroid, and cosine near-duplicates are
    * searched WITHIN each cluster only — the quadratic refine is
    * bounded by cluster size, which is exactly the cost envelope the
    * method is built on (k clusters make per-cluster cost ~(n/k)^2,
    * never n^2; at 100 TB you raise `nlist`, not the join size).
    *
    * Output is the DROP LIST: (vec_id, kept_by, max_cos) where a
    * vector drops when a cluster-mate with a SMALLER id sits at/above
    * `simThreshold`, and `kept_by` is its most-similar such mate (ties
    * -> lowest id). The min-id survivor rule makes the result
    * deterministic, and it guarantees no two SURVIVORS in the same
    * cluster are >= threshold (if x < y both survived with cos(x,y) >=
    * t, y would have dropped — contradiction).
    *
    * `maxClusterSize` guards the quadratic against a degenerate
    * quantizer: oversized clusters are capped to a deterministic
    * hash-ordered slice (the same contract as the LSH bucket cap in
    * Dedup). No SQL oracle exists (k-means assignment has no DuckDB
    * twin); precision/containment/determinism invariants live in
    * SimilaritySpec. */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
                    simThreshold: Double, nlist: Int = 16,
                    seed: Long = 42, sampleCap: Int = 4096,
                    maxClusterSize: Int = 100000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .repartition(col("id"))
    val centArr = trainQuantizer(vecs, nlist, iters = 10, seed, sampleCap)
    val centroids = centArr.zipWithIndex
      .map { case (c, i) => (i, c) }.toSeq.toDF("cid", "cvec")
    // q38's assignment shape: broadcast centroids, codegen'd cosine,
    // map-side-combined argmax reusing the repartition(id) exchange
    val assigned = vecs.crossJoin(broadcast(centroids))
      .select(col("id"), col("vec"), col("cid"),
        cosineFast(col("vec"), col("cvec")).as("csim"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("csim"), -col("cid"))).as("cid"),
        first(col("vec")).as("vec"))
    val capped = assigned.withColumn("__rn",
        row_number().over(Window.partitionBy(col("cid"))
          .orderBy(xxhash64(col("id"), lit(seed)), col("id"))))
      .filter(col("__rn") <= maxClusterSize).drop("__rn")
    val left = capped.select(col("cid"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val right = capped.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    left.join(right, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b").as("vec_id"), col("id_a").as("keep_id"),
        round(cosineFast(col("vec_a"), col("vec_b")), 6).as("cos"))
      .filter(col("cos") >= simThreshold)
      .groupBy(col("vec_id"))
      .agg(max_by(col("keep_id"), struct(col("cos"), -col("keep_id")))
          .as("kept_by"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** PORTABLE SemDeDup twin — [[semanticDedup]] with the trained
    * quantizer replaced by [[ivfAssignPortable]]'s deterministic
    * md5-ranked centroid pick, and every cosine rounded to 6dp before
    * any comparison (the q136/q158-proven portable constructs). The
    * drop rule is NON-iterative — b drops iff SOME cluster-mate a < b
    * sits at/above the threshold, whether or not a itself drops — so
    * the whole pipeline (pick, assignment, within-cluster pairs,
    * drop list) re-derives in plain SQL: the semantic-dedup tier
    * gains an oracle row while q100 keeps the trained quantizer for
    * list balance. Same scale shape as [[semanticDedup]]: broadcast
    * centroids, map-side argmax riding repartition(id), per-cluster
    * quadratic bounded by assignment. */
  def semanticDedupPortable(embeddings: DataFrame, idCol: String,
                            vecCol: String, simThreshold: Double,
                            nlist: Int = 8): DataFrame = {
    // materialized: both sides of the within-cluster pair join read the
    // assignment — unmaterialized, the broadcast-centroid crossJoin +
    // corpus argmax would run twice
    val assigned = portableAssign(embeddings, idCol, vecCol, nlist,
        keepVec = true)
      .localCheckpoint(true)
    val left = assigned.select(col("cid"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val right = assigned.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    left.join(right, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b").as("vec_id"), col("id_a").as("keep_id"),
        round(cosineFast(col("vec_a"), col("vec_b")), 6).as("cos"))
      .filter(col("cos") >= simThreshold)
      .groupBy(col("vec_id"))
      .agg(max_by(col("keep_id"), struct(col("cos"), -col("keep_id")))
          .as("kept_by"),
        max(col("cos")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  /** Symmetric per-vector int8 quantization fidelity report — the sizing
    * study behind every quantized ANN index (4x memory cut vs float32):
    * each vector is scaled by max|x|/127, elements round to [-127,127],
    * and the report aggregates reconstruction error per label so the
    * drop in fidelity is visible per class before committing the index.
    *
    * Shape: posexplode -> per-vector max|x| via a window over the id
    * (one shuffle, reused by the aggregate) -> per-element |x - q*scale|
    * -> one hash aggregate per label. All codegen'd; no array HOFs
    * (CodegenFallback), no vector ever collected. Rounding is
    * half-away-from-zero on both engines (Spark BigDecimal HALF_UP,
    * DuckDB round), so `q` is oracle-exact. */
  def quantizeInt8Report(embeddings: DataFrame, idCol: String,
                         vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = embeddings.repartition(col(idCol))
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("i", "x")))
      .select(col("id"), col("label"), col("x").cast("double").as("x"))
    val scale = (max(abs(col("x"))).over(Window.partitionBy(col("id"))) /
      lit(127.0)).as("scale")
    val q = when(col("scale") === 0d, lit(0d))
      .otherwise(round(col("x") / col("scale"), 0))
    ex.select(col("id"), col("label"), col("x"), scale)
      .select(col("label"), col("x"), col("scale"), q.as("q"))
      .withColumn("err", abs(col("x") - col("q") * col("scale")))
      .groupBy(col("label")).agg(
        count(lit(1)).as("n_values"),
        // avg over doubles depends on partial-agg combine order; 6dp is
        // the parity-safe precision (max is order-independent — 9dp holds)
        round(avg(col("err")), 6).as("avg_abs_err"),
        round(max(col("err")), 9).as("max_abs_err"),
        round(avg(abs(col("q"))), 4).as("avg_abs_q"))
      .orderBy(col("label"))
  }
}
