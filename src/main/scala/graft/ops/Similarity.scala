package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding
import org.apache.spark.sql.expressions.Window

/** Vector similarity search over an embedding column (`array<float>`).
  *
  * Math runs in double precision with a fixed left-to-right reduction
  * (`aggregate` over the array), so results are bit-reproducible and
  * match the DuckDB oracle's sequential list reduction.
  *
  * Scale notes: brute-force top-k broadcasts the (small) query set and
  * streams the corpus once — no shuffle of the corpus, one narrow
  * top-k-per-query aggregation. The IVF path broadcasts centroids,
  * assigns each vector to its nearest cell in a single pass, and
  * searches only the query's cell — corpus-scan cost drops by ~|cells|.
  */
object Similarity {

  /** Elementwise double-cast of a float vector (plain Cast — codegen'd,
    * no higher-order-function lambda). */
  private[ops] def toDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-sum dot product in double precision — the native
    * codegen expression [[graft.functions.DoubleDot]], registered as
    * `double_dot` by GraftExtensions; bit-identical to a left-to-right
    * fold. */
  def dot(a: Column, b: Column): Column =
    call_function("double_dot", toDouble(a), toDouble(b))

  /** Squared L2 norm in double precision. */
  def normSq(a: Column): Column = {
    val d = toDouble(a)
    call_function("double_dot", d, d)
  }

  /** Cosine similarity: dot / sqrt(|a|²·|b|²). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(normSq(a) * normSq(b))

  /** Cosine from a precomputed dot and squared norms (lets the corpus
    * norm be computed once instead of per pair). */
  def cosineWithNorms(dotAb: Column, normSqA: Column, normSqB: Column): Column =
    dotAb / sqrt(normSqA * normSqB)

  /** Near-duplicate pairs with cosine ≥ threshold (brute-force
    * all-pairs; the correctness baseline — LSH/IVF are the scale path).
    * Self-join prunes with id< and precomputed norms.
    */
  def cosinePairs(df: DataFrame, id: Column, vec: Column, threshold: Double): DataFrame = {
    // pre-cast to array<double> once so per-pair dot sees no casts
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.n2"), col("b.n2")).as("cos"))
      .where(Rounding.r(col("cos"), 4) >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.r(col("cos"), 4).as("cos"))
  }

  /** Exact top-k cosine neighbors for a query subset.
    *
    * @param isQuery predicate on the id column selecting query vectors
    */
  def topkBruteForce(df: DataFrame, id: Column, vec: Column,
                     isQuery: Column => Column, k: Int): DataFrame = {
    // pre-cast to array<double> once so per-pair dot sees no casts
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = v.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
  }

  /** Maximal-Marginal-Relevance diversity rerank (Carbonell &
    * Goldstein, SIGIR'98) over a brute top-`pool` candidate set: pick
    * the best-scoring candidate, then repeatedly the one maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s)` — relevance traded
    * against redundancy, the rerank every production retrieval stack
    * runs between recall and the reader.
    *
    * Fully declarative: the greedy loop is unrolled into `m` window-
    * rank steps over the POOL (q·pool rows after one corpus scan), so
    * every step is codegen'd joins over a checkpointed pool frame —
    * the corpus is scanned exactly once, and a DuckDB oracle replays
    * each step's arithmetic bit-for-bit (same sequential dot products,
    * same `λ·c − (1−λ)·pen` doubles, same nid tie-break). At scale the
    * pool would come from the graph/IVF index instead of the brute
    * scan — the rerank itself is pool-sized and corpus-free.
    *
    * Rank 1's score is `λ·cos` (the empty-set penalty is zero). A
    * query with fewer than `m` candidates yields min(m, |pool|) rows.
    */
  def mmrTopkBrute(df: DataFrame, id: Column, vec: Column,
                   isQuery: Column => Column, pool: Int, m: Int,
                   lambda: Double): DataFrame = {
    require(m >= 1 && pool >= m, s"mmrTopkBrute: need pool >= m >= 1, got pool=$pool m=$m")
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    val wPool = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    // scalar-only scoring pass: the rank sort must NOT carry the
    // vectors — q·n rows of (qid, nid, cos) sort in MBs where the same
    // rows with embedding arrays attached sort in tens of GBs at scale
    // (measured: the sf1 oracle's list-carrying window spilled > 70 GB)
    val pooled = v.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
      .withColumn("rn", row_number().over(wPool)).where(col("rn") <= pool).drop("rn")
    // re-attach vectors to the (q·pool)-sized pool only: broadcast the
    // pool against one more column-pruned corpus scan
    val cand = v.join(broadcast(pooled), col("id") === col("nid"))
      .select(col("qid"), col("nid"), col("v"), col("n2"), col("cos"))
    mmrRerank(cand, m, lambda)
  }

  /** The MMR greedy over an arbitrary candidate POOL frame
    * `(qid, nid, v, n2, cos)` — the pool can come from the brute scan
    * ([[mmrTopkBrute]]), the persisted graph/IVF indexes, or any other
    * recall stage; the rerank itself is pool-sized and corpus-free.
    * Checkpoints the pool once (so the m unrolled steps and the
    * pairwise-penalty self-join never re-run the pool's producer) and
    * frees every intermediate after the (q·m-row) result materializes.
    */
  def mmrRerank(candIn: DataFrame, m: Int, lambda: Double): DataFrame = {
    require(m >= 1, s"mmrRerank: need m >= 1, got $m")
    // checkpointed so the m rerank steps
    // (and the pairwise-penalty self-join) never re-run the scan
    val cand = candIn.localCheckpoint(true)

    // candidate×candidate similarity within each query's pool —
    // ≤ q·pool² rows, the penalty lookup table for every step
    val pair = cand.as("a").join(cand.as("b"),
        col("a.qid") === col("b.qid") && col("a.nid") =!= col("b.nid"))
      .select(col("a.qid").as("qid"), col("a.nid").as("da"), col("b.nid").as("db"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.n2"), col("b.n2")).as("pc"))
      .localCheckpoint(true)

    val lam = lit(lambda)
    val mu = lit(1.0 - lambda) // double arithmetic; the oracle writes (1 - λ) and lands on the same bits
    val wMmr = Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("nid").asc)
    var sel = cand
      .withColumn("mmr", lam * col("cos"))
      .withColumn("rn", row_number().over(wMmr)).where(col("rn") === 1)
      .select(col("qid"), lit(1L).as("rank"), col("nid"), col("cos"), col("mmr"))
      .localCheckpoint(true)
    var superseded: List[DataFrame] = Nil
    (2 to m).foreach { i =>
      val selIds = sel.select(col("qid"), col("nid"))
      val remaining = cand.select(col("qid"), col("nid"), col("cos"))
        .join(selIds, Seq("qid", "nid"), "left_anti")
      // max pairwise sim to the selected set: pair rows whose db is
      // selected for that query, max'd per candidate
      val pen = pair.join(selIds.withColumnRenamed("nid", "db"), Seq("qid", "db"), "left_semi")
        .groupBy(col("qid"), col("da")).agg(max(col("pc")).as("pen"))
      val next = remaining
        .join(pen.withColumnRenamed("da", "nid"), Seq("qid", "nid"))
        .withColumn("mmr", lam * col("cos") - mu * col("pen"))
        .withColumn("rn", row_number().over(wMmr)).where(col("rn") === 1)
        .select(col("qid"), lit(i.toLong).as("rank"), col("nid"), col("cos"), col("mmr"))
      val prev = sel
      sel = prev.unionByName(next).localCheckpoint(true)
      superseded = prev :: superseded
    }
    val out = sel.select(col("qid"), col("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"), Rounding.r(col("mmr"), 4).as("mmr"))
      .localCheckpoint(true) // q·m rows; frees the pool below
    (cand :: pair :: sel :: superseded).foreach(graft.Ckpt.free)
    out
  }

  /** [[topkBruteForce]] semantics through the bounded
    * [[graft.functions.TopKBy]] AGGREGATOR instead of a rank window:
    * partial top-k buffers merge map-side, so the exchange carries
    * ≤ k pairs per partition per query rather than the full scored
    * stream sorted in one task per query — the per-group TOPN shape
    * that survives hot queries at corpus scale. Exact (top-k by a
    * total order is associative); hash-matches the same oracle.
    */
  def topkAgg(df: DataFrame, id: Column, vec: Column,
              isQuery: Column => Column, k: Int): DataFrame = {
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    v.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKBy.topKBy(col("cos"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("e._2").as("nid"), Rounding.r(col("e._1"), 4).as("cos"))
  }

  /** Int8-quantized ANN with exact rerank — the memory-bandwidth play
    * every production vector store makes (FAISS SQ8): per-dimension
    * affine quantization to [0, 255] shrinks the scanned corpus 4×
    * (codes instead of doubles), candidates rank by the QUANTIZED dot
    * product, and only the top-`rerankK` candidates pay an exact
    * cosine against the full-precision vectors; the final top-`k` of
    * the reranked set is exact within the candidate pool.
    *
    * Oracle-exactness design: quantized codes are small integers, so
    * the candidate scores (Σ qa·qb ≤ 64·255² ≈ 4.2M) are exact in
    * doubles — the candidate SET and its integer tie-breaks replay
    * bit-identically in any engine; floating point only re-enters in
    * the already-proven exact-cosine rerank. Quantization bounds come
    * from one per-dimension min/max aggregate broadcast to the scan.
    */
  def int8TopkRerank(df: DataFrame, id: Column, vec: Column,
                     isQuery: Column => Column, k: Int, rerankK: Int): DataFrame = {
    require(rerankK >= k, "rerankK must be >= k")
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    // SYMMETRIC codes of the NORMALIZED vector:
    // q_d = floor(x_d · 127 / ‖x‖) ∈ [−127, 127]. The integer dot of
    // two code vectors is then a direct cosine proxy — an affine
    // [0,255] scheme would need offset-correction terms, without
    // which the shared mean component swamps the ranking. Written as
    // one arithmetic shape the SQL oracle mirrors token for token.
    val quantized = v
      .withColumn("q",
        when(col("n2") > 0.0,
          transform(col("v"), x => floor(x * lit(127.0) / sqrt(col("n2")))))
        .otherwise(transform(col("v"), _ => lit(0.0))))
      .select(col("id"), col("v"), col("n2"), col("q"))
    val q = quantized.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"),
        col("n2").as("qn2"), col("q").as("qq"))
    val cand = quantized.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("qv"), col("qn2"),
        col("id").as("nid"), col("v"), col("n2"),
        dot(col("qq"), col("q")).as("qscore"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("qscore").desc, col("nid").asc)
    val pool = cand.withColumn("crank", row_number().over(wq))
      .where(col("crank") <= rerankK)
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    pool.select(col("qid"), col("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
  }

  /** Product-quantized ANN with exact rerank (FAISS IVFPQ's PQ stage,
    * Jégou et al. 2011): vectors split into `m` subspaces, each
    * subvector coded as its nearest codeword, and the asymmetric
    * distance computation (ADC) estimates a query's dot product as
    * the sum of per-subspace query·codeword dots — the scanned corpus
    * shrinks from d doubles to m small codes per vector. The top
    * `rerankK` ADC candidates pay an exact cosine; the final top-`k`
    * is exact within that pool.
    *
    * Oracle-exactness design: codebooks are NOT k-means-trained here —
    * codewords are the corpus subvectors with the m·`codes` smallest
    * `md5(id || ':pq' || s)` digests (md5-rank selection, the same
    * device as `kmeansLloydSeeded`'s seeding), so any engine derives
    * the identical codebook with no iterative training to replay.
    * Every distance is written in dots only
    * (`|x−c|² = |x|² + |c|² − 2x·c`) so both engines run the same
    * arithmetic; the per-vector ADC sum is four explicitly-written
    * partial columns added in fixed order, not an unordered SUM.
    *
    * Scale shape: the codebook is m·codes rows (broadcast); encoding
    * is corpus × (m·codes) — a constant fan-out scan, one window per
    * (id, s) argmin; ADC candidates rank per query like every other
    * ANN path here.
    */
  /** PQ codebook: per subspace, the `codes` corpus subvectors ranking
    * lowest by md5(id||':pq'||s) — deterministic in any engine.
    * Returns (s, crank, cw, cn2). */
  private def pqCodebook(v: DataFrame, subs: DataFrame, codes: Int, sw: Int): DataFrame =
    v.crossJoin(broadcast(subs))
      .withColumn("rk", row_number().over(Window.partitionBy(col("s"))
        .orderBy(md5(concat(col("id"), lit(":pq"), col("s"))), col("id"))))
      .where(col("rk") <= codes)
      .select(col("s"), col("rk").as("crank"),
        expr(s"slice(v, s * $sw + 1, $sw)").as("cw"))
      .withColumn("cn2", normSq(col("cw")))

  /** PQ encoding: nearest codeword per (vector, subspace), dots-only
    * L2², ties to the lowest codeword rank. argmin as min(struct) — a
    * hash aggregation with map-side partials, not a window sort of
    * the corpus × codebook fan-out (same lexicographic semantics as
    * the oracle's row_number ORDER BY d2, crank). Returns
    * (id, s, crank). */
  private def pqEncode(v: DataFrame, subs: DataFrame, cb: DataFrame, sw: Int): DataFrame =
    v.crossJoin(broadcast(subs))
      .withColumn("sub", expr(s"slice(v, s * $sw + 1, $sw)"))
      .join(broadcast(cb), Seq("s"))
      .withColumn("d2", normSq(col("sub")) + col("cn2") - lit(2.0) * dot(col("sub"), col("cw")))
      .groupBy(col("id"), col("s"))
      .agg(min(struct(col("d2"), col("crank"))).as("best"))
      .select(col("id"), col("s"), col("best.crank").as("crank"))

  def pqTopkRerank(df: DataFrame, id: Column, vec: Column,
                   isQuery: Column => Column, m: Int, codes: Int,
                   k: Int, rerankK: Int): DataFrame = {
    require(m > 0 && codes > 0 && rerankK >= k, "bad PQ parameters")
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val dim = 64 // corpus embedding width; subWidth = dim / m
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sw = dim / m
    val spark = df.sparkSession
    import spark.implicits._
    val subs = spark.createDataset(0 until m).toDF("s")
    val cb = pqCodebook(v, subs, codes, sw)
    val enc = pqEncode(v, subs, cb, sw)
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    // ADC partials: dot(query subvector, assigned codeword) per
    // subspace, pivoted so the total is an explicitly-ordered sum
    val parts = enc.join(broadcast(cb), Seq("s", "crank"))
      .crossJoin(broadcast(q))
      .where(col("id") =!= col("qid"))
      .withColumn("p", dot(expr(s"slice(qv, s * $sw + 1, $sw)"), col("cw")))
      .groupBy(col("qid"), col("id"))
      .agg(sum(when(col("s") === 0, col("p"))).as("p0"),
        (1 until m).map(i =>
          sum(when(col("s") === i, col("p"))).as(s"p$i")): _*)
    val adc = parts.withColumn("adc",
      (0 until m).map(i => col(s"p$i")).reduce(_ + _))
    val pool = adc
      .withColumn("crank2", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("id").asc)))
      .where(col("crank2") <= rerankK)
      .select(col("qid"), col("id").as("nid"))
    // exact rerank of the ADC pool
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    pool
      .join(v.withColumnRenamed("id", "nid"), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
  }

  /** Deterministic random-hyperplane set for cosine LSH (Charikar's
    * SimHash for vectors, public construction): plane p's component d
    * is an md5-derived integer in [-1000, 1000], computed once at plan
    * build — both the Spark plan and any SQL oracle embed the SAME
    * literal planes, so signatures agree bit-for-bit.
    */
  def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val hex = mdf.digest(s"$p:$d".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L).toDouble
    }
  }

  /** Deterministic ±1 sign planes for [[projectSigns]] (Achlioptas
    * 2003's database-friendly JL construction, public): sign(p,d) from
    * md5 parity under a salt distinct from [[hyperplanes]]'. */
  def signPlanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (p, d) =>
      val hex = mdf.digest(s"proj:$p:$d".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex, 16) % 2L * 2L - 1L).toDouble
    }
  }

  /** Johnson–Lindenstrauss random projection with ±1 sign planes:
    * y_j = ⟨x, s_j⟩ / √outDims — the dimensionality-reduction stage a
    * pipeline runs before banding/clustering when raw embeddings are
    * too wide (pairwise distances preserved within (1±ε) w.h.p. per
    * the JL lemma; spec pins the empirical ratio envelope).
    *
    * Row-local: each projected coordinate is one native sequential-fold
    * dot against a LITERAL plane (bit-replayable in any engine, the
    * [[hyperplanes]] contract), no shuffle, output ∝ rows × outDims.
    * outDims a power of 4 keeps 1/√outDims exact in binary (4 → 0.5,
    * 16 → 0.25, 64 → 0.125), so the scale multiply is also bit-exact.
    */
  def projectSigns(df: DataFrame, id: Column, vec: Column,
                   outDims: Int, inDims: Int): DataFrame = {
    require(outDims > 0 && inDims > 0, "dims must be positive")
    val planes = signPlanes(outDims, inDims)
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    val v = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    v.select(col("vec_id"),
        posexplode(array((0 until outDims).map(j =>
          dot(col("v"), lit(planes(j))) * scale): _*)).as(Seq("dim", "y")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        Rounding.r(col("y"), 6).as("y"))
  }

  /** Cosine-LSH near-duplicate pairs: 64-bit hyperplane signature →
    * 8-bit band bucket join → exact-cosine verification. The scale
    * path for embedding dedup — candidate generation is linear in the
    * corpus, not O(n²); recall follows the standard banding curve and
    * is reproducible because the planes are deterministic.
    *
    * Band values are computed per-band (8 bits each) rather than by
    * shifting one packed 64-bit signature: bit 63 would make the
    * packed Long negative and arithmetic shifts engine-dependent.
    * 8-bit bands give 256 buckets per band, so the banded self-join is
    * ~n²/256 spread across bands·256 keys — the same lossless-banding
    * cure applied to SimHash64 in [[graft.ops.Dedup.simhashPairs]]
    * (a 4-bit band has only 16 buckets: O(n²/16), quadratic at corpus
    * scale).
    */
  def cosineLshPairs(df: DataFrame, id: Column, vec: Column, threshold: Double,
                     nPlanes: Int = 64, bands: Int = 8): DataFrame = {
    require(bands > 0 && nPlanes % bands == 0,
      s"nPlanes ($nPlanes) must divide evenly into bands ($bands)")
    val planeBits = nPlanes / bands
    val planes = hyperplanes(nPlanes, 64)
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    // all 64 dots + band packing in ONE native expression — the
    // unrolled 64-column formulation is identical math but costs the
    // planner a huge literal tree per query (measured 2s of the
    // query's wall time at sf0.1)
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.graftshim.DatasetShim
    val sigCol = GraftSqlBridge.column(graft.functions.HyperplaneBands(
      DatasetShim.expression(col("v")), planes, planeBits))
    val banded = v.select(col("id"), col("v"), col("n2"),
      posexplode(sigCol).as(Seq("band", "bv")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.n2"), col("b.n2")).as("cos"))
      .distinct()
      .where(Rounding.r(col("cos"), 4) >= threshold)
      .select(col("id_a"), col("id_b"), Rounding.r(col("cos"), 4).as("cos"))
  }

  /** Embedding-space eval-set decontamination: corpus vectors whose
    * cosine to ANY eval vector reaches `threshold` are flagged, with
    * their best-matching eval vector attached — the semantic sibling of
    * n-gram decontamination (exact-overlap checks miss paraphrases; an
    * embedding near-match catches them).
    *
    * Candidate generation is the same 64-plane / 8-band hyperplane LSH
    * as [[cosineLshPairs]], but ASYMMETRIC: the (small) eval side joins
    * the corpus side on (band, bucket), so the probe cost is linear in
    * the corpus — never corpus × eval. Cosine is rounded to 4dp BEFORE
    * the threshold and the per-corpus-row argmax, so tie-breaks (max
    * cos, then min eval id) replay identically cross-engine. Band
    * duplicates are collapsed by the argmax itself — no distinct pass.
    *
    * Returns (id, eval_id, cos) for flagged corpus rows; the clean
    * corpus is the anti-join of this result (composition mirrors
    * decontaminate_ngram's flag-then-anti-join shape).
    */
  def decontaminateByEmbedding(df: DataFrame, id: Column, vec: Column,
                               isEval: Column => Column, threshold: Double,
                               nPlanes: Int = 64, bands: Int = 8): DataFrame = {
    require(bands > 0 && nPlanes % bands == 0,
      s"nPlanes ($nPlanes) must divide evenly into bands ($bands)")
    val planeBits = nPlanes / bands
    val planes = hyperplanes(nPlanes, 64)
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.graftshim.DatasetShim
    val sigCol = GraftSqlBridge.column(graft.functions.HyperplaneBands(
      DatasetShim.expression(col("v")), planes, planeBits))
    val banded = v.select(col("id"), col("v"), col("n2"),
      posexplode(sigCol).as(Seq("band", "bv")))
    val ev = banded.where(isEval(col("id")))
    val corp = banded.where(!isEval(col("id")))
    // eval side is small → AQE broadcasts it; corpus never self-joins
    corp.as("c").join(ev.as("e"),
        col("c.band") === col("e.band") && col("c.bv") === col("e.bv"))
      .select(col("c.id").as("id"), col("e.id").as("eval_id"),
        Rounding.r(cosineWithNorms(dot(col("c.v"), col("e.v")),
          col("c.n2"), col("e.n2")), 4).as("cos"))
      .where(col("cos") >= threshold)
      .groupBy(col("id"))
      .agg(max(struct(col("cos"), (-col("eval_id")).as("neg_eval"))).as("m"))
      .select(col("id"), (-col("m.neg_eval")).as("eval_id"), col("m.cos").as("cos"))
  }

  /** IVF-style ANN: deterministic coarse centroids (caller-selected),
    * nearest-cell assignment for every vector, then per-query search
    * restricted to the query's top-`nprobe` cells.
    *
    * nprobe=1 degenerates to search-own-cell (the query's top-1
    * centroid IS its assigned cell — identical tie rules), so results
    * are unchanged vs the r1 operator; nprobe>1 buys recall at
    * nprobe× in-cell scan cost, the standard IVF knob.
    */
  def ivfTopk(df: DataFrame, id: Column, vec: Column,
              isCentroid: Column => Column, isQuery: Column => Column, k: Int,
              nprobe: Int = 1): DataFrame = {
    // pre-cast to array<double> once so per-pair dot sees no casts
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val cent = v.where(isCentroid(col("id")))
      .select(col("id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
    ivfSearch(v, cent, isQuery, k, nprobe)
  }

  /** IVF search against an explicit centroid set (e.g. from
    * [[kmeansCentroids]]) instead of corpus-row stand-ins. */
  def ivfTopkCentroids(df: DataFrame, id: Column, vec: Column,
                       centroids: Seq[(Long, Array[Double])],
                       isQuery: Column => Column, k: Int,
                       nprobe: Int = 1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cent = centroids.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn2", normSq(col("cv")))
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    ivfSearch(v, cent, isQuery, k, nprobe)
  }

  /** True IVFPQ (FAISS IndexIVFPQ with by_residual=false): probe the
    * query's top-nprobe k-means cells, score ONLY the probed cells'
    * vectors by PQ asymmetric distance (ADC over the md5-rank
    * codebooks), exact-cosine rerank the top-rerankK. Combines the
    * trained-cell pruning of [[ivfTopkCentroids]] with the code-dot
    * scoring of [[pqTopkRerank]] — candidate work ∝ probed cells, ADC
    * per candidate ∝ m dots of width dim/m; centroids, codebooks, and
    * the query set broadcast, the candidate join shuffles on cell. */
  def ivfpqTopk(df: DataFrame, id: Column, vec: Column,
                centroids: Seq[(Long, Array[Double])],
                isQuery: Column => Column, m: Int, codes: Int,
                k: Int, rerankK: Int, nprobe: Int): DataFrame = {
    require(m > 0 && codes > 0 && rerankK >= k && nprobe >= 1, "bad IVFPQ parameters")
    val spark = df.sparkSession
    import spark.implicits._
    val cent = centroids.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn2", normSq(col("cv")))
    val v = df.select(id.as("id"), toDouble(vec).as("v")).withColumn("n2", normSq(col("v")))
    val dim = 64
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sw = dim / m
    val subs = spark.createDataset(0 until m).toDF("s")
    val cb = pqCodebook(v, subs, codes, sw)
    val enc = pqEncode(v, subs, cb, sw)
    val assigned = assignCells(v, cent).select(col("id"), col("cell"))
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    // top-nprobe cells by centroid cosine — same ordering rule as the
    // assignment argmax, so probe #1 is the query's own cell
    val wp = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid").asc)
    val probes = q.join(broadcast(cent), lit(true))
      .select(col("qid"), col("cid"),
        cosineWithNorms(dot(col("qv"), col("cv")), col("qn2"), col("cn2")).as("pcos"))
      .withColumn("prank", row_number().over(wp))
      .where(col("prank") <= nprobe)
      .select(col("qid"), col("cid").as("probe_cell"))
    val cand = assigned.join(broadcast(probes),
        col("cell") === col("probe_cell") && col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    // ADC partials pivoted to an explicitly-ordered sum (C43's rule)
    val parts = cand
      .join(enc, "id")
      .join(broadcast(cb.drop("cn2")), Seq("s", "crank"))
      .join(broadcast(q), "qid")
      .withColumn("p", dot(expr(s"slice(qv, s * $sw + 1, $sw)"), col("cw")))
      .groupBy(col("qid"), col("id"))
      .agg(sum(when(col("s") === 0, col("p"))).as("p0"),
        (1 until m).map(i => sum(when(col("s") === i, col("p"))).as(s"p$i")): _*)
    val adc = parts.withColumn("adc", (0 until m).map(i => col(s"p$i")).reduce(_ + _))
    val pool = adc
      .withColumn("crank2", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("adc").desc, col("id").asc)))
      .where(col("crank2") <= rerankK)
      .select(col("qid"), col("id").as("nid"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    pool
      .join(v.withColumnRenamed("id", "nid"), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate removal INSIDE k-means cells — cluster the
    * embedding space, then within each cell drop every vector with
    * cosine ≥ threshold to a lower-id cell-mate (min-id is the kept
    * representative: the deterministic, oracle-replayable stand-in
    * for the paper's centroid-distance pick). Returns one row per
    * input vector: (id, cell, dropped).
    *
    * Scale shape: the quadratic is CONFINED to a cell — production
    * runs size k ∝ corpus (the paper uses 50k cells at LAION-440M
    * scale), so per-cell pair counts stay bounded and the cell join
    * never goes all-pairs. Centroids broadcast with the assignment
    * pass; pair generation shuffles on (cell), which AQE splits if a
    * cell skews. Threshold compares on the 4dp-rounded cosine (the
    * repo-wide cross-engine FP rule, SURVEY §5). */
  def semDedup(df: DataFrame, id: Column, vec: Column,
               centroids: Seq[(Long, Array[Double])],
               threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cent = centroids.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "cv")
      .select(col("cid"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn2", normSq(col("cv")))
    val v = df.select(id.as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
    val assigned = assignCells(v, cent)
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("n2").as("na"))
    val b = assigned.select(col("cell").as("cell_b"), col("id").as("id_b"),
      col("v").as("vb"), col("n2").as("nb"))
    val dropped = a.join(b, col("cell") === col("cell_b") && col("id_a") < col("id_b"))
      .where(Rounding.r(
        cosineWithNorms(dot(col("va"), col("vb")), col("na"), col("nb")), 4) >= threshold)
      .select(col("id_b").as("id")).distinct()
    assigned.select(col("id"), col("cell"))
      .join(dropped.withColumn("is_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("is_dup"), lit(false)).as("dropped"))
  }

  /** Argmax-cosine cell per vector (ties → lower cid). One broadcast
    * pass; the aggregation carries only scalars — the vector itself is
    * joined back afterwards, keeping 64-dim arrays out of the agg
    * buffers and the partial-agg shuffle. */
  private[ops] def assignCells(v: DataFrame, cent: DataFrame): DataFrame = {
    val bestCell = v.join(broadcast(cent), lit(true))
      .select(col("id"), col("cid"),
        cosineWithNorms(dot(col("v"), col("cv")), col("n2"), col("cn2")).as("ccos"))
      .groupBy(col("id"))
      .agg(max_by(col("cid"), struct(col("ccos"), -col("cid"))).as("cell"))
    v.join(bestCell, "id")
  }

  /** Top-k search of pre-assigned corpus vectors: probe the query's
    * top-`nprobe` cells, exact cosine inside them. `assigned` carries
    * (id, v, n2, cell), `q` carries (qid, qv, qn2). */
  private[ops] def searchAssigned(assigned: DataFrame, cent: DataFrame, q: DataFrame,
                                  k: Int, nprobe: Int): DataFrame = {
    // top-nprobe cells by centroid cosine (same ordering as the
    // assignment argmax, so probe #1 = the query's assigned cell)
    val wp = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cid").asc)
    val probes = q.join(broadcast(cent), lit(true))
      .select(col("qid"), col("cid"),
        cosineWithNorms(dot(col("qv"), col("cv")), col("qn2"), col("cn2")).as("pcos"))
      .withColumn("prank", row_number().over(wp))
      .where(col("prank") <= nprobe)
      .select(col("qid"), col("cid").as("probe_cell"))
    val qProbes = probes.join(q, "qid")
    val inCell = assigned.join(broadcast(qProbes),
        col("cell") === col("probe_cell") && col("id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("id").as("nid"),
        cosineWithNorms(dot(col("qv"), col("v")), col("qn2"), col("n2")).as("cos"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    inCell.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("cell"), col("rank").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
  }

  private def ivfSearch(v: DataFrame, cent: DataFrame,
                        isQuery: Column => Column, k: Int, nprobe: Int): DataFrame = {
    val assigned = assignCells(v, cent)
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    searchAssigned(assigned, cent, q, k, nprobe)
  }

  /** Deterministic Lloyd k-means with md5-RANK seeding: the k initial
    * centers are the corpus rows ranking lowest by
    * `md5(seed ":" id)` (a uniform deterministic draw with no
    * floating-point in the selection), then `lloydIters` fixed Lloyd
    * rounds of cosine-argmax assignment (ties → lower cid, the same
    * rule [[assignCells]] applies at search time) + per-component
    * mean; an emptied cell keeps its previous center.
    *
    * Why it exists next to [[kmeansCentroids]]: every step here is
    * REPLAYABLE IN SQL — seed selection is integer/string-exact and
    * each round is one assignment + one group-avg, so an external
    * engine (the DuckDB oracle) can recompute the centroids and the
    * driver can hash-check the full IVF result. k-means||'s
    * quality-optimal seeding samples against a running global Σd²,
    * whose parallel floating-point reduction no two engines order the
    * same way — it stays the trainer for the persisted IVF index
    * (spec-checked, not oracle-replayed).
    */
  def kmeansLloydSeeded(df: DataFrame, id: Column, vec: Column, k: Int,
                        lloydIters: Int = 2, seed: String = "graft"): Seq[(Long, Array[Double])] = {
    require(k >= 1 && lloydIters >= 0)
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(id.cast("long").as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = v
        .withColumn("h", md5(concat_ws(":", lit(seed), col("id"))))
        .orderBy(col("h"), col("id")).limit(k)
        .select(col("v")).collect()
      require(seeds.nonEmpty, "kmeansLloydSeeded: corpus is empty")
      var centers: Seq[Array[Double]] = seeds.toSeq.map(_.getSeq[Double](0).toArray)
      val dim = centers.head.length
      def centDf(cs: Seq[Array[Double]]) =
        cs.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toDF("cid", "cv")
          .select(col("cid"), col("cv").cast("array<double>").as("cv"))
          .withColumn("cn2", normSq(col("cv")))
      for (_ <- 1 to lloydIters) {
        val means = assignCells(v, centDf(centers))
          .groupBy("cell")
          .agg(array((0 until dim).map(d => avg(col("v")(d))): _*).as("m"))
          .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
        centers = centers.zipWithIndex.map { case (old, i) =>
          means.getOrElse(i.toLong, old) }
      }
      centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }
    } finally v.unpersist()
  }

  /** Deterministic k-means|| centroid seeding (Bahmani et al., VLDB
    * 2012 — the public parallel k-means++ construction) followed by a
    * fixed number of distributed Lloyd rounds.
    *
    * Determinism: all "random" draws are md5-derived uniforms keyed by
    * (seed, round, vec_id), so the same corpus + seed always yields
    * the same centroids — replayable across runs and engines, like
    * every other sampling operator in this library.
    *
    * Scale shape: per round the candidate set (≤ overSample·k·rounds,
    * i.e. tiny) is broadcast and the corpus streams ONCE computing
    * min-distances; the only driver-side data are the candidates, one
    * scalar Σd² per round, and k centroids per Lloyd round — the same
    * legitimate-collect pattern as dedup_clusters' convergence probe.
    * The corpus is persisted across the ~rounds+lloydIters scans, the
    * standard iterative-workload trade.
    *
    * The final reduction of candidates → k uses the deterministic
    * weighted farthest-point (maximin) rule at the driver over the
    * tiny weighted candidate set, as the k-means|| paper prescribes
    * ("recluster the weighted candidates").
    */
  /** Process-local trained-centroid cache. k-means|| training is the
    * INDEX BUILD of the IVF path: production systems train once and
    * serve many queries against the stored centroids (FAISS's
    * train/add/search split). Callers key by corpus identity +
    * parameters; the training itself stays fully deterministic, so a
    * cache hit returns byte-identical centroids to a retrain.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Long, Array[Double])]]()

  /** [[kmeansCentroids]] memoized on `cacheKey` (e.g. corpus path +
    * k + seed). `train` swaps the trainer (e.g.
    * [[kmeansLloydSeeded]]) — the cache key must then name it. */
  def kmeansCentroidsCached(cacheKey: String, df: => DataFrame, id: => Column,
                            vec: => Column, k: Int,
                            train: (DataFrame, Column, Column, Int) => Seq[(Long, Array[Double])] =
                              kmeansCentroids(_, _, _, _)): Seq[(Long, Array[Double])] =
    centroidCache.computeIfAbsent(cacheKey, _ => train(df, id, vec, k))

  def kmeansCentroids(df: DataFrame, id: Column, vec: Column, k: Int,
                      overSample: Int = 2, rounds: Int = 4, lloydIters: Int = 4,
                      seed: String = "graft"): Seq[(Long, Array[Double])] = {
    require(k >= 1 && rounds >= 1)
    val v = df.select(id.cast("long").as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def dotS(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }; s
      }
      def d2S(a: Array[Double], b: Array[Double]): Double =
        dotS(a, a) + dotS(b, b) - 2.0 * dotS(a, b)
      def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
        r.getSeq[Double](1).toArray

      // squared distance to the nearest current candidate, as a column
      def minD2(cands: Seq[Array[Double]]): Column =
        cands.map { c =>
          val cn2 = dotS(c, c)
          col("n2") + lit(cn2) -
            lit(2.0) * call_function("double_dot", col("v"), typedLit(c.toSeq))
        }.reduce(least(_, _))
      // md5-derived uniform in [0,1), keyed by (seed, tag, id)
      def uniform(tag: String): Column =
        conv(substring(md5(concat_ws(":", lit(seed), lit(tag), col("id"))), 1, 8),
          16, 10).cast("double") / 4294967296.0

      val firstRows = v.orderBy(col("id")).limit(1).collect()
      require(firstRows.nonEmpty, "kmeansCentroids: corpus is empty")
      val first = firstRows(0)
      var candidates = Vector((first.getLong(0), vecOf(first)))
      val l = overSample * k
      var r = 0
      var exhausted = false
      while (r < rounds && !exhausted) {
        val withD2 = v.withColumn("d2", minD2(candidates.map(_._2)))
        val phi = withD2.agg(sum(col("d2"))).collect()(0).getDouble(0)
        if (phi <= 0.0) exhausted = true // corpus fully covered
        else {
          val drawn = withD2
            .where(uniform(s"r$r") < least(lit(1.0), lit(l.toDouble) * col("d2") / lit(phi)))
            .select(col("id"), col("v")).collect()
          val known = candidates.map(_._1).toSet
          candidates ++= drawn.toSeq.sortBy(_.getLong(0))
            .filterNot(row => known.contains(row.getLong(0)))
            .map(row => (row.getLong(0), vecOf(row)))
        }
        r += 1
      }

      // argmin over candidate structs: array_min orders (d, i)
      // lexicographically — nearest center, ties to the lower index —
      // and keeps the expression tree LINEAR in the candidate count
      // (a pairwise when().otherwise() fold duplicates subtrees
      // exponentially and OOMs the planner past ~50 candidates)
      def argminIdx(cands: Seq[Array[Double]]): Column =
        array_min(array(cands.zipWithIndex.map { case (c, i) =>
          struct((col("n2") + lit(dotS(c, c)) -
            lit(2.0) * call_function("double_dot", col("v"), typedLit(c.toSeq))).as("d"),
            lit(i).as("i"))
        }: _*)).getField("i")

      // weight candidates by how many corpus points they own
      val candArr = candidates.map(_._2)
      val assignIdx: Column = argminIdx(candArr)
      val weights = v.select(assignIdx.as("i")).groupBy("i").count()
        .collect().map(row => row.getInt(0) -> row.getLong(1)).toMap

      // deterministic weighted maximin reduction to k centers
      val seedIdx = candArr.indices
        .maxBy(i => (weights.getOrElse(i, 0L), -candidates(i)._1))
      var chosen = Vector(seedIdx)
      while (chosen.size < math.min(k, candArr.size)) {
        val next = candArr.indices.filterNot(chosen.contains)
          .maxBy { i =>
            val d = chosen.map(j => d2S(candArr(i), candArr(j))).min
            (weights.getOrElse(i, 0L) * d, -candidates(i)._1)
          }
        chosen :+= next
      }
      var centers = chosen.map(candArr).toArray

      // fixed Lloyd rounds: assign + per-component mean; an emptied
      // cell keeps its previous center (deterministic)
      val dim = centers(0).length
      for (_ <- 1 to lloydIters) {
        val means = v.select(argminIdx(centers.toSeq).as("cell"), col("v"))
          .groupBy("cell")
          .agg(array((0 until dim).map(d => avg(col("v")(d))): _*).as("m"))
          .collect().map(row => row.getInt(0) -> row.getSeq[Double](1).toArray).toMap
        centers = centers.zipWithIndex.map { case (old, i) => means.getOrElse(i, old) }
      }
      centers.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }
    } finally v.unpersist()
  }

  // -----------------------------------------------------------------
  // GRAPH ANN: NN-descent K-NN graph + bounded beam search — the
  // HNSW-class index family the IVF recall audit argues for on
  // isotropic embeddings (cell probes lose recall exactly when the
  // space has no cluster structure; a neighbor GRAPH does not care).

  /** Graph-build constants, shared verbatim with the DuckDB oracle
    * replay (QueriesData) so both engines walk the same graph.
    * Parameter study (md5-deterministic replica of this construction,
    * measured against brute-force truth at the two gate corpora):
    * KNN edges alone stall the walk — the frontier converges inside a
    * local patch and recall plateaus (~0.46 at 2 k vectors however
    * wide the beam), the classic missing-long-range-edge failure; the
    * [[NndLongLinkTarget]] hash-bucket long links (the NSW
    * small-world trick: a few content-free edges per node) lift the
    * same search to 1.0 / ~0.9. */
  val NndGraphK = 32      // near neighbors kept per node
  val NndRounds = 3       // NN-descent refinement rounds
  val NndBucketTarget = 48L // expected initial-draw bucket size
  val NndMinBuckets = 8L
  val NndLongLinkTarget = 16L // expected long-link partners per node
  val NndEntries = 48     // shared deterministic search entry points
  val NndBeam = 96        // frontier width per hop
  val NndHops = 10         // expansion hops
  /** Node-count ceiling for the TASK-LOCAL walk: graph + vectors up to
    * this size broadcast (~60 MB at 64 dims / 48 edges per node) and
    * each task walks its queries in-memory in ONE stage; above it the
    * BSP hop loop runs. Results are bit-identical either way
    * (NndSpec pins parity). */
  val NndLocalMaxNodes = 1 << 16

  /** Edge-count ceiling for the task-local walk, as a per-node
    * factor: node count alone doesn't bound the collect — incremental
    * [[GraphIndex]] adds keep adding edges to old nodes (and a walk
    * reads the committed edge layers unmerged, so an edge stored again
    * by a later add counts twice), so a ≤ [[NndLocalMaxNodes]]-node
    * but edge-heavy index must stay on the BSP path. 64 edges/node ≈ 4M (long, long)
    * rows ≈ 64 MB at the node ceiling — the broadcast-side class. */
  val NndLocalEdgeFactor = 64

  /** Deterministic content-free bucket for the initial neighbor draw
    * (NN-descent initializes RANDOM; md5 makes the draw engine-stable
    * — the C15 discipline). */
  private def nngBucket(idCol: Column, nBuckets: Long): Column =
    conv(substring(md5(concat(idCol.cast("string"), lit(":nng"))), 1, 8), 16, 10)
      .cast("long") % nBuckets

  /** Deterministic Rademacher sign for RP-LSH plane `p`, dimension
    * `j` — the same md5 parity rule the DuckDB oracle replays
    * (first hex nibble < 8 → +1). */
  private[ops] def rpSign(p: Int, j: Int): Double =
    if (md5Hex(s"rp:$p:$j").charAt(0) < '8') 1.0 else -1.0

  /** Plane count for the RP-LSH init draw: enough sign bits that an
    * ISOTROPIC corpus lands ~[[NndBucketTarget]] nodes per cone.
    * Integer ceil-log2 (no FP log whose last-ulp overshoot could
    * disagree with the oracle's ceil(log2(...)) at exact powers —
    * both sides agree because C log2 is exact there). */
  private[ops] def rpPlanes(n: Long): Int = {
    val q = (n + NndBucketTarget - 1) / NndBucketTarget
    if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
  }

  /** K-NN GRAPH by NN-descent (Dong, Moses, Li — WWW 2011): start from
    * a deterministic hash-bucket neighbor draw (top-K by cosine inside
    * buckets of ~[[NndBucketTarget]] nodes), then each round proposes
    * every node's reverse neighbors and neighbors-of-neighbors and
    * keeps the best K — the "a neighbor of my neighbor is probably my
    * neighbor" fixpoint iteration.
    *
    * Scale shape: NO stage is super-linear. The initial draw scores
    * N·bucketTarget pairs (bucket count grows with N, so bucket size
    * is a CONSTANT); each round's candidate frame is ≤ N·(K² + 2K)
    * rows, deduped and re-ranked with a per-node window — every
    * shuffle keys on a node id, so the rounds are ordinary hash
    * exchanges that scale out. Driver holds nothing row-scale (one
    * count for the bucket arity). Candidate generation is blind to
    * geometry, so the construction works for any similarity — cosine
    * here.
    *
    * Returns (src, dst): directed, K rows per node. Deterministic:
    * every rank ties on (cos DESC, dst ASC).
    */
  def nnDescentGraph(df: DataFrame, id: Column, vec: Column,
                     graphK: Int = NndGraphK, rounds: Int = NndRounds): DataFrame = {
    val v = df.select(id.as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
    nndGraphOf(v, v.count(), graphK, rounds)
  }

  private def nndGraphOf(v: DataFrame, n: Long,
                         graphK: Int, rounds: Int): DataFrame = {
    val nBuckets = math.max(NndMinBuckets, n / NndBucketTarget)
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst").asc)
    def topK(cand: DataFrame): DataFrame = { // cand: (src, dst) distinct
      val vs = v.select(col("id").as("src"), col("v").as("sv"), col("n2").as("sn2"))
      val vd = v.select(col("id").as("dst"), col("v").as("dv"), col("n2").as("dn2"))
      cand.join(vs, "src").join(vd, "dst")
        .select(col("src"), col("dst"),
          cosineWithNorms(dot(col("sv"), col("dv")), col("sn2"), col("dn2")).as("cos"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= graphK)
        .select(col("src"), col("dst"))
    }
    val b = v.withColumn("bkt", nngBucket(col("id"), nBuckets))
    val init = b.select(col("bkt"), col("id").as("src"))
      .join(b.select(col("bkt"), col("id").as("dst")), Seq("bkt"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    // CONTENT-AWARE second init draw — random-hyperplane LSH cones
    // (the EFANNA/LargeVis seeding idea): the content-free draw above
    // gives NN-descent diversity but no SIGNAL — in isotropic
    // high-dim data the neighbor-of-neighbor proposals are no better
    // than random and the iteration fixpoints at "best of a few
    // hundred random draws" (measured: graph recall 0.01 at 20k
    // nodes). RP cones make genuinely-near vectors collide at init;
    // one seeded true-neighbor edge is enough for the rounds to
    // propagate through its cluster. Cones larger than the target
    // (clustered corpora, or the degenerate all-identical corpus) are
    // salt-capped into ~target-sized sub-buckets, so no bucket is
    // ever all-pairs-quadratic; a cluster only needs ONE of its pairs
    // to survive the salting.
    val planes = rpPlanes(n)
    val d = v.select(size(col("v")).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val rbExpr = (0 until planes).map { p =>
      val sv = array((0 until d).map(j => lit(rpSign(p, j))): _*)
      when(dot(col("v"), sv) > 0d, lit(1L << p)).otherwise(lit(0L))
    }.foldLeft(lit(0L))(_ + _)
    val rp = v.select(col("id"), rbExpr.as("rb"))
    val rpc = rp.groupBy(col("rb")).agg(count(lit(1)).as("c"))
    val rps = rp.join(broadcast(rpc), "rb")
      .select(col("rb"), col("id"),
        (conv(substring(md5(concat(col("id").cast("string"), lit(":rps"))),
          1, 8), 16, 10).cast("long") %
          greatest(lit(1L),
            ceil(col("c") / lit(NndBucketTarget.toDouble)).cast("long")))
          .as("sb"))
    val initRp = rps.select(col("rb"), col("sb"), col("id").as("src"))
      .join(rps.select(col("rb"), col("sb"), col("id").as("dst")),
        Seq("rb", "sb"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
    // each round references the previous graph FOUR times (forward,
    // reverse, both sides of the neighbor-of-neighbor join): without a
    // lineage cut the re-evaluations compound 4^rounds — materialize
    // every round once (same role as the oracle replay's MATERIALIZED
    // CTEs; N·K rows, executor-local)
    var g = topK(init.unionByName(initRp).distinct()).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val rev = g.select(col("dst").as("src"), col("src").as("dst"))
      val nn = g.as("g1").join(g.as("g2"), col("g1.dst") === col("g2.src"))
        .where(col("g1.src") =!= col("g2.dst"))
        .select(col("g1.src").as("src"), col("g2.dst").as("dst"))
      g = topK(g.unionByName(rev).unionByName(nn).distinct()).localCheckpoint(true)
    }
    g
  }

  /** Content-free LONG-RANGE edges (Kleinberg/NSW small-world links):
    * a second md5 draw buckets the corpus into groups of expected size
    * [[NndLongLinkTarget]]+1 and connects each group all-pairs — ~L
    * random partners per node, deterministic, built with one bucketed
    * self-join (no global shuffle, no sort). The KNN edges route the
    * LAST hops; these route the FIRST ones: without them a beam walk
    * on isotropic embeddings converges inside the entry points' local
    * patch and recall plateaus regardless of beam width. */
  private def nndLongLinks(v: DataFrame, n: Long): DataFrame = {
    val nB = math.max(1L, n / (NndLongLinkTarget + 1))
    val b = v.select(col("id"),
      (conv(substring(md5(concat(col("id").cast("string"), lit(":ll"))), 1, 8),
        16, 10).cast("long") % nB).as("lb"))
    b.select(col("lb"), col("id").as("src"))
      .join(b.select(col("lb"), col("id").as("dst")), Seq("lb"))
      .where(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
  }

  /** The SEARCH graph: NN-descent near edges ∪ small-world long
    * links, deduped — what [[nnDescentTopk]] walks and what
    * [[GraphIndex]] persists. */
  def nndSearchGraph(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val v = df.select(id.as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
    val n = v.count()
    nndGraphOf(v, n, NndGraphK, NndRounds)
      .unionByName(nndLongLinks(v, n)).distinct()
      .localCheckpoint(true)
  }

  /** Top-k ANN over the NN-descent graph by BOUNDED beam search: all
    * queries start from the same [[NndEntries]] deterministic entry
    * points (md5-smallest ids — a shared broadcast, no per-query
    * seeding pass), then [[NndHops]] rounds of expand-neighbors /
    * re-rank / keep-top-[[NndBeam]]. Per-query work is
    * entries + hops·beam·K candidate cosines — independent of corpus
    * size; the only corpus-scale joins key on node id against the
    * K-row-per-node graph. `graphOpt` lets a caller search a
    * PERSISTED graph ([[GraphIndex]]) instead of rebuilding.
    *
    * Output (qid, rank, nid, cos) — the brute-force oracle shape. */
  def nnDescentTopk(df: DataFrame, id: Column, vec: Column,
                    isQuery: Column => Column, k: Int,
                    graphOpt: Option[DataFrame] = None): DataFrame = {
    val v = df.select(id.as("id"), toDouble(vec).as("v"))
      .withColumn("n2", normSq(col("v")))
    val g = graphOpt.getOrElse(nndSearchGraph(df, id, vec))
    val q = v.where(isQuery(col("id")))
      .select(col("id").as("qid"), col("v").as("qv"), col("n2").as("qn2"))
    nndBeamSearch(v, g, q, k)
  }

  /** The beam-search CORE on prepared frames — shared by the
    * in-memory query path above and the persisted [[GraphIndex]],
    * which brings its own committed graph and an EXTERNAL query frame
    * (ids need not belong to the corpus; a corpus-id query never
    * returns itself). `v` = (id, v, n2) scoreable nodes, `g` =
    * (src, dst) directed edges, `q` = (qid, qv, qn2).
    * Output (qid, rank, nid, cos) with cos rounded to 4dp. */
  def nndBeamSearch(v: DataFrame, g: DataFrame, q: DataFrame,
                    k: Int, localMaxNodes: Int = NndLocalMaxNodes): DataFrame = {
    // TASK-LOCAL fast path: when the corpus fits a broadcast
    // (≤ localMaxNodes nodes), the whole walk is ONE distributed
    // stage — queries stay distributed (mapPartitions over q), each
    // task walks its queries against the broadcast graph+vectors in
    // memory. Every arithmetic op, tie-break, and rounding step
    // mirrors the BSP loop below exactly (same left-to-right double
    // dot, same (cos DESC, nid ASC) ordering, same floor-rounding),
    // so the two paths are bit-identical — NndSpec pins it.
    // Above the threshold the BSP hop loop runs: per-hop cost is
    // ordinary bounded broadcast-joins against block-local corpus
    // frames, which is the shape that scales out.
    val longIds = v.schema("id").dataType == org.apache.spark.sql.types.LongType &&
      q.schema("qid").dataType == org.apache.spark.sql.types.LongType &&
      g.schema("src").dataType == org.apache.spark.sql.types.LongType &&
      g.schema("dst").dataType == org.apache.spark.sql.types.LongType
    if (longIds && localMaxNodes > 0) {
      // bounded ID-ONLY probes: an over-threshold corpus learns it is
      // too big from a ≤ (n+1)-row id scan — vector payloads never
      // ship to the driver unless the local path will actually run.
      // The edge probe guards the other axis: incremental GraphIndex
      // adds keep adding edges to old nodes, so a small-node but
      // edge-heavy index stays on the BSP path
      // instead of blowing driver memory on the collect.
      val maxEdges =
        math.min(localMaxNodes.toLong * NndLocalEdgeFactor, Int.MaxValue - 1L).toInt
      val fits = v.select(col("id")).limit(localMaxNodes + 1).count() <=
          localMaxNodes &&
        g.select(col("src")).limit(maxEdges + 1).count() <= maxEdges
      if (fits)
        return nndBeamLocal(v.select(col("id"), col("v"), col("n2")).collect(),
          g, q, k)
    }
    // HOP-INVARIANT vector access: every hop boundary below is an
    // eager checkpoint, so each hop runs as its own job — without a
    // lineage cut HERE, each of those ~NndHops jobs would re-scan the
    // full vector table (and the query frame, and a committed graph's
    // edge files) from source. Materialize all three ONCE per search;
    // the walk then touches only executor-local blocks.
    val vd = v.select(col("id").as("nid"), col("v").as("nv"), col("n2").as("nn2"))
      .localCheckpoint(true)
    val qc = q.localCheckpoint(true)
    // renamed graph columns: after hop 1 the frontier's lineage
    // contains g, so an unrenamed join would be an ambiguous self-join
    val gg = g.select(col("src").as("g_src"), col("dst").as("g_dst"))
      .localCheckpoint(true)
    val ent = vd.orderBy(md5(concat(col("nid").cast("string"), lit(":entry"))),
        col("nid"))
      .limit(NndEntries).select(col("nid"))
    val wb = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    // every frame except vd/gg is bounded by queries·beam·K —
    // independent of corpus size — so it is ALWAYS the broadcast side:
    // the corpus-scale vectors and edges stream from their local
    // blocks and are never shuffled, no matter what a cold-stats
    // planner would guess
    def score(cand: DataFrame): DataFrame = // (qid, nid) -> + cos, self dropped
      broadcast(cand.join(broadcast(qc), "qid")).join(vd, "nid")
        .where(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"),
          cosineWithNorms(dot(col("qv"), col("nv")), col("qn2"), col("nn2")).as("cos"))
    def topB(scored: DataFrame, b: Int): DataFrame =
      scored.withColumn("rn", row_number().over(wb)).where(col("rn") <= b)
    // the POOL carries every (qid, nid, cos) the walk has scored: a
    // candidate's cosine is computed exactly once — re-ranking the
    // frontier and the final answer never re-fetch vectors. Since
    // NndEntries <= NndBeam, the pool is exactly the classic
    // best-first visited set (same cosines, same tie-breaks), so the
    // output is bit-identical to re-scoring — just without the
    // ~2 extra vector joins per hop the re-scoring shape paid.
    // the walk's ~2·NndHops eager mini-jobs are all bounded-frame
    // plans whose joins are already hinted broadcast — AQE has nothing
    // left to improve, but each of its exchanges would pay a runtime
    // re-planning wait. Turn it off for the walk's own jobs via the
    // REFCOUNTED session toggle (restored when the last overlapping
    // walk exits — a plain save/set/restore pair interleaves under
    // concurrency and can leave AQE permanently off).
    val sess = v.sparkSession
    aqeWalkEnter(sess)
    try {
    var pool = score(qc.select(col("qid")).crossJoin(broadcast(ent)))
      .localCheckpoint(true)
    var frontier = topB(pool, NndBeam).select(col("qid"), col("nid"))
      .localCheckpoint(true)
    for (_ <- 1 to NndHops) {
      // nbr is NOT checkpointed: its two consumers re-derive it with
      // one broadcast-join over gg's local blocks each — cheaper than
      // the extra eager job a third per-hop checkpoint would cost
      def nbr() = broadcast(frontier).join(gg, col("nid") === col("g_src"))
        .select(col("qid"), col("g_dst").as("nid")).distinct()
      // only candidates never seen by THIS query fetch vectors
      pool = pool.unionByName(
          score(nbr().join(broadcast(pool.select(col("qid"), col("nid"))),
            Seq("qid", "nid"), "left_anti")))
        .localCheckpoint(true)
      frontier = topB(broadcast(frontier.unionByName(nbr()).distinct())
          .join(pool, Seq("qid", "nid")), NndBeam)
        .select(col("qid"), col("nid"))
        .localCheckpoint(true)
    }
    topB(pool, k)
      .select(col("qid"), col("rn").cast("long").as("rank"), col("nid"),
        Rounding.r(col("cos"), 4).as("cos"))
    } finally aqeWalkExit(sess)
  }

  /** REFCOUNTED per-session AQE suppression for the walk's bounded
    * mini-jobs. First walk in saves the caller's value and sets
    * false; last walk out restores it — so overlapping walks on one
    * session can't interleave save/restore and strand the session
    * with AQE off. Known, documented residue of any session-conf
    * approach: an UNRELATED query planned on the same session while a
    * walk is in flight plans without AQE for that window — bounded by
    * the walk's duration and always restored. */
  private val aqeLock = new Object
  private val aqeState =
    new java.util.HashMap[SparkSession, (Int, String)]
  private def aqeWalkEnter(sess: SparkSession): Unit = aqeLock.synchronized {
    aqeState.get(sess) match {
      case null =>
        val saved = sess.conf.get("spark.sql.adaptive.enabled", "true")
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        aqeState.put(sess, (1, saved))
      case (n, saved) => aqeState.put(sess, (n + 1, saved))
    }
  }
  private def aqeWalkExit(sess: SparkSession): Unit = aqeLock.synchronized {
    aqeState.get(sess) match {
      case null => // unbalanced exit: nothing saved, nothing to restore
      case (1, saved) =>
        aqeState.remove(sess)
        sess.conf.set("spark.sql.adaptive.enabled", saved)
      case (n, saved) => aqeState.put(sess, (n - 1, saved))
    }
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val sb = new StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** The task-local twin of the BSP walk: corpus rows `(id, v, n2)`
    * already collected (caller verified they fit), graph edges
    * collected once, both broadcast; the walk itself runs inside
    * `mapPartitions` over the (distributed) query frame. Adjacency
    * keeps LIVE endpoints only — the same effect as the BSP joins,
    * where a dormant edge's dst never becomes scoreable. */
  private def nndBeamLocal(rows: Array[org.apache.spark.sql.Row],
                           g: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val n = rows.length
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val n2s = new Array[Double](n)
    val idx = new java.util.HashMap[Long, Integer](n * 2)
    var i = 0
    while (i < n) {
      val r = rows(i)
      ids(i) = r.getLong(0)
      vecs(i) = r.getSeq[Double](1).toArray
      n2s(i) = r.getDouble(2)
      idx.put(ids(i), i)
      i += 1
    }
    val adjB = Array.fill(n)(new scala.collection.mutable.ArrayBuilder.ofInt)
    g.select(col("src"), col("dst")).collect().foreach { e =>
      val s = idx.get(e.getLong(0)); val d = idx.get(e.getLong(1))
      if (s != null && d != null) adjB(s.intValue) += d.intValue
    }
    // .distinct: a committed GraphIndex's edge layers are read unmerged,
    // and a caller's graph frame may repeat an edge too — dedupe in the
    // adjacency arrays (order-preserving, cheap) rather than paying a
    // shuffle to dedupe the frame before collect
    val adj: Array[Array[Int]] = adjB.map(_.result().distinct)
    // entry points: md5-smallest ids — java.security MD5 hex equals
    // Spark's md5() hex, and (String, Long) tuple order equals the
    // BSP orderBy(md5, nid)
    val entries: Array[Int] = ids.indices
      .map(j => (md5Hex(ids(j).toString + ":entry"), ids(j), j))
      .sorted.take(NndEntries).map(_._3).toArray
    val sc = spark.sparkContext
    val bIds = sc.broadcast(ids)
    val bVecs = sc.broadcast(vecs)
    val bN2 = sc.broadcast(n2s)
    val bAdj = sc.broadcast(adj)
    val bEnt = sc.broadcast(entries)
    val kk = k
    q.select(col("qid"), col("qv"), col("qn2"))
      .as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val (eIds, eVecs, eN2, eAdj, eEnt) =
          (bIds.value, bVecs.value, bN2.value, bAdj.value, bEnt.value)
        it.flatMap { case (qid, qv, qn2) =>
          nndWalkOne(qid, qv, qn2, eIds, eVecs, eN2, eAdj, eEnt, kk)
        }
      }
      .toDF("qid", "rank", "nid", "cos")
  }

  /** One query's walk, in plain Scala — op-for-op the BSP hop loop:
    * score = left-to-right double dot / sqrt(qn2·n2) with self
    * dropped; frontier = top-beam of (frontier ∪ neighbors) by
    * (cos DESC, id ASC); answer = top-k of every candidate scored,
    * rounded with the engine-portable floor form. */
  private def nndWalkOne(qid: Long, qv: Array[Double], qn2: Double,
                         ids: Array[Long], vecs: Array[Array[Double]],
                         n2s: Array[Double], adj: Array[Array[Int]],
                         entries: Array[Int],
                         k: Int): Iterator[(Long, Long, Long, Double)] = {
    val n = ids.length
    val cosArr = new Array[Double](n)
    val scored = new java.util.BitSet(n) // has a pool cosine
    val seen = new java.util.BitSet(n)   // scored or self-dropped
    def scoreIdx(i: Int): Unit = if (!seen.get(i)) {
      seen.set(i)
      if (ids(i) != qid) {
        val nv = vecs(i)
        val m = math.min(qv.length, nv.length)
        var s = 0.0; var j = 0
        while (j < m) { s += qv(j) * nv(j); j += 1 }
        cosArr(i) = s / math.sqrt(qn2 * n2s(i))
        scored.set(i)
      }
    }
    val ord: Ordering[Int] = (a: Int, b: Int) => {
      val c = java.lang.Double.compare(cosArr(b), cosArr(a))
      if (c != 0) c else java.lang.Long.compare(ids(a), ids(b))
    }
    def rank(cand: Array[Int], limit: Int): Array[Int] =
      cand.filter(i => scored.get(i)).sorted(ord).take(limit)
    entries.foreach(scoreIdx)
    var frontier = rank(entries, NndBeam)
    val inNbr = new java.util.BitSet(n)
    for (_ <- 1 to NndHops) {
      inNbr.clear()
      val nbrB = new scala.collection.mutable.ArrayBuilder.ofInt
      frontier.foreach { f =>
        adj(f).foreach { d => if (!inNbr.get(d)) { inNbr.set(d); nbrB += d } }
      }
      val nbr = nbrB.result()
      // the BSP anti-join: only never-seen candidates fetch vectors —
      // on the SAME hop, the BSP hop scores the pre-hop pool's
      // complement, and `seen` is exactly that pool (plus the
      // perpetually re-dropped self, which the BSP anti-join also
      // re-drops every hop to the same nil effect)
      nbr.foreach(scoreIdx)
      val expB = new scala.collection.mutable.ArrayBuilder.ofInt
      frontier.foreach { f => if (!inNbr.get(f)) expB += f }
      frontier = rank(expB.result() ++ nbr, NndBeam)
    }
    val allB = new scala.collection.mutable.ArrayBuilder.ofInt
    var s0 = scored.nextSetBit(0)
    while (s0 >= 0) { allB += s0; s0 = scored.nextSetBit(s0 + 1) }
    rank(allB.result(), k).iterator.zipWithIndex.map { case (ix, r) =>
      (qid, (r + 1).toLong, ids(ix),
        math.floor(cosArr(ix) * 10000.0 + 0.5) / 10000.0)
    }
  }
}
