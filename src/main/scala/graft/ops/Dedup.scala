package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Rounding

/** Document deduplication for large-scale training-data pipelines.
  *
  * All operators are pure DataFrame transforms (explode → groupBy →
  * join); nothing collects to the driver. Hashing is md5-based so the
  * same bits are computable by any engine (the DuckDB oracle replays
  * the identical construction).
  *
  * Scale notes (100 TB):
  *  - exact/normalized dedup: one hash-aggregate on a 32-byte digest —
  *    shuffle carries digests, not documents.
  *  - MinHash-LSH: signature cost ∝ docs × k; the band bucket-join
  *    replaces the O(n²) pair space; the band id is part of the join
  *    key so bucket skew spreads across bands; exact Jaccard runs only
  *    on surviving candidates (no broadcast hint — AQE size-gates).
  *    Incremental (batch-vs-corpus) variant keeps the join ∝ batch.
  *  - exact set-similarity join: PPJoin prefix filtering under a
  *    frequency-ascending canonical order (corpus-wide boilerplate
  *    shingles never become join keys) + lossless size-ratio pruning.
  *  - SimHash: 64-bit fingerprints, 16-bit bands (65,536 buckets).
  *  - cluster resolution: pointer-jumping min-label propagation,
  *    O(log diameter) rounds, loud failure on the round cap.
  */
object Dedup {

  /** w-word shingles over a pre-projected words array, distinct.
    * Must be fed an attribute (not an inline `split(...)`) — lambda
    * bodies reference the array once per element, and Catalyst
    * substitutes inline expressions into every reference, turning an
    * inlined split into O(words²) re-splits per row.
    */
  def shinglesOfWords(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j))): _*))))
      .otherwise(array().cast("array<string>"))

  /** w-word shingles of a single-space-separated text column, distinct. */
  def wordShingles(text: Column, n: Int): Column =
    shinglesOfWords(split(text, " "), n)

  /** (id, s) shingle-set frame with the words array materialized in its
    * own projection so the split runs once per row (CollapseProject
    * keeps non-cheap aliases referenced more than once).
    */
  private def shingleFrame(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("id"), split(text, " ").as("__ws"))
      .select(col("id"), shinglesOfWords(col("__ws"), n).as("s"))

  /** Exploded distinct-shingle rows (id, sz, t0) via a typed flatMap.
    * Lambda-expression shingling is interpreted (higher-order functions
    * sit outside whole-stage codegen), which dominates the dedup hot
    * path; per-row imperative string chopping is the one place
    * mapPartitions-style execution beats Catalyst, and the emitted
    * row set is identical to exploding [[shinglesOfWords]].
    */
  private[graft] def shingleRows(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    // repartition: a small parquet input is one split, which would
    // serialize the shingling onto a single task
    val src = df.select(id.cast("long").as("id"), text.as("t"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    import src.sparkSession.implicits._
    src.as[(Long, String)].flatMap { case (i, t) =>
      val ws = t.split(" ", -1)
      if (ws.length < n) Iterator.empty
      else {
        // LinkedHashSet: distinct while preserving first-seen order,
        // matching array_distinct over the sliding sequence
        val set = scala.collection.mutable.LinkedHashSet.empty[String]
        var p = 0
        val sb = new StringBuilder
        while (p + n <= ws.length) {
          sb.clear()
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(ws(p + j)); j += 1 }
          set.add(sb.toString)
          p += 1
        }
        val sz = set.size
        set.iterator.map(s => (i, sz, s))
      }
    }.toDF("id", "sz", "t0")
  }

  /** MinHash universe: one md5 per shingle gives a base integer
    * x ∈ [0, P); permutation i is the affine map (aᵢ·x + bᵢ) mod P
    * with P = 2³¹−1 — so the k permutation mins cost k multiply-adds
    * per shingle instead of k digest computations. All arithmetic fits
    * in signed 64-bit (aᵢ, x < 2³¹ ⇒ aᵢ·x < 2⁶²), so any engine
    * replays it exactly.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = (i.toLong * 1000003L + 12345L) % MinhashP
  def minhashB(i: Int): Long = (i.toLong * 2000029L + 54321L) % MinhashP

  /** Base integer hash of a shingle: first 60 bits of md5, mod P. */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashP

  /** Permutation-i hash of a base value x. */
  def permHash(x: Column, i: Int): Column =
    (x * minhashA(i) + minhashB(i)) % MinhashP

  /** Exact dedup groups: rows hashed by `key`, emitting one row per
    * distinct hash with the minimum id as the kept representative.
    */
  def exactGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(key.as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, band, bh) LSH band rows from exploded shingle rows: one md5
    * per shingle, k affine permutation-mins in a single hash
    * aggregation (map-side partial agg shrinks the shuffle), bands
    * hashed to md5 bucket keys.
    */
  private def minhashBanded(tok: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val xs = tok.select(col("id"), shingleHash(col("t0")).as("x"))
    val minExprs = (0 until k).map(i => min(permHash(col("x"), i)).as(s"m$i"))
    val mh = xs.groupBy(col("id")).agg(minExprs.head, minExprs.tail: _*)
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rowsPerBand).map(j =>
          col(s"m${b * rowsPerBand + j}").cast("string")): _*)).as("bh")))
    mh.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** (id, sig) MinHash signature frame: the k permutation-mins packed
    * into one array column — the compact per-doc sketch a persisted
    * dedup index stores (k longs per doc, not the shingle set).
    */
  private[graft] def minhashSignatures(tok: DataFrame, k: Int): DataFrame = {
    val xs = tok.select(col("id"), shingleHash(col("t0")).as("x"))
    val minExprs = (0 until k).map(i => min(permHash(col("x"), i)).as(s"m$i"))
    xs.groupBy(col("id")).agg(minExprs.head, minExprs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (id, band, bh) band rows from a signature frame — identical bh
    * derivation to [[minhashBanded]] (same m-value concat per band),
    * so band keys from signatures and from raw shingles agree. */
  private[graft] def bandRowsOfSigs(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rowsPerBand).map(j =>
          element_at(col("sig"), b * rowsPerBand + j + 1).cast("string")): _*))
          .as("bh")))
    sigs.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** MinHash-LSH near-duplicate pairs, exact-Jaccard verified.
    *
    * @return (doc_a, doc_b, jaccard) for candidate pairs sharing at
    *         least one LSH band whose exact shingle Jaccard ≥ threshold.
    */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    // NOTE (r18): an exchange above the shingling (sharing one
    // flatMap across the three tok consumers) was measured SLOWER —
    // shuffling the raw shingle strings costs more than re-chopping
    // the documents per consumer; the ngramJaccardPairs twin shares
    // profitably only because its tok is projected to longs first
    val tok = shingleRows(df, id, text, shingleN)
    val banded = minhashBanded(tok, k, bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    // exact-Jaccard verification on candidates only, via row joins.
    // No broadcast hint: on boilerplate-heavy corpora the candidate
    // set is unbounded (billions of pairs), and a forced broadcast
    // would hit the driver/broadcast cap — AQE broadcasts at runtime
    // when the built side actually fits, shuffle-joins otherwise.
    val t1 = tok.select(col("id").as("doc_a"), col("sz").as("sa"), col("t0"))
    val t2 = tok.select(col("id").as("doc_b"), col("sz").as("sb"), col("t0"))
    val inter = cand.join(t1, "doc_a")
      .join(t2, Seq("doc_b", "t0"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      // integer cross-multiplication: exact thresholding, no FP boundary
      .where(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select(col("doc_a"), col("doc_b"),
        Rounding.r(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** Incremental (cross-corpus) MinHash-LSH dedup: near-duplicate
    * pairs between a NEW batch and an EXISTING corpus — the shape
    * every crawl pipeline needs (dedup today's crawl against the
    * accumulated corpus without re-pairing the corpus with itself).
    *
    * Same signatures/banding as [[minhashLshPairs]]; the band join is
    * batch×corpus only, so cost is ∝ batch, not corpus². At 100 TB the
    * corpus band rows are a precomputed table the batch joins against.
    *
    * @return (new_id, prior_id, jaccard) with exact Jaccard ≥ t.
    */
  def minhashLshPairsAgainst(corpus: DataFrame, corpusId: Column, corpusText: Column,
                             batch: DataFrame, batchId: Column, batchText: Column,
                             shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                             thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    val tokC = shingleRows(corpus, corpusId, corpusText, shingleN)
    val tokB = shingleRows(batch, batchId, batchText, shingleN)
    val cand = minhashBanded(tokB, k, bands).as("b")
      .join(minhashBanded(tokC, k, bands).as("c"),
        col("b.band") === col("c.band") && col("b.bh") === col("c.bh"))
      .select(col("b.id").as("new_id"), col("c.id").as("prior_id"))
      .distinct()
    val t1 = tokB.select(col("id").as("new_id"), col("sz").as("sa"), col("t0"))
    val t2 = tokC.select(col("id").as("prior_id"), col("sz").as("sb"), col("t0"))
    cand.join(t1, "new_id")
      .join(t2, Seq("prior_id", "t0"))
      .groupBy(col("new_id"), col("prior_id"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      .where(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select(col("new_id"), col("prior_id"),
        Rounding.r(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** PPJoin-style prefix rows for an exact set-similarity self-join.
    *
    * Canonical global token order = (corpus document frequency asc,
    * hash asc) — rare shingles sort first. A doc with |A| shingles
    * keeps only its first p = |A| − ⌈t·|A|⌉ + 1 tokens in that order.
    *
    * Prefix-filter lemma (Chaudhuri et al. SSJoin / Bayardo et al.
    * AllPairs / Xiao et al. PPJoin): J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·max(|A|,
    * |B|)⌉ ≥ max(⌈t·|A|⌉, ⌈t·|B|⌉), and two sets with overlap ≥ αᵢ
    * must share an element inside their (|·| − αᵢ + 1)-prefixes under
    * any shared total order — so joining prefix rows only is lossless.
    * Frequency-ascending order is what de-skews the join: a
    * boilerplate shingle present in 10⁶ docs sorts LAST and never
    * enters a prefix unless a doc is nearly all boilerplate, so the
    * hot-key quadratic bucket of the naive inverted index disappears.
    * Exposed (package-private) for the skew spec.
    */
  private[graft] def prefixRows(tok: DataFrame, thresholdNum: Int, thresholdDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("t"))
    // ⌈t·sz⌉ integer-exact: (sz·num + den − 1) div den
    val ceilT = floor((col("sz") * thresholdNum + (thresholdDen - 1)) / thresholdDen).cast("long")
    tok.join(freq, Seq("t"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= col("sz") - ceilT + 1)
      .select(col("id"), col("sz"), col("t"))
  }

  /** Exact all-pairs set-similarity self-join on word shingles:
    * PPJoin prefix filtering (see [[prefixRows]]) generates candidate
    * pairs, exact intersection counting verifies. Lossless for
    * Jaccard ≥ t; the size-ratio filter (min ≥ t·max) prunes further.
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        shingleN: Int = 3, thresholdNum: Int = 4, thresholdDen: Int = 5): DataFrame = {
    // join on a 64-bit shingle hash: numeric key compare + narrower
    // shuffle than the raw shingle string. Collision odds are n²/2⁶⁵
    // (vanishing at these corpus sizes; swap in a 128-bit key for
    // trillion-shingle corpora).
    // repartition ABOVE the shingling: tok has four consumers below
    // (freq, the prefix window, both verification legs), and only the
    // exchange is deduplicated across them (ReuseExchange) — without
    // one here the flatMap re-chops every document four times per
    // query (guide §2.4: share one exchange; measured in the r18
    // executed plan as 4× MapPartitions over one ReusedExchange). The
    // id partitioning also feeds the prefix window directly, so that
    // wave's own ENSURE_REQUIREMENTS exchange disappears.
    val tok = shingleRows(df, id, text, shingleN)
      .select(col("id"), col("sz"), xxhash64(col("t0")).as("t"))
      .repartition(col("id"))
    val prefix = prefixRows(tok, thresholdNum, thresholdDen)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
          // lossless size pruning, integer-exact: t·max ≤ min
          least(col("a.sz"), col("b.sz")) * thresholdDen >=
            greatest(col("a.sz"), col("b.sz")) * thresholdNum)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.sz").as("sa"), col("b.sz").as("sb"))
      .distinct()
    // exact verification over full token sets; no broadcast hint —
    // AQE broadcasts the candidate side iff it fits at runtime
    val t1 = tok.select(col("id").as("doc_a"), col("t"))
    val t2 = tok.select(col("id").as("doc_b"), col("t"))
    cand.join(t1, Seq("doc_a"))
      .join(t2, Seq("doc_b", "t"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("uni", col("sa") + col("sb") - col("inter"))
      .where(col("inter") * thresholdDen >= col("uni") * thresholdNum)
      .select(col("doc_a"), col("doc_b"),
        Rounding.r(col("inter").cast("double") / col("uni"), 4).as("jaccard"))
  }

  /** 32-bit SimHash over whitespace tokens (duplicates weighted).
    * Token hash = first 8 hex chars of md5 as an unsigned 32-bit int;
    * simhash bit j is set iff Σ_tokens (2·bit_j(h) − 1) > 0.
    *
    * Runs as the native single-pass [[graft.functions.SimHash32]]
    * expression (registered `simhash32`) — no token explode, no
    * 32-column aggregation, one kernel call per document inside
    * whole-stage codegen. Bit-identical to the exploded formulation.
    */
  def simhash32(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), call_function("simhash32", text).as("simhash"))

  /** 64-bit SimHash (native [[graft.functions.SimHash64]] expression,
    * registered `simhash64`) — the corpus-scale fingerprint: wide
    * enough for 16-bit bands in [[simhashPairs]].
    */
  def simhash64(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), call_function("simhash64", text).as("simhash"))

  /** Connected components over a near-duplicate pair graph: every doc
    * in a pair gets the minimum doc id reachable through pairs as its
    * cluster id (so "keep cluster rep, drop the rest" falls out).
    *
    * Distributed min-label propagation with pointer jumping: each
    * round takes the min label across (self, neighbors) and then
    * shortcuts through the label's own label (`cluster ←
    * label(cluster)`), so label paths halve per round and convergence
    * is O(log diameter) rounds instead of O(diameter) — a 10⁶-node
    * chain converges in ~20 rounds, not 10⁶. Rounds are Spark jobs;
    * the driver only checks convergence. Deterministic for any
    * execution order.
    *
    * Failure semantics: if the fixpoint is not reached within
    * `maxRounds` (default 64 — with pointer jumping that covers any
    * graph smaller than 2⁶⁴ nodes, so exhaustion means something is
    * genuinely broken) this THROWS rather than silently returning
    * non-converged labels.
    *
    * Fault tolerance: per-round materialization uses reliable
    * `checkpoint` when `SparkContext.setCheckpointDir` is configured
    * (survives executor loss — set an HDFS/object-store dir on a real
    * cluster), falling back to `localCheckpoint` (faster, but lineage
    * is lost with an executor) otherwise.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String = "doc_a", bCol: String = "doc_b",
                        maxRounds: Int = 64): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def materialize(df: DataFrame): DataFrame =
      if (sc.getCheckpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    // materialize the edge list once — every propagation round joins
    // it, and leaving it lazy would re-run the whole upstream pair
    // pipeline per round
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .transform(materialize)
    // Convergence probe without a join OR an extra job: every node's
    // label is monotone non-increasing (min over self+neighbors, then
    // min with the jump target), so Σ cluster strictly decreases every
    // non-fixpoint round — an unchanged exact sum IS the fixpoint.
    // Decimal(38,0) keeps the sum exact at any corpus size, and
    // observe() piggybacks the sum on the checkpoint's own action
    // (accumulator-side), so each round runs exactly ONE job.
    def materializeWithSum(df: DataFrame, name: String): (DataFrame, java.math.BigDecimal) = {
      val obs = new org.apache.spark.sql.Observation(name)
      val mat = materialize(df.observe(obs,
        sum(col("cluster").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("lsum")))
      val d = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      (mat, if (d == null) java.math.BigDecimal.ZERO else d)
    }
    val probeNonce = java.util.UUID.randomUUID().toString.take(8)
    // initialize at ROUND ONE's fixpoint-iterate directly: starting
    // from labels₀ = id, the first propagation round reduces to
    // min(self, direct neighbors) — its pointer jump is the identity
    // (labels₀ maps every id to itself) — so one groupBy over the
    // edge list IS round one, for one aggregation instead of a
    // join + union + groupBy + jump round (r18: one whole CC round
    // saved in every consumer; same exchange count as the old
    // distinct-ids init, identical labels from here on)
    var (labels, prevSum) = materializeWithSum(
      edges.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
        .select(col("src").as("id"),
          least(col("src"), col("__mn")).as("cluster")),
      s"cc-$probeNonce-init")
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .select(col("src").as("id"), col("cluster"))
      val folded = labels.select(col("id"), col("cluster"))
        .union(viaNeighbors)
        .groupBy("id").agg(min(col("cluster")).as("cluster"))
      // pointer jumping: follow cluster → label(cluster) one hop.
      // Labels are always node ids, so the lookup join hits (left +
      // coalesce is belt-and-braces). min() keeps monotonicity.
      val (next, newSum) = materializeWithSum(
        folded.as("x")
          .join(labels.select(col("id").as("cid"), col("cluster").as("ccl")).as("l"),
            col("x.cluster") === col("l.cid"), "left")
          .select(col("x.id"),
            least(col("x.cluster"), coalesce(col("l.ccl"), col("x.cluster"))).as("cluster")),
        s"cc-$probeNonce-r$rounds")
      labels = next
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxRounds rounds — " +
        "this should be impossible with pointer jumping (O(log diameter)); " +
        "the input pair graph is likely being recomputed non-deterministically")
    labels.select(col("id").as("doc_id"), col("cluster"))
  }

  /** Test-set decontamination by n-gram overlap (the public GPT-3-
    * style method: drop/flag training docs sharing n-grams with an
    * evaluation set). Returns (id, n_hits) for every training doc
    * sharing ≥ minHits distinct shingles with ANY reference doc.
    *
    * Scale shape: the reference (eval) corpus is tiny next to the
    * training corpus, so its distinct-shingle set broadcasts and the
    * training side streams once — no shuffle of training shingles.
    * The join key is the raw shingle (oracle-replayable); at trillion-
    * shingle scale swap in xxhash64 keys, same frame shape.
    */
  def ngramOverlapHits(train: DataFrame, trainId: Column, trainText: Column,
                       ref: DataFrame, refText: Column,
                       shingleN: Int = 3, minHits: Int = 2): DataFrame = {
    val t = shingleRows(train, trainId, trainText, shingleN)
    val r = shingleRows(ref, lit(0L), refText, shingleN)
      .select(col("t0")).distinct()
    t.join(r, "t0")
      // shingleRows emits distinct shingles per doc → plain count IS
      // the distinct overlap count
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /** Per-document n-gram coverage of an eval slice by a training
    * corpus — the MEMORIZATION-SURFACE report (the complement of
    * [[ngramOverlapHits]]'s binary decontamination flag): for every
    * eval document, what fraction of its distinct shingles appear
    * anywhere in the training side. coverage = 1.0 means the doc is
    * fully reconstructible from training n-grams; decontamination
    * thresholds are calibrated from this distribution.
    *
    * Scale shape: both sides reduce to distinct shingle rows; the
    * probe is a shingle-keyed LEFT join (never broadcast — the
    * training shingle set scales with the corpus), then one hash
    * aggregation per eval doc. Shuffle ∝ distinct shingles.
    */
  def ngramCoverage(train: DataFrame, trainText: Column,
                    evalDf: DataFrame, evalId: Column, evalText: Column,
                    shingleN: Int = 3): DataFrame = {
    val ev = shingleRows(evalDf, evalId, evalText, shingleN)
    val tr = shingleRows(train, lit(0L), trainText, shingleN)
      .select(col("t0")).distinct().withColumn("hit", lit(1L))
    ev.join(tr, Seq("t0"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_covered"))
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_covered"),
        graft.functions.Rounding.r(
          col("n_covered").cast("double") / col("n_shingles").cast("double"), 4)
          .as("coverage"))
  }

  /** [[ngramOverlapHits]] with a Bloom-filter pre-prune — the shape
    * for eval suites whose exact distinct-shingle set is too large to
    * broadcast (a Bloom at 1% fpp is ~10 bits/shingle vs the raw
    * strings). The Bloom of the eval shingles is built distributed
    * (`stat.bloomFilter`), shipped once into codegen
    * ([[graft.functions.BloomContains]]), and drops non-overlapping
    * training shingles BEFORE the exact join — the join input shrinks
    * to true hits + the fpp margin, and the exact join then removes
    * the false positives, so the RESULT is identical to the exact
    * operator (same oracle); only the pruning is approximate.
    */
  def ngramOverlapHitsBloom(train: DataFrame, trainId: Column, trainText: Column,
                            ref: DataFrame, refText: Column,
                            shingleN: Int = 3, minHits: Int = 2,
                            expectedShingles: Long = 1L << 20,
                            fpp: Double = 0.01): DataFrame = {
    val t = shingleRows(train, trainId, trainText, shingleN)
    // persist: the distinct eval-shingle set is materialized by the
    // bloom build (an eager action) and read again by the exact join —
    // without the cache the eval corpus would be re-shingled twice,
    // the very cost this path exists to avoid
    val r = shingleRows(ref, lit(0L), refText, shingleN)
      .select(col("t0")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = r.stat.bloomFilter("t0", expectedShingles, fpp)
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.graftshim.DatasetShim
    val pruned = t.where(GraftSqlBridge.column(
      graft.functions.BloomContains(DatasetShim.expression(col("t0")), bloom)))
    pruned.join(r, "t0")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
  }

  /** Near-duplicate pairs by SimHash Hamming distance ≤ maxHamming.
    * Pair generation partitions the fingerprint bits into
    * (maxHamming+1) bands; by pigeonhole any pair within the distance
    * budget matches exactly on ≥1 band, so the band join is lossless —
    * no O(n²) pair scan.
    *
    * Band width is what makes this survive corpus scale: with 64-bit
    * fingerprints and maxHamming=3 each band carries 16 bits → 65,536
    * values, so the expected bucket is n/65,536 and the banded
    * self-join is ~n²/65,536 row-pairs spread over 4·65,536 join keys.
    * (The 32-bit variant's 8-bit bands give 256 buckets — O(n²/256),
    * a quadratic scale-killer dressed as banding; kept only for
    * compatibility with 32-bit fingerprints.)
    *
    * @param bits fingerprint width: 64 for [[simhash64]] (default),
    *             32 for [[simhash32]]
    */
  def simhashPairs(sim: DataFrame, maxHamming: Int = 3, bits: Int = 64): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND((1L << bandBits) - 1).as("bv")))
    val banded = sim.select(col("id"), col("simhash"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** CHARACTER-level near-duplicate pairs by edit similarity — the
    * dedup modality for OCR noise, typo variants, and templated text
    * with small substitutions, which token-level MinHash/SimHash blur
    * (a one-character typo changes a whole token) and exact hashing
    * misses entirely. editSim(a, b) = 1 − levenshtein(a, b) /
    * max(|a|, |b|) (Lee et al. 2022's NearDup edit-similarity form).
    *
    * Scale shape: levenshtein is O(|a|·|b|) per pair, so it can only
    * ever run on a blocked candidate set — candidates come from
    * character-n-gram SimHash ([[graft.functions.SimHashGrams]],
    * row-local codegen) with 16-bit banding, exactly [[simhashPairs]]'
    * lossless Hamming-≤3 blocking but over gram fingerprints, AND-ed
    * with two further gates evaluated inside the join probe: a
    * LOSSLESS length gate (editSim ≥ t bounds |len_a − len_b|) and a
    * SECOND independently-salted fingerprint's Hamming bound. The
    * second view exists for templated/boilerplate-heavy corpora:
    * shared per-token mass compresses one fingerprint's variance and
    * inflates accidental band collisions (measured: a tag on every
    * token put 1.3% of random in-corpus pairs under Hamming 4 — the
    * verify went quadratic); requiring closeness in an independent
    * hash view squares that accidental rate while truly similar
    * strings stay close in every view. The band join carries
    * (id, fingerprints, length) only; texts rejoin by id afterward so
    * the explode never shuffles document bodies. Never all-pairs.
    *
    * Determinism: lev and lengths are integers, editSim is one divide
    * + 4dp floor-round, so pairs replay exactly cross-engine; an
    * empty-vs-empty pair defines editSim = 1 (both engines guard the
    * 0/0).
    */
  def editDistancePairs(df: DataFrame, id: Column, text: Column,
                        gramLen: Int = 6, maxHamming: Int = 3,
                        minEditSim: Double = 0.8): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.graftshim.DatasetShim
    val bits = 64
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    // Gram width 6, not 3: a gram multiset is ORDER-BLIND, and on a
    // low-entropy corpus (small shared vocabulary, templated/tagged
    // text) trigram multisets barely differ between distinct docs —
    // measured on a per-token-tagged corpus, 55% of intra-corpus
    // pairs collided in ≥1 band and the O(len²) verify went
    // quadratic. 6-grams span word boundaries, so they encode LOCAL
    // WORD ORDER; the same corpus drops to ~4% band collisions with
    // zero Hamming-≤3 false pairs, while true near-dups (one edit
    // touches ≤ gramLen grams) keep their fingerprints intact.
    // TWO independent fingerprint views: banding runs on fp1;
    // candidates must be Hamming-close on BOTH (an accidental
    // collision must repeat in an independent hash view — the
    // false-candidate rate squares, recall stays banding-shaped).
    // Since r9 both views come from ONE md5 pass (fp1 = digest bytes
    // 0-7, identical to the old unsalted fingerprint so the banding is
    // unchanged; fp2 = bytes 8-15, replacing the second salted pass —
    // the fingerprint stage was this query's dominant cost and md5
    // count halves, with per-gram allocations gone entirely).
    // repartition before the fingerprint pass (this query's dominant
    // cost): a small parquet input is one split, which would serialize
    // the per-doc gram DP onto a single task (the shingleRows rule)
    val fpsIn = df.select(id.as("id"), text.as("__graft_t"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val fps = GraftSqlBridge.column(graft.functions.SimHashGramsPair(
      DatasetShim.expression(col("__graft_t")), gramLen))
    val sim = fpsIn.select(col("id"), fps.as("fps"),
        length(col("__graft_t")).cast("long").as("len"))
      .select(col("id"), col("fps.fp1").as("simhash"),
        col("fps.fp2").as("simhash2"), col("len"))
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND((1L << bandBits) - 1).as("bv")))
    val banded = sim.select(col("id"), col("simhash"), col("simhash2"), col("len"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("simhash2"), col("len"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    // the LENGTH GATE rides in the join condition: editSim ≥ t forces
    // lev ≥ |la−lb| and lev ≤ (1−t)·maxlen, so a pair with a bigger
    // length gap can never pass the final filter — dropping it during
    // the hash-join probe (before distinct + text rejoin + levenshtein)
    // is lossless. This is what keeps templated corpora (every doc
    // sharing per-token boilerplate, which compresses fingerprint
    // variance and inflates band collisions) from going quadratic in
    // the O(len²) verify. Slack term covers the 4dp round-up edge.
    val lenGate =
      abs(col("a.len") - col("b.len")) <=
        lit(1.0 - minEditSim) * greatest(col("a.len"), col("b.len")) +
          lit(1.0) + greatest(col("a.len"), col("b.len")) * 1e-4
    val fp2Gate =
      bit_count(col("a.simhash2").bitwiseXOR(col("b.simhash2"))) <= maxHamming
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id") && lenGate && fp2Gate)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      // the verify below is CPU-bound (banded DP over text pairs), but
      // candidate rows are tiny in BYTES — AQE's size-based coalescing
      // funnels them into ~one post-shuffle partition and the DP runs
      // serially (measured: 175 pairs → 1 task → 3 s of a 3.7 s
      // query; 10× worse on the scaled corpus). Pin an explicit
      // partition count (AQE never coalesces a user-pinned
      // repartition): one per core, shuffling only (id, id, hamming)
      // rows — the text bodies join in afterward, per partition.
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val t = df.select(id.as("id"), text.as("t"))
    cand
      .join(t.select(col("id").as("doc_a"), col("t").as("ta")), Seq("doc_a"))
      .join(t.select(col("id").as("doc_b"), col("t").as("tb")), Seq("doc_b"))
      .withColumn("maxlen",
        greatest(length(col("ta")), length(col("tb"))).cast("long"))
      // THRESHOLDED levenshtein: a pair can only pass the final
      // edit_sim filter with lev ≤ (1−t)·maxlen (+ the 4dp rounding
      // slack), so Spark's banded O(k·n) algorithm with that per-row
      // bound replaces the O(n²) full matrix — beyond the bound it
      // returns −1, and those pairs are exactly the ones the filter
      // drops. This is the superlinearity driver of the verify stage
      // (r7 scaling exponent 0.81): k/n = 1−t, a 5× cell cut at t=0.8.
      .withColumn("lev_th", (lit(1.0 - minEditSim) * col("maxlen") +
        col("maxlen").cast("double") * 1e-4 + lit(2.0)).cast("int"))
      .withColumn("lev",
        call_function("levenshtein", col("ta"), col("tb"), col("lev_th"))
          .cast("long"))
      .where(col("lev") >= 0)
      .withColumn("edit_sim", when(col("maxlen") === 0, lit(1.0))
        .otherwise(graft.functions.Rounding.r(
          lit(1.0) - col("lev").cast("double") / col("maxlen").cast("double"), 4)))
      .where(col("edit_sim") >= minEditSim)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("edit_sim"))
  }

  /** Occupancy skew of one banding's bucket histogram. `candPairs`
    * (Σ n·(n−1)/2 over buckets) is the band join's output volume
    * BEFORE the join runs — the degenerate-corpus collapse mode (the
    * r7 editdist episode: templated text folding most docs into a few
    * buckets) shows up as maxOccupancy ≈ corpus size and candPairs
    * ≈ n², detectable by a linear probe instead of by a hang. */
  final case class BandSkew(maxOccupancy: Long, buckets: Long,
                            bandRows: Long, candPairs: Long)

  /** Histogram-collapse probe for a band frame: group by the bucket
    * key, aggregate the occupancy extremes. One linear aggregation —
    * safe to run even when the join itself would be quadratic. */
  def bandSkew(bandFrame: DataFrame, keys: Seq[String]): BandSkew = {
    val r = bandFrame.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n")), count(lit(1)), sum(col("n")),
        sum(col("n") * (col("n") - lit(1)) / lit(2)).cast("long")).head()
    BandSkew(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The (id, band, bh) band frame [[minhashLshPairs]] self-joins —
    * exposed for the bench's skew probe. */
  def minhashBandRows(df: DataFrame, id: Column, text: Column,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8): DataFrame =
    minhashBanded(shingleRows(df, id, text, shingleN), k, bands)

  /** The (id, band, bv) band frame [[simhashPairs]] self-joins. */
  def simhashBandRows(sim: DataFrame, maxHamming: Int = 3, bits: Int = 64): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = bits / nBands
    val bandStructs = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * bandBits)
          .bitwiseAND((1L << bandBits) - 1).as("bv")))
    sim.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bv").as("bv"))
  }

  /** The primary-fingerprint band frame [[editDistancePairs]]
    * self-joins (the probe-time gates cut candidates further; this
    * bounds them from above). */
  def editDistanceBandRows(df: DataFrame, id: Column, text: Column,
                           gramLen: Int = 6, maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.graftshim.DatasetShim
    val sim = df.select(id.as("id"),
      GraftSqlBridge.column(graft.functions.SimHashGrams(
        DatasetShim.expression(text), gramLen, "")).as("simhash"))
    simhashBandRows(sim, maxHamming, 64)
  }

  /** Segment-level boilerplate removal (the CCNet/RefinedWeb
    * paragraph-dedup stage, chunk-segmented for corpora without line
    * structure): a document is cut into consecutive `segLen`-token
    * segments, any segment appearing VERBATIM in ≥ `minDocs` distinct
    * documents is corpus boilerplate, and each document is
    * re-assembled from its surviving segments in order.
    *
    * Scale shape: explode to segments → one hash-aggregate counting
    * distinct docs per segment (shuffle carries segment text once per
    * distinct value, not per occurrence, thanks to partial
    * aggregation) → anti-join back → one per-doc re-assembly
    * aggregation. Nothing is quadratic and no driver-side state;
    * the boilerplate set stays distributed (no broadcast assumption —
    * corpus-wide boilerplate can be huge).
    */
  def segmentDedup(df: DataFrame, id: Column, text: Column,
                   segLen: Int = 3, minDocs: Int = 3): DataFrame = {
    require(segLen > 0 && minDocs >= 2)
    // project the token array FIRST (the kWindows rule): the lambda
    // body references it per segment, and Catalyst substitutes an
    // inline split() into every reference — O(tokens · segments)
    // re-splits per row without this projection (r18, guide §4)
    val toks = col("__graft_toks")
    val nSegs = ceil(size(toks) / lit(segLen.toDouble)).cast("long")
    val segs = df
      .select(id.as("doc_id"), split(text, " ").as("__graft_toks"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0L), nSegs - 1),
          i => array_join(slice(toks, (i * segLen).cast("int") + 1, lit(segLen)), " ")))
          .as(Seq("pos", "seg")))
    val common = segs.groupBy(col("seg"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("seg"))
    segs.join(common, Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(
          collect_list(struct(col("pos"), col("seg")))), s => s("seg")), " ")
          .as("clean_text"))
  }

  /** Exact long-span substring dedup (the ExactSubstr modality of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): find every maximal token span of length ≥ k
    * whose every k-token window occurs ≥ 2 times in the corpus — the
    * duplication [[segmentDedup]] misses when a verbatim repeat sits
    * at an arbitrary offset (fixed segment boundaries almost never
    * line up with it), and MinHash misses when the shared span is a
    * small fraction of each document.
    *
    * Distributed shape (bucketed, never all-pairs):
    *  1. every token position anchors one k-token window, keyed by the
    *     md5 of its text (128-bit: collision-safe at corpus scale, and
    *     replayable bit-for-bit by the DuckDB oracle);
    *  2. one hash-aggregate counts occurrences per window hash —
    *     map-side partial combine collapses hot boilerplate windows
    *     before the exchange, so the shuffle carries ≤ one digest per
    *     distinct window per partition;
    *  3. a shuffle semi-join marks the anchor positions of duplicated
    *     windows (no broadcast assumption — the duplicated-window set
    *     can be huge at corpus scale);
    *  4. per-doc gaps-and-islands over the marked positions merges
    *     overlapping/abutting windows into maximal spans (one window
    *     function, shuffle keyed by doc).
    *
    * A span is emitted iff all its k-windows are duplicated — exactly
    * the ≥ k-token verbatim repeats (a span repeated elsewhere
    * duplicates every one of its windows). Consecutive windows may
    * match *different* sources; such chimera spans are still ≥ k-token
    * text whose every window exists elsewhere, the standard relaxation
    * distributed ExactSubstr implementations make.
    *
    * Output: one row per maximal span — (doc_id, span_start, span_end,
    * span_tokens), token positions 1-based inclusive.
    */
  /** One row per k-token window anchor: (doc_id, pos, h) with h the
    * md5 of the window text — the shared front of [[substringSpans]]
    * and [[substringContamination]]. The words array is projected
    * FIRST: lambda bodies reference it many times, and Catalyst would
    * substitute an inline split() into every reference (O(words²)
    * re-splits per row). */
  private def kWindows(df: DataFrame, id: Column, text: Column,
                       k: Int): DataFrame =
    // repartition before the per-window md5 explode: a small parquet
    // input is one split, which would serialize the window hashing
    // onto a single task (the shingleRows rule; guide §2.5)
    df.select(id.cast("long").as("doc_id"), split(text, " ").as("w"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .where(size(col("w")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("w")) - (k - 1)),
        i => struct(i.cast("long").as("pos"),
          md5(concat_ws(" ", slice(col("w"), i, lit(k)))).as("h")))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))

  /** Gaps-and-islands over marked window anchors → maximal spans:
    * windows [p, p+k-1] and [q, q+k-1] merge while q ≤ p + k
    * (overlapping or abutting coverage). One window function,
    * shuffle keyed by doc. */
  private def anchorsToSpans(marked: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  def substringSpans(df: DataFrame, id: Column, text: Column, k: Int = 50): DataFrame = {
    require(k >= 2, "span length must be at least 2 tokens")
    val sh = kWindows(df, id, text, k)
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("h"))
    anchorsToSpans(sh.join(dup, Seq("h"), "left_semi"), k)
  }

  /** CROSS-CORPUS ExactSubstr — test-set decontamination at the span
    * level (the contamination modality the shingle-overlap C21 and
    * embedding C60 checks miss when the leaked text is a small exact
    * excerpt at an arbitrary offset, and doc-level near-dup misses
    * entirely): every maximal ≥ k-token span in a TRAIN document
    * whose every k-window occurs VERBATIM anywhere in the held-out
    * reference corpus. This is [[substringSpans]] with the duplicated-
    * window set replaced by the reference's window set — train-train
    * repeats do NOT mark (that is dedup's job, not decontamination's).
    *
    * Scale shape: ref windows collapse to DISTINCT hashes (one
    * hash-aggregate, shuffle ≤ one digest per distinct ref window);
    * the train side semi-joins on the hash (no broadcast assumption —
    * an eval-suite reference can be huge) and the span merge is the
    * shared per-doc gaps-and-islands. Nothing all-pairs, nothing
    * driver-side.
    *
    * Output: one row per contaminated maximal span — (doc_id,
    * span_start, span_end, span_tokens), positions 1-based inclusive.
    */
  def substringContamination(train: DataFrame, trainId: Column, trainText: Column,
                             ref: DataFrame, refId: Column, refText: Column,
                             k: Int = 50): DataFrame = {
    require(k >= 2, "span length must be at least 2 tokens")
    val tw = kWindows(train, trainId, trainText, k)
    val rw = kWindows(ref, refId, refText, k).select(col("h")).distinct()
    anchorsToSpans(tw.join(rw, Seq("h"), "left_semi"), k)
  }

  /** The dedup ACTION over [[substringSpans]]: drop every token
    * covered by a duplicated ≥ k-span and reassemble the survivors —
    * per doc: original token count, duplicated token count, cleaned
    * text. Row-local after the span join (token filtering never
    * shuffles the text again).
    */
  def substringClean(df: DataFrame, id: Column, text: Column, k: Int = 50): DataFrame = {
    val spans = substringSpans(df, id, text, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"),
        sum(col("span_tokens")).as("dup_tokens"))
    df.select(id.cast("long").as("doc_id"), split(text, " ").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("spans").isNull, concat_ws(" ", col("w")))
          .otherwise(concat_ws(" ", filter(col("w"), (_, i0) =>
            !exists(col("spans"), sp =>
              i0 + 1 >= sp("span_start") && i0 + 1 <= sp("span_end")))))
          .as("clean_text"))
  }
}
