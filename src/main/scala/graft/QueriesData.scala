package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Rounding
import graft.ops.{Bpe, Dedup, HybridRetrieval, Mixture, Multimodal, Packing, Profiling, Similarity, TextAnalysis}

/** Training-data pipeline query surface (SURVEY §2 section C):
  * dedup, similarity search, text analysis, multimodal plumbing.
  *
  * Oracle parity strategy: all hashing is md5 (identical hex in both
  * engines), all thresshold comparisons are integer cross-multiplied,
  * all vector math is sequential double reduction, all exported
  * doubles are rounded — see SURVEY §5.
  */
object QueriesData {

  /** SQL replay of the deterministic Lloyd trainer (md5-rank seeds,
    * two unrolled cosine-argmax rounds) ending in the final `assigned`
    * (vec_id, e, cell) CTE — shared by the ann_ivf_kmeans and
    * dedup_semantic oracles so both check the SAME trained cells. */
  private val kmeansAssignCte =
    """v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |seeds AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, ce FROM
      |  (SELECT md5('graft:' || CAST(vec_id AS VARCHAR)) AS h, vec_id, e AS ce
      |   FROM v ORDER BY h, vec_id LIMIT 16)),
      |a0 AS (SELECT vec_id, e, cid AS cell FROM (
      |  SELECT v.vec_id, v.e, s.cid,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      list_dot_product(v.e, s.ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(s.ce, s.ce)) DESC,
      |      s.cid) AS rn
      |  FROM v CROSS JOIN seeds s) WHERE rn = 1),
      |m1 AS (SELECT cell AS cid, list(m ORDER BY i) AS ce FROM
      |  (SELECT cell, i, avg(e[i]) AS m
      |   FROM a0 CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY cell, i)
      |  GROUP BY cell),
      |c1 AS (SELECT s.cid, coalesce(m1.ce, s.ce) AS ce FROM seeds s LEFT JOIN m1 USING (cid)),
      |a1 AS (SELECT vec_id, e, cid AS cell FROM (
      |  SELECT v.vec_id, v.e, c.cid,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      list_dot_product(v.e, c.ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(c.ce, c.ce)) DESC,
      |      c.cid) AS rn
      |  FROM v CROSS JOIN c1 c) WHERE rn = 1),
      |m2 AS (SELECT cell AS cid, list(m ORDER BY i) AS ce FROM
      |  (SELECT cell, i, avg(e[i]) AS m
      |   FROM a1 CROSS JOIN generate_series(1, 64) AS t(i) GROUP BY cell, i)
      |  GROUP BY cell),
      |c2 AS (SELECT c1.cid, coalesce(m2.ce, c1.ce) AS ce FROM c1 LEFT JOIN m2 USING (cid)),
      |assigned AS (SELECT vec_id, e, cid AS cell FROM (
      |  SELECT v.vec_id, v.e, c.cid,
      |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |      list_dot_product(v.e, c.ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(c.ce, c.ce)) DESC,
      |      c.cid) AS rn
      |  FROM v CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

  private val shingleCte =
    """sh AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |    for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3)""".stripMargin

  /** PINNED audit sample sizes (the r9-verdict scale fix): quality
    * audits measure on a deterministic md5-smallest sample of this
    * size, so audit cost is ∝ sample — constant as the corpus grows —
    * not ∝ corpus (the r9 full-corpus exact-PPJoin side measured
    * exponent 0.95 at 10×). Below the pin the sample is the whole
    * corpus, so small-sf gate results are unchanged. The draw is
    * C15's engine-stable md5 order, realized as a top-k (a bounded
    * per-partition heap merge, never a global sort). */
  val AuditDocSample = 1500
  val AnnAuditQuerySample = 32

  /** AMORTIZED-BUILD fixture for the graph-ANN family: the search
    * graph is a deterministic pure function of the corpus (every draw
    * is md5), so `ann_nndescent` and `ann_recall_audit` share ONE
    * build per (application, corpus dir) instead of each paying the
    * NN-descent construction — the production contract (a recurring
    * audit must probe an index, never build one; [[graft.ops.GraphIndex]]
    * is the persisted equivalent of this cache, and GraphIndexSpec
    * pins committed ≡ in-memory parity). The cached frame is
    * checkpoint-materialized by [[Similarity.nndSearchGraph]] itself;
    * holding the reference keeps its blocks alive. Keyed by
    * applicationId so a new session never sees another's blocks. */
  private val nndGraphCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def nndGraphFor(s: SparkSession, dir: String): DataFrame =
    nndGraphCache.computeIfAbsent(s.sparkContext.applicationId + "|" + dir,
      _ => Similarity.nndSearchGraph(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding")))

  /** Evict `dir`'s cached search graph and UNPERSIST its checkpoint
    * blocks — call when a measurement pass is done with a corpus dir
    * (Bench does, after the 10×-replica scaling runs) so a long-lived
    * session scanning many corpora doesn't accumulate one pinned
    * graph per dir. Safe while absent; the next [[nndGraphFor]]
    * rebuilds. */
  def evictNndGraph(s: SparkSession, dir: String): Unit = {
    val g = nndGraphCache.remove(s.sparkContext.applicationId + "|" + dir)
    if (g != null) Ckpt.free(g)
  }

  /** Fresh UNCACHED graph build on `dir` — the bench's `graph_build`
    * pricing hook: [[nndGraphFor]] amortizes the build away from the
    * timed passes (the production shape), so this explicit build is
    * what keeps the construction cost a RECORDED number (base seconds
    * + 10× exponent in every BENCH round). Evicts nothing and caches
    * nothing; the returned frame's blocks are the caller's to drop. */
  def buildNndGraphFresh(s: SparkSession, dir: String): DataFrame =
    Similarity.nndSearchGraph(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"))

  /** AMORTIZED per-corpus PERSISTED hybrid-index fixture for
    * `ann_hybrid_indexed`: one committed InvertedIndex (docs lake
    * table + postings) and one committed GraphIndex per (application,
    * corpus dir) — the production contract again: a recurring serving
    * query probes indexes, it never builds them. The GraphIndex
    * commit REUSES [[nndGraphFor]]'s shared NN-descent build
    * (GraphIndex.build graphOpt), so the corpus pays ONE graph
    * construction total across the in-memory and persisted families.
    * Roots live under a temp dir deleted by a JVM shutdown hook (and
    * eagerly by [[evictHybridIndex]], which Bench calls per corpus).
    * Returns (invertedIndexRoot, graphRoot, nDocs). */
  private val hybridIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, Long)]()
  private def hybridIndexRoots(s: SparkSession, dir: String): (String, String, Long) =
    hybridIdxCache.computeIfAbsent(s.sparkContext.applicationId + "|" + dir, _ => {
      val tmp = TmpSweep.gateTempDir("hybidx")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(tmp)))
      val inv = tmp.toString + "/inv"
      val g = tmp.toString + "/graph"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("text"))
        .withColumn("ver", lit(0L)).withColumn("del", lit(false))
      graft.sinks.PkTableSink.mergeTx(s, inv, docs, Seq("id"), Seq("ver"),
        "del", writer = "hyb")
      graft.sinks.InvertedIndex.buildTx(s, inv, "id", "text")
      graft.ops.GraphIndex.build(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), g, graphOpt = Some(nndGraphFor(s, dir)))
      val n = Tables.documents(s, dir).count()
      (inv, g, n)
    })

  /** Drop `dir`'s persisted hybrid-index roots (Bench calls this with
    * [[evictNndGraph]] when a measurement pass is done with a
    * corpus). Safe while absent; next use rebuilds. */
  def evictHybridIndex(s: SparkSession, dir: String): Unit = {
    val e = hybridIdxCache.remove(s.sparkContext.applicationId + "|" + dir)
    if (e != null)
      deleteTree(java.nio.file.Paths.get(e._1).getParent)
  }

  // amortized per-corpus committed IVF index over embeddings — the
  // ann_filtered gate probes it; the BUILD (k-means training, the
  // expensive part) happens once per (session, corpus) like the
  // hybrid roots above, which is the production shape: a filtered
  // search never trains an index
  private val ivfIdxCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfIndexRoot(s: SparkSession, dir: String): String =
    ivfIdxCache.computeIfAbsent(s.sparkContext.applicationId + "|" + dir, _ => {
      val tmp = TmpSweep.gateTempDir("ivfidx")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(tmp)))
      val root = tmp.toString + "/ivf"
      graft.ops.IvfIndex.build(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding").cast("array<double>"), root)
      root
    })

  /** Drop `dir`'s amortized IVF index root (Bench pairs this with
    * [[evictHybridIndex]]). Safe while absent; next use rebuilds. */
  def evictIvfIndex(s: SparkSession, dir: String): Unit = {
    val e = ivfIdxCache.remove(s.sparkContext.applicationId + "|" + dir)
    if (e != null)
      deleteTree(java.nio.file.Paths.get(e).getParent)
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    } catch { case _: java.io.IOException => () }

  /** [[shingleCte]] over the pinned md5-sample of documents — the
    * dedup_quality_audit oracle's input slice, identical to the Spark
    * side's draw. */
  private val sampledShingleCte =
    s"""sdoc AS (
      |  SELECT * FROM documents
      |  ORDER BY md5(doc_id || ':qaudit'), doc_id LIMIT $AuditDocSample),
      |sh AS (
      |  SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |    for i in range(1, len(w) - 1)]) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sdoc)
      |  WHERE len(w) >= 3)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1: exact dedup by content hash
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), md5(col("text")))
        .select(col("keep_id"), col("content_hash"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // C2: dedup on normalized text (case + whitespace folding)
    "dedup_normalized" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))))
        .select(col("keep_id"), col("content_hash"), col("n_copies"))
        .orderBy(col("keep_id"))
    },

    // C3: MinHash + LSH banding + exact-Jaccard verification
    "dedup_minhash_lsh" -> { (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // C70: cross-SOURCE near-duplicate overlap matrix — corpus
    // governance: which ingestion sources re-serve each other's
    // content (mirror detection, license triage, mixture
    // double-counting). The pair set is C3's verified MinHash-LSH
    // output (banded candidates + exact-Jaccard verify — never an
    // all-pairs stage); each pair fetches its endpoints' sources via
    // two hash equi-joins on doc_id (the pair frame is the SMALL side
    // at any corpus size — near-dup mass, not corpus mass), and the
    // matrix is one groupBy over the normalized source pair. Same-
    // source rows stay in: intra-source duplication mass is the other
    // governance number.
    "dedup_source_overlap" -> { (s, dir) =>
      val srcs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      Dedup.minhashLshPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
        .join(srcs.select(col("doc_id").as("doc_a"), col("source").as("sa")),
          "doc_a")
        .join(srcs.select(col("doc_id").as("doc_b"), col("source").as("sb")),
          "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          // exact 1e-4 units: jaccard is already 4dp both engines, so
          // ju is an exact long and the mean rounds half-up via
          // floor((2Σ+n)/(2n)) — no FP boundary can flap (the r12 sf1
          // 1-ulp lesson; same construction as q_interpolate)
          floor(col("jaccard") * 10000d + 0.5d).cast("long").as("ju"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          (floor((lit(2) * sum(col("ju")) + count(lit(1))).cast("double") /
            (lit(2) * count(lit(1))).cast("double"))
            .cast("double") / 10000d).as("mean_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // C65: dedup QUALITY AUDIT — the number the LSH docs only assert:
    // banding recall measured against the exact PPJoin ground truth on
    // the same corpus and threshold. Verified LSH output is a subset
    // of the exact pairs by construction (precision pinned at 1.0 —
    // the audit cross-checks it); recall = banding's true hit rate.
    // The audit is itself a query so every round's artifact carries
    // it — a corpus drift that degrades banding shows up as a red
    // hash, not a silent quality loss.
    //
    // BOUNDED: the audit measures recall on a PINNED-SIZE
    // deterministic document sample (AuditDocSample docs, the
    // md5-smallest — C15's engine-stable draw, top-k not a global
    // sort), never the full corpus. The r9 form recomputed the exact
    // PPJoin ground truth over everything — exponent 0.95 at 10×; at
    // 100 TB an audit's cost must be ∝ its sample, with the full-
    // corpus pass reserved for the production LSH path it audits.
    // Below the pin (sf0.01's 500 docs) the sample IS the corpus, so
    // the small-sf gate result is unchanged.
    "dedup_quality_audit" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .orderBy(md5(concat(col("doc_id"), lit(":qaudit"))), col("doc_id"))
        .limit(AuditDocSample)
      val exact = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b")).withColumn("e", lit(1L))
      val lsh = Dedup.minhashLshPairs(d, col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b")).withColumn("l", lit(1L))
      exact.join(lsh, Seq("doc_a", "doc_b"), "full")
        .agg(sum(coalesce(col("e"), lit(0L))).as("n_exact"),
          sum(coalesce(col("l"), lit(0L))).as("n_lsh"),
          sum(when(col("e").isNotNull && col("l").isNotNull, 1L)
            .otherwise(0L)).as("n_both"))
        .select(col("n_exact"), col("n_lsh"), col("n_both"),
          Rounding.r(col("n_both").cast("double") / col("n_exact"), 4).as("recall"),
          Rounding.r(col("n_both").cast("double") / col("n_lsh"), 4).as("precision"))
    },

    // C4: exact all-pairs set-similarity join on 3-gram shingles
    "dedup_ngram_jaccard" -> { (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // C24: incremental dedup — today's batch (doc_id % 4 == 0) deduped
    // against the accumulated corpus (the rest); band join is
    // batch×corpus, never corpus×corpus
    "dedup_incremental" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.minhashLshPairsAgainst(
        corpus = d.where(col("doc_id") % 4 =!= 0), corpusId = col("doc_id"),
        corpusText = col("text"),
        batch = d.where(col("doc_id") % 4 === 0), batchId = col("doc_id"),
        batchText = col("text"))
        .orderBy(col("new_id"), col("prior_id"))
    },

    // C25: token-budget sampling — per language, take docs in
    // md5-pseudo-random order until the running token count exceeds
    // the budget (pretraining mixture construction). Scale note: the
    // running sum is sequential per stratum (one window partition per
    // language); with few-language/100 TB corpora, pre-thin with a
    // cheap md5-rate filter (sample_deterministic) sized from corpus
    // stats so the windowed pass sees ~budget-sized strata only.
    // C49: APPLY the mixture — C35's √-temperature weights become
    // per-stratum token targets (weight · ¼ of the corpus token mass)
    // and the sampled corpus materializes by the same md5-ordered
    // running-sum cut as C25. Closes the weights → corpus loop: what a
    // pretraining run actually reads. Targets are a stratum-cardinality
    // broadcast; the only row-scale work is one window pass.
    "mix_apply" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val d = docs.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val weights = Mixture.temperatureWeights(docs, col("lang"),
        size(split(col("text"), " ")))
      val tgt = weights
        .crossJoin(broadcast(weights.agg(sum(col("n_tok")).as("total"))))
        .select(col("stratum"),
          floor(col("weight") * floor(col("total") / lit(4)).cast("double"))
            .cast("long").as("target"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id"), lit(":mix"))), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .join(broadcast(tgt), col("lang") === col("stratum"))
        .where(col("cum_tokens") <= col("target"))
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"))
    },

    "sample_token_budget" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id"), lit(":tb"))), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .where(col("cum_tokens") <= 2000)
        .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("lang"), col("cum_tokens"))
    },

    // C29: training-batch sequence packing — deterministic per-lang
    // layout cut into 1024-token packs by the fixed-boundary greedy
    // rule (pack = div of the doc's cumulative start offset); one
    // window function, no iterative state
    "pack_sequences" -> { (s, dir) =>
      Packing.packContiguous(Tables.documents(s, dir),
          streamCol = col("lang"), idCol = col("doc_id"),
          tokensCol = size(split(col("text"), " ")), budgetTokens = 1024L)
        .select(col("id").as("doc_id"), col("stream").as("lang"),
          col("n_tok"), col("start_tok"), col("pack_id"))
        .orderBy(col("doc_id"))
    },

    // C20: duplicate clusters — connected components over the exact
    // near-dup pair graph (keep min-id representative per cluster)
    "dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
      Dedup.duplicateClusters(pairs)
        .orderBy(col("doc_id"))
    },

    // C71: SOFT dedup — sample with keep-probability 1/cluster_size
    // instead of hard-dropping duplicates (the production middle
    // ground: hard dedup erases naturally-popular content's frequency
    // signal entirely; no dedup lets mirrors dominate; 1/n keeps each
    // distinct content's EXPECTED mass equal to one copy). Clusters
    // are C20's connected components over the verified near-dup
    // pairs; unclustered docs are singletons (always kept — u < 2³²
    // is vacuous at size 1). The accept test is integer-exact:
    // u · size < 2³², u the first 8 md5 hex digits of a salted
    // doc_id, so the sample is deterministic and hash-replayable
    // cross-engine with zero FP anywhere.
    "sample_softdedup" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"))
      val clusters = Dedup.duplicateClusters(pairs) // (doc_id, cluster)
      val withC = d.select(col("doc_id")).join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
      val sizes = withC.groupBy(col("cluster")).agg(count(lit(1)).as("c_size"))
      val u = conv(substring(md5(concat(col("doc_id"), lit(":sdd"))), 1, 8),
        16, 10).cast("long")
      withC.join(sizes, "cluster")
        .where(u * col("c_size") < lit(4294967296L))
        .select(col("doc_id"), col("cluster"), col("c_size"))
        .orderBy(col("doc_id"))
    },

    // C45: cluster-representative selection — the real-world dedup
    // DECISION stage: within each near-dup cluster keep the
    // HIGHEST-QUALITY member (min-id is the toy rule; production
    // curation keeps the best copy). Composes C20's connected
    // components with C10's quality score; clusters are small, so
    // the per-cluster argmax window is cheap after the heavy pair
    // work. Docs outside any cluster are their own representative.
    "dedup_keep_best" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(d, col("doc_id"), col("text"))
      val clusters = Dedup.duplicateClusters(pairs) // (doc_id, cluster)
      val quality = TextAnalysis.qualityScore(d, col("doc_id"), col("text"))
        .select(col("doc_id"), col("quality"))
      // ONE pass over the corpus: the checkpointed (small) clusters
      // frame broadcast-joins onto the quality scan, and the
      // per-cluster argmax is a hash AGGREGATE (max_by on a
      // (quality, -doc_id) ordering key) — no per-partition sort, and
      // partial aggregation runs map-side, unlike a row_number window
      val members = quality.join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      members.groupBy(col("cluster"))
        .agg(max_by(struct(col("doc_id"), col("quality")),
          struct(col("quality"), (-col("doc_id")).as("nid"))).as("b"))
        .select(col("cluster"), col("b.doc_id").as("keep_id"),
          col("b.quality").as("quality"))
        .orderBy(col("cluster"))
    },

    // C5: SimHash near-dup pairs (hamming ≤ 3) — 64-bit fingerprint so
    // the lossless banding carries 16 bits/band (65,536 buckets; the
    // 32-bit/8-bit-band variant is O(n²/256) at corpus scale)
    "dedup_simhash" -> { (s, dir) =>
      val sim = Dedup.simhash64(Tables.documents(s, dir), col("doc_id"), col("text"))
      Dedup.simhashPairs(sim, maxHamming = 3, bits = 64)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // C57: edit-distance near-dup pairs — the CHARACTER-level modality
    // (OCR noise / typo variants): char-6-gram dual SimHash banding
    // blocks candidates (lossless for hamming ≤ 3 on the banded
    // fingerprint; order-sensitive grams + a second hash view keep
    // low-entropy corpora from going quadratic), levenshtein verifies
    // editSim = 1 − lev/maxlen ≥ 0.8 on the blocked set only
    "dedup_editdist" -> { (s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), col("doc_id"),
        col("text"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // C6: embedding-cosine near-dup pairs
    "dedup_embedding" -> { (s, dir) =>
      Similarity.cosinePairs(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },

    // C6b: cosine LSH — random-hyperplane banding, the linear-time
    // candidate path for embedding dedup at corpus scale
    "dedup_embedding_lsh" -> { (s, dir) =>
      Similarity.cosineLshPairs(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },

    // C47: SemDeDup — semantic dedup inside k-means cells (Abbas et
    // al. 2023). Shares the SQL-replayable Lloyd trainer (and its
    // per-corpus centroid cache) with ann_ivf_kmeans, so the oracle
    // replays cluster → within-cell pairs → min-id keep end to end.
    "dedup_semantic" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansCentroidsCached(s"$dir|lloyd-seeded|k=16",
        emb, col("vec_id"), col("embedding"), k = 16,
        train = Similarity.kmeansLloydSeeded(_, _, _, _))
      Similarity.semDedup(emb, col("vec_id"), col("embedding"), cents,
        threshold = 0.4)
        .orderBy(col("id"))
    },

    // C7: exact top-k cosine neighbors (brute-force baseline)
    // C53: JL ±1 random projection 64 → 16 dims — the
    // dimensionality-reduction stage before banding/clustering at
    // corpus scale; row-local literal-plane dots, no shuffle
    "embed_project" -> { (s, dir) =>
      Similarity.projectSigns(Tables.embeddings(s, dir),
          col("vec_id"), col("embedding"), outDims = 16, inDims = 64)
        .orderBy(col("vec_id"), col("dim"))
    },

    "ann_topk_bruteforce" -> { (s, dir) =>
      Similarity.topkBruteForce(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 50 === 0, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // C8: IVF-cell ANN (deterministic centroids, in-cell search)
    "ann_ivf" -> { (s, dir) =>
      Similarity.ivfTopk(Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isCentroid = _ % 25 === 0, isQuery = _ % 40 === 0, k = 3)
        .orderBy(col("qid"), col("rank"))
    },

    // C8b: IVF with nprobe=2 — the recall knob; probe cells ranked by
    // centroid cosine, top-k over the union of probed cells
    "ann_ivf_nprobe" -> { (s, dir) =>
      Similarity.ivfTopk(Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isCentroid = _ % 25 === 0, isQuery = _ % 40 === 0, k = 3, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // C8c: production-shaped IVF — TRAINED centroids instead of
    // corpus-row stand-ins. Trainer is the SQL-replayable Lloyd
    // k-means (md5-rank seeds, 2 cosine-assignment rounds), so the
    // full train+search pipeline hash-checks against the DuckDB
    // oracle; the k-means|| trainer (whose Σd²-conditioned sampling
    // no second engine reproduces bit-exactly) powers the persisted
    // IVF index (C8d), spec-checked there.
    "ann_ivf_kmeans" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      // index-build / search split: centroids train once per corpus
      // (deterministic, so a cache hit is byte-identical to retrain)
      val cents = Similarity.kmeansCentroidsCached(s"$dir|lloyd-seeded|k=16",
        emb, col("vec_id"), col("embedding"), k = 16,
        train = Similarity.kmeansLloydSeeded(_, _, _, _))
      Similarity.ivfTopkCentroids(emb, col("vec_id"), col("embedding"),
        cents, isQuery = _ % 40 === 0, k = 3, nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // C43b: TRUE IVFPQ (FAISS IndexIVFPQ, by_residual=false) — C8c's
    // trained cells prune candidates, C43's PQ codes score them (ADC),
    // exact rerank on the pool; the full billion-scale ANN shape in
    // one query, oracle-replayed end to end
    "ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.kmeansCentroidsCached(s"$dir|lloyd-seeded|k=16",
        emb, col("vec_id"), col("embedding"), k = 16,
        train = Similarity.kmeansLloydSeeded(_, _, _, _))
      Similarity.ivfpqTopk(emb, col("vec_id"), col("embedding"), cents,
        isQuery = _ % 40 === 0, m = 4, codes = 64, k = 3, rerankK = 20,
        nprobe = 2)
        .orderBy(col("qid"), col("rank"))
    },

    // C44: brute-force top-k through the bounded TopKBy AGGREGATOR —
    // the per-group TOPN shape: exchange carries ≤ k pairs per
    // partition per query instead of window-sorting each query's full
    // scored stream in one task; exact, same oracle as C7
    "ann_topk_agg" -> { (s, dir) =>
      Similarity.topkAgg(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 50 === 0, k = 5)
        .orderBy(col("qid"), col("rank"))
    },

    // C78: Maximal-Marginal-Relevance diversity rerank — the
    // relevance-vs-redundancy greedy (λ·cos(q,d) − (1−λ)·max sim to
    // the already-picked set) every retrieval stack runs between
    // recall and the reader, unrolled into declarative window-rank
    // steps over a checkpointed top-10 pool (one corpus scan; the
    // rerank itself is pool-sized and corpus-free). The oracle replays
    // the greedy exactly: same sequential dots, same (1−λ) double,
    // same nid tie-breaks — scores hash-compared at 4dp.
    "ann_mmr" -> { (s, dir) =>
      Similarity.mmrTopkBrute(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 50 === 0, pool = 10, m = 3, lambda = 0.7)
        .orderBy(col("qid"), col("rank"))
    },

    // C69: hybrid lexical+semantic retrieval fused by Reciprocal Rank
    // Fusion (Cormack et al. SIGIR'09) — the two-tower search shape a
    // curation/RAG stack runs over the corpus: idf-weighted token
    // overlap (sparse) and embedding cosine (dense) ranked
    // independently, lists cut to top-20, fused by Σ 1/(60+rank).
    // Each leg ranks on 4dp-rounded scores (cross-engine Σ-order
    // drift collapsed — the text_tfidf construction) so the whole
    // fusion hash-replays in the oracle.
    "ann_hybrid_rrf" -> { (s, dir) =>
      HybridRetrieval.rrfTopk(
        Tables.documents(s, dir), col("doc_id"), col("text"),
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"),
        isQuery = _ % 40 === 0, k = 5, listN = 20)
        .orderBy(col("qid"), col("rank"))
    },

    // C72 (r13): hybrid retrieval SERVED FROM THE PERSISTED INDEXES —
    // the r12 verdict's production shape: sparse leg = committed
    // InvertedIndex postings (rankTx, idf from index-resident df on
    // the same 1e-4 integer basis → identical ranks to C69's leg on a
    // fresh index), dense leg = committed GraphIndex beam probe
    // (approximate — recall per the gated audit), fused by the SAME
    // RRF arithmetic. Cost ∝ queries·(postings + beam), never a
    // corpus scan. The gate pins fused-top-5 OVERLAP vs the C69
    // brute-fusion ground truth on a pinned md5 query sample (the
    // dedup_quality_audit construction): the oracle replays the
    // sample draw and expects every overlap_ok TRUE — a recall
    // regression in either persisted index turns rows red.
    "ann_hybrid_indexed" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val qids = emb.where(col("vec_id") % 40 === 0)
        .orderBy(md5(concat(col("vec_id"), lit(":hyq"))), col("vec_id"))
        .limit(AnnAuditQuerySample)
        .select(col("vec_id")).as[Long].collect().toSeq
      val base = HybridRetrieval.rrfTopk(docs, col("doc_id"), col("text"),
          emb, col("vec_id"), col("embedding"),
          isQuery = _.isin(qids: _*), k = 5, listN = 20)
        .select(col("qid"), col("nid"))
      val (invRoot, gRoot, nDocs) = hybridIndexRoots(s, dir)
      val idx = HybridRetrieval.rrfTopkIndexed(s, invRoot, gRoot,
          docs.where(col("doc_id").isin(qids: _*)), col("doc_id"), col("text"),
          emb.where(col("vec_id").isin(qids: _*)), col("vec_id"), col("embedding"),
          nDocs, k = 5, listN = 20)
        .select(col("qid"), col("nid"))
      val overlap = idx.join(base, Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
      qids.toDF("qid")
        .join(overlap, Seq("qid"), "left").na.fill(0L, Seq("n_overlap"))
        .select(col("qid"), (col("n_overlap") >= 3).as("overlap_ok"))
        .orderBy(col("qid"))
    },

    // C74: metadata-FILTERED ANN on the persisted indexes — the
    // filter+vector query every retrieval stack hits ("nearest among
    // label<5 rows"), served by GraphIndex.searchFiltered (route the
    // full graph, over-fetch, post-filter, exact fallback) and
    // IvfIndex.searchFiltered (eligible semi-join BEFORE in-cell
    // scoring) with ops.FilteredAnn's selectivity dispatch: the sharp
    // predicate (label=3, ~10%) takes the exact brute leg over the
    // eligible slice, the broad one (label<5, ~50%) exercises the
    // index legs. Per (strategy × selectivity) the gate measures
    // against an INDEPENDENTLY-computed filtered brute-force ground
    // truth (window-rank machinery, not the TopKBy aggregator the
    // exact leg uses) and emits three invariants the oracle pins:
    // elig_only_ok (every returned id satisfies the predicate),
    // fill_ok (every query returns min(k, |eligible\{self}|) rows —
    // the fallback guarantee), recall_ok (sharp legs exactly 1.0;
    // graph/broad ≥ 0.9 — the nnd floor; ivf/broad ≥ 0.7 at
    // nprobe=8 of 16 cells on the 50% slice (measured 0.79; r14
    // verdict #2 — a gate row that cannot fail is decoration; the
    // wide probe is the honest cell-probe cost of ISOTROPIC
    // embeddings, the C8-documented weakness that motivates the
    // graph index as the production dense leg).
    "ann_filtered" -> { (s, dir) =>
      import s.implicits._
      import graft.ops.{FilteredAnn, GraphIndex, IvfIndex}
      val emb = Tables.embeddings(s, dir)
      val qids = emb.where(col("vec_id") % 40 === 0)
        .orderBy(md5(concat(col("vec_id"), lit(":lfq"))), col("vec_id"))
        .limit(AnnAuditQuerySample)
        .select(col("vec_id")).as[Long].collect().toSeq
      val nQ = qids.size.toLong
      val queries = emb.where(col("vec_id").isin(qids: _*))
        .localCheckpoint(true)
      val (_, gRoot, _) = hybridIndexRoots(s, dir)
      val ivfRoot = ivfIndexRoot(s, dir) // amortized committed IVF index
      val rows = {
        val k = 3
        // independent ground truth: window-rank brute over the
        // eligible slice (different ranking machinery than the exact
        // leg's TopKBy aggregator — their agreement is itself checked)
        def truthOf(elig: DataFrame): DataFrame = {
          import org.apache.spark.sql.expressions.Window
          val c = emb.join(elig, Seq("vec_id"), "left_semi")
            .select(col("vec_id").as("id"),
              col("embedding").cast("array<double>").as("v"))
            .withColumn("n2", Similarity.normSq(col("v")))
          val qf = queries.select(col("vec_id").as("qid"),
              col("embedding").cast("array<double>").as("qv"))
            .withColumn("qn2", Similarity.normSq(col("qv")))
          val w = Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("nid").asc)
          c.join(broadcast(qf), col("id") =!= col("qid"))
            .select(col("qid"), col("id").as("nid"),
              Similarity.cosineWithNorms(Similarity.dot(col("qv"), col("v")),
                col("qn2"), col("n2")).as("cos"))
            .withColumn("rank", row_number().over(w))
            .where(col("rank") <= k)
            .select(col("qid"), col("nid"))
        }
        // per-PREDICATE facts shared by the two strategy legs: the
        // eligible id frame (checkpointed — read thrice per leg), its
        // count, the self-in-eligible query subset, and the ground
        // truth (the gate's expensive side — computed once, not per
        // strategy)
        case class Pred(elig: DataFrame, nElig: Long,
                        selfIn: Set[Long], truth: DataFrame)
        def predOf(cond: Column): Pred = {
          val elig = emb.where(cond).select(col("vec_id"))
            .localCheckpoint(true)
          val selfIn = queries.select(col("vec_id"))
            .join(elig, Seq("vec_id"), "left_semi")
            .as[Long].collect().toSet // ≤ query-sample size
          Pred(elig, elig.count(), selfIn,
            truthOf(elig).localCheckpoint(true))
        }
        def legRow(strategy: String, selName: String, p: Pred,
                   recallFloor: Option[Double]): (String, String, Long, Long,
                     Boolean, Boolean, Option[Boolean]) = {
          val res = (strategy match {
            case "graph" => GraphIndex.searchFiltered(s, gRoot, queries,
              col("vec_id"), col("embedding"), k, p.elig, col("vec_id"))
            case _ => IvfIndex.searchFiltered(s, ivfRoot, queries,
              col("vec_id"), col("embedding"), k, p.elig, col("vec_id"),
              nprobe = 8)
          }).localCheckpoint(true) // bounded: ≤ queries·k rows
          val eligOnly = res.join(p.elig.withColumnRenamed("vec_id", "nid"),
            Seq("nid"), "left_anti").count() == 0
          val got = res.groupBy(col("qid")).agg(count(lit(1)).as("n"))
            .as[(Long, Long)].collect().toMap
          val fillOk = qids.forall { id =>
            got.getOrElse(id, 0L) ==
              math.min(k.toLong, p.nElig - (if (p.selfIn(id)) 1L else 0L)) }
          val hits = res.select(col("qid"), col("nid"))
            .join(p.truth, Seq("qid", "nid"), "left_semi").count()
          val recall = hits.toDouble / (nQ * k)
          val recallOk = recallFloor.map(f => recall >= f)
          (strategy, selName, nQ, p.nElig, eligOnly, fillOk, recallOk)
        }
        // the two predicate fixtures (each pays a brute-force truth
        // leg) and the four strategy legs are independent job chains
        // over shared CHECKPOINTED frames — overlapped (guide §2.6);
        // row order is fixed by the Seq, so output is unchanged
        val Seq(broad, sharp) = graft.Par.map(Seq(
          col("label") < 5, col("label") === 3))(predOf)
        graft.Par.map(Seq(
          ("graph", "broad", broad, Option(0.9)),
          ("graph", "sharp", sharp, Option(1.0)),
          ("ivf", "broad", broad, Option(0.7)),
          ("ivf", "sharp", sharp, Option(1.0)))) { case (st, sel, p, f) =>
          legRow(st, sel, p, f) }
      }
      rows.toDF("strategy", "sel", "n_queries", "n_elig",
          "elig_only_ok", "fill_ok", "recall_ok")
        .orderBy(col("strategy"), col("sel"))
    },

    // C76 (r15): FILTERED hybrid retrieval — C74's eligibility frame
    // composed with C72's fused RRF (the r14 verdict's #7 ask; the
    // filter + hybrid query a real retrieval stack actually serves):
    // sparse leg = committed postings (rankTx) SEMI-JOINED to the
    // eligible ids before ranking (a posting scan is unaffected by
    // pre-filtering; idf stays index-resident/corpus-wide), dense leg
    // = the committed graph through searchFiltered (full-graph
    // routing, k·4 over-fetch, post-filter, exact fallback — a
    // pre-filtered walk would disconnect), fused by the SHARED RRF
    // arithmetic. Ground truth = the same fusion brute-forced over
    // the eligible slice (rrfTopk's eligible knob). Per query the
    // oracle pins three flags: elig_only_ok (every fused nid
    // satisfies the predicate), fill_ok (the fused list fills to
    // min(k, |eligible∖{self}|), inherited from the dense leg's fill
    // guarantee), overlap_ok (≥ 3 of 5 fused results match the
    // brute-fusion truth — the C72 floor; a recall regression in
    // either index or a broken eligibility join turns rows red).
    "ann_hybrid_filtered" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val docs = Tables.documents(s, dir)
      val qids = emb.where(col("vec_id") % 40 === 0)
        .orderBy(md5(concat(col("vec_id"), lit(":hfq"))), col("vec_id"))
        .limit(AnnAuditQuerySample)
        .select(col("vec_id")).as[Long].collect().toSeq
      val k = 5
      val elig = emb.where(col("label") < 5).select(col("vec_id"))
        .localCheckpoint(true) // id-only; read by both legs + the flags
      val base = HybridRetrieval.rrfTopk(docs, col("doc_id"), col("text"),
          emb, col("vec_id"), col("embedding"),
          isQuery = _.isin(qids: _*), k = k, listN = 20,
          eligible = Some(elig.select(col("vec_id").as("id"))))
        .select(col("qid"), col("nid"))
      val (invRoot, gRoot, nDocs) = hybridIndexRoots(s, dir)
      // the three eager legs (eligible count, self-membership collect,
      // indexed-probe checkpoint) only read the checkpointed elig
      // frame + committed indexes — independent job chains, overlapped
      // (guide §2.6)
      val Seq(nEligA, selfInA, idxA) = graft.Par.map[() => Any, Any](Seq(
        () => elig.count(),
        () => elig.where(col("vec_id").isin(qids: _*))
          .as[Long].collect().toSet, // ≤ query-sample size
        () => HybridRetrieval.rrfTopkFilteredIndexed(s, invRoot, gRoot,
            docs.where(col("doc_id").isin(qids: _*)), col("doc_id"), col("text"),
            emb.where(col("vec_id").isin(qids: _*)), col("vec_id"), col("embedding"),
            nDocs, elig, col("vec_id"), k = k, listN = 20)
          .localCheckpoint(true) // bounded: ≤ queries·k rows
      ))(_())
      val nElig = nEligA.asInstanceOf[Long]
      val selfIn = selfInA.asInstanceOf[Set[Long]]
      val idx = idxA.asInstanceOf[DataFrame]
      val perQ = idx
        .join(elig.select(col("vec_id").as("nid")).withColumn("in_elig", lit(1L)),
          Seq("nid"), "left")
        .join(base.withColumn("in_base", lit(1L)), Seq("qid", "nid"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("n_got"),
          sum(coalesce(col("in_elig"), lit(0L))).as("n_elig_hits"),
          sum(coalesce(col("in_base"), lit(0L))).as("n_overlap"))
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap // ≤ query-sample size
      qids.map { id =>
        val (got, eligHits, overlap) = perQ.getOrElse(id, (0L, 0L, 0L))
        val fillWant = math.min(k.toLong, nElig - (if (selfIn(id)) 1L else 0L))
        (id, eligHits == got, got == fillWant, overlap >= 3L)
      }.toDF("qid", "elig_only_ok", "fill_ok", "overlap_ok")
        .orderBy(col("qid"))
    },

    // C30: int8-quantized ANN + exact rerank (FAISS SQ8 shape): codes
    // rank candidates 4× cheaper, top-20 pay exact cosine, top-3 out.
    // Quantized scores are small integers — exact in doubles — so the
    // candidate pool replays bit-identically in the oracle.
    "ann_int8_rerank" -> { (s, dir) =>
      Similarity.int8TopkRerank(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 40 === 0, k = 3, rerankK = 20)
        .orderBy(col("qid"), col("rank"))
    },

    // C43: product-quantized ANN + exact rerank (FAISS IVFPQ's PQ
    // stage): 4 subspaces × 64 md5-rank codewords, dots-only L2²
    // encoding, explicitly-ordered ADC sum, top-50 pool → exact top-3.
    // Codebooks are derivation-replayable, so even the trained-index
    // shape stays hash-green. (Isotropic synthetic embeddings are
    // PQ's worst case — hence the generous codebook/pool; KMeansSpec
    // pins recall ≥ 0.6 against brute force.)
    "ann_pq" -> { (s, dir) =>
      Similarity.pqTopkRerank(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 40 === 0, m = 4, codes = 64,
        k = 3, rerankK = 50)
        .orderBy(col("qid"), col("rank"))
    },

    // GRAPH ANN (r10): NN-descent K-NN graph + bounded beam search —
    // the HNSW-class index the r9 recall audit argued for: cell-probe
    // indexes lose recall on isotropic embeddings (no cluster
    // structure to prune by); a neighbor graph routes by LOCAL
    // geometry and does not care. Deterministic md5-bucket initial
    // draw, Similarity.NndRounds NN-descent rounds, NndEntries
    // md5-smallest shared entry points, an NndHops-hop beam-NndBeam
    // walk — all replayed verbatim by the oracle (nndOracle below),
    // so even the graph build is hash-gated. The graph comes from the
    // shared amortized-build fixture (nndGraphFor): built once per
    // corpus, probed by every graph query — build cost is index
    // maintenance, not per-query work.
    "ann_nndescent" -> { (s, dir) =>
      Similarity.nnDescentTopk(Tables.embeddings(s, dir), col("vec_id"),
        col("embedding"), isQuery = _ % 40 === 0, k = 3,
        graphOpt = Some(nndGraphFor(s, dir)))
        .orderBy(col("qid"), col("rank"))
    },

    // ANN RECALL AUDIT — the dedup_quality_audit (C65) construction
    // applied to the ANN family: per approximate index (ivf,
    // ivf_nprobe, trained-kmeans ivf, int8+rerank, pq, ivfpq), top-3
    // SET recall against the brute-force ground truth on the SAME
    // query set (%40, k=3), one summary row per index, regenerated and
    // oracle-checked every round. KMeansSpec's top-1 pins (int8 ≥0.9,
    // pq ≥0.6) remain the hard floor; this makes the measured numbers
    // gate artifacts instead of spec-only assertions — including the
    // HONESTLY LOW cell-probe recalls on the isotropic synthetic
    // corpus (IVF's documented worst case), which is exactly what the
    // rerank variants exist to recover. Composes the already-
    // oracle-backed index queries verbatim, so the oracle replays BOTH
    // pair sets and the intersection arithmetic end to end. The nnd
    // row probes the SHARED amortized graph (nndGraphFor) — the audit
    // never pays an index build; its cost is ∝ probes + the sampled
    // brute-force truth.
    "ann_recall_audit" -> { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // PINNED-SIZE deterministic query sample (the r9-verdict bound):
      // md5-smallest AnnAuditQuerySample ids of the %40 query set — a
      // centroid-class driver fetch (≤32 longs). Truth cost becomes
      // sample×corpus; the semi-join on (qid, nid) below then confines
      // the whole audit to the sampled slice, so each index query can
      // still be composed VERBATIM (unsampled) and stay oracle-shared.
      val qids = emb.where(col("vec_id") % 40 === 0)
        .orderBy(md5(concat(col("vec_id"), lit(":annq"))), col("vec_id"))
        .limit(AnnAuditQuerySample)
        .select(col("vec_id")).as[Long].collect().toSeq
      val exact = Similarity.topkBruteForce(emb,
          col("vec_id"), col("embedding"),
          isQuery = _.isin(qids: _*), k = 3)
        .select(col("qid"), col("nid"))
      val indexes = Seq("ivf" -> "ann_ivf", "ivf_nprobe" -> "ann_ivf_nprobe",
        "ivf_kmeans" -> "ann_ivf_kmeans", "int8" -> "ann_int8_rerank",
        "pq" -> "ann_pq", "ivfpq" -> "ann_ivfpq", "nnd" -> "ann_nndescent")
      // ONE unioned candidate frame → one semi-join against the ground
      // truth → one aggregation: the brute-force baseline (the audit's
      // expensive side — |queries|×|corpus| cosines at gate scale)
      // evaluates twice (hits + n_queries), not once per index. The
      // zero-hit edge keeps its row via the left join from the
      // 4-row index list.
      // the 7 index sub-queries are independent and their CONSTRUCTION
      // runs eager driver jobs (codebook/centroid collects, beam
      // seeds) — overlapped (guide §2.6); union order is fixed by the
      // Seq, so output is unchanged
      val cand = graft.Par.map(indexes) { case (nm, q) =>
        QueriesData.queries(q)(s, dir)
          .select(lit(nm).as("index_name"), col("qid"), col("nid"))
      }.reduce(_ unionByName _)
      val hits = cand.join(exact, Seq("qid", "nid"), "left_semi")
        .groupBy(col("index_name")).agg(count(lit(1)).as("n_hits"))
      val nq = exact.agg(countDistinct(col("qid")).as("n_queries"))
      indexes.map(_._1).toDF("index_name")
        .join(hits, Seq("index_name"), "left")
        .na.fill(0L, Seq("n_hits"))
        .crossJoin(broadcast(nq))
        .select(col("index_name"), col("n_queries"), col("n_hits"),
          Rounding.r(col("n_hits").cast("double") /
            (col("n_queries") * lit(3)).cast("double"), 4).as("recall"))
        // GATED floors (the B22/B42 est_ok construction): Spark emits
        // the measured flag, the oracle hardcodes TRUE for the floored
        // indexes — so a recall drop below its pin hash-mismatches and
        // turns the CORRECTNESS row red instead of just moving a
        // number nobody checks. Floors: nnd ≥ 0.9 (NndSpec's floor —
        // holds at sf0.01/sf0.1/sf1 since the r12 RP-seeded graph),
        // int8+rerank = 1.0 (exact rerank over int8 candidates must
        // recover the true top-k here), pq ≥ 0.5 (top-3 SET recall at
        // the driver gate corpus; KMeansSpec's 0.6 pin is TOP-1 — a
        // different metric). nnd and int8 are hard-pinned TRUE in BOTH
        // oracle forms (scale-invariant claims); pq only in the
        // driver-gate form — its cell-probe recall degrades with n on
        // isotropic corpora by design, so the sf1 staged oracle
        // replays the comparison and the flag is report-only there.
        // The IVF variants carry NULL — honestly low, no floor claimed.
        .withColumn("recall_ok",
          when(col("index_name") === "nnd", col("recall") >= 0.9)
            .when(col("index_name") === "int8", col("recall") === 1.0)
            .when(col("index_name") === "pq", col("recall") >= 0.5)
            .otherwise(lit(null).cast("boolean")))
        .orderBy(col("index_name"))
    },

    // C21: test-set decontamination — flag training docs sharing ≥2
    // distinct 3-gram shingles with the held-out reference slice
    "decontaminate_ngram" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.ngramOverlapHits(
        train = d.where(col("doc_id") % 10 =!= 3), trainId = col("doc_id"), trainText = col("text"),
        ref = d.where(col("doc_id") % 10 === 3), refText = col("text"),
        shingleN = 3, minHits = 2)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },

    // C73 (r13): SPAN-level decontamination (cross-corpus ExactSubstr,
    // Lee et al. 2022 applied to test-set leakage): maximal ≥ 20-token
    // train spans whose every 20-window occurs verbatim in the C21
    // held-out slice (doc_id % 10 = 3) — catches the exact-excerpt
    // contamination shingle-overlap (C21) under-weighs and embedding
    // similarity (C60) misses when the leak is a small fraction of the
    // train doc. Train-train repeats deliberately do NOT mark. Ref
    // windows collapse to distinct md5s; train side semi-joins, spans
    // merge per doc — the C46 machinery with the other corpus as the
    // witness set, hash-replayed verbatim by the oracle.
    "decontaminate_substring" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.substringContamination(
        train = d.where(col("doc_id") % 10 =!= 3),
        trainId = col("doc_id"), trainText = col("text"),
        ref = d.where(col("doc_id") % 10 === 3),
        refId = col("doc_id"), refText = col("text"), k = 20)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // C21b: same decontamination through the Bloom-pruned path (for
    // eval suites too big to broadcast exactly) — the Bloom only
    // prunes the exact join's input, so the result is identical to
    // C21 and shares its oracle shape
    "decontaminate_bloom" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.ngramOverlapHitsBloom(
        train = d.where(col("doc_id") % 10 =!= 3), trainId = col("doc_id"), trainText = col("text"),
        ref = d.where(col("doc_id") % 10 === 3), refText = col("text"),
        shingleN = 3, minHits = 2)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy(col("doc_id"))
    },

    // C51: per-eval-doc n-gram coverage by the training corpus — the
    // memorization-surface distribution decontamination thresholds
    // are calibrated from (same slice convention as C21)
    "text_ngram_coverage" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      Dedup.ngramCoverage(
        train = d.where(col("doc_id") % 10 =!= 3), trainText = col("text"),
        evalDf = d.where(col("doc_id") % 10 === 3),
        evalId = col("doc_id"), evalText = col("text"),
        shingleN = 3)
        .orderBy(col("doc_id"))
    },

    // C50: model-based quality scoring — hashed-feature linear
    // classifier (the fastText-shaped stage after C36's rule filter)
    "quality_classifier" -> { (s, dir) =>
      TextAnalysis.hashedLinearScore(Tables.documents(s, dir),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C52: per-language KL divergence from the corpus token
    // distribution — the training-mix drift report
    "corpus_divergence" -> { (s, dir) =>
      TextAnalysis.tokenKlDivergence(Tables.documents(s, dir),
          col("lang"), col("text"))
        .orderBy(col("lang"))
    },

    // C56: quality-weighted deterministic sampling — keep probability
    // = quality score (graded curation, no hard cutoff)
    "sample_importance" -> { (s, dir) =>
      TextAnalysis.importanceSample(Tables.documents(s, dir),
          col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C55: Flesch readability band — curation signal next to C10/C36
    "text_readability" -> { (s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C9: stopword-hit language identification
    "text_langid" -> { (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C10: quality scoring
    "text_quality" -> { (s, dir) =>
      TextAnalysis.qualityScore(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C11: token counting (whitespace + regex token classes)
    "text_tokens" -> { (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C12: winnowing fingerprints
    "text_fingerprint" -> { (s, dir) =>
      TextAnalysis.winnowFingerprint(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C13: multimodal binary metadata (stubbed decode, real plumbing)
    "mm_binary_meta" -> { (s, dir) =>
      Multimodal.binaryMeta(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C64: AUDIO loudness features — payload bytes decoded as 16-bit
    // PCM per partition (the mapPartitions media pattern), framed at
    // 64 samples, per-frame Σs² energies reduced to peak/mean; all
    // integer arithmetic until the final mean, so the oracle replays
    // the samples byte-for-byte (the corpus is ASCII, so DuckDB's
    // ascii() sees the same bytes UTF-8 yields)
    "mm_audio_energy" -> { (s, dir) =>
      Multimodal.audioEnergy(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C14: frame-sampling plumbing over blob blocks
    "mm_frame_sample" -> { (s, dir) =>
      Multimodal.frameSample(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },

    // C60: SEMANTIC decontamination — corpus embeddings whose cosine
    // to any eval vector (vec_id % 50 = 0, the ann query set) reaches
    // 0.35, each with its best eval match. Catches the paraphrased
    // contamination n-gram overlap (C21) cannot. 16 bands × 4 bits
    // (vs dedup's 8 × 8): recall ~91% at the threshold, and the
    // 16-bucket band key is safe HERE because the join is asymmetric
    // corpus×eval — candidate volume is linear in the corpus, so the
    // small-bucket quadratic that rules 4-bit bands out for self-join
    // dedup does not apply
    "decontaminate_embedding" -> { (s, dir) =>
      Similarity.decontaminateByEmbedding(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), isEval = _ % 50 === 0, threshold = 0.35,
        nPlanes = 64, bands = 16)
        .orderBy(col("id"))
    },

    // C61: LEAKAGE-SAFE split — near-duplicate cluster-mates always
    // land in the same train/val/test slice (hash the cluster
    // REPRESENTATIVE, not the doc), so eval rows never have a near-dup
    // twin in train; singletons hash their own id. Composes C20's
    // connected components with C41's md5 bucketing (80/10/10 here so
    // the small corpus populates all three slices)
    "sample_split_leakage" -> { (s, dir) =>
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
      val clusters = Dedup.duplicateClusters(pairs)
      val rep = Tables.documents(s, dir).select(col("doc_id"))
        .join(clusters.withColumnRenamed("cluster", "cl"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("cl"), col("doc_id")).as("rep"))
      val bucket = conv(substring(md5(concat(col("rep"), lit(":split"))), 1, 8),
        16, 10).cast("long") % 10
      rep.withColumn("split",
          when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
        .orderBy(col("doc_id"))
    },

    // C41: deterministic three-way corpus split — md5-bucketed
    // train/val/test assignment (98/1/1), stable across runs, engines
    // and partitionings, disjoint and exhaustive by construction; the
    // summary proves the proportions and that no doc is dropped
    "sample_split" -> { (s, dir) =>
      val bucket = conv(substring(md5(concat(col("doc_id"), lit(":split"))), 1, 8),
        16, 10).cast("long") % 100
      Tables.documents(s, dir)
        .withColumn("split",
          when(bucket < 98, "train").when(bucket === 98, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("split"))
    },

    // C40: resize/downsample plumbing — every 4th payload unit up to
    // 256 kept (deterministic decimation stub; real scaler drops into
    // the same shape), row-local, payload never leaves the expression
    "mm_thumbnail" -> { (s, dir) =>
      Multimodal.thumbnail(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C40b: REAL image codec roundtrip (JDK ImageIO, no external
    // deps): md5-derived 8×8 test image per doc → real PNG encode →
    // byte-sniff → decode → digest of the DECODED samples. The oracle
    // replays only the pixel construction, so a hash match proves the
    // PNG roundtrip is bit-exact end to end.
    "mm_decode_roundtrip" -> { (s, dir) =>
      Multimodal.decodeRoundtrip(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C40c: REAL thumbnail — decode the PNG and area-mean downsample
    // 8×8 → 4×4 (floor-mean box filter, integer-exact in SQL)
    "mm_thumbnail_real" -> { (s, dir) =>
      Multimodal.thumbnailReal(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
    },

    // C75: image perceptual-hash near-dup (dHash) — the multimodal
    // member of the dedup family: every document's md5-derived 8×8
    // image goes through the REAL PNG encode→decode (C40b's codec),
    // docs with doc_id%10=7 additionally plant a brightness-shifted
    // twin (bytes differ, content identical — the re-encode dedup
    // byte-md5 cannot see), dHash gradient bits are banded 4×14 for
    // candidates (the C5 SimHash discipline; random pairs collide on
    // a 14-bit band with p ≈ 2^-14) and candidates verify at full
    // hamming ≤ 8 via one bit_count(xor) on the bit-packed hash. The
    // planted pairs surface with same_pixels =
    // false — the pigeonhole proof that an exact-hash pass misses
    // them; everything (pixels, shift, gradients, bands, hamming) is
    // integer/string math the oracle replays, so the result — through
    // the real codec — is hash-checked end to end.
    "dedup_image_phash" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val originals = Multimodal.imageDhash(d, col("doc_id"), col("text"))
      val twins = Multimodal.imageDhash(d.where(col("doc_id") % 10 === 7),
        col("doc_id"), col("text"), bright = 1, idOffset = 10000000L)
      Multimodal.dhashNearDupPairs(originals.unionByName(twins))
        .orderBy(col("img_a"), col("img_b"))
    },

    // C23: the multimodal→embedding→ANN bridge — feature-extract every
    // document payload (decode stubbed deterministically; see
    // Multimodal.fakeEmbedding) and run exact top-k cosine retrieval
    // over the extracted vectors. The full pipeline shape a multimodal
    // training set needs: payload → encoder → vector column → index.
    "mm_embed_ann" -> { (s, dir) =>
      val embedded = Tables.documents(s, dir).select(col("doc_id"),
        Multimodal.fakeEmbedding(col("text"), dims = 8).as("emb"))
      Similarity.topkBruteForce(embedded, col("doc_id"), col("emb"),
        isQuery = _ % 50 === 0, k = 3)
        .orderBy(col("qid"), col("rank"))
    },

    // C26: column profiling — the null/distinct health stats asserted
    // before a table feeds training; one aggregation pass, unpivoted
    "profile_orders" -> { (s, dir) =>
      Profiling.columnStats(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
        .orderBy(col("col_name"))
    },

    // C32: segment-level boilerplate removal (CCNet/RefinedWeb
    // paragraph dedup, chunk-segmented): 3-token segments appearing
    // verbatim in ≥3 distinct docs are corpus boilerplate; docs
    // re-assemble from surviving segments (docs that were ALL
    // boilerplate drop out). clean text exported as md5 (compact,
    // still exact equality)
    "dedup_segments" -> { (s, dir) =>
      Dedup.segmentDedup(Tables.documents(s, dir), col("doc_id"), col("text"),
          segLen = 3, minDocs = 3)
        .select(col("doc_id"), col("n_kept"), md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // C46: exact long-span substring dedup (ExactSubstr, Lee et al.
    // 2022) — maximal ≥ k-token spans whose every k-window repeats in
    // the corpus, at ARBITRARY offsets (the duplication fixed-boundary
    // C32 and doc-level MinHash both miss). k=20 at this scale (docs
    // average ~54 tokens); production default is 50.
    "dedup_substring" -> { (s, dir) =>
      Dedup.substringSpans(Tables.documents(s, dir), col("doc_id"), col("text"),
          k = 20)
        .orderBy(col("doc_id"), col("span_start"))
    },

    // C46b: the dedup action — duplicated ≥ k-spans removed, text
    // reassembled (exported as md5; exact equality, compact rows)
    "dedup_substring_clean" -> { (s, dir) =>
      Dedup.substringClean(Tables.documents(s, dir), col("doc_id"), col("text"),
          k = 20)
        .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy(col("doc_id"))
    },

    // C31: per-language corpus report — the first dashboard a training
    // pipeline builds: volume, token mass, length spread, exact-dup
    // rate. One hash aggregation; every ratio derives from exact
    // integer sums (token counts < 2^53), so the doubles are
    // order-independent and engine-exact before rounding.
    "corpus_stats" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("h", md5(col("text")))
      d.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          count_distinct(col("h")).as("n_unique_texts"))
        .withColumn("avg_tokens",
          Rounding.r(col("n_tokens").cast("double") / col("n_docs"), 4))
        .withColumn("dup_rate",
          Rounding.r((col("n_docs") - col("n_unique_texts")).cast("double") / col("n_docs"), 4))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("avg_tokens"),
          col("min_chars"), col("max_chars"), col("n_unique_texts"), col("dup_rate"))
        .orderBy(col("lang"))
    },

    // C15: deterministic hash sampling — md5-keyed Bernoulli, stable
    // across runs/engines/partitionings (unlike rand()-based sample)
    "sample_deterministic" -> { (s, dir) =>
      Tables.documents(s, dir)
        .where(conv(substring(md5(concat(col("doc_id"), lit(":sample"))), 1, 8), 16, 10)
          .cast("long") % 100 < 20)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    // C18: unigram language-model scoring — corpus token frequencies
    // feed per-doc mean log-probability (the KenLM-style quality filter
    // scaffold: two aggregations + a broadcast join, no driver state)
    "text_unigram_logprob" -> { (s, dir) =>
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val total = tok.agg(count(lit(1)).cast("double").as("total"))
      tok.join(broadcast(freq), "t").crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          Rounding.r(sum(log(col("c") / col("total"))) / count(lit(1)), 4).as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // C18b: interpolated bigram LM scoring — the actual perplexity-
    // filter shape (KenLM-style backoff approximated by linear
    // interpolation, λ=0.8): p(b|a) = λ·C(a,b)/C(a) + (1−λ)·C(b)/T.
    // Counts are integer aggregates; bigram/unigram count joins are
    // plain shuffle joins keyed by the n-gram (broadcast when small);
    // per-doc mean log-prob is the ln-then-round contract of C18.
    // C66: CCNet-style perplexity bucketing — the published head/
    // middle/tail corpus split: per-doc LM score (C18b's interpolated
    // bigram avg-logprob, 4dp), corpus-relative TERCILE boundaries,
    // per-bucket doc/token mass. Boundaries are DISCRETE (smallest
    // score with cum·3 ≥ k·n — the counting-walk from B47/B65, no
    // interpolation), so they are data values and every tie lands in
    // one bucket deterministically; the cum window runs over DISTINCT
    // 4dp scores (grid-bounded, ≪ corpus). Docs under 2 tokens have
    // no LM score and are excluded in both engines
    "quality_perplexity_buckets" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val tok = d.select(col("doc_id"), explode(col("w")).as("t"))
      val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).cast("double").as("total"))
      val bg = d.where(size(col("w")) >= 2)
        .withColumn("wa", slice(col("w"), lit(1), size(col("w")) - 1))
        .withColumn("wb", slice(col("w"), lit(2), size(col("w")) - 1))
        .select(col("doc_id"), explode(arrays_zip(col("wa"), col("wb"))).as("p"))
        .select(col("doc_id"), col("p.wa").as("a"), col("p.wb").as("b"))
      val bgc = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      // checkpointed: the scored frame (one row per doc — bounded) has
      // THREE consumers (the tercile histogram, the corpus count, the
      // final bucketing), and each broadcast subquery otherwise re-runs
      // the whole bigram join pipeline (r18: 26 jobs → one scoring
      // pass; the LM scoring is this query's dominant cost)
      val scored = bg.join(bgc, Seq("a", "b"))
        .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
        .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(Rounding.r(sum(log(
          lit(0.8) * col("cab") / col("ca") +
            lit(0.2) * col("cb") / col("total"))) / count(lit(1)), 4).as("score"))
        .join(d.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens")), "doc_id")
        .localCheckpoint(true)
      val cum = scored.groupBy(col("score")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("score"))))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
      val bounds = cum.agg(
        min(when(col("cum") * 3 >= col("n"), col("score"))).as("t1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t2"))
      scored.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          when(col("score") <= col("t1"), "tail")
            .when(col("score") <= col("t2"), "middle").otherwise("head"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          Rounding.r(min(col("score")), 4).as("min_score"),
          Rounding.r(max(col("score")), 4).as("max_score"))
        .orderBy(col("bucket"))
    },

    "text_bigram_logprob" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      val tok = d.select(col("doc_id"), explode(col("w")).as("t"))
      val uni = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).cast("double").as("total"))
      val bg = d.where(size(col("w")) >= 2)
        .withColumn("wa", slice(col("w"), lit(1), size(col("w")) - 1))
        .withColumn("wb", slice(col("w"), lit(2), size(col("w")) - 1))
        .select(col("doc_id"), explode(arrays_zip(col("wa"), col("wb"))).as("p"))
        .select(col("doc_id"), col("p.wa").as("a"), col("p.wb").as("b"))
      val bgc = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
      bg.join(bgc, Seq("a", "b"))
        .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
        .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          Rounding.r(sum(log(
            lit(0.8) * col("cab") / col("ca") +
              lit(0.2) * col("cb") / col("total"))) / count(lit(1)), 4)
            .as("avg_logprob"))
        .orderBy(col("doc_id"))
    },

    // C48: BM25 relevance scoring against a fixed query-term set —
    // the retrieval-style quality/relevance ranker a curation pipeline
    // uses for targeted corpus selection
    "text_bm25" -> { (s, dir) =>
      TextAnalysis.bm25(Tables.documents(s, dir), col("doc_id"), col("text"),
        Seq("scan", "merge", "stream", "filter"))
        .orderBy(col("doc_id"))
    },

    // C58: top-k TF-IDF keywords per document (smoothed sklearn idf;
    // score 4dp-rounded BEFORE ranking so ties replay cross-engine)
    "text_tfidf" -> { (s, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // C59: deterministic curriculum ordering — easy-first global
    // training positions from fixed quality-decile buckets + per-bucket
    // hash order; no global sort (offsets are a 10-row cumulative sum)
    "curriculum_order" -> { (s, dir) =>
      TextAnalysis.curriculumOrder(Tables.documents(s, dir), col("doc_id"), col("text"))
        .orderBy(col("position"))
    },

    // C19: global vocabulary head — top-k tokens by corpus frequency
    "text_top_tokens" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t"))
        .limit(20)
    },

    // C22: Gopher-style repetition signals — fraction of duplicate
    // tokens / duplicate 2-grams / mass of the most frequent token
    // (the public repetition quality filters; high values ⇒ boilerplate
    // or degenerate text). Pure Catalyst array ops; the words array is
    // materialized once in its own projection (inline split would be
    // re-evaluated per reference).
    "text_repetition" -> { (s, dir) =>
      val d = Tables.documents(s, dir).select(col("doc_id"), split(col("text"), " ").as("w"))
      val base = d.select(col("doc_id"), col("w"),
        size(col("w")).as("n_tokens"),
        size(array_distinct(col("w"))).as("n_distinct"))
      val g = base.withColumn("g2",
        when(size(col("w")) >= 2,
          transform(sequence(lit(1), size(col("w")) - 1),
            i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1))))
          .otherwise(array().cast("array<string>")))
      val fracs = g.select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        Rounding.r(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens"), 4)
          .as("dup_word_frac"),
        Rounding.r(when(size(col("g2")) > 0,
            lit(1.0) - size(array_distinct(col("g2"))).cast("double") / size(col("g2")))
          .otherwise(lit(0.0)), 4).as("dup_2gram_frac"))
      val top = d.select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_c"))
      fracs.join(top, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"), col("dup_2gram_frac"),
          Rounding.r(col("top_c").cast("double") / col("n_tokens"), 4).as("top_word_frac"))
        .orderBy(col("doc_id"))
    },

    // C27: character-level Shannon entropy — the degenerate-text
    // detector (mojibake, base64 blobs, repeated-char spam sit far
    // from natural-language entropy). Two aggregations; the per-doc
    // char alphabet is tiny so the shuffle carries (doc, char) counts.
    "text_entropy" -> { (s, dir) =>
      val d = Tables.documents(s, dir).where(length(col("text")) > 0)
      // split(text, "") keeps a trailing empty element (limit -1
      // semantics); drop it to match DuckDB's char split
      val chars = d.select(col("doc_id"),
        length(col("text")).cast("double").as("n"),
        explode(split(col("text"), "")).as("ch"))
        .where(col("ch") =!= "")
      chars.groupBy(col("doc_id"), col("n"), col("ch"))
        .agg(count(lit(1)).cast("double").as("c"))
        .groupBy(col("doc_id"))
        .agg(Rounding.r(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 4).as("entropy"),
          count(lit(1)).as("n_distinct_chars"))
        .orderBy(col("doc_id"))
    },

    // C17: PII scrubbing — regex redaction of emails/phones (the
    // curation step before any training corpus ships). Synthetic PII is
    // injected deterministically so the scrub is oracle-checkable.
    "text_pii_scrub" -> { (s, dir) =>
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" contact: user"), col("doc_id"),
          lit("@example.com tel 555-"), col("doc_id")).as("t"))
      withPii.select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit("[a-z0-9]+@[a-z.]+"), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit("555-[0-9]+"), lit(0)))
          .cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), "[a-z0-9]+@[a-z.]+", "<EMAIL>"),
          "555-[0-9]+", "<PHONE>")).as("scrubbed_md5"))
        .orderBy(col("doc_id"))
    },

    // C16: class-balanced downsampling — per-label cap in md5-keyed
    // pseudo-random order (stratified rebalancing for training mixes)
    "sample_balanced" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(concat(col("doc_id"), lit(":bal"))), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 30)
        .select(col("lang"), col("rn").cast("long").as("rn"), col("doc_id"))
        .orderBy(col("lang"), col("rn"))
    },

    // C33: sliding-window chunking — 64-token chunks every 48 tokens
    // (overlapping training context windows); row-local explode, no
    // shuffle, chunk identified by md5 so output stays compact
    // C63: CONTENT-DEFINED chunking dedup (the FastCDC/rsync family):
    // chunk boundaries cut where the Karp-Rabin rolling hash of the
    // trailing 8-codepoint window ≡ 0 (mod 61), so a byte inserted
    // early in a doc shifts ONE chunk, not every fixed-width block
    // downstream — cross-doc chunk-hash dedup then finds shared spans
    // fixed-width blocking misses. Boundary detection is ONE row-local
    // codegen pass (functions.CdcBoundaries, ~4 integer ops per
    // position — r8's md5-per-position pass was ~100× the arithmetic
    // and dominated this linear-by-nature query); only the chunk-hash
    // → doc-frequency aggregation and the instance join shuffle, both
    // on chunk-count-scale rows. The oracle replays the identical
    // polynomial per position (exact Int64 — see the kernel's
    // overflow proof); RollingHashSpec pins kernel ≡ the
    // per-window-sum SQL form so both sides can only move together.
    "chunk_cdc" -> { (s, dir) =>
      import org.apache.spark.sql.GraftSqlBridge
      import org.apache.spark.sql.graftshim.DatasetShim
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), length(col("text")).as("L"))
      val spans = d
        .withColumn("bnds", GraftSqlBridge.column(graft.functions.CdcBoundaries(
          DatasetShim.expression(col("text")))))
        .withColumn("starts", concat(array(lit(1)), transform(col("bnds"), b => b + 1)))
        .withColumn("ends", concat(col("bnds"), array(col("L"))))
      val inst = spans
        .select(col("doc_id"), explode(filter(
          zip_with(col("starts"), col("ends"), (st, en) =>
            when(st <= en, md5(col("text").substr(st, en - st + 1)))),
          h => h.isNotNull)).as("h"))
      // collapse instances to (doc, h, cnt) FIRST: both downstream
      // consumers (the per-h doc frequency and the per-doc rollup)
      // then hang off the IDENTICAL aggregation subtree, so Spark's
      // ReuseExchange computes the boundary-detection pass ONCE — the
      // raw-instance join formulation ran the md5-per-position scan
      // twice (measured 6.6 s at sf0.1; this form halves it)
      val perDoc = inst.groupBy(col("doc_id"), col("h"))
        .agg(count(lit(1)).as("cnt"))
      val dfreq = perDoc.groupBy(col("h"))
        .agg(count(lit(1)).as("docs")) // (doc,h) rows are distinct by construction
      perDoc.join(dfreq, "h")
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_chunks"),
          sum(when(col("docs") >= 2, col("cnt")).otherwise(0L)).as("n_shared"))
        .withColumn("shared_frac",
          Rounding.r(col("n_shared").cast("double") / col("n_chunks"), 4))
        .orderBy(col("doc_id"))
    },

    "chunk_documents" -> { (s, dir) =>
      Packing.chunkSliding(Tables.documents(s, dir),
          idCol = col("doc_id"), textCol = col("text"),
          chunkTokens = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // C34: adjacent-pair frequencies — the first BPE merge step's
    // count table; top-50 with deterministic tie-break
    "bpe_pair_counts" -> { (s, dir) =>
      TextAnalysis.bpePairCounts(Tables.documents(s, dir), col("text"), topK = 50)
    },

    // C34b: BPE APPLY — the tokenizer step itself. Merge table =
    // top-16 pairs from C34's statistic (k-sized driver fetch);
    // encoding is one row-local codegen expression; ids are dense
    // ranks over the post-merge vocabulary. The oracle replays the
    // greedy merge loop as one CTE round per rank (sound because
    // base-word merges can never create new table-pair occurrences;
    // see functions.BpeImpl scaladoc).
    // C54: TRUE iterative BPE training — 6 rounds, each recounting
    // pairs on the corpus as tokenized by the merges adopted so far
    // (C34 ranks only round 1's statistic; this is the actual
    // vocabulary-learning loop)
    "bpe_train" -> { (s, dir) =>
      import s.implicits._
      Bpe.trainMerges(Tables.documents(s, dir), col("text"), rounds = 6)
        .toDF("merge_rank", "lhs", "rhs", "n")
        .orderBy(col("merge_rank"))
    },

    "bpe_encode" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val merges = graft.ops.Bpe.mergeTable(docs, col("text"), k = 16)
      graft.ops.Bpe.encodeWithIds(docs, col("doc_id"), col("text"), merges)
        .orderBy(col("doc_id"), col("seq"))
    },

    // C35: temperature-scaled mixture weights per language —
    // p_i ∝ √n_i (α = 0.5 so both engines' doubles agree bit-exactly;
    // see ops.Mixture scaladoc for why pow is banned here)
    "mix_weights" -> { (s, dir) =>
      Mixture.temperatureWeights(Tables.documents(s, dir),
          stratumCol = col("lang"),
          tokensCol = size(split(col("text"), " ")))
        .orderBy(col("stratum"))
    },

    // C36: composed Gopher-rule quality filter with per-rule
    // accounting — every rule a boolean column, keep = conjunction
    "quality_filter_pipeline" -> { (s, dir) =>
      TextAnalysis.gopherFilter(Tables.documents(s, dir),
          id = col("doc_id"), text = col("text"))
        .orderBy(col("doc_id"))
    },

    // C39: the composed corpus pipeline — quality filter → exact
    // dedup → eval-set decontamination → deterministic sample, as ONE
    // lazily-planned query (no intermediate materialization): the
    // stages are the already-verified operators C36→C1→C21→C15
    // chained on their natural keys, proving the library composes the
    // way a production curation run would. Catalyst sees the whole
    // chain (pushdown through all four stages); every stage's
    // reduction is semi/anti-join-shaped, so the plan carries doc ids
    // between stages, not texts.
    "pipeline_corpus" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val train = d.where(col("doc_id") % 10 =!= 3)
      val evalSlice = d.where(col("doc_id") % 10 === 3)
      val kept = TextAnalysis.gopherFilter(train, col("doc_id"), col("text"))
        .where(col("keep")).select(col("doc_id"))
      val docs1 = train.join(kept, "doc_id")
      val reps = Dedup.exactGroups(docs1, col("doc_id"), md5(col("text")))
        .select(col("keep_id").as("doc_id"))
      val docs2 = docs1.join(reps, "doc_id")
      val contaminated = Dedup.ngramOverlapHits(
          train = docs2, trainId = col("doc_id"), trainText = col("text"),
          ref = evalSlice, refText = col("text"), shingleN = 3, minHits = 2)
        .select(col("id").as("doc_id"))
      val docs3 = docs2.join(contaminated, Seq("doc_id"), "left_anti")
      docs3
        .where(conv(substring(md5(concat(col("doc_id"), lit(":sample"))), 1, 8),
          16, 10).cast("long") % 100 < 20)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("n_tokens"))
        .orderBy(col("lang"))
    },

    // C42: GROUPED heavy hitters — per-language exact heavy tokens via
    // one MG sketch per group (the approx_top_k GROUP BY shape): the
    // per-group sketch bounds shuffle at k counters per (partition,
    // group); candidates exact-verify per group, so merge-order noise
    // never reaches the output (same contract as C37, per stratum)
    "q_heavy_hitters_grouped" -> { (s, dir) =>
      val k = 40
      val toks = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      val cands = toks.groupBy(col("lang"))
        .agg(graft.functions.HeavyHitters.mgSketch(col("tok"), k).as("mg"))
        .select(col("lang"), explode(map_keys(col("mg"))).as("tok"))
      val totals = toks.groupBy(col("lang")).agg(count(lit(1)).as("total"))
      toks.join(broadcast(cands), Seq("lang", "tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n"))
        .join(broadcast(totals), Seq("lang"))
        .where(col("n") * (k + 1) > col("total"))
        .select(col("lang"), col("tok"), col("n"))
        .orderBy(col("lang"), col("tok"))
    },

    // C38: embedding-corpus health profile — the pre-flight check an
    // ANN/dedup pipeline runs before trusting a vector column: per
    // label, count, dimension spread (a ragged dim breaks every
    // kernel), zero-norm count (cosine is undefined there), norm
    // stats. One hash aggregation; norms via the native double_dot
    // sequential fold (the established cross-engine construct).
    "profile_embeddings" -> { (s, dir) =>
      val e = Tables.embeddings(s, dir)
        .withColumn("norm", sqrt(Similarity.normSq(col("embedding"))))
      e.groupBy(col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("n"),
          min(size(col("embedding"))).cast("long").as("dim_min"),
          max(size(col("embedding"))).cast("long").as("dim_max"),
          sum((col("norm") === 0.0).cast("long")).as("n_zero"),
          Rounding.r(min(col("norm")), 4).as("norm_min"),
          Rounding.r(max(col("norm")), 4).as("norm_max"),
          Rounding.r(avg(col("norm")), 4).as("norm_avg"))
        .orderBy(col("label"))
    },

    // C37: exact heavy hitters via Misra–Gries prune: the MG sketch
    // (shuffle ≤ k counters per partition, whatever the token domain)
    // yields a candidate superset of every token with freq > n/(k+1);
    // an exact count of the candidates + integer cross-multiplied
    // threshold reproduces the EXACT heavy set — sketch bounds the
    // work, verify restores exactness (the LSH-then-verify shape).
    // Merge-order noise in the sketch cannot reach the output.
    // C62: Count-Min sketch point estimates (Cormode & Muthukrishnan
    // 2005) — the 4th sketch family next to MG (C37), HLL (B22) and
    // Bloom (C21b): d=4 md5-derived hash rows × w=64 buckets, so the
    // shuffle carries ≤ d·w cells regardless of token cardinality
    // (the ×d pre-shuffle fan-out collapses map-side). Estimates are
    // deterministic given the fixed hashes, so unlike MG output the
    // SKETCH ITSELF is hash-checkable cross-engine; the probe set
    // mixes hot, mid, rare and absent tokens, and `overestimate =
    // n_est − n_exact ≥ 0` exposes the CM one-sided error in the
    // result rows
    "sketch_countmin" -> { (s, dir) =>
      import s.implicits._
      val d = 4
      val w = 64
      val probes = Seq("merge", "scan", "stream", "the", "quantum", "zzz-absent")
      def bucketOf(item: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(item, lit(":cm"), r)), 1, 8), 16, 10)
          .cast("long") % w
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("t"))
      // aggregate occurrences per DISTINCT token first: the 4 row
      // hashes run per vocabulary entry, not per token occurrence
      // (Σ counts per bucket ≡ occurrence count per bucket), and the
      // exact leg filters the same counts frame — one corpus pass and
      // ~vocab·d md5s instead of two passes and occurrences·d md5s
      // (guide §4 / §2.3; the shared aggregation exchange is reused)
      val tokCounts = toks.groupBy(col("t")).agg(count(lit(1)).as("tc"))
      val sketch = tokCounts
        .select(col("t"), col("tc"), explode(sequence(lit(0), lit(d - 1))).as("r"))
        .select(col("r"), bucketOf(col("t"), col("r")).as("b"), col("tc"))
        .groupBy(col("r"), col("b")).agg(sum(col("tc")).as("c"))
      val pb = probes.toDF("token")
        .select(col("token"), explode(sequence(lit(0), lit(d - 1))).as("r"))
        .select(col("token"), col("r"), bucketOf(col("token"), col("r")).as("b"))
      val est = pb.join(sketch, Seq("r", "b"), "left")
        .groupBy(col("token"))
        .agg(min(coalesce(col("c"), lit(0L))).as("n_est"))
      val exact = tokCounts.where(col("t").isin(probes: _*))
        .select(col("t"), col("tc").as("n_exact"))
      est.join(exact, est("token") === exact("t"), "left")
        .select(col("token"), col("n_est"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"))
        .withColumn("overestimate", col("n_est") - col("n_exact"))
        .orderBy(col("token"))
    },

    "q_heavy_hitters" -> { (s, dir) =>
      val k = 50
      val toks = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
      val cands = toks
        .agg(graft.functions.HeavyHitters.mgSketch(col("tok"), k).as("mg"))
        .select(explode(map_keys(col("mg"))).as("tok")) // ≤ k rows
      val total = toks.agg(count(lit(1)).as("total"))
      toks.join(broadcast(cands), Seq("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .where(col("n") * (k + 1) > col("total"))
        .select(col("tok"), col("n"))
        .orderBy(col("tok"))
    })

  // 64-bit SimHash oracle runs in DuckDB's UBIGINT domain (BIGINT hex
  // casts overflow at bit 63); Spark holds the same bits in a signed
  // long — only (doc_a, doc_b, hamming) cross the engine boundary, and
  // xor/bit_count agree bit-for-bit across the signed/unsigned views.
  private val simhashBitSums = (0 until 64)
    .map(j => s"CAST(sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$j")
    .mkString(",\n")
  // joined on ONE line: this string is interpolated into a
  // stripMargin block, which would eat line-leading `|` operators
  private val simhashAssemble = (0 until 64)
    .map(j => s"CASE WHEN b$j > 0 THEN ${BigInt(1) << j}::UBIGINT ELSE 0::UBIGINT END")
    .mkString(" | ")

  private val oracleSqlBase: Map[String, String] = Map(
    // C74: the replayable facts (query-sample size, per-predicate
    // eligible counts) plus the pinned invariant flags — eligible-only
    // results and the min(k, |eligible\{self}|) fill guarantee must
    // hold for every leg, recall is exactly 1.0 on the exact-dispatch
    // legs and ≥ 0.9 on the graph leg (nnd floor); ivf/broad recall is
    // report-only (NULL), the C67 convention for cell-probe recall.
    "ann_filtered" ->
      """WITH q AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM (
        |  SELECT vec_id FROM embeddings WHERE vec_id % 40 = 0
        |  ORDER BY md5(vec_id || ':lfq'), vec_id LIMIT 32)),
        |b AS (SELECT CAST(count(*) AS BIGINT) AS n_elig
        |  FROM embeddings WHERE label < 5),
        |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_elig
        |  FROM embeddings WHERE label = 3)
        |SELECT * FROM (
        |  SELECT 'graph' AS strategy, 'broad' AS sel, q.n_queries, b.n_elig,
        |    TRUE AS elig_only_ok, TRUE AS fill_ok, TRUE AS recall_ok FROM q, b
        |  UNION ALL SELECT 'graph', 'sharp', q.n_queries, sh.n_elig,
        |    TRUE, TRUE, TRUE FROM q, sh
        |  UNION ALL SELECT 'ivf', 'broad', q.n_queries, b.n_elig,
        |    TRUE, TRUE, TRUE FROM q, b
        |  UNION ALL SELECT 'ivf', 'sharp', q.n_queries, sh.n_elig,
        |    TRUE, TRUE, TRUE FROM q, sh)
        |ORDER BY strategy, sel""".stripMargin,
    // C76: the oracle replays the pinned query draw and expects every
    // filtered-hybrid flag TRUE (eligible-only, fill, ≥3/5 overlap
    // with the brute fusion over the eligible slice)
    "ann_hybrid_filtered" ->
      """SELECT vec_id AS qid, TRUE AS elig_only_ok, TRUE AS fill_ok,
        |  TRUE AS overlap_ok
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id % 40 = 0
        |      ORDER BY md5(vec_id || ':hfq'), vec_id LIMIT 32)
        |ORDER BY qid""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, md5(text) AS content_hash, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_normalized" ->
      """SELECT min(doc_id) AS keep_id,
        |md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS content_hash,
        |count(*) AS n_copies
        |FROM documents GROUP BY 2 ORDER BY keep_id""".stripMargin,
    // C70: C3's full pair replay (same CTEs) + source fetch + the
    // normalized-pair matrix
    "dedup_source_overlap" -> {
      import graft.ops.Dedup.{MinhashP => p, minhashA, minhashB}
      val mins = (0 until 32)
        .map(i => s"min((x * ${minhashA(i)} + ${minhashB(i)}) % $p) AS m$i")
        .mkString(",\n")
      val bandHashes = (0 until 8).map(b =>
        s"md5(${(0 until 4).map(j => s"m${b * 4 + j}::VARCHAR").mkString(" || '|' || ")}) AS bh$b")
        .mkString(",\n")
      val bandMatch = (0 until 8).map(b => s"a.bh$b = b.bh$b").mkString(" OR ")
      s"""WITH $shingleCte,
         |tok AS (SELECT doc_id, unnest(s) AS t FROM sh),
         |xs AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $p AS x FROM tok),
         |mh AS (SELECT doc_id,
         |$mins
         |FROM xs GROUP BY doc_id),
         |bandw AS (SELECT doc_id,
         |$bandHashes
         |FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bandw a JOIN bandw b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |ver AS (SELECT c.doc_a, c.doc_b, len(list_intersect(x.s, y.s)) AS inter,
         |               len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS uni
         |        FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
         |pr AS (SELECT doc_a, doc_b, round(inter::DOUBLE / uni, 4) AS jaccard
         |       FROM ver WHERE inter * 5 >= uni * 4),
         |sp AS (SELECT least(da.source, db.source) AS source_a,
         |              greatest(da.source, db.source) AS source_b,
         |              CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS ju
         |       FROM pr JOIN documents da ON pr.doc_a = da.doc_id
         |                JOIN documents db ON pr.doc_b = db.doc_id)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  CAST(floor(CAST(2 * sum(ju) + count(*) AS DOUBLE) /
         |             CAST(2 * count(*) AS DOUBLE)) AS DOUBLE) / 10000
         |    AS mean_jaccard
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "dedup_minhash_lsh" -> {
      import graft.ops.Dedup.{MinhashP => p, minhashA, minhashB}
      val mins = (0 until 32)
        .map(i => s"min((x * ${minhashA(i)} + ${minhashB(i)}) % $p) AS m$i")
        .mkString(",\n")
      val bandHashes = (0 until 8).map(b =>
        s"md5(${(0 until 4).map(j => s"m${b * 4 + j}::VARCHAR").mkString(" || '|' || ")}) AS bh$b")
        .mkString(",\n")
      val bandMatch = (0 until 8).map(b => s"a.bh$b = b.bh$b").mkString(" OR ")
      s"""WITH $shingleCte,
         |tok AS (SELECT doc_id, unnest(s) AS t FROM sh),
         |xs AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $p AS x FROM tok),
         |mh AS (SELECT doc_id,
         |$mins
         |FROM xs GROUP BY doc_id),
         |bandw AS (SELECT doc_id,
         |$bandHashes
         |FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bandw a JOIN bandw b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |ver AS (SELECT c.doc_a, c.doc_b, len(list_intersect(x.s, y.s)) AS inter,
         |               len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS uni
         |        FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id)
         |SELECT doc_a, doc_b, round(inter::DOUBLE / uni, 4) AS jaccard
         |FROM ver WHERE inter * 5 >= uni * 4 ORDER BY doc_a, doc_b""".stripMargin
    },
    // C65: both pair sets replayed (minhash CTEs + the exact PPJoin
    // ground truth) over the SAME pinned md5 document sample as the
    // Spark side, counted and cross-joined into one summary row
    "dedup_quality_audit" -> {
      import graft.ops.Dedup.{MinhashP => p, minhashA, minhashB}
      val mins = (0 until 32)
        .map(i => s"min((x * ${minhashA(i)} + ${minhashB(i)}) % $p) AS m$i")
        .mkString(",\n")
      val bandHashes = (0 until 8).map(b =>
        s"md5(${(0 until 4).map(j => s"m${b * 4 + j}::VARCHAR").mkString(" || '|' || ")}) AS bh$b")
        .mkString(",\n")
      val bandMatch = (0 until 8).map(b => s"a.bh$b = b.bh$b").mkString(" OR ")
      s"""WITH $sampledShingleCte,
         |tok AS (SELECT doc_id, unnest(s) AS t FROM sh),
         |xs AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $p AS x FROM tok),
         |mh AS (SELECT doc_id,
         |$mins
         |FROM xs GROUP BY doc_id),
         |bandw AS (SELECT doc_id,
         |$bandHashes
         |FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bandw a JOIN bandw b ON a.doc_id < b.doc_id AND ($bandMatch)),
         |ver AS (SELECT c.doc_a, c.doc_b, len(list_intersect(x.s, y.s)) AS inter,
         |               len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS uni
         |        FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id),
         |lshp AS (SELECT doc_a, doc_b FROM ver WHERE inter * 5 >= uni * 4),
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tk AS (SELECT doc_id, sz, unnest(s) AS t FROM szd),
         |ex AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM tk a JOIN tk b ON a.t = b.t AND a.doc_id < b.doc_id
         |         AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |       GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |       HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4),
         |n AS (SELECT (SELECT count(*) FROM ex) AS n_exact,
         |             (SELECT count(*) FROM lshp) AS n_lsh,
         |             (SELECT count(*) FROM ex JOIN lshp USING (doc_a, doc_b)) AS n_both)
         |SELECT n_exact, n_lsh, n_both,
         |  round(n_both / n_exact, 4) AS recall,
         |  round(n_both / n_lsh, 4) AS precision
         |FROM n""".stripMargin
    },
    "dedup_incremental" -> {
      import graft.ops.Dedup.{MinhashP => p, minhashA, minhashB}
      val mins = (0 until 32)
        .map(i => s"min((x * ${minhashA(i)} + ${minhashB(i)}) % $p) AS m$i")
        .mkString(",\n")
      val bandHashes = (0 until 8).map(b =>
        s"md5(${(0 until 4).map(j => s"m${b * 4 + j}::VARCHAR").mkString(" || '|' || ")}) AS bh$b")
        .mkString(",\n")
      val bandMatch = (0 until 8).map(b => s"b.bh$b = c.bh$b").mkString(" OR ")
      s"""WITH $shingleCte,
         |tok AS (SELECT doc_id, unnest(s) AS t FROM sh),
         |xs AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % $p AS x FROM tok),
         |mh AS (SELECT doc_id,
         |$mins
         |FROM xs GROUP BY doc_id),
         |bandw AS (SELECT doc_id,
         |$bandHashes
         |FROM mh),
         |cand AS (SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS prior_id
         |         FROM bandw b JOIN bandw c
         |         ON b.doc_id % 4 = 0 AND c.doc_id % 4 <> 0 AND ($bandMatch)),
         |ver AS (SELECT cd.new_id, cd.prior_id, len(list_intersect(x.s, y.s)) AS inter,
         |               len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS uni
         |        FROM cand cd JOIN sh x ON cd.new_id = x.doc_id JOIN sh y ON cd.prior_id = y.doc_id)
         |SELECT new_id, prior_id, round(inter::DOUBLE / uni, 4) AS jaccard
         |FROM ver WHERE inter * 5 >= uni * 4 ORDER BY new_id, prior_id""".stripMargin
    },
    "sample_token_budget" ->
      """SELECT lang, doc_id, n_tokens, cum_tokens FROM (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens,
        |    CAST(sum(len(string_split(text, ' '))) OVER (
        |      PARTITION BY lang ORDER BY md5(doc_id || ':tb'), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM documents)
        |WHERE cum_tokens <= 2000 ORDER BY lang, cum_tokens""".stripMargin,
    // C29: fixed-boundary greedy packing — pack = integer div of the
    // doc's cumulative start offset within its language stream
    "pack_sequences" ->
      """SELECT doc_id, lang, n_tok,
        |  CAST(cum - n_tok AS BIGINT) AS start_tok,
        |  CAST((cum - n_tok) // 1024 AS BIGINT) AS pack_id
        |FROM (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
        |        sum(len(string_split(text, ' '))) OVER (
        |          PARTITION BY lang ORDER BY doc_id) AS cum
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tok AS (SELECT doc_id, sz, unnest(s) AS t FROM szd)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(count(*)::DOUBLE / (a.sz + b.sz - count(*)), 4) AS jaccard
         |FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |  AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tok AS (SELECT doc_id, sz, unnest(s) AS t FROM szd),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |    AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m)
         |SELECT id AS doc_id, min(m) AS cluster FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    // C71: the C20 recursive-CTE cluster chain + singleton fill +
    // the integer-exact u·size < 2³² accept
    "sample_softdedup" ->
      s"""WITH RECURSIVE $shingleCte,
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tok AS (SELECT doc_id, sz, unnest(s) AS t FROM szd),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |    AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |cl AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY id),
         |wc AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
         |       FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |sz AS (SELECT cluster, count(*) AS c_size FROM wc GROUP BY cluster)
         |SELECT wc.doc_id, wc.cluster, sz.c_size
         |FROM wc JOIN sz ON wc.cluster = sz.cluster
         |WHERE CAST('0x' || substr(md5(wc.doc_id || ':sdd'), 1, 8) AS BIGINT)
         |      * sz.c_size < 4294967296
         |ORDER BY wc.doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $shingleCte,
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tok AS (SELECT doc_id, sz, unnest(s) AS t FROM szd),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |    AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |cl AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY id),
         |qm AS (SELECT doc_id, len(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  len(list_filter(string_split(text, ' '),
         |    x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'))) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  round(0.4::DOUBLE * (n_stop::DOUBLE / n_tokens)
         |    + 0.3::DOUBLE * (least(n_tokens, 100)::DOUBLE / 100)
         |    + 0.3::DOUBLE * (1.0::DOUBLE - n_punct::DOUBLE / n_chars), 4) AS quality
         |  FROM qm),
         |members AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster, q.quality
         |            FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
         |            JOIN q ON q.doc_id = d.doc_id),
         |best AS (SELECT cluster, doc_id, quality,
         |  row_number() OVER (PARTITION BY cluster ORDER BY quality DESC, doc_id) AS rn
         |  FROM members)
         |SELECT cluster, doc_id AS keep_id, quality FROM best
         |WHERE rn = 1 ORDER BY cluster""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS h FROM tok),
         |bits AS (SELECT doc_id,
         |$simhashBitSums
         |FROM h GROUP BY doc_id),
         |sim AS (SELECT doc_id, ($simhashAssemble) AS simhash FROM bits)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // C57: banding is lossless at hamming ≤ 3 (pigeonhole over 4×16-bit
    // bands) and the length gate is implied by the final editSim
    // filter, so the oracle replays the exact semantics as all-pairs
    // dual-fingerprint hamming + levenshtein verify — no band replay.
    // 6-grams (order-sensitive), matching the operator default.
    "dedup_editdist" ->
      s"""WITH tok AS (SELECT doc_id, substr(text, i, 6) AS t
         |  FROM (SELECT doc_id, text,
         |    unnest(generate_series(1, length(text) - 5)) AS i FROM documents)),
         |h AS (SELECT doc_id, CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS h FROM tok),
         |h2 AS (SELECT doc_id, CAST('0x' || substr(md5(t), 17, 16) AS UBIGINT) AS h FROM tok),
         |bits AS (SELECT doc_id,
         |$simhashBitSums
         |FROM h GROUP BY doc_id),
         |bits2 AS (SELECT doc_id,
         |$simhashBitSums
         |FROM h2 GROUP BY doc_id),
         |sim0 AS (SELECT doc_id, ($simhashAssemble) AS simhash FROM bits),
         |sim20 AS (SELECT doc_id, ($simhashAssemble) AS simhash FROM bits2),
         |sim AS (SELECT d.doc_id,
         |  COALESCE(s.simhash, 0::UBIGINT) AS s1,
         |  COALESCE(s2.simhash, 0::UBIGINT) AS s2
         |  FROM documents d LEFT JOIN sim0 s USING (doc_id)
         |  LEFT JOIN sim20 s2 USING (doc_id)),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.s1, b.s1)) <= 3
         |    AND bit_count(xor(a.s2, b.s2)) <= 3),
         |v AS (SELECT doc_a, doc_b,
         |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
         |  CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS maxlen
         |  FROM cand JOIN documents ta ON ta.doc_id = doc_a
         |            JOIN documents tb ON tb.doc_id = doc_b)
         |SELECT doc_a, doc_b, lev,
         |  CASE WHEN maxlen = 0 THEN 1.0
         |    ELSE round(1.0 - CAST(lev AS DOUBLE) / CAST(maxlen AS DOUBLE), 4) END
         |    AS edit_sim
         |FROM v WHERE (CASE WHEN maxlen = 0 THEN 1.0
         |  ELSE round(1.0 - CAST(lev AS DOUBLE) / CAST(maxlen AS DOUBLE), 4) END) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_embedding" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)) AS c
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(c, 4) AS cos FROM p
        |WHERE round(c, 4) >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    // C47: replay trained cells, then within-cell pairs ≥ threshold
    // (4dp-rounded cosine) drop the higher id — min-id representative
    "dedup_semantic" ->
      s"""WITH $kmeansAssignCte,
        |dup AS (SELECT DISTINCT b.vec_id AS id FROM assigned a JOIN assigned b
        |  ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.e, b.e) / sqrt(list_dot_product(a.e, a.e) * list_dot_product(b.e, b.e)), 4) >= 0.4)
        |SELECT s.vec_id AS id, s.cell, (d.id IS NOT NULL) AS dropped
        |FROM assigned s LEFT JOIN dup d ON s.vec_id = d.id
        |ORDER BY id""".stripMargin,
    "dedup_embedding_lsh" -> {
      // 64 planes / 8 bands × 8 bits — band values computed per-band
      // (no packed-64-bit shift: bit 63 would go negative), mirroring
      // Similarity.cosineLshPairs exactly
      val planes = Similarity.hyperplanes(64, 64)
      def planeLit(p: Int) =
        planes(p).map(x => s"${x.toLong}.0").mkString("[", ", ", "]::DOUBLE[]")
      val bandCols = (0 until 8).map { b =>
        val terms = (0 until 8).map { j =>
          val p = b * 8 + j
          s"(CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        }.mkString("\n + ")
        s"($terms) AS bv$b"
      }.mkString(",\n")
      val bvCase = (0 until 8).map(b => s"WHEN $b THEN bv$b").mkString(" ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sig AS (SELECT vec_id, e,
         |$bandCols
         |FROM v),
         |banded AS (SELECT vec_id, e, b, CASE CAST(b AS INT) $bvCase END AS bv
         |           FROM sig CROSS JOIN range(8) r(b)),
         |cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         |         FROM banded a JOIN banded b ON a.b = b.b AND a.bv = b.bv AND a.vec_id < b.vec_id),
         |p AS (SELECT ia, ib,
         |  list_dot_product(x.e, y.e) / sqrt(list_dot_product(x.e, x.e) * list_dot_product(y.e, y.e)) AS c
         |  FROM cand JOIN v x ON ia = x.vec_id JOIN v y ON ib = y.vec_id)
         |SELECT ia AS id_a, ib AS id_b, round(c, 4) AS cos FROM p
         |WHERE round(c, 4) >= 0.4 ORDER BY id_a, id_b""".stripMargin
    },
    // C60: same banding replay as dedup_embedding_lsh, asymmetric
    // (corpus vs eval slice) and 16 bands × 4 bits; 4dp rounding
    // applied BEFORE threshold and argmax, so the rank-1 tie-break
    // replays identically
    "decontaminate_embedding" -> {
      val planes = Similarity.hyperplanes(64, 64)
      def planeLit(p: Int) =
        planes(p).map(x => s"${x.toLong}.0").mkString("[", ", ", "]::DOUBLE[]")
      val bandCols = (0 until 16).map { b =>
        val terms = (0 until 4).map { j =>
          val p = b * 4 + j
          s"(CASE WHEN list_dot_product(e, ${planeLit(p)}) > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        }.mkString("\n + ")
        s"($terms) AS bv$b"
      }.mkString(",\n")
      val bvCase = (0 until 16).map(b => s"WHEN $b THEN bv$b").mkString(" ")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |sig AS (SELECT vec_id, e,
         |$bandCols
         |FROM v),
         |banded AS (SELECT vec_id, e, b, CASE CAST(b AS INT) $bvCase END AS bv
         |           FROM sig CROSS JOIN range(16) r(b)),
         |cand AS (SELECT DISTINCT c.vec_id AS id, q.vec_id AS eval_id
         |         FROM banded c JOIN banded q ON c.b = q.b AND c.bv = q.bv
         |         WHERE c.vec_id % 50 <> 0 AND q.vec_id % 50 = 0),
         |p AS (SELECT id, eval_id,
         |  round(list_dot_product(x.e, y.e) / sqrt(list_dot_product(x.e, x.e) * list_dot_product(y.e, y.e)), 4) AS c
         |  FROM cand JOIN v x ON id = x.vec_id JOIN v y ON eval_id = y.vec_id),
         |f AS (SELECT id, eval_id, c,
         |  row_number() OVER (PARTITION BY id ORDER BY c DESC, eval_id) AS rn
         |  FROM p WHERE c >= 0.35)
         |SELECT id, eval_id, c AS cos FROM f WHERE rn = 1 ORDER BY id""".stripMargin
    },
    // same literal sign planes as the Spark plan; both engines run a
    // sequential-fold dot then one exact *0.25 scale, so values match
    // bit-for-bit before the 6dp export round
    "embed_project" -> {
      val planes = Similarity.signPlanes(16, 64)
      def planeLit(p: Int) =
        planes(p).map(x => s"${x.toLong}.0").mkString("[", ", ", "]::DOUBLE[]")
      val entries = (0 until 16).map { j =>
        s"{'dim': CAST($j AS BIGINT), 'y': round(list_dot_product(e, ${planeLit(j)}) * 0.25, 6)}"
      }.mkString(",\n")
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |p AS (SELECT vec_id, unnest([
         |$entries
         |], recursive := true) FROM v)
         |SELECT vec_id, dim, y FROM p ORDER BY vec_id, dim""".stripMargin
    },

    // the greedy MMR loop unrolled to its 3 steps — each step ranks on
    // the same 0.7·c − (1−0.7)·pen doubles Spark computes, with the
    // same nid tie-break, so selection replays exactly
    "ann_mmr" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 50 = 0),
        |cand0 AS (SELECT qid, nid, c FROM (
        |  SELECT qid, v.vec_id AS nid,
        |    list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) AS c,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) DESC,
        |      v.vec_id) AS rn
        |  FROM q JOIN v ON v.vec_id <> qid) WHERE rn <= 10),
        |cand AS (SELECT qid, nid, c, e AS ne FROM cand0 JOIN v ON v.vec_id = nid),
        |p AS (SELECT a.qid, a.nid AS da, b.nid AS db,
        |    list_dot_product(a.ne, b.ne) / sqrt(list_dot_product(a.ne, a.ne) * list_dot_product(b.ne, b.ne)) AS pc
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.nid <> b.nid),
        |s1 AS (SELECT qid, nid, c, mmr FROM (
        |    SELECT qid, nid, c, 0.7 * c AS mmr,
        |      row_number() OVER (PARTITION BY qid ORDER BY 0.7 * c DESC, nid) AS rn FROM cand)
        |  WHERE rn = 1),
        |s2 AS (SELECT qid, nid, c, mmr FROM (
        |    SELECT c2.qid, c2.nid, c2.c, 0.7 * c2.c - (1 - 0.7) * p.pc AS mmr,
        |      row_number() OVER (PARTITION BY c2.qid ORDER BY 0.7 * c2.c - (1 - 0.7) * p.pc DESC, c2.nid) AS rn
        |    FROM cand c2
        |    JOIN s1 ON c2.qid = s1.qid AND c2.nid <> s1.nid
        |    JOIN p ON p.qid = c2.qid AND p.da = c2.nid AND p.db = s1.nid)
        |  WHERE rn = 1),
        |pen3 AS (SELECT p.qid, p.da, max(p.pc) AS pen FROM p
        |  WHERE EXISTS (SELECT 1 FROM s1 WHERE s1.qid = p.qid AND s1.nid = p.db)
        |     OR EXISTS (SELECT 1 FROM s2 WHERE s2.qid = p.qid AND s2.nid = p.db)
        |  GROUP BY p.qid, p.da),
        |s3 AS (SELECT qid, nid, c, mmr FROM (
        |    SELECT c3.qid, c3.nid, c3.c, 0.7 * c3.c - (1 - 0.7) * pen3.pen AS mmr,
        |      row_number() OVER (PARTITION BY c3.qid ORDER BY 0.7 * c3.c - (1 - 0.7) * pen3.pen DESC, c3.nid) AS rn
        |    FROM cand c3
        |    JOIN pen3 ON pen3.qid = c3.qid AND pen3.da = c3.nid
        |    JOIN s1 ON c3.qid = s1.qid AND c3.nid <> s1.nid
        |    JOIN s2 ON c3.qid = s2.qid AND c3.nid <> s2.nid)
        |  WHERE rn = 1)
        |SELECT qid, CAST(1 AS BIGINT) AS rank, nid, round(c, 4) AS cos, round(mmr, 4) AS mmr FROM s1
        |UNION ALL SELECT qid, CAST(2 AS BIGINT), nid, round(c, 4), round(mmr, 4) FROM s2
        |UNION ALL SELECT qid, CAST(3 AS BIGINT), nid, round(c, 4), round(mmr, 4) FROM s3
        |ORDER BY qid, rank""".stripMargin,
    "ann_topk_bruteforce" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 50 = 0),
        |scored AS (SELECT qid, v.vec_id AS nid,
        |  list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) AS c,
        |  row_number() OVER (PARTITION BY qid ORDER BY
        |    list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) DESC,
        |    v.vec_id) AS rank
        |  FROM q JOIN v ON v.vec_id <> qid)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "ann_ivf" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 25 = 0),
        |assigned AS (SELECT vec_id, e, cid AS cell FROM (
        |  SELECT v.vec_id, v.e, cent.cid,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_dot_product(v.e, ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(ce, ce)) DESC,
        |      cent.cid) AS rn
        |  FROM v CROSS JOIN cent) WHERE rn = 1),
        |qa AS (SELECT vec_id AS qid, e AS qe, cell AS qcell FROM assigned WHERE vec_id % 40 = 0),
        |scored AS (SELECT qid, qcell AS cell, a.vec_id AS nid,
        |  list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) AS c,
        |  row_number() OVER (PARTITION BY qid ORDER BY
        |    list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) DESC,
        |    a.vec_id) AS rank
        |  FROM qa JOIN assigned a ON a.cell = qa.qcell AND a.vec_id <> qa.qid)
        |SELECT qid, cell, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_ivf_nprobe" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 25 = 0),
        |assigned AS (SELECT vec_id, e, cid AS cell FROM (
        |  SELECT v.vec_id, v.e, cent.cid,
        |    row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |      list_dot_product(v.e, ce) / sqrt(list_dot_product(v.e, v.e) * list_dot_product(ce, ce)) DESC,
        |      cent.cid) AS rn
        |  FROM v CROSS JOIN cent) WHERE rn = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 40 = 0),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.qid, cent.cid,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_dot_product(qe, ce) / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)) DESC,
        |      cent.cid) AS pr
        |  FROM q CROSS JOIN cent) WHERE pr <= 2),
        |scored AS (SELECT p.qid, a.cell, a.vec_id AS nid,
        |  list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) AS c,
        |  row_number() OVER (PARTITION BY p.qid ORDER BY
        |    list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) DESC,
        |    a.vec_id) AS rank
        |  FROM probes p JOIN q ON p.qid = q.qid
        |  JOIN assigned a ON a.cell = p.cid AND a.vec_id <> p.qid)
        |SELECT qid, cell, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // C30: quantization bounds, codes, integer candidate ranking, and
    // exact rerank replayed; arithmetic written token-for-token as the
    // Spark expression so the double products agree bit-for-bit
    "ann_int8_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |qv AS (SELECT vec_id,
        |         CASE WHEN list_dot_product(e, e) > 0
        |           THEN list_transform(e, x -> floor(x * 127.0 / sqrt(list_dot_product(e, e))))
        |           ELSE list_transform(e, x -> 0.0) END AS q
        |       FROM v),
        |qset AS (SELECT qv.vec_id AS qid, qv.q AS qq, v.e AS qe
        |         FROM qv JOIN v USING (vec_id) WHERE qv.vec_id % 40 = 0),
        |pool AS (SELECT qs.qid, c.vec_id AS nid,
        |    row_number() OVER (PARTITION BY qs.qid
        |      ORDER BY list_dot_product(qs.qq, c.q) DESC, c.vec_id) AS crank
        |  FROM qset qs JOIN qv c ON c.vec_id <> qs.qid),
        |scored AS (SELECT p.qid, p.nid,
        |    list_dot_product(qs.qe, v.e) / sqrt(list_dot_product(qs.qe, qs.qe) * list_dot_product(v.e, v.e)) AS c,
        |    row_number() OVER (PARTITION BY p.qid ORDER BY
        |      list_dot_product(qs.qe, v.e) / sqrt(list_dot_product(qs.qe, qs.qe) * list_dot_product(v.e, v.e)) DESC,
        |      p.nid) AS rank
        |  FROM pool p JOIN qset qs USING (qid) JOIN v ON v.vec_id = p.nid
        |  WHERE p.crank <= 20)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    // C8c: full replay of the SQL-expressible trainer — md5-rank seed
    // selection (string/integer-exact), two unrolled Lloyd rounds
    // (cosine argmax assignment, ties to lower cid; per-component
    // mean; emptied cell keeps its center), then the same
    // nprobe=2 / top-3 search as ann_ivf_nprobe. generate_series is
    // pinned to the corpus' 64-dim embeddings.
    "ann_ivf_kmeans" ->
      s"""WITH $kmeansAssignCte,
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 40 = 0),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.cid,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_dot_product(qe, c.ce) / sqrt(list_dot_product(qe, qe) * list_dot_product(c.ce, c.ce)) DESC,
        |      c.cid) AS pr
        |  FROM q CROSS JOIN c2 c) WHERE pr <= 2),
        |scored AS (SELECT p.qid, a.cell, a.vec_id AS nid,
        |  list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) AS c,
        |  row_number() OVER (PARTITION BY p.qid ORDER BY
        |    list_dot_product(qe, a.e) / sqrt(list_dot_product(qe, qe) * list_dot_product(a.e, a.e)) DESC,
        |    a.vec_id) AS rank
        |  FROM probes p JOIN q ON p.qid = q.qid
        |  JOIN assigned a ON a.cell = p.cid AND a.vec_id <> p.qid)
        |SELECT qid, cell, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "decontaminate_ngram" ->
      s"""WITH $shingleCte,
         |ref AS (SELECT DISTINCT unnest(s) AS t FROM sh WHERE doc_id % 10 = 3),
         |tr AS (SELECT doc_id, unnest(s) AS t FROM sh WHERE doc_id % 10 <> 3)
         |SELECT doc_id, count(*) AS n_hits
         |FROM tr JOIN ref USING (t)
         |GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin,
    // Bloom path returns the exact result (the filter only prunes the
    // join input) — same oracle formulation
    "decontaminate_bloom" ->
      s"""WITH $shingleCte,
         |ref AS (SELECT DISTINCT unnest(s) AS t FROM sh WHERE doc_id % 10 = 3),
         |tr AS (SELECT doc_id, unnest(s) AS t FROM sh WHERE doc_id % 10 <> 3)
         |SELECT doc_id, count(*) AS n_hits
         |FROM tr JOIN ref USING (t)
         |GROUP BY doc_id HAVING count(*) >= 2 ORDER BY doc_id""".stripMargin,
    // the per-row Bernoulli draw replays: same quality formula as
    // text_quality, same md5 uniform, same floor(q·2^32) threshold
    "sample_importance" -> {
      val stop = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH m AS (SELECT doc_id, len(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  round(0.4::DOUBLE * (n_stop::DOUBLE / n_tokens)
         |    + 0.3::DOUBLE * (least(n_tokens, 100)::DOUBLE / 100)
         |    + 0.3::DOUBLE * (1.0::DOUBLE - n_punct::DOUBLE / n_chars), 4) AS quality
         |  FROM m)
         |SELECT doc_id, quality FROM q
         |WHERE CAST('0x' || substr(md5(doc_id || ':imp'), 1, 8) AS BIGINT)
         |      < CAST(floor(quality * 4294967296.0::DOUBLE) AS BIGINT)
         |ORDER BY doc_id""".stripMargin
    },
    // ::DOUBLE on every literal: bare 206.835 would parse as DECIMAL
    // and DuckDB's decimal arithmetic diverges from the double path
    "text_readability" ->
      """WITH m AS (SELECT doc_id,
        |  greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        |    AS n_sentences,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(string_split(text, ' '),
        |    w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
        |    AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_sentences, n_tokens, n_syllables,
        |  round(206.835::DOUBLE
        |    - 1.015::DOUBLE * (n_tokens::DOUBLE / n_sentences::DOUBLE)
        |    - 84.6::DOUBLE * (n_syllables::DOUBLE / n_tokens::DOUBLE), 4)
        |    AS flesch
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_ngram_coverage" ->
      s"""WITH $shingleCte,
         |ref AS (SELECT doc_id, unnest(s) AS t FROM sh WHERE doc_id % 10 = 3),
         |tr AS (SELECT DISTINCT unnest(s) AS t FROM sh WHERE doc_id % 10 <> 3)
         |SELECT r.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(count(tr.t) AS BIGINT) AS n_covered,
         |  round(count(tr.t)::DOUBLE / count(*)::DOUBLE, 4) AS coverage
         |FROM ref r LEFT JOIN tr ON r.t = tr.t
         |GROUP BY r.doc_id ORDER BY doc_id""".stripMargin,
    // weights replay from the same md5 derivations; the per-doc sum is
    // integer milli-units, so only the final score/prob are FP
    "quality_classifier" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |            FROM documents),
        |w AS (SELECT doc_id,
        |  CAST('0x' || substr(md5('w:' || CAST(
        |    CAST('0x' || substr(md5('b:' || t), 1, 8) AS BIGINT) % 1024
        |    AS VARCHAR)), 1, 8) AS BIGINT) % 2001 - 1000 AS wi
        |  FROM tok),
        |a AS (SELECT doc_id, CAST(sum(wi) AS BIGINT) AS w_sum,
        |             CAST(count(*) AS BIGINT) AS n_tokens
        |      FROM w GROUP BY doc_id)
        |SELECT doc_id, n_tokens, w_sum,
        |  round(w_sum::DOUBLE / (n_tokens * 1000)::DOUBLE, 4) AS score,
        |  round(1.0 / (1.0 + exp(w_sum::DOUBLE * -4.0
        |    / (n_tokens * 1000)::DOUBLE)), 4) AS prob,
        |  w_sum > 0 AS keep
        |FROM a ORDER BY doc_id""".stripMargin,
    // integer count grid → per-term fixed-point 1e-10 units summed as
    // BIGINT (order-independent), one FP divide/ln/multiply per term
    "corpus_divergence" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t
        |            FROM documents),
        |g AS (SELECT t, CAST(count(*) AS BIGINT) AS c_g FROM tok GROUP BY t),
        |pl AS (SELECT lang, t, CAST(count(*) AS BIGINT) AS c_l
        |       FROM tok GROUP BY lang, t),
        |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l
        |        FROM tok GROUP BY lang),
        |sc AS (SELECT CAST(sum(c_g) AS BIGINT) AS n_g,
        |              CAST(count(*) AS BIGINT) AS v FROM g),
        |grid AS (SELECT tt.lang, g.t, g.c_g, tt.n_l,
        |    coalesce(pl.c_l, 0) AS c_l, sc.n_g, sc.v
        |  FROM g CROSS JOIN tot tt CROSS JOIN sc
        |  LEFT JOIN pl ON pl.lang = tt.lang AND pl.t = g.t),
        |term AS (SELECT lang, n_l,
        |  CAST(floor(((c_l + 1)::DOUBLE / (n_l + v)::DOUBLE *
        |    ln(((c_l + 1) * (n_g + v))::DOUBLE
        |       / ((n_l + v) * (c_g + 1))::DOUBLE)) * 1e10 + 0.5) AS BIGINT) AS ti
        |  FROM grid)
        |SELECT lang, max(n_l) AS n_tokens,
        |       round(CAST(sum(ti) AS DOUBLE) / 1e10, 4) AS kl
        |FROM term GROUP BY lang ORDER BY lang""".stripMargin,
    "text_langid" -> {
      def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, toks,
         |  len(list_filter(toks, x -> x IN ${lst(TextAnalysis.StopwordsEn)})) AS en_hits,
         |  len(list_filter(toks, x -> x IN ${lst(TextAnalysis.StopwordsEs)})) AS es_hits,
         |  len(list_filter(toks, x -> x IN ${lst(TextAnalysis.StopwordsDe)})) AS de_hits,
         |  len(list_filter(toks, x -> x IN ${lst(TextAnalysis.StopwordsFr)})) AS fr_hits
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN greatest(en_hits, es_hits, de_hits, fr_hits) <= 0 THEN 'und'
         |       WHEN en_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
         |       WHEN es_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
         |       WHEN de_hits = greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
         |       ELSE 'fr' END AS pred_lang,
         |  en_hits, es_hits, de_hits, fr_hits, len(toks) AS n_tokens
         |FROM s ORDER BY doc_id""".stripMargin
    },
    "text_quality" -> {
      val stop = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH m AS (SELECT doc_id, len(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS n_stop
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens,
         |  round(n_punct::DOUBLE / n_chars, 4) AS punct_ratio,
         |  round(n_stop::DOUBLE / n_tokens, 4) AS stopword_ratio,
         |  round((n_chars - n_tokens + 1)::DOUBLE / n_tokens, 4) AS mean_token_len,
         |  round(0.4::DOUBLE * (n_stop::DOUBLE / n_tokens)
         |    + 0.3::DOUBLE * (least(n_tokens, 100)::DOUBLE / 100)
         |    + 0.3::DOUBLE * (1.0::DOUBLE - n_punct::DOUBLE / n_chars), 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  WHERE term <> '' GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dfq.df + 1)) + 1), 4) AS score
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM s)
        |SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "curriculum_order" -> {
      val stop = TextAnalysis.StopwordsEn.map(w => s"'$w'").mkString("(", ", ", ")")
      s"""WITH m AS (SELECT doc_id, len(text) AS n_chars,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         |  len(list_filter(string_split(text, ' '), x -> x IN $stop)) AS n_stop
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  round(0.4::DOUBLE * (n_stop::DOUBLE / n_tokens)
         |    + 0.3::DOUBLE * (least(n_tokens, 100)::DOUBLE / 100)
         |    + 0.3::DOUBLE * (1.0::DOUBLE - n_punct::DOUBLE / n_chars), 4) AS quality
         |  FROM m),
         |b AS (SELECT doc_id, quality,
         |  least(CAST(floor(quality * 10) AS BIGINT), 9) AS bucket,
         |  md5(CAST(doc_id AS VARCHAR)) AS h FROM q),
         |c AS (SELECT bucket, count(*) AS n_bucket FROM b GROUP BY bucket),
         |o AS (SELECT bucket, CAST(COALESCE(SUM(n_bucket) OVER (
         |  ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS BIGINT) AS off FROM c),
         |r AS (SELECT b.doc_id, b.bucket, b.quality,
         |  CAST(o.off + row_number() OVER (
         |    PARTITION BY b.bucket ORDER BY b.h, b.doc_id) AS BIGINT) AS position
         |  FROM b JOIN o USING (bucket))
         |SELECT position, doc_id, bucket, quality FROM r
         |ORDER BY position""".stripMargin
    },
    "text_tokens" ->
      """SELECT doc_id,
        |len(string_split(text, ' ')) AS ws_tokens,
        |len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
        |len(list_distinct(string_split(text, ' '))) AS distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH norm AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |g AS (SELECT doc_id,
        |  unnest([{'idx': i, 'gh': md5(substr(t, i, 5))} for i in range(1, len(t) - 3)],
        |    recursive := true)
        |  FROM norm WHERE len(t) >= 14),
        |sel AS (SELECT doc_id, idx,
        |  min(gh) OVER (PARTITION BY doc_id ORDER BY idx
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS sel
        |  FROM g)
        |SELECT doc_id, count(DISTINCT sel) AS n_fingerprints,
        |  min(sel) AS fp_min, max(sel) AS fp_max
        |FROM sel WHERE idx >= 10 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // C64: 16-bit big-endian sample assembly from character codes,
    // frame grouping by i÷64, argmax by (energy desc, frame) window
    "mm_audio_energy" ->
      """WITH s AS (SELECT doc_id, text, len(text) // 2 AS ns FROM documents),
        |samp AS (SELECT doc_id, i,
        |  CASE WHEN a * 256 + b >= 32768 THEN a * 256 + b - 65536
        |       ELSE a * 256 + b END AS v
        |  FROM (SELECT doc_id, t.i,
        |          ascii(substr(text, CAST(2 * t.i + 1 AS INT), 1)) AS a,
        |          ascii(substr(text, CAST(2 * t.i + 2 AS INT), 1)) AS b
        |        FROM s, unnest(range(0, ns)) AS t(i))),
        |fe AS (SELECT doc_id, i // 64 AS f, sum(v * v) AS e
        |       FROM samp GROUP BY 1, 2),
        |pk AS (SELECT doc_id, f AS peak_frame, CAST(e AS BIGINT) AS peak_energy
        |       FROM (SELECT doc_id, f, e,
        |               row_number() OVER (PARTITION BY doc_id ORDER BY e DESC, f) AS rn
        |             FROM fe) WHERE rn = 1),
        |agg AS (SELECT doc_id, count(*) AS n_frames, CAST(sum(e) AS BIGINT) AS tot
        |        FROM fe GROUP BY doc_id)
        |SELECT s.doc_id, s.ns AS n_samples,
        |  COALESCE(agg.n_frames, 0) AS n_frames,
        |  COALESCE(pk.peak_frame, 0) AS peak_frame,
        |  COALESCE(pk.peak_energy, 0) AS peak_energy,
        |  COALESCE(round(agg.tot / agg.n_frames, 4), 0.0) AS mean_energy
        |FROM s LEFT JOIN agg USING (doc_id) LEFT JOIN pk USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5,
        |CASE WHEN substr(text, 1, 1) < 'm' THEN 'typeA' ELSE 'typeB' END AS sniffed,
        |8 + (CAST('0x' || substr(md5(text), 1, 1) AS INT) % 8) * 16 AS width,
        |8 + (CAST('0x' || substr(md5(text), 2, 1) AS INT) % 8) * 16 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_embed_ann" ->
      """WITH v AS (SELECT doc_id,
        |  [ (CAST('0x' || substr(md5(text || ':' || d), 1, 8) AS BIGINT) % 2001 - 1000) / 1000.0
        |    for d in range(0, 8) ] AS e
        |  FROM documents),
        |q AS (SELECT doc_id AS qid, e AS qe FROM v WHERE doc_id % 50 = 0),
        |scored AS (SELECT qid, v.doc_id AS nid,
        |  list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) AS c,
        |  row_number() OVER (PARTITION BY qid ORDER BY
        |    list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) DESC,
        |    v.doc_id) AS rank
        |  FROM q JOIN v ON v.doc_id <> qid)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "profile_orders" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name,
           |CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |count(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "dedup_segments" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |seg0 AS (SELECT doc_id, unnest(range(CAST(ceil(len(toks) / 3.0) AS BIGINT))) AS pos, toks FROM t),
        |segs AS (SELECT doc_id, pos, array_to_string(toks[pos*3+1 : pos*3+3], ' ') AS seg FROM seg0),
        |common AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM common))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  md5(string_agg(seg, ' ' ORDER BY pos)) AS clean_md5
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(range(1, len(w) - 18)) AS pos,
        |  unnest([md5(array_to_string(w[i:i+19], ' ')) for i in range(1, len(w) - 18)]) AS h
        |  FROM t WHERE len(w) >= 20),
        |d AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM d)),
        |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
        |    OVER (PARTITION BY doc_id ORDER BY pos) > 20 THEN 1 ELSE 0 END AS brk FROM m),
        |i AS (SELECT doc_id, pos, sum(brk)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM b)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 19 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 19 - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // C73: the cross-corpus form — the witness set is the held-out
    // slice's DISTINCT window hashes, not the corpus-wide duplicates
    "decontaminate_substring" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(range(1, len(w) - 18)) AS pos,
        |  unnest([md5(array_to_string(w[i:i+19], ' ')) for i in range(1, len(w) - 18)]) AS h
        |  FROM t WHERE len(w) >= 20),
        |ref AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 3),
        |m AS (SELECT doc_id, pos FROM sh
        |    WHERE doc_id % 10 <> 3 AND h IN (SELECT h FROM ref)),
        |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
        |    OVER (PARTITION BY doc_id ORDER BY pos) > 20 THEN 1 ELSE 0 END AS brk FROM m),
        |i AS (SELECT doc_id, pos, sum(brk)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM b)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) + 19 AS BIGINT) AS span_end,
        |  CAST(max(pos) + 19 - min(pos) + 1 AS BIGINT) AS span_tokens
        |FROM i GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    "dedup_substring_clean" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest(range(1, len(w) - 18)) AS pos,
        |  unnest([md5(array_to_string(w[i:i+19], ' ')) for i in range(1, len(w) - 18)]) AS h
        |  FROM t WHERE len(w) >= 20),
        |d AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
        |m AS (SELECT doc_id, pos FROM sh WHERE h IN (SELECT h FROM d)),
        |b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos)
        |    OVER (PARTITION BY doc_id ORDER BY pos) > 20 THEN 1 ELSE 0 END AS brk FROM m),
        |i AS (SELECT doc_id, pos, sum(brk)
        |    OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM b),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 19 AS e
        |    FROM i GROUP BY doc_id, island),
        |dt AS (SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
        |    FROM sp GROUP BY doc_id),
        |tok AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS tk FROM t),
        |kept AS (SELECT tk.doc_id, tk.pos, tk.tk FROM tok tk
        |  LEFT JOIN (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM sp) cov
        |  ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
        |  WHERE cov.pos IS NULL),
        |ct AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY pos) AS clean
        |    FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(dt.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        |  md5(coalesce(ct.clean, '')) AS clean_md5
        |FROM t LEFT JOIN dt USING (doc_id) LEFT JOIN ct USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "corpus_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 4) AS avg_tokens,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  count(DISTINCT md5(text)) AS n_unique_texts,
        |  round(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*), 4) AS dup_rate
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "sample_deterministic" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST('0x' || substr(md5(doc_id || ':sample'), 1, 8) AS BIGINT) % 100 < 20
        |ORDER BY doc_id""".stripMargin,
    "text_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |freq AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(ln(c / total)) / count(*), 4) AS avg_logprob
        |FROM tok JOIN freq USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // C18b: same interpolation, bigram pairs via 1-based list
    // comprehension (i, i+1), counts joined back per bigram token
    // C66: the C18b score pipeline + discrete tercile walk replayed
    "quality_perplexity_buckets" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM d),
        |uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
        |bg AS (SELECT doc_id, u.a AS a, u.b AS b
        |  FROM d, unnest([{'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS t(u)
        |  WHERE len(w) >= 2),
        |bgc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b),
        |sc AS (SELECT doc_id,
        |  round(sum(ln(0.8 * cab / ua.c + 0.2 * ub.c / total)) / count(*), 4) AS score
        |  FROM bg JOIN bgc USING (a, b)
        |  JOIN uni ua ON bg.a = ua.t
        |  JOIN uni ub ON bg.b = ub.t
        |  CROSS JOIN tot GROUP BY doc_id),
        |sct AS (SELECT sc.doc_id, score, CAST(len(d.w) AS BIGINT) AS n_tokens
        |        FROM sc JOIN d USING (doc_id)),
        |bys AS (SELECT score, count(*) AS cnt FROM sct GROUP BY score),
        |cw AS (SELECT score, CAST(sum(cnt) OVER (ORDER BY score) AS BIGINT) AS cum FROM bys),
        |nn AS (SELECT count(*) AS n FROM sct),
        |b AS (SELECT min(CASE WHEN cum * 3 >= n THEN score END) AS t1,
        |             min(CASE WHEN cum * 3 >= n * 2 THEN score END) AS t2
        |      FROM cw CROSS JOIN nn)
        |SELECT CASE WHEN score <= t1 THEN 'tail'
        |            WHEN score <= t2 THEN 'middle' ELSE 'head' END AS bucket,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(min(score), 4) AS min_score, round(max(score), 4) AS max_score
        |FROM sct CROSS JOIN b GROUP BY 1 ORDER BY bucket""".stripMargin,
    "text_bigram_logprob" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t FROM d),
        |uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM tok),
        |bg AS (SELECT doc_id, u.a AS a, u.b AS b
        |  FROM d, unnest([{'a': w[i], 'b': w[i+1]} for i in range(1, len(w))]) AS t(u)
        |  WHERE len(w) >= 2),
        |bgc AS (SELECT a, b, count(*) AS cab FROM bg GROUP BY a, b)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(ln(0.8 * cab / ua.c + 0.2 * ub.c / total)) / count(*), 4) AS avg_logprob
        |FROM bg JOIN bgc USING (a, b)
        |JOIN uni ua ON bg.a = ua.t
        |JOIN uni ub ON bg.b = ub.t
        |CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C48: stats (N, total tokens), per-(doc, term) tf, per-term df —
    // all integer aggregates; the score is the only FP step, 4dp-
    // rounded (k1=1.2, b=0.75; idf with the +1 floor)
    "text_bm25" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl FROM d),
        |tok AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS t FROM d),
        |tf AS (SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
        |  FROM tok WHERE t IN ('scan', 'merge', 'stream', 'filter')
        |  GROUP BY doc_id, t),
        |dft AS (SELECT t, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft FROM tf GROUP BY t)
        |SELECT doc_id, count(*) AS n_terms,
        |  round(sum(ln(1 + (n - dft + 0.5) / (dft + 0.5)) * tf * 2.2 /
        |    (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score
        |FROM tf JOIN dft USING (t) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_top_tokens" ->
      """SELECT t, count(*) AS c
        |FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        |GROUP BY t ORDER BY c DESC, t LIMIT 20""".stripMargin,
    "text_entropy" ->
      """WITH chars AS (SELECT doc_id, CAST(len(text) AS DOUBLE) AS n,
        |  unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE len(text) > 0),
        |freq AS (SELECT doc_id, n, ch, CAST(count(*) AS DOUBLE) AS c
        |         FROM chars GROUP BY doc_id, n, ch)
        |SELECT doc_id, round(-sum((c / n) * ln(c / n)), 4) AS entropy,
        |  count(*) AS n_distinct_chars
        |FROM freq GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, w, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
        |  CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |       ELSE [] END AS g2
        |  FROM d),
        |tops AS (SELECT doc_id, max(c) AS top_c FROM (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(w) AS t FROM d) GROUP BY doc_id, t)
        |  GROUP BY doc_id)
        |SELECT g.doc_id, n_tokens,
        |  round(1.0 - n_distinct::DOUBLE / n_tokens, 4) AS dup_word_frac,
        |  round(CASE WHEN len(g2) > 0
        |    THEN 1.0 - len(list_distinct(g2))::DOUBLE / len(g2) ELSE 0.0 END, 4) AS dup_2gram_frac,
        |  round(top_c::DOUBLE / n_tokens, 4) AS top_word_frac
        |FROM g JOIN tops ON g.doc_id = tops.doc_id ORDER BY g.doc_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact: user' || doc_id || '@example.com tel 555-' || doc_id AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[a-z0-9]+@[a-z.]+')) AS n_emails,
        |  len(regexp_extract_all(t, '555-[0-9]+')) AS n_phones,
        |  md5(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
        |    '555-[0-9]+', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "sample_balanced" ->
      """SELECT lang, rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id || ':bal'), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 30 ORDER BY lang, rn""".stripMargin,
    // C61: replays the CC clusters (same reach CTE as dedup_clusters),
    // then buckets on the cluster representative — cluster-mates get
    // identical buckets by construction in both engines
    "sample_split_leakage" ->
      s"""WITH RECURSIVE $shingleCte,
         |szd AS (SELECT doc_id, s, len(s) AS sz FROM sh),
         |tok AS (SELECT doc_id, sz, unnest(s) AS t FROM szd),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |    AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
         |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
         |  HAVING count(*) * 5 >= (a.sz + b.sz - count(*)) * 4),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
         |          UNION SELECT doc_b, doc_a FROM pr),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, m) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT r.id, e.dst FROM reach r JOIN edges e ON e.src = r.m),
         |cl AS (SELECT id AS doc_id, min(m) AS cluster FROM reach GROUP BY id),
         |rep AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |bk AS (SELECT doc_id, rep,
         |  CAST('0x' || substr(md5(rep || ':split'), 1, 8) AS BIGINT) % 10 AS b
         |  FROM rep)
         |SELECT doc_id, rep, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bk ORDER BY doc_id""".stripMargin,
    "sample_split" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST('0x' || substr(md5(doc_id || ':split'), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents)
        |SELECT CASE WHEN bk < 98 THEN 'train' WHEN bk = 98 THEN 'val'
        |            ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "mm_thumbnail" ->
      """SELECT doc_id, CAST(len(text) AS BIGINT) AS n_units,
        |  CAST(len(th) AS BIGINT) AS thumb_units, md5(th) AS thumb_md5
        |FROM (SELECT doc_id, text,
        |  array_to_string([text[i] for i in range(1, least(len(text), 1024)+1, 4)], '') AS th
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "mm_decode_roundtrip" ->
      """SELECT doc_id, CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  'png' AS fmt,
        |  md5(array_to_string(
        |    [substr(md5(text || ':' || i), 1, 2) for i in range(0, 64)], '')) AS pixel_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // C75: full pixel-math replay of the dHash pipeline — the codec
    // roundtrip is lossless, so the oracle recomputes pixels (+1
    // brightness clamp for twins), gradient bits, the 4×14 banding
    // candidates, and the exact hamming verify
    "dedup_image_phash" ->
      """WITH imgs AS (
        |  SELECT doc_id AS img_id, text, 0 AS bright FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, text, 1 FROM documents WHERE doc_id % 10 = 7),
        |px AS (
        |  SELECT img_id,
        |    [least(CAST('0x' || substr(md5(text || ':' || i), 1, 2) AS INT) + bright, 255)
        |     for i in range(0, 64)] AS p
        |  FROM imgs),
        |dh AS (
        |  SELECT img_id,
        |    array_to_string([CASE WHEN p[(j//7)*8 + (j%7) + 1] > p[(j//7)*8 + (j%7) + 2]
        |      THEN '1' ELSE '0' END for j in range(0, 56)], '') AS h,
        |    md5(array_to_string([printf('%02x', v) for v in p], '')) AS pm
        |  FROM px),
        |bands AS (
        |  SELECT img_id, h, pm, b, substr(h, CAST(b*14 + 1 AS INT), 14) AS bv
        |  FROM dh, range(0, 4) t(b)),
        |cand AS (
        |  SELECT DISTINCT x.img_id AS img_a, y.img_id AS img_b,
        |    x.h AS ha, y.h AS hb, x.pm AS ma, y.pm AS mb
        |  FROM bands x JOIN bands y
        |    ON x.b = y.b AND x.bv = y.bv AND x.img_id < y.img_id)
        |SELECT img_a, img_b, CAST(hamming AS BIGINT) AS hamming,
        |  ma = mb AS same_pixels
        |FROM (SELECT img_a, img_b, ma, mb,
        |    list_sum([CASE WHEN substr(ha, CAST(i+1 AS INT), 1) <>
        |      substr(hb, CAST(i+1 AS INT), 1) THEN 1 ELSE 0 END
        |      for i in range(0, 56)]) AS hamming
        |  FROM cand)
        |WHERE hamming <= 8 ORDER BY img_a, img_b""".stripMargin,
    "mm_thumbnail_real" ->
      """SELECT doc_id, CAST(4 AS BIGINT) AS thumb_w, CAST(4 AS BIGINT) AS thumb_h,
        |  md5(array_to_string([printf('%02x',
        |     (CAST('0x' || substr(md5(text || ':' || (16*(j//4) + 2*(j%4))), 1, 2) AS INT)
        |    + CAST('0x' || substr(md5(text || ':' || (16*(j//4) + 2*(j%4) + 1)), 1, 2) AS INT)
        |    + CAST('0x' || substr(md5(text || ':' || (16*(j//4) + 2*(j%4) + 8)), 1, 2) AS INT)
        |    + CAST('0x' || substr(md5(text || ':' || (16*(j//4) + 2*(j%4) + 9)), 1, 2) AS INT)) // 4)
        |    for j in range(0, 16)], '')) AS thumb_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, text AS t,
        |  CAST(floor((len(text) - 1) / 64) AS BIGINT) + 1 AS nb FROM documents),
        |f AS (SELECT doc_id, unnest([i for i in range(0, nb)]) AS frame_idx, t FROM d)
        |SELECT doc_id, frame_idx,
        |  md5(substr(t, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM f WHERE frame_idx % 4 = 0 ORDER BY doc_id, frame_idx""".stripMargin,
    // C63: same trailing-8-gram boundary rule, span assembly and
    // doc-frequency join; the HUGEINT sum is CAST before export
    // boundary rule = the CdcBoundaries kernel's polynomial, replayed
    // as the exact 8-term window sum (base-31 weights 31^7..31^0, all
    // arithmetic inside Int64 — the kernel's scaladoc carries the
    // overflow proof); RollingHashSpec pins the two forms equal
    "chunk_cdc" ->
      """WITH ch AS (SELECT doc_id, text,
        |  [i for i in range(8, len(text)+1)
        |   if (CAST(ord(text[i-7]) AS BIGINT)*27512614111
        |     + CAST(ord(text[i-6]) AS BIGINT)*887503681
        |     + CAST(ord(text[i-5]) AS BIGINT)*28629151
        |     + CAST(ord(text[i-4]) AS BIGINT)*923521
        |     + CAST(ord(text[i-3]) AS BIGINT)*29791
        |     + CAST(ord(text[i-2]) AS BIGINT)*961
        |     + CAST(ord(text[i-1]) AS BIGINT)*31
        |     + ord(text[i])) % 61 = 0] AS bnds
        |  FROM documents),
        |sp AS (SELECT doc_id, text,
        |  list_prepend(1, [b+1 for b in bnds]) AS starts,
        |  list_append(bnds, len(text)) AS ends FROM ch),
        |ck AS (SELECT doc_id,
        |  list_filter(list_transform(list_zip(starts, ends),
        |    z -> CASE WHEN z[1] <= z[2]
        |         THEN md5(substr(text, CAST(z[1] AS INT), CAST(z[2] - z[1] + 1 AS INT))) END),
        |    x -> x IS NOT NULL) AS hs FROM sp),
        |inst AS (SELECT doc_id, unnest(hs) AS h FROM ck),
        |dfreq AS (SELECT h, count(DISTINCT doc_id) AS docs FROM inst GROUP BY h)
        |SELECT i.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) / count(*), 4) AS shared_frac
        |FROM inst i JOIN dfreq USING (h) GROUP BY i.doc_id ORDER BY doc_id""".stripMargin,
    "chunk_documents" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w
        |             FROM documents WHERE len(string_split(text, ' ')) > 0),
        |c AS (SELECT doc_id, w, unnest(range(0, len(w), 48)) AS s FROM tok)
        |SELECT doc_id,
        |  CAST(s // 48 AS BIGINT) AS chunk_idx,
        |  CAST(s AS BIGINT) AS start_tok,
        |  CAST(least(len(w) - s, 64) AS BIGINT) AS n_tok,
        |  md5(array_to_string(w[s+1 : s+64], ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "bpe_pair_counts" ->
      """SELECT pair, count(*) AS n FROM (
        |  SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pair
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2)
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // the greedy BPE apply replayed as one CTE round per merge rank:
    // round r marks adjacent pairs equal to rank-r's pair, selects
    // non-overlapping occurrences left-to-right (islands of
    // consecutive marks + even-offset parity — identical to a scan),
    // rewrites the taken left unit to the merged token and drops the
    // consumed right unit. 16 rounds = the query's merge-table size.
    // one CTE round per TRAINING round: mg$r is the argmax pair of the
    // CURRENT state s{r-1} (scalar subqueries — unit-struct match, no
    // joined-string ambiguity), then the same run-based leftmost-greedy
    // application CTEs bpe_encode's oracle proves
    "bpe_train" -> {
      val rounds = (1 to 6).map { r =>
        val prev = s"s${r - 1}"
        s"""a$r AS (SELECT doc_id, unit,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq FROM $prev),
           |p$r AS (SELECT doc_id, unit, seq,
           |  lead(unit) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt FROM a$r),
           |mg$r AS (SELECT unit AS lhs, nxt AS rhs, CAST(count(*) AS BIGINT) AS n
           |  FROM p$r WHERE nxt IS NOT NULL
           |  GROUP BY unit, nxt ORDER BY n DESC, lhs, rhs LIMIT 1),
           |b$r AS (SELECT doc_id, unit, seq, nxt,
           |  CASE WHEN unit = (SELECT lhs FROM mg$r)
           |        AND nxt = (SELECT rhs FROM mg$r)
           |    THEN 1 ELSE 0 END AS m FROM p$r),
           |c$r AS (SELECT *, seq - row_number()
           |  OVER (PARTITION BY doc_id, m ORDER BY seq) AS isl FROM b$r),
           |d$r AS (SELECT *, CASE WHEN m = 1 AND (seq - min(seq)
           |  OVER (PARTITION BY doc_id, m, isl)) % 2 = 0 THEN 1 ELSE 0 END AS take FROM c$r),
           |e$r AS (SELECT doc_id, seq, unit, nxt, take,
           |  lag(take) OVER (PARTITION BY doc_id ORDER BY seq) AS ptake FROM d$r),
           |s$r AS (SELECT doc_id, seq AS pos,
           |  CASE WHEN take = 1 THEN unit || ' ' || nxt ELSE unit END AS unit
           |  FROM e$r WHERE coalesce(ptake, 0) = 0)""".stripMargin
      }.mkString(",\n")
      val sel = (1 to 6)
        .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs, n FROM mg$r")
        .mkString("\nUNION ALL ")
      s"""WITH s0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS unit
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |$rounds
         |SELECT merge_rank, lhs, rhs, n FROM ($sel) ORDER BY merge_rank""".stripMargin
    },

    "bpe_encode" -> {
      val rounds = (1 to 16).map { r =>
        val prev = s"s${r - 1}"
        s"""a$r AS (SELECT doc_id, unit,
           |  row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq FROM $prev),
           |b$r AS (SELECT doc_id, unit, seq,
           |  lead(unit) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt,
           |  CASE WHEN unit || ' ' || lead(unit) OVER (PARTITION BY doc_id ORDER BY seq)
           |    = (SELECT pair FROM mg WHERE rnk = $r) THEN 1 ELSE 0 END AS m FROM a$r),
           |c$r AS (SELECT *, seq - row_number()
           |  OVER (PARTITION BY doc_id, m ORDER BY seq) AS isl FROM b$r),
           |d$r AS (SELECT *, CASE WHEN m = 1 AND (seq - min(seq)
           |  OVER (PARTITION BY doc_id, m, isl)) % 2 = 0 THEN 1 ELSE 0 END AS take FROM c$r),
           |e$r AS (SELECT doc_id, seq, unit, nxt, take,
           |  lag(take) OVER (PARTITION BY doc_id ORDER BY seq) AS ptake FROM d$r),
           |s$r AS (SELECT doc_id, seq AS pos,
           |  CASE WHEN take = 1 THEN unit || ' ' || nxt ELSE unit END AS unit
           |  FROM e$r WHERE coalesce(ptake, 0) = 0)""".stripMargin
      }.mkString(",\n")
      s"""WITH mg AS (SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
         |  FROM (SELECT pair, count(*) AS n FROM (
         |    SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pair
         |    FROM (SELECT string_split(text, ' ') AS w FROM documents)
         |    WHERE len(w) >= 2)
         |  GROUP BY pair ORDER BY n DESC, pair LIMIT 16)),
         |s0 AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS unit
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |$rounds,
         |vocab AS (SELECT unit, CAST(row_number() OVER (ORDER BY unit) AS BIGINT) AS token_id
         |  FROM (SELECT DISTINCT unit FROM s16)),
         |fin AS (SELECT s.doc_id,
         |  CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS BIGINT) AS seq,
         |  s.unit AS token, v.token_id
         |  FROM s16 s JOIN vocab v USING (unit))
         |SELECT doc_id, seq, token, token_id FROM fin
         |ORDER BY doc_id, seq""".stripMargin
    },
    // C49: replay the weight construction, derive the same floored
    // targets, and cut each stratum at the md5-ordered running sum
    "mix_apply" ->
      """WITH pl AS (SELECT lang AS stratum,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |            FROM documents GROUP BY lang),
        |l AS (SELECT list_sort(list({'stratum': stratum, 'n_tok': n_tok})) AS ls FROM pl),
        |d AS (SELECT ls,
        |        list_reduce([sqrt(CAST(x.n_tok AS DOUBLE)) for x in ls],
        |                    (a, b) -> a + b) AS denom
        |      FROM l),
        |wt AS (SELECT u.stratum AS stratum, u.n_tok AS n_tok,
        |  round(sqrt(CAST(u.n_tok AS DOUBLE)) / denom, 6) AS weight
        |  FROM d, unnest(ls) AS t(u)),
        |tgt AS (SELECT stratum,
        |  CAST(floor(weight * floor((SELECT sum(n_tok) FROM wt) / 4)) AS BIGINT) AS target
        |  FROM wt),
        |doc AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR) || ':mix') AS h FROM documents),
        |c AS (SELECT doc_id, lang, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM doc)
        |SELECT lang, doc_id, n_tokens, cum_tokens
        |FROM c JOIN tgt ON lang = tgt.stratum
        |WHERE cum_tokens <= target ORDER BY lang, cum_tokens""".stripMargin,
    "mix_weights" ->
      """WITH pl AS (SELECT lang AS stratum,
        |              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |            FROM documents GROUP BY lang),
        |l AS (SELECT list_sort(list({'stratum': stratum, 'n_tok': n_tok})) AS ls FROM pl),
        |d AS (SELECT ls,
        |        list_reduce([sqrt(CAST(x.n_tok AS DOUBLE)) for x in ls],
        |                    (a, b) -> a + b) AS denom
        |      FROM l)
        |SELECT u.stratum AS stratum, u.n_tok AS n_tok,
        |  round(sqrt(CAST(u.n_tok AS DOUBLE)) / denom, 6) AS weight
        |FROM d, unnest(ls) AS t(u) ORDER BY stratum""".stripMargin,
    "quality_filter_pipeline" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(text) - len(replace(replace(replace(replace(replace(replace(text,
        |    '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS BIGINT) AS n_punct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |  round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS dup_frac,
        |  round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS mean_token_len,
        |  CASE WHEN n_chars = 0 THEN 0.0
        |       ELSE round(CAST(n_punct AS DOUBLE) / n_chars, 4) END AS punct_ratio
        |  FROM m)
        |SELECT doc_id, n_tokens, dup_frac, mean_token_len, punct_ratio,
        |  (n_tokens >= 20 AND n_tokens <= 100000) AS r_len,
        |  (mean_token_len >= 2.0 AND mean_token_len <= 12.0) AS r_word_len,
        |  (dup_frac <= 0.6) AS r_dup,
        |  (punct_ratio <= 0.2) AS r_punct,
        |  ((n_tokens >= 20 AND n_tokens <= 100000)
        |    AND (mean_token_len >= 2.0 AND mean_token_len <= 12.0)
        |    AND (dup_frac <= 0.6) AND (punct_ratio <= 0.2)) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "pipeline_corpus" ->
      """WITH m AS (SELECT doc_id, text, lang,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(text) - len(replace(replace(replace(replace(replace(replace(text,
        |    '.', ''), ',', ''), '!', ''), '?', ''), ';', ''), ':', '')) AS BIGINT) AS n_punct,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents WHERE doc_id % 10 <> 3),
        |k AS (SELECT doc_id, text, lang, n_tokens FROM (
        |  SELECT *, round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4) AS dup_frac,
        |         round(CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens, 4) AS mtl,
        |         CASE WHEN n_chars = 0 THEN 0.0
        |           ELSE round(CAST(n_punct AS DOUBLE) / n_chars, 4) END AS pr FROM m)
        |  WHERE n_tokens >= 20 AND n_tokens <= 100000
        |    AND mtl >= 2.0 AND mtl <= 12.0 AND dup_frac <= 0.6 AND pr <= 0.2),
        |dd AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5(text)),
        |d2 AS (SELECT k.* FROM k JOIN dd USING (doc_id)),
        |sh AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in range(1, len(w) - 1)]) AS s
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d2)
        |       WHERE len(w) >= 3),
        |ref AS (SELECT DISTINCT unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |          for i in range(1, len(w) - 1)])) AS t
        |        FROM (SELECT string_split(text, ' ') AS w FROM documents
        |              WHERE doc_id % 10 = 3) WHERE len(w) >= 3),
        |bad AS (SELECT doc_id FROM (SELECT doc_id, unnest(s) AS t FROM sh)
        |        JOIN ref USING (t) GROUP BY doc_id HAVING count(*) >= 2),
        |d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        |s4 AS (SELECT * FROM d3
        |       WHERE CAST('0x' || substr(md5(doc_id || ':sample'), 1, 8) AS BIGINT) % 100 < 20)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM s4 GROUP BY lang ORDER BY lang""".stripMargin,
    "profile_embeddings" ->
      """WITH e AS (SELECT label, embedding,
        |  sqrt(list_reduce([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding],
        |                   (a, b) -> a + b)) AS norm
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
        |  CAST(min(len(embedding)) AS BIGINT) AS dim_min,
        |  CAST(max(len(embedding)) AS BIGINT) AS dim_max,
        |  CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  round(min(norm), 4) AS norm_min,
        |  round(max(norm), 4) AS norm_max,
        |  round(avg(norm), 4) AS norm_avg
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "ann_topk_agg" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 50 = 0),
        |scored AS (SELECT qid, v.vec_id AS nid,
        |  list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) AS c,
        |  row_number() OVER (PARTITION BY qid ORDER BY
        |    list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) DESC,
        |    v.vec_id) AS rank
        |  FROM q JOIN v ON v.vec_id <> qid)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // C69: both legs rank on 4dp-rounded scores with id tie-breaks;
    // RRF scores are exact rationals of integer ranks — IEEE-identical
    // cross-engine, so the fused list hash-matches.
    "ann_hybrid_rrf" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dt AS (SELECT DISTINCT doc_id, unnest(w) AS t FROM docs),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM docs),
        |df AS (SELECT t, CAST(count(*) AS DOUBLE) AS dft FROM dt GROUP BY t),
        |lex AS (SELECT q.doc_id AS qid, d.doc_id AS nid,
        |    sum(CAST(floor(ln(1 + (nd - dft + 0.5) / (dft + 0.5)) * 10000 + 0.5) AS BIGINT)) AS s
        |  FROM dt q JOIN dt d USING (t) JOIN df USING (t) CROSS JOIN n
        |  WHERE q.doc_id % 40 = 0 AND d.doc_id <> q.doc_id
        |  GROUP BY 1, 2),
        |lrank AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rl
        |  FROM lex),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sem AS (SELECT q.vec_id AS qid, v.vec_id AS nid,
        |    round(list_dot_product(q.e, v.e) /
        |      sqrt(list_dot_product(q.e, q.e) * list_dot_product(v.e, v.e)), 4) AS c
        |  FROM v q JOIN v ON v.vec_id <> q.vec_id WHERE q.vec_id % 40 = 0),
        |srank AS (SELECT qid, nid,
        |    row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rs
        |  FROM sem),
        |fused AS (SELECT coalesce(l.qid, s.qid) AS qid,
        |    coalesce(l.nid, s.nid) AS nid,
        |    coalesce(1.0 / (60 + rl), 0) + coalesce(1.0 / (60 + rs), 0) AS rrf
        |  FROM (SELECT * FROM lrank WHERE rl <= 20) l
        |  FULL JOIN (SELECT * FROM srank WHERE rs <= 20) s
        |    ON l.qid = s.qid AND l.nid = s.nid),
        |ranked AS (SELECT qid, nid, rrf,
        |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS rank
        |  FROM fused)
        |SELECT qid, rank, nid, round(rrf, 6) AS rrf FROM ranked
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // C72: the oracle replays the pinned md5 query-sample draw and
    // expects every persisted-index fused-top-5 overlap flag TRUE
    // (the flag itself is engine-measured — the recall_ok idiom)
    "ann_hybrid_indexed" ->
      s"""SELECT qid, true AS overlap_ok FROM (
        |  SELECT vec_id AS qid FROM embeddings WHERE vec_id % 40 = 0
        |  ORDER BY md5(vec_id || ':hyq'), vec_id LIMIT $AnnAuditQuerySample)
        |ORDER BY qid""".stripMargin,
    // C43b: trained-cell replay (shared CTE) + PQ codebook/encode/ADC
    // replay (C43's fragments) + probe-pruned candidates
    "ann_ivfpq" ->
      s"""WITH $kmeansAssignCte,
        |sdim AS (SELECT unnest([0, 1, 2, 3]) AS s),
        |rkd AS (SELECT s, vec_id, row_number() OVER (PARTITION BY s
        |          ORDER BY md5(vec_id || ':pq' || s), vec_id) AS rk FROM v, sdim),
        |cb AS (SELECT r.s, r.rk AS crank, v.e[r.s*16+1 : r.s*16+16] AS cw
        |       FROM rkd r JOIN v USING (vec_id) WHERE r.rk <= 64),
        |enc AS (SELECT vec_id, s, crank FROM (
        |    SELECT v.vec_id, c.s, c.crank,
        |      row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY
        |        list_dot_product(v.e[c.s*16+1 : c.s*16+16], v.e[c.s*16+1 : c.s*16+16])
        |        + list_dot_product(c.cw, c.cw)
        |        - 2 * list_dot_product(v.e[c.s*16+1 : c.s*16+16], c.cw),
        |        c.crank) AS erk
        |    FROM v, cb c) WHERE erk = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 40 = 0),
        |probes AS (SELECT qid, cid FROM (
        |  SELECT q.qid, c.cid,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_dot_product(qe, c.ce) / sqrt(list_dot_product(qe, qe) * list_dot_product(c.ce, c.ce)) DESC,
        |      c.cid) AS pr
        |  FROM q CROSS JOIN c2 c) WHERE pr <= 2),
        |cand AS (SELECT p.qid, a.vec_id AS nid FROM probes p
        |  JOIN assigned a ON a.cell = p.cid WHERE a.vec_id <> p.qid),
        |pp AS (SELECT cd.qid, cd.nid, e2.s,
        |         list_dot_product(q.qe[e2.s*16+1 : e2.s*16+16], c.cw) AS p
        |       FROM cand cd JOIN enc e2 ON e2.vec_id = cd.nid
        |       JOIN cb c ON c.s = e2.s AND c.crank = e2.crank
        |       JOIN q ON q.qid = cd.qid),
        |adc AS (SELECT qid, nid,
        |         sum(CASE WHEN s = 0 THEN p END) + sum(CASE WHEN s = 1 THEN p END)
        |         + sum(CASE WHEN s = 2 THEN p END) + sum(CASE WHEN s = 3 THEN p END) AS adc
        |        FROM pp GROUP BY qid, nid),
        |pool AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |           ORDER BY adc DESC, nid) AS cr2 FROM adc),
        |scored AS (SELECT p.qid, p.nid,
        |    list_dot_product(q.qe, v.e)
        |      / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.e, v.e)) AS c,
        |    row_number() OVER (PARTITION BY p.qid ORDER BY
        |      list_dot_product(q.qe, v.e)
        |        / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.e, v.e)) DESC,
        |      p.nid) AS rank
        |  FROM pool p JOIN q ON q.qid = p.qid JOIN v ON v.vec_id = p.nid
        |  WHERE p.cr2 <= 20)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "ann_nndescent" -> nndOracle,
    "ann_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |sdim AS (SELECT unnest([0, 1, 2, 3]) AS s),
        |rkd AS (SELECT s, vec_id, row_number() OVER (PARTITION BY s
        |          ORDER BY md5(vec_id || ':pq' || s), vec_id) AS rk FROM v, sdim),
        |cb AS (SELECT r.s, r.rk AS crank, v.e[r.s*16+1 : r.s*16+16] AS cw
        |       FROM rkd r JOIN v USING (vec_id) WHERE r.rk <= 64),
        |enc AS (SELECT vec_id, s, crank FROM (
        |    SELECT v.vec_id, c.s, c.crank,
        |      row_number() OVER (PARTITION BY v.vec_id, c.s ORDER BY
        |        list_dot_product(v.e[c.s*16+1 : c.s*16+16], v.e[c.s*16+1 : c.s*16+16])
        |        + list_dot_product(c.cw, c.cw)
        |        - 2 * list_dot_product(v.e[c.s*16+1 : c.s*16+16], c.cw),
        |        c.crank) AS erk
        |    FROM v, cb c) WHERE erk = 1),
        |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 40 = 0),
        |pp AS (SELECT q.qid, e2.vec_id AS nid, e2.s,
        |         list_dot_product(q.qe[e2.s*16+1 : e2.s*16+16], c.cw) AS p
        |       FROM enc e2 JOIN cb c ON c.s = e2.s AND c.crank = e2.crank, q
        |       WHERE e2.vec_id <> q.qid),
        |adc AS (SELECT qid, nid,
        |         sum(CASE WHEN s = 0 THEN p END) + sum(CASE WHEN s = 1 THEN p END)
        |         + sum(CASE WHEN s = 2 THEN p END) + sum(CASE WHEN s = 3 THEN p END) AS adc
        |        FROM pp GROUP BY qid, nid),
        |pool AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
        |           ORDER BY adc DESC, nid) AS cr2 FROM adc),
        |scored AS (SELECT p.qid, p.nid,
        |    list_dot_product(q.qe, v.e)
        |      / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.e, v.e)) AS c,
        |    row_number() OVER (PARTITION BY p.qid ORDER BY
        |      list_dot_product(q.qe, v.e)
        |        / sqrt(list_dot_product(q.qe, q.qe) * list_dot_product(v.e, v.e)) DESC,
        |      p.nid) AS rank
        |  FROM pool p JOIN q ON q.qid = p.qid JOIN v ON v.vec_id = p.nid
        |  WHERE p.cr2 <= 50)
        |SELECT qid, rank, nid, round(c, 4) AS cos FROM scored
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,
    "q_heavy_hitters_grouped" ->
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT lang, count(*) AS total FROM t GROUP BY lang)
        |SELECT t.lang, tok, count(*) AS n FROM t JOIN tot USING (lang)
        |GROUP BY t.lang, tok, total HAVING count(*) * 41 > total
        |ORDER BY lang, tok""".stripMargin,
    "q_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT count(*) AS total FROM t)
        |SELECT tok, count(*) AS n FROM t, tot
        |GROUP BY tok, total HAVING count(*) * 51 > total
        |ORDER BY tok""".stripMargin,
    // C62: the full CM build replayed — same md5 row-hashes, same
    // d×w grid, min over rows, absent cells count 0
    "sketch_countmin" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |rws AS (SELECT t, r,
        |  CAST('0x' || substr(md5(t || ':cm' || r), 1, 8) AS BIGINT) % 64 AS b
        |  FROM toks CROSS JOIN range(4) rr(r)),
        |sketch AS (SELECT r, b, count(*) AS c FROM rws GROUP BY r, b),
        |probes(p) AS (VALUES ('merge'), ('scan'), ('stream'), ('the'),
        |                     ('quantum'), ('zzz-absent')),
        |pb AS (SELECT p, r,
        |  CAST('0x' || substr(md5(p || ':cm' || r), 1, 8) AS BIGINT) % 64 AS b
        |  FROM probes CROSS JOIN range(4) rr(r)),
        |est AS (SELECT p, min(COALESCE(s.c, 0)) AS n_est
        |        FROM pb LEFT JOIN sketch s ON s.r = pb.r AND s.b = pb.b
        |        GROUP BY p),
        |ex AS (SELECT t, count(*) AS c FROM toks GROUP BY t)
        |SELECT p AS token, n_est, COALESCE(ex.c, 0) AS n_exact,
        |  n_est - COALESCE(ex.c, 0) AS overestimate
        |FROM est LEFT JOIN ex ON ex.t = est.p ORDER BY token""".stripMargin)

  /** DuckDB replay of the NN-descent graph build + beam search —
    * token-for-token the [[graft.ops.Similarity.nnDescentGraph]] /
    * nnDescentTopk construction, constants imported from the same
    * vals the Spark side uses so the two engines walk the SAME graph:
    * md5-bucket initial draw → per-round (forward ∪ reverse ∪
    * neighbor-of-neighbor) candidates re-ranked to top-K → shared
    * md5-smallest entry points → per-hop expand/dedup/top-beam →
    * final top-k. */
  private def nndOracle: String = {
    import graft.ops.Similarity.{NndGraphK, NndRounds, NndBucketTarget,
      NndMinBuckets, NndLongLinkTarget, NndEntries, NndBeam, NndHops}
    // the RP-LSH seeded init (r12): plane count = integer
    // ceil-log2((n + T - 1) // T), Rademacher signs from the same
    // md5-nibble rule as Similarity.rpSign, per-plane dot via
    // list_dot_product against the ORDERED sign list (sequential
    // left-to-right — the same accumulation order as the Spark dot
    // kernel, the precedent every cosine in this oracle relies on)
    def cos(a: String, b: String) =
      s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"
    val roundCtes = (1 to NndRounds).map { r =>
      val prev = if (r == 1) "g0" else s"g${r - 1}"
      s"""cnd$r AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM $prev
         |  UNION ALL SELECT dst AS src, src AS dst FROM $prev
         |  UNION ALL SELECT a.src AS src, b.dst AS dst FROM $prev a JOIN $prev b
         |    ON a.dst = b.src AND a.src <> b.dst)),
         |g$r AS MATERIALIZED (SELECT src, dst FROM (
         |  SELECT c.src, c.dst, row_number() OVER (PARTITION BY c.src ORDER BY
         |    ${cos("s.e", "d.e")} DESC, c.dst) AS rn
         |  FROM cnd$r c JOIN v s ON s.vec_id = c.src JOIN v d ON d.vec_id = c.dst)
         |  WHERE rn <= $NndGraphK)""".stripMargin
    }.mkString(",\n")
    val gFinal = "ga" // near edges ∪ long links — what the walk follows
    val hopCtes = (1 to NndHops).map { h =>
      val prev = if (h == 1) "f0" else s"f${h - 1}"
      s"""ex$h AS MATERIALIZED (SELECT DISTINCT qid, nid FROM (
         |  SELECT qid, nid FROM $prev
         |  UNION ALL SELECT f.qid, g.dst AS nid
         |  FROM $prev f JOIN $gFinal g ON g.src = f.nid)),
         |f$h AS MATERIALIZED (SELECT qid, nid FROM (
         |  SELECT x.qid, x.nid, row_number() OVER (PARTITION BY x.qid ORDER BY
         |    ${cos("q.qe", "n.e")} DESC, x.nid) AS rn
         |  FROM ex$h x JOIN q ON q.qid = x.qid JOIN v n ON n.vec_id = x.nid
         |  WHERE x.nid <> x.qid) WHERE rn <= $NndBeam)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |bk AS MATERIALIZED (SELECT vec_id, e,
       |  CAST('0x' || substr(md5(vec_id || ':nng'), 1, 8) AS BIGINT)
       |    % greatest($NndMinBuckets, (SELECT count(*) FROM v) // $NndBucketTarget) AS bkt
       |  FROM v),
       |np AS (SELECT CASE WHEN q <= 1 THEN 0
       |         ELSE CAST(ceil(log2(q)) AS BIGINT) END AS p
       |       FROM (SELECT ((SELECT count(*) FROM v) + ${NndBucketTarget - 1})
       |               // $NndBucketTarget AS q)),
       |pls AS (SELECT unnest(generate_series(0, (SELECT p FROM np) - 1)) AS pl),
       |dims AS (SELECT unnest(generate_series(0, len(e) - 1)) AS dim
       |         FROM (SELECT e FROM v LIMIT 1)),
       |sgn AS MATERIALIZED (SELECT pl,
       |    list(CASE WHEN substr(md5('rp:' || pl || ':' || dim), 1, 1) < '8'
       |         THEN 1.0 ELSE -1.0 END ORDER BY dim) AS sv
       |  FROM pls CROSS JOIN dims
       |  GROUP BY pl),
       |rpd AS MATERIALIZED (SELECT vec_id, pl, list_dot_product(e, sv) AS dp
       |  FROM v CROSS JOIN sgn),
       |rpb AS MATERIALIZED (SELECT v.vec_id, CAST(COALESCE(s.rbv, 0) AS BIGINT) AS rb
       |  FROM v LEFT JOIN (SELECT vec_id,
       |      sum(CASE WHEN dp > 0 THEN power(2, pl) ELSE 0 END) AS rbv
       |    FROM rpd GROUP BY vec_id) s ON s.vec_id = v.vec_id),
       |rpc AS (SELECT rb, count(*) AS c FROM rpb GROUP BY rb),
       |rps AS MATERIALIZED (SELECT vec_id, rb,
       |    CAST('0x' || substr(md5(vec_id || ':rps'), 1, 8) AS BIGINT)
       |      % greatest(1, CAST(ceil(c / ${NndBucketTarget.toDouble}) AS BIGINT)) AS sb
       |  FROM rpb JOIN rpc USING (rb)),
       |cand0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT a.vec_id AS src, c.vec_id AS dst
       |  FROM bk a JOIN bk c ON a.bkt = c.bkt AND a.vec_id <> c.vec_id
       |  UNION ALL
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM rps a JOIN rps b ON a.rb = b.rb AND a.sb = b.sb
       |    AND a.vec_id <> b.vec_id)),
       |g0 AS MATERIALIZED (SELECT src, dst FROM (
       |  SELECT c.src, c.dst,
       |    row_number() OVER (PARTITION BY c.src ORDER BY
       |      ${cos("s.e", "d.e")} DESC, c.dst) AS rn
       |  FROM cand0 c JOIN v s ON s.vec_id = c.src JOIN v d ON d.vec_id = c.dst)
       |  WHERE rn <= $NndGraphK),
       |$roundCtes,
       |lb AS MATERIALIZED (SELECT vec_id,
       |  CAST('0x' || substr(md5(vec_id || ':ll'), 1, 8) AS BIGINT)
       |    % greatest(1, (SELECT count(*) FROM v) // ${NndLongLinkTarget + 1}) AS lbk
       |  FROM v),
       |ll AS (SELECT a.vec_id AS src, c.vec_id AS dst
       |       FROM lb a JOIN lb c ON a.lbk = c.lbk AND a.vec_id <> c.vec_id),
       |ga AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM g$NndRounds UNION ALL SELECT src, dst FROM ll)),
       |ent AS (SELECT vec_id AS nid FROM v
       |        ORDER BY md5(vec_id || ':entry'), vec_id LIMIT $NndEntries),
       |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id % 40 = 0),
       |f0 AS MATERIALIZED (SELECT qid, nid FROM (
       |  SELECT x.qid, x.nid, row_number() OVER (PARTITION BY x.qid ORDER BY
       |    ${cos("q.qe", "n.e")} DESC, x.nid) AS rn
       |  FROM (SELECT q2.qid, ent.nid FROM q q2 CROSS JOIN ent) x
       |  JOIN q ON q.qid = x.qid JOIN v n ON n.vec_id = x.nid
       |  WHERE x.nid <> x.qid) WHERE rn <= $NndBeam),
       |$hopCtes,
       |vis AS (SELECT DISTINCT qid, nid FROM (
       |  SELECT qid, nid FROM f0
       |  ${(1 to NndHops).map(h => s"UNION ALL SELECT qid, nid FROM ex$h").mkString("\n  ")}))
       |SELECT qid, rank, nid, round(c, 4) AS cos FROM (
       |  SELECT x.qid, x.nid, ${cos("q.qe", "n.e")} AS c,
       |    row_number() OVER (PARTITION BY x.qid ORDER BY
       |      ${cos("q.qe", "n.e")} DESC, x.nid) AS rank
       |  FROM vis x JOIN q ON q.qid = x.qid JOIN v n ON n.vec_id = x.nid
       |  WHERE x.nid <> x.qid)
       |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin
  }

  /** The recall-audit oracle replays every audited index's EXISTING
    * oracle verbatim (wrapped as a derived table — so the two can only
    * drift together), the %40/k=3 brute-force ground truth, and the
    * intersection arithmetic. */
  private val annAuditIndexes = Seq("ivf" -> "ann_ivf",
    "ivf_nprobe" -> "ann_ivf_nprobe", "ivf_kmeans" -> "ann_ivf_kmeans",
    "int8" -> "ann_int8_rerank", "pq" -> "ann_pq", "ivfpq" -> "ann_ivfpq",
    "nnd" -> "ann_nndescent")

  /** Brute-force top-3 ground truth on the PINNED md5 query sample
    * (AnnAuditQuerySample of the %40 set) — the truth side's cost is
    * sample×corpus, not queries×corpus, and since n_hits joins
    * candidates against this frame on (qid, nid), the whole audit's
    * arithmetic restricts itself to the sampled slice. */
  private val annAuditExact3 =
    s"""SELECT qid, nid FROM (
      |  SELECT qid, v.vec_id AS nid,
      |    row_number() OVER (PARTITION BY qid ORDER BY
      |      list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e)) DESC,
      |      v.vec_id) AS rank
      |    FROM (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
      |          FROM (SELECT vec_id, embedding FROM embeddings
      |                WHERE vec_id % 40 = 0
      |                ORDER BY md5(vec_id || ':annq'), vec_id
      |                LIMIT $AnnAuditQuerySample)) q
      |    JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) v
      |      ON v.vec_id <> qid)
      |  WHERE rank <= 3""".stripMargin

  /** Final audit projection. `pqHard`: the driver-gate form hardcodes
    * TRUE for pq's ≥ 0.5 floor (a drop turns the gate red); the sf1
    * staged form replays the comparison instead — pq's cell-probe
    * top-3 recall degrades with corpus size on isotropic data by
    * design, so at scale the flag is an honest report, not a pin.
    * nnd / int8 stay hardcoded TRUE in BOTH forms (scale-invariant
    * claims the engine must keep). */
  private def annAuditFinal(pqHard: Boolean): String = {
    val rows = annAuditIndexes.map { case (nm, _) =>
      s"""SELECT '$nm' AS index_name,
         |  (SELECT count(DISTINCT qid) FROM exact3) AS n_queries,
         |  (SELECT count(*) FROM i_$nm JOIN exact3 USING (qid, nid)) AS n_hits"""
        .stripMargin
    }.mkString("\nUNION ALL ")
    val pqFlag =
      if (pqHard) "TRUE"
      else "round(CAST(n_hits AS DOUBLE) / CAST(n_queries * 3 AS DOUBLE), 4) >= 0.5"
    s"""SELECT index_name, n_queries, n_hits,
       |  round(CAST(n_hits AS DOUBLE) / CAST(n_queries * 3 AS DOUBLE), 4) AS recall,
       |  CASE index_name WHEN 'nnd' THEN TRUE WHEN 'int8' THEN TRUE
       |    WHEN 'pq' THEN $pqFlag ELSE NULL END AS recall_ok
       |FROM ($rows)
       |ORDER BY index_name""".stripMargin
  }

  private def annRecallAuditOracle: String = {
    val ctes = annAuditIndexes.map { case (nm, q) =>
      s"i_$nm AS (SELECT qid, nid FROM (\n${oracleSqlBase(q)}\n))"
    }.mkString(",\n")
    s"""WITH exact3 AS ($annAuditExact3),
       |$ctes
       |${annAuditFinal(pqHard = true)}""".stripMargin
  }

  /** Scale-gate variant of the audit oracle: each index replay runs as
    * its OWN statement into a temp table (every one of them passes the
    * sf1 gate individually, so one-at-a-time they fit by
    * construction), where the single-statement form runs all six big
    * window/cross-join pipelines in one plan and overflowed the spill
    * disk at 10×. Same replays, same arithmetic. */
  private def annRecallAuditOracleStaged: String = {
    val stages = annAuditIndexes.map { case (nm, q) =>
      s"CREATE TEMP TABLE i_$nm AS SELECT qid, nid FROM (\n${oracleSqlBase(q)}\n);"
    }.mkString("\n")
    s"""CREATE TEMP TABLE exact3 AS $annAuditExact3;
       |$stages
       |${annAuditFinal(pqHard = false)}""".stripMargin
  }

  val oracleSql: Map[String, String] =
    oracleSqlBase + ("ann_recall_audit" -> annRecallAuditOracle)

  /** SCALE-GATE oracle overrides: semantically identical to the
    * [[oracleSql]] entry of the same name, but restructured for
    * BOUNDED MEMORY so the DuckDB replay survives 10×+ corpora. Only
    * `tools/check.py` (the ScaleGate harness) consults these — the
    * driver's sf0.01 gate keeps the single-statement forms.
    *
    * bpe_train: the 6-round chained windowed-CTE replay holds every
    * round's intermediate token stream live at once (observed: OOM at
    * a 48 GB cap on the ~20M-token sf1 corpus, spill or not — DuckDB
    * cannot free a CTE another CTE still references). The staged form
    * materializes each round as a TEMP TABLE and DROPs the previous
    * round immediately, so the live set is ≤ 3 token streams at any
    * moment and every stage is independently spillable. Identical
    * per-round logic, identical result — check.py runs both forms
    * against the same Spark output at sf0.01 (with and without
    * CHECK_SCALE_ORACLES), so divergence between them fails a gate.
    */
  val oracleSqlScale: Map[String, String] = Map(
    "ann_recall_audit" -> annRecallAuditOracleStaged,
    // ann_mmr: the single-statement form's `cand`/`p` CTEs are
    // referenced by every unrolled greedy step (s1/s2/pen3/s3), and
    // DuckDB re-inlines a multiply-referenced CTE — so ONE plan holds
    // ~5 concurrent evaluations of the q×n array-carrying scored
    // cross join, and the sf1 replay spilled past the sandbox disk
    // (SCALEGATE r15: ENOSPC). The staged form materializes the
    // candidate pool ONCE (array-free: qid, nid, c), in query-hash
    // buckets so each statement's window sort is ¼ of the cross, then
    // builds the pool-sized pair table and replays the same three
    // greedy steps against the temp tables — identical arithmetic,
    // identical tie-breaks, bounded live set.
    "ann_mmr" -> {
      val cos = "list_dot_product(qe, e) / sqrt(list_dot_product(qe, qe) * list_dot_product(e, e))"
      val buckets = (0 until 4).map { b =>
        s"""INSERT INTO cand0_mmr
           |  SELECT qid, nid, c FROM (
           |    SELECT qid, v.vec_id AS nid, $cos AS c,
           |      row_number() OVER (PARTITION BY qid ORDER BY $cos DESC, v.vec_id) AS rn
           |    FROM (SELECT vec_id AS qid, e AS qe FROM v_mmr
           |          WHERE vec_id % 50 = 0 AND (vec_id // 50) % 4 = $b) q
           |    JOIN v_mmr v ON v.vec_id <> qid) WHERE rn <= 10;""".stripMargin
      }.mkString("\n")
      s"""CREATE TEMP TABLE v_mmr AS
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings;
         |CREATE TEMP TABLE cand0_mmr (qid BIGINT, nid BIGINT, c DOUBLE);
         |$buckets
         |CREATE TEMP TABLE p_mmr AS
         |  SELECT a.qid, a.nid AS da, b.nid AS db,
         |    list_dot_product(av.e, bv.e) / sqrt(list_dot_product(av.e, av.e) * list_dot_product(bv.e, bv.e)) AS pc
         |  FROM cand0_mmr a JOIN cand0_mmr b ON a.qid = b.qid AND a.nid <> b.nid
         |  JOIN v_mmr av ON av.vec_id = a.nid
         |  JOIN v_mmr bv ON bv.vec_id = b.nid;
         |CREATE TEMP TABLE s1_mmr AS SELECT qid, nid, c, mmr FROM (
         |    SELECT qid, nid, c, 0.7 * c AS mmr,
         |      row_number() OVER (PARTITION BY qid ORDER BY 0.7 * c DESC, nid) AS rn
         |    FROM cand0_mmr)
         |  WHERE rn = 1;
         |CREATE TEMP TABLE s2_mmr AS SELECT qid, nid, c, mmr FROM (
         |    SELECT c2.qid, c2.nid, c2.c, 0.7 * c2.c - (1 - 0.7) * p.pc AS mmr,
         |      row_number() OVER (PARTITION BY c2.qid ORDER BY 0.7 * c2.c - (1 - 0.7) * p.pc DESC, c2.nid) AS rn
         |    FROM cand0_mmr c2
         |    JOIN s1_mmr s1 ON c2.qid = s1.qid AND c2.nid <> s1.nid
         |    JOIN p_mmr p ON p.qid = c2.qid AND p.da = c2.nid AND p.db = s1.nid)
         |  WHERE rn = 1;
         |CREATE TEMP TABLE pen3_mmr AS
         |  SELECT p.qid, p.da, max(p.pc) AS pen FROM p_mmr p
         |  WHERE EXISTS (SELECT 1 FROM s1_mmr s1 WHERE s1.qid = p.qid AND s1.nid = p.db)
         |     OR EXISTS (SELECT 1 FROM s2_mmr s2 WHERE s2.qid = p.qid AND s2.nid = p.db)
         |  GROUP BY p.qid, p.da;
         |CREATE TEMP TABLE s3_mmr AS SELECT qid, nid, c, mmr FROM (
         |    SELECT c3.qid, c3.nid, c3.c, 0.7 * c3.c - (1 - 0.7) * pen3.pen AS mmr,
         |      row_number() OVER (PARTITION BY c3.qid ORDER BY 0.7 * c3.c - (1 - 0.7) * pen3.pen DESC, c3.nid) AS rn
         |    FROM cand0_mmr c3
         |    JOIN pen3_mmr pen3 ON pen3.qid = c3.qid AND pen3.da = c3.nid
         |    JOIN s1_mmr s1 ON c3.qid = s1.qid AND c3.nid <> s1.nid
         |    JOIN s2_mmr s2 ON c3.qid = s2.qid AND c3.nid <> s2.nid)
         |  WHERE rn = 1;
         |SELECT qid, CAST(1 AS BIGINT) AS rank, nid, round(c, 4) AS cos, round(mmr, 4) AS mmr FROM s1_mmr
         |UNION ALL SELECT qid, CAST(2 AS BIGINT), nid, round(c, 4), round(mmr, 4) FROM s2_mmr
         |UNION ALL SELECT qid, CAST(3 AS BIGINT), nid, round(c, 4), round(mmr, 4) FROM s3_mmr
         |ORDER BY qid, rank""".stripMargin
    },
    "bpe_train" -> {
      val rounds = (1 to 6).map { r =>
        val prev = s"s${r - 1}"
        s"""CREATE TEMP TABLE p$r AS SELECT doc_id, unit, seq,
           |  lead(unit) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt
           |  FROM (SELECT doc_id, unit,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq FROM $prev);
           |DROP TABLE $prev;
           |CREATE TEMP TABLE mg$r AS SELECT unit AS lhs, nxt AS rhs,
           |  CAST(count(*) AS BIGINT) AS n
           |  FROM p$r WHERE nxt IS NOT NULL
           |  GROUP BY unit, nxt ORDER BY n DESC, lhs, rhs LIMIT 1;
           |CREATE TEMP TABLE s$r AS SELECT doc_id, seq AS pos,
           |  CASE WHEN take = 1 THEN unit || ' ' || nxt ELSE unit END AS unit
           |FROM (
           |  SELECT doc_id, seq, unit, nxt, take,
           |    lag(take) OVER (PARTITION BY doc_id ORDER BY seq) AS ptake
           |  FROM (
           |    SELECT *, CASE WHEN m = 1 AND (seq - min(seq)
           |      OVER (PARTITION BY doc_id, m, isl)) % 2 = 0 THEN 1 ELSE 0 END AS take
           |    FROM (
           |      SELECT *, seq - row_number()
           |        OVER (PARTITION BY doc_id, m ORDER BY seq) AS isl
           |      FROM (
           |        SELECT doc_id, unit, seq, nxt,
           |          CASE WHEN unit = (SELECT lhs FROM mg$r)
           |                AND nxt = (SELECT rhs FROM mg$r)
           |            THEN 1 ELSE 0 END AS m FROM p$r))))
           |WHERE coalesce(ptake, 0) = 0;
           |DROP TABLE p$r;""".stripMargin
      }.mkString("\n")
      val sel = (1 to 6)
        .map(r => s"SELECT CAST($r AS BIGINT) AS merge_rank, lhs, rhs, n FROM mg$r")
        .mkString("\nUNION ALL ")
      s"""CREATE TEMP TABLE s0 AS
         |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS unit
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents);
         |$rounds
         |SELECT merge_rank, lhs, rhs, n FROM ($sel) ORDER BY merge_rank""".stripMargin
    },
    // bpe_encode: same staging rationale — 16 chained apply rounds;
    // the single-statement form holds all 16 token streams live
    "bpe_encode" -> {
      val rounds = (1 to 16).map { r =>
        val prev = s"s${r - 1}"
        s"""CREATE TEMP TABLE s$r AS SELECT doc_id, seq AS pos,
           |  CASE WHEN take = 1 THEN unit || ' ' || nxt ELSE unit END AS unit
           |FROM (
           |  SELECT doc_id, seq, unit, nxt, take,
           |    lag(take) OVER (PARTITION BY doc_id ORDER BY seq) AS ptake
           |  FROM (
           |    SELECT *, CASE WHEN m = 1 AND (seq - min(seq)
           |      OVER (PARTITION BY doc_id, m, isl)) % 2 = 0 THEN 1 ELSE 0 END AS take
           |    FROM (
           |      SELECT *, seq - row_number()
           |        OVER (PARTITION BY doc_id, m ORDER BY seq) AS isl
           |      FROM (
           |        SELECT doc_id, unit, seq,
           |          lead(unit) OVER (PARTITION BY doc_id ORDER BY seq) AS nxt,
           |          CASE WHEN unit || ' ' || lead(unit) OVER (PARTITION BY doc_id ORDER BY seq)
           |            = (SELECT pair FROM mg WHERE rnk = $r) THEN 1 ELSE 0 END AS m
           |        FROM (SELECT doc_id, unit,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq
           |          FROM $prev)))))
           |WHERE coalesce(ptake, 0) = 0;
           |DROP TABLE $prev;""".stripMargin
      }.mkString("\n")
      s"""CREATE TEMP TABLE mg AS
         |  SELECT pair, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rnk
         |  FROM (SELECT pair, count(*) AS n FROM (
         |    SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pair
         |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |    WHERE len(w) >= 2)
         |  GROUP BY pair ORDER BY n DESC, pair LIMIT 16);
         |CREATE TEMP TABLE s0 AS
         |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS unit
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents);
         |$rounds
         |CREATE TEMP TABLE vocab AS
         |  SELECT unit, CAST(row_number() OVER (ORDER BY unit) AS BIGINT) AS token_id
         |  FROM (SELECT DISTINCT unit FROM s16);
         |SELECT s.doc_id,
         |  CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY s.pos) AS BIGINT) AS seq,
         |  s.unit AS token, v.token_id
         |FROM s16 s JOIN vocab v USING (unit)
         |ORDER BY doc_id, seq""".stripMargin
    })
}
