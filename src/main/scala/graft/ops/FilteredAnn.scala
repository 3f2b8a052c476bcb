package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Rounding

/** Metadata-FILTERED vector search: the "nearest neighbors among rows
  * satisfying a predicate" query every retrieval/curation stack hits
  * (filter + vector, e.g. `lang = 'en' AND ann(top 10)`), served from
  * the persisted indexes with the standard two-regime strategy —
  * naive post-filtering alone loses recall exactly when the filter is
  * sharp, naive pre-filtering breaks graph connectivity, so production
  * stores (FAISS IDSelector, pgvector, Qdrant's planner) dispatch on
  * MEASURED SELECTIVITY:
  *
  *  - **sharp filter (selectivity ≤ bruteCut)**: exact brute-force
  *    cosine top-k over the ELIGIBLE SLICE ONLY — cost q·(s·n) with
  *    s·n small by the branch condition; recall 1.0 by construction.
  *    (The filter is the index here: when few rows qualify, scanning
  *    them exactly beats any approximate structure.)
  *  - **broad filter**: the index probe runs UNFILTERED over the full
  *    structure (routing must cross ineligible territory — pre-
  *    filtering the graph would disconnect it), OVER-FETCHES
  *    k·overFetch candidates, then post-filters to eligible ids and
  *    re-ranks; any query left with fewer than its achievable k
  *    ([[fillTarget]]) falls back to the exact leg — the "over-fetch
  *    + exact re-verify" guarantee: every query returns
  *    min(k, |eligible \ {self}|) rows, never silently fewer.
  *
  * Eligibility arrives as an ID FRAME (the caller evaluates its
  * metadata predicate wherever the metadata lives — a dimension
  * table, the doc store, a label column), so the index stays
  * metadata-agnostic and the predicate can be arbitrary SQL.
  *
  * Scale shape: the eligible frame may be corpus-scale (broad
  * filters), so it is never broadcast or collected — candidate
  * post-filtering streams it once against the BROADCAST (bounded,
  * q·k·overFetch-row) candidate frame, and the dispatch counts are
  * plain aggregates. The exact leg's corpus∩eligible semi-join is ∝ n
  * once, then the brute scan is ∝ q·s·n — bounded by the branch.
  */
object FilteredAnn {

  /** Exact cosine top-k of an external query frame `q = (qid, qv,
    * qn2)` against a corpus slice `corpus = (id, v, n2)`, via the
    * bounded [[graft.functions.TopKBy]] aggregator (map-side partial
    * top-k: the exchange carries ≤ k pairs per partition per query,
    * never the full scored stream). Self-pairs excluded. Output
    * (qid, rank, nid, cos) with cos at 4dp — [[Similarity]]'s shape. */
  def bruteTopk(corpus: DataFrame, q: DataFrame, k: Int): DataFrame =
    corpus.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"),
        Similarity.cosineWithNorms(Similarity.dot(col("qv"), col("v")),
          col("qn2"), col("n2")).as("cos"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKBy.topKBy(col("cos"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rank"),
        col("e._2").as("nid"), Rounding.r(col("e._1"), 4).as("cos"))

  /** The two-regime strategy over a persisted index's live vectors
    * `live = (id, v, n2, …)`: no rows when nothing is eligible, the
    * exact leg when at most `bruteCut` of `live` is eligible, else the
    * index's eligible-only ranked top-k, `broad(liveElig, elig)`,
    * filled exactly ([[fillExact]]). Output (qid, rank, nid, cos). */
  def overIndex(live: DataFrame, eligible: DataFrame, eligibleId: Column, q: DataFrame,
                k: Int, bruteCut: Double)(
      broad: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val elig = eligible.select(eligibleId.cast("long").as("id")).distinct()
    val liveElig = live.join(elig, Seq("id"), "left_semi")
    val nLive = live.count()
    val nElig = liveElig.count()
    val corpus = liveElig.select(col("id"), col("v"), col("n2"))
    if (nElig == 0)
      q.select(col("qid"), lit(0L).as("rank"), col("qid").as("nid"), lit(0.0).as("cos"))
        .where(lit(false))
    else if (nLive == 0 || nElig.toDouble / nLive <= bruteCut) bruteTopk(corpus, q, k)
    else fillExact(broad(liveElig, elig), corpus, q, k, nElig)
  }

  /** Post-filter a bounded candidate frame `cand = (qid, nid, cos)`
    * to eligible ids and re-rank to top-k. `elig` may be corpus-scale:
    * it streams once against the broadcast candidates (inner join on
    * nid), so no corpus-sized frame is ever broadcast. */
  def postFilterTopk(cand: DataFrame, elig: DataFrame, k: Int): DataFrame = {
    val kept = elig.select(col("id").as("nid"))
      .join(broadcast(cand), Seq("nid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("nid").asc)
    kept.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"),
        col("nid"), col("cos"))
  }

  /** The fill-guarantee combinator: per query, the achievable result
    * size is min(k, |eligible| − [qid ∈ eligible]) (self never
    * returns); queries whose post-filtered index results fall short
    * re-run on the EXACT leg over the eligible slice (their index
    * rows are REPLACED, keeping ranks exact), the rest keep their
    * index rows. `indexTopk` must already be eligible-only and
    * ranked. Fallback cost ∝ weak queries · |eligible| — rare on the
    * broad-filter branch this serves (over-fetch covers the fill),
    * bounded when it isn't. */
  def fillExact(indexTopk: DataFrame, corpusElig: DataFrame,
                q: DataFrame, k: Int, nElig: Long): DataFrame = {
    val got = indexTopk.groupBy(col("qid")).agg(count(lit(1)).as("got"))
    val selfIn = q.select(col("qid"))
      .join(corpusElig.select(col("id").as("qid")), Seq("qid"), "left_semi")
      .withColumn("self1", lit(1L))
    val weak = q.select(col("qid"))
      .join(broadcast(selfIn), Seq("qid"), "left").na.fill(0L, Seq("self1"))
      .join(broadcast(got), Seq("qid"), "left").na.fill(0L, Seq("got"))
      .where(col("got") <
        least(lit(k.toLong), lit(nElig) - col("self1")))
      .select(col("qid"))
    val strong = indexTopk.join(broadcast(weak), Seq("qid"), "left_anti")
    val qWeak = q.join(broadcast(weak), Seq("qid"), "left_semi")
    strong.unionByName(bruteTopk(corpusElig, qWeak, k))
  }
}
