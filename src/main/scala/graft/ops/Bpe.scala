package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.graftshim.DatasetShim
import graft.functions.BpeEncode

/** BPE tokenizer APPLY over word-level units: derive a rank-ordered
  * merge table from corpus pair counts (C34), replace ranked pairs
  * greedily per document, and assign deterministic token ids from the
  * post-merge vocabulary — the encode step every training pipeline
  * runs between raw text and token-id sequences.
  *
  * Scale shape:
  *  - the merge table is a TOP-K driver fetch (k rows, like the
  *    centroid fetches in ops.Similarity) — never row-scale;
  *  - encoding is one row-local native expression inside whole-stage
  *    codegen ([[graft.functions.BpeEncode]]) — the table ships with
  *    the task closure, no join, no shuffle of text;
  *  - the vocabulary is aggregated to VOCAB cardinality before its
  *    single-partition id numbering (distinct-first, like
  *    ops.Mixture's stratum aggregation), then joins back
  *    broadcast-eligible (AQE size-gates).
  */
object Bpe {

  /** Rank-ordered merge table: top-k adjacent word pairs by
    * (count desc, pair asc) — C34's statistic, made actionable.
    * Engine-deterministic (total tie order), replayable in SQL. */
  def mergeTable(df: DataFrame, text: Column, k: Int): Seq[(String, String)] =
    TextAnalysis.bpePairCounts(df, text, k).select(col("pair"))
      .collect().map { r =>
        val p = r.getString(0)
        val cut = p.indexOf(' ')
        (p.substring(0, cut), p.substring(cut + 1))
      }.toSeq

  /** Apply a merge table to a words-array column (row-local). */
  def encode(words: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeEncode(DatasetShim.expression(words), merges))

  /** TRUE iterative BPE TRAINING (Sennrich et al. 2016's loop): round
    * r recounts adjacent pairs on the corpus AS TOKENIZED BY merges
    * 1..r−1 and adopts the argmax — unlike [[mergeTable]], which ranks
    * one static count pass (the first round only). Rank-greedy encode
    * replays training states, so round r's corpus is
    * `encode(text, merges.take(r−1))` — no materialized intermediate.
    *
    * Pairs are keyed by the (left, right) UNIT STRUCT, never a joined
    * string: once merged units contain spaces, "a b c" is ambiguous
    * between ("a b", c) and (a, "b c"). Ties order by
    * (count desc, left, right) — engine-total.
    *
    * Returns (rank, left, right, count); stops early if the corpus
    * runs out of adjacent pairs. Driver loop ∝ rounds, each one
    * row-local encode + pair explode + hash aggregation + a 1-ROW
    * fetch (the kmeansLloydSeeded trainer contract); nothing row-scale
    * ever reaches the driver.
    */
  def trainMerges(df: DataFrame, text: Column,
                  rounds: Int): Seq[(Long, String, String, Long)] = {
    require(rounds > 0, "rounds must be positive")
    val out = Seq.newBuilder[(Long, String, String, Long)]
    var merges = Vector.empty[(String, String)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // NOT repartitioned before the per-round re-encode (r18,
      // measured): the encode is cheap relative to a per-round corpus
      // shuffle — locally the added exchange per round was a wash or
      // worse, and at scale it would be a full extra shuffle per
      // training round
      val top = df.select(encode(split(text, " "), merges).as("w"))
        .where(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => struct(element_at(col("w"), i).as("l"),
            element_at(col("w"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r.toLong, l, rr, n))
        merges = merges :+ (l -> rr)
        r += 1
      }
    }
    out.result()
  }

  /** Encode each document and explode to one row per token with a
    * deterministic id: (doc_id, seq, token, token_id), ids dense
    * 1..|vocab| in token lexicographic order.
    *
    * The id assignment is a BUCKETED numbering, not a global sort
    * (the curriculumOrder construction, ops/TextAnalysis.scala): the
    * distinct vocabulary is range-bucketed by its 2-char token prefix
    * — a key MONOTONE in the token's binary order, since UTF-8 byte
    * order equals code-point order and a prefix difference decides
    * the full comparison — numbered per bucket by a PARTITIONED
    * row_number, and shifted by broadcast cumulative bucket offsets.
    * There is NO unpartitioned window anywhere in the plan (the
    * BpePlanSpec assertion): each bucket's numbering is a streaming
    * row_number over its own hash partition, and the offsets are a
    * driver cumsum over the distinct-PREFIX count frame (thousands of
    * rows on any real corpus — a merge-table-class fetch), never the
    * 10⁸-10⁹-token web-scale vocabulary. For even bigger
    * vocabularies, lengthen the prefix — the construction is
    * unchanged.
    */
  def encodeWithIds(df: DataFrame, id: Column, text: Column,
                    merges: Seq[(String, String)]): DataFrame = {
    val toks = df
      .select(id.cast("long").as("doc_id"), encode(split(text, " "), merges).as("ts"))
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("seq0", "token")))
      .select(col("doc_id"), (col("seq0") + 1).cast("long").as("seq"), col("token"))
    val distinctToks = toks.select(col("token")).distinct()
      .withColumn("bkt", substring(col("token"), 1, 2))
    // Bucket offsets are a PREFIX-cardinality fetch (one count row per
    // distinct 2-char prefix — a merge-table-class driver fetch, never
    // row-scale) cumulated on the driver in UTF-8 BYTE order, the same
    // binary comparison Spark's string sort and the DuckDB oracle use
    // (Java String.compareTo is UTF-16 order and disagrees on
    // supplementary code points — so compare the encoded bytes).
    val prefixOrd: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bktCounts = distinctToks.groupBy(col("bkt"))
      .agg(count(lit(1)).as("n_bkt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(prefixOrd)
    var acc = 0L
    val offsetRows = bktCounts.map { case (b, n) => val o = acc; acc += n; (b, o) }
    val offsets = df.sparkSession
      .createDataFrame(offsetRows.toSeq).toDF("bkt", "offset")
    val vocab = distinctToks.join(broadcast(offsets), "bkt")
      .withColumn("token_id", (col("offset") +
        row_number().over(Window.partitionBy(col("bkt"))
          .orderBy(col("token")))).cast("long"))
      .select(col("token"), col("token_id"))
    toks.join(vocab, Seq("token"))
      .select(col("doc_id"), col("seq"), col("token"), col("token_id"))
  }
}
