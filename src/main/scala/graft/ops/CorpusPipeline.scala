package graft.ops

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus build: normalize → token/language gate → exact
  * dedup → near-dup pair graph → duplicate clusters → representative
  * selection → deterministic split. q62 runs it with the exact
  * n-gram-Jaccard pair generator (oracle-checkable in DuckDB); q69 runs
  * the SAME pipeline with MinHash+LSH pairs — the variant a 100 TB build
  * actually executes, where exact shingle-intersection counting is the
  * one stage you would never run at corpus scale
  * (`CorpusPipelineSpec` proves both variants keep the same documents on
  * the sf0.01 corpus at a realistic near-dup threshold).
  *
  * Cost discipline, in pipeline order:
  *   - the corpus is tokenized ONCE — the token array from the quality
  *     gate feeds langId, the token counts, and (via `tokensCol`) the
  *     shingle/minhash stages, instead of re-splitting the text per
  *     consumer (interpreted higher-order lambdas are never CSE'd);
  *   - exact dedup shuffles IDS, not documents: an id-only
  *     `min(id)`/`count(*)` aggregation per content hash plus a
  *     join-back on the id ([[keepMinPerHash]]) — the corpus text never
  *     rides through the hash Exchange; over a content-hash-bucketed
  *     staging table ([[Dedup.writeHashBucketed]]) the aggregation
  *     plans with zero Exchange;
  *   - per-hash duplicate counts ride along as a column, so the
  *     gate/keep/final row counters are all `observe()` metrics of the
  *     single action that runs the pipeline — no extra jobs
  *     ([[graft.pipeline.ObservedMetricsLog]] surfaces them).
  */
object CorpusPipeline {

  /** q47's normalization: lowercase, strip control chars, collapse runs
    * of spaces. */
  def normalize(text: Column): Column =
    regexp_replace(
      regexp_replace(lower(trim(text)), "[\\x00-\\x1F\\x7F]", " "),
      "  +", " ")

  /** Exact-dedup keep set: every row whose `idCol` is the minimum of its
    * `hashCol` group, plus the group size as `__n_dupes`.
    *
    * PRECONDITION: `idCol` is unique and non-null across `df` (true for
    * every corpus frame this pipeline builds). A duplicated id would
    * multiply rows through the join-back; an all-null-id hash group
    * would aggregate to a null min and drop at the equi-join — neither
    * matches the one-row-per-hash contract, so don't feed such frames.
    *
    * Shuffle discipline: the aggregation is ID-ONLY — `min(id)` +
    * `count(*)` per hash — so the Exchange moves (hash, id, count)
    * triples, never the document text or token arrays. The keep set is
    * then joined back on `idCol` to recover the full rows. Catalyst
    * broadcasts that join when stats allow (always at verify scale); at
    * corpus scale the keep set is one (id, count) row per UNIQUE
    * document — beyond broadcast range — and the join degrades to an
    * id-keyed shuffle, which is still the right trade: the id Exchange
    * moves each kept document once, where the `min_by(struct(*))`
    * single-aggregation alternative pushes the ENTIRE corpus (dupes
    * included) through the hash Exchange AND buffers full rows in the
    * aggregation map. Grouping on a materialized `content_hash`
    * column of a [[Dedup.writeHashBucketed]] staging table satisfies the
    * aggregate's required distribution straight from the scan, so the
    * dedup stage plans with ZERO content-hash Exchange
    * (`CorpusPipelineSpec` pins both claims). */
  def keepMinPerHash(df: DataFrame, idCol: String, hashCol: Column): DataFrame = {
    val keep = df.groupBy(hashCol)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("__n_dupes"))
      .select(col(idCol), col("__n_dupes"))
    df.join(keep, Seq(idCol))
  }

  /** Run the pipeline over `docs` (doc_id, lang, text).
    *
    * `pairGen` sees the staged keep set — columns (doc_id, lang,
    * norm_text, __w, n_tokens, lang_pred, __n_dupes) — and returns the
    * near-dup pair graph as (doc_a, doc_b, ...); pass the token array
    * `__w` as `tokensCol` to the shingle-based generators to reuse the
    * gate's tokenization.
    *
    * `clusterer` turns that pair graph into (doc, cluster) labels,
    * cluster = the component's min id; the default is
    * [[Dedup.duplicateClusters]] (one union-find contraction pass, plus
    * min-label rounds only when the graph spans several partitions).
    * Only non-representatives (doc ≠ cluster) are consumed, so any
    * clusterer honoring the component-min contract slots in — a caller
    * passes its own to set `maxIter` or a conf scope.
    *
    * Observability: the returned frame carries three named `observe()`
    * metric sets — `corpus_keep` (rows_kept + rows_gated, the latter
    * recovered as sum(__n_dupes) so it costs no extra pass),
    * `corpus_final` (rows_final) — collected during whatever action the
    * caller runs; register an [[graft.pipeline.ObservedMetricsLog]] to
    * land them in a RunLog. They sit ABOVE the staged cache in the
    * final action's plan: metrics buried inside a cached subtree are
    * invisible to `QueryExecution.observedMetrics`, so the gate count
    * is carried through the aggregation instead of observed in place.
    *
    * `carry` names extra `docs` columns to thread THROUGH the gates to
    * the output — typed asset metadata (a [[graft.multimodal.Multimodal]]
    * decode's length/brightness/features), source tags, url… The columns
    * ride the same rows through gate/dedup/cluster/split, so a dropped
    * document drops its asset columns with it — multimodal columns
    * compose with the pipeline instead of living beside it (q95).
    *
    * `keepScore` selects the near-dup representative policy: `None`
    * (default) keeps each cluster's min-id member — label algebra, an
    * id-only anti-join, no window; `Some(score)` keeps the
    * highest-scoring member per cluster ([[Dedup.keepBestPerCluster]]'s
    * policy — q107 — e.g. `col("n_tokens")` for longest-copy), paying
    * one by-cluster window over id-level rows. Supply an integer or
    * pre-rounded score (the cross-engine ranking discipline). */
  def run(docs: DataFrame,
          pairGen: DataFrame => DataFrame,
          minTokens: Int = 5,
          splits: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          clusterer: (DataFrame, String, String) => DataFrame =
            Dedup.duplicateClusters(_, _, _),
          carry: Seq[String] = Nil,
          keepScore: Option[Column] = None)
         : DataFrame = {
    // fanned out BEFORE the normalize: the whole gate chain (regex
    // normalize + tokenize + interpreted langId lambdas — the most
    // expensive per-row work in the pipeline) otherwise runs at the
    // input layout's width, ONE task on a single-file fixture scan
    // (no-op on cluster layouts; see Skew.fanOutForCpu)
    val norm = Skew.fanOutForCpu(docs, Seq(col("doc_id")))
      .select(col("doc_id") +: col("lang") +:
        normalize(col("text")).as("norm_text") +: carry.map(col): _*)
    // staged: the gate chain feeds BOTH sides of keepMinPerHash's
    // join-back (the id-only aggregate and the full-row probe); without
    // the pin it runs twice.
    // The gate FILTER sits ABOVE the staging cut (r12): filtering inside
    // the staged subtree let Catalyst push the predicate down past the
    // derived columns by re-substituting the full tokenize+langId chain
    // into a scan-side Filter over raw text — every row paid the chain
    // TWICE, serialized on the scan task below the fan-out's exchange
    // (which is why the r11 fan-out trial measured neutral: the
    // duplicated pushed-down chain stayed single-task). The checkpoint
    // boundary is a pushdown barrier, so the chain now runs exactly once
    // per row at fan width, and the filter reads the materialized
    // n_tokens/lang_pred columns. Trade (documented): the staged blocks
    // hold gated-out rows too — storage for CPU, the right trade for a
    // chain this expensive; the r11 alternatives (rand() barrier,
    // pre-filter cache) measured 2.5-4x WORSE, see OPTIMIZATION_r11.md.
    val gateAll = Staged.stageCut(norm
      .withColumn("__w", TextFunctions.tokens(col("norm_text")))
      .withColumn("n_tokens", size(col("__w")).cast("long"))
      .withColumn("lang_pred", TextFunctions.langIdFromTokens(col("__w"))))
    val gated = gateAll
      .filter(col("n_tokens") >= minTokens && col("lang_pred") =!= "und")
    // staged: the keep set feeds BOTH the pair-graph branch and the
    // final representative anti-join
    val keep = Staged.stageCut(keepMinPerHash(gated, "doc_id", md5(col("norm_text"))))
    val clusters = clusterer(pairGen(keep), "doc_a", "doc_b")
    val keepObserved = keep.observe("corpus_keep",
      count(lit(1)).as("rows_kept"),
      sum(col("__n_dupes")).as("rows_gated"))
    val reps = keepScore match {
      case None =>
        // min-id policy: the cluster LABEL is the keeper, so dropping
        // non-representatives is an id-only anti-join — no window
        keepObserved.join(
          clusters.filter(col("doc") =!= col("cluster")).select(col("doc").as("doc_id")),
          Seq("doc_id"), "left_anti")
      case Some(score) =>
        // score policy: label every kept doc (singletons label
        // themselves), rank by (score desc, id) within the cluster —
        // the one by-cluster window carries id-level rows only
        val labeled = keepObserved
          .join(clusters.withColumnRenamed("doc", "doc_id"), Seq("doc_id"), "left_outer")
          .withColumn("__cl", coalesce(col("cluster"), col("doc_id")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__cl").orderBy(score.desc, col("doc_id"))
        labeled.withColumn("__krn", row_number().over(w))
          .filter(col("__krn") === 1)
          .drop("__cl", "cluster", "__krn")
    }
    Sampling.splitByHash(
      reps.select("doc_id", ("lang" +: "lang_pred" +: "n_tokens" +: carry): _*),
      "doc_id", splits)
      .observe("corpus_final", count(lit(1)).as("rows_final"))
  }
}
