package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental corpus dedup: fold a batch of new documents into an
  * already-deduplicated corpus without re-pairing the corpus against
  * itself — at 100 TB you never rebuild from scratch; every daily crawl
  * lands through this path.
  *
  * `base` is the kept output of a previous run (exact + near-dup dedup,
  * e.g. [[dedupCorpus]] or a previous [[dedupDelta]]); `fresh` is the new
  * batch. Stages:
  *
  *   1. exact: keep min(id) per content hash WITHIN fresh
  *      ([[CorpusPipeline.keepMinPerHash]]), then drop fresh docs whose
  *      hash already exists in base (hash anti-join — base's md5 set is
  *      the only base-sized structure touched, and it's hashes + nothing
  *      else);
  *   2. near-dup: [[Dedup.ngramJaccardPairsDelta]] pairs fresh survivors
  *      against base ∪ fresh — the probe side is delta-sized;
  *   3. cluster: [[Dedup.duplicateClusters]] over those pairs, dropping
  *      every non-minimum member — including BASE docs when a fresh
  *      bridge merges two base clusters (retroactive removal keeps the
  *      result consistent with a rebuild). The delta's pair graph is
  *      delta-sized, so it usually fits one partition and is labelled
  *      by the clusterer's single union-find pass, with no rounds.
  *
  * ≡-to-rebuild contract (proved by `IncrementalDedupSpec`, demonstrated
  * corpus-wide by q74's full-rebuild oracle): assuming ids are assigned
  * monotonically (every base id < every fresh id — true of any
  * append-only ingest), the result equals a full rebuild over
  * base-origin ∪ fresh whenever every document the previous runs removed
  * was DIRECTLY connected to its surviving representative (star-shaped
  * clusters — what exact-duplicate and copy-edit corpora produce). For a
  * chain topology a…b…c where b was removed and a new doc d is near-dup
  * to b but not to a, the rebuild reaches d through b while the
  * incremental graph (which no longer contains b) may keep d — the
  * incremental result is then a SUPERSET of the rebuild's, never a
  * subset: removed docs only ever shrink the reachable edge set.
  *
  * Output: the kept rows of base ∪ fresh, base schema. */
object IncrementalDedup {

  /** Full-rebuild twin (the contract [[dedupDelta]] is incremental
    * against): exact dedup then near-dup cluster removal over one frame.
    * This is q61/q62's dedup semantics packaged standalone: keep min(id)
    * per md5(text), pair at `threshold`, drop cluster non-minima. */
  def dedupCorpus(idCol: String, textCol: String, n: Int, threshold: Double)
                 (docs: DataFrame): DataFrame = {
    val exact = Staged.stage(
      CorpusPipeline.keepMinPerHash(docs, idCol, md5(col(textCol)))
        .drop("__n_dupes"))
    val pairs = Dedup.ngramJaccardPairs(idCol, textCol, n, threshold)(exact)
    val drop = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .filter(col("doc") =!= col("cluster")).select(col("doc").as(idCol))
    exact.join(drop, Seq(idCol), "left_anti")
  }

  def dedupDelta(idCol: String, textCol: String, n: Int, threshold: Double)
                (base: DataFrame, fresh: DataFrame): DataFrame = {
    val cols = base.columns.map(col).toSeq
    // THREE plan branches read the base corpus (its hash set below, the
    // delta pair generator's shingle side, and the final union) — when
    // the caller hands a derived frame (q74 chains a whole dedupCorpus
    // run here), each branch would re-run that derivation. One persist
    // pins it; base-sized but so is the union output this returns.
    val b = Staged.stageCut(base.select(cols: _*))
    val freshExact = Staged.stage(
      CorpusPipeline.keepMinPerHash(fresh.select(cols: _*), idCol, md5(col(textCol)))
        .drop("__n_dupes")
        .withColumn("__h", md5(col(textCol)))
        .join(b.select(md5(col(textCol)).as("__h")).distinct(), Seq("__h"), "left_anti")
        .drop("__h"))
    val pairs = Dedup.ngramJaccardPairsDelta(idCol, textCol, n, threshold)(
      b, freshExact)
    val drop = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .filter(col("doc") =!= col("cluster")).select(col("doc").as(idCol))
    b.unionByName(freshExact).join(drop, Seq(idCol), "left_anti")
  }
}
