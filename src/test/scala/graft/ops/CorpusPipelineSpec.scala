package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._

/** Pins the two scale claims of [[CorpusPipeline]]:
  *
  *   1. the MinHash+LSH-fed pipeline (q69) keeps exactly the same
  *      documents as the exact-Jaccard-fed pipeline (q62's generator) at
  *      the 0.5 operating threshold on the sf0.01 corpus — the premise
  *      that lets q69 carry a full DuckDB hash oracle instead of a
  *      rows-only check;
  *   2. [[CorpusPipeline.keepMinPerHash]] never moves the corpus through
  *      a content-hash Exchange: the aggregation is id-only, and over a
  *      [[Dedup.writeHashBucketed]] staging table it plans with zero
  *      Exchange straight from the bucketed scan.
  */
class CorpusPipelineSpec extends SparkSpec {

  test("keepMinPerHash: min id per hash survives with group size, ids shuffle, documents don't") {
    import spark.implicits._
    val df = Seq(
      (3L, "aaa", "p"), (1L, "aaa", "q"), (7L, "aaa", "r"),
      (2L, "bbb", "s"), (9L, "ccc", "t"))
      .toDF("doc_id", "txt", "extra")
    val kept = CorpusPipeline.keepMinPerHash(df, "doc_id", md5(col("txt")))
    assert(kept.columns.toSeq === Seq("doc_id", "txt", "extra", "__n_dupes"))
    assert(kept.sort("doc_id").as[(Long, String, String, Long)].collect().toSeq ===
      Seq((1L, "aaa", "q", 3L), (2L, "bbb", "s", 1L), (9L, "ccc", "t", 1L)))
    // the only hash-grouped subtree is the id-only aggregate: no struct
    // of the full row rides through an aggregation buffer
    val plan = kept.queryExecution.explainString(SimpleMode)
    assert(!plan.contains("min_by"), plan)
  }

  test("MinHash-fed pipeline (q69) keeps the same documents as the exact-fed pipeline at threshold 0.5") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    def run(pairGen: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            clusterer: (org.apache.spark.sql.DataFrame, String, String) =>
              org.apache.spark.sql.DataFrame = Dedup.duplicateClusters(_, _, _)) =
      Staged.withStaged {
        CorpusPipeline.run(docs, pairGen, clusterer = clusterer)
          .collect().map(_.toSeq).toSet
      }
    val exactFed = run(_.transform(Dedup.ngramJaccardPairs(
      "doc_id", "norm_text", 3, 0.5, tokensCol = Some("__w"))))
    val minhashFed = run(_.transform(Dedup.minhashLshPairs(
      "doc_id", "norm_text", 3, 64, 4, 0.5, tokensCol = Some("__w"))))
    assert(exactFed.nonEmpty)
    assert(minhashFed === exactFed)
    // a caller's own clusterer slots in without changing the corpus: with
    // AQE coalescing off the pair graph keeps several partitions, so the
    // clusterer runs its quotient rounds instead of the one-pass answer
    val severalPartitions = (g: org.apache.spark.sql.DataFrame, a: String, b: String) => {
      val k = "spark.sql.adaptive.coalescePartitions.enabled"
      val prev = spark.conf.getOption(k)
      spark.conf.set(k, "false")
      try Dedup.duplicateClusters(g, a, b)
      finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    val quotientFed = run(_.transform(Dedup.minhashLshPairs(
      "doc_id", "norm_text", 3, 64, 4, 0.5, tokensCol = Some("__w"))),
      clusterer = severalPartitions)
    assert(quotientFed === exactFed)
  }

  test("keepScore policy (q109's hook): clusters keep their longest member, survivor count matches min-id") {
    import spark.implicits._
    Staged.withStaged {
      // 10/11 near-dup (11 one word longer); 30 unrelated; all pass gates
      val base = "the quick brown fox jumps over the lazy dog tonight"
      val docs = Seq(
        (10L, "en", base),
        (11L, "en", base + " again"),
        (30L, "en", "a completely different story about catalyst plans and the physical execution of a query")
      ).toDF("doc_id", "lang", "text")
      val gen = (keep: org.apache.spark.sql.DataFrame) =>
        keep.transform(Dedup.ngramJaccardPairs("doc_id", "norm_text", 3, 0.3,
          tokensCol = Some("__w")))
      val minId = CorpusPipeline.run(docs, gen)
        .select("doc_id").as[Long].collect().toSet
      val best = CorpusPipeline.run(docs, gen, keepScore = Some(col("n_tokens")))
        .select("doc_id").as[Long].collect().toSet
      assert(minId === Set(10L, 30L))  // label algebra keeps the min id
      assert(best === Set(11L, 30L))   // policy keeps the LONGEST copy
      assert(minId.size === best.size) // same one-per-cluster census
    }
  }

  test("carry columns thread through the gates and drop with their document (q95's hook)") {
    import spark.implicits._
    val docs = Seq(
      // two exact duplicates (min id 1 kept), one short doc (gated out),
      // one distinct survivor — each with its own asset metadata
      (1L, "en", "the quick brown fox jumps over the lazy dog", 101L),
      (2L, "en", "the quick brown fox jumps over the lazy dog", 102L),
      (3L, "en", "too short", 103L),
      (4L, "en", "a completely different document about the catalyst optimizer", 104L)
    ).toDF("doc_id", "lang", "text", "asset_len")
    val out = Staged.withStaged {
      CorpusPipeline.run(docs,
        keep => keep.transform(Dedup.ngramJaccardPairs(
          "doc_id", "norm_text", 3, 0.9, tokensCol = Some("__w"))),
        carry = Seq("asset_len"))
        .select("doc_id", "asset_len").as[(Long, Long)].collect().toMap
    }
    // the carried column survives exactly on surviving docs, value intact
    assert(out === Map(1L -> 101L, 4L -> 104L))
    // and without `carry` the output schema is unchanged (q62 unaffected)
    val plain = Staged.withStaged {
      CorpusPipeline.run(docs,
        keep => keep.transform(Dedup.ngramJaccardPairs(
          "doc_id", "norm_text", 3, 0.9, tokensCol = Some("__w"))))
    }
    assert(plain.columns.toSeq === Seq("doc_id", "lang", "lang_pred", "n_tokens", "split"))
  }

  test("keepMinPerHash over a hash-bucketed staging table: zero content-hash Exchange") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
    try {
      Dedup.writeHashBucketed(docs, "doc_id", "text", "graft_cp_staged", 8)
      val kept = CorpusPipeline.keepMinPerHash(
        spark.table("graft_cp_staged"), "doc_id", col("content_hash"))
      val plan = kept.queryExecution.explainString(SimpleMode)
      // the bucketed scan satisfies the aggregate's distribution: the
      // corpus rows are NEVER exchanged on the content hash
      assert(!plan.contains("Exchange hashpartitioning(content_hash"), plan)
      // same keep set as the md5-on-the-fly path over the raw frame
      val direct = CorpusPipeline.keepMinPerHash(docs, "doc_id", md5(col("text")))
        .select("doc_id", "__n_dupes")
      val staged = kept.select("doc_id", "__n_dupes")
      assert(direct.exceptAll(staged).count() === 0 &&
        staged.exceptAll(direct).count() === 0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_cp_staged")
  }

  test("boilerplate strip composes BEFORE the gates (q133): stripped docs gate out or fold as exact dupes") {
    import spark.implicits._
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val banner = toks("nav", 8)                        // shared across 3 docs → stripped
    val bodyA = "the a of and to in is that " + toks("x", 8)
    val docs = Seq(
      // docs 1/2: same body, different banner POSITION — exact dupes
      // only AFTER the strip (body chunks have df 2: kept at maxDf 2)
      (1L, "en", banner + " " + bodyA),
      (2L, "en", bodyA + " " + banner),
      // doc 3: banner + 3 tokens — below minTokens once stripped
      (3L, "en", banner + " the a of"),
      // doc 4: clean control with its OWN body (every chunk df 1 —
      // sharing docs 1/2's stopword chunk would raise that chunk to
      // df 3 and strip the stopwords out of all three)
      (4L, "es", "el la de que y los una si " + toks("y", 8))
    ).toDF("doc_id", "lang", "text")
    def build(input: org.apache.spark.sql.DataFrame) = Staged.withStaged {
      CorpusPipeline.run(input,
        keep => keep.transform(Dedup.ngramJaccardPairs(
          "doc_id", "norm_text", 3, 0.9, tokensCol = Some("__w"))))
        .select("doc_id").as[Long].collect().toSet
    }
    val unstripped = build(docs)
    assert(unstripped === Set(1L, 2L, 3L, 4L),
      s"without the strip everything survives: $unstripped")
    // maxDf = 2: the banner (df 3) strips everywhere, the body docs 1/2
    // share (df 2) survives — at maxDf = 1 the shared body would strip
    // too (two docs sharing ANY chunk lose it; that's the line-dedup
    // semantics, exercised in DedupSpec)
    val cleaned = docs
      .transform(Dedup.stripFrequentChunksText("doc_id", "text", 8, 2))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
    val stripped = Staged.withStaged { build(cleaned) }
    // doc 2 folds into doc 1 (exact dupes once the differently-PLACED
    // banner vanishes); doc 3 gates out (< 5 tokens); doc 4 untouched
    assert(stripped === Set(1L, 4L), s"got $stripped")
  }
}
