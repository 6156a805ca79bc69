package graft.ops

import graft.functions.Num
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Deduplication operators for the LLM-data-pipeline north star:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Design for 100 TB: every variant reduces the candidate space *before*
  * any pairwise work — exact dedup is one hash shuffle; MinHash/LSH and
  * SimHash only compare documents that collide in a band/bucket; the
  * pairwise verify joins are equi-joins on the bucket key so Catalyst
  * plans ordinary shuffled hash joins (no cross product ever).
  */
object Dedup {

  /** Exact dedup on content hash: keep min(id) per md5(text).
    * One shuffle (groupBy md5) — the canonical web-scale first pass. */
  def exact(idCol: String, textCol: String)(df: DataFrame): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Stage a corpus for SHUFFLE-FREE exact dedup: materialize the content
    * hash and bucket the table by it at write time. Every later pass that
    * clusters on `content_hash` — the dedup aggregation itself
    * ([[exactBucketed]]), incremental anti-joins of a new batch against
    * the staged corpus, cross-snapshot joins — then plans with NO
    * Exchange, because the scan's HashPartitioning(content_hash,
    * nBuckets) already satisfies the required distribution. This is the
    * 100 TB dedup layout: pay the hash shuffle once at ingest, never
    * again (`BucketedDedupSpec` proves the zero-Exchange plans). */
  def writeHashBucketed(df: DataFrame, idCol: String, textCol: String,
                        table: String, nBuckets: Int): Unit =
    // repartition by the bucket key first (the hash IS the bucket
    // spec's), so each task writes exactly one bucket file instead of
    // one per bucket it sees — see Similarity.writeBucketed's r12 note
    // on the per-file chmod-fork storm this avoids on many-file writes
    df.withColumn("content_hash", md5(col(textCol)))
      .repartition(nBuckets, col("content_hash"))
      .write.mode("overwrite").bucketBy(nBuckets, "content_hash")
      .sortBy("content_hash").saveAsTable(table)

  /** Exact dedup over a [[writeHashBucketed]] staging table: output-
    * identical to [[exact]] on the same rows, zero shuffles. */
  def exactBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                    idCol: String): DataFrame =
    spark.table(table).groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Exploded distinct n-word shingles as (doc, shingle) rows — the
    * typed flatMap twin of [[graft.functions.TextFunctions.shingles]]
    * (output-identical, tested). The expression version costs ~10× more
    * here: per-position higher-order lambdas are interpreted, while this
    * is a tight JVM sliding window. The typed fast path needs a concrete
    * encoder, so it runs only for bigint ids (the engine's id shape);
    * any other id type falls back to the expression explode with
    * identical semantics. Null text yields no rows on both paths. */
  def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.select(col(idCol).as("doc"), col(textCol).as("text"))
          .as[(Long, String)]
          .flatMap { case (id, text) =>
            if (text == null) Iterator.empty
            else {
              val ws = text.trim.split("\\s+").iterator.filter(_.nonEmpty).toArray
              if (ws.length < n) Iterator.empty
              else ws.sliding(n).map(_.mkString(" ")).toSet.iterator
                .map((s: String) => (id, s))
            }
          }.toDF("doc", "shingle")
      case _ =>
        df.select(col(idCol).as("doc"), explode(shingles(col(textCol), n)).as("shingle"))
    }
  }

  /** [[explodedShingles]] over a pre-tokenized array column — the reuse
    * path for pipelines whose earlier stages (quality gate, langId)
    * already materialized the token array: shingling from it skips a
    * full re-tokenize pass over the corpus. Same typed fast path /
    * expression fallback split, same output (spec-pinned). */
  def explodedShinglesFromTokens(df: DataFrame, idCol: String,
                                 tokensCol: String, n: Int): DataFrame = {
    import df.sparkSession.implicits._
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.select(col(idCol).as("doc"), col(tokensCol).as("toks"))
          .as[(Long, Seq[String])]
          .flatMap { case (id, toks) =>
            if (toks == null || toks.length < n) Iterator.empty
            else toks.sliding(n).map(_.mkString(" ")).toSet.iterator
              .map((s: String) => (id, s))
          }.toDF("doc", "shingle")
      case _ =>
        df.select(col(idCol).as("doc"),
          explode(shinglesFromTokens(col(tokensCol), n)).as("shingle"))
    }
  }

  /** Shingle rows for the pair generators: from the pre-tokenized array
    * when the caller has one, from the raw text otherwise. */
  private def shingleRows(df: DataFrame, idCol: String, textCol: String,
                          tokensCol: Option[String], n: Int): DataFrame =
    tokensCol match {
      case Some(tc) => explodedShinglesFromTokens(df, idCol, tc, n)
      case None => explodedShingles(df, idCol, textCol, n)
    }

  /** Exact n-word-shingle Jaccard near-dup pairs.
    * Plan: explode distinct shingles → self equi-join on shingle (only
    * docs sharing ≥1 shingle ever meet) → per-pair intersection count →
    * Jaccard via |A|+|B|-inter. Output: (doc_a, doc_b, jaccard) with
    * doc_a < doc_b and jaccard >= threshold.
    * Scale: the shingle join is the standard inverted-index trick; hot
    * shingles (stopword n-grams) can skew — cap them with a document
    * frequency filter (maxDf) exactly like search engines drop stop terms.
    */
  def ngramJaccardPairs(idCol: String, textCol: String, n: Int,
                        threshold: Double, maxDf: Long = 1000L,
                        tokensCol: Option[String] = None)
                       (df: DataFrame): DataFrame =
    shinglePairStats(df, idCol, textCol, tokensCol, n, maxDf)
      .withColumn("jaccard",
        Num.roundz(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Shingle-set CONTAINMENT near-dup pairs (Broder 1997's containment
    * resemblance) — the asymmetric-size member of the near-dup family:
    * containment = |A∩B| / min(|A|, |B|) is the fraction of the SMALLER
    * document's shingles present in the other, so a short document fully
    * embedded in a long one scores ~1.0 where Jaccard (intersection over
    * union) is dragged toward |A|/|B| ≈ 0 and the pair never fires. This
    * is the quote/excerpt/boilerplate-page duplication [[ngramJaccardPairs]]
    * structurally cannot see.
    *
    * Same inverted sub-maxDf shingle index and capped-vocabulary size
    * discipline as Jaccard; the threshold filter runs on the UNROUNDED
    * single division (exact integer operands → identical keep decisions
    * cross-engine, q100's rule), rounded 4dp for output parity only.
    * Output: (doc_a, doc_b, containment), doc_a < doc_b. */
  def containmentPairs(idCol: String, textCol: String, n: Int,
                       threshold: Double, maxDf: Long = 1000L,
                       tokensCol: Option[String] = None)
                      (df: DataFrame): DataFrame =
    shinglePairStats(df, idCol, textCol, tokensCol, n, maxDf)
      .withColumn("__c", col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
      .filter(col("__c") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        Num.roundz(col("__c"), 4).as("containment"))

  /** Prefix-filtered exact Jaccard pairs (the All-Pairs/PPJoin prefix
    * principle — Bayardo et al. WWW'07, Xiao et al. WWW'08): at
    * threshold t, only each document's FIRST `|s| − ⌈t·|s|⌉ + 1`
    * shingles under one global order need indexing — if J(A,B) ≥ t
    * and the prefixes were disjoint, the intersection would be capped
    * at ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B|, a contradiction — so the
    * prefix-to-prefix join is a COMPLETE candidate generator and the
    * full sets are consulted only to verify candidates. With the
    * canonical rarest-first order (df ascending) the indexed volume
    * drops to ~(1−t) of the shingle table and hot boilerplate
    * shingles sort LAST, out of every prefix: this replaces
    * [[ngramJaccardPairs]]'s maxDf cap (an approximation knob) with a
    * LOSSLESS reduction — the DuckDB oracle for q197 is the plain
    * brute-force pair join with no prefix logic, so the hash gate
    * itself certifies, at every fixture scale, that prefix filtering
    * loses nothing.
    *
    * Exact integers: the keep decision is the cross-multiplied
    * `inter·10⁴ ≥ t_bp·union` (never a float threshold) and the
    * output is `jac_bp = inter·10⁴ DIV union`, the q189 rational.
    *
    * Shape: staged (doc, shingle) table read three ways (df counts,
    * prefix build, verification); prefix length comes from one
    * doc-partitioned window (row_number + per-doc count ride the same
    * Exchange); candidates from the prefix self-join (fan-out bounded
    * by rare-shingle df, not corpus df); verification re-joins the
    * full sets on the candidate pairs only. */
  def prefixJaccardPairs(idCol: String, textCol: String, n: Int,
                         thresholdBp: Long,
                         tokensCol: Option[String] = None)
                        (df: DataFrame): DataFrame = {
    require(thresholdBp > 0 && thresholdBp <= 10000,
      s"thresholdBp must be in (0, 10000]: $thresholdBp")
    val sh = Staged.stage(shingleRows(df, idCol, textCol, tokensCol, n))
    val dfc = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc")
    val wOrd = wDoc.orderBy(col("__df"), col("shingle"))
    val pre = Staged.stage(sh.join(dfc, "shingle")
      .withColumn("__rn", row_number().over(wOrd).cast("long"))
      .withColumn("__sz", count(lit(1)).over(wDoc))
      .filter(col("__rn") <=
        col("__sz") - expr(s"($thresholdBp * __sz + 9999) DIV 10000") + 1L)
      .select("doc", "shingle"))
    val cand = pre.select(col("doc").as("doc_a"), col("shingle"))
      .join(pre.select(col("doc").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // Verification by per-doc shingle ARRAYS, not a postings re-join
    // (r12): the old cand⋈shingles(A)⋈shingles(B) chain exploded every
    // candidate pair by |A| rows and re-shuffled them by (doc_b,
    // shingle) — profiled as 169 CPU-seconds at sf0.1, the whole cost
    // of q197. One doc-grain aggregate packs each document's (already
    // distinct) shingle set and size; candidates join ONCE per side and
    // the intersection is a per-pair array_intersect — O(|A|+|B|) per
    // pair with no pair×shingle row materialization, and the shuffles
    // carry each doc's set once per candidate instead of once per
    // candidate-shingle (guide §3: explode after the join, never
    // before).
    val docSets = Staged.stage(sh.groupBy("doc")
      .agg(collect_list(col("shingle")).as("__set"),
        count(lit(1)).as("sz")))
    cand
      .join(docSets.select(col("doc").as("doc_a"),
        col("__set").as("__seta"), col("sz").as("__sza")), Seq("doc_a"))
      .join(docSets.select(col("doc").as("doc_b"),
        col("__set").as("__setb"), col("sz").as("__szb")), Seq("doc_b"))
      .withColumn("__inter",
        size(array_intersect(col("__seta"), col("__setb"))).cast("long"))
      .withColumn("__un", col("__sza") + col("__szb") - col("__inter"))
      .filter(col("__inter") * 10000L >= lit(thresholdBp) * col("__un"))
      .select(col("doc_a"), col("doc_b"),
        expr("__inter * 10000 DIV __un").as("jac_bp"))
  }

  /** LSH parameter planner: for each candidate (bands b, rows r)
    * banding of a b·r-hash MinHash signature, the EXPECTED cost of
    * running it on THIS corpus — missed true pairs and spurious
    * candidates — computed from the observed exact-Jaccard pair
    * distribution rather than the folklore S-curve sketch. The
    * MinHash property makes this principled: P[one hash collides] is
    * EXACTLY J, so P[a band matches] = J^r and
    * P[no band fires] = (1 − J^r)^b; summing those over the real
    * pairs ≥/< the threshold prices each banding in expected pairs,
    * and pairs sharing no shingle contribute exactly zero (J = 0), so
    * restricting to the inverted-index pairs loses nothing — PROVIDED
    * the index is uncapped. The default therefore runs with NO df cap:
    * the planner must price the TRUE Jaccard the actual MinHash path
    * ([[minhashLshPairs]], uncapped shingles) collides on; passing a
    * finite `maxDf` makes it price capped-vocabulary Jaccard instead —
    * a different quantity than the LSH it plans for. At 100 TB, bound
    * the cost by planning on a hash-SAMPLE of documents (the pair
    * distribution is what's being estimated), not by capping df —
    * and that mitigation is an API affordance, not prose: `sampleBp`
    * (basis points of documents kept, md5-salted so it composes with
    * split/stratify hashing on the same ids) bounds the uncapped
    * index self-join to the sample's pair mass before any shingle is
    * emitted. Default 10⁴ = plan on everything (exact, unchanged
    * behavior); a 100 TB planning run passes e.g. 100 (1% of docs,
    * ~10⁻⁴ of the pair mass).
    *
    * Determinism: the ×10⁴ quantization grid is applied once up front
    * (j = inter·10⁴ DIV union ≤ 10⁴, plain BIGINT), then J^r is the
    * sequential product chain j_k ← (j_{k−1}·j) DIV 10⁴ (every
    * intermediate < 10⁸ — no wide-decimal powers, no overflow at any
    * set size), and (1 − J^r)^b is a REPEATED SQUARING chain in the
    * same domain (m ← m² DIV 10⁴, log₂ b steps). Total truncation
    * error: the initial quantization perturbs J by up to 10⁻⁴, which
    * first-order propagates to r·J^(r−1)·10⁻⁴ in J^r, and each DIV
    * truncates up to 10⁻⁴ more — so the computed band-miss
    * probability sits within (r·J^(r−1) + r−1 + log₂ b)·10⁻⁴ of the
    * real one, identically on both engines. Configs must have
    * power-of-two b. The threshold test rides the same grid exactly:
    * for integer thresholds, inter·10⁴ ≥ t·union ⟺ j ≥ t.
    *
    * Output one row per config: (n_bands, rows_per_band, n_true,
    * exp_missed_x10k, n_below, exp_extra_x10k) — divide the _x10k
    * columns by 10⁴ to read expected pair counts. */
  def lshPlanner(idCol: String, textCol: String, n: Int, thresholdBp: Long,
                 configs: Seq[(Int, Int)] = Seq((32, 1), (16, 2), (8, 4)),
                 maxDf: Long = Long.MaxValue,
                 tokensCol: Option[String] = None,
                 sampleBp: Long = 10000L)
                (df: DataFrame): DataFrame = {
    require(configs.nonEmpty &&
      configs.forall { case (b, _) => b > 0 && (b & (b - 1)) == 0 },
      s"bands must be powers of two: $configs")
    require(sampleBp >= 1 && sampleBp <= 10000L,
      s"sampleBp must be in 1..10000: $sampleBp")
    val base =
      if (sampleBp == 10000L) df
      else df.where(
        conv(substring(md5(concat(lit("lshp:"), col(idCol).cast("string"))),
          1, 4), 16, 10).cast("long") * 10000L < lit(sampleBp) * 65536L)
    val pairs = Staged.stageCut(
      shinglePairStats(base, idCol, textCol, tokensCol, n, maxDf)
        .select(expr(
          "cast((inter * 10000) DIV (sz_a + sz_b - inter) as bigint)")
          .as("__j")))
    def planFor(b: Int, r: Int): DataFrame = {
      val squarings = Integer.numberOfTrailingZeros(b)
      val withJr = (1 until r).foldLeft(pairs.withColumn("__jr", col("__j"))) {
        (d, _) => d.withColumn("__jr", expr("(__jr * __j) DIV 10000"))
      }
      val chained = (0 until squarings).foldLeft(
        withJr.withColumn("__m", lit(10000L) - col("__jr"))
      ) { (d, _) => d.withColumn("__m", expr("(__m * __m) DIV 10000")) }
      val missAll = col("__m")
      val isTrue = col("__j") >= lit(thresholdBp)
      chained.agg(
        sum(when(isTrue, 1L).otherwise(0L)).as("n_true"),
        sum(when(isTrue, missAll).otherwise(0L)).as("exp_missed_x10k"),
        sum(when(!isTrue, 1L).otherwise(0L)).as("n_below"),
        sum(when(!isTrue, lit(10000L) - missAll).otherwise(0L))
          .as("exp_extra_x10k"))
        .select(lit(b).cast("long").as("n_bands"),
          lit(r).cast("long").as("rows_per_band"),
          col("n_true"), col("exp_missed_x10k"),
          col("n_below"), col("exp_extra_x10k"))
    }
    configs.map { case (b, r) => planFor(b, r) }.reduce(_ unionByName _)
  }

  /** Dedup-threshold sensitivity sweep — q171's operating-point
    * discipline applied to the near-dup family: one row per OBSERVED
    * Jaccard level with the cumulative cost of cutting there
    * (n_pairs ≥ t, n_docs touched by ≥1 such pair, docs_bp of the
    * corpus). A Jaccard threshold is the dedup pipeline's main tuning
    * knob and is usually copied from a paper; this makes the choice an
    * empirical read on THIS corpus — where the pair count explodes is
    * where boilerplate starts, and the docs curve is the removable
    * upper bound keep-one-per-cluster can reach at each cut. The
    * default maxDf matches [[ngramJaccardPairs]]' — deliberately: the
    * sweep prices thresholds for the df-CAPPED operator it tunes, so
    * the Jaccard here is capped-vocabulary Jaccard, the same quantity
    * q26 thresholds on (unlike [[lshPlanner]], which must price the
    * uncapped J the MinHash path collides on). Read the output
    * accordingly: a threshold chosen off this sweep applies to the
    * sub-maxDf metric ONLY — it transfers to [[ngramJaccardPairs]]
    * runs at the SAME maxDf, not to the uncapped-Jaccard operators
    * ([[minhashLshPairs]], [[lshPlanner]]'s pricing), whose J on
    * boilerplate-heavy pairs can sit strictly above the capped value.
    *
    * Exact integers throughout: jac_bp = inter·10⁴ DIV union (the
    * UNROUNDED rational — no float threshold surface); "docs touched
    * at ≥ t" does not decompose over thresholds, but max-attribution
    * does (the q170 first-occurrence trick, mirrored): each doc counts
    * exactly at its MAX incident jac_bp, so both curves are descending
    * cumulative sums over the value-domain grid.
    *
    * Shape: the q26 inverted-index pair join (df-capped, never
    * all-pairs) feeds a staged (pair, jac_bp) table read three ways
    * (pair counts, both doc-attribution sides); the cumulative window
    * runs on the DISTINCT-jac_bp grid — value-domain-sized, the
    * ksDrift discipline. Output:
    * (jac_bp, n_pairs, n_docs, docs_bp), one row per observed level. */
  def jaccardThresholdSweep(idCol: String, textCol: String, n: Int,
                            maxDf: Long = 1000L,
                            tokensCol: Option[String] = None)
                           (df: DataFrame): DataFrame = {
    val pairs = Staged.stageCut(
      shinglePairStats(df, idCol, textCol, tokensCol, n, maxDf)
        .select(col("doc_a"), col("doc_b"),
          expr("inter * 10000 DIV (sz_a + sz_b - inter)").as("jac_bp")))
    val total = df.agg(count(lit(1)).as("__total"))
    val pairCnt = pairs.groupBy("jac_bp").agg(count(lit(1)).as("__pc"))
    val docMax = pairs.select(col("doc_a").as("__doc"), col("jac_bp"))
      .union(pairs.select(col("doc_b").as("__doc"), col("jac_bp")))
      .groupBy("__doc").agg(max("jac_bp").as("jac_bp"))
      .groupBy("jac_bp").agg(count(lit(1)).as("__dc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("jac_bp").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    pairCnt.join(broadcast(docMax), Seq("jac_bp"), "left")
      .crossJoin(broadcast(total))
      .select(col("jac_bp"),
        sum("__pc").over(w).as("n_pairs"),
        sum(coalesce(col("__dc"), lit(0L))).over(w).as("n_docs"),
        col("__total"))
      .withColumn("docs_bp", expr("n_docs * 10000 DIV __total"))
      .drop("__total")
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * shingles whose FIRST occurrence (min doc id = ingest order) is in
    * that document — the "is this recombined already-seen content?"
    * curation signal. A crawl's Nth copy of a template scores ~0 even
    * when no single pair crosses a Jaccard threshold, which is exactly
    * the mass-duplication case pairwise near-dup misses; it is the
    * scoring twin of keep-first passage dedup (q72 rewrites, this
    * measures).
    *
    * Plan: distinct shingle rows → one shingle-grain groupBy for the
    * global first-occurrence (map-side partial min) → join back on the
    * staged shingle table → per-doc counts. Two corpus-grain shuffles,
    * NO pair join — strictly cheaper than the q26 family, no maxDf cap
    * needed because nothing fans out quadratically. Documents shorter
    * than n tokens have no shingles and no row (both engines drop them
    * identically). Output: (doc_id, n_shingles, n_novel, novelty 4dp). */
  def noveltyScores(idCol: String, textCol: String, n: Int,
                    tokensCol: Option[String] = None)(df: DataFrame): DataFrame = {
    val sh = Staged.stage(shingleRows(df, idCol, textCol, tokensCol, n))
    val first = sh.groupBy("shingle").agg(min("doc").as("first_doc"))
    sh.join(first, Seq("shingle"))
      .groupBy(col("doc").as("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        Num.roundz(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** Shared inverted-index core of the set-overlap pair family: exploded
    * distinct shingles → maxDf cap → self equi-join on shingle (only docs
    * sharing ≥1 surviving shingle ever meet) → per-pair intersection
    * counts joined with per-doc set sizes. Returns
    * (doc_a, doc_b, inter, sz_a, sz_b) with doc_a < doc_b; scoring
    * (Jaccard, containment, …) is the caller's one-expression epilogue. */
  private def shinglePairStats(df: DataFrame, idCol: String, textCol: String,
                               tokensCol: Option[String], n: Int,
                               maxDf: Long): DataFrame = {
    // Document frequency via groupBy + join, NOT a window over the
    // shingle key: the window would shuffle-sort every occurrence of a
    // hot shingle into one task — exactly the skew the maxDf cap exists
    // to kill — while groupBy keeps map-side partial counts. The shingle
    // table is cut through [[Staged]] (released with the query) because
    // multiple plan branches consume it; a cluster run with a checkpoint
    // dir makes the cut a reliable checkpoint.
    val sh = Staged.stageCut(shingleRows(df, idCol, textCol, tokensCol, n))
    // by-shingle fan-outs (conf-gated no-ops on cluster layouts): the
    // df-count aggregate, the rare join-back and the intersection
    // self-join all hash by `shingle`, and AQE's byte-based coalescing
    // squeezed those CPU-dense reduce stages to 1-2 tasks at fixture
    // byte sizes (r12 profile: the rare build 2.3 s / 1 task, the
    // intersection join 2.2 s CPU / 2 tasks). A REPARTITION_BY_NUM
    // exchange by the join key is coalesce-proof, and every downstream
    // shingle-keyed operator reuses it instead of adding an Exchange.
    val shByShingle = Skew.fanOutForCpu(sh, Seq(col("shingle")))
    val rare = Staged.stageCut(shByShingle.join(
        shByShingle.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).drop("__df"),
        "shingle"))
    // Sizes over the SAME capped vocabulary as the intersections: when
    // maxDf engages, the score is "overlap over sub-maxDf shingles" —
    // consistent numerator and denominator (sizes over the uncapped set
    // would silently underestimate pairs dominated by hot shingles).
    val sizes = rare.groupBy("doc").agg(count(lit(1)).as("sz"))
    val rareByShingle = Skew.fanOutForCpu(rare, Seq(col("shingle")))
    val inter = rareByShingle.as("a").join(rareByShingle.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
  }

  /** TF-IDF-weighted sparse cosine near-dup pairs over n-word-shingle
    * features — the vector-space member of the text near-dup family:
    * where [[ngramJaccardPairs]] treats shingles as a SET, this weights
    * them (tf × idf), so a pair dominated by a few distinctive repeated
    * shingles scores high even when the symmetric-difference tail drags
    * Jaccard down, and ubiquitous shingles contribute ~nothing instead
    * of inflating the union. Candidates come from the same inverted
    * sub-maxDf shingle index (vectors are defined OVER the capped
    * vocabulary — numerator and norms consistently drop hot shingles,
    * [[ngramJaccardPairs]]' consistency rule).
    *
    * Cross-engine determinism (the q99/q102 integer discipline): idf is
    * quantized to a ×10⁴ BIGINT once per term, so per-doc norms and
    * per-pair dots are EXACT integer sums — order-independent where
    * float sums are not — and the cosine is one double division of
    * exactly-representable integers (all < 2⁵³ by construction: wq ≤
    * tf·ln(N)·10⁴). The threshold filter runs on that unrounded cosine;
    * `cos_sim` is rounded 4dp for output parity only.
    *
    * Scale: weights/norms shuffle at (doc, term) / (doc) grain — never
    * text; the pair join is the inverted-index equi-join; maxDf is the
    * skew cap. Output: (id_a, id_b, cos_sim), id_a < id_b. */
  def sparseCosinePairs(idCol: String, textCol: String, n: Int,
                        threshold: Double, maxDf: Long = 1000L,
                        tokensCol: Option[String] = None)
                       (df: DataFrame): DataFrame = {
    // multiplicity-preserving shingles: tf must count a repeated
    // shingle twice ([[shingles]]' array_distinct would flatten tf to 1)
    // fanned out: the multiplicity-preserving shingle explode feeds tf,
    // whose two consumers (dfreq + the weight join) re-run it — r12
    // profiled q111 as TWO concurrent 3.8 s single-task stages (no-op
    // on cluster layouts and pre-shuffled pipeline frames)
    val fanned = Skew.fanOutForCpu(df, Seq(col(idCol)))
    val terms = tokensCol match {
      case Some(tc) => fanned.select(col(idCol).as("doc"),
        explode(shinglesWithMultiplicity(col(tc), n)).as("term"))
      case None => fanned.select(col(idCol).as("doc"),
        explode(shinglesWithMultiplicity(tokens(col(textCol)), n)).as("term"))
    }
    // by-term fan-outs (conf-gated no-ops on cluster layouts): the
    // df-count, the weight join-back and the dot-product self-join all
    // hash by `term`, and AQE's byte-based coalescing squeezed those
    // CPU-dense reduce stages to 1-2 tasks at fixture byte sizes — the
    // same shape (and remedy) as shinglePairStats' by-shingle fans
    val tf = Skew.fanOutForCpu(
      terms.groupBy("doc", "term").agg(count(lit(1)).as("tf")),
      Seq(col("term")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    // staged: norms and the two sides of the pair join all consume the
    // weight table; unstaged, the explode + two aggregates run 3×
    val w = Staged.stageCut(tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc"), col("term"),
        (col("tf") * round(log((col("n_docs") + 1).cast("double")
          / (col("__df") + 1)) * 10000).cast("long")).as("wq")))
    val norms = w.groupBy("doc").agg(sum(col("wq") * col("wq")).as("n2"))
    val wByTerm = Skew.fanOutForCpu(w, Seq(col("term")))
    val dots = wByTerm.as("a").join(wByTerm.as("b"),
        col("a.term") === col("b.term") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .agg(sum(col("a.wq") * col("b.wq")).as("__dot"))
    dots
      .join(norms.select(col("doc").as("id_a"), col("n2").as("__na")), "id_a")
      .join(norms.select(col("doc").as("id_b"), col("n2").as("__nb")), "id_b")
      .withColumn("__cos", col("__dot").cast("double")
        / (sqrt(col("__na").cast("double")) * sqrt(col("__nb").cast("double"))))
      .filter(col("__cos") >= threshold)
      .select(col("id_a"), col("id_b"), Num.roundz(col("__cos"), 4).as("cos_sim"))
  }

  /** Character-level (Levenshtein) near-duplicate pairs — the dedup
    * family member that catches small-edit copies (typo fixes, boiler-
    * plate substitutions, version bumps) where token-set Jaccard stays
    * high but EXACT dedup misses; conversely a word-order scramble keeps
    * Jaccard at 1.0 while edit similarity collapses, so the two metrics
    * are complementary and real pipelines gate on both.
    *
    * Plan: candidates come from the same inverted sub-maxDf shingle
    * index as [[ngramJaccardPairs]] (only docs sharing ≥ 1 rare
    * n-shingle ever meet — never all-pairs), texts are re-joined only
    * for the surviving candidate pairs, and a length band (lev ≥
    * |len_a − len_b|, so a gap beyond (1−θ)·maxLen already caps
    * similarity below θ) prunes before any pair pays the O(len²) DP.
    *
    * Cross-engine determinism: lev and the lengths are integers; the
    * similarity 1 − lev/maxLen is a single IEEE division, so the
    * UNROUNDED threshold filter agrees bit-for-bit between engines (the
    * emitted `edit_sim` is rounded 4dp for display only) and the band
    * equality boundary coincides with the raw filter's.
    *
    * Output: (id_a, id_b, edit_sim), id_a < id_b, edit similarity
    * = 1 − lev/max(len) ≥ threshold. */
  def editDistancePairs(idCol: String, textCol: String, n: Int,
                        threshold: Double, maxDf: Long = 1000L,
                        tokensCol: Option[String] = None)
                       (df: DataFrame): DataFrame = {
    val sh = Staged.stage(shingleRows(df, idCol, textCol, tokensCol, n))
    // staged like ngramJaccardPairs' rare table: both sides of the
    // candidate self-join consume it, and its lineage is the maxDf
    // aggregate + join over the full shingle table
    val rare = Staged.stageCut(sh.join(
        sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).drop("__df"),
        "shingle"))
    val cand = rare.as("a").join(rare.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
      .distinct()
    val texts = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val mx = greatest(greatest(length(col("__ta")), length(col("__tb"))), lit(1))
    val rawSim = lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") / mx
    cand
      .join(texts.select(col("__id").as("id_a"), col("__t").as("__ta")), "id_a")
      .join(texts.select(col("__id").as("id_b"), col("__t").as("__tb")), "id_b")
      .filter(abs(length(col("__ta")) - length(col("__tb"))).cast("double")
        <= lit(1.0 - threshold) * mx)
      .filter(rawSim >= threshold)
      .select(col("id_a"), col("id_b"), Num.roundz(rawSim, 4).as("edit_sim"))
  }

  /** Representative selection for duplicate clusters by QUALITY, not min
    * id: every doc gets its cluster label (singletons label themselves,
    * [[graft.ops.Similarity.semDedup]]'s convention) and each cluster
    * keeps the row with the best `score` — a real corpus build keeps the
    * longest / highest-quality / most-canonical copy, not whichever got
    * the smallest crawl id. Which copy survives changes training data;
    * min-id keep is an artifact of the clustering algebra, score keep is
    * a policy.
    *
    * Determinism: the keeper is row_number over (score desc, doc asc) —
    * supply an integer-valued or pre-rounded score so both engines rank
    * identically (the oracle discipline: never order on raw doubles).
    *
    * Scale: the cluster labels come from [[duplicateClusters]]; the rank +
    * member-count windows share one by-cluster partitioning, and only
    * (doc, cluster, score) rows ride it — never texts.
    *
    * Output: (cluster, keep_id, n_members), one row per cluster over
    * the WHOLE corpus (singletons keep themselves, n_members = 1). */
  def keepBestPerCluster(df: DataFrame, idCol: String, score: Column,
                         pairs: DataFrame, aCol: String = "doc_a",
                         bCol: String = "doc_b",
                         maxIter: Int = 20): DataFrame = {
    val clusters = duplicateClusters(pairs, aCol, bCol, maxIter)
    val labeled = df.select(col(idCol).as("doc"), score.as("__score"))
      .join(clusters, Seq("doc"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc")))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    labeled
      .withColumn("__rn", row_number().over(
        byCluster.orderBy(col("__score").desc, col("doc"))))
      .withColumn("n_members", count(lit(1)).over(byCluster).cast("long"))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("doc").as("keep_id"), col("n_members"))
  }

  /** [[ngramJaccardPairs]] restricted to pairs touching at least one
    * `fresh` document: fresh×base and fresh×fresh, never base×base — the
    * pair generator of an INCREMENTAL dedup pass
    * ([[IncrementalDedup.dedupDelta]]), where `base` is an
    * already-deduplicated corpus and only the delta needs pairing.
    *
    * Scale: this is why incremental exists — the probe side of the
    * inverted-index join is the fresh postings (delta-sized), so the
    * join cost is O(delta × collision), not O(corpus × collision);
    * document frequency and sizes are still computed over base ∪ fresh
    * so the Jaccard denominators match a full run over the kept world.
    * Semantics note: a full rebuild's df counts previously-removed
    * duplicates too; over the kept world the capped vocabulary can
    * differ if a shingle's df straddles `maxDf` — with the default cap
    * and dedup ratios this is vanishingly rare, and df-over-kept is the
    * less duplicate-inflated statistic anyway.
    *
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard >= threshold,
    * exactly one row per qualifying pair regardless of which side is
    * fresh. */
  def ngramJaccardPairsDelta(idCol: String, textCol: String, n: Int,
                             threshold: Double, maxDf: Long = 1000L,
                             tokensCol: Option[String] = None)
                            (base: DataFrame, fresh: DataFrame): DataFrame = {
    val sh = Staged.stage(
      shingleRows(base, idCol, textCol, tokensCol, n).withColumn("__fresh", lit(false))
        .unionByName(
          shingleRows(fresh, idCol, textCol, tokensCol, n).withColumn("__fresh", lit(true))))
    // by-shingle fans, same rationale as [[shinglePairStats]]: the
    // df-count, rare join-back and intersection join hash by `shingle`
    // and otherwise run at AQE's byte-coalesced width (conf-gated
    // no-ops on cluster layouts)
    val shByShingle = Skew.fanOutForCpu(sh, Seq(col("shingle")))
    val rare = Staged.stage(shByShingle.join(
        shByShingle.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= maxDf).drop("__df"),
        "shingle"))
    val sizes = rare.groupBy("doc").agg(count(lit(1)).as("sz"))
    val rareByShingle = Skew.fanOutForCpu(rare, Seq(col("shingle")))
    // probe = fresh postings only; fresh×fresh canonicalized by a<b at
    // the join, fresh×base taken in whichever order and canonicalized
    // by least/greatest in the aggregate key
    val inter = rareByShingle.filter(col("__fresh")).as("a").join(rareByShingle.as("b"),
        col("a.shingle") === col("b.shingle") &&
          (col("a.doc") < col("b.doc") ||
            (!col("b.__fresh") && col("a.doc") =!= col("b.doc"))))
      .groupBy(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        Num.roundz(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Benchmark decontamination: drop every `train` document that shares
    * at least one n-word shingle with the `heldOut` benchmark set — the
    * train/test-overlap filter an LLM corpus build runs before training
    * (reference corpora document the same n-gram overlap rule; behavior
    * only, engine is ours).
    *
    * Scale: the held-out side is a benchmark suite — bounded (thousands
    * of documents) while `train` is the 100 TB side — so its distinct
    * shingle set is BROADCAST and the contamination probe is a map-side
    * semi-join on the streaming train shingles; hot shingles cannot skew
    * a broadcast probe. Shuffles: the held-out shingle distinct (bounded
    * by the benchmark side), the contaminated-id distinct (ids only,
    * map-side combined), and the final anti-join on the id — nothing
    * train-sized ever moves. If the held-out set ever outgrows broadcast
    * range, drop the hint and the same plan degrades gracefully to a
    * shuffled semi-join.
    *
    * Output: the clean subset of `train`, original schema. */
  def decontaminate(idCol: String, textCol: String, n: Int)
                   (train: DataFrame, heldOut: DataFrame): DataFrame = {
    val heldOutShingles = explodedShingles(heldOut, idCol, textCol, n)
      .select("shingle").distinct()
    val contaminated = explodedShingles(train, idCol, textCol, n)
      .join(broadcast(heldOutShingles), Seq("shingle"), "left_semi")
      .select(col("doc").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s BOUNDED-MEMORY
    * scale path. [[decontaminate]] broadcasts the held-out set's
    * distinct shingle STRINGS, which grows without bound as the eval
    * suite does; this variant broadcasts a Bloom filter of them instead:
    * k hash positions per shingle into an m-bit space, membership = all
    * k bits set. The filter is represented relationally as the DISTINCT
    * set of SET bit positions (≤ m rows of one long — capped at m·8
    * bytes no matter how large the held-out set grows), which keeps the
    * whole operator declarative: building it is an explode + distinct,
    * probing it is a broadcast equi-join on the bit id, and Catalyst
    * sees ordinary joins it can reorder and push into. A dedicated
    * bitmap `sketch.BloomFilter` binary would save constant factors but
    * hides the probe from the optimizer and needs driver-side assembly.
    *
    * One-sided error, in the SAFE direction: a Bloom filter has no
    * false negatives, so every genuinely contaminated document is
    * dropped (the guarantee decontamination exists for); false
    * positives drop extra clean docs at rate ≈ fill^k per shingle —
    * size m so n_heldout·k/m stays well under 1 (spec pins the
    * kept ⊆ [[decontaminate]]-kept law).
    *
    * `family` ([[HashFamily]]) draws the k bit positions
    * ([[HashFamily.bloomBit]], seeded per hash function) and keys the
    * probe-side aggregate ([[HashFamily.shingleKey]]): the production
    * xxhash64 family hashes the shingle to a long, so the only
    * corpus-sized shuffle carries (doc, long, bit) rows, never shingle
    * strings. xxhash64 is not SQL-expressible, so q114 is rows-only;
    * under [[HashFamily.Md5]] (q115) the bit set, the probe and any
    * false positives are all reproduced by the SQL oracle. Output: the
    * clean subset of `train`, original schema — [[decontaminate]]'s
    * contract. */
  def bloomDecontaminate(idCol: String, textCol: String, n: Int,
                         mBits: Long, kHashes: Int,
                         family: HashFamily = HashFamily.XxHash64)
                        (train: DataFrame, heldOut: DataFrame): DataFrame = {
    require(mBits > 0, s"mBits $mBits must be positive")
    require(kHashes > 0, s"kHashes $kHashes must be positive")
    def positions(shingle: Column): Column =
      array((0 until kHashes).map(s => family.bloomBit(shingle, s, mBits)): _*)
    val bits = explodedShingles(heldOut, idCol, textCol, n)
      .select(explode(positions(col("shingle"))).as("bit"))
      .distinct()
    val probes = explodedShingles(train, idCol, textCol, n)
      .select(col("doc"), family.shingleKey(col("shingle")).as("__sk"),
        explode(positions(col("shingle"))).as("bit"))
    val contaminated = probes
      .join(broadcast(bits.withColumn("__set", lit(1))), Seq("bit"), "left")
      .groupBy("doc", "__sk")
      .agg(sum(when(col("__set").isNotNull, 1).otherwise(0)).as("__m"))
      .filter(col("__m") === kHashes)
      .select(col("doc").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Graded twin of [[decontaminate]]: instead of the binary drop, score
    * every training document by its shingle overlap with the held-out
    * set — (n_shingles, n_contaminated, overlap_frac). Thresholding is
    * then a policy decision (eval suites differ on how much incidental
    * overlap is tolerable), and the scores are the audit artifact a
    * release ships alongside the corpus.
    *
    * Same plan as decontaminate: the held-out side is bounded (a
    * benchmark suite), so its distinct shingles broadcast and the probe
    * is a map-side left join; the only Exchange carries (doc, counts)
    * rows for the per-document aggregate. Documents with fewer than n
    * tokens have no shingles and no row (nothing to score). */
  def contaminationScore(idCol: String, textCol: String, n: Int)
                        (train: DataFrame, heldOut: DataFrame): DataFrame = {
    val heldOutShingles = explodedShingles(heldOut, idCol, textCol, n)
      .select("shingle").distinct()
    explodedShingles(train, idCol, textCol, n)
      .join(broadcast(heldOutShingles.withColumn("__hit", lit(1L))),
        Seq("shingle"), "left")
      .groupBy(col("doc").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_contaminated"))
      .withColumn("overlap_frac",
        Num.roundz(col("n_contaminated").cast("double") / col("n_shingles"), 4))
  }

  /** Corpus snapshot diff: classify every document as added / removed /
    * changed between two ingests — the primitive an incremental corpus
    * pipeline runs to re-process only what moved instead of rebuilding
    * 100 TB from scratch (changed+added feed the dedup/quality stages;
    * removed feeds tombstones).
    *
    * Plan: contents collapse to md5 fingerprints in a scan-level
    * projection, then ONE full-outer equi-join on the id — both sides
    * shuffle once on the key they would shuffle on anyway; unchanged
    * documents (the overwhelming majority between consecutive
    * snapshots) are filtered out before anything downstream runs.
    *
    * Output: (idCol, status ∈ added|removed|changed). */
  def snapshotDiff(idCol: String, textCol: String)
                  (oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    // presence is an explicit marker, NOT hash nullness: md5(NULL) is
    // NULL, so inferring presence from the hash would misread a
    // null-text row as an absent one (added/removed flips)
    val o = oldSnap.select(col(idCol), md5(col(textCol)).as("__h_old"),
      lit(true).as("__in_old"))
    val nw = newSnap.select(col(idCol), md5(col(textCol)).as("__h_new"),
      lit(true).as("__in_new"))
    o.join(nw, Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, "added")
          .when(col("__in_new").isNull, "removed")
          // null-safe inequality: a null-text side only counts as
          // changed against a non-null side, never against itself
          .when(!(col("__h_old") <=> col("__h_new")), "changed"))
      .filter(col("status").isNotNull)
      .select(col(idCol), col("status"))
  }

  /** MinHash + LSH banding candidate pairs.
    * numPerms permutations of each shingle ([[HashFamily.permutation]]
    * over [[HashFamily.shingleKey]]); bands of `rowsPerBand` minhashes
    * hash to a bucket ([[HashFamily.bandBucket]]); docs colliding in any
    * band become candidates; candidates are verified with exact
    * shingle-set Jaccard estimated from minhash agreement.
    * Scale: candidates come from equi-join on (band, bucket) — no O(N²).
    *
    * `family` picks the hashes. xxhash64 is the production default
    * (8-byte long minhashes, the shingle hashed once); under
    * [[HashFamily.Md5]] a minhash is the lowercase-hex md5 of
    * "p|shingle", which both engines order identically, so the pair set
    * is fully oracle-checkable (q91, q177).
    */
  def minhashLshPairs(idCol: String, textCol: String, n: Int,
                      numPerms: Int, rowsPerBand: Int, threshold: Double,
                      tokensCol: Option[String] = None,
                      family: HashFamily = HashFamily.XxHash64)
                     (df: DataFrame): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    // Minhash via explode → hash-aggregate (one min per permutation):
    // stays in whole-stage codegen, unlike a per-row higher-order
    // `aggregate` over the shingle array (which is interpreted and was
    // ~25× slower). Same semantics: min over distinct shingles of the
    // permutation hash.
    // fanned out: numPerms hashes per shingle in the signature partials
    // otherwise run at the single-file scan's width (r12 profiled q91 as
    // one 5.7 s task of a 6.4 s query; no-op on cluster layouts).
    // graft.Bench at sf0.1 measured it ~2.3× faster for md5, ~15% for
    // xxhash64
    val exploded = shingleRows(Skew.fanOutForCpu(df, Seq(col(idCol))),
        idCol, textCol, tokensCol, n)
      .select(col("doc"), family.shingleKey(col("shingle")).as("h"))
    val minAggs = (0 until numPerms).map(p => min(family.permutation(col("h"), p)).as(s"h$p"))
    val sigs = exploded.groupBy("doc")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc"), array((0 until numPerms).map(p => col(s"h$p")): _*).as("sig"))
    lshBandPairs(sigs, numPerms, rowsPerBand, threshold,
      b => family.bandBucket(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))
  }

  /** Shared LSH tail: band the signatures (`bandBucket` builds band b's
    * bucket id from the `sig` column), candidate-join on (band, bucket),
    * estimate Jaccard as the minhash agreement fraction, threshold.
    * Candidates come from an equi-join — no O(N²) at any corpus size. */
  private def lshBandPairs(sigs: DataFrame, numPerms: Int, rowsPerBand: Int,
                           threshold: Double,
                           bandBucket: Int => Column): DataFrame = {
    val numBands = numPerms / rowsPerBand
    val bands = sigs.select(col("doc"), col("sig"),
        posexplode(array((0 until numBands).map(bandBucket): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand.withColumn("est_jaccard",
        Num.roundz(size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), b => b)).cast("double") / numPerms, 4))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Distributed simhash signatures via explode → 64 codegen'd
    * conditional-sum aggregates (same bit semantics as
    * [[graft.functions.TextFunctions.simhash]], which is the single-pass
    * per-row variant for narrow inputs). Token bit b is
    * [[HashFamily.tokenBit]] of the token's [[HashFamily.tokenWord]],
    * computed once per token; the signature is a long (bit b = vote b
    * positive) under either family. */
  def simhashSignatures(idCol: String, textCol: String,
                        family: HashFamily = HashFamily.XxHash64)
                       (df: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .withColumn("h", family.tokenWord(col("w")))
    val voteAggs = (0 until 64).map(b =>
      sum(when(family.tokenBit(col("h"), b) === 1L, 1L).otherwise(-1L)).as(s"v$b"))
    toks.groupBy("doc").agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc"),
        (0 until 64).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("sim"))
  }

  /** Connected components over an undirected near-dup pair list —
    * the clustering step between pair generation (Jaccard/MinHash/LSH)
    * and representative selection: every document in a duplicate
    * cluster gets the cluster's minimum doc id as its label, so
    * "keep one per cluster" is `filter(doc === cluster)` and
    * "drop all dupes" is an anti-join on the non-representatives.
    *
    * Local contraction first (Łącki, Mirrokni & Włodarczyk, "Connected
    * Components at Scale via Local Contractions", 2018): pairs are
    * canonicalised to (least, greatest) — a self-pair stays as a node —
    * and repartitioned by the least endpoint with NO partition count, so
    * AQE sizes the exchange by `advisoryPartitionSizeInBytes` under
    * [[withIterConfs]]. One `mapPartitions` runs a union-find and emits
    * (x, r_p(x)), the least node of x's component within partition p;
    * one eager checkpoint materializes it, the only job that computes
    * the pair graph. With ONE partition (AQE packs a graph under the
    * advisory size into one, as it did the bench's and the sf0.1
    * clustering queries') every pair met the same union-find, so that
    * IS the answer: the loop's zero-round case, decided from the
    * checkpoint's RDD without a job.
    *
    * With several, let r(x) = min_p r_p(x); the quotient graph joins
    * r(x) to each other local label of x, and the min-label loop runs
    * over it. A row's label is the loop's label of its local label, or
    * that label itself when it has no quotient edge. Exact because every
    * local label of x lies in x's component (no quotient edge leaves
    * one); a pair (u, v) met some partition p, so r(u) – r_p(u) = r_p(v)
    * – r(v) is a quotient path (the quotient connects a component's
    * local labels); and the component min c is c's own local label
    * everywhere (r(c) = c). The quotient has no more nodes than the
    * input; a path of k pairs maps onto at most 2k quotient edges.
    *
    * The loop: each round every node takes the min of its own and its
    * neighbors' labels (one equi-join + groupBy-min on the node key),
    * then POINTER-JUMPS through the previous labels (Kiveris et al.,
    * SOCC'14) — the min is itself a node id, so one more equi-join
    * replaces it with that node's label and reach grows ~2× per round
    * (13 → 10 rounds at sf0.1 before the contraction pass). The
    * convergence probe costs no job: the aggregation carries each node's
    * previous label, and the changed-row count is an `observe()` metric
    * of the round's checkpoint job, exact for any id type. `maxIter`
    * bounds the rounds. Rounds are checkpointed because persist does not
    * truncate the plan (12 nested rounds OOM'd the driver rendering it).
    *
    * Ids compare under their column type's SQL ordering: Long, Int,
    * String (UTF-8 bytes) or Double (-0.0 is 0.0, NaN last); any other
    * type fails a `require` naming it. A null id joins nothing: its
    * partner stays a node, and the null id gets one row labelled with
    * its partners' least label; a pair of nulls is dropped.
    *
    * Every checkpoint is a [[Staged]] cut, in the form the deployment
    * gives it: reliable files when the context has a checkpoint dir, so
    * a multi-hour clustering survives executor loss, executor-local
    * blocks otherwise. Superseded tables are released as soon as
    * nothing reads them, and the result with the enclosing `Staged`
    * scope.
    *
    * Output: (doc, cluster) — one row per distinct node appearing in
    * `pairs`, cluster = min doc id reachable through the pair graph.
    */
  def duplicateClusters(pairs: DataFrame, aCol: String, bCol: String,
                        maxIter: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // exchange sizing + cached-plan re-partitioning: see [[withIterConfs]]
    withIterConfs(spark) {
      val (a, b) = (col(aCol), col(bCol))
      // least() skips a null, so a pair with one null id keeps its other
      // id as `u` with a null `v`; a pair of nulls has no node at all
      val edges = pairs.select(least(a, b).as("u"),
          when(a.isNotNull && b.isNotNull, greatest(a, b)).as("v"))
        .filter(col("u").isNotNull)
      val idType = edges.schema("u").dataType
      val labelSchema = StructType(Seq(
        StructField("doc", idType), StructField("cluster", idType)))
      val local = Staged.cut(edges.repartition(col("u"))
        .mapPartitions(localComponents(idType))(Encoders.row(labelSchema)))
      if (local.queryExecution.analyzed
          .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.getNumPartitions <= 1) local
      else {
        val rows = local.filter(col("doc").isNotNull)
        val r = rows.groupBy("doc").agg(min("cluster").as("__r"))
        val q = rows.join(r, "doc").filter(col("cluster") =!= col("__r"))
          .select(col("__r").as("u"), col("cluster").as("v"))
        val quotient = Staged.stage(
          q.unionByName(q.select(col("v").as("u"), col("u").as("v"))).distinct())
        val labels = minLabelLoop(quotient, maxIter)
        // every row's local label maps to its component min, so the min
        // over a node's rows is its label (and a null id's least one)
        val out = Staged.cut(local
          .join(labels.select(col("doc").as("cluster"), col("cluster").as("__l")),
            Seq("cluster"), "left_outer")
          .groupBy("doc").agg(min(coalesce(col("__l"), col("cluster"))).as("cluster")))
        Seq(quotient, labels, local).foreach(Staged.release)
        out
      }
    }
  }

  /** The contraction pass over one partition of canonical (u, v) rows: a
    * union-find with path compression (halving) that always roots a
    * merged set at its least id under `idType`'s SQL ordering. Emits
    * (node, least node of its local component) per node, plus, when some
    * row has a null `v`, one (null, least local label of those rows' `u`)
    * row. */
  private def localComponents(idType: DataType): Iterator[Row] => Iterator[Row] = {
    require(Set[DataType](LongType, IntegerType, StringType, DoubleType)(idType),
      s"duplicateClusters: unsupported id type ${idType.simpleString} " +
        "(ids must be bigint, int, string or double)")
    // -0.0 and 0.0 are one id, as in SQL grouping; boxed NaNs are equal
    val key: Any => Any = idType match {
      case DoubleType => x => if (x.asInstanceOf[Double] == 0.0) 0.0 else x
      case _ => identity
    }
    val less: (Any, Any) => Boolean = idType match {
      case LongType => (x, y) => x.asInstanceOf[Long] < y.asInstanceOf[Long]
      case IntegerType => (x, y) => x.asInstanceOf[Int] < y.asInstanceOf[Int]
      case DoubleType => (x, y) =>
        java.lang.Double.compare(x.asInstanceOf[Double], y.asInstanceOf[Double]) < 0
      case StringType => (x, y) =>
        UTF8String.fromString(x.asInstanceOf[String])
          .binaryCompare(UTF8String.fromString(y.asInstanceOf[String])) < 0
    }
    rows => {
      val index = new java.util.HashMap[Any, Integer]()
      val ids = mutable.ArrayBuffer.empty[Any]
      val parent = mutable.ArrayBuffer.empty[Int]
      def node(x: Any): Int = {
        val k = key(x)
        val i = index.get(k)
        if (i != null) i.intValue()
        else { index.put(k, ids.size); ids += k; parent += ids.size - 1; ids.size - 1 }
      }
      def find(x: Int): Int = {
        var i = x
        while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
        i
      }
      val nullPartners = mutable.ArrayBuffer.empty[Int]
      rows.foreach { row =>
        val u = node(row.get(0))
        if (row.isNullAt(1)) nullPartners += u
        else {
          val (ru, rv) = (find(u), find(node(row.get(1))))
          if (ru != rv) { if (less(ids(ru), ids(rv))) parent(rv) = ru else parent(ru) = rv }
        }
      }
      val nullRow = nullPartners.map(i => ids(find(i)))
        .reduceOption((x, y) => if (less(y, x)) y else x).map(Row(null, _))
      ids.indices.iterator.map(i => Row(ids(i), ids(find(i)))) ++ nullRow
    }
  }

  /** The pointer-jumping min-label loop of [[duplicateClusters]] over a
    * symmetric (u, v) edge table: the checkpointed (doc, cluster) labels
    * of its nodes. */
  private def minLabelLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = Staged.cut(
      edges.select(col("u").as("doc"), col("u").as("cluster")).distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // every node's self row is in the union (labels covers all
      // nodes), so min(when(__self, ...)) is exactly the previous
      // label — the changed-row count falls out of the same hash
      // aggregate
      val prop = labels.withColumn("__self", lit(true))
        .unionByName(
          edges.join(labels.withColumnRenamed("doc", "v"), "v")
            .select(col("u").as("doc"), col("cluster"))
            .withColumn("__self", lit(false)))
        .groupBy("doc").agg(
          min("cluster").as("cluster"),
          min(when(col("__self"), col("cluster"))).as("__prev"))
      // pointer jump: the propagated min is a node id, and every node
      // id is in labels.doc, so the inner join is lossless; the
      // looked-up label is <= the propagated one (labels only ever
      // decrease), so the jump preserves monotone convergence
      val jumped = prop
        .join(labels.select(col("doc").as("cluster"), col("cluster").as("__l2")),
          "cluster")
        .select(col("doc"), col("__l2").as("cluster"), col("__prev"))
      val obs = org.apache.spark.sql.Observation()
      val next = Staged.cut(
        jumped.observe(obs, coalesce(
            sum(when(col("cluster") =!= col("__prev"), 1L).otherwise(0L)),
            lit(0L)).as("changed"))
          .select("doc", "cluster"))
      // the eager checkpoint IS the observed action — obs.get returns
      // without scheduling anything; changed == 0 implies the plain
      // propagation step was also a fixpoint (jumped <= prop <= prev)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      // the superseded round is unreachable from `next` (already
      // materialized) — free it instead of waiting for GC
      Staged.release(labels)
      labels = next
      i += 1
    }
    labels
  }

  /** Scoped conf for the contraction pass and the closure loop,
    * save/restore discipline (they both build and execute their plans,
    * so nothing leaks into the caller's queries):
    *   - coalescePartitions.parallelismFirst=false — size each
    *     shuffle to the advisory partition size, not the core count
    *     (the pair graph and label tables are usually tiny relative to
    *     the cluster; at 100 TB the advisory size still yields full
    *     parallelism, so this is not a small-data hack);
    *   - canChangeCachedPlanOutputPartitioning=true — the same sizing
    *     for the PERSISTED frames the rounds re-scan: a cached plan's
    *     output partitioning is frozen by default, so the staged edge
    *     table materializes at full shuffle width and every round's
    *     consumer scans relaunch that many tasks. Measured r12 on a
    *     quiet box: q92's 32-core anti-scaling (6.9 s vs 4.6 s at 8
    *     cores across ~80 serial per-round jobs) was exactly this
    *     per-task scheduling overhead. */
  private def withIterConfs[T](spark: org.apache.spark.sql.SparkSession)
                              (body: => T): T = {
    val keys = Seq(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** SimHash near-dup pairs: 64-bit simhash per doc, band into 4×16-bit
    * chunks (docs within Hamming distance 3 of each other collide on at
    * least one chunk — pigeonhole), verify with exact Hamming distance
    * (a long). Under [[HashFamily.Md5]] every stage (token bits, votes,
    * chunk banding, Hamming verify) is reproducible in DuckDB, so the
    * pair set gets a full hash oracle (q97). */
  def simhashPairs(idCol: String, textCol: String, maxHamming: Int = 3,
                   family: HashFamily = HashFamily.XxHash64)
                  (df: DataFrame): DataFrame = {
    // Pigeonhole over 4 × 16-bit chunks is exhaustive ONLY for Hamming
    // distance <= 3 (4 differing chunks can hide a distance-4 pair from
    // every chunk key). A larger radius would silently miss pairs while
    // presenting a <=maxHamming result — refuse instead of under-recall.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-chunk banding is exhaustive only for maxHamming <= 3, got $maxHamming")
    // staged: both sides of the chunk self-join read the signatures.
    // Unstaged, AQE reuses the partial-vote shuffle but runs the final
    // 64-sum aggregate and the chunking once per side; graft.Bench at
    // sf0.1 measured the stage ~0.1 s faster for both families
    val sh = Staged.stage(simhashSignatures(idCol, textCol, family)(df))
    val chunks = sh.select(col("doc"), col("sim"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming64(col("a.sim"), col("b.sim")).cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** Passage-level dedup: split every document into consecutive
    * `chunkTokens`-token chunks, drop every chunk whose exact text
    * already occurred earlier in the corpus (earlier = smaller
    * (id, position), the global keep-first rule), and rebuild each
    * document from its surviving chunks. This is the boilerplate /
    * repeated-passage removal pass of a training-data build — exact
    * whole-document dedup ([[exact]]) never touches the shared header,
    * license block, or copied paragraph INSIDE otherwise-distinct
    * documents; this operator does, at token-window granularity (the
    * scalable stand-in for suffix-array substring dedup, which needs a
    * global sort no engine runs at corpus scale). Intra-document
    * repetition collapses too: the second identical chunk of one doc is
    * dropped like any other re-occurrence. Documents whose every chunk
    * is repeated elsewhere disappear from the output (pure boilerplate);
    * empty/whitespace-only documents are excluded up front.
    *
    * Output: (id, clean_text, n_chunks, n_kept).
    *
    * Shuffle discipline (the file's id-only rule): chunk text is hashed
    * to a 128-bit md5 fingerprint BEFORE the fingerprint Exchange — the
    * groupBy moves (fp, id, pos) triples, never text (md5, not a 64-bit
    * hash: at 10^10+ chunks birthday collisions on 64 bits would silently
    * delete unique passages). The keep set then collapses to one
    * position-array row per doc (second id-only shuffle), and the ONLY
    * shuffle that carries document text is the final rebuild equi-join
    * on the id — unavoidable, and free over an id-bucketed staging
    * table. The tokenization feeding both the chunk explode and the
    * rebuild is staged, so the corpus is tokenized once. */
  def dropRepeatedPassages(idCol: String, textCol: String,
                           chunkTokens: Int = 16,
                           tokensCol: Option[String] = None)
                          (docs: DataFrame): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    val cw = chunkTokens
    def chunkAt(w: Column, p: Column): Column =
      array_join(slice(w, (p * cw + 1).cast("int"), lit(cw)), " ")
    val toks = Staged.stage(docs
      .select(col(idCol), tokensCol.map(col).getOrElse(tokens(col(textCol))).as("__w"))
      .filter(size(col("__w")) > 0)
      .withColumn("__nc", ceil(size(col("__w")) / lit(cw.toDouble)).cast("long")))
    val occ = toks.select(col(idCol),
        posexplode(transform(sequence(lit(0L), col("__nc") - 1),
          i => md5(chunkAt(col("__w"), i)))))
      .select(col(idCol), col("pos").cast("long").as("__pos"), col("col").as("__fp"))
    // global keep-first: min (id, pos) per fingerprint — ids only
    val keepOcc = occ.groupBy("__fp")
      .agg(min(struct(col(idCol), col("__pos"))).as("__k"))
      .select(col(s"__k.$idCol").as(idCol), col("__k.__pos").as("__pos"))
    val keptPos = keepOcc.groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__keep"))
    toks.join(keptPos, Seq(idCol))
      .select(col(idCol),
        array_join(transform(col("__keep"), p => chunkAt(col("__w"), p)), " ")
          .as("clean_text"),
        col("__nc").as("n_chunks"),
        size(col("__keep")).cast("long").as("n_kept"))
  }

  /** UNALIGNED repeated-passage removal — the stride-1 twin of
    * [[dropRepeatedPassages]]. The chunk variant only catches a copied
    * passage that starts ON a chunk boundary: shift the copy by one
    * token and every 16-token chunk of it mixes copied with novel text,
    * so nothing matches (DedupSpec proves the miss). This variant
    * fingerprints EVERY `windowTokens`-token window (stride 1, the
    * per-position discipline of [[graft.functions.TextFunctions.windowFingerprints]]
    * applied at token granularity), keeps each window text's globally
    * first occurrence (min (id, pos)), and drops every token covered by
    * any LATER occurrence. For a copied span of length ≥ windowTokens at
    * ANY offset, the windows fully inside the copy are exactly the
    * duplicated ones and their union covers exactly the copied tokens —
    * so the removal is the copied span, no more, no less: the
    * suffix-array substring-dedup semantics ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2022) without the
    * global suffix sort no engine runs at corpus scale.
    *
    * Output: (id, clean_text, n_tokens, n_kept) — token counts, since
    * removal is token-granular here. Docs shorter than `windowTokens`
    * have no windows and pass through intact.
    *
    * Shuffle discipline: stride-1 costs ~windowTokens× the chunk
    * variant's hashing (per-position md5 of the window text) but that
    * work is map-side; the fingerprint Exchange still moves only
    * (fp, id, pos) triples. Unlike the chunk variant there is NO
    * text-carrying rebuild join at all: the duplicate-span starts
    * collapse to one sorted array per doc (id-only shuffle) and the
    * token filter + rebuild run as array expressions over the staged
    * tokenization — text never leaves its partition. */
  def dropRepeatedPassagesUnaligned(idCol: String, textCol: String,
                                    windowTokens: Int = 16,
                                    tokensCol: Option[String] = None)
                                   (docs: DataFrame): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive: $windowTokens")
    val cw = windowTokens
    val toks = Staged.stage(docs
      .select(col(idCol), tokensCol.map(col).getOrElse(tokens(col(textCol))).as("__w"))
      .filter(size(col("__w")) > 0)
      .withColumn("__n", size(col("__w")).cast("long")))
    // staged: the keep-first aggregate AND the later-occurrence probe
    // both consume the occurrence table, and its lineage is the stride-1
    // explode + per-window md5 — the expensive pass of the operator;
    // unstaged it runs twice
    val occ = Staged.stage(toks.filter(col("__n") >= cw)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0L), col("__n") - cw),
          i => md5(array_join(slice(col("__w"), (i + 1).cast("int"), lit(cw)), " ")))))
      .select(col(idCol), col("pos").cast("long").as("__pos"), col("col").as("__fp")))
    val firsts = occ.groupBy("__fp")
      .agg(min(struct(col(idCol), col("__pos"))).as("__k"))
    val dupStarts = occ.join(firsts, "__fp")
      .filter(struct(col(idCol), col("__pos")) =!= col("__k"))
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__ds"))
    toks.join(dupStarts, Seq(idCol), "left_outer")
      .withColumn("__dss", coalesce(col("__ds"), array().cast("array<bigint>")))
      .withColumn("__keep", filter(sequence(lit(0L), col("__n") - 1),
        t => !exists(col("__dss"), s => s <= t && t < s + cw)))
      .select(col(idCol),
        array_join(transform(col("__keep"),
          t => element_at(col("__w"), (t + 1).cast("int"))), " ").as("clean_text"),
        col("__n").as("n_tokens"),
        size(col("__keep")).cast("long").as("n_kept"))
  }

  /** Cross-document boilerplate STRIP — the df-threshold twin of
    * [[dropRepeatedPassages]], and a genuinely different policy:
    * keep-first passage dedup preserves ONE copy of every repeated
    * chunk (the repetition is assumed to be content someone copied);
    * this operator drops EVERY occurrence of any chunk whose document
    * frequency exceeds `maxDf` — the CCNet/RefinedWeb "remove lines
    * duplicated across shards" rule, where a navigation menu, cookie
    * banner, or license header is junk in ALL the documents that carry
    * it, including the first. Documents are split into consecutive
    * `chunkTokens`-token chunks (the line proxy for a corpus whose
    * texts carry no newlines), chunk df is counted across the corpus,
    * chunks with df > maxDf vanish everywhere, and each document is
    * rebuilt from its surviving chunks in order. A document that was
    * pure boilerplate survives as an empty rewrite (n_kept = 0) rather
    * than disappearing — the caller decides whether to gate it out.
    *
    * Output: (id, n_tokens, n_kept, clean_md5) — the rewrite is
    * emitted as its md5 so the driver hash-compare never ships
    * reconstructed text; callers wanting the text use the same rebuild
    * expression on `__keep`.
    *
    * Shuffle discipline (the file's id-only rule): the df count groups
    * md5 fingerprints — (fp, id) pairs ride the Exchange, never chunk
    * text (md5, not a 64-bit hash: at corpus scale a birthday collision
    * on 64 bits would silently delete a unique passage as "frequent").
    * The high-df fingerprint set is the SMALL side (df > maxDf chunks
    * are rare by construction) and broadcasts into an anti-join; the
    * surviving positions collapse to one sorted array per doc (id-only
    * shuffle) and the rebuild is an array expression over the staged
    * tokenization joined back by id — the only text-carrying join,
    * same as [[dropRepeatedPassages]]. */
  def stripFrequentChunks(idCol: String, textCol: String,
                          chunkTokens: Int = 8, maxDf: Int = 1,
                          tokensCol: Option[String] = None)
                         (docs: DataFrame): DataFrame = {
    val cw = chunkTokens
    stripFrequentCore(idCol, textCol, chunkTokens, maxDf, tokensCol)(docs)
      .select(col(idCol),
        size(col("__w")).cast("long").as("n_tokens"),
        aggregate(col("__k"), lit(0L),
          (acc, p) => acc + least(lit(cw.toLong), size(col("__w")) - p * cw))
          .as("n_kept"),
        md5(array_join(transform(col("__k"),
          p => stripChunkAt(col("__w"), p, cw)), " ")).as("clean_md5"))
  }

  /** [[stripFrequentChunks]] emitting the REWRITTEN TEXT instead of its
    * md5 — the form that composes into a pipeline (the rewrite replaces
    * the document's text and everything downstream runs on the cleaned
    * corpus; q133). Output: (id, clean_text, n_tokens, n_kept). */
  def stripFrequentChunksText(idCol: String, textCol: String,
                              chunkTokens: Int = 8, maxDf: Int = 1,
                              tokensCol: Option[String] = None)
                             (docs: DataFrame): DataFrame = {
    val cw = chunkTokens
    stripFrequentCore(idCol, textCol, chunkTokens, maxDf, tokensCol)(docs)
      .select(col(idCol),
        array_join(transform(col("__k"),
          p => stripChunkAt(col("__w"), p, cw)), " ").as("clean_text"),
        size(col("__w")).cast("long").as("n_tokens"),
        aggregate(col("__k"), lit(0L),
          (acc, p) => acc + least(lit(cw.toLong), size(col("__w")) - p * cw))
          .as("n_kept"))
  }

  private def stripChunkAt(w: Column, p: Column, cw: Int): Column =
    array_join(slice(w, (p * cw + 1).cast("int"), lit(cw)), " ")

  /** Shared core of the two strip emitters: (id, __w tokens, __k kept
    * chunk positions sorted). */
  private def stripFrequentCore(idCol: String, textCol: String,
                                chunkTokens: Int, maxDf: Int,
                                tokensCol: Option[String])
                               (docs: DataFrame): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    val cw = chunkTokens
    val toks = Staged.stageCut(docs
      .select(col(idCol), tokensCol.map(col).getOrElse(tokens(col(textCol))).as("__w"))
      .filter(size(col("__w")) > 0)
      .withColumn("__nc", ceil(size(col("__w")) / lit(cw.toDouble)).cast("long")))
    val occ = Staged.stageCut(toks.select(col(idCol),
        posexplode(transform(sequence(lit(0L), col("__nc") - 1),
          i => md5(stripChunkAt(col("__w"), i, cw)))))
      .select(col(idCol), col("pos").cast("long").as("__pos"), col("col").as("__fp")))
    // a doc repeating a chunk internally counts once toward its df —
    // "frequent" means frequent ACROSS documents, like line-dedup
    val frequent = occ.groupBy("__fp")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxDf)
      .select("__fp")
    val keptPos = occ.join(broadcast(frequent), Seq("__fp"), "left_anti")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__pos"))).as("__keep"))
    toks.join(keptPos, Seq(idCol), "left_outer")
      .withColumn("__k", coalesce(col("__keep"), array().cast("array<bigint>")))
  }

  /** Duplicated-SPAN detection: the maximal runs of corpus-duplicated
    * `n`-token windows inside every document — the reporting half of
    * substring-level dedup (Lee et al.'s "Deduplicating Training Data
    * Makes Language Models Better" removes exactly these spans; this
    * emits them, with [[dropRepeatedPassages]] as the removal twin at
    * chunk granularity). A window (n consecutive tokens) is duplicated
    * when its text occurs more than once in the corpus — across
    * documents or repeated within one; consecutive duplicated window
    * starts merge into one maximal span via the islands rule
    * (pos − row_number is constant exactly on a run), so a copied
    * paragraph surfaces as ONE (start, length) span, not fifty
    * overlapping grams. Output: (id, span_start, span_ntokens),
    * 0-based token index.
    *
    * Shuffle discipline: windows are hashed to a 128-bit md5
    * fingerprint before any Exchange — the duplication count groups
    * (fp) and the hit join moves (fp, id, pos), never text; the
    * per-doc islands window is doc-partitioned. The gram table is
    * staged (the count and the probe both read it); nothing re-scans
    * the corpus. */
  def dupSpans(idCol: String, textCol: String, n: Int = 5)
              (docs: DataFrame): DataFrame = {
    require(n >= 1, s"window length must be positive: $n")
    val grams = Staged.stage(docs
      .select(col(idCol), tokens(col(textCol)).as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__w) - $n), " +
          s"i -> md5(concat_ws(' ', slice(__w, i + 1, $n))))")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("__h")))
    val dup = grams.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L).select("__h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    grams.join(dup, "__h")
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") - min("pos") + n).as("span_ntokens"))
      .select(col(idCol), col("span_start"),
        col("span_ntokens").cast("long").as("span_ntokens"))
  }

  /** Duplicate-span MASKING — the removal twin of [[dupSpans]] (which
    * reports): every token covered by a corpus-duplicated `n`-token
    * window is dropped from the document, and the survivors are
    * rejoined in order. This is substring-level dedup at token grain
    * (Lee et al. 2022's ExactSubstr removal applied symmetrically:
    * ALL copies of a duplicated run go — the keep-one-copy variants
    * live at chunk grain in q72/q93). Emits
    * (id, clean_text, n_tokens, n_removed); `clean_text` is
    * whitespace-normalized by construction (token rejoin), fully
    * masked documents survive as empty strings — removal must never
    * silently drop the ROW, that's the retention pipeline's call.
    *
    * Exactness: windows are md5-fingerprinted; flagged positions,
    * the anti join, and the ordered rejoin are pure integer/string
    * ops — both engines rebuild byte-identical text.
    *
    * Shape: the (id, token-array) projection stages once and feeds
    * the gram side and the rebuild side; the gram table stages once
    * and feeds the duplication count and the flag explode (n× fanout
    * on DUPLICATED windows only); the anti join runs at (id, pos)
    * grain with ids co-partitioned; per-doc rebuild state is bounded
    * by document length. Text crosses an Exchange exactly once — as
    * tokens into the rebuild aggregate. */
  def maskDupSpans(idCol: String, textCol: String, n: Int = 5)
                  (docs: DataFrame): DataFrame = {
    require(n >= 1, s"window length must be positive: $n")
    // fanned (conf-gated no-op on cluster layouts): the tokenize runs
    // at the input layout's width otherwise. EAGER cuts, not lazy
    // stages (r12): arr feeds three consumers and grams two — AQE
    // launches them concurrently and the r12 q200 profile caught the
    // racing stages blocked on the unmaterialized cache (three 1.6 s
    // stage pairs: one computing at 1.0 s CPU, its twin at 0.0 CPU).
    val arr = Staged.stageCut(Skew.fanOutForCpu(docs, Seq(col(idCol)))
      .select(col(idCol), tokens(col(textCol)).as("__w")))
    val grams = Staged.stageCut(arr.where(size(col("__w")) >= n)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, size(__w) - $n), " +
          s"i -> md5(concat_ws(' ', slice(__w, i + 1, $n))))")))
      .select(col(idCol), col("pos").cast("long").as("ws"),
        col("col").as("__h")))
    val dup = grams.groupBy("__h").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1L).select("__h")
    val flagged = grams.join(dup, "__h")
      .select(col(idCol),
        explode(expr(s"sequence(ws, ws + ${n - 1})")).as("pos"))
      .distinct()
    val kept = arr
      .select(col(idCol), posexplode(col("__w")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("col").as("__t"))
      .join(flagged, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("__t")))),
            x => x.getField("__t"))).as("__clean"),
        count(lit(1)).as("__kept"))
    arr.select(col(idCol), size(col("__w")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__clean"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
    * — the MOSS scheme): hash every `k`-token window, then in each run
    * of `w` consecutive window hashes select the minimum — the
    * guarantee is that any shared substring of at least w+k−1 tokens
    * contributes at least one IDENTICAL selected fingerprint to both
    * documents, at an expected density of 2/(w+1) instead of
    * one-hash-per-token. The position-robust document signature for
    * plagiarism-style overlap detection: [[dupSpans]] reports exact
    * duplicated runs, winnowing gives the bounded sketch you can
    * inverted-index at corpus scale.
    *
    * Determinism: the per-window argmin is the smallest (hash, pos)
    * pair — leftmost-on-ties, encoded as one integer
    * key = h·2²³ + pos (h = 40 md5 bits, pos < 2²³ — 40 + 23 = 63
    * bits, the widest cap that keeps the packed BIGINT exact.
    * Positions past `cap` (default 2²³) window-hashes per document are
    * dropped, so a megadoc beyond ~8M tokens loses winnow coverage of
    * its TAIL only — and the loss is FLAGGED, not silent: every output
    * row carries `truncated` = this document's gram count exceeded the
    * cap, computed scan-side from the token count BEFORE the position
    * filter, so [[sketchProbePairs]]/[[nearDupProbe]] consumers can see
    * which sketches under-detect. At that length the right fix is
    * upstream chunking, and the head sketch still fires on any shared
    * run that touches the first 8M tokens; both engines compare
    * identical BIGINTs, no float or tie surface. Output: one row per
    * distinct selected fingerprint, (id, fp, fp_pos, truncated);
    * documents with fewer than w window-hashes emit nothing (no full
    * window exists).
    *
    * `cap` is test-size-able (≤ 2²³ — the key PACKING multiplier stays
    * 2²³ so the encoding is identical at any cap); production callers
    * never pass it.
    *
    * Shape: the gram projection + one doc-partitioned window pass
    * (rolling min + per-doc max ride the same Exchange), then the
    * distinct — (id, fp)-grain, never text. */
  def winnowFingerprints(idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4,
                         cap: Long = 8388608L)
                        (docs: DataFrame): DataFrame = {
    require(k >= 1, s"gram length must be positive: $k")
    require(w >= 1, s"winnow window must be positive: $w")
    require(cap >= 1 && cap <= 8388608L,
      s"cap must stay within the 2^23 packing bound: $cap")
    val grams = docs
      .select(col(idCol), tokens(col(textCol)).as("__w"))
      .where(size(col("__w")) >= k)
      .withColumn("truncated",
        (size(col("__w")) - lit(k - 1)).cast("long") > lit(cap))
      .select(col(idCol), col("truncated"), posexplode(expr(
        s"transform(sequence(0, size(__w) - $k), " +
          s"i -> md5(concat_ws(' ', slice(__w, i + 1, $k))))")))
      .select(col(idCol), col("truncated"),
        col("pos").cast("long").as("pos"),
        (conv(substring(col("col"), 1, 10), 16, 10).cast("long") *
          lit(8388608L) + col("pos")).as("__key"))
      .where(col("pos") < lit(cap))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val sel = grams
      .withColumn("__min", min("__key").over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
          w - 1)))
      .withColumn("__last", max("pos").over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)))
      .where(col("pos") <= col("__last") - (w - 1))
    sel.select(col(idCol),
        expr("__min DIV 8388608").as("fp"),
        expr("__min % 8388608").as("fp_pos"),
        col("truncated"))
      .distinct()
  }

  /** Winnow-sketch overlap pairs — the MOSS pipeline closed end to end:
    * [[winnowFingerprints]] gives each document a ~2/(w+1)-density
    * sketch; this inverted-indexes the sketches and emits every pair
    * sharing at least `minShared` distinct fingerprints, with the
    * overlap fraction against the SMALLER sketch in basis points
    * (the containment convention — an excerpt embedded in a long doc
    * still scores high). The candidate-pair generator that does what
    * [[ngramJaccardPairs]] does at a fraction of the index size,
    * because only selected fingerprints ever reach the pair join.
    *
    * Same df-cap discipline as the shingle index: fingerprints present
    * in more than `maxDf` documents are dropped before pairing
    * (boilerplate fps would otherwise explode the join quadratically
    * — search engines drop stop terms for the same reason). All
    * emitted numbers are exact integers. Output:
    * (doc_a, doc_b, n_shared, n_a, n_b, overlap_bp), doc_a < doc_b.
    *
    * Shape: the (id, fp)-distinct sketch table is STAGED (df filter,
    * both join sides, and the per-doc sizes all read it); the df cut
    * and sizes are fp-/id-grain aggregates; the pair join is fp-grain
    * and df-bounded; the final count is pair-grain. No text anywhere
    * past the gram hash. */
  def winnowOverlapPairs(idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4, minShared: Int = 2,
                         maxDf: Long = 1000L)
                        (docs: DataFrame): DataFrame = {
    require(minShared >= 1, s"minShared must be positive: $minShared")
    require(maxDf >= 2, s"maxDf < 2 would drop every shareable fp: $maxDf")
    val fps = Staged.stage(
      winnowFingerprints(idCol, textCol, k, w)(docs)
        .select(col(idCol).as("doc"), col("fp")).distinct())
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select("fp")
    val sizes = fps.groupBy("doc").agg(count(lit(1)).as("__sz"))
    val idx = fps.join(keep, "fp")
    val pairs = idx.as("a").join(idx.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    pairs
      .join(sizes.select(col("doc").as("doc_a"), col("__sz").as("n_a")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("__sz").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("n_shared * 10000 DIV least(n_a, n_b)").as("overlap_bp"))
  }

  /** Probe-vs-base sketch pairing — the incremental / serving half of
    * the winnow family: given a BASE sketch (the standing corpus,
    * winnowed once and persisted) and a PROBE sketch (a delta batch,
    * winnowed on arrival — selection is doc-local, so sketches compose
    * by union and split by filter), emit every (probe, base) pair
    * sharing at least `minShared` fingerprints with the
    * containment-convention overlap. This is the near-dup ADMISSION
    * check: "is this incoming document substantially already in the
    * corpus?" — probe-intra-probe pairs are deliberately out of scope
    * (intra-batch dedup is [[winnowOverlapPairs]] on the batch).
    *
    * The df cap comes from the BASE index (the standing corpus defines
    * what is boilerplate), so each probe fingerprint joins at most
    * `maxDf` base documents — the probe cost is
    * O(|probe sketch| · maxDf) however large the corpus. Input frames
    * are (doc, fp) in any multiplicity (distinct applied); output:
    * (probe_id, base_id, n_shared, n_probe, n_base, overlap_bp). */
  def sketchProbePairs(minShared: Int = 2, maxDf: Long = 1000L)
                      (baseFps: DataFrame, probeFps: DataFrame): DataFrame = {
    require(minShared >= 1, s"minShared must be positive: $minShared")
    require(maxDf >= 1, s"maxDf must be positive: $maxDf")
    val base = Staged.stage(baseFps
      .select(col("doc").cast("long").as("__bdoc"), col("fp")).distinct())
    val probe = Staged.stage(probeFps
      .select(col("doc").cast("long").as("__pdoc"), col("fp")).distinct())
    val keep = base.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select("fp")
    val bsz = base.groupBy(col("__bdoc")).agg(count(lit(1)).as("n_base"))
    val psz = probe.groupBy(col("__pdoc")).agg(count(lit(1)).as("n_probe"))
    val pairs = probe.join(base.join(keep, "fp"), Seq("fp"))
      .groupBy(col("__pdoc").as("probe_id"), col("__bdoc").as("base_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    pairs
      .join(psz.select(col("__pdoc").as("probe_id"), col("n_probe")), "probe_id")
      .join(bsz.select(col("__bdoc").as("base_id"), col("n_base")), "base_id")
      .select(col("probe_id"), col("base_id"), col("n_shared"),
        col("n_probe"), col("n_base"),
        expr("n_shared * 10000 DIV least(n_probe, n_base)").as("overlap_bp"))
  }

  /** Split-contamination certificate: does the train/test partition of
    * `docs` (a `splitCol` with 'train'/'test' among its values) leak? —
    * every `n`-token window of every test document is checked for
    * presence anywhere in train, reported as one audit row
    * (n_train, n_test, n_test_contaminated, n_shared_fps,
    * contamination_bp). [[decontaminate]]-family semantics applied to
    * the INTERNAL split a release ships with: hash-random splits leak
    * by construction whenever near-duplicates exist — the exact
    * failure [[graft.ops.Sampling]]'s cluster-keyed split prevents —
    * and this query proves or disproves it for a given corpus + split.
    *
    * Windows are md5-fingerprinted and per-doc deduped BEFORE the
    * explode leaves the row; the df cap bounds the cross-split probe
    * (a boilerplate gram in >maxDf docs is dropped — it would flag
    * everything and explode the join). The staged fp table feeds the
    * df cut, the train set, and the test probe. */
  def splitContamination(splitCol: String, idCol: String, textCol: String,
                         n: Int = 8, maxDf: Long = 1000L)
                        (docs: DataFrame): DataFrame = {
    require(n >= 1, s"window length must be positive: $n")
    val staged = Staged.stage(docs)
    val fps = Staged.stage(staged
      .select(col(idCol), col(splitCol).as("__sp"),
        tokens(col(textCol)).as("__w"))
      .where(size(col("__w")) >= n)
      .select(col(idCol), col("__sp"), explode(expr(
        s"array_distinct(transform(sequence(0, size(__w) - $n), " +
          s"i -> md5(concat_ws(' ', slice(__w, i + 1, $n)))))")).as("fp")))
    val keep = fps.groupBy("fp")
      .agg(countDistinct(col(idCol)).as("__df"))
      .where(col("__df") <= maxDf).select("fp")
    val idx = fps.join(keep, "fp")
    val trainFps = idx.where(col("__sp") === "train")
      .select("fp").distinct()
    val hits = idx.where(col("__sp") === "test")
      .select(col("fp"), col(idCol))
      .join(trainFps, "fp")
    val contaminated = hits.agg(
      countDistinct(col(idCol)).as("n_test_contaminated"),
      countDistinct("fp").as("n_shared_fps"))
    val totals = staged.agg(
      sum(when(col(splitCol) === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col(splitCol) === "test", 1L).otherwise(0L)).as("n_test"))
    totals.crossJoin(broadcast(contaminated))
      .select(col("n_train"), col("n_test"),
        col("n_test_contaminated"), col("n_shared_fps"),
        expr("""CASE WHEN n_test = 0 THEN NULL
          ELSE n_test_contaminated * 10000 DIV n_test END""")
          .as("contamination_bp"))
  }
}
