package graft.streaming

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** A document arriving on the intake stream (matches
  * [[CorpusStream.schema]]). */
case class StreamDoc(doc_id: Long, ts: java.sql.Timestamp, text: String,
                     lang: String, source: String)

/** One updated reading from [[CorpusStream.distinctMonitor]]: the
  * sketch's current fill (`sketch_n` ≤ k) and the KMV estimate of the
  * source's distinct-shingle cardinality so far. */
/** One updated reading from [[CorpusStream.lengthQuantileMonitor]]: the
  * source's current doc count and histogram-sketch token-count
  * quantile estimates (same read-off as the batch q130). */
case class SourceLengthQuantiles(source: String, n_docs: Long,
                                 p50: Double, p90: Double, p99: Double)

case class SourceDistinctEstimate(source: String, sketch_n: Long,
                                  kmv_est: Double)

/** One updated reading from [[CorpusStream.oovMonitor]]: the source's
  * running token count, out-of-vocabulary count, and exact
  * basis-point OOV rate against the FROZEN vocabulary. */
case class SourceOovRate(source: String, n_tokens: Long, n_oov: Long,
                         oov_bp: Long)

/** One updated reading from [[CorpusStream.manifestMonitor]]: a
  * shard's running doc count and XOR digest — equal, after any
  * exactly-once prefix, to `CorpusManifest.additiveManifest`'s row
  * over the delivered documents. */
case class ShardDigest(shard: Long, n_docs: Long, xor_digest: Long)

/** One updated reading from [[CorpusStream.frequencyMonitor]]: the
  * source's token count so far and the Count–Min estimate for each
  * probe term (same cells, same min read-off as the batch q137). */
case class SourceTermFrequencies(source: String, n_tokens: Long,
                                 est: Map[String, Long])

/** One updated reading from [[CorpusStream.heavyHitterMonitor]]: the
  * source's token count so far and its ≤ k-entry Misra–Gries summary
  * (the q152 guarantees hold over the delivered prefix). */
case class SourceHeavyHitters(source: String, n_tokens: Long,
                              hitters: Map[String, Long])

/** One updated reading from [[CorpusStream.driftMonitor]]: the KS
  * distance between the source's arrived length distribution (n_a
  * docs) and the frozen baseline (n_b rows), as the exact integer
  * fraction d_num/d_den plus basis points — the q164 arithmetic. */
case class SourceDrift(source: String, n_a: Long, n_b: Long,
                       d_num: Long, d_den: Long, d_bp: Long)

/** Streaming corpus intake: the q62 pipeline's gate stages re-expressed
  * over an unbounded document stream — how a crawl feed enters the
  * training corpus continuously instead of via nightly batches.
  *
  * The division of labor with the batch side is deliberate:
  *   - PER-DOCUMENT stages (normalize, quality gate, language gate) are
  *     stateless projections — identical code paths work on batch and
  *     streaming frames, so the gates can never drift between the two.
  *   - EXACT dedup, within a batch and against everything the stream
  *     ever admitted, is one keyed operator on the content hash
  *     ([[dedupedDocs]]): the query's own state holds one flag per
  *     admitted hash, so a batch probes only its own keys and never
  *     re-reads the sink — hashes move, documents don't (the
  *     [[graft.ops.IncrementalDedup]] discipline). State grows with the
  *     distinct hashes, as the sink's hash column does; large state
  *     belongs on the RocksDB state-store provider.
  *   - The SINK only writes: an append-only `batch=<id>` delta log.
  *     Near-dup folding of the accumulated deltas is the scheduled
  *     `IncrementalDedup.dedupDelta` batch job, NOT the stream — pair
  *     candidate generation needs the corpus-wide inverted index, which
  *     streaming state should never hold.
  */
object CorpusStream {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** File-source stream over a directory of document files (json lines).
    * At scale this is the landing zone a crawler writes to; Spark tracks
    * processed files in the checkpoint. */
  def readDocs(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** The q62 gate chain as a stateless streaming projection: normalize →
    * token count gate (≥ minTokens) → language-ID gate (≠ und). Emits
    * (doc_id, ts, source, lang, lang_pred, n_tokens, norm_text,
    * content_hash). Token array materialized once per row (no lambda
    * CSE), hash computed BEFORE any stateful stage so dedup state holds
    * 32-byte hashes, never documents. */
  def cleanDocs(docs: DataFrame, minTokens: Int = 5): DataFrame = {
    // byte-identical with the batch normalize (q47 / CorpusPipeline) ON
    // PURPOSE, oracle-pinned there — including its edge behavior that a
    // LEADING/TRAILING control char survives as one edge space (trim
    // runs first). Batch/stream hash parity outranks edge polish: a doc
    // must get the same content_hash on both paths, or replays that
    // arrive via backfill (batch) vs live (stream) would dedup
    // differently.
    val norm = regexp_replace(
      regexp_replace(lower(trim(col("text"))), "[\\x00-\\x1F\\x7F]", " "),
      "  +", " ")
    docs
      .withColumn("norm_text", norm)
      .withColumn("__w", TextFunctions.tokens(col("norm_text")))
      .withColumn("n_tokens", size(col("__w")).cast("long"))
      .withColumn("lang_pred", TextFunctions.langIdFromTokens(col("__w")))
      .filter(col("n_tokens") >= minTokens && col("lang_pred") =!= "und")
      .withColumn("content_hash", md5(col("norm_text")))
      .select("doc_id", "ts", "source", "lang", "lang_pred", "n_tokens",
        "norm_text", "content_hash")
  }

  /** Streaming distinct-content cardinality monitor: per-source KMV
    * sketches ([[graft.functions.KmvSketchAgg]]) carried across
    * micro-batches in keyed state — "how much NEW content is each feed
    * actually contributing?" as a continuously updated metric instead
    * of a nightly batch count.
    *
    * The keyed state IS the sketch: ≤ k longs per source, bounded
    * forever regardless of stream volume (no timeout needed), updated
    * with the Aggregator's own pure `reduce` — so the streaming
    * estimate after any prefix of micro-batches equals the batch q121
    * estimate over the same rows, by construction rather than by test
    * luck. Because a KMV sketch is duplicate-absorbing, the monitor is
    * replay-IDEMPOTENT: re-delivered micro-batches (at-least-once
    * sources, checkpoint recovery, crawler re-fetches) cannot move the
    * estimate, so no exactly-once sink is required downstream.
    * Emits one updated (source, sketch_n, kmv_est) row per source per
    * trigger (Update mode). */
  def distinctMonitor(docs: DataFrame, n: Int = 3, k: Int = 256)
      : org.apache.spark.sql.Dataset[SourceDistinctEstimate] = {
    import docs.sparkSession.implicits._
    val agg = new graft.functions.KmvSketchAgg[Long](k, identity)
    docs
      .select(col("source"),
        explode(TextFunctions.shingles(col("text"), n)).as("shingle"))
      .select(col("source"),
        conv(substring(md5(col("shingle")), 1, 12), 16, 10)
          .cast("long").as("h"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], SourceDistinctEstimate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val next = rows.foldLeft(state.getOption.getOrElse(agg.zero)) {
            (b, r) => agg.reduce(b, r._2)
          }
          state.update(next)
          SourceDistinctEstimate(source, next.length.toLong,
            graft.functions.KmvSketchAgg.estimate(next, k))
      }
  }

  /** Live per-source token-count quantiles — the streaming twin of the
    * q130 histogram sketch, completing the intake health monitors
    * (distinct-shingle sketch, length distribution): "did the crawl's
    * document-length profile just shift?" as a continuously updated
    * reading instead of a nightly batch.
    *
    * The keyed state IS the histogram: a bin→count map per source,
    * bounded by #bins (max length / binWidth) forever, merged with
    * plain addition — the same associativity that gives the batch
    * operator its map-side partials. The read-off re-runs
    * [[graft.ops.Sketches.estimateFromBins]], the EXACT arithmetic of
    * the batch query, so after any exactly-once prefix the reading
    * equals q130 over the same rows by construction.
    *
    * Unlike the KMV monitor a COUNT sketch is not replay-absorbing (a
    * redelivered batch adds its counts again) — wire it downstream of
    * [[dedupedDocs]] so every redelivered document is dropped before it
    * reaches state; that is the documented intake order anyway. */
  def lengthQuantileMonitor(docs: DataFrame, binWidth: Long = 16L)
      : org.apache.spark.sql.Dataset[SourceLengthQuantiles] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("source"),
        (size(TextFunctions.tokens(col("text"))).cast("double") / binWidth)
          .cast("long").as("bin"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], SourceLengthQuantiles](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val next = rows.foldLeft(state.getOption.getOrElse(Map.empty[Long, Long])) {
            (m, r) => m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
          }
          state.update(next)
          val n = next.valuesIterator.sum
          def est(q: Double) = graft.ops.Sketches.estimateFromBins(next, binWidth, q)
          SourceLengthQuantiles(source, n, est(0.5), est(0.9), est(0.99))
      }
  }

  /** Live per-source term-frequency sketch — the streaming twin of the
    * q137 Count–Min sketch, completing the intake health quartet
    * (distinct-shingle KMV, length quantiles, funnel, term frequency):
    * "how often is this token arriving per feed?" as a continuously
    * updated reading with bounded state.
    *
    * The keyed state IS the sketch: one row-major d×w counter matrix
    * per source (d·w longs forever, whatever the vocabulary does),
    * merged with plain addition — the same order-independence that
    * makes the batch sketch partition-invariant. Cells come from
    * [[graft.ops.Sketches.cmsCell]], the EXACT arithmetic of the batch
    * query's cell column, and the read-off is the same min-over-rows —
    * so after any exactly-once prefix the reading equals q137 over the
    * delivered rows by shared code, upper-bounds the true count always,
    * and is exact while the sketch is roomy.
    *
    * Like the histogram monitor (and unlike the duplicate-absorbing
    * KMV), a COUNT sketch is not replay-absorbing — wire it downstream
    * of [[dedupedDocs]] so no redelivered document ever reaches state;
    * that is the documented intake order anyway. */
  def frequencyMonitor(docs: DataFrame, probeTerms: Seq[String],
                       d: Int = 4, w: Int = 64)
      : org.apache.spark.sql.Dataset[SourceTermFrequencies] = {
    require(d > 0 && w > 0, s"bad sketch dims d=$d w=$w")
    require(probeTerms.nonEmpty, "need at least one probe term")
    import docs.sparkSession.implicits._
    docs
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], SourceTermFrequencies](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val next = state.getOption.getOrElse(new Array[Long](d * w))
          rows.foreach { case (_, tok) =>
            var i = 0
            while (i < d) {
              next(i * w + graft.ops.Sketches.cmsCell(i, tok, w)) += 1L
              i += 1
            }
          }
          state.update(next)
          val total = next.view.slice(0, w).sum // row 0 holds every token once
          SourceTermFrequencies(source, total,
            probeTerms.map(t => t ->
              graft.ops.Sketches.cmsEstimateFromState(next, d, w, t)).toMap)
      }
  }

  /** Live per-source heavy hitters: ≤ k Misra–Gries counters per source
    * in keyed state, fed through
    * [[graft.functions.MisraGriesAgg.reduce]] — the EXACT sequential
    * update of the batch q152 sketch — so after any delivered prefix
    * the summary carries the theorem's guarantees over that prefix:
    * every token with true count > n/k is present and every counter
    * sits in [t − n/k, t]. (Counter VALUES are arrival-order-dependent,
    * exactly as in batch — the laws, not the numbers, are the
    * contract.) Completes the intake-health quartet's live side:
    * distinct (KMV), quantiles (histogram), point frequency (CMS),
    * top-k (this). A count sketch is not replay-absorbing: wire it
    * downstream of [[dedupedDocs]]. */
  def heavyHitterMonitor(docs: DataFrame, k: Int = 20)
      : org.apache.spark.sql.Dataset[SourceHeavyHitters] = {
    require(k >= 1, s"k must be >= 1: $k")
    import docs.sparkSession.implicits._
    val agg = graft.functions.MisraGriesAgg[String](k, identity)
    docs
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Map[String, Long]), SourceHeavyHitters](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          var (n, m) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          rows.foreach { case (_, tok) => m = agg.reduce(m, tok); n += 1 }
          state.update((n, m))
          SourceHeavyHitters(source, n, m)
      }
  }

  /** Exact content dedup for the whole stream, in one keyed operator:
    * documents group by `content_hash`, and the keyed state is one flag
    * per hash the stream has admitted. A hash not yet in state emits
    * its batch's min-`doc_id` row (nulls first, so the survivor does
    * not depend on which input partition delivered each copy; copies
    * tied on `doc_id` keep either one) and sets the flag; a hash
    * already in state emits nothing. That one probe covers same-batch
    * duplicates, re-fetches and redeliveries, however far apart their
    * event times are.
    *
    * There is no watermark: no late row is silently dropped (a novel
    * document with an old event time is admitted), and no no-data batch
    * ever runs. The state is never evicted, so it grows with the
    * distinct hashes — the same growth as the sink's hash column, but a
    * batch reads only its own keys. A replayed batch re-runs against
    * the state version it first ran with and emits the same rows. */
  def dedupedDocs(cleaned: DataFrame): DataFrame = {
    val id = cleaned.schema.fieldIndex("doc_id")
    val hash = cleaned.schema.fieldIndex("content_hash")
    val minIdFirst: Ordering[Row] = Ordering.by((r: Row) =>
      if (r.isNullAt(id)) None else Some(r.getLong(id)))
    cleaned
      .groupByKey((r: Row) => r.getString(hash))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (_, rows, admitted) =>
        if (admitted.exists) Iterator.empty
        else {
          admitted.update(true)
          Iterator.single(rows.min(minIdFirst))
        }
      }(Encoders.scalaBoolean, Encoders.row(cleaned.schema))
      .toDF()
  }

  /** Append-only corpus sink: each micro-batch of [[dedupedDocs]]'s
    * output — already novel against everything the stream admitted —
    * lands in `sinkPath/batch=<id>/`. Batch-id-named directories +
    * overwrite make replays IDEMPOTENT (a crashed batch re-runs into the
    * same dir with the same rows); the corpus itself is never rewritten
    * — this is an append-only delta log, exactly the shape
    * `IncrementalDedup.dedupDelta` folds with a scheduled near-dup pass.
    * A batch writes only its own rows and reads nothing back, so its
    * cost does not grow with the sink. */
  def corpusIngestSink(deduped: DataFrame, sinkPath: String,
                       checkpoint: String): DataStreamWriter[Row] =
    foreachBatchSink(deduped, checkpoint) { (batch, batchId) =>
      writeNovelBatch(batch, batchId, sinkPath)
    }

  /** The shared sink scaffolding — one place owns the output mode and
    * checkpoint wiring for every foreachBatch corpus sink. */
  private def foreachBatchSink(deduped: DataFrame, checkpoint: String)
                              (body: (DataFrame, Long) => Unit)
                              : DataStreamWriter[Row] =
    deduped.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        body(rawBatch, batchId)
      }

  /** One micro-batch of the append-only sink: an idempotent
    * `batch=<id>` overwrite. Returns Unit — a consumer that wants the
    * written rows reads the `batch=<id>` directory back itself (the
    * plain sink must not pay a per-batch read-back it would only
    * discard). */
  private def writeNovelBatch(batch: DataFrame, batchId: Long,
                              sinkPath: String): Unit =
    batch.write.mode("overwrite").parquet(s"$sinkPath/batch=$batchId")

  /** [[corpusIngestSink]] plus SERVING-INDEX MAINTENANCE — the streaming
    * twin of the q94 story: each micro-batch's novel documents are
    * embedded by the caller-supplied `embed` (at scale a model-serving
    * join or a precomputed embedding lookup; must emit
    * (doc_id, embedding)) and folded into the persisted
    * [[graft.ops.Similarity.writeIvfPqIndex]] table via
    * [[graft.ops.Similarity.appendIvfPqIndex]] — FROZEN models,
    * batch-sized encode, base index never re-read. The PQ geometry
    * (m, dim) is DERIVED from the persisted codebook table at sink
    * construction, never re-stated by the caller: a restated `m` that
    * disagreed with the codebooks would slice wrong subvectors into
    * schema-identical, silently corrupt codes.
    *
    * Index identity is FIRST-WRITE-WINS per doc id: the batch anti-joins
    * on the index's id column (column-pruned scan) and appends only ids
    * the index doesn't hold. That one join buys two properties — a
    * replayed batch (foreachBatch may re-run after a crash; a bucketed
    * append is not idempotent by itself) appends nothing the first run
    * already did, and a batch carrying the same id twice with different
    * content cannot double-insert (the within-batch id collapse below
    * picks one deterministically). The cost is that a RE-CRAWLED id with
    * new content keeps serving its original embedding until the
    * periodic full rebuild (the documented frozen-model maintenance
    * split) — an append-only bucketed table cannot update in place.
    *
    * Per-batch cost: the embed + anti-join result is staged, in a
    * per-batch `withStaged` scope, before the emptiness check, so the
    * (expensive, possibly model-serving) `embed` runs once per batch,
    * not once for the check and again for the append.
    *
    * Reader visibility: appends run in the micro-batch's cloned session;
    * a SERVING session that has already resolved the index table keeps
    * its cached file listing and must `REFRESH TABLE` (or re-resolve) to
    * observe newly appended cells — the standard Spark catalog contract
    * for externally-written tables. */
  def corpusIngestSinkWithIndex(deduped: DataFrame, sinkPath: String,
                                checkpoint: String,
                                embed: DataFrame => DataFrame,
                                indexTable: String,
                                nBuckets: Int = 8): DataStreamWriter[Row] = {
    val geom = deduped.sparkSession.table(s"${indexTable}_codebooks")
      .agg(countDistinct(col("subspace")), max(size(col("centv")))).head
    val m = geom.getLong(0).toInt
    val dim = m * geom.getInt(1)
    foreachBatchSink(deduped, checkpoint) { (rawBatch, batchId) =>
      val spark = rawBatch.sparkSession
      writeNovelBatch(rawBatch, batchId, sinkPath)
      val novel = spark.read.parquet(s"$sinkPath/batch=$batchId")
      // one embedding per id even when a batch carries the same id with
      // DIFFERENT content (the intake dedups on content hash, not id):
      // keep the hash-min row deterministically
      val onePerId = graft.ops.Merge.lastWriterWins(
        Seq("doc_id"), Seq(col("content_hash").asc))(novel)
      graft.ops.Staged.withStaged {
        val fresh = graft.ops.Staged.stage(embed(onePerId).join(
          spark.table(indexTable)
            .select(col("neighbor_id").as("doc_id")),
          Seq("doc_id"), "left_anti"))
        if (!fresh.isEmpty)
          graft.ops.Similarity.appendIvfPqIndex(fresh, "doc_id", "embedding",
            indexTable, dim, m, nBuckets)
      }
    }
  }

  /** Live distribution-drift monitor: per source, the two-sample KS
    * distance between the ARRIVED length distribution and a FROZEN
    * baseline histogram (yesterday's corpus, the accepted snapshot) —
    * the continuously-updated "is this feed still sending the same
    * kind of documents?" alarm, the live twin of the batch q164. The
    * keyed state is the same binned histogram the quantile monitor
    * keeps (value-domain-bounded, not row-bounded); the read-off is
    * [[graft.ops.Stats.ksFromHistograms]] — the EXACT integer
    * arithmetic of the batch query, so after any exactly-once prefix
    * the reading equals q164 over (delivered rows, baseline) by shared
    * arithmetic (StatsSpec pins the function ≡ the DataFrame op). A
    * count histogram is not replay-absorbing: wire it downstream of
    * [[dedupedDocs]], the documented intake order. */
  def driftMonitor(docs: DataFrame, baseline: Map[Long, Long],
                   binWidth: Long = 16L)
      : org.apache.spark.sql.Dataset[SourceDrift] = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    import docs.sparkSession.implicits._
    docs
      .select(col("source"),
        (size(TextFunctions.tokens(col("text"))).cast("double") / binWidth)
          .cast("long").as("bin"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Long, Long], SourceDrift](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val next = rows.foldLeft(state.getOption.getOrElse(Map.empty[Long, Long])) {
            (m, r) => m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
          }
          state.update(next)
          val (na, nb, dNum, dDen, dBp) =
            graft.ops.Stats.ksFromHistograms(next, baseline)
          SourceDrift(source, na, nb, dNum, dDen, dBp)
      }
  }

  /** Streaming admission control: every micro-batch is contract-checked
    * by [[graft.ops.Constraints.report]] — the batch q155 operator
    * VERBATIM, so live ≡ batch by shared code — and routed whole:
    * batches whose `required` rules all pass land in
    * `acceptPath/batch=<id>`, failing batches are QUARANTINED to
    * `quarantinePath/batch=<id>` instead of silently poisoning the
    * corpus, and every batch's full (rule, metric, pass, admitted)
    * report is persisted to `reportPath/batch=<id>` either way — the
    * audit trail an intake pipeline owes its consumers. Rules outside
    * `required` are advisory: reported, never blocking.
    *
    * Batch-granular by design: a delivery that violates its contract
    * (truncated feed, schema drift upstream, encoding breakage) is
    * usually wrong AS A WHOLE, and quarantine-then-inspect beats
    * row-level salvage. Replay-idempotent the [[corpusIngestSink]]
    * way — every write is an `overwrite` of the batch-id directory,
    * and the decision is a deterministic function of the batch's rows.
    * Empty micro-batches are skipped entirely (no report row — an
    * empty Aggregate would report null metrics for min/max rules and
    * spuriously quarantine nothing). */
  def admissionControl(docs: DataFrame,
                       rules: Seq[graft.ops.Constraints.Rule],
                       required: Set[String],
                       acceptPath: String, quarantinePath: String,
                       reportPath: String, checkpoint: String)
      : DataStreamWriter[Row] = {
    require(rules.nonEmpty, "admission control needs at least one rule")
    val names = rules.map(_.name).toSet
    require(required.subsetOf(names),
      s"required rules ${required -- names} are not declared")
    foreachBatchSink(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val spark = batch.sparkSession
        import spark.implicits._
        val rep = graft.ops.Constraints.report(batch, rules)
          .as[(String, Double, Long)].collect() // ≤ #rules rows
        val admitted = rep.forall { case (rule, _, pass) =>
          !required(rule) || pass == 1L }
        rep.toSeq
          .map { case (rule, metric, pass) =>
            (rule, metric, pass, if (admitted) 1L else 0L) }
          .toDF("rule", "metric", "pass", "admitted")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$reportPath/batch=$batchId")
        val target = if (admitted) acceptPath else quarantinePath
        batch.write.mode("overwrite").parquet(s"$target/batch=$batchId")
      }
    }
  }

  /** Streaming OOV-rate monitor: per-source running token / out-of-
    * vocabulary counters against a FROZEN vocabulary — the tokenizer-
    * drift alarm (an OOV spike means a feed switched domain, language,
    * or encoding; every OOV token costs extra subword pieces at
    * training time). The live twin of the batch q105 coverage read:
    * state is two longs per source, updated by pure addition, so after
    * any exactly-once prefix the reading EQUALS the batch aggregate
    * over (delivered rows, frozen vocab) — live ≡ batch by
    * construction. oov_bp is an exact integer (n_oov·10⁴ DIV
    * n_tokens). The vocab is frozen like the drift baseline and the
    * ANN index: refresh by periodic batch rebuild (q105's top-k
    * vocabulary), never in-stream. Not replay-absorbing (counters
    * re-add on re-delivery) — run downstream of [[dedupedDocs]], the
    * standard at-least-once wiring for the counter monitors. */
  def oovMonitor(docs: DataFrame, vocab: Set[String])
      : org.apache.spark.sql.Dataset[SourceOovRate] = {
    require(vocab.nonEmpty, "the frozen vocabulary must be non-empty")
    import docs.sparkSession.implicits._
    docs
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nt"),
        size(filter(TextFunctions.tokens(col("text")),
          w => !w.isInCollection(vocab))).cast("long").as("no"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), SourceOovRate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (source, rows, state) =>
          val (t0, o0) = state.getOption.getOrElse((0L, 0L))
          val (t, o) = rows.foldLeft((t0, o0)) {
            case ((ta, oa), r) => (ta + r._2, oa + r._3)
          }
          state.update((t, o))
          SourceOovRate(source, t, o, if (t == 0L) 0L else o * 10000L / t)
      }
  }

  /** Live release manifest: per id-range shard, the running doc count
    * and XOR digest of [[graft.ops.CorpusManifest.docDigest]] — two
    * longs of keyed state updated by pure `+1` / `^`, so after any
    * exactly-once prefix the reading EQUALS the batch
    * `additiveManifest` over the delivered rows (live ≡ batch by
    * shared digest code and XOR's order-freedom; replay, micro-batch
    * boundaries, and partition layout cannot perturb it). This is the
    * intake-integrity axis of the monitor suite: a nightly batch
    * manifest of the landed corpus that DISAGREES with the live
    * digest means rows were lost, duplicated, or mutated between
    * intake and storage — and the first mismatching shard says where.
    * Sealed shards (id ranges that stopped arriving) freeze; only
    * growing shards' rows keep updating. */
  def manifestMonitor(docs: DataFrame, shardSize: Long = 1000L)
      : org.apache.spark.sql.Dataset[ShardDigest] = {
    require(shardSize >= 1, s"shardSize must be positive: $shardSize")
    import docs.sparkSession.implicits._
    docs
      .select(expr(s"CAST(doc_id DIV $shardSize AS BIGINT)").as("shard"),
        graft.ops.CorpusManifest.docDigest(col("doc_id"), col("text")).as("h"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long), ShardDigest](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (shard, rows, state) =>
          val (n0, x0) = state.getOption.getOrElse((0L, 0L))
          val (n, x) = rows.foldLeft((n0, x0)) {
            case ((na, xa), r) => (na + 1L, xa ^ r._2)
          }
          state.update((n, x))
          ShardDigest(shard, n, x)
      }
  }

  /** Streaming near-dup admission probe: every arriving document is
    * winnowed on the spot ([[graft.ops.Dedup.winnowFingerprints]] —
    * selection is doc-local, so a micro-batch sketches independently
    * of everything else) and its sketch probed against a FROZEN base
    * sketch index via [[graft.ops.Dedup.sketchProbePairs]] — the batch
    * q176 operator VERBATIM, so live ≡ batch by shared code. Flagged
    * (probe, base) pairs land in `outPath/batch=<id>` — the review
    * queue that answers "is this incoming document substantially
    * already in the corpus?" before it is admitted, at
    * O(|batch sketch|·maxDf) per batch however large the base.
    *
    * The base sketch is frozen — the same discipline as the IVF index
    * and drift baseline: refresh it by a periodic batch rebuild, not
    * in-stream (a self-updating index would make admission decisions
    * order-dependent under replay). Replay-idempotent the
    * [[corpusIngestSink]] way: batch-id directory overwrites of a
    * deterministic function of (batch rows, frozen base). Intra-batch
    * pairs are deliberately absent (q173 on the batch is that job).
    * Empty batches skip. */
  def nearDupProbe(docs: DataFrame, baseFps: DataFrame,
                   outPath: String, checkpoint: String,
                   k: Int = 3, w: Int = 4, minShared: Int = 2,
                   maxDf: Long = 1000L)
      : DataStreamWriter[Row] =
    foreachBatchSink(docs, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        graft.ops.Staged.withStaged {
          val probeFps = graft.ops.Dedup
            .winnowFingerprints("doc_id", "text", k, w)(batch)
            .select(col("doc_id").as("doc"), col("fp"))
          graft.ops.Dedup.sketchProbePairs(minShared, maxDf)(baseFps, probeFps)
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        }
      }
    }
}
