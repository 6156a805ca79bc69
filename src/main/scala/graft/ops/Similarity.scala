package graft.ops

import graft.functions.VectorFunctions._
import graft.functions.CosineSimilarityExpr.cosineSim
import graft.functions.let
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{KnownNotNull, Literal}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Approximate-nearest-neighbor search over an embedding column
  * (north star), and the embedding-cell operators built on its IVF
  * assignment:
  *   - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *     set against the full corpus; O(Q·N·dim) but embarrassingly
  *     parallel and shuffle-free until the final per-query top-k.
  *   - [[lshTopK]] — data-oblivious scale path: both sides bucketed by
  *     random-hyperplane LSH; candidate generation is an equi-join on
  *     the bucket id, so the pair count drops from Q·N to Q·bucket size.
  *   - [[ivfTopK]] — density-adaptive scale path: hash-sampled (and
  *     optionally Lloyd-refined, [[ivfCentroids]]) cells, probed by a
  *     per-query expression; optionally scoped to the query's own or
  *     another label ([[LabelScope]]).
  *   - [[pqTopK]] and [[ivfPqTopK]] — product-quantized scans with exact
  *     rerank; [[writeIvfPqIndex]], [[appendIvfPqIndex]] and
  *     [[ivfPqTopKIndexed]] persist, grow and serve the IVF-PQ index.
  *   - [[semDedup]], [[indexBalanceAudit]], [[clusterSeparation]] and
  *     [[clusterTopTermsDeterministic]] — dedup and audits over the cells.
  *
  * Every trained or sampled operator takes a [[HashFamily]]: XxHash64
  * in production, Md5 for the DuckDB-oracled queries, which then run the
  * production body. Results round similarity to 4 decimals *before*
  * ranking so ordering is reproducible across engines/float paths; ties
  * break on corpus id.
  */
object Similarity {

  /** The shared score→rank→truncate tail of every ANN variant. This is
    * where the cross-engine determinism contract lives — round(sim, 4)
    * BEFORE ranking, ties broken on neighbor_id, rank cast to long — so
    * a tweak applied to one variant cannot silently diverge the others
    * (q50 compares methods under these exact rules). */
  /** `carryOut` columns ride into the output between query_id and the
    * neighbor columns. The sim is [[graft.functions.Num.round4]]ed —
    * rounded 4dp with the `+ 0.0` IEEE negative-zero collapse — before
    * it becomes the rank key (the q54/q88/q103/q112 parity lesson: a
    * near-zero sim rounds to -0.0 or 0.0 by engine summation-order
    * luck; the oracle hash distinguishes the zeros AND DuckDB's sort
    * splits them apart while Spark's row write normalizes, so the
    * collapse must land before ORDER BY on both sides). Every variant's
    * oracle mirrors `+ 0.0` in its sim CTE. */
  private def rankTopK(candidates: DataFrame, k: Int,
                       carryOut: Seq[String] = Nil): DataFrame = {
    val scored = candidates
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", graft.functions.Num.round4(cosineSim(col("qv"), col("cv"))))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rk", row_number().over(w).cast("long")).filter(col("rk") <= k)
      .select((Seq("query_id") ++ carryOut ++ Seq("neighbor_id", "sim", "rk")).map(col): _*)
  }

  /** Exact top-k cosine neighbors for each row of `queries` (small,
    * broadcast) against `corpus`. Excludes self-matches on id equality. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // corpus side fanned out: the Q·N cosine scoring otherwise runs at
    // the single-file scan's width — q50 profiled its brute-force
    // branches as 1-4 s SINGLE-task stages (no-op on cluster layouts)
    rankTopK(fannedVecs(corpus, idCol, vecCol).crossJoin(broadcast(q)), k)
  }

  /** The corpus as `(neighbor_id, cv)` rows. */
  private def corpusVecs(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))

  /** [[corpusVecs]] through [[Skew.fanOutForCpu]]. Every user of this
    * one frame in a plan reads the same exchange (Spark reuses it), so
    * [[bruteForceTopK]] and [[ivfPqTopK]]'s encode and rerank scan and
    * fan out the corpus once between them. */
  private def fannedVecs(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    Skew.fanOutForCpu(corpusVecs(corpus, idCol, vecCol), Seq(col("neighbor_id")))

  /** LSH-bucketed approximate top-k: only candidates sharing a
    * `nBits`-bit hyperplane signature bucket are scored. With B buckets
    * the scored-pair count is ~Q·nProbe·N/B. Recall is tuned by `nProbe`
    * (multi-probe: each query also probes the nProbe-1 buckets reached by
    * flipping its smallest-|projection| bits — the likeliest sign errors)
    * without re-bucketing the corpus; probe buckets are distinct, so no
    * candidate pair is scored twice and no dedup pass is needed.
    *
    * `family` draws the hyperplanes ([[HashFamily]]). Under
    * [[HashFamily.Md5]] with nProbe = 1, bucket assignment, candidate
    * join and ranking are all reproducible in DuckDB (q98's oracle);
    * the multi-probe flip ordering is the one piece not mirrored in SQL.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nBits: Int = 8, nProbe: Int = 1,
              family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(lshProbes(col(vecCol), nBits, nProbe, family = family)).as("bucket"))
    // fanned out like [[bruteForceTopK]], below the bucket projection:
    // nBits hyperplane projections per corpus row, otherwise serialized
    // at the scan's width
    val c = fannedVecs(corpus, idCol, vecCol)
      .withColumn("bucket", lshBucket(col("cv"), nBits, family = family))
    rankTopK(c.join(q, "bucket"), k)
  }

  /** A model table held on the driver — centroids `(centroid_id,
    * centv)` or codebooks `(subspace, code, centv)` — as its rows, in
    * column order, under its schema. Every model enters plans as one
    * literal ([[literalArray]]), so its size is bounded by
    * [[MaxModelValues]]: a larger one fails here instead of being
    * shipped inside every plan. */
  private final case class Model(rows: Seq[Row], schema: StructType) {
    private val values = rows.iterator.map(valueCount).sum
    require(values <= MaxModelValues,
      s"an ANN model of ${rows.size} rows holds $values values, more than the " +
        s"$MaxModelValues a plan literal may carry (centroids hold nCentroids·dim " +
        "values, codebooks m·k·dim/m); train fewer centroids or codes")
    def toDF(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, schema)
  }

  /** The most values (ids, codes and vector components) one model may
    * hold: 2^20, about 4 MB of floats, e.g. 4,080 centroids of dim 256.
    * The literal is part of every plan that reads the model — its
    * string form, its task binaries — so this bounds what a plan
    * carries. SemDeDup at web scale (~√N cells) is far above it. */
  val MaxModelValues: Long = 1L << 20

  private def valueCount(v: Any): Long = v match {
    case r: Row => r.toSeq.iterator.map(valueCount).sum
    case s: Iterable[_] => s.iterator.map(valueCount).sum
    case _ => 1L
  }

  /** A caller's model table, collected in the given column order. It is
    * model-sized (nCentroids or m·k rows), never corpus-sized. */
  private def collectModel(table: DataFrame, cols: String*): Model = {
    val t = table.select(cols.map(col): _*)
    Model(t.collect().toSeq, t.schema)
  }

  /** `rows` as ONE plan literal of type `array<struct<t>>`. Generated
    * code holds a complex literal by reference, not by value, so every
    * model of one shape compiles to the same classes. The literal is
    * printed in plan strings and serialized into every task binary, so
    * this form suits model-sized tables; [[Model]] enforces the bound. */
  private def literalArray(rows: Seq[Row], t: StructType): Column =
    GraftSqlBridge.column(Literal.create(rows, ArrayType(t, containsNull = false)))

  /** All centroids as ONE plan literal, `array<struct<centroid_id,
    * centv>>` — the shape that lets nearest-centroid selection run as a
    * pure per-row expression, with no join, no broadcast and no packing
    * aggregate. Its size is nCentroids·dim values. */
  private def centroidPack(cents: Model): Column = literalArray(cents.rows, cents.schema)

  private def collectCentroids(centroids: DataFrame): Model =
    collectModel(centroids, "centroid_id", "centv")

  /** Per-centroid score structs `(−sim, centroid_id)` for vector `v`
    * against the centroids `cents`, the score finished by `family`
    * ([[HashFamily.cellScore]]; Md5 rounds it to 4dp). Ascending struct
    * order is then exactly the old window contract `orderBy(sim.desc,
    * centroid_id)`: `array_min` = nearest centroid, `array_sort` head =
    * probe order. Null sims (zero vectors) coalesce to −(−2) = 2 so they
    * sort last, like desc_nulls_last did. */
  private def centroidScores(cents: Model, v: Column, family: HashFamily): Column =
    transform(centroidPack(cents), ce =>
      struct(family.cellScore(coalesce(cosineSim(v, ce.getField("centv")), lit(-2.0))).as("ns"),
        ce.getField("centroid_id").as("centroid_id")))

  /** The id of the best centroid of `cents` under `scores` (the argmax,
    * as `array_min`). Over a non-empty model it is never null, and it is
    * typed so: Catalyst infers `isnotnull` for a join on a nullable cell
    * id and pushes it below the projection that computes the id, which
    * scores every row twice. */
  private def nearest(cents: Model, scores: Column): Column = {
    val id = array_min(scores).getField("centroid_id")
    if (cents.rows.isEmpty) id
    else GraftSqlBridge.column(KnownNotNull(GraftSqlBridge.expression(id)))
  }

  /** The nearest centroid's id for vector `v`. */
  private def nearestCell(cents: Model, v: Column, family: HashFamily): Column =
    nearest(cents, centroidScores(cents, v, family))

  /** `(neighbor_id, cv, centroid_id, carry…)`: every corpus row with its
    * nearest cell, one projection over the centroid literal. */
  private def assign(corpus: DataFrame, idCol: String, vecCol: String, cents: Model,
                     carry: Seq[String], family: HashFamily): DataFrame =
    corpus.select(col(idCol).as("neighbor_id") +: col(vecCol).as("cv")
      +: nearestCell(cents, col(vecCol), family).as("centroid_id") +: carry.map(col): _*)

  /** The `nProbe` best `(−sim, centroid_id)` structs under `scores`. */
  private def probeOrder(scores: Column, nProbe: Int): Column =
    slice(array_sort(scores), 1, nProbe)

  /** One row per (query, probed cell) from a frame holding a
    * [[probeOrder]] column `__ps`; every other column is carried. The
    * carried columns are computed below the explode, so a per-query
    * value (a LUT) is built once per query, not once per probe. The
    * explode is the outer form because an inner explode of a column
    * makes Catalyst infer `size(__ps) > 0` and push it below the
    * projection computing the probe list, which computes it twice; the
    * list is never empty over a non-empty model, and an empty model's
    * null cell joins nothing. */
  private def explodeProbes(q: DataFrame): DataFrame = {
    val carried = q.columns.filter(_ != "__ps").map(col)
    q.select(carried :+ explode_outer(col("__ps")).as("__p"): _*)
      .select(carried :+ col("__p").getField("centroid_id").as("centroid_id"): _*)
  }

  /** One Lloyd step: assign every corpus vector to its nearest centroid
    * (expression argmax over the centroid literal — no shuffle), then
    * replace each centroid with its cell mean. The mean is a
    * posexplode → groupBy(centroid_id, pos) → avg: the per-dimension
    * partial aggregation collapses each map partition to ≤ nCentroids·dim
    * rows before the shuffle, so the exchange is cluster-sized, not
    * data-sized. The mean is `family`'s ([[HashFamily.cellMean]]: Md5's
    * is a ×10⁴ integer sum over the count, exact in any engine), cast to
    * float. Cells that capture no points drop out (standard k-means
    * behavior — the live centroid count can only shrink; a SQL GROUP BY
    * drops them alike). */
  private def lloydStep(c: DataFrame, cents: DataFrame, family: HashFamily): DataFrame =
    // fanned out: the assignment pass is nCentroids cosines per corpus
    // row — serialized at the scan's width otherwise (q50's ivf_lloyd
    // branch; no-op on cluster layouts)
    // the cell is projected below the explode: an expression beside a
    // generator is evaluated per generated row, dim times per vector
    Skew.fanOutForCpu(c, Seq(col("neighbor_id")))
      .select(nearestCell(collectCentroids(cents), col("cv"), family).as("centroid_id"),
        col("cv"))
      .select(col("centroid_id"), posexplode(col("cv")))
      .groupBy("centroid_id", "pos").agg(family.cellMean(col("col")).as("m"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("centroid_id"),
        transform(col("pm"), s => s.getField("m").cast("float")).as("centv"))

  /** The label scope of a filtered IVF search ([[ivfTopK]]): each
    * query's neighbors are only the corpus rows whose `labelCol` equals
    * its own ([[SameLabel]] — "search within my category", the
    * tenant/language/label filter every vector store exposes) or
    * differs from it ([[OtherLabel]] — hard-negative mining: closest in
    * embedding space, wrong by label, the SimCSE/DPR-style contrastive
    * triple). The label rides the cell assignment itself, and the
    * predicate runs at the cell-candidate join — before any ranking
    * slot is spent (FAISS IDSelector / Qdrant-filter semantics), with no
    * corpus-sized join-back. */
  sealed abstract class LabelScope(val labelCol: String,
                                   val keep: (Column, Column) => Column)
  final case class SameLabel(label: String) extends LabelScope(label, _ === _)
  final case class OtherLabel(label: String) extends LabelScope(label, _ =!= _)

  /** IVF (inverted-file) approximate top-k — the other classic ANN scale
    * path. Coarse quantizer: the `nCentroids` corpus vectors smallest
    * under `family`'s seed key (xxhash64(id), or md5 for the oracle) — a
    * deterministic pseudo-random sample with no
    * trained model, no count() pre-pass, and no global window, collected
    * once to the driver ([[ivfCentroids]]): Catalyst plans
    * orderBy(hash).limit(n) as TakeOrderedAndProject, so every partition
    * keeps only nCentroids candidate rows and the full corpus never
    * funnels through one task. `nIters` optional Lloyd
    * rounds ([[lloydStep]]) move the sampled centroids to their cell
    * means — cells then follow data density instead of the sample.
    *
    * Assignment and probing are both PURE EXPRESSIONS over the centroids
    * held as one plan literal ([[centroidScores]]): nearest-centroid argmax
    * is `array_min`, the nProbe probe list is `slice(array_sort(…))`.
    * No per-row window, no Exchange anywhere between the corpus scan and
    * the candidate equi-join — the round-3 verdict's top finding was the
    * old window-based argmax shuffling the full corpus (with vectors,
    * ~16× amplified) for a computation with zero cross-row dependency.
    *
    * Scored pairs drop from Q·N to ~Q·nProbe·N/nCentroids. Compared to
    * [[lshTopK]]: IVF adapts to the data distribution (cells follow
    * density) at the cost of the assignment pass; LSH is data-oblivious.
    *
    * `scope` restricts each query's candidates by label ([[LabelScope]];
    * the output then carries the neighbor's label after query_id).
    * Probes are still chosen by unfiltered cell proximity, so a
    * selective same-label scope may leave a query fewer than k
    * candidates in its probed cells (raise nProbe); a different-label
    * scope keeps most of a probed cell.
    *
    * Under [[HashFamily.Md5]] the seeds are the md5(id)-smallest vectors,
    * keyed by their id, and every ordering decision — cell argmax, probe
    * ranking, final top-k — runs on the 4dp-rounded cosine with id
    * tiebreaks, so the whole search reproduces in DuckDB (q96, and with
    * a scope q103 and q131; q35 runs XxHash64).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int = 16,
              nProbe: Int = 2, nIters: Int = 0, scope: Option[LabelScope] = None,
              family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val cents = collectCentroids(ivfCentroids(corpus, idCol, vecCol, nCentroids, nIters, family))
    val carry = scope.map(_.labelCol).toSeq
    // fanned out: the nearest-centroid argmax is nCentroids cosines per
    // corpus row, serialized at the scan's width otherwise (same remedy
    // as [[ivfPqTopK]]'s encode; no-op on cluster layouts)
    val assigned = assign(Skew.fanOutForCpu(corpus, Seq(col(idCol))), idCol, vecCol,
      cents, carry, family)
    val probes = explodeProbes(queries.select(col(idCol).as("query_id") +:
      col(vecCol).as("qv") +: carry.map(col(_).as("__qm")) :+
      probeOrder(centroidScores(cents, col(vecCol), family), nProbe).as("__ps"): _*))
    val cand = assigned.join(probes, "centroid_id")
    rankTopK(scope.fold(cand)(s => cand.filter(s.keep(col(s.labelCol), col("__qm")))),
      k, carryOut = carry)
  }

  /** The coarse-quantizer centroid table `(centroid_id, centv
    * array<float>)`. The seeds are the first `nCentroids` rows of the
    * driver-collected sample ([[hashSample]]) in `family`'s seed order,
    * as a local relation. `nIters` Lloyd rounds ([[lloydStep]]) then run
    * distributed over the WHOLE corpus, not the sample, so nothing
    * corpus-sized is collected. Public so an index build can materialize
    * centroids once and reuse them across query batches (with
    * [[assignCells]]) instead of re-deriving per query; under Md5 with
    * [[assignCells]] it is the DuckDB-oracled k-means (q124). */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int, nIters: Int = 0,
                   family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val seeded = centroidModel(hashSample(corpus, idCol, vecCol, nCentroids, family), nCentroids)
      .toDF(corpus.sparkSession)
    (0 until nIters).foldLeft(seeded)((cs, _) => lloydStep(c, cs, family))
  }

  /** Bucketed saveAsTable with ONE shuffle by the bucket key first, so
    * each write task holds exactly one bucket and the table lands as
    * nBuckets files (guide-§6 output sizing). Without it every input
    * task opens a file per bucket it sees — the r12 q94 thread dumps
    * caught all 32 cores forking a shell per created file
    * (RawLocalFileSystem.setPermission → Shell.runCommand chmod), ~50 s
    * of blocked run time for 4 s of CPU on a 256-file write. The
    * repartition's hash IS the bucket spec's hash, and it moves only
    * the thin encoded rows, never the vectors. */
  private def writeBucketed(df: DataFrame, nBuckets: Int, bucketCol: String,
                            mode: String, table: String): Unit =
    df.repartition(nBuckets, col(bucketCol))
      .write.mode(mode).bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Stage an embedding corpus for SHUFFLE-FREE ANN serving: materialize
    * the LSH bucket id and bucket the table by it at write time — the
    * same pay-the-shuffle-once-at-ingest layout as
    * [[Dedup.writeHashBucketed]]. Every query batch then candidate-joins
    * against the staged table with NO Exchange on the corpus side
    * (`BucketedAnnSpec` counts the exchanges), which is the difference
    * between re-shuffling 100 TB of vectors per query batch and
    * streaming them straight out of the scan. */
  def writeLshBucketed(corpus: DataFrame, idCol: String, vecCol: String,
                       table: String, nBits: Int, nBuckets: Int): Unit =
    writeBucketed(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("bucket", lshBucket(col("cv"), nBits)),
      nBuckets, "bucket", "overwrite", table)

  /** [[lshTopK]] over a [[writeLshBucketed]] staging table —
    * output-identical for the same nBits, but the corpus arrives
    * pre-partitioned on the bucket id so only the (small) probe side
    * ever shuffles. */
  def lshTopKBucketed(spark: org.apache.spark.sql.SparkSession, table: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nBits: Int, nProbe: Int = 1): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      explode(lshProbes(col(vecCol), nBits, nProbe)).as("bucket"))
    rankTopK(spark.table(table).join(q, "bucket"), k)
  }

  /** Nearest-centroid cell per corpus row — the IVF assignment pass,
    * `(neighbor_id, cv, centroid_id)` plus the `carry` columns unchanged.
    * Pure projection over the centroids collected into one plan literal:
    * NO shuffle, no window, regardless of corpus size. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: DataFrame, carry: Seq[String] = Nil,
                  family: HashFamily = HashFamily.XxHash64): DataFrame =
    assign(corpus, idCol, vecCol, collectCentroids(centroids), carry, family)

  // ---- Product quantization (the compression half of IVF-PQ) ----
  //
  // At 100 TB of float32 embeddings, the ANN serving scan is I/O-bound on
  // the vectors themselves. PQ stores each vector as m sub-centroid codes
  // (dim 64, m = 8, k = 16 → 8 bytes vs 256: 32×), and queries score
  // against codes via a per-query lookup table (ADC) — the corpus-side
  // scan reads CODES ONLY; full vectors are fetched just for the top
  // refine·k rerank join. The models (IVF seeds and PQ codebooks) train
  // in plain Scala on the driver, from ONE collect of a hash sample
  // bounded by `trainN` rows (1024 × 64 floats ≈ 256 KB by default), the
  // FAISS split (Jégou et al., TPAMI 2011): nothing about training scales
  // with the corpus, and no Lloyd round is a Spark job. The models stay on
  // the driver and enter every plan as literals (nCentroids·dim centroid
  // values, m·k·dim/m codebook values), so nothing is staged, broadcast
  // or re-aggregated for them.

  /** Squared L2 between two float arrays (expression). */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The `n` rows with the smallest `(seedKey(id), id)` under `family`,
    * collected to the driver in that order as `(centroid ids, vectors)`:
    * one job, planned as TakeOrderedAndProject (each partition keeps `n`
    * rows; no global sort, no count pre-pass). The id tiebreak makes the
    * cut a total order even under hash collisions ('training is
    * deterministic', which ivfPqTopKIndexed ≡ ivfPqTopK rests on, must
    * not assume collision absence). Rows with a null vector are never
    * sampled, under either family. `prep` maps the vector before
    * sampling; the null filter runs on the raw column first, so Catalyst
    * cannot push it below `prep` and evaluate `prep` twice per row.
    * Callers bound `n` by `trainN` or the centroid count, never by the
    * corpus size. */
  private def hashSample(corpus: DataFrame, idCol: String, vecCol: String,
                         n: Int, family: HashFamily, prep: Column => Column = identity)
      : (Array[Long], Array[Array[Double]]) = {
    val rows = corpus
      .filter(col(vecCol).isNotNull)
      .select(family.seedKey(col(idCol)).as("__h"), col(idCol).as("__sid"),
        prep(col(vecCol)).cast("array<double>").as("cv"))
      .orderBy("__h", "__sid").limit(n)
      .select(family.centroidId(col("__h"), col("__sid")), col("cv")).collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray))
  }

  /** `(centroid_id, centv array<float>)`: the first `n` sample rows,
    * keyed by their centroid ids. */
  private def centroidModel(sample: (Array[Long], Array[Array[Double]]), n: Int): Model =
    Model(sample._1.iterator.zip(sample._2.iterator).take(n)
        .map { case (h, v) => Row(h, v.map(_.toFloat).toSeq) }.toSeq,
      StructType(Seq(StructField("centroid_id", LongType, nullable = false),
        StructField("centv", ArrayType(FloatType)))))

  /** PQ codebooks `(subspace, code, centv array<float>)` trained on the
    * driver. Per subspace, the seeds are the first
    * `k` of the sample's first `trainN` vectors; each of `nIters` Lloyd
    * rounds assigns every sample slice to its nearest code (squared L2,
    * ties to the smallest code), replaces each code with its cell mean
    * (summed in sample order, cast to float) and drops the cells that
    * captured nothing. Codes are then renumbered 0..k'-1 in code order,
    * because the ADC lookup (element_at(lut, code+1)) and the LUT builder
    * are POSITIONAL over the code-sorted codebook array. `centv` is of
    * `family`'s [[HashFamily.codebookType]]: Md5 keeps the sampled
    * doubles, which its oracle slices unrounded (q99, q120). */
  private def codebookModel(vs: Array[Array[Double]], trainN: Int, dim: Int,
                            m: Int, k: Int, nIters: Int, family: HashFamily): Model = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val xs = vs.take(trainN)
    xs.foreach(x => require(x.length == dim,
      s"a sampled vector has ${x.length} elements, not dim = $dim"))
    val t = family.codebookType
    def centv(c: Array[Double]): Seq[Any] = if (t == FloatType) c.map(_.toFloat).toSeq else c.toSeq
    val rows = (0 until m).flatMap { j =>
      val pts = xs.map(x => java.util.Arrays.copyOfRange(x, j * sub, j * sub + sub))
      val cents = (0 until nIters).foldLeft(pts.take(k))((cs, _) => lloydRound(pts, cs))
      cents.iterator.zipWithIndex.map { case (c, code) => Row(j, code, centv(c)) }
    }
    Model(rows, StructType(Seq(StructField("subspace", IntegerType, nullable = false),
      StructField("code", IntegerType, nullable = false),
      StructField("centv", ArrayType(t)))))
  }

  /** One driver-local Lloyd round over sample slices: nearest code per
    * point, then the cell means (a double sum in sample order over the
    * count, rounded to float); empty cells drop out, survivors keep
    * their order, so a later tie still goes to the smaller code. */
  private def lloydRound(pts: Array[Array[Double]],
                         cents: Array[Array[Double]]): Array[Array[Double]] = {
    val sums = cents.map(c => new Array[Double](c.length))
    val counts = new Array[Long](cents.length)
    pts.foreach { p =>
      val c = nearestCode(p, cents)
      counts(c) += 1
      var i = 0
      while (i < p.length) { sums(c)(i) += p(i); i += 1 }
    }
    cents.indices.filter(counts(_) > 0)
      .map(c => sums(c).map(x => (x / counts(c)).toFloat.toDouble)).toArray
  }

  /** Index of the code nearest `p` by squared L2; ties (and all-NaN
    * distances) go to the smaller index. */
  private def nearestCode(p: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cents.length) {
      val q = cents(c)
      var d = 0.0
      var i = 0
      while (i < p.length) { val e = p(i) - q(i); d += e * e; i += 1 }
      if (d < bestD) { best = c; bestD = d }
      c += 1
    }
    best
  }

  /** PQ codebooks `(subspace, code, centv array<float>)`: `m` subspaces
    * of dim/m dims, `k` codes each, trained on the driver
    * ([[codebookModel]]) from the `trainN`-row hash sample — one Spark
    * job, the sample collect; the result is a local relation. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  dim: Int, m: Int, k: Int, trainN: Int = 1024,
                  nIters: Int = 2): DataFrame = {
    val family = HashFamily.XxHash64
    codebookModel(hashSample(corpus, idCol, vecCol, trainN, family)._2, trainN, dim, m, k,
      nIters, family).toDF(corpus.sparkSession)
  }

  /** IVF seeds and PQ codebooks from ONE sample collect of `family`'s
    * [[HashFamily.unitVector]]s: the seeds are the first `nCentroids`
    * rows of the same ordering the codebooks train on, so
    * [[ivfCentroids]] (nIters = 0) and [[pqCodebooks]] read one sample
    * of max(trainN, nCentroids) rows. Where the family's cells read the
    * raw vector ([[HashFamily.cellInput]], Md5), the seeds are a second,
    * nCentroids-row sample of raw vectors in the same order. */
  private def ivfPqModel(corpus: DataFrame, idCol: String, vecCol: String,
                         nCentroids: Int, dim: Int, m: Int, kCodes: Int,
                         trainN: Int, nIters: Int, family: HashFamily): (Model, Model) = {
    val s = hashSample(corpus, idCol, vecCol, math.max(trainN, nCentroids), family,
      family.unitVector)
    val cells = family.cellInput(s, hashSample(corpus, idCol, vecCol, nCentroids, family))
    (centroidModel(cells, nCentroids),
      codebookModel(s._2, trainN, dim, m, kCodes, nIters, family))
  }

  /** All codebooks as ONE plan literal: an array over subspaces, in
    * subspace order, of `(subspace, cb)`, where `cb` holds that
    * subspace's `(code, centv)` entries in code order — the order the
    * ADC lookup (element_at(lut, code+1)) is positional over. Its size
    * is m·k·dim/m values. */
  private def codebookPack(cbs: Model): Column = {
    val t = cbs.schema
    val entry = StructType(Seq(t("code"), t("centv")))
    val bySubspace = cbs.rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (j, rs) =>
      Row(j, rs.sortBy(_.getInt(1)).map(r => Row(r.getInt(1), r.get(2))))
    }
    literalArray(bySubspace, StructType(Seq(t("subspace"),
      StructField("cb", ArrayType(entry, containsNull = false), nullable = false))))
  }

  private def collectCodebooks(codebooks: DataFrame): Model =
    collectModel(codebooks, "subspace", "code", "centv")

  /** Per packed subspace j, `f(x_j, cb_j)`. The vector is bound once
    * per row and its slice x_j once per subspace
    * ([[graft.functions.let]]), not rebuilt for each of the subspace's
    * codes. */
  private def perSubspace(pack: Column, vec: Column, sub: Int)
                         (f: (Column, Column) => Column): Column =
    let(vec)(v => transform(pack, jcb =>
      let(slice(v, jcb.getField("subspace") * sub + 1, lit(sub)))(
        f(_, jcb.getField("cb")))))

  /** PQ codes of `vec`: per subspace, the code whose centroid minimizes
    * `dist(x_j, centv)`, ties to the smaller code (struct ordering). */
  private def pqCodes(pack: Column, vec: Column, sub: Int)
                     (dist: (Column, Column) => Column): Column =
    perSubspace(pack, vec, sub)((x, cb) =>
      array_min(transform(cb, ce =>
        struct(dist(x, ce.getField("centv")).as("d"), ce.getField("code").as("code"))))
        .getField("code"))

  /** ADC lookup table of `vec`: lut[j][c] = `score(x_j, centv_{j,c})`. */
  private def pqLut(pack: Column, vec: Column, sub: Int)
                   (score: (Column, Column) => Column): Column =
    perSubspace(pack, vec, sub)((x, cb) => transform(cb, ce => score(x, ce.getField("centv"))))

  /** Encode PQ codes: adds a `codes array<int>` column (and drops the
    * vector) — a pure projection over the codebooks collected into one
    * plan literal: no shuffle, no window, at any corpus size. Every other
    * column passes through, so an index build can carry (id, cell id, …)
    * alongside the codes. This is the write-once index build; the staged
    * table a serving layer scans is (id[, cell], codes), m bytes of
    * payload per vector. */
  def pqEncode(corpus: DataFrame, vecCol: String,
               codebooks: DataFrame, dim: Int, m: Int): DataFrame =
    corpus.withColumn("codes",
        pqCodes(codebookPack(collectCodebooks(codebooks)), col(vecCol), dim / m)(l2sq))
      .drop(vecCol)

  /** PQ approximate top-k with exact rerank: per query build the m×k
    * lookup table lut[j][c] = <q_j, centv_{j,c}> once (ADC), score every
    * corpus row by summing code lookups — the scan touches codes only —
    * keep the `refine`·k best per query, join their real vectors back,
    * and rerank exactly under [[rankTopK]]'s contract. Queries (bounded)
    * broadcast with their LUTs; the only corpus-sized movement is the
    * per-query top-refine·k window over (id, approx) rows. Cosine metric:
    * both sides are unit-normalized for encode/ADC (dot ≡ cosine), the
    * rerank reads original vectors.
    *
    * Under [[HashFamily.Md5]] with nIters = 0 the codebooks are the
    * md5(id)-smallest unit vectors, sliced, and every code distance and
    * LUT entry is a ×10⁴ integer ([[HashFamily.codeScore]]; integer sums
    * are order-independent where float sums are not), so the whole
    * search reproduces in DuckDB (q99; q82 runs XxHash64). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int, m: Int = 8, kCodes: Int = 16,
             refine: Int = 4, trainN: Int = 1024, nIters: Int = 2,
             family: HashFamily = HashFamily.XxHash64): DataFrame = {
    val sub = dim / m
    val unitCorpus = corpus.select(col(idCol).as("neighbor_id"),
      unitNormalize(col(vecCol)).as("cv"))
    val pack = codebookPack(codebookModel(hashSample(unitCorpus, "neighbor_id", "cv", trainN,
      family)._2, trainN, dim, m, kCodes, nIters, family))
    // fanned out for the CPU-dense encode, same as [[ivfPqTopK]]
    val codes = Skew.fanOutForCpu(unitCorpus, Seq(col("neighbor_id")))
      .select(col("neighbor_id"),
        pqCodes(pack, col("cv"), sub)((x, c) => family.codeScore(l2sq(x, c))).as("codes"))
    val q = queries.select(col(idCol).as("query_id"),
      pqLut(pack, unitNormalize(col(vecCol)), sub)((x, c) => family.codeScore(dot(x, c))).as("lut"))
    rerank(adcTopCandidates(codes.crossJoin(broadcast(q)), k * refine),
      corpusVecs(corpus, idCol, vecCol), queries, idCol, vecCol, k)
  }

  /** ADC scan + per-query top-n cut over (codes, lut) candidate rows:
    * score = Σ_j lut[j][codes[j]], keep the n best (approx-desc,
    * id-tiebreak) per query. The window partitions by query — the
    * (id, approx) rows it sorts are the narrowest frame in the plan. */
  private def adcTopCandidates(cand: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id"))
    cand
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("approx", aggregate(
        zip_with(col("codes"), col("lut"), (c, l) => element_at(l, c + 1)),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .select("query_id", "neighbor_id")
  }

  /** The exact rerank of (query_id, neighbor_id) candidates: the real
    * vectors join back — the corpus's from `vecs` ([[corpusVecs]], or
    * [[fannedVecs]] where the plan fans the corpus out anyway) — and
    * [[rankTopK]] ranks them. */
  private def rerank(cand: DataFrame, vecs: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val qvecs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    rankTopK(cand.join(vecs, "neighbor_id").join(broadcast(qvecs), "query_id"), k)
  }

  /** IVF-PQ: the full FAISS-style composition — IVF cells prune WHICH
    * rows are scored (≈ nProbe/nCentroids of the corpus), PQ codes
    * decide HOW they're scored (ADC over m-byte codes, no vectors), and
    * the top refine·k per query rerank exactly from the real vectors.
    * The serving table this models is (centroid_id, neighbor_id, codes):
    * bucketed by cell at write time, the probe is an equi-join on the
    * cell id and the scan I/O is codes-only — the two scale levers
    * (which rows / how many bytes per row) compose independently.
    *
    * Building the plan runs one Spark job: the `max(trainN, nCentroids)`
    * -row hash-sample collect that [[ivfPqModel]] trains both models
    * from on the driver. The models enter the plan as two literals
    * (nCentroids·dim + m·k·dim/m values), so the encode and the probe
    * read them with no join, no broadcast and no pin. Its persisted form
    * ([[writeIvfPqIndex]] + [[ivfPqTopKIndexed]]) serves the same rows
    * (`BucketedAnnSpec`) and is the one oracled under Md5 (q120). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, nCentroids: Int = 16,
                nProbe: Int = 2, m: Int = 8, kCodes: Int = 16,
                refine: Int = 4, trainN: Int = 1024, nIters: Int = 2): DataFrame = {
    val family = HashFamily.XxHash64
    val (cents, cbs) = ivfPqModel(corpus, idCol, vecCol, nCentroids, dim,
      m, kCodes, trainN, nIters, family)
    // the encode and the rerank read one fanned-out corpus
    val vecs = fannedVecs(corpus, idCol, vecCol)
    ivfPqServe(encodeIndex(vecs, cents, cbs, dim / m, family),
      cents, cbs, vecs, queries, idCol, vecCol, k, dim, nProbe, m, refine, family)
  }

  /** The serving half of IVF-PQ over a (cell, id, codes) index: ONE
    * projection over the queries builds each query's LUT and probe list
    * against the model literals, then the candidate join on the cell id,
    * the ADC scan and the exact rerank of the top refine·k. The index
    * side is whatever the caller hands in — freshly encoded
    * ([[ivfPqTopK]]) or a persisted table ([[ivfPqTopKIndexed]]). */
  private def ivfPqServe(index: DataFrame, cents: Model, cbs: Model,
                         vecs: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, k: Int, dim: Int, nProbe: Int, m: Int,
                         refine: Int, family: HashFamily): DataFrame = {
    val probes = explodeProbes(
      queries.select(col(idCol).as("query_id"), let(family.unitVector(col(vecCol)))(uq =>
          struct(pqLut(codebookPack(cbs), uq, dim / m)((x, c) => family.codeScore(dot(x, c)))
              .as("lut"),
            probeOrder(centroidScores(cents, family.cellInput(uq, col(vecCol)), family), nProbe)
              .as("__ps"))).as("__q"))
        .select(col("query_id"), col("__q.lut"), col("__q.__ps")))
    rerank(adcTopCandidates(index.join(broadcast(probes), "centroid_id"), k * refine),
      vecs, queries, idCol, vecCol, k)
  }

  /** Materialize the IVF-PQ index: `table` = (centroid_id, neighbor_id,
    * codes) bucketed by cell, plus `<table>_centroids` /
    * `<table>_codebooks` (the tiny model tables serving needs to build
    * probes and LUTs). This is the pay-once index build of a real
    * deployment: training runs on the driver over one collected hash
    * sample of `max(trainN, nCentroids)` rows ([[ivfPqModel]], the same
    * trainer [[ivfPqTopK]] uses), encoding is one no-Exchange projection
    * pass over the corpus against the model literals, and every
    * subsequent query batch scans m-byte code payloads instead of
    * dim×4-byte vectors. Under [[HashFamily.Md5]] with nIters = 0 the
    * whole build → append → serve lifecycle reproduces in DuckDB (q120;
    * q94 runs XxHash64). */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      table: String, dim: Int, nCentroids: Int = 16,
                      m: Int = 8, kCodes: Int = 16, nBuckets: Int = 8,
                      trainN: Int = 1024, nIters: Int = 2,
                      family: HashFamily = HashFamily.XxHash64): Unit = {
    val spark = corpus.sparkSession
    val (cents, cbs) = ivfPqModel(corpus, idCol, vecCol, nCentroids, dim,
      m, kCodes, trainN, nIters, family)
    cents.toDF(spark).write.mode("overwrite").saveAsTable(s"${table}_centroids")
    cbs.toDF(spark).write.mode("overwrite").saveAsTable(s"${table}_codebooks")
    writeBucketed(
      encodeIndex(fannedVecs(corpus, idCol, vecCol), cents, cbs, dim / m, family),
      nBuckets, "centroid_id", "overwrite", table)
  }

  /** The (cell, id, codes) index rows for `corpus` under FROZEN model
    * tables — the shared encode of the initial [[writeIvfPqIndex]] build
    * and the incremental [[appendIvfPqIndex]] ([[encodeIndex]] against
    * the collected tables). Public so a spec can state the append
    * contract as frame equality. */
  def encodeForIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame, codebooks: DataFrame,
                     dim: Int, m: Int,
                     family: HashFamily = HashFamily.XxHash64): DataFrame =
    encodeIndex(fannedVecs(corpus, idCol, vecCol), collectCentroids(centroids),
      collectCodebooks(codebooks), dim / m, family)

  /** `(neighbor_id, centroid_id, codes)` for every `(neighbor_id, cv)`
    * row of `vecs`: one projection unit-normalizes the vector, assigns
    * its cell and PQ-encodes it against the model literals — no join,
    * no shuffle. Callers pass [[fannedVecs]]: the encode is a CPU-dense
    * projection (nCentroids cosines and m·k sub-L2s per row), fanned out
    * when the input layout under-parallelizes it (no-op on cluster-wide
    * scans; see fanOutForCpu). */
  private def encodeIndex(vecs: DataFrame, cents: Model, cbs: Model, sub: Int,
                          family: HashFamily): DataFrame =
    vecs.select(col("neighbor_id"), let(family.unitVector(col("cv")))(u =>
        struct(nearestCell(cents, family.cellInput(u, col("cv")), family).as("centroid_id"),
          pqCodes(codebookPack(cbs), u, sub)((x, c) => family.codeScore(l2sq(x, c)))
            .as("codes"))).as("__e"))
      .select(col("neighbor_id"), col("__e.centroid_id"), col("__e.codes"))

  /** Fold a new embedding batch into a persisted [[writeIvfPqIndex]]
    * table WITHOUT retraining — the [[graft.ops.IncrementalDedup]] twin
    * of the ANN serving story: a daily embedding drop is encoded against
    * the index's FROZEN centroid/codebook tables (one projection over
    * the batch against their literals — the base index is not even read) and
    * appended to the cell buckets, so the incremental cost is
    * batch-sized, never corpus-sized. After the append the index table
    * is row-identical to encoding base ∪ batch under the same models
    * (`BucketedAnnSpec` pins this), hence serving over it is too.
    *
    * The documented drift caveat: a FULL rebuild would retrain centroids
    * and codebooks on base ∪ batch, giving (slightly) different cells and
    * codes; frozen-model appends trade that refresh for batch-sized cost,
    * and a periodic rebuild re-centers the model — the standard
    * FAISS-style maintenance split. `nBuckets` must match the original
    * build's (Spark rejects a mismatched append), and `family` its
    * family. */
  def appendIvfPqIndex(newBatch: DataFrame, idCol: String, vecCol: String,
                       table: String, dim: Int, m: Int = 8,
                       nBuckets: Int = 8,
                       family: HashFamily = HashFamily.XxHash64): Unit = {
    val spark = newBatch.sparkSession
    writeBucketed(encodeForIndex(newBatch, idCol, vecCol,
      spark.table(s"${table}_centroids"),
      spark.table(s"${table}_codebooks"), dim, m, family),
      nBuckets, "centroid_id", "append", table)
  }

  /** [[ivfPqTopK]] served from a [[writeIvfPqIndex]] staging table:
    * training and encoding are NOT re-run per query batch — the plan
    * scans the persisted (cell, id, codes) index (codes-only I/O), and
    * the persisted model tables are collected into the serve's literals.
    * Output-identical to serving from the same model freshly applied
    * (spec-pinned). `family` must be the build's. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession,
                       table: String, corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int, dim: Int,
                       nProbe: Int = 2, m: Int = 8,
                       refine: Int = 4,
                       family: HashFamily = HashFamily.XxHash64): DataFrame =
    ivfPqServe(spark.table(table), collectCentroids(spark.table(s"${table}_centroids")),
      collectCodebooks(spark.table(s"${table}_codebooks")), corpusVecs(corpus, idCol, vecCol),
      queries, idCol, vecCol, k, dim, nProbe, m, refine, family)

  /** Embedding-cosine near-duplicate pairs over the whole corpus via LSH
    * buckets, OR-amplified across `nTables` independent hyperplane sets:
    * a pair is a candidate if it shares a bucket in ANY table, so the
    * miss probability per pair is (1 - p^nBits)^nTables where
    * p = 1 - θ/π. Candidates carry ids only (no vectors) through the
    * bucket join and the (id_a, id_b) dedup shuffle; vectors are joined
    * back once per side for the exact cosine verify — at scale this keeps
    * the wide embedding arrays out of the hot self-join entirely.
    *
    * Tuning: for a genuine near-dup threshold (cos ≥ 0.9, θ ≤ 26°),
    * p ≈ 0.86 and a few 8-bit tables give recall ≈ 1 with tiny buckets.
    * For a permissive threshold like the q45/q51 oracle's 0.35 the same
    * construction needs low nBits and many tables (the declared q51 uses
    * nBits = 2, nTables = 32 → per-pair miss < 3e-7) — recall stays
    * verifiable but candidate pruning is weak, which is inherent: random-
    * tail pairs at θ ≈ 70° are not locality-clustered for any LSH family.
    */
  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBits: Int = 8,
                         nTables: Int = 1): DataFrame = {
    // staged: the self-join consumes this twice, and the nTables × nBits
    // hyperplane projections behind each bucket id are the expensive part
    // of the whole operator — recomputing them on the probe side doubled
    // q51's cost
    // fanned out: nTables × nBits hyperplane projections per corpus row
    // — the expensive half of the operator — otherwise run at the
    // single-file scan's width (q51; no-op on cluster layouts)
    val buckets = Staged.stage(
      Skew.fanOutForCpu(corpus, Seq(col(idCol))).select(col(idCol).as("id"),
        posexplode(array((0 until nTables).map(t =>
          lshBucket(col(vecCol), nBits, seed = t)): _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket"))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("sim", graft.functions.Num.round4(cosineSim(col("va"), col("vb"))))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * assign every document to its nearest centroid cell, verify exact
    * cosine on WITHIN-CELL pairs only, connected-components the θ-graph,
    * and label each doc with its component's min id — "keep one per
    * semantic cluster" is then `filter(doc === sem_cluster)`. The
    * embedding-side twin of the text pipeline's MinHash-fed dedup: cells
    * play the role LSH bands play there, turning O(N²) verify into
    * Σ n_cell² (size nCentroids with the corpus — SemDeDup runs ~√N
    * cells — and the per-cell verify is an equi-join on the cell id).
    *
    * Plan at scale: assignment is a pure projection over the centroid
    * literal (no shuffle); the candidate self-join carries IDS ONLY
    * (cell, doc) — the wide vectors join back once per side for the
    * exact verify, exactly like [[cosineNearDupPairs]]; components come
    * from [[Dedup.duplicateClusters]], whose union-find contraction pass
    * labels a θ-graph that fits one partition in one job and leaves only
    * the cross-partition quotient to its min-label rounds otherwise.
    * Pairs never span cells (a doc lives in exactly one cell), so
    * components are cell-local by construction.
    *
    * Missing cross-cell θ-pairs is the algorithm's documented
    * approximation; because the found pair graph is a SUBSET of the
    * exact one, every doc the exact graph keeps is also kept here
    * (components only split, and each split component's min is itself a
    * component min) — the kept set degrades toward "keep everything",
    * never toward over-deletion (spec-pinned, SimilaritySpec).
    *
    * Determinism for the cross-engine oracle: the argmax is over
    * round(cosine, 4) with centroid-id tiebreak (the [[HashFamily.Md5]]
    * cell assignment), and q92's centroids are the nCentroids
    * md5(id)-smallest corpus vectors ([[ivfCentroids]] under Md5) — both
    * reproducible bit-identically in DuckDB, making the full (doc,
    * sem_cluster) table hash-checkable.
    *
    * Output: (doc, sem_cluster) for EVERY corpus row; singletons label
    * themselves.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               centroids: DataFrame, theta: Double,
               maxIter: Int = 20): DataFrame = {
    // staged: the candidate join consumes the assignment twice, and its
    // lineage is the full centroid-scoring projection
    val cells = Staged.stage(
      assignCells(corpus, idCol, vecCol, centroids, family = HashFamily.Md5)
        .select(col("neighbor_id").as("doc"), col("centroid_id").as("cell")))
    val cand = cells.as("a").join(cells.as("b"),
        col("a.cell") === col("b.cell") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"))
    val vecs = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val pairs = cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(round(cosineSim(col("va"), col("vb")), 4) >= theta)
      .select("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(pairs, "id_a", "id_b", maxIter)
    corpus.select(col(idCol).as("doc"))
      .join(clusters, Seq("doc"), "left_outer")
      .select(col("doc"), coalesce(col("cluster"), col("doc")).as("sem_cluster"))
  }

  /** Cluster LABELING — top-`k` c-TF-IDF terms per embedding cell
    * (BERTopic's class-based TF-IDF, Grootendorst 2022): what a
    * semantic-curation pass reads to understand WHAT each k-means /
    * IVF cell of the corpus actually contains before deciding to
    * sample, cap, or drop it. Documents join their embeddings by id,
    * ride the zero-Exchange rounded cell assignment, and each cell is
    * treated as one pseudo-document: score(t, c) = tf(t, c) ·
    * idf_q(t), idf_q = round(ln((C + 1)/(cf + 1)) · 10⁴) with C = #cells
    * and cf = #cells containing t — so the score is an INTEGER product
    * (exact cross-engine, no summation-order concerns at all), and the
    * per-cell cut is one by-cell window over the vocabulary-bounded
    * (cell, term) table.
    *
    * Shape: the corpus-grain stages are the id equi-join and the
    * (cell, term) count's map-side-combined Exchange; everything after
    * runs at vocabulary grain. Centroids are a plan literal; C is a
    * one-row broadcast; no global window. */
  def clusterTopTermsDeterministic(docs: DataFrame, embeddings: DataFrame,
                                   docIdCol: String, textCol: String,
                                   embIdCol: String, vecCol: String,
                                   centroids: DataFrame, k: Int = 5): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val assigned = assignCells(embeddings, embIdCol, vecCol, centroids, family = HashFamily.Md5)
      .select(col("neighbor_id").as(docIdCol), col("centroid_id"))
    val terms = docs
      .select(col(docIdCol), graft.functions.TextFunctions.tokens(col(textCol)).as("__w"))
      .join(assigned, docIdCol)
      .select(col("centroid_id"), explode(col("__w")).as("term"))
      .groupBy("centroid_id", "term").agg(count(lit(1)).as("tf"))
    val nCells = assigned.agg(countDistinct(col("centroid_id")).as("__nc"))
    val idf = terms.groupBy("term")
      .agg(countDistinct(col("centroid_id")).as("__cf"))
      .crossJoin(broadcast(nCells))
      .select(col("term"),
        round(log((col("__nc") + 1.0) / (col("__cf") + 1.0)) * 10000)
          .cast("long").as("__idfq"))
    val w = Window.partitionBy("centroid_id")
      .orderBy(col("__score").desc, col("term"))
    terms.join(idf, "term")
      .withColumn("__score", col("tf") * col("__idfq"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("centroid_id"), col("rk"), col("term"), col("tf"),
        graft.functions.Num.round4(col("__score") / 10000.0).as("ctfidf"))
  }

  /** IVF index health audit (q144): per-cell occupancy of the
    * deterministic cell assignment plus the two readings an index
    * operator actually watches — `share_bp` (basis points of the corpus
    * in this cell) and `load_q` (×10⁴ load factor vs perfect balance;
    * 10⁴ = ideal, the max over cells IS the worst-case probe-cost
    * multiplier, since IVF probe latency is proportional to probed-cell
    * size). Both are positive-operand integer floor divisions of exact
    * counts — nothing to drift cross-engine.
    *
    * Scale: the corpus-sized work is the zero-Exchange centroid-literal
    * assignment projecting straight into a #cells-grain count (map-side
    * partials; vectors never shuffle); everything after runs on the
    * #cells-row occupancy table with a one-row broadcast total. */
  def indexBalanceAudit(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    val occ = assignCells(corpus, idCol, vecCol, centroids, family = HashFamily.Md5)
      .groupBy(col("centroid_id").as("cell")).agg(count(lit(1)).as("n_vecs"))
    val tot = occ.agg(sum("n_vecs").as("__t"), count(lit(1)).as("__k"))
    occ.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        expr("(n_vecs * 10000) div __t").as("share_bp"),
        expr("(n_vecs * __k * 10000) div __t").as("load_q"))
  }

  /** Cluster-separation audit — the GEOMETRIC quality read behind
    * [[indexBalanceAudit]]'s occupancy one: per cell, how tight are
    * its members relative to how far the next-best centroid is?
    * tightness_bp = Σ intra-dist² · 10⁴ DIV Σ nearest-other-dist² —
    * low = compact well-separated cells (ANN probes and k-means labels
    * you can trust), → 10⁴ = members sit as close to a neighboring
    * centroid as their own (cell boundaries are noise, recall will
    * suffer at nProbe=1). A Davies–Bouldin-shaped reading kept EXACT:
    * coordinates quantize to ×10⁴ BIGINTs (the pc1 discipline) so
    * every distance² is an exact integer and both engines agree to the
    * bit; the final ratio is one sign-free integer division (NULL when
    * the nearest-other sum is zero — all points at all centroids).
    *
    * Shape: the centroids, quantized, are one plan literal; a per-point
    * projection sorts its (dist², centroid) structs and picks its own
    * (nearest) and the second-nearest distance, so vectors never shuffle
    * and the only Exchange is the cell-grain aggregate. Output:
    * (cell, n_points, sum_intra, sum_nearest_other, tightness_bp). */
  def clusterSeparation(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: DataFrame): DataFrame = {
    val quant: Column => Column =
      v => transform(v, x => round(x.cast("double") * 10000).cast("long"))
    val cents = collectModel(centroids.select(col("centroid_id"),
      quant(col("centv")).as("centv")), "centroid_id", "centv")
    val picked = corpus
      .select(let(quant(col(vecCol)))(q => array_sort(transform(centroidPack(cents), ce =>
        struct(aggregate(zip_with(q, ce.getField("centv"), (x, y) => (x - y) * (x - y)),
            lit(0L), (a, x) => a + x).as("__d2"),
          ce.getField("centroid_id").as("__cid"))))).as("__ds"))
      .select(
        col("__ds")(0).getField("__cid").as("cell"),
        col("__ds")(0).getField("__d2").as("__intra"),
        col("__ds")(1).getField("__d2").as("__other"))
    picked.groupBy("cell")
      .agg(count(lit(1)).as("n_points"),
        sum("__intra").as("sum_intra"),
        sum("__other").as("sum_nearest_other"))
      .withColumn("tightness_bp", expr(
        """CASE WHEN sum_nearest_other = 0 THEN NULL
          ELSE CAST((CAST(sum_intra AS DECIMAL(38,0)) * 10000)
            DIV CAST(sum_nearest_other AS DECIMAL(38,0)) AS BIGINT) END"""))
  }
}
