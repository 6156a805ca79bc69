package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Derived-corpus scale soak: union-replicate `documents`/`embeddings`
  * R× with id offsets and per-replica text salts (the q58/q66
  * derived-scenario discipline — `/root/testdata` is read-only), then
  * run the heavy dedup/ANN/pipeline family ONCE each over the derived
  * directory, recording per-query wall time plus the executor-side
  * truth a plan argument can't fake: shuffle read/write bytes, memory/
  * disk spill, peak per-task execution memory, input bytes. This is
  * the evidence pass that converts "the candidate fan-out is
  * df-bounded" from an sf0.1 extrapolation into a measured slope.
  *
  * Salt modes:
  *  - `indep`: a replica token is injected between EVERY pair of
  *    tokens (`a b` → `a zrR b`), so every n≥2-gram shingle contains
  *    the salt and replicas share NO shingles — the corpus behaves as
  *    R× independent same-shape data. Measures pure scale-up.
  *    (Token count ~doubles; run the 1× baseline with the same salt
  *    shape so the R× ratio isolates the replication factor.)
  *  - `dup`: one trailing salt token (`text zrR`), so replicas are
  *    n-gram NEAR-DUPLICATES of each other — every document gains
  *    R−1 high-Jaccard partners and the true pair count grows ~R²/2.
  *    The adversarial heavy-duplication case for the pair-join family.
  *  Embeddings: `indep` applies a per-replica SIGNED COORDINATE
  *  PERMUTATION (cyclic shift by 5·r + xxhash sign flips) — an
  *  orthogonal map, so within-replica cosine geometry is EXACTLY
  *  preserved (the 1× pair structure replicates verbatim, the honest
  *  "R× independent same-shape data" semantics) while cross-replica
  *  cosines scramble to chance. (The first cut perturbed component 0
  *  by 0.37·r — an additive shift that made high-replica vectors
  *  near-COLLINEAR, a distribution shift masquerading as scale: q51
  *  emitted 33,000× its 1× pairs. An orthogonal map is the fix, not a
  *  smaller shift.) `dup` replicates vectors exactly (every vector
  *  gains R−1 cosine-1.0 partners).
  *
  * Usage: `runMain graft.Soak <srcSfDir> <outDir> <replicas>
  * <indep|dup> [q1,q2,...]` — the derived tables land in
  * `<outDir>/documents.parquet` / `embeddings.parquet` and the
  * registered queries run against `<outDir>` unmodified (same
  * `Tables.*` path contract as the driver).
  */
object Soak {

  private final class TaskMetricsListener extends SparkListener {
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val memSpill = new AtomicLong(0L)
    val diskSpill = new AtomicLong(0L)
    val peakMem = new AtomicLong(0L)
    val inputBytes = new AtomicLong(0L)
    val tasks = new AtomicLong(0L)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakMem.updateAndGet(p => math.max(p, m.peakExecutionMemory))
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        tasks.incrementAndGet()
      }
    }
    def reset(): Unit = Seq(shuffleRead, shuffleWrite, memSpill, diskSpill,
      peakMem, inputBytes, tasks).foreach(_.set(0L))
  }

  private val defaultQueries = Seq(
    "q26_ngram_jaccard", "q62_corpus_pipeline", "q69_corpus_pipeline_approx",
    "q95_multimodal_pipeline", "q74_incremental_dedup",
    "q51_cosine_near_dup_lsh", "q61_dup_clusters",
    "q197_prefix_jaccard_pairs", "q200_release_pipeline")

  /** Soak-only variants (not part of the gated inventory): the same
    * clustering composition q61 registers, at the PRODUCTION dedup
    * threshold t=0.8 instead of the verify-scale t=0.03. The round-10
    * verdict flagged both closures `weak` because the t=0.03 graph is
    * DENSE by construction (~980 edges/doc at 30×) and the sparse-
    * graph mitigation was argued, not measured — these legs measure
    * it. q26_sparse08 reports the edge count the closures consume. */
  private val soakOnly: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = {
    import graft.ops.Dedup
    def pairs(s: SparkSession, d: String) =
      Tables.documents(s, d)
        .transform(Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.8))
    Map(
      "q26_sparse08" -> ((s, d) => pairs(s, d)),
      "q61_sparse08" -> ((s, d) =>
        Dedup.duplicateClusters(pairs(s, d), "doc_a", "doc_b")))
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_soak"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "indep"
    val queries =
      if (args.length > 4) args(4).split(",").map(_.trim).toSeq
      else defaultQueries
    require(Seq("indep", "dup").contains(mode), s"mode indep|dup, got $mode")
    val registry = SparkEntry.queries ++ soakOnly
    val unknown = queries.toSet -- registry.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // The scale knob under test: the driver bench pins 32 shuffle
    // partitions (local[32] guidance), but the 10× soak is exactly the
    // regime where a real cluster RAISES partition counts (AQE target
    // sizes / manual spark.sql.shuffle.partitions) so shuffle blocks
    // keep fitting in task memory. The DEFAULT is now the round-10
    // lesson as a function — Skew.suggestedShufflePartitions over the
    // derived corpus's projected bytes (source bytes × replicas) — so
    // an un-overridden soak runs at the sizing a cluster's AQE would
    // pick; SPARK_GRAFT_SHUFFLE forces a specific count (how the
    // 32-vs-256 q62 control pair was measured).
    val spark = SparkEntry.localSession(cpus,
      SparkEntry.shufflePartitionsFor(cpus, graft.ops.Skew.dirBytes(
        new org.apache.hadoop.conf.Configuration(), srcDir) * replicas))
    // fan-out layout probe (ops/Skew.fanOutForCpu), on the DERIVED
    // corpus's projected bytes — same source-bytes × replicas ruler as
    // the shuffle sizing above
    spark.conf.set(graft.ops.Skew.ScanParallelismKey,
      graft.ops.Skew.scanParallelismFor(
        graft.ops.Skew.dirBytes(
          spark.sparkContext.hadoopConfiguration, srcDir) * replicas,
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")))
        .toString)

    // ---- derive the corpus ----
    val reps = spark.range(replicas.toLong)
      .select(col("id").cast("long").as("__r"))
    val docs = Tables.documents(spark, srcDir)
    val saltedText = mode match {
      case "dup" =>
        concat(col("text"), lit(" zr"), col("__r").cast("string"))
      case _ =>
        concat(lit("zr"), col("__r").cast("string"), lit(" "),
          regexp_replace(col("text"), lit("\\s+"),
            concat(lit(" zr"), col("__r").cast("string"), lit(" "))))
    }
    docs.crossJoin(broadcast(reps))
      .select((col("doc_id") + col("__r") * 10000000L).as("doc_id"),
        saltedText.as("text"), col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = Tables.embeddings(spark, srcDir)
    val saltedEmb = mode match {
      case "dup" => col("embedding")
      case _ =>
        // signed coordinate permutation per replica: out[i] =
        // s(i,r) · in[(i + 5r) mod d] with s = ±1 from xxhash parity
        transform(col("embedding"), (_, i) =>
          (element_at(col("embedding"),
            (pmod(i + lit(5) * col("__r"), size(col("embedding"))) + 1)
              .cast("int")) *
            when(pmod(xxhash64(i, col("__r")), lit(2)) === 0, lit(-1.0f))
              .otherwise(lit(1.0f))).cast("float"))
    }
    emb.crossJoin(broadcast(reps))
      .select((col("vec_id") + col("__r") * 10000000L).as("vec_id"),
        saltedEmb.as("embedding"), col("label"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    val nDocs = spark.read.parquet(s"$outDir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"SOAK corpus: $nDocs docs, $nVecs vectors " +
      s"(src=$srcDir x$replicas mode=$mode) -> $outDir")

    // ---- run the family with task-metrics accounting ----
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    def gb(b: Long): String = f"${b / 1073741824.0}%8.3f"
    def mb(b: Long): String = f"${b / 1048576.0}%8.1f"
    println(f"${"query"}%-28s ${"rows"}%12s ${"sec"}%8s ${"inputGB"}%8s " +
      f"${"shRdGB"}%8s ${"shWrGB"}%8s ${"spillGB"}%8s ${"peakMB"}%8s ${"tasks"}%7s")
    queries.foreach { name =>
      System.gc()
      Thread.sleep(1500) // let the listener bus drain the previous query
      listener.reset()
      val t0 = System.nanoTime()
      val rows = graft.ops.Staged.withStaged {
        registry(name)(spark, outDir).count()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // drain async task-end events before reading
      println(f"$name%-28s $rows%12d $sec%8.1f ${gb(listener.inputBytes.get)} " +
        f"${gb(listener.shuffleRead.get)} ${gb(listener.shuffleWrite.get)} " +
        f"${gb(listener.memSpill.get + listener.diskSpill.get)} " +
        f"${mb(listener.peakMem.get)} ${listener.tasks.get}%7d")
    }
    spark.stop()
  }
}
