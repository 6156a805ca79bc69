package graft

import graft.streaming.{CorpusStream, StreamDoc}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** Streaming intake soak: drive the production intake
  * (`cleanDocs` → `dedupedDocs` → `corpusIngestSink`) into a temp
  * directory through N micro-batches and record, per batch, the sink's
  * `addBatch` time and the dedup state's rows — the long-run evidence
  * for what the intake guarantees: per-batch cost stays flat however
  * large the sink grows, and the state holds exactly one row per
  * distinct novel hash (nothing leaks, nothing is evicted).
  *
  * Batch shape (per batch b, event time advancing 1 min/batch): `fresh`
  * brand-new documents, `refetch` re-fetches of batch b−1 content and
  * `refetch` re-fetches of batch b/2 content — a duplicate as old as
  * half the stream, hours of event time behind once b is large. Only
  * the fresh documents are novel.
  *
  * Checks (exit 1 if either fails):
  *   - no drift: the median `addBatch` ms of the last 10 batches is at
  *     or below the upper quartile of batches 10-20;
  *   - state rows equal the cumulative distinct novel hashes after every
  *     batch, and the sink holds exactly those hashes once each.
  *
  * Usage: `runMain graft.StreamSoak [nBatches] [freshPerBatch]`. The
  * state-store provider is Spark's own setting; for RocksDB run
  * `sbt 'set run / javaOptions += "-Dspark.sql.streaming.stateStore.providerClass=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"' "runMain graft.StreamSoak 300"`.
  * Prints one line per batch: batch, input rows, novel rows, addBatch
  * ms, state rows, state MB. */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(60)
    val fresh = if (args.length > 1) args(1).toInt else 150
    val refetch = fresh / 3
    val spark = SparkEntry.localSession(cores = 8, shufflePartitions = 8)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // passes the gates: >= 5 tokens with English stopword hits; the
    // (b, i) suffix makes content unique per (batch, index)
    def text(b: Int, i: Int): String =
      s"the quick brown fox carries batch b$b item i$i over the lazy dog"
    def ts(b: Int): Timestamp = new Timestamp(1704067200000L + b * 60000L)
    def docs(b: Int): Seq[StreamDoc] = {
      val f = (0 until fresh).map(i =>
        StreamDoc(b * 100000L + i, ts(b), text(b, i), "en", "crawl0"))
      val recent = if (b >= 1) (0 until refetch).map(i =>
        StreamDoc(b * 100000L + 50000L + i, ts(b), text(b - 1, i), "en", "crawl1"))
      else Seq.empty
      val old = if (b >= 2) (0 until refetch).map(i =>
        StreamDoc(b * 100000L + 70000L + i, ts(b), text(b / 2, fresh - 1 - i), "en", "crawl2"))
      else Seq.empty
      f ++ recent ++ old
    }

    val dir = java.nio.file.Files.createTempDirectory("stream_soak").toString
    val sink = s"$dir/corpus"
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.corpusIngestSink(
        CorpusStream.dedupedDocs(CorpusStream.cleanDocs(src.toDF())),
        sink, s"$dir/ckpt").start()
    println("state store provider: " +
      spark.conf.get("spark.sql.streaming.stateStore.providerClass"))
    println(f"${"batch"}%5s ${"input"}%7s ${"novel"}%6s ${"addBatchMs"}%10s " +
      f"${"stateRows"}%10s ${"stateMB"}%8s")
    val addBatchMs = scala.collection.mutable.ArrayBuffer[Long]()
    var stateOk = true
    (0 until nBatches).foreach { b =>
      val batch = docs(b)
      src.addData(batch)
      q.processAllAvailable()
      // an idle trigger also reports the next batch id, without addBatch
      val p = Iterator.continually(q.recentProgress.find(p =>
          p.batchId == b && p.durationMs.containsKey("addBatch")))
        .map { p => if (p.isEmpty) Thread.sleep(5); p }
        .collectFirst { case Some(p) => p }.get
      val so = p.stateOperators.head
      val ms = p.durationMs.get("addBatch").longValue
      addBatchMs += ms
      if (so.numRowsTotal != (b + 1L) * fresh) stateOk = false
      println(f"$b%5d ${batch.size}%7d ${so.numRowsUpdated}%6d $ms%10d " +
        f"${so.numRowsTotal}%10d ${so.memoryUsedBytes / 1048576.0}%8.2f")
    }
    q.stop()
    val hashes = spark.read.parquet(s"$sink/batch=*").select("content_hash")
      .as[String].collect()
    val sinkOk = hashes.length == nBatches.toLong * fresh &&
      hashes.distinct.length == hashes.length
    println(s"state rows = cumulative distinct novel hashes: $stateOk; " +
      s"sink holds each novel hash once (${hashes.length} rows): $sinkOk")
    def quartiles(xs: Seq[Long]): (Double, Double, Double) = {
      val s = xs.sorted.map(_.toDouble)
      def at(f: Double) = {
        val x = f * (s.size - 1)
        val lo = x.toInt
        s(lo) + (x - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
      }
      (at(0.25), at(0.5), at(0.75))
    }
    val driftOk = nBatches < 30 || {
      val (q1, med, q3) = quartiles(addBatchMs.slice(10, 21).toSeq)
      val (_, last, _) = quartiles(addBatchMs.takeRight(10).toSeq)
      println(f"addBatch ms: batches 10-20 median $med%.0f (quartiles $q1%.0f-$q3%.0f); " +
        f"last 10 median $last%.0f")
      last <= q3
    }
    println(s"no drift: $driftOk")
    val root = new org.apache.hadoop.fs.Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(root, true)
    spark.stop()
    if (!(stateOk && sinkOk && driftOk)) sys.exit(1)
  }
}
