package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

class CorpusStreamSpec extends SparkSpec {
  import spark.implicits._

  private def t(h: Int, m: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")

  private def doc(id: Long, ts: Timestamp, text: String,
                  source: String = "crawl0"): StreamDoc =
    StreamDoc(id, ts, text, "en", source)

  // passes the gates: >= 5 tokens, English stopword hits
  private val good = "the quick brown fox jumps over the lazy dog"

  test("cleanDocs: gate chain drops short and language-less docs, hashes before state") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.cleanDocs(src.toDF()).writeStream
      .format("memory").queryName("cleaned").outputMode("append").start()
    src.addData(
      doc(1, t(1), good),
      doc(2, t(1), "too short"),                   // < 5 tokens
      doc(3, t(1), "zz yy xx ww vv uu qq"),        // no stopword hits -> und
      doc(4, t(1), "  The   QUICK  brown fox jumps over the lazy dog "))
    q.processAllAvailable()
    val rows = spark.sql("SELECT doc_id, lang_pred, n_tokens, norm_text, content_hash FROM cleaned")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    q.stop()
    assert(rows.map(_._1).toSet === Set(1L, 4L))
    assert(rows.forall(_._2 == "en"))
    // normalization collapses case/whitespace, so 1 and 4 share a hash
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 === good)
    assert(byId(4L)._4 === good)
    assert(byId(1L)._5 === byId(4L)._5)
  }

  test("dedupedDocs: same content reaches the output once, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.dedupedDocs(CorpusStream.cleanDocs(src.toDF()))
      .writeStream.format("memory").queryName("stream_deduped")
      .outputMode("append").start()
    src.addData(doc(1, t(1), good), doc(2, t(1, 5), good + " extra"))
    q.processAllAvailable()
    // micro-batch 2: a re-fetch of doc 1's content under a new id, plus
    // a case/whitespace variant of it — both are the same norm_text
    src.addData(doc(10, t(1, 10), good), doc(11, t(1, 20), "  THE quick brown fox jumps over the lazy dog"))
    q.processAllAvailable()
    val ids = spark.sql("SELECT doc_id FROM stream_deduped")
      .collect().map(_.getLong(0)).toSet
    q.stop()
    assert(ids === Set(1L, 2L))
  }

  /** One JSON-lines file landed atomically (hidden temp name, then a
    * rename) into a file-source landing directory. */
  private def land(dir: java.io.File, name: String, rows: Seq[String]): Unit = {
    dir.mkdirs()
    val tmp = new java.io.File(dir, "." + name)
    java.nio.file.Files.write(tmp.toPath, rows.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def json(d: StreamDoc): String = json(d.doc_id.toString, d.ts, d.text)

  private def json(id: String, ts: Timestamp, text: String): String =
    s"""{"doc_id":$id,"ts":"${ts.toLocalDateTime}","text":"$text","lang":"en","source":"crawl0"}"""

  /** readDocs → cleanDocs → dedupedDocs → corpusIngestSink over a
    * landing directory: the production intake, end to end. */
  private def intake(landing: java.io.File, sink: String, ckpt: String) = {
    landing.mkdirs()
    CorpusStream.corpusIngestSink(
      CorpusStream.dedupedDocs(CorpusStream.cleanDocs(
        CorpusStream.readDocs(spark, landing.getPath))),
      sink, ckpt).start()
  }

  private def sinkRows(sink: String): Seq[(Long, Long, String)] =
    spark.read.option("basePath", sink).parquet(s"$sink/batch=*")
      .select("batch", "doc_id", "content_hash").as[(Long, Long, String)]
      .collect().toSeq

  test("dedupedDocs: a duplicate three batches and hours later reaches the sink once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("corpus_horizon").toString
    val sink = s"$dir/corpus"
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.corpusIngestSink(
      CorpusStream.dedupedDocs(CorpusStream.cleanDocs(src.toDF())),
      sink, s"$dir/ckpt").start()
    try {
      Seq(Seq(doc(1, t(1), good)),
          Seq(doc(2, t(2), "a wholly different body of text here")),
          Seq(doc(3, t(3), "yet another body of text for the corpus")),
          // doc 1's content again, 8 hours of event time later
          Seq(doc(4, t(9), good), doc(5, t(9), "and one more novel text for it")))
        .foreach { b => src.addData(b: _*); q.processAllAvailable() }
      val rows = sinkRows(sink)
      assert(rows.map(_._2).toSet === Set(1L, 2L, 3L, 5L), rows.toString)
      assert(rows.map(_._3).distinct.size === rows.size)
    } finally q.stop()
  }

  test("dedupedDocs: a novel document older than all earlier input is admitted") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.dedupedDocs(CorpusStream.cleanDocs(src.toDF()))
      .writeStream.format("memory").queryName("stream_late")
      .outputMode("append").start()
    try {
      src.addData(doc(1, t(10), good))
      q.processAllAvailable()
      src.addData(doc(2, t(12), good + " indeed"))
      q.processAllAvailable()
      // nine hours before anything seen so far: a novel text is kept,
      // a late copy of doc 1's content is still a duplicate
      src.addData(doc(3, t(1), "a late body of text from an old crawl"),
        doc(4, t(0), good))
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM stream_late")
        .collect().map(_.getLong(0)).toSet
      assert(ids === Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("dedupedDocs: keep-min-id holds when a batch's duplicates come from several input partitions") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_minid").toFile
    val landing = new java.io.File(dir, "landing")
    val other = "a wholly different body of text here"
    // one file per copy, all landed before the query starts: one batch
    land(landing, "a.json", Seq(json(doc(30, t(1), good)), json(doc(8, t(1), other))))
    land(landing, "b.json", Seq(json(doc(10, t(2), good))))
    land(landing, "c.json", Seq(json(doc(20, t(3), good)),
      json("null", t(3), other))) // a null id sorts first, as `asc` puts it
    assert(spark.read.schema(CorpusStream.schema).json(landing.getPath)
      .rdd.getNumPartitions > 1, "the copies must span input partitions")
    val sink = s"$dir/corpus"
    val q = intake(landing, sink, s"$dir/ckpt")
    try {
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$sink/batch=0")
        .select("doc_id", "norm_text").collect()
        .map(r => r.getString(1) -> Option(r.get(0))).toMap
      assert(kept === Map(good -> Some(10L), other -> None), kept.toString)
    } finally q.stop()
  }

  test("corpusIngestSink: only novel content lands; a replayed batch rewrites its own rows") {
    val dir = java.nio.file.Files.createTempDirectory("corpus_stream").toFile
    val landing = new java.io.File(dir, "landing")
    val sink = s"$dir/corpus"
    val ckpt = s"$dir/ckpt"
    var q = intake(landing, sink, ckpt)
    try {
      land(landing, "f0.json", Seq(json(doc(1, t(1), good)), json(doc(2, t(1), good + " indeed"))))
      q.processAllAvailable()
      // second batch: one replayed content (new id, same text), one
      // genuinely new doc and a same-batch duplicate of it hours apart
      land(landing, "f1.json", Seq(json(doc(20, t(2), good)),
        json(doc(22, t(5), "a wholly different body of text here")),
        json(doc(21, t(2), "a wholly different body of text here"))))
      q.processAllAvailable()
      q.stop()
      val before = sinkRows(sink)
      assert(before.map(r => r._1 -> r._2).toSet === Set(0L -> 1L, 0L -> 2L, 1L -> 21L),
        before.toString)
      assert(before.map(_._3).distinct.size === before.size)
      // forget that batch 1 committed: on restart Spark re-runs it from
      // its offsets, against the state version it first ran with
      def parts = new java.io.File(s"$sink/batch=1").list()
        .filter(_.endsWith(".parquet")).toSet
      val firstParts = parts
      Seq("1", ".1.crc").foreach(f => new java.io.File(s"$ckpt/commits/$f").delete())
      q = intake(landing, sink, ckpt)
      q.processAllAvailable()
      assert(q.lastProgress.batchId === 1L, "the restart re-ran batch 1 only")
      assert(parts !== firstParts, "batch=1 was rewritten")
      val after = sinkRows(sink)
      assert(after.sorted === before.sorted, after.toString)
    } finally q.stop()
  }

  test("corpusIngestSink: a data batch scans no sink file; N landed files run N micro-batches") {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val dir = java.nio.file.Files.createTempDirectory("corpus_pin").toFile
    val landing = new java.io.File(dir, "landing")
    val sink = s"$dir/corpus"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
          case _ =>
        }
    }
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    spark.sparkContext.addSparkListener(listener)
    val q = intake(landing, sink, s"$dir/ckpt")
    val n = 3
    try {
      (0 until n).foreach { i =>
        land(landing, s"f$i.json", Seq(json(doc(i, t(i), s"$good number w$i")),
          json(doc(100 + i, t(i), good))))
        q.processAllAvailable()
      }
      // listener events arrive in order: once the sentinel's plan is
      // seen, every plan the stream ran has been seen too
      val sentinel = "corpus-pin-sentinel"
      spark.range(1).select(lit(sentinel)).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      def seen = plans.asScala.exists(p => nodes(p).exists(_.simpleString.contains(sentinel)))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen)
      val all = plans.asScala.toSeq.flatMap(nodes)
      assert(all.exists(p => p.nodeName.contains("InsertIntoHadoopFsRelationCommand") &&
        p.simpleString.contains(sink)), "the sink writes were captured")
      val sinkScans = all.filter(p => p.nodeName.contains("Scan") &&
        (p.simpleString + p.metadata.values.mkString).contains(sink))
      assert(sinkScans.isEmpty, sinkScans.map(_.simpleString).mkString("\n"))
      assert(q.lastProgress.batchId === n - 1L)
      assert(new java.io.File(s"$dir/ckpt/commits").list().count(!_.startsWith(".")) === n)
      assert(new java.io.File(sink).list().count(_.startsWith("batch=")) === n)
      assert(sinkRows(sink).map(_._2).toSet === (0L until n).toSet + 100L)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("corpusIngestSinkWithIndex: novel docs fold into the persisted ANN index; duplicates don't; ids never double-append") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("corpus_stream_idx").toString
    val sink = s"$dir/corpus"
    val tbl = "graft_stream_ivfpq"
    // deterministic stand-in embedder (doc_id → 8-dim vector) — in
    // production a model-serving join or precomputed lookup
    def embed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
        transform(sequence(lit(0), lit(7)),
          i => (pmod(col("doc_id") * 31 + i, lit(97)) / 97.0).cast("float"))
          .as("embedding"))
    val src = MemoryStream[StreamDoc]
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    // the q94 gotcha: drop catalog entries AND any stale warehouse dirs
    // a previous (crashed) run left, or the build below dies on
    // LOCATION_ALREADY_EXISTS
    Seq(tbl, s"${tbl}_centroids", s"${tbl}_codebooks").foreach { x =>
      spark.sql(s"DROP TABLE IF EXISTS $x")
      val p = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + "/" + x)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    try {
      graft.ops.Similarity.writeIvfPqIndex(embed(Seq(100L, 101L).toDF("doc_id")),
        "doc_id", "embedding", tbl, dim = 8, nCentroids = 2, m = 2,
        kCodes = 2, nBuckets = 2, trainN = 16, nIters = 0)
      q = CorpusStream.corpusIngestSinkWithIndex(
        CorpusStream.dedupedDocs(CorpusStream.cleanDocs(src.toDF())),
        sink, s"$dir/ckpt", embed, tbl, nBuckets = 2).start()
      src.addData(doc(1, t(1), good), doc(2, t(1), good + " indeed"))
      q.processAllAvailable()
      // appends land via the micro-batch's CLONED session; any other
      // session that already resolved the table must refresh to see the
      // new files — standard catalog semantics, documented on the sink
      def indexed = {
        spark.catalog.refreshTable(tbl)
        spark.table(tbl).select("neighbor_id").as[Long].collect().toSet
      }
      assert(indexed === Set(100L, 101L, 1L, 2L), indexed.toString)
      // duplicate content under a new id is not novel → not indexed;
      // genuinely new content is; the SAME id arriving twice with
      // different content in one batch (passes the content-hash dedup!)
      // collapses to one embedding
      src.addData(doc(20, t(2), good),
        doc(21, t(2), "a wholly different body of text here"),
        doc(30, t(2), "same id first body of words entirely"),
        doc(30, t(2), "same id second body of words entirely"))
      q.processAllAvailable()
      assert(indexed === Set(100L, 101L, 1L, 2L, 21L, 30L), indexed.toString)
      // the id anti-join + within-batch id collapse keep the bucketed
      // append replay-safe: no id ever appears twice in the index
      assert(spark.table(tbl).groupBy("neighbor_id").count()
        .filter(col("count") > 1).count() === 0L)
    } finally {
      if (q != null) q.stop()
      Seq(tbl, s"${tbl}_centroids", s"${tbl}_codebooks")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("distinctMonitor: streaming sketch equals the batch sketch; replays can't move it") {
    implicit val sqlCtx = spark.sqlContext
    val k = 16
    // the batch-side twin computed driver-side with the SAME pure
    // reduce: distinct 3-shingles -> md5-derived 48-bit hash -> bottom-k
    def md5h48(s: String): Long =
      java.lang.Long.parseUnsignedLong(
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .take(6).map(b => f"${b & 0xff}%02x").mkString, 16)
    def shingles(text: String): Seq[String] =
      text.trim.split("\\s+").filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct
    val agg = new graft.functions.KmvSketchAgg[Long](k, identity)
    def batchEstimate(texts: Seq[String]): Double =
      graft.functions.KmvSketchAgg.estimate(
        texts.flatMap(shingles).map(md5h48).foldLeft(agg.zero)(agg.reduce), k)

    val textsA = (1 to 5).map(i => (0 until 30).map(j => s"a${i}w$j").mkString(" "))
    val textsB = Seq((0 until 10).map(j => s"bw$j").mkString(" ")) // < k shingles: exact
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.distinctMonitor(src.toDF(), n = 3, k = k).writeStream
      .format("memory").queryName("kmv_monitor").outputMode("update").start()
    try {
      // batch 1: part of A + all of B; batch 2: rest of A plus an EXACT
      // REPLAY of batch 1's first doc (at-least-once delivery)
      src.addData(doc(1, t(1), textsA(0), "srcA"), doc(2, t(1), textsA(1), "srcA"),
        doc(3, t(1), textsB(0), "srcB"))
      q.processAllAvailable()
      src.addData(doc(4, t(2), textsA(2), "srcA"), doc(5, t(2), textsA(3), "srcA"),
        doc(6, t(2), textsA(4), "srcA"),
        doc(1, t(2), textsA(0), "srcA"), // replayed duplicate
        doc(3, t(2), textsB(0), "srcB")) // replayed duplicate
      q.processAllAvailable()
      val finals = spark.table("kmv_monitor")
        .groupBy("source").agg(max(struct(col("sketch_n"), col("kmv_est"))).as("s"))
        .select(col("source"), col("s.kmv_est"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // streaming-final == batch twin over the logical (non-replayed) input
      assert(finals("srcA") === batchEstimate(textsA))
      assert(finals("srcB") === batchEstimate(textsB))
      // srcB never filled the sketch: the estimate is the exact count
      assert(finals("srcB") === shingles(textsB(0)).size.toDouble)
    } finally q.stop()
  }

  test("lengthQuantileMonitor: streaming reading equals the batch histogram sketch over the delivered rows") {
    implicit val sqlCtx = spark.sqlContext
    val mkText = (n: Int) => (1 to n).map(i => s"w$i").mkString(" ")
    // srcA: lengths 10,20,...,120 split across two batches; srcB: 5,7
    val a = (1 to 12).map(i => (i.toLong, mkText(i * 10), "srcA"))
    val b = Seq((100L, mkText(5), "srcB"), (101L, mkText(7), "srcB"))
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.lengthQuantileMonitor(src.toDF(), binWidth = 16L)
      .writeStream.format("memory").queryName("len_monitor")
      .outputMode("update").start()
    try {
      src.addData((a.take(5) ++ b.take(1)).map { case (id, tx, s) => doc(id, t(1), tx, s) }: _*)
      q.processAllAvailable()
      src.addData((a.drop(5) ++ b.drop(1)).map { case (id, tx, s) => doc(id, t(2), tx, s) }: _*)
      q.processAllAvailable()
      val finals = spark.table("len_monitor")
        .groupBy("source")
        .agg(max(struct(col("n_docs"), col("p50"), col("p90"), col("p99"))).as("s"))
        .select(col("source"), col("s.n_docs"), col("s.p50"), col("s.p90"), col("s.p99"))
        .as[(String, Long, Double, Double, Double)].collect()
        .map(r => r._1 -> r).toMap
      // the batch operator over the same logical rows
      val batch = graft.ops.Sketches.histogramQuantiles("source",
          graft.functions.TextFunctions.tokenCount(col("text")), 16L)(
          (a ++ b).toDF("doc_id", "text", "source"))
        .as[(String, Double, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._4).toMap
      Seq("srcA", "srcB").foreach { s =>
        val (_, n, p50, p90, p99) = finals(s)
        assert(n === (if (s == "srcA") 12L else 2L))
        assert(p50 === batch((s, 0.5)), s"$s p50")
        assert(p90 === batch((s, 0.9)), s"$s p90")
        assert(p99 === batch((s, 0.99)), s"$s p99")
      }
    } finally q.stop()
  }

  test("frequencyMonitor: streaming reading equals the batch CMS over the delivered rows, per source") {
    implicit val sqlCtx = spark.sqlContext
    val probes = Seq("alpha", "beta", "absentword")
    // srcA: 'alpha' ×7, 'beta' ×3 across two batches plus filler;
    // srcB: 'alpha' ×2 only — per-source state must not bleed
    val a1 = "alpha beta alpha filler1 filler2 alpha beta"
    val a2 = "alpha alpha filler3 alpha beta alpha filler4"
    val b1 = "alpha other alpha words here"
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.frequencyMonitor(src.toDF(), probes, d = 4, w = 64)
      .writeStream.format("memory").queryName("cms_monitor")
      .outputMode("update").start()
    try {
      src.addData(doc(1, t(1), a1, "srcA"), doc(2, t(1), b1, "srcB"))
      q.processAllAvailable()
      src.addData(doc(3, t(2), a2, "srcA"))
      q.processAllAvailable()
      val finals = spark.table("cms_monitor")
        .select(col("source"), col("n_tokens"), col("est"))
        .as[(String, Long, Map[String, Long])].collect()
        .groupBy(_._1).map { case (s, rs) => s -> rs.maxBy(_._2) }
      // the batch q137 operator over the same logical rows, per source
      def batch(texts: Seq[String]): Map[String, Long] =
        graft.ops.Sketches.cmsFrequency(col("text"), probes, 4, 64)(
            texts.zipWithIndex.map { case (tx, i) => (i.toLong, tx) }
              .toDF("doc_id", "text"))
          .select("term", "cms_est").as[(String, Long)].collect().toMap
      assert(finals("srcA")._2 === 14L)
      assert(finals("srcB")._2 === 5L)
      assert(finals("srcA")._3 === batch(Seq(a1, a2)))
      assert(finals("srcB")._3 === batch(Seq(b1)))
      // sketch semantics carry over: never an underestimate, exact when roomy
      assert(finals("srcA")._3("alpha") >= 7L)
      assert(finals("srcB")._3("absentword") >= 0L)
    } finally q.stop()
  }

  test("heavyHitterMonitor: MG laws hold over every delivered prefix, per source, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val k = 3
    // srcA: heavily skewed toward 'hot'; srcB small and disjoint
    val a1 = "hot hot hot warm hot cool hot warm hot"
    val a2 = "hot hot mild hot warm hot hot cool hot"
    val b1 = "only tiny words only"
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.heavyHitterMonitor(src.toDF(), k)
      .writeStream.format("memory").queryName("mg_monitor")
      .outputMode("update").start()
    def latest: Map[String, (Long, Map[String, Long])] =
      spark.table("mg_monitor").as[(String, Long, Map[String, Long])]
        .collect().groupBy(_._1)
        .map { case (s, rs) => s -> { val m = rs.maxBy(_._2); (m._2, m._3) } }
    def laws(prefix: Seq[String], reading: (Long, Map[String, Long])): Unit = {
      val toks = prefix.flatMap(_.split(' '))
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val (n, m) = reading
      assert(n === toks.size.toLong)
      assert(m.size <= k)
      exact.foreach { case (t, c) =>
        if (c > n / k) assert(m.contains(t), s"heavy $t missing from $m") }
      m.foreach { case (t, e) =>
        assert(e <= exact(t) && (exact(t) - e) * k <= n, s"bound broken for $t") }
    }
    try {
      src.addData(doc(1, t(1), a1, "srcA"), doc(2, t(1), b1, "srcB"))
      q.processAllAvailable()
      laws(Seq(a1), latest("srcA"))
      laws(Seq(b1), latest("srcB"))
      src.addData(doc(3, t(2), a2, "srcA"))
      q.processAllAvailable()
      laws(Seq(a1, a2), latest("srcA"))
      laws(Seq(b1), latest("srcB"))      // srcB state untouched
      assert(latest("srcA")._2.contains("hot"), "the dominant token survives")
    } finally q.stop()
  }

  test("driftMonitor: live KS vs the frozen baseline equals the pure read-off per prefix; a drifted feed alarms, an in-distribution one doesn't") {
    implicit val sqlCtx = spark.sqlContext
    def binned(texts: Seq[String], w: Long = 16L): Map[Long, Long] =
      texts.map(t => (t.trim.split("\\s+").count(_.nonEmpty) / w.toDouble).toLong)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // baseline: short docs (bin 0)
    val baseTexts = Seq.fill(20)(good)
    val baseline = binned(baseTexts)
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.driftMonitor(src.toDF(), baseline)
      .writeStream.outputMode("update").format("memory")
      .queryName("drift_t").start()
    try {
      def latest(s: String): (Long, Long, Long, Long, Long) = {
        val r = spark.table("drift_t").filter(col("source") === s)
          .as[(String, Long, Long, Long, Long, Long)].collect().last
        (r._2, r._3, r._4, r._5, r._6)
      }
      val long = (good + " ") * 10 // ~90 tokens → a far bin
      // steady feed sends baseline-like docs; drifted feed sends long ones
      val s1 = Seq(doc(1, t(1), good, "steady"), doc(2, t(1), good + " x", "steady"),
        doc(3, t(1), long, "drifted"))
      src.addData(s1: _*)
      q.processAllAvailable()
      assert(latest("steady") === graft.ops.Stats.ksFromHistograms(
        binned(Seq(good, good + " x")), baseline))
      assert(latest("drifted") === graft.ops.Stats.ksFromHistograms(
        binned(Seq(long)), baseline))
      assert(latest("drifted")._5 === 10000L, "disjoint support = max drift")
      assert(latest("steady")._5 === 0L, "same bin as baseline = no drift")
      // second batch extends the prefix; per-source isolation holds
      src.addData(doc(4, t(2), long, "drifted"), doc(5, t(2), good, "steady"))
      q.processAllAvailable()
      assert(latest("drifted") === graft.ops.Stats.ksFromHistograms(
        binned(Seq(long, long)), baseline))
      assert(latest("steady") === graft.ops.Stats.ksFromHistograms(
        binned(Seq(good, good + " x", good)), baseline))
    } finally q.stop()
  }

  test("admissionControl: good batches admitted, contract-violating batches quarantined whole, report = the batch operator verbatim") {
    import graft.ops.Constraints.Rule
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("admission").toString
    val rules = Seq(
      Rule("text_complete",
        sum(when(length(trim(col("text"))) === 0, 1L).otherwise(0L)),
        _ === 0.0),
      Rule("doc_id_unique",
        count(lit(1)) - countDistinct(col("doc_id")), _ === 0.0),
      Rule("batch_min_2", count(lit(1)), _ >= 2.0)) // advisory only
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.admissionControl(src.toDF(), rules,
        required = Set("text_complete", "doc_id_unique"),
        s"$dir/accept", s"$dir/quarantine", s"$dir/report",
        s"$dir/ckpt").start()
    try {
      // batch 0: clean, 2 docs → admitted (advisory rule also passes)
      val b0 = Seq(doc(1, t(1), good), doc(2, t(1), good + " x"))
      src.addData(b0: _*)
      q.processAllAvailable()
      // batch 1: duplicate id + an empty text → BOTH required rules
      // fail → the whole batch quarantines, nothing reaches accept
      val b1 = Seq(doc(3, t(2), good), doc(3, t(2), "  "))
      src.addData(b1: _*)
      q.processAllAvailable()
      // batch 2: single clean doc → required pass; the ADVISORY
      // batch_min_2 fails and must not block admission
      src.addData(doc(9, t(3), good))
      q.processAllAvailable()
      val accepted = spark.read.option("basePath", s"$dir/accept")
        .parquet(s"$dir/accept/batch=*")
      assert(accepted.select("doc_id").as[Long].collect().toSet ===
        Set(1L, 2L, 9L))
      val quarantined = spark.read.option("basePath", s"$dir/quarantine")
        .parquet(s"$dir/quarantine/batch=*")
      assert(quarantined.select("doc_id").as[Long].collect().toSeq
        .sorted === Seq(3L, 3L))
      // the persisted report IS the batch q155 operator on those rows
      val rep = spark.read.option("basePath", s"$dir/report")
        .parquet(s"$dir/report/batch=*")
        .select("batch", "rule", "metric", "pass", "admitted")
        .as[(Long, String, Double, Long, Long)].collect()
        .groupBy(_._1).map { case (b, rs) =>
          b -> rs.map(r => (r._2, r._3, r._4, r._5)).toSet }
      val batchIds = rep.keys.toSeq.sorted
      assert(batchIds.size === 3)
      def expectedFor(docs: Seq[StreamDoc], admitted: Long) =
        graft.ops.Constraints.report(docs.toDF(), rules)
          .as[(String, Double, Long)].collect()
          .map(r => (r._1, r._2, r._3, admitted)).toSet
      assert(rep(batchIds(0)) === expectedFor(b0, 1L))
      assert(rep(batchIds(1)) === expectedFor(b1, 0L))
      assert(rep(batchIds(1)).exists { case (r, _, p, _) =>
        r == "doc_id_unique" && p == 0L })
      // advisory failure visible in the report, admitted anyway
      assert(rep(batchIds(2)).exists { case (r, _, p, _) =>
        r == "batch_min_2" && p == 0L })
      assert(rep(batchIds(2)).forall(_._4 == 1L))
    } finally q.stop()
  }

  test("oovMonitor: running OOV rate equals the batch aggregate per prefix; frozen vocab; per-source isolation") {
    implicit val sqlCtx = spark.sqlContext
    val vocab = Set("the", "quick", "brown", "fox", "jumps")
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.oovMonitor(src.toDF(), vocab).writeStream
      .format("memory").queryName("oov").outputMode("update").start()
    def latest(): Map[String, (Long, Long, Long)] =
      spark.sql("SELECT source, n_tokens, n_oov, oov_bp FROM oov")
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1).map { case (s, xs) =>
          s -> xs.maxBy(_._2._1)._2 }
    try {
      // batch 0: feedA fully in-vocab (5 tokens), feedB half out
      src.addData(
        doc(1, t(1), "the quick brown fox jumps", source = "feedA"),
        doc(2, t(1), "the quick zzz www", source = "feedB"))
      q.processAllAvailable()
      val r0 = latest()
      assert(r0("feedA") === ((5L, 0L, 0L)))
      assert(r0("feedB") === ((4L, 2L, 5000L)))
      // batch 1: feedA drifts hard (all OOV); feedB untouched
      src.addData(doc(3, t(2), "qqq rrr sss ttt uuu", source = "feedA"))
      q.processAllAvailable()
      val r1 = latest()
      assert(r1("feedA") === ((10L, 5L, 5000L)),
        "counters accumulate: 5 in-vocab + 5 OOV")
      assert(r1("feedB") === ((4L, 2L, 5000L)), "other sources untouched")
      // live ≡ batch: the reading equals the batch aggregate over all
      // delivered feedA rows against the same frozen vocab
      val delivered = Seq("the quick brown fox jumps", "qqq rrr sss ttt uuu")
      val toks = delivered.flatMap(_.split(" "))
      assert(r1("feedA")._1 === toks.size.toLong)
      assert(r1("feedA")._2 === toks.count(w => !vocab(w)).toLong)
    } finally q.stop()
  }

  test("manifestMonitor: live XOR digest equals the batch additiveManifest per prefix; sealed shards freeze") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.manifestMonitor(src.toDF(), 4L).writeStream
      .format("memory").queryName("manifest").outputMode("update").start()
    def latest(): Map[Long, (Long, Long)] =
      spark.sql("SELECT shard, n_docs, xor_digest FROM manifest")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (s, xs) => s -> xs.maxBy(_._2._1)._2 }
    def batchOver(docs: Seq[(Long, String)]): Map[Long, (Long, Long)] =
      graft.ops.Staged.withStaged {
        graft.ops.CorpusManifest.additiveManifest("doc_id", "text", 4L)(
            docs.toDF("doc_id", "text"))
          .select("shard", "n_docs", "xor_digest")
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      }
    try {
      val b0 = Seq((0L, "alpha"), (1L, "beta"), (5L, "gamma"))
      src.addData(b0.map { case (i, x) => doc(i, t(1), x) }: _*)
      q.processAllAvailable()
      assert(latest() === batchOver(b0), "prefix 0: live ≡ batch")
      // batch 1: shard 0 grows, shard 1 is untouched (sealed reading
      // frozen), shard 2 appears
      val b1 = Seq((2L, "delta"), (9L, "epsilon"))
      src.addData(b1.map { case (i, x) => doc(i, t(2), x) }: _*)
      q.processAllAvailable()
      val all = b0 ++ b1
      assert(latest() === batchOver(all), "prefix 1: live ≡ batch")
      // a REPOSTED document cancels its own digest but bumps the
      // count — exactly how a dup shows up in the integrity check
      src.addData(doc(1, t(3), "beta"))
      q.processAllAvailable()
      val r = latest()(0L)
      val clean = batchOver(all)(0L)
      val d1 = spark.range(1)
        .select(graft.ops.CorpusManifest.docDigest(lit(1L), lit("beta")))
        .as[Long].collect()(0)
      assert(r._1 === clean._1 + 1, "count exposes the duplicate")
      assert(r._2 === (clean._2 ^ d1), "the dup's digest cancels itself")
    } finally q.stop()
  }

  test("nearDupProbe: arriving docs probe the frozen base sketch; live = the batch operator; intra-batch pairs absent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ndprobe").toString
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // the standing corpus: doc 100 carries the paragraph, 101 does not
    val base = Seq(
      (100L, s"intro words here $para closing words"),
      (101L, "completely different standing content nothing shared at all"))
      .toDF("doc_id", "text")
    val baseFps = graft.ops.Staged.withStaged {
      graft.ops.Dedup.winnowFingerprints("doc_id", "text", 3, 4)(base)
        .select(col("doc_id").as("doc"), col("fp"))
        .localCheckpoint() // frozen: materialized once, reused per batch
    }
    val src = MemoryStream[StreamDoc]
    val q = CorpusStream.nearDupProbe(src.toDF(), baseFps,
        s"$dir/out", s"$dir/ckpt", minShared = 1).start()
    try {
      // batch 0: doc 1 re-posts the paragraph (must pair with 100 and
      // ONLY 100); docs 2+3 are identical to each other but new to the
      // corpus — intra-batch pairs must NOT appear
      src.addData(
        doc(1, t(1), s"$para reposted with fresh framing words"),
        doc(2, t(1), "brand new content never seen before in any form"),
        doc(3, t(1), "brand new content never seen before in any form"))
      q.processAllAvailable()
      // batch 1: clean novel doc -> empty output for the batch
      src.addData(doc(4, t(2), "another entirely novel document body here"))
      q.processAllAvailable()
      val out = spark.read.option("basePath", s"$dir/out")
        .parquet(s"$dir/out/batch=*")
        .select("probe_id", "base_id", "n_shared", "n_probe", "n_base",
          "overlap_bp", "batch")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      assert(out.map(r => (r._1, r._2)).toSet === Set((1L, 100L)),
        "only the repost pairs, only against its true base doc")
      // live ≡ batch: the flagged row equals the batch operator run on
      // the same rows against the same frozen base
      val b0 = Seq(
        doc(1, t(1), s"$para reposted with fresh framing words"),
        doc(2, t(1), "brand new content never seen before in any form"),
        doc(3, t(1), "brand new content never seen before in any form"))
        .toDF()
      val expect = graft.ops.Staged.withStaged {
        graft.ops.Dedup.sketchProbePairs(1, 1000L)(
          baseFps,
          graft.ops.Dedup.winnowFingerprints("doc_id", "text", 3, 4)(b0)
            .select(col("doc_id").as("doc"), col("fp")))
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      }
      assert(out.map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet ===
        expect)
    } finally q.stop()
  }
}
