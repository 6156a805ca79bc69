package tmsbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.ingest.LoomSchema
import graft.ops.{CorpusPipeline, Dedup, Similarity, Skew, Staged}
import graft.pipeline.{CorpusSink, EtlPipeline, ExportJob, ImportJob, JdbcUpsertSink, SummaryJob}
import graft.streaming.CorpusStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._


/** A workload over one session. `setUp` is the program's own set-up
  * (tables, queries, layout probe); `op(i)` runs the i-th op of the run's
  * fixed sequence; `check` writes what the runner compares against the
  * generator's truth. `state` is a fresh directory per set-up, so every
  * set-up starts from empty sink tables and output trees. */
abstract class Workload(val spark: SparkSession, val inputs: File, val state: File,
                        val tr: Tracer) {
  def setUp(): Unit
  /** Runs the i-th op; returns its latency in ns. */
  def op(i: Int): Long
  def tearDown(): Unit = ()
  def check(out: File): Unit
  /** Directory whose new files count as the op's written files. */
  def outputRoot: File
  /** Directory the op reads its input files from. */
  def inputRoot: File
  /** Files under [[inputRoot]] now. */
  def inputFiles: Long =
    if (!inputRoot.exists()) 0L
    else Files.walk(inputRoot.toPath).filter(p => Files.isRegularFile(p) &&
      !p.getFileName.toString.startsWith(".")).count()
  /** Counts the traced op's own frames do not expose, taken after it. */
  def recount(): Map[String, Double] = Map.empty
  /** Time from the end of the op's staging scope's body to its exit. */
  var releaseNs = 0L

  protected def plan: JsonNode = new ObjectMapper().readTree(new File(inputs, "plan.json"))
  protected def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime(); val r = body; (r, System.nanoTime() - t0)
  }
  protected def write(f: File, s: String): Unit = Files.writeString(f.toPath, s)
}

object Workload {
  def apply(name: String, spark: SparkSession, inputs: File, state: File, tr: Tracer): Workload =
    name match {
      case "loom_etl" => new LoomEtl(spark, inputs, state, tr)
      case "corpus_release" => new CorpusRelease(spark, inputs, state, tr)
      case "stream_intake" => new StreamIntake(spark, inputs, state, tr)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The reference's export cycle: a rolling 60-day window of daily CSVs,
  * advanced one day per op, imported, upserted into an in-memory Derby
  * table and exported month-partitioned. */
final class LoomEtl(spark: SparkSession, inputs: File, state: File, tr: Tracer)
    extends Workload(spark, inputs, state, tr) {
  private val p = plan
  private val ops = p.get("ops").elements().asScala.toIndexedSeq
  private val tree = new File(inputs, "tree")
  private val live = new File(state, "landing")
  private val export = new File(state, "export")
  private val table = "tblLoom"
  private val url = s"jdbc:derby:memory:${state.getName};create=true"
  def outputRoot: File = export
  def inputRoot: File = live

  private def land(rel: String): Unit = {
    val dst = new File(live, rel)
    dst.getParentFile.mkdirs()
    Files.copy(new File(tree, rel).toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  def setUp(): Unit = {
    p.get("initial").elements().asScala.foreach(n => land(n.asText))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // 32 KB pages hold a whole 71-column row: with Derby's 4 KB default
      // the rows overflow to long records, whose concurrent MERGE path
      // fails inside Derby
      conn.createStatement().execute("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.storage.pageSize', '32768')")
      val cols = LoomSchema.columnNames.map { c =>
        val notNull = if (LoomSchema.primaryKey.contains(c)) " NOT NULL" else ""
        "\"" + c + "\" VARCHAR(64)" + notNull
      }
      conn.createStatement().execute(s"""CREATE TABLE "$table" (${cols.mkString(", ")}, """ +
        LoomSchema.primaryKey.map("\"" + _ + "\"").mkString("PRIMARY KEY (", ", ", "))"))
    } finally conn.close()
    Skew.recordScanParallelism(spark, live.getPath)
  }

  def op(i: Int): Long = {
    val o = ops(i)
    // the day's export lands and the oldest day leaves the window
    land(o.get("add").asText)
    new File(live, o.get("drop").asText).delete()
    val months = o.get("months").elements().asScala.map(_.asText).toSeq
    val u = url
    val factory: () => java.sql.Connection =
      if (tr.on) () => Jdbc.timed(java.sql.DriverManager.getConnection(u))
      else () => java.sql.DriverManager.getConnection(u)
    val props = new java.util.Properties()
    var merged: DataFrame = null
    var bodyEnd = 0L
    val (results, ns) = timed(tr.span("pipeline.EtlPipeline.run") {
      val r = EtlPipeline.run(spark, Seq(
        EtlPipeline.Step("import") { s =>
          val sinkKeys = tr.span("pipeline.jdbc.readSinkKeys", build = true) {
            s.read.jdbc(u, "\"" + table + "\"", props)
          }
          merged = tr.span("pipeline.ImportJob.importCsvTree", build = true) {
            ImportJob.importCsvTree(s, live.getPath, sinkKeys = Some(sinkKeys))
          }
          merged.persist()
          tr.span("pipeline.ImportJob.materialize") { merged.count() }
        },
        EtlPipeline.Step("sink") { _ =>
          // one connection: embedded Derby's MERGE fails inside Derby when
          // several connections run it at once (internal NPEs)
          tr.span("pipeline.JdbcUpsertSink.write") {
            JdbcUpsertSink.write(merged.coalesce(1), table, factory,
              dialect = JdbcUpsertSink.AnsiMergeUpsert())
          }
        },
        EtlPipeline.Step("export") { s =>
          val df = merged.withColumn("month", substring(col("DataTurno"), 1, 7))
            .withColumn("dataset_type", lit("daily"))
          tr.span("pipeline.ExportJob.exportMonthsIncremental") {
            ExportJob.exportMonthsIncremental(df, months, export.getPath)
          }
          tr.span("pipeline.ExportJob.verifyExport") {
            ExportJob.verifyExport(s, export.getPath, months).collect()
          }
          tr.span("pipeline.SummaryJob.summarize") { SummaryJob.summarize(df).collect() }
        },
        EtlPipeline.Step("finalize", continueOnError = true, alwaysRun = true) { _ =>
          if (merged != null) merged.unpersist()
          bodyEnd = System.nanoTime()
        }))
      releaseNs = System.nanoTime() - bodyEnd
      r
    })
    results.find(!_.ok).foreach(r => throw new IllegalStateException(
      s"step ${r.name} failed: ${r.error.getOrElse("")}"))
    ns
  }

  override def tearDown(): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a dropped database reports 08006

  def check(out: File): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    val sb = new StringBuilder
    try {
      val rs = conn.createStatement().executeQuery(
        LoomSchema.columnNames.map("\"" + _ + "\"").mkString("SELECT ", ", ", s""" FROM "$table""""))
      while (rs.next()) {
        val vals = (1 to LoomSchema.columnNames.size).map(i => Option(rs.getString(i)))
        sb ++= vals.map(_.map(Json.str).getOrElse("null")).mkString("[", ",", "]\n")
      }
    } finally conn.close()
    write(new File(out, "sink.jsonl"), sb.toString)
    val counts = spark.read.parquet(export.getPath).groupBy("month").count().collect()
      .map(r => Json.str(r.getString(0)) + ": " + r.getLong(1)).mkString("{", ", ", "}")
    write(new File(out, "export.json"), counts)
  }
}

/** One corpus release over single-file parquet: the q62 build, an ANN
  * index probed against exact top-k, and an atomic publish. */
final class CorpusRelease(spark: SparkSession, inputs: File, state: File, tr: Tracer)
    extends Workload(spark, inputs, state, tr) {
  private val p = plan
  private val queries = p.get("queries").elements().asScala.map(_.asLong).toSeq
  private val input = new File(inputs, "input")
  private val root = new File(state, "release")
  def outputRoot: File = root
  def inputRoot: File = input
  var lastRecall = Double.NaN
  var lastPublished = ""
  val K = 10

  def setUp(): Unit = Skew.recordScanParallelism(spark, input.getPath)

  private def docs = spark.read.parquet(new File(input, "documents.parquet").getPath)

  /** q62's composition; `traced` wraps its calls in spans, and the hooks
    * see the pair graph and the cluster labels the pipeline consumes. */
  private def release(docs: DataFrame, traced: Boolean,
                      onPairs: DataFrame => Unit = _ => (),
                      onClusters: DataFrame => Unit = _ => ()): DataFrame = {
    def sp(name: String)(body: => DataFrame) =
      if (traced) tr.span(name, build = true)(body) else body
    sp("ops.CorpusPipeline.run") {
      CorpusPipeline.run(docs,
        keep => sp("ops.Dedup.ngramJaccardPairs") {
          val p = keep.transform(Dedup.ngramJaccardPairs(
            "doc_id", "norm_text", 3, 0.03, tokensCol = Some("__w")))
          onPairs(p)
          p
        },
        clusterer = (g, a, b) => sp("ops.Dedup.duplicateClusters") {
          val c = Dedup.duplicateClusters(g, a, b)
          onClusters(c)
          c
        })
    }
  }

  def op(i: Int): Long = {
    var bodyEnd = 0L
    val (_, ns) = timed(tr.span("ops.Staged.withStaged") {
      Staged.withStaged {
        val rel = release(docs, tr.on)
        val emb = spark.read.parquet(new File(input, "embeddings.parquet").getPath)
        val q = emb.filter(col("vec_id").isin(queries: _*))
        val approx = tr.span("ops.Similarity.ivfPqTopK", build = true) {
          Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", K, dim = 64,
            nCentroids = 16, nProbe = 8, m = 16, refine = 8)
        }
        val exact = tr.span("ops.Similarity.bruteForceTopK", build = true) {
          Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", K)
        }
        val hits = tr.span("ops.Similarity.recall") {
          approx.select("query_id", "neighbor_id")
            .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
            .count()
        }
        lastRecall = hits.toDouble / (queries.size * K)
        lastPublished = tr.span("pipeline.CorpusSink.publish") {
          CorpusSink.publish(spark, root.getPath)(path => CorpusSink.write(rel, path))
        }
        bodyEnd = System.nanoTime()
      }
      releaseNs = System.nanoTime() - bodyEnd
    })
    ns
  }

  /** Re-runs the release in a scope of its own: one count raises the
    * gate's observed metrics once (the publish samples its input in a
    * job of its own, so its plans would count them twice), two more
    * count the pair graph and the clusters. Nothing of the op's plan is
    * staged or counted for this. */
  override def recount(): Map[String, Double] = Staged.withStaged {
    var pairsDf, clustersDf: DataFrame = null
    release(docs, traced = false, onPairs = p => pairsDf = p,
      onClusters = c => clustersDf = c).count()
    Map("pairs" -> pairsDf.count().toDouble,
      "clusters" -> clustersDf.select("cluster").distinct().count().toDouble)
  }

  def check(out: File): Unit = {
    write(new File(out, "corpus.json"),
      s"""{"published": ${Json.str(lastPublished)}, "recall_at_10": $lastRecall}""")
    write(new File(out, "q62.sql"), graft.SparkEntry.oracleSql("q62_corpus_pipeline"))
  }
}

/** Streaming intake: one long-lived readDocs → cleanDocs → dedupedDocs →
  * corpusIngestSink query; each op lands one file and drives the query
  * until that file's batch is committed. */
final class StreamIntake(spark: SparkSession, inputs: File, state: File, tr: Tracer)
    extends Workload(spark, inputs, state, tr) {
  private val files = new File(inputs, "files")
  private val landing = new File(state, "landing")
  private val sink = new File(state, "sink")
  private var query: StreamingQuery = _
  def outputRoot: File = sink
  def inputRoot: File = landing

  def setUp(): Unit = {
    landing.mkdirs()
    Skew.recordScanParallelism(spark, landing.getPath)
    query = CorpusStream.corpusIngestSink(
      CorpusStream.dedupedDocs(CorpusStream.cleanDocs(
        CorpusStream.readDocs(spark, landing.getPath))),
      sink.getPath, new File(state, "checkpoint").getPath).start()
  }

  def op(i: Int): Long = {
    val name = f"b$i%05d.json"
    val tmp = new File(landing, "." + name)
    Files.copy(new File(files, name).toPath, tmp.toPath)
    // the landing is one rename; its time stamps the op's start
    Files.move(tmp.toPath, new File(landing, name).toPath, StandardCopyOption.ATOMIC_MOVE)
    val landed = System.nanoTime()
    tr.span("streaming.CorpusStream.processAllAvailable") { query.processAllAvailable() }
    System.nanoTime() - landed
  }

  override def tearDown(): Unit = if (query != null) { query.stop(); query = null }

  def check(out: File): Unit = {
    val hashes = spark.read.parquet(s"${sink.getPath}/batch=*").select("content_hash")
      .collect().map(_.getString(0))
    write(new File(out, "novel_hashes.txt"), hashes.sorted.mkString("", "\n", "\n"))
  }

  /** Sink files the next batch's anti-join probe reads. */
  def probeFiles: Long = Option(sink.listFiles()).getOrElse(Array.empty[File])
    .filter(_.getName.startsWith("batch="))
    .map(d => Option(d.listFiles()).getOrElse(Array.empty[File])
      .count(_.getName.endsWith(".parquet")).toLong).sum
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
