package graft

import graft.ops.{CorpusPipeline, Dedup, Similarity, Skew, Staged}
import graft.pipeline.CorpusSink
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.collection.mutable

/** The classes Spark generates for one corpus release op — q62's
  * `CorpusPipeline.run` with n-gram Jaccard pairs, an `ivfPqTopK` ⋈
  * `bruteForceTopK` recall probe and a `CorpusSink.publish` — over
  * single-file parquet with fan-out engaged, as the benchmark runs it.
  *
  * Spark's codegen cache holds 100 entries (`spark.sql.codegen.cache.
  * maxEntries`) in four LRU segments, keyed by (class loader, source).
  * The driver compiles every whole-stage class once to validate it and
  * an executor task compiles it again under its own loader, so a
  * whole-stage class takes two entries. An op whose classes overflow
  * the cache evicts and recompiles its own code on every run.
  *
  * The spec empties the cache, runs the op once with the code
  * generator's source log captured, and counts the distinct sources
  * compiled: that count does not depend on what earlier suites left in
  * the cache or on its size.
  *
  * The budget is a regression guard set from a measurement, not a
  * target the op meets: 79 classes (about 120 entries) were measured
  * when the ANN models became plan literals, so the op still overflows
  * the cache. A second op that compiles nothing would need about 60
  * entries, and AQE's stage-completion order renames a few whole-stage
  * classes per run even then. */
class CodegenBudgetSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val queries = (0L until 500L by 25L) // 20 ids: an InSet, as the bench's
  // 101 distinct classes before the ANN models became plan literals,
  // 79 after; the guard allows three more before it fails
  private val budget = 82

  /** One compiled class: its source and whether an executor task
    * compiled it. */
  private case class Compiled(source: String, executor: Boolean)

  /** Records, in compile order, every class the code generator compiles
    * while [[capturing]] runs: the generator logs each source it compiles
    * at DEBUG. */
  private final class Capture extends AbstractAppender("codegen-budget", null, null, true,
      Property.EMPTY_ARRAY) {
    private val seen = mutable.ArrayBuffer[Compiled]()
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.contains("generate(Object[] references)")) seen.synchronized {
        seen += Compiled(m, e.getThreadName.startsWith("Executor task launch"))
      }
    }
    def compiled: Seq[Compiled] = seen.synchronized(seen.toList)

    def capturing[T](body: => T): T = {
      val name = CodeGenerator.getClass.getName.stripSuffix("$")
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val prior = ctx.getLogger(name).getLevel
      Configurator.setLevel(name, Level.DEBUG)
      val config = ctx.getConfiguration.getLoggerConfig(name)
      config.setAdditive(false)
      config.addAppender(this, Level.DEBUG, null)
      ctx.updateLoggers()
      start()
      try body finally {
        config.removeAppender(getName)
        config.setAdditive(true)
        Configurator.setLevel(name, prior)
        stop()
      }
    }
  }

  /** Empties the JVM-wide codegen cache, so that every class the next
    * run needs is compiled, and logged, at least once. */
  private def emptyCodegenCache(): Unit = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    val cache = f.get(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
  }

  /** One release op; `span` is called as each span starts. */
  private def releaseOp(root: String, span: String => Unit): Unit =
    Staged.withStaged {
      span("CorpusPipeline.run")
      val rel = CorpusPipeline.run(Tables.documents(spark, sf),
        _.transform(Dedup.ngramJaccardPairs("doc_id", "norm_text", 3, 0.03,
          tokensCol = Some("__w"))))
      val emb = Tables.embeddings(spark, sf)
      val q = emb.filter(col("vec_id").isin(queries: _*))
      span("ivfPqTopK build")
      val approx = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 10, dim = 64,
        nCentroids = 16, nProbe = 8, m = 16, refine = 8)
      val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
      span("recall probe")
      val hits = approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
        .count()
      assert(hits > 0)
      span("CorpusSink.publish")
      CorpusSink.publish(spark, root)(path => CorpusSink.write(rel, path))
    }

  test(s"one corpus release op generates at most $budget distinct classes") {
    val prior = spark.conf.getOption(Skew.ScanParallelismKey)
    val root = Files.createTempDirectory("codegen-budget")
    try {
      Skew.recordScanParallelism(spark, sf)
      emptyCodegenCache()
      val cap = new Capture
      val starts = mutable.ArrayBuffer[(String, Int)]()
      cap.capturing(releaseOp(root.toString, s => starts += s -> cap.compiled.size))
      val all = cap.compiled
      // each class counts for the first span that compiled it
      var known = Set.empty[String]
      val perSpan = starts.indices.map { i =>
        val end = if (i + 1 < starts.size) starts(i + 1)._2 else all.size
        val fresh = all.slice(starts(i)._2, end).map(_.source).toSet -- known
        known ++= fresh
        s"${starts(i)._1} ${fresh.size}"
      }
      val entries = all.toSet
      info(s"${known.size} distinct classes (${perSpan.mkString(", ")}); " +
        s"${entries.size} cache entries, ${entries.count(_.executor)} of them " +
        "compiled by executor tasks")
      assert(known.size <= budget, s"${known.size} distinct generated classes")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(Skew.ScanParallelismKey, v)
        case None => spark.conf.unset(Skew.ScanParallelismKey)
      }
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }
}
