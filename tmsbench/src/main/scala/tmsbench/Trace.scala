package tmsbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectMetricsExec, CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Work counted at one layer boundary. Listener events accumulate into a
  * pending bucket; a span takes the bucket when it exits, so a span owns
  * exactly the events raised while it was the innermost open span. */
final class Stats {
  var tasks, cpuNs, gcMs, shufWrite, shufRead, spill = 0L
  var inRecs, inTasks, inRunMs, outBytes, outRecs, outRunMs = 0L
  var jobs, stages = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var fanoutExchanges, postAqePartitions = 0L
  var worstSkew = 1.0
  val observed = mutable.Map[String, Long]()
  // stream progress
  var batches, addBatchMs, planMs, walMs, stateRows, stateBytes, wmDropped, dedupUpdated = 0L

  def add(o: Stats): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shufWrite += o.shufWrite; shufRead += o.shufRead
    spill += o.spill; inRecs += o.inRecs; inTasks += o.inTasks
    inRunMs += o.inRunMs; outBytes += o.outBytes; outRecs += o.outRecs; outRunMs += o.outRunMs
    jobs += o.jobs; stages += o.stages
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    fanoutExchanges += o.fanoutExchanges; postAqePartitions += o.postAqePartitions
    worstSkew = math.max(worstSkew, o.worstSkew)
    o.observed.foreach { case (k, v) => observed(k) = observed.getOrElse(k, 0L) + v }
    batches += o.batches; addBatchMs += o.addBatchMs; planMs += o.planMs; walMs += o.walMs
    stateRows = math.max(stateRows, o.stateRows); stateBytes = math.max(stateBytes, o.stateBytes)
    wmDropped += o.wmDropped; dedupUpdated += o.dedupUpdated
  }
}

/** One call into the engine: a name (`layer.Module.function`), its
  * interval, the span that caused it and the op it belongs to. */
final case class Span(id: Int, name: String, parent: Int, op: Int, build: Boolean,
                      start: Long, var end: Long = 0L, stats: Stats = new Stats) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the harness's calls into the engine, plus the Spark
  * listeners that count work at the same boundaries. Off unless
  * [[enable]]d: then [[span]] only runs its body, no listener is
  * registered and nothing is recorded. */
final class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var spark: SparkSession = _
  private var opId: Int = -1
  private var _on = false
  def on: Boolean = _on
  /** Cached-storage samples taken at span exits within the current op. */
  var peakStagedBytes, peakStagedBlocks = 0L

  private val lock = new Object
  private var pending = new Stats
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def span[T](name: String, build: Boolean = false)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId, build,
        System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.end = System.nanoTime()
        org.apache.spark.tmsbench.Bus.drain(spark.sparkContext)
        s.stats.add(takePending())
        sampleStaged()
        stack = stack.tail
      }
    }

  private def takePending(): Stats = lock.synchronized {
    val p = pending
    pending = new Stats
    stageTaskMs.values.foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val median = sorted(sorted.size / 2)
        if (median >= 10) p.worstSkew = math.max(p.worstSkew, sorted.last.toDouble / median)
      }
    }
    stageTaskMs.clear()
    p
  }

  private def sampleStaged(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    peakStagedBytes = math.max(peakStagedBytes, infos.map(i => i.memSize + i.diskSize).sum)
    peakStagedBlocks = math.max(peakStagedBlocks, infos.map(_.numCachedPartitions.toLong).sum)
  }

  def attach(s: SparkSession): Unit = { require(!on); spark = s }

  /** Register the listeners; spans opened until [[disable]] belong to op
    * `op`. The bus is drained first, so no earlier event is counted. */
  def enable(op: Int): Unit = {
    org.apache.spark.tmsbench.Bus.drain(spark.sparkContext)
    takePending()
    opId = op
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    _on = true
  }

  def disable(): Unit = {
    org.apache.spark.tmsbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    _on = false
  }

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized { pending.jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { pending.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      lock.synchronized {
        val p = pending
        p.tasks += 1
        p.cpuNs += m.executorCpuTime
        p.gcMs += m.jvmGCTime
        p.shufWrite += m.shuffleWriteMetrics.bytesWritten
        p.shufRead += m.shuffleReadMetrics.totalBytesRead
        p.spill += m.diskBytesSpilled
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          p.inTasks += 1
          p.inRecs += m.inputMetrics.recordsRead; p.inRunMs += m.executorRunTime
        }
        if (m.outputMetrics.bytesWritten > 0) {
          p.outBytes += m.outputMetrics.bytesWritten; p.outRecs += m.outputMetrics.recordsWritten
          p.outRunMs += m.executorRunTime
        }
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = Tracer.walk(qe.executedPlan)
      lock.synchronized {
        val p = pending
        p.analysisMs += ms("analysis"); p.optimizationMs += ms("optimization")
        p.planningMs += ms("planning")
        nodes.foreach {
          case x: ShuffleExchangeExec if x.shuffleOrigin == REPARTITION_BY_NUM => p.fanoutExchanges += 1
          case r: AQEShuffleReadExec => p.postAqePartitions += r.partitionSpecs.size
          case c: CollectMetricsExec =>
            val row = c.collectedMetrics
            row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
              if (!row.isNullAt(i)) p.observed(s"${c.name}.$f") =
                p.observed.getOrElse(s"${c.name}.$f", 0L) + row.getAs[Number](i).longValue()
            }
          case _ =>
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val pr = e.progress
      def d(k: String): Long = Option(pr.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      lock.synchronized {
        val p = pending
        p.batches += 1
        p.addBatchMs += d("addBatch"); p.planMs += d("queryPlanning")
        p.walMs += d("walCommit") + d("commitOffsets")
        pr.stateOperators.foreach { s =>
          p.stateRows = math.max(p.stateRows, s.numRowsTotal)
          p.stateBytes = math.max(p.stateBytes, s.memoryUsedBytes)
          p.wmDropped += s.numRowsDroppedByWatermark
          p.dedupUpdated += s.numRowsUpdated
        }
      }
    }
  }

  /** Self time of a span: its duration minus the part its children cover
    * (children of one span never overlap: the harness is one thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}

object Tracer {
  /** Every node of an executed plan, through AQE stages and commands. */
  def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
    case s: ShuffleQueryStageExec => s +: walk(s.plan)
    case s: QueryStageExec => s +: walk(s.plan)
    case c: CommandResultExec => c +: walk(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }
}

/** Counters for the JDBC sink, filled by [[Jdbc.timed]]'s proxies. They
  * are JVM-wide because the sink's tasks run on executor threads. */
object SinkCounters {
  val rows = new java.util.concurrent.atomic.AtomicLong
  val batches = new java.util.concurrent.atomic.AtomicLong
  val connections = new java.util.concurrent.atomic.AtomicLong
  val dbWaitNs = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = Seq(rows, batches, connections, dbWaitNs).foreach(_.set(0L))
}

object Jdbc {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}

  private def timedCall(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
    val t0 = System.nanoTime()
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
    finally SinkCounters.dbWaitNs.addAndGet(System.nanoTime() - t0)
  }

  private def plainCall(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  /** Wrap a connection so every round trip to the database is timed and
    * every batched row counted. */
  def timed(open: => java.sql.Connection): java.sql.Connection = {
    val t0 = System.nanoTime()
    val conn = open
    SinkCounters.dbWaitNs.addAndGet(System.nanoTime() - t0)
    SinkCounters.connections.incrementAndGet()
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[java.sql.Connection]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "prepareStatement" =>
            val stmt = timedCall(conn, m, args).asInstanceOf[java.sql.PreparedStatement]
            statement(stmt)
          case "commit" | "close" => timedCall(conn, m, if (args == null) Array.empty else args)
          case _ => plainCall(conn, m, args)
        }
      }).asInstanceOf[java.sql.Connection]
  }

  private def statement(stmt: java.sql.PreparedStatement): java.sql.PreparedStatement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[java.sql.PreparedStatement]),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
          case "addBatch" => SinkCounters.rows.incrementAndGet(); plainCall(stmt, m, args)
          case "executeBatch" =>
            SinkCounters.batches.incrementAndGet(); timedCall(stmt, m, Array.empty)
          case _ => plainCall(stmt, m, args)
        }
      }).asInstanceOf[java.sql.PreparedStatement]
}
