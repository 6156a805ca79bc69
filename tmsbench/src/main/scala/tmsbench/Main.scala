package tmsbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import scala.collection.mutable

/** The measured process of the benchmark (run.py launches it).
  *
  * `--setups` times, start a session and run the workload's set-up on
  * fresh state, and time it; the last set-up's session then runs
  * `--warmup` untimed ops and `--ops` timed ones, closed loop. With
  * `--trace 1` half of those ops run with listeners and spans, and the
  * untraced ones give the tracing overhead. Writes one JSON object of
  * raw measurements to `--out`; run.py derives the metrics. */
object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  private def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("tmsbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use after a full GC: the least of three collections spaced
    * 150 ms apart, so the context cleaner can drop the broadcasts and
    * blocks of frames the previous collection freed, and background
    * threads (the stream's no-data batches) are caught idle once. */
  private def liveHeapMb: Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Data files under `dir` written at or after `sinceMs`. */
  private def filesWritten(dir: File, sinceMs: Long): Long =
    if (!dir.exists()) 0L
    else Files.walk(dir.toPath).filter(p => p.getFileName.toString.startsWith("part-") &&
      Files.getLastModifiedTime(p).toMillis >= sinceMs).count()

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val trace = arg(args, "trace") == "1"
    val ops = arg(args, "ops").toInt
    val warmup = arg(args, "warmup").toInt
    val setups = arg(args, "setups").toInt
    val cores = arg(args, "cores").toInt
    val inputs = new File(arg(args, "inputs"))
    val work = new File(arg(args, "work"))
    val out = new File(arg(args, "out"))
    val checks = new File(work, "checks")
    checks.mkdirs()

    val setupS = mutable.ArrayBuffer[Double]()
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def runOp(i: Int, w: Workload): Double =
      try w.op(i) / 1e9
      catch {
        case e: Exception =>
          failed += 1
          errors += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          Double.NaN
      }

    val tr = new Tracer
    var spark: SparkSession = null
    var w: Workload = null
    for (r <- 0 until setups) {
      if (w != null) { w.tearDown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cores, work)
      tr.attach(spark)
      w = Workload(workload, spark, inputs, new File(work, s"state$r"), tr)
      w.setUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    (0 until warmup).foreach(w.op)

    val layers = mutable.LinkedHashMap[String, Double]()
    val spanTable = mutable.ArrayBuffer[String]()
    val latencies = mutable.ArrayBuffer[Double]()
    val tracedLat, untracedLat = mutable.ArrayBuffer[Double]()
    var loopWall, loopCpu, loopJit, heap = 0.0
    if (!trace) {
      val cpu0 = processCpuNs
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val t0 = System.nanoTime()
      (warmup until warmup + ops).foreach(i => latencies += runOp(i, w))
      loopWall = (System.nanoTime() - t0) / 1e9
      loopCpu = (processCpuNs - cpu0) / 1e9
      // the JIT compiler threads' time (the JVM's estimate), which run.py
      // takes out of the operator's CPU
      loopJit = (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1e3
      heap = liveHeapMb
    } else {
      // the same ops in one session after the same warm-up, half of them
      // traced in the order untraced, traced, traced, untraced: the
      // untraced ones time the ops without listeners or spans, and the
      // order cancels a steady drift of op time over the run (JIT)
      val acc = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val traced = (0 until ops).filter(k => k % 4 == 1 || k % 4 == 2).map(_ + warmup)
      for (i <- warmup until warmup + ops) {
        if (!traced.contains(i)) {
          val lat = runOp(i, w)
          latencies += lat; untracedLat += lat
        } else {
          tr.enable(i)
          tr.peakStagedBytes = 0L; tr.peakStagedBlocks = 0L
          val persisted0 = spark.sparkContext.getPersistentRDDs.size
          val opStartMs = System.currentTimeMillis()
          val inputFiles0 = w.inputFiles
          val probeFiles = w match { case s: StreamIntake => s.probeFiles; case _ => 0L }
          SinkCounters.reset()
          var lat = Double.NaN
          val opWall = tr.span("bench.op") { lat = runOp(i, w); lat }
          latencies += lat; tracedLat += lat
          // the stream's source reads only the files new to this batch
          val inputFiles = w match {
            case _: StreamIntake => w.inputFiles - inputFiles0
            case _ => w.inputFiles
          }
          val leaked = spark.sparkContext.getPersistentRDDs.size - persisted0
          val written = filesWritten(w.outputRoot, opStartMs)
          // counts the op's frames do not expose, taken by a re-run of
          // the same pipeline after the op, outside its accounting
          val recount = tr.span("bench.recount") { w.recount() }
          tr.disable()
          val spans = tr.spans.filter(_.op == i)
          val opSpans = spans.filter(s => s.name != "bench.recount")
          val tot = new Stats
          opSpans.foreach(s => tot.add(s.stats))
          def observed(k: String) = spans.filter(_.name == "bench.recount")
            .map(_.stats.observed.getOrElse(k, 0L)).sum.toDouble
          def named(n: String) = opSpans.filter(_.name == n)
          def dur(n: String) = named(n).map(_.seconds).sum
          def shuf(n: String) = named(n).map(_.stats.shufWrite).sum / 1048576.0
          val buildS = opSpans.filter(s => s.build && !opSpans.exists(p => p.id == s.parent && p.build))
            .map(_.seconds).sum
          val m = Seq(
            "ingest.files" -> inputFiles.toDouble,
            "ingest.rows_in" -> tot.inRecs.toDouble,
            "ingest.scan_tasks" -> tot.inTasks.toDouble,
            "ingest.s" -> tot.inRunMs / 1e3,
            "plan.build_s" -> buildS,
            "plan.analysis_s" -> tot.analysisMs / 1e3,
            "plan.optimization_s" -> tot.optimizationMs / 1e3,
            "plan.planning_s" -> tot.planningMs / 1e3,
            "plan.jobs" -> tot.jobs.toDouble,
            "plan.stages" -> tot.stages.toDouble,
            "skew.scan_parallelism" -> spark.conf.getOption(graft.ops.Skew.ScanParallelismKey)
              .map(_.toDouble).getOrElse(0.0),
            "skew.fanout_exchanges" -> tot.fanoutExchanges.toDouble,
            "skew.post_aqe_partitions" -> tot.postAqePartitions.toDouble,
            "staged.peak_mb" -> tr.peakStagedBytes / 1048576.0,
            "staged.blocks" -> tr.peakStagedBlocks.toDouble,
            "staged.release_s" -> w.releaseNs / 1e9,
            "staged.leaked_rdds" -> leaked.toDouble,
            // stream: rows the watermark dedup updated and rows the sink
            // kept after it and the corpus anti-join; loom: rows the
            // merge hands the JDBC sink
            "merge.rows_in" -> (w match {
              case _: StreamIntake => tot.dedupUpdated.toDouble
              case _ => 0.0
            }),
            "merge.rows_out" -> (w match {
              case _: LoomEtl => SinkCounters.rows.get.toDouble
              case _: StreamIntake => tot.outRecs.toDouble
              case _ => 0.0
            }),
            "merge.shuffle_mb" -> (shuf("pipeline.ImportJob.materialize") +
              shuf("streaming.CorpusStream.processAllAvailable")),
            "gate.rows_passed" -> observed("corpus_keep.rows_gated"),
            "gate.rows_kept" -> observed("corpus_keep.rows_kept"),
            "gate.rows_final" -> observed("corpus_final.rows_final"),
            "dedup.pairs" -> recount.getOrElse("pairs", 0.0),
            "dedup.clusters" -> recount.getOrElse("clusters", 0.0),
            "dedup.s" -> opSpans.filter(_.name.startsWith("ops.Dedup.")).map(tr.selfSeconds).sum,
            "ann.build_s" -> dur("ops.Similarity.ivfPqTopK"),
            "ann.probe_s" -> dur("ops.Similarity.recall"),
            "ann.recall_at_10" -> (w match { case c: CorpusRelease => c.lastRecall; case _ => 0.0 }),
            "shuffle.write_mb" -> tot.shufWrite / 1048576.0,
            "shuffle.read_mb" -> tot.shufRead / 1048576.0,
            "spill.mb" -> tot.spill / 1048576.0,
            "exec.tasks" -> tot.tasks.toDouble,
            "exec.cpu_s" -> tot.cpuNs / 1e9,
            "exec.util" -> tot.cpuNs / 1e9 / (opWall * cores),
            "exec.task_skew" -> tot.worstSkew,
            "exec.gc_s" -> tot.gcMs / 1e3,
            "sink.rows" -> SinkCounters.rows.get.toDouble,
            "sink.batches" -> SinkCounters.batches.get.toDouble,
            "sink.connections" -> SinkCounters.connections.get.toDouble,
            "sink.db_wait_s" -> SinkCounters.dbWaitNs.get / 1e9,
            "write.files" -> written.toDouble,
            "write.mb" -> tot.outBytes / 1048576.0,
            "write.s" -> tot.outRunMs / 1e3,
            "stream.batches" -> tot.batches.toDouble,
            "stream.add_batch_s" -> tot.addBatchMs / 1e3,
            "stream.planning_s" -> tot.planMs / 1e3,
            "stream.wal_commit_s" -> tot.walMs / 1e3,
            "stream.state_rows" -> tot.stateRows.toDouble,
            "stream.state_mb" -> tot.stateBytes / 1048576.0,
            "stream.watermark_dropped" -> tot.wmDropped.toDouble,
            "stream.novel_rows" -> (w match { case _: StreamIntake => tot.outRecs.toDouble; case _ => 0.0 }),
            "stream.probe_files" -> probeFiles.toDouble,
            "trace.spans" -> opSpans.size.toDouble,
          ) ++ Seq("bench", "ingest", "ops", "pipeline", "streaming").map { l =>
            s"span.$l.self_s" -> opSpans.filter(_.layer == l).map(tr.selfSeconds).sum
          }
          m.foreach { case (k, v) => acc(k) += v }
        }
      }
      val n = traced.size
      // per span name: mean duration and self time per traced op
      tr.spans.filter(_.name != "bench.recount").groupBy(_.name).toSeq.sortBy(_._1)
        .foreach { case (name, ss) =>
          spanTable += s"${Json.str(name)}: [${ss.map(_.seconds).sum / n}, " +
            s"${ss.map(tr.selfSeconds).sum / n}, ${ss.size.toDouble / n}]"
        }
      acc.foreach { case (k, v) => layers(k) = v / n }
      layers("trace.overhead_pct") = 100.0 * (median(tracedLat.toSeq) / median(untracedLat.toSeq) - 1.0)
      layers("jvm.peak_rss_mb") = peakRssMb
      // spans are kept in memory during the run and written out once
      val sb = new StringBuilder("[\n")
      tr.spans.zipWithIndex.foreach { case (s, j) =>
        sb ++= s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
          s""""op": ${s.op}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
          s""""self_s": ${Json.num(tr.selfSeconds(s))}}""" +
          (if (j + 1 < tr.spans.size) ",\n" else "\n")
      }
      sb ++= "]\n"
      Files.writeString(new File(work, "spans.json").toPath, sb.toString)
    }
    w.check(checks)
    w.tearDown()
    spark.stop()

    def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ", ", "]")
    val json =
      s"""{"setup_s": ${arr(setupS.toSeq)}, "latency_s": ${arr(latencies.toSeq)}, """ +
        s""""loop_wall_s": $loopWall, "loop_cpu_s": $loopCpu, "loop_jit_s": $loopJit, "live_heap_mb": $heap, """ +
        s""""attempted": $ops, "failed": $failed, """ +
        s""""errors": ${errors.map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""spans": ${spanTable.mkString("{", ", ", "}")}, """ +
        s""""layers": """ +
        layers.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}") + "}"
    Files.writeString(out.toPath, json)
    System.exit(0)
  }
}
