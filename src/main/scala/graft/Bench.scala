package graft

/** Per-round benchmark: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"errors":{...},"sf":...}`.
  *
  * A warmup action runs first so JVM/codegen startup cost isn't charged
  * to whichever query happens to run first; queries run in name order so
  * per-query timings are comparable across rounds. Each query runs
  * SPARK_GRAFT_ITERS times (default 5) — 3× that when its median is
  * sub-second, where box noise swamps the signal — and reports the
  * MEDIAN, defusing noisy-neighbor swings on shared boxes (identical
  * binaries measured 2× apart across rounds on this box); a failing
  * query lands in `errors` with its exception (never a silent fake
  * timing), as does one that leaves a staged pin behind. The system
  * load average before and after the run is recorded in the JSON so a
  * noisy co-tenant is visible in the record.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // the cpus floor at every fixture scale, so bench numbers stay
    // protocol-comparable across rounds; a soak-scale sf dir engages
    // the bytes/128MB arithmetic
    val spark = SparkEntry.localSession(cpus,
      SparkEntry.shufflePartitionsFor(cpus, graft.ops.Skew.dirBytes(
        new org.apache.hadoop.conf.Configuration(), sfDir)))
    // record the input layout's scan parallelism so CPU-dense scan-side
    // chains can fan out when the layout under-parallelizes them
    // (ops/Skew.fanOutForCpu; no-op at cluster-scale layouts)
    graft.ops.Skew.recordScanParallelism(spark, sfDir)

    // warmup: touch every table once, exercise codegen + IO paths
    Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
      Tables.table(spark, sfDir, t).count()
    }
    Tables.events(spark, sfDir).count()

    val loadBefore = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val iters = math.max(sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt, 1)
    // optional comma-separated name-prefix filter for targeted local
    // measurement (the per-round driver run leaves it unset = all)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      def timed(): Option[Double] = {
        val t0 = System.nanoTime()
        // each iteration builds fresh plans, so each must also release
        // the intermediates it pinned (a leftover pin fails the query) —
        // the release is inside the timed region because a real
        // deployment pays it too
        try { graft.ops.Staged.withStagedNoLeaks(spark) { fn(spark, sfDir).count() }
          Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name,
              s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
            None
        }
      }
      var runs = (1 to iters).flatMap(_ => timed())
      var attempted = iters
      // sub-second queries sit entirely inside this box's noise band
      // (round 5→6 measured a 0.5 s query 13× apart on identical
      // binaries): triple the sample for them so the reported median is
      // adjudicable against a 2× gate — the extra iterations cost
      // little precisely because the queries are sub-second
      if (runs.size == attempted && runs.sorted.apply(runs.size / 2) < 1.0) {
        runs ++= (1 to 2 * iters).flatMap(_ => timed())
        attempted += 2 * iters
      }
      // a query lands in timings XOR errors: a flaky query (some failed
      // iterations) reports the failure, never a timing over a different
      // run count than its peers — that would silently skew cross-round
      // comparisons the medians exist to protect
      if (runs.size == attempted) timings(name) = runs.sorted.apply(runs.size / 2)
    }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ")
    // 3-decimal timings: millisecond precision is already below box
    // noise, and the shorter line keeps the driver's capture window
    // from truncating the tail (round-4 BENCH lost q01–q06 to a
    // 17-digit-double line)
    def f3(v: Double) = f"$v%.3f"
    val qs = timings.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val loadAfter = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","iters":$iters,"load_before":${f3(loadBefore)},"load_after":${f3(loadAfter)},"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
    println(line)
    // self-defense against a truncated stdout capture window (round 10's
    // bench JSON was cut mid-line and the whole round-over-round PERF
    // comparison came back empty): ALSO write the line to a file when
    // SPARK_GRAFT_BENCH_OUT is set. Purely additive — the stdout
    // contract above is byte-identical with or without it.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (line + "\n").getBytes("UTF-8"))
    }
    spark.stop()
  }
}
