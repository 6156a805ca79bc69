package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** D1–D5 — the reference's orchestration layer (SURVEY §2.12) as typed
  * job composition:
  *
  *  - D1: the 4-step ETL DAG (`run_full_etl`,
  *    reference src/main_01.py:1086-1189) is a list of [[Step]]s run in
  *    order; each step is one Spark action.
  *  - D2: single-step entry points are just one-element pipelines.
  *  - D3: the reference's `is_running` mutex (src/main_01.py:1088-1097)
  *    maps to one pipeline run at a time per driver — enforced here with
  *    a plain lock; executor-level parallelism is Spark's.
  *  - D4: background execution = running the pipeline on another thread /
  *    Spark job group; the engine exposes `setJobGroup` tagging.
  *  - D5: "continue even if step failed" tolerance
  *    (reference src/main_03.py:200-205) is per-step `continueOnError`.
  */
object EtlPipeline {

  /** @param continueOnError this step's own failure does not abort the
    *                        pipeline (D5 tolerance)
    * @param alwaysRun       run even after an earlier abort — for
    *                        cleanup/finalize steps (temp deletion) that
    *                        must not be skipped */
  final case class Step(name: String, continueOnError: Boolean = false,
                        alwaysRun: Boolean = false)(
      val run: SparkSession => Unit)

  final case class StepResult(name: String, ok: Boolean, durationMs: Long,
                              error: Option[String])

  private val lock = new Object

  /** Run steps sequentially under the D3 mutex; returns per-step results.
    * A failing step aborts the pipeline unless marked continueOnError
    * (D5). Each step is tagged as a Spark job group for cancellation /
    * UI attribution (D4). The whole run is a [[graft.ops.Staged]] scope:
    * frames staged during any step (shingle tables, importOnly's merged
    * frame) are released when the pipeline ends; a caller that wants a
    * frame to outlive the pipeline stages it in its own enclosing
    * `withStaged`. */
  def run(spark: SparkSession, steps: Seq[Step]): Seq[StepResult] =
    runWith(spark, steps, _ => ())

  /** [[run]] with the S10 log sink attached: one entry appended AS EACH
    * STEP FINISHES (success/error level mirrors the reference's add_log
    * calls around each ETL step, src/main_01.py:1148-1189) — so a
    * mid-pipeline hang still leaves the completed steps' entries
    * time-stamped at their real completion, exportable by saveTo. */
  def runLogged(spark: SparkSession, steps: Seq[Step], log: RunLog): Seq[StepResult] =
    runWith(spark, steps, r => {
      if (r.ok) log.add(s"${r.name} completed in ${r.durationMs} ms", "success")
      else log.add(s"${r.name} failed: ${r.error.getOrElse("unknown")}", "error")
    })

  private def runWith(spark: SparkSession, steps: Seq[Step],
                      onResult: StepResult => Unit): Seq[StepResult] =
    lock.synchronized { graft.ops.Staged.withStaged {
      val results = Seq.newBuilder[StepResult]
      var aborted = false
      steps.foreach { step =>
        val r =
          if (!aborted || step.alwaysRun) {
            spark.sparkContext.setJobGroup(s"etl-${step.name}", step.name,
              interruptOnCancel = true)
            val t0 = System.nanoTime()
            try {
              step.run(spark)
              StepResult(step.name, ok = true, (System.nanoTime() - t0) / 1000000, None)
            } catch {
              case e: Exception =>
                if (!step.continueOnError) aborted = true
                StepResult(step.name, ok = false,
                  (System.nanoTime() - t0) / 1000000, Some(e.getMessage))
            } finally spark.sparkContext.clearJobGroup()
          } else {
            StepResult(step.name, ok = false, 0, Some("skipped: earlier step failed"))
          }
        results += r
        onResult(r)
      }
      results.result()
    }}

  /** The reference's import-only pipeline (D2,
    * reference src/main_01.py:1191-1262) as a canned two-step run:
    * import+merge then summarize. The merged frame is staged in the
    * run's scope, which releases it when the pipeline ends. */
  def importOnly(spark: SparkSession, csvRoot: String, outPath: String): Seq[StepResult] = {
    var merged: DataFrame = null
    run(spark, Seq(
      Step("import")(s => {
        merged = graft.ops.Staged.stage(ImportJob.importCsvTree(s, csvRoot))
        merged.count(); ()
      }),
      Step("write")(_ => {
        merged.write.mode("overwrite").parquet(outPath); ()
      })))
  }
}
