package graft.pipeline

import graft.ingest.{LoomCsv, LoomSchema}
import graft.ops.{Filters, Merge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's ETL jobs re-expressed as Spark pipelines (SURVEY §2.12,
  * §3.2). Each job is a pure function producing a DataFrame (plus an
  * explicit write step), so the D1 "full ETL" DAG is function composition.
  */
object ImportJob {

  /** §7.2 minimum slice — the Spark rendition of `run_import_only`
    * (reference src/main_01.py:1191-1262):
    *
    * read CSVs → normalize/project → short-row filter → optional
    * desligado gate against the sink keys → last-writer-wins merge on
    * the PK.
    *
    * `applyPoweredOffGate = true` gives main_01–04 semantics (skip
    * powered-off `.C` rows already present in the sink); `false` gives
    * main_05 semantics (plain upsert of every row) — the reference
    * dropped the filter in its final iteration (SURVEY §8).
    *
    * At scale: one file scan, one shuffle for the merge window (same key
    * as the sink write partitioning) and a broadcast join on sink keys.
    */
  def importCsvTree(spark: SparkSession, root: String,
                    sinkKeys: Option[DataFrame] = None,
                    applyPoweredOffGate: Boolean = true): DataFrame = {
    val parsed = LoomCsv.normalize(LoomCsv.readWithFallback(spark, root))
      .withColumnRenamed(LoomCsv.sourceFileCol, "__file")
    val gated = (sinkKeys, applyPoweredOffGate) match {
      case (Some(sink), true) =>
        // P4+P5: drop powered-off rows whose key already exists in the sink
        // (reference src/main_01.py:460-473), in one pass: a left join
        // flags rows whose key is in the sink. The keys are distinct, so
        // no row is duplicated; a null key never matches, so it is kept.
        val inSink = sink.select(LoomSchema.primaryKey.map(col): _*).distinct()
          .withColumn("__in_sink", lit(true))
        parsed.join(broadcast(inSink), LoomSchema.primaryKey, "left")
          .filter(!Filters.poweredOff("DataTurno", "Funcionando", "Parado", 400.0) ||
            col("__in_sink").isNull)
          .drop("__in_sink")
      case _ => parsed
    }
    // U1: last-writer-wins on (DataTurno, Tear); tiebreak pinned to file
    // path (deterministic, unlike the reference's arrival order — SURVEY
    // §7.4 risk 1).
    Merge.lastWriterWins(LoomSchema.primaryKey, Seq(col("__file").desc))(gated)
      .drop("__file")
  }

  /** Full merge into an existing sink table (incoming wins). The caller
    * supplies the intra-side version ordering explicitly — a synthetic
    * id (e.g. monotonically_increasing_id) would depend on partition
    * layout and break the merge's determinism/idempotence guarantee
    * (SURVEY §7.4 risk 1). For CSV-tree imports use the source file
    * column; for event data use (ts, event_id). */
  def mergeIntoSink(existing: DataFrame, incoming: DataFrame,
                    version: Seq[org.apache.spark.sql.Column]): DataFrame =
    Merge.upsert(existing, incoming, LoomSchema.primaryKey, version)
}

/** Export: month-partitioned materialization + verification (SURVEY §3.3,
  * §7.1 step 5). The reference POSTs a form and then checks files
  * appeared on disk (src/main_02.py:392-440); the engine's rendition is
  * a `partitionBy(month, dataset_type)` parquet write — giving the same
  * directory layout as `TMSDATA/YYYY-MM/<type>/` — plus a pruned
  * verification read over exactly the exported partitions.
  */
object ExportJob {

  /** Write month-partitioned; only the requested months are exported
    * (runtime partition pruning at the source, reference's
    * export-last-two-months shape). */
  def exportMonths(df: DataFrame, months: Seq[String], outPath: String): Unit =
    df.filter(col("month").isin(months: _*))
      .write.mode("overwrite")
      .partitionBy("month", "dataset_type")
      .parquet(outPath)

  /** Incremental export: dynamic partition overwrite — only partitions
    * present in `df` are replaced; all other months survive. This is the
    * 100 TB path for the reference's daily re-export of the last two
    * months (a static overwrite would rewrite the whole table). */
  def exportMonthsIncremental(df: DataFrame, months: Seq[String],
                              outPath: String): Unit =
    // per-write option, NOT a session-conf flip: mutating the shared
    // session conf would race with concurrent writers (their unrelated
    // overwrites silently turning dynamic, or the restore clobbering a
    // write in flight).
    df.filter(col("month").isin(months: _*))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month", "dataset_type")
      .parquet(outPath)

  /** Post-export verification (reference src/main_02.py:392-440): read
    * back ONLY the exported partitions (partition filters prune the
    * listing) and report per-partition row counts. */
  def verifyExport(spark: SparkSession, outPath: String,
                   months: Seq[String]): DataFrame =
    spark.read.parquet(outPath)
      .filter(col("month").isin(months: _*))
      .groupBy("month", "dataset_type")
      .agg(count(lit(1)).as("n_rows"))
}

/** A2 — per-month × per-type file/row summary
  * (reference src/main_02.py:823-900 `get_csv_summary`). */
object SummaryJob {
  def summarize(df: DataFrame): DataFrame =
    df.groupBy("month", "dataset_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("DataTurno")).as("n_shifts"),
        countDistinct(col("Tear")).as("n_looms"))
}

/** S11 — retention: keep only months within the horizon
  * (reference src/main_01.py:1373-1409 deletes CSVs older than 30 days;
  * here it is a partition-drop predicate, resolved at planning time so
  * excluded partitions are never read). */
object RetentionJob {
  def retain(df: DataFrame, minMonth: String): DataFrame =
    df.filter(col("month") >= minMonth)
}
