package graft

import graft.queries.{CoreQueries, LlmQueries, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The declared query inventory lives in [[graft.queries.CoreQueries]]
  * (SURVEY §2, Q1–Q21 re-expressed on the test tables) and
  * [[graft.queries.LlmQueries]] (LLM-data-pipeline north-star operators).
  */
object SparkEntry {

  def allQueries: Seq[Q] = CoreQueries.all ++ LlmQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Uses the broadcast dimension-chain aggregation (SURVEY §2.3 J3). */
  def entry(spark: SparkSession): DataFrame =
    allQueries.find(_.name == "q09_dim_join_agg").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (xxhash64-based production sketches, iterative BPE) → driver's
    * rows-only check; since round 8 every such hash family also has an
    * md5 verification twin carrying a full oracle (q91/q96/q97/q98/q99). */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** The local session the mains (Bench, Verify, Soak, StreamSoak) run
    * in: `local[cores]`, `shufflePartitions` shuffle partitions, UTC, no
    * UI, WARN logging. The heap is the forked JVM's -Xmx
    * (SPARK_DRIVER_MEM in build.sbt): in local mode the driver JVM is
    * already running when the builder executes, so a
    * `spark.driver.memory` conf set here would be a silent no-op. */
  def localSession(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Shuffle partitions for `inputBytes` of input on `cores` cores: the
    * soak-derived sizing rule ([[graft.ops.Skew.suggestedShufflePartitions]],
    * which resolves to the `cores` floor at every fixture scale), unless
    * SPARK_GRAFT_SHUFFLE forces a count. */
  def shufflePartitionsFor(cores: Int, inputBytes: Long): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(
      graft.ops.Skew.suggestedShufflePartitions(inputBytes, minParts = cores))
}
