package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Lifecycle registry for staged (persisted/checkpointed) intermediates.
  *
  * Some operators pin a mid-plan DataFrame because two plan branches
  * consume it and re-execution would be either wasteful
  * ([[Dedup.ngramJaccardPairs]]'s shingle table) or incorrect
  * ([[TopK.withPosition]]'s range exchange, whose sampled bounds differ
  * per execution). Those caches must not outlive the query in a
  * long-lived session or streaming driver — the round-3 review flagged
  * the pins as a leak with no release path.
  *
  * Staged is the only code that persists, checkpoints or frees a frame
  * ([[stage]] for persists, [[stageCut]] for lineage cuts); the driver
  * loop (graft.Verify / graft.Bench — or any caller running
  * query-at-a-time) calls [[releaseAll]] once a query's action
  * completes, or scopes the same contract with [[withStaged]];
  * [[release]] frees one superseded frame early.
  *
  * The registry is THREAD-LOCAL: an operator builds its plan on the
  * caller's thread, so pins land in that thread's registry and a
  * concurrent pipeline on another thread (EtlPipeline's D4 background
  * execution) can neither release them early nor have its own pins
  * released from here. [[withStaged]] additionally scopes to a MARK —
  * nested blocks release only what they themselves staged. Release is
  * non-blocking for plain persists (correctness never depends on a
  * cache being present, only on it being pinned *during* its query);
  * a cut's release frees blocks or files that cannot be recomputed, so
  * a released frame must not be reused.
  */
object Staged {

  // each pinned frame with the action that frees it, newest last; every
  // withStaged scope opens with a Mark, and releaseAll never reaches
  // past the innermost one — an operator or Step calling releaseAll
  // inside a pipeline scope would otherwise free the OUTER scope's pins
  // (including non-recomputable checkpoint blocks a later step reads)
  private val Mark: (DataFrame, () => Unit) = (null, () => ())
  private val live =
    ThreadLocal.withInitial(() => mutable.ArrayBuffer.empty[(DataFrame, () => Unit)])

  // lazyStaging nesting depth (thread-local, same discipline as the
  // registry): > 0 makes stageCut delegate to stage within the scope
  private val lazyDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = Integer.valueOf(0)
  }

  /** Run `body` (plan construction) with every [[stageCut]] inside it
    * downgraded to a LAZY [[stage]] persist, whose subtree stays visible
    * in `explain` (the plan-pinning specs wrap every test in it). For
    * query tops whose timed action lets Catalyst prune the staged
    * subtree outright — q141's PageRank ends in a left join against
    * per-node-unique ranks, so a count() never needs the edge chain at
    * all — an eager checkpoint
    * would FORCE work the optimizer can prove unnecessary; the lazy
    * persist keeps the pruning while full-row consumers (Verify, the
    * oracle dump) still compute and reuse the staged frames exactly as
    * before round 11. Scoped per call site because the eager cut is a
    * measured win where the consumer genuinely executes the subtree
    * many times (q26/q62/q122 families — see [[stageCut]]). */
  def lazyStaging[T](body: => T): T = {
    lazyDepth.set(Integer.valueOf(lazyDepth.get.intValue() + 1))
    try body finally lazyDepth.set(Integer.valueOf(lazyDepth.get.intValue() - 1))
  }

  /** Persist `df` at MEMORY_AND_DISK (spill-safe) and register it for
    * release at the end of the enclosing [[withStaged]] scope (or the
    * next [[releaseAll]]). */
  def stage(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    live.get += df -> (() => { df.unpersist(blocking = false); () })
    df
  }

  /** [[stage]]'s lineage-CUTTING form: an eager checkpoint instead of
    * persist, for intermediates whose UPSTREAM plan is large (the
    * corpus-gate chain, exploded shingle tables). Measured round-11
    * motivation, two independent costs of the persist form:
    *
    *   - a persisted frame keeps its full logical subtree — every
    *     consumer plan nests the `InMemoryRelation`'s child tree, and
    *     under AQE every query-stage update event re-renders THE WHOLE
    *     plan string on the driver (`SparkPlanInfo.fromSparkPlan` +
    *     `generateTreeString`). With the interpreted-lambda gate
    *     expressions this was the single largest cost of the pipeline
    *     queries: thread dumps showed the driver's main thread
    *     plan-printing, and q133 spent ~2/3 of its 54 s wall there.
    *     A checkpoint replaces the subtree with a one-line
    *     `LogicalRDD` leaf, so downstream plans render and re-optimize
    *     in microseconds. This is the optimization guide's own lever
    *     ("localCheckpoint is a cheaper way to cut lineage when fault
    *     tolerance of that intermediate is not critical").
    *   - persist materializes LAZILY on first use: when AQE launches
    *     several consumer stages concurrently, each recomputes or
    *     blocks on the same cache partitions (profiled as exeRun ≫
    *     exeCpu lock-wait storms). The eager checkpoint runs ONE job
    *     at plan-build time and every consumer reads materialized
    *     blocks.
    *
    * The cut's form comes from the deployment, as in Spark's own
    * iterative algorithms (MLlib's `PeriodicCheckpointer`): with a
    * checkpoint dir set on the context (`SparkContext.setCheckpointDir`
    * or `spark.checkpoint.dir`) it is a reliable `checkpoint` — files a
    * lost executor does not take with it — and its release deletes the
    * files; without one it is a `localCheckpoint` — executor-local
    * blocks, no extra I/O, but not recomputable, so a lost block fails
    * the query with Spark's "Checkpoint block ... not found" error —
    * and its release frees the blocks. A cluster run makes every cut
    * recoverable by setting the dir. Inside [[lazyStaging]] the call
    * delegates to [[stage]]. */
  def stageCut(df: DataFrame): DataFrame =
    if (lazyDepth.get.intValue() > 0) stage(df) else cut(df)

  /** [[stageCut]]'s eager cut, never downgraded by [[lazyStaging]]: for
    * loops that must truncate every round's lineage and whose
    * convergence probe is the cut's own job
    * ([[Dedup.duplicateClusters]]). */
  private[ops] def cut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val reliable = sc.getCheckpointDir.isDefined
    val c = if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
    // both forms leave a one-line LogicalRDD leaf over the cut's RDD
    val rdd = c.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    // BLOCKING free (unlike stage's): checkpoint blocks are deserialized
    // row storage — bigger than a columnar cache — and an async free
    // lets them pile up into the NEXT query's run (measured: untouched
    // q51 inflated 7.4→13.2 s mid-bench from neighbors' lingering
    // blocks). Synchronous removal charges the cleanup to the query
    // that created the blocks, which is the honest accounting.
    live.get += c -> (() =>
      if (reliable) rdd.getCheckpointFile.map(new Path(_)).foreach(p =>
        p.getFileSystem(sc.hadoopConfiguration).delete(p, true))
      else rdd.unpersist(blocking = true))
    c
  }

  /** Free one frame that [[stage]] or [[stageCut]] pinned in the current
    * scope now, and drop it from the scope: for a superseded round of
    * an iterative loop that nothing reads again. */
  def release(df: DataFrame): Unit = {
    val q = live.get
    val i = q.lastIndexWhere(p => (p eq Mark) || (p._1 eq df))
    require(i >= 0 && !(q(i) eq Mark), "Staged.release: the frame is not staged in this scope")
    q.remove(i)._2()
  }

  /** Release every pin registered on THIS thread since the innermost
    * enclosing [[withStaged]] scope opened (all of them when no scope is
    * active), newest first. Outer scopes' pins are never touched. */
  def releaseAll(): Unit = {
    val q = live.get
    while (q.nonEmpty && !(q.last eq Mark)) q.remove(q.size - 1)._2()
  }

  /** Run `body` (build + execute a query), then release exactly what it
    * staged: entries registered before the block (an outer scope's
    * pins) are left alone, and a [[releaseAll]] issued INSIDE the block
    * drains only the block's own pins. */
  def withStaged[T](body: => T): T = {
    val q = live.get
    q += Mark
    try body finally try releaseAll() finally q.remove(q.lastIndexWhere(_ eq Mark))
  }

  /** [[withStaged]] with the leak gate of the query-at-a-time drivers
    * (graft.Bench, graft.Verify): fails when `body` leaves behind a
    * persistent RDD, or a cut's `rdd-<id>` entry under the checkpoint
    * dir, that was not there before it ran — a pin no scope releases
    * would otherwise carry into every later query of the session. */
  def withStagedNoLeaks[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    def pins = sc.getPersistentRDDs.keySet.map(id => s"rdd $id") ++
      sc.getCheckpointDir.toSeq.flatMap { d =>
        val dir = new Path(d)
        dir.getFileSystem(sc.hadoopConfiguration).listStatus(dir).map(_.getPath.toString)
      }
    val before = pins
    val out = withStaged(body)
    val left = (pins -- before).toSeq.sorted
    if (left.nonEmpty) throw new IllegalStateException(
      s"leaked staged pins: ${left.mkString(", ")}")
    out
  }
}
