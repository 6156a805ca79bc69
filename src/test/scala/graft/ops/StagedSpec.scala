package graft.ops

import graft.{SparkEntry, SparkSpec}
import java.nio.file.Files
import org.apache.spark.{SparkException, StagedFaults}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, SimpleMode}
import org.apache.spark.sql.functions.sum
import scala.util.Try

/** The round-3 review flagged the persisted intermediates in
  * Dedup.ngramJaccardPairs and TopK.withPosition as session leaks: no
  * MEMORY_AND_DISK relation may outlive its query in a multi-query
  * session. [[Staged]] is the release path; this spec runs two staging
  * queries back-to-back the way the Verify/Bench drivers do. It also
  * loses a staged block before a query reads it, for each staging form:
  * the rows must come back right, or the query must fail naming the
  * block, never return wrong rows.
  */
class StagedSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def cachedRddCount: Int = spark.sparkContext.getPersistentRDDs.size

  test("staged intermediates are pinned during the query, gone after releaseAll") {
    Staged.releaseAll() // isolate from anything an earlier suite staged
    val before = cachedRddCount

    // q26 stages the shingle table + capped-vocabulary join
    Staged.withStaged {
      val n = SparkEntry.queries("q26_ngram_jaccard")(spark, sf).count()
      assert(cachedRddCount > before, "query should pin staged intermediates while running")
      n
    }
    assert(cachedRddCount === before, "q26 staged caches must be released after the action")

    // q17 stages the range-partitioned frame for the two-phase rank
    Staged.withStaged {
      SparkEntry.queries("q17_total_order")(spark, sf).count()
      assert(cachedRddCount > before)
    }
    assert(cachedRddCount === before, "q17 staged cache must be released after the action")
  }

  test("nested withStaged scopes release only their own pins") {
    import spark.implicits._
    Staged.releaseAll()
    val before = cachedRddCount
    Staged.withStaged {
      val outer = Staged.stage((1 to 10).toDF("x"))
      outer.count()
      val pinned = cachedRddCount
      Staged.withStaged {
        Staged.stage((1 to 5).toDF("y")).count()
        assert(cachedRddCount === pinned + 1)
      }
      // the inner scope must NOT have released the outer frame
      assert(cachedRddCount === pinned)
      assert(outer.storageLevel.useMemory, "outer pin survived the inner scope")
    }
    assert(cachedRddCount === before)
  }

  test("releaseAll inside a withStaged scope drains only that scope's own pins") {
    import spark.implicits._
    Staged.releaseAll()
    val before = cachedRddCount
    Staged.withStaged {
      val outer = Staged.stage((1 to 10).toDF("x"))
      outer.count()
      Staged.withStaged {
        Staged.stage((1 to 5).toDF("y")).count()
        Staged.releaseAll() // a Step's own per-query release (documented API)
        assert(cachedRddCount === before + 1, "inner pin dropped, outer kept")
      }
      // the outer pin must have survived the inner releaseAll AND the
      // inner scope exit, and still be releasable by this scope
      assert(outer.storageLevel.useMemory, "outer pin must survive an inner releaseAll")
    }
    assert(cachedRddCount === before)
  }

  test("withStaged releases even when the body throws") {
    val before = cachedRddCount
    intercept[RuntimeException] {
      Staged.withStaged {
        val df = SparkEntry.queries("q26_ngram_jaccard")(spark, sf)
        df.count()
        throw new RuntimeException("boom")
      }
    }
    assert(cachedRddCount === before)
  }

  test("stageCut: eager lineage cut — LogicalRDD leaf, blocks freed by releaseAll") {
    StagedFaults.withCheckpointDir(spark.sparkContext, None)(Staged.withStaged {
      val df = spark.range(100).selectExpr("id", "id * 2 as v")
      val cut = Staged.stageCut(df.groupBy("v").count())
      // the plan is a one-line checkpoint leaf — downstream consumers
      // re-render/re-optimize a LogicalRDD, not the aggregate subtree
      assert(cut.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      // already materialized (eager): values are right without re-run
      assert(cut.count() === 100L)
      val rddId = cut.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
      Staged.releaseAll()
      // stageCut registers a BLOCKING unpersist (deserialized checkpoint
      // blocks must not pile into the next query), so after releaseAll
      // the RDD must be gone from the persistent-RDD registry outright
      assert(!spark.sparkContext.getPersistentRDDs.contains(rddId),
        "stageCut blocks must be freed synchronously by releaseAll")
    })
  }

  test("stageCut: persist mode (plan-pinning escape hatch) keeps the subtree visible") {
    Staged.withStaged(Staged.lazyStaging {
      val cut = Staged.stageCut(
        spark.range(10).selectExpr("id", "id % 3 as k").groupBy("k").count())
      // NOT a checkpoint leaf: the aggregate stays in the plan for the
      // plan-shape specs, and the frame is a registered persist
      assert(!cut.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(cut.queryExecution.explainString(SimpleMode).contains("count"))
      assert(cut.count() === 3L)
      assert(cut.storageLevel.useMemory)
    })
  }

  test("release frees one staged frame now and leaves the rest of the scope") {
    import spark.implicits._
    Staged.withStaged {
      val kept = Staged.stage((1 to 10).toDF("x"))
      val gone = Staged.stageCut((1 to 5).toDF("y"))
      val goneId = gone.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      Staged.release(gone)
      assert(!spark.sparkContext.getPersistentRDDs.contains(goneId))
      assert(kept.storageLevel.useMemory)
      // released frames are out of the scope: a second release finds nothing
      intercept[IllegalArgumentException](Staged.release(gone))
    }
  }

  test("withStagedNoLeaks fails a query that leaves a pin behind, naming its RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val unscoped = spark.range(10).toDF()
    try {
      val e = intercept[IllegalStateException](Staged.withStagedNoLeaks(spark) {
        Staged.stage(spark.range(5).toDF()).count() // released by the scope
        unscoped.persist().count() // no release path
      })
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.size === 1 && e.getMessage.contains(s"rdd ${left.head}"), e.getMessage)
    } finally unscoped.unpersist()
    assert(Staged.withStagedNoLeaks(spark)(Staged.stage(spark.range(3).toDF()).count()) === 3L)
  }

  /** Stage a small aggregate with `form`, lose block 0 of every RDD the
    * staging pinned (as a lost executor would), then run a query over the
    * staged frame: the ids of those RDDs, whether a block was lost, and
    * the query's rows or failure. */
  private def queryAfterLostBlock(form: DataFrame => DataFrame)
      : (Set[Int], Boolean, Try[Set[(Long, Long)]]) = Staged.withStaged {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val staged = form(aggregate)
    staged.count() // a persist materializes on first use
    val pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
    val lost = pinned.toSeq.map(StagedFaults.dropBlock(_, 0)).contains(true)
    (pinned, lost, Try(staged.as[(Long, Long)].collect().toSet))
  }

  private def aggregate: DataFrame =
    spark.range(0, 1000, 1, 4).selectExpr("id % 10 as k", "id").groupBy("k")
      .agg(sum("id").as("s"))

  private def expected: Set[(Long, Long)] = {
    import spark.implicits._
    aggregate.as[(Long, Long)].collect().toSet
  }

  test("a lost block of a stage'd frame is recomputed: the query returns the right rows") {
    val (_, lost, rows) = queryAfterLostBlock(Staged.stage)
    assert(lost, "the persisted frame held block 0")
    assert(rows.get === expected)
  }

  test("a lost block of a local stageCut fails the query, naming the missing checkpoint block") {
    StagedFaults.withCheckpointDir(spark.sparkContext, None) {
      val (pinned, lost, rows) = queryAfterLostBlock(Staged.stageCut)
      assert(lost && pinned.size === 1, "the local cut held block 0 of its one RDD")
      val e = intercept[SparkException](rows.get)
      assert(e.getMessage.contains(s"Checkpoint block rdd_${pinned.head}_0 not found"),
        e.getMessage)
    }
  }

  test("a reliable stageCut loses no block: with a checkpoint dir the query returns the right rows") {
    val (dir, prev) = (Files.createTempDirectory("graft-ckpt").toString,
      spark.sparkContext.getCheckpointDir)
    StagedFaults.withCheckpointDir(spark.sparkContext, Some(dir)) {
      val (pinned, lost, rows) = queryAfterLostBlock(Staged.stageCut)
      // the cut lives in the dir's files, so no executor block can be lost
      assert(pinned.isEmpty && !lost)
      assert(rows.get === expected)
      assert(StagedFaults.fileCount(dir) === 0, "the release deletes the cut's files")
    }
    assert(spark.sparkContext.getCheckpointDir === prev, "the previous dir is restored")
  }
}
