package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.StagedFaults
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private def docs = Seq(
    (0L, base),
    (1L, base),                                   // exact dupe of 0
    (2L, base.replace("tonight", "tomorrow")),    // near-dupe of 0
    (3L, "completely unrelated text about spark catalyst optimizer rules and physical plans here")
  ).toDF("doc_id", "text")

  test("explodedShingles (typed flatMap) is output-identical to the expression shingles") {
    val expr = docs.select(col("doc_id").as("doc"),
      explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("shingle"))
    val typed = Dedup.explodedShingles(docs, "doc_id", "text", 3)
    assert(expr.exceptAll(typed).count() === 0 && typed.exceptAll(expr).count() === 0)
  }

  test("explodedShingles: null text yields no rows; string ids use the fallback path") {
    val withNull = Seq((1L, base), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.explodedShingles(withNull, "doc_id", "text", 3)
      .filter(col("doc") === 2L).count() === 0)
    val stringIds = Seq(("doc-a", base), ("doc-b", base)).toDF("doc_id", "text")
    val out = Dedup.explodedShingles(stringIds, "doc_id", "text", 3)
    assert(out.schema("doc").dataType.typeName === "string")
    assert(out.filter(col("doc") === "doc-a").count() > 0)
    // full operators work on string ids via the fallback
    val pairs = Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.5)(stringIds)
      .collect()
    assert(pairs.length === 1 && pairs.head.getDouble(2) === 1.0)
  }

  test("duplicateClusters: transitive pairs collapse to min-id clusters") {
    // {1,2,3,4} connect through 2 and 3; {10,11} is a separate pair
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // "keep one per cluster" is the doc === cluster filter
    val keep = out.filter { case (d, c) => d == c }.keySet
    assert(keep === Set(1L, 10L))
  }

  /** Runs `body` with AQE's partition coalescing off, so the contraction
    * pass keeps every shuffle partition and the quotient loop runs. */
  private def severalPartitions[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Labels of one graph on both paths: as it comes (one partition) and
    * with the multi-partition quotient path forced. */
  private def bothPaths[T](label: => T): Seq[T] =
    Seq(Staged.withStaged(label), severalPartitions(Staged.withStaged(label)))

  /** The reference: a plain union-find, each node labelled with its
    * component's min id. */
  private def refClusters(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }

  test("duplicateClusters ≡ a plain union-find on random graphs, on both paths") {
    // random pairs in both orientations (self-pairs and repeats come up
    // by chance and are added on purpose), a clique, and a path whose
    // ids are sorted — the worst case for min-label rounds
    val gen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      random <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
      k <- Gen.choose(2, 6)
      len <- Gen.choose(2, 14)
    } yield {
      val clique = for (i <- 0 until k; j <- i + 1 until k) yield (100L + j, 100L + i)
      val path = (0 until len).map(i => (200L + i, 201L + i))
      random ++ random.take(3) ++ Seq((7L, 7L), (300L, 300L)) ++ clique ++ path
    }
    for (seed <- 1 to 5) {
      val pairs = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val expected = refClusters(pairs)
      bothPaths(Dedup.duplicateClusters(pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .as[(Long, Long)].collect()).foreach { got =>
        assert(got.length === expected.size, s"seed=$seed: one row per node")
        assert(got.toMap === expected, s"seed=$seed")
      }
    }
  }

  test("duplicateClusters converges on a path graph needing many rounds") {
    // a 13-node path has diameter 12: one union-find pass on one
    // partition, many pointer-jumping rounds on several
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    bothPaths(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
        .as[(Long, Long)].collect()).foreach { out =>
      assert(out.length === 13 && out.forall(_._2 === 0L), out.toSeq.toString)
    }
  }

  test("duplicateClusters handles string ids (type-agnostic convergence probe)") {
    // the union-find orders strings as Spark does, by UTF-8 bytes: U+FFFD
    // sorts before U+1F600 there, but after its UTF-16 surrogates (Java's
    // String order); the loop's changed-row probe compares labels exactly
    val emoji = "😀"
    val pairs = Seq(("b", "a"), ("b", "c"), ("c", "d"), (emoji, "�"))
      .toDF("doc_a", "doc_b")
    bothPaths(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
        .as[(String, String)].collect().toMap).foreach { out =>
      assert(out === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
        emoji -> "�", "�" -> "�"))
    }
  }

  test("duplicateClusters handles fractional ids without false early convergence") {
    // a double-id chain whose labels differ only in the fraction must
    // propagate all the way (a decimal-cast sum probe once stopped such a
    // chain early); -0.0 and 0.0 are one id and NaN sorts last, as in SQL
    val pairs = Seq((2.4, 2.1), (2.4, 2.7), (2.7, 3.1), (-0.0, 1.5), (0.0, 2.5),
      (Double.NaN, 3.1)).toDF("doc_a", "doc_b")
    bothPaths(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
        .as[(Double, Double)].collect().map { case (d, c) => d.toString -> c }.toMap)
      .foreach { out =>
        assert(out === Map("2.1" -> 2.1, "2.4" -> 2.1, "2.7" -> 2.1, "3.1" -> 2.1,
          "NaN" -> 2.1, "0.0" -> 0.0, "1.5" -> 0.0, "2.5" -> 0.0))
      }
  }

  test("duplicateClusters: a null id joins nothing and takes its partners' least label") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), Some(3L)),
      (Some(5L), None), (None, None)).toDF("doc_a", "doc_b")
    bothPaths(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
        .as[(Option[Long], Long)].collect().toMap).foreach { out =>
      assert(out === Map(Some(1L) -> 1L, Some(2L) -> 1L, Some(3L) -> 3L,
        Some(4L) -> 3L, Some(5L) -> 5L, None -> 3L))
    }
  }

  test("duplicateClusters rejects an id type it cannot order, naming it") {
    val pairs = Seq((1.5f, 2.5f)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](
      Staged.withStaged(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")))
    assert(e.getMessage.contains("float"), e.getMessage)
  }

  test("duplicateClusters: a graph in one partition takes the pass's 2 jobs, whatever its diameter") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def jobsToBuild(group: String, pairs: org.apache.spark.sql.DataFrame): Int = {
      val pinned = sc.getPersistentRDDs.keySet
      Staged.withStaged {
        sc.setJobGroup(group, group)
        try Dedup.duplicateClusters(pairs, "doc_a", "doc_b") finally sc.clearJobGroup()
      }
      assert(sc.getPersistentRDDs.keySet === pinned)
      // listener events arrive in order: once the sentinel job is seen,
      // every job the build started has been seen too
      sc.setJobGroup(group + "-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(group + "-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(group + "-sentinel"))
      groups.toArray.count(_ == group)
    }
    sc.addSparkListener(listener)
    try {
      val twoEdges = jobsToBuild("cc-two-edges", Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"))
      val sortedPath = jobsToBuild("cc-sorted-path",
        (0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"))
      // the exchange's stage and the eager checkpoint; no label table,
      // no edge table, no round
      assert(twoEdges <= 2, s"$twoEdges jobs")
      assert(sortedPath === twoEdges)
    } finally sc.removeSparkListener(listener)
  }

  test("dropRepeatedPassages: keep-first across docs, intra-doc collapse, tail chunks, full-boilerplate removal") {
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared = toks("a", 16)                      // one full chunk
    val docs = Seq(
      (1L, shared + " " + toks("x", 16)),           // first occurrence: keeps both chunks
      (2L, shared + " " + toks("b", 16)),           // chunk 0 repeated → dropped, b-chunk kept
      (3L, shared),                                 // pure boilerplate → vanishes
      (4L, toks("c", 16) + " " + toks("c", 16)),    // intra-doc repeat → second copy dropped
      (5L, toks("d", 20)),                          // 16-token chunk + 4-token tail, both unique
      (6L, "   ")                                   // whitespace-only → excluded
    ).toDF("doc_id", "text")
    val out = Staged.withStaged {
      docs.transform(Dedup.dropRepeatedPassages("doc_id", "text", 16))
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    }
    assert(out.keySet === Set(1L, 2L, 4L, 5L))
    assert(out(1L) === (shared + " " + toks("x", 16), 2L, 2L))
    assert(out(2L) === (toks("b", 16), 2L, 1L))
    assert(out(4L) === (toks("c", 16), 2L, 1L))
    assert(out(5L) === (toks("d", 20), 2L, 2L))
  }

  test("dropRepeatedPassagesUnaligned: catches the offset-shifted copy the chunk mode provably misses") {
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val passage = toks("p", 20)                     // 20-token passage
    val docs = Seq(
      (1L, passage + " " + toks("x", 12)),          // source: passage at offset 0
      // copy starts at token 5 — NOT a multiple of 16, so every 16-token
      // chunk of doc 2 mixes copied with novel text
      (2L, toks("y", 5) + " " + passage + " " + toks("z", 7))
    ).toDF("doc_id", "text")
    // chunk mode misses it: nothing is dropped anywhere
    val chunked = Staged.withStaged {
      docs.transform(Dedup.dropRepeatedPassages("doc_id", "text", 16))
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    }
    assert(chunked(2L)._3 === chunked(2L)._4, "chunk mode unexpectedly dropped something")
    // stride-1 mode removes exactly the copied 20 tokens from doc 2
    val out = Staged.withStaged {
      docs.transform(Dedup.dropRepeatedPassagesUnaligned("doc_id", "text", 16))
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    }
    assert(out(1L)._2 === passage + " " + toks("x", 12)) // source intact
    assert(out(1L)._4 === 32L)
    assert(out(2L)._2 === toks("y", 5) + " " + toks("z", 7)) // copy excised, no more no less
    assert(out(2L)._3 === 32L && out(2L)._4 === 12L)
  }

  test("dropRepeatedPassagesUnaligned: short docs pass through; intra-doc runs collapse; boundary tokens survive") {
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val docs = Seq(
      (1L, toks("s", 10)),                          // shorter than the window → intact
      (2L, toks("a", 16) + " " + toks("a", 16)),    // intra-doc repeat at offset 16
      (3L, toks("u", 16))                           // unique, exactly one window
    ).toDF("doc_id", "text")
    val out = Staged.withStaged {
      docs.transform(Dedup.dropRepeatedPassagesUnaligned("doc_id", "text", 16))
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    }
    assert(out(1L)._2 === toks("s", 10) && out(1L)._4 === 10L)
    assert(out(3L)._2 === toks("u", 16) && out(3L)._4 === 16L)
    // doc 2: the second a1..a16 run duplicates the first window → dropped
    assert(out(2L)._2 === toks("a", 16) && out(2L)._4 === 16L)
  }

  /** Run `body` in a `withStaged` scope under a fresh checkpoint dir,
    * assert the scope left no file in it, and restore the previous dir. */
  private def withReliableCuts[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    StagedFaults.withCheckpointDir(spark.sparkContext, Some(dir)) {
      val out = Staged.withStaged {
        val r = body
        // while the result is live, its checkpoint files remain
        assert(StagedFaults.fileCount(dir) > 0)
        r
      }
      // the staged-release scope deleted every round's checkpoint
      assert(StagedFaults.fileCount(dir) === 0)
      out
    }
  }

  test("duplicateClusters reliable-checkpoint path matches the default and cleans its files") {
    val pairs = (0L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val expected = Staged.withStaged(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet)
    val out = withReliableCuts(Dedup.duplicateClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet)
    assert(out === expected)
  }

  test("q26 and q62 return the same rows with reliable cuts as with local ones") {
    val sf = "/root/testdata/sf0.001"
    for (q <- Seq("q26_ngram_jaccard", "q62_corpus_pipeline")) {
      def rows = SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
      val local = StagedFaults.withCheckpointDir(spark.sparkContext, None)(
        Staged.withStaged(rows))
      assert(withReliableCuts(rows) === local, q)
    }
  }

  test("duplicateClusters frees its checkpoints with the staged-release scope") {
    val before = spark.sparkContext.getPersistentRDDs.size
    Staged.withStaged {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      Dedup.duplicateClusters(pairs, "doc_a", "doc_b").count()
    }
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("decontaminate drops train docs sharing a shingle with the held-out set, keeps the rest") {
    val train = Seq(
      (1L, "the quick brown fox jumps high"),   // shares "quick brown fox"
      (2L, "completely unrelated clean text here"),
      (3L, "too short"),                        // < n tokens: no shingles, never contaminated
      (4L, "benchmark suite leaked question verbatim")) // shares full 3-gram
      .toDF("doc_id", "text")
    val heldOut = Seq(
      (100L, "a quick brown fox appears"),
      (101L, "the benchmark suite leaked question"))
      .toDF("doc_id", "text")
    val clean = Dedup.decontaminate("doc_id", "text", 3)(train, heldOut)
      .select("doc_id").as[Long].collect().sorted
    assert(clean.toSeq === Seq(2L, 3L))
  }

  test("decontaminate broadcasts the held-out shingle set (no shuffle on the probe)") {
    val train = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val heldOut = Seq((2L, "c d e f")).toDF("doc_id", "text")
    val plan = Dedup.decontaminate("doc_id", "text", 3)(train, heldOut)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastQueryStage"),
      s"held-out shingles must broadcast:\n$plan")
  }

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    val oldSnap = Seq((1L, "same"), (2L, "before"), (3L, "gone")).toDF("doc_id", "text")
    val newSnap = Seq((1L, "same"), (2L, "after"), (4L, "fresh")).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff("doc_id", "text")(oldSnap, newSnap)
      .as[(Long, String)].collect().toMap
    assert(out === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("snapshotDiff: null texts classify by presence, not hash nullness") {
    val oldSnap = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Option("x"))).toDF("doc_id", "text")
    val newSnap = Seq((2L, Option("now set")), (3L, Option.empty[String]),
      (4L, Option.empty[String])).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff("doc_id", "text")(oldSnap, newSnap)
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "removed", 2L -> "changed",
      3L -> "changed", 4L -> "added"))
    // null text on BOTH sides is unchanged, not a phantom diff
    val same = Dedup.snapshotDiff("doc_id", "text")(
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"),
      Seq((9L, Option.empty[String])).toDF("doc_id", "text"))
    assert(same.isEmpty)
  }

  test("exact dedup groups identical texts and keeps min id") {
    val out = Dedup.exact("doc_id", "text")(docs)
      .orderBy("keep_id").select("keep_id", "n_dupes")
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((0L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("ngram Jaccard finds the near-dupe pair with high score, not the unrelated doc") {
    val pairs = Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.3)(docs)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Double)].collect().toSeq
    val keys = pairs.map(p => (p._1, p._2))
    assert(keys.contains((0L, 1L)) && keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 === 1.0) // exact dupe
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("containmentPairs: an excerpt inside a long doc scores 1.0 where Jaccard misses it") {
    val long = (1 to 60).map(i => s"tok$i").mkString(" ")      // 58 3-shingles
    val excerpt = (21 to 30).map(i => s"tok$i").mkString(" ")  // 8 shingles, all inside long
    val d = Seq((1L, long), (2L, excerpt)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs("doc_id", "text", 3, 0.9)(d)
      .as[(Long, Long, Double)].collect().toSeq
    assert(cont === Seq((1L, 2L, 1.0)))
    // the same pair's Jaccard is 8/(58+8-8) ≈ 0.138 — under any dedup θ
    assert(Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.5)(d).count() === 0)
  }

  test("containmentPairs: partial overlap scores inter/min(szA,szB); below-threshold drops") {
    // A = tokens 1..20 (18 shingles), B = tokens 11..30 (18 shingles);
    // shared shingles start at tokens 11..18 → inter = 8; 8/18 = 0.4444
    val d = Seq(
      (1L, (1 to 20).map(i => s"tok$i").mkString(" ")),
      (2L, (11 to 30).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val hit = Dedup.containmentPairs("doc_id", "text", 3, 0.4)(d)
      .as[(Long, Long, Double)].collect().toSeq
    assert(hit === Seq((1L, 2L, 0.4444)))
    assert(Dedup.containmentPairs("doc_id", "text", 3, 0.5)(d).count() === 0)
  }

  test("editDistancePairs: catches the small edit, not the word scramble Jaccard can't see") {
    Staged.withStaged {
      val scrambled = base.trim.split("\\s+").reverse.mkString(" ")
      val d = Seq(
        (0L, base),
        (1L, base.replace("tonight", "tonite")),  // 2-char edit: edit_sim high
        (2L, scrambled),                          // same token SET: Jaccard-1 on 1-shingles, edit_sim low
        (3L, "completely unrelated text about spark catalyst optimizer rules and physical plans here")
      ).toDF("doc_id", "text")
      val pairs = Dedup.editDistancePairs("doc_id", "text", 3, 0.8)(d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((0L, 1L)))
      // the scrambled doc IS a 1-gram Jaccard dupe — the two metrics split
      val jac = Dedup.ngramJaccardPairs("doc_id", "text", 1, 0.99)(d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(jac.contains((0L, 2L)) && !pairs.contains((0L, 2L)))
      // identical texts score exactly 1.0
      val exactPair = Dedup.editDistancePairs("doc_id", "text", 3, 0.8)(
          Seq((0L, base), (1L, base)).toDF("doc_id", "text"))
        .collect()
      assert(exactPair.length === 1 && exactPair.head.getDouble(2) === 1.0)
    }
  }

  test("keepBestPerCluster: longest member survives, singletons keep themselves, counts exact") {
    Staged.withStaged {
      // cluster {1,2,3} via pairs; doc 2 is longest; 9 is a singleton
      val d = Seq(
        (1L, "short text"),
        (2L, "the considerably longer canonical copy of the text"),
        (3L, "medium length text here"),
        (9L, "unrelated singleton")
      ).toDF("doc_id", "text")
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val out = Dedup.keepBestPerCluster(d, "doc_id", length(col("text")), pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(out === Set((1L, 2L, 3L), (9L, 9L, 1L)))
      // equal scores fall back to the id tiebreak (deterministic keeper)
      val tied = Seq((5L, "aaaa"), (6L, "bbbb")).toDF("doc_id", "text")
      val keptTied = Dedup.keepBestPerCluster(tied, "doc_id", length(col("text")),
          Seq((5L, 6L)).toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(keptTied === Set((5L, 5L, 2L)))
    }
  }

  test("minhash LSH surfaces exact and near dupes as candidates") {
    val pairs = Dedup.minhashLshPairs("doc_id", "text", 3, 32, 4, 0.3)(docs)
      .as[(Long, Long, Double)].collect().toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 === 1.0)
    assert(keys.contains((0L, 2L))) // near-dup shares most shingles
    assert(!keys.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("md5 minhash twin: both hash families recall every true near-dup, admit no junk (sf0.01 docs)") {
    // the check behind q91's oracle standing in for q27. At threshold
    // 0.03 any band collision already clears the est filter, so the
    // surfaced set is the band-collision candidate set — for a pair at
    // INTERMEDIATE Jaccard (~0.5) collision is a coin flip per family,
    // so exact cross-family set equality would hold only while the
    // fixture's pair distribution stays bimodal. The family-independent
    // contract (mirrors the SimHash twin test): every exact-Jaccard
    // ≥ 0.9 pair must surface in BOTH families (per-family miss prob
    // ≈ (1−0.9⁴)⁸ ≈ 2e-4), no surfaced pair may be junk (exact < 0.03
    // after banding + est verify), and the families find comparably
    // many.
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Staged.withStaged {
      Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.0001)(real)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
        .collect().map(p => (p._1, p._2) -> p._3).toMap
    }
    val trueDups = exact.filter(_._2 >= 0.9).keySet
    assert(trueDups.nonEmpty, "fixture lost its near-dup pairs")
    def check(ps: Set[(Long, Long)], label: String): Unit = {
      assert(trueDups.subsetOf(ps),
        s"$label missed true dups: ${(trueDups -- ps).take(5)}")
      ps.foreach(p => assert(exact.getOrElse(p, 0.0) >= 0.03,
        s"$label surfaced junk pair $p (exact ${exact.getOrElse(p, 0.0)})"))
    }
    val xx = Dedup.minhashLshPairs("doc_id", "text", 3, 32, 4, 0.03)(real)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val md = Dedup.minhashLshPairs("doc_id", "text", 3, 32, 4, 0.03,
      family = HashFamily.Md5)(real)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    check(xx, "xxhash"); check(md, "md5")
    assert(math.abs(xx.size - md.size) <= math.max(xx.size, md.size) / 2,
      s"family disparity: xxhash=${xx.size} md5=${md.size}")
  }

  test("minhash calibration: est_jaccard within ±0.15 of exact Jaccard (sf0.01 docs)") {
    // quantitative check behind the rows-only q27 CORRECTNESS entry: on
    // the pairs both methods surface, the 32-perm minhash estimate must
    // track the exact shingle-set Jaccard (expected |err| ~ 1/sqrt(32))
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val exact = Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.03)(real)
    val est = Dedup.minhashLshPairs("doc_id", "text", 3, 32, 4, 0.03)(real)
    val joined = est.join(exact, Seq("doc_a", "doc_b"))
      .select(col("est_jaccard"), col("jaccard"))
      .as[(Double, Double)].collect()
    assert(joined.length > 10, s"overlap too small: ${joined.length}")
    val worst = joined.map { case (e, x) => math.abs(e - x) }.max
    assert(worst <= 0.15, s"worst |est - exact| = $worst")
  }

  test("md5 simhash twin: radius-3 pairs are genuinely near-identical in BOTH bit families (sf0.01 docs)") {
    // the check behind q97's oracle standing in for q28. Unlike MinHash
    // (where the thresholded pair sets matched exactly — the estimate
    // averages 32 independent perms), a simhash pair at Hamming 0–3 is a
    // single 64-bit sketch landing inside the radius: sf0.01 has NO
    // exact-text dupes, its tightest pairs sit at Jaccard ≈ 0.98, and
    // which of those a family rounds to Hamming 0 vs 4 is bit-family
    // luck — so set equality is the WRONG contract here. The right one:
    // every pair either family surfaces at the tight radius must be a
    // true near-duplicate (exact shingle Jaccard ≥ 0.9), i.e. neither
    // family admits junk — precision, the property the radius exists for.
    // Ground truth = exact TOKEN-MULTISET COSINE (what simhash sketches
    // — a radius-3 pair can have zero 3-gram overlap yet cosine 0.99).
    // On this fixture random pairs sit at median cosine ≈ 0.62; both
    // families' surfaced pairs must come from the very top of that
    // distribution (median ≥ 0.98, no pair below 0.7 — one-two sketch-
    // variance outliers in the 0.78–0.89 band are expected at 64 bits).
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val counts = real
      .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("w"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ws) =>
        id -> ws.groupBy(identity).view.mapValues(_.size).toMap }.toMap
    def cosine(a: Long, b: Long): Double = {
      val (ca, cb) = (counts(a), counts(b))
      val dot = ca.iterator.map { case (k, v) => v.toDouble * cb.getOrElse(k, 0) }.sum
      def n(c: Map[String, Int]) = math.sqrt(c.values.map(v => v.toDouble * v).sum)
      dot / (n(ca) * n(cb))
    }
    def check(df: org.apache.spark.sql.DataFrame, label: String): Int = {
      val cs = df.select("doc_a", "doc_b").as[(Long, Long)].collect()
        .map { case (a, b) => cosine(a, b) }.sorted
      assert(cs.nonEmpty, s"$label surfaced no pairs — fixture regressed")
      assert(cs(cs.length / 2) >= 0.98, s"$label median cosine ${cs(cs.length / 2)}")
      assert(cs.head >= 0.7, s"$label admitted junk pair (cosine ${cs.head})")
      cs.length
    }
    val nXx = check(Dedup.simhashPairs("doc_id", "text", 3)(real), "xxhash")
    val nMd = Staged.withStaged {
      check(Dedup.simhashPairs("doc_id", "text", 3, HashFamily.Md5)(real), "md5")
    }
    // and the families find comparably many (same sketch, same radius)
    assert(math.abs(nXx - nMd) <= math.max(nXx, nMd) / 2,
      s"family disparity: xxhash=$nXx md5=$nMd")
  }

  test("md5 simhash twin: exact dupes at Hamming 0; unrelated docs excluded") {
    val out = Staged.withStaged {
      Dedup.simhashPairs("doc_id", "text", 3, HashFamily.Md5)(docs)
        .as[(Long, Long, Long)].collect().toSeq
    }
    assert(out.find(p => (p._1, p._2) == (0L, 1L)).get._3 === 0L)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash calibration: Hamming distance anti-correlates with exact Jaccard (sf0.01 docs)") {
    // simhash approximates token-multiset cosine, so across real pairs a
    // smaller Hamming distance must mean higher shingle overlap; the
    // negative correlation is the quantitative backing for the rows-only
    // q28 CORRECTNESS entry
    import graft.functions.TextFunctions.hamming64
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val sigs = Dedup.simhashSignatures("doc_id", "text")(real)
    val hams = sigs.as("a").join(sigs.as("b"), col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming64(col("a.sim"), col("b.sim")).cast("double").as("hamming"))
    // unigram (n = 1) Jaccard: simhash votes are over unigram tokens, so
    // token-set overlap is the quantity it actually approximates
    val jacc = Dedup.ngramJaccardPairs("doc_id", "text", 1, 0.0)(real)
    val pairs = hams.join(jacc, Seq("doc_a", "doc_b"), "left")
      .select(col("hamming"), coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
    // tail means, not Pearson over all pairs: the unrelated-pair mass
    // (jaccard ~ 0, hamming ~ 32) swamps a global correlation while the
    // calibration claim is about the tails; percentile cutoffs keep the
    // buckets nonempty whatever the corpus looks like
    val cuts = pairs.agg(
        expr("percentile_approx(hamming, 0.05)").as("lo"),
        expr("percentile_approx(hamming, 0.95)").as("hi"))
      .as[(Double, Double)].head()
    val byDist = pairs.agg(
        avg(when(col("hamming") <= cuts._1, col("jaccard"))).as("close"),
        avg(when(col("hamming") >= cuts._2, col("jaccard"))).as("far"))
      .as[(Double, Double)].head()
    val (close, far) = byDist
    // the corpus shares a ~0.4 baseline vocabulary across ALL pairs, so
    // the calibration claim is an absolute gap over that baseline, not a
    // ratio: simhash-close pairs overlap far more than simhash-far ones
    assert(close > far + 0.2 && close > 0.6,
      s"mean jaccard: hamming<=${cuts._1} -> $close, hamming>=${cuts._2} -> $far")
  }

  test("simhash pairs: exact dupes at Hamming 0; unrelated docs excluded at tight radius") {
    val pairs = Dedup.simhashPairs("doc_id", "text", maxHamming = 3)(docs)
      .as[(Long, Long, Long)].collect().toSeq
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 1L)) === 0L)
    assert(!m.keySet.exists(k => k._1 == 3L || k._2 == 3L))
  }

  test("simhash pairs refuses a radius the banding cannot exhaustively cover") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs("doc_id", "text", maxHamming = 4)(docs)
    }
  }

  test("bloom decontamination: kept ⊆ exact-kept (no false negatives), both hash families (sf0.01 docs)") {
    // the law behind q114/q115 standing beside q63: a Bloom filter can
    // only OVER-drop (false positives), never under-drop — every doc the
    // exact semi-join flags is flagged here too. At m=2^20 / k=4 and the
    // fixture's ~1.2k held-out shingles the fill is ~0.4%, FP ≈ 2e-10
    // per shingle, so the kept sets should be exactly equal on this
    // data; the subset assertion is the structural guarantee, the
    // equality the measured outcome.
    val real = graft.Tables.documents(spark, "/root/testdata/sf0.01")
    val train = real.filter(col("doc_id") % 50 =!= 0)
    val held = real.filter(col("doc_id") % 50 === 0)
    val exactKept = Dedup.decontaminate("doc_id", "text", 3)(train, held)
      .select("doc_id").as[Long].collect().toSet
    def kept(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): Set[Long] =
      f(train, held).select("doc_id").as[Long].collect().toSet
    val xx = kept(Dedup.bloomDecontaminate("doc_id", "text", 3, 1L << 20, 4))
    val md = kept(Dedup.bloomDecontaminate("doc_id", "text", 3, 1L << 20, 4, HashFamily.Md5))
    assert(xx.subsetOf(exactKept), s"xxhash under-dropped: kept ${(xx -- exactKept).take(5)}")
    assert(md.subsetOf(exactKept), s"md5 under-dropped: kept ${(md -- exactKept).take(5)}")
    assert(xx === exactKept && md === exactKept,
      s"unexpected FPs at this fill: xx drops ${exactKept -- xx} md drops ${exactKept -- md}")
  }

  test("bloom decontamination: an undersized filter over-drops but still never under-drops") {
    // force false positives with a tiny m: the kept set shrinks (extra
    // clean docs sacrificed) yet remains inside the exact kept set —
    // the one-sided-error direction is structural, not parametric
    val train = Seq((1L, base), (2L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val held = Seq((50L, "totally disjoint heldout benchmark text with many words")).toDF("doc_id", "text")
    val exactKept = Dedup.decontaminate("doc_id", "text", 3)(train, held)
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept === Set(1L, 2L))
    val tiny = Dedup.bloomDecontaminate("doc_id", "text", 3, mBits = 2L, kHashes = 1,
      family = HashFamily.Md5)(train, held)
      .select("doc_id").as[Long].collect().toSet
    assert(tiny.subsetOf(exactKept))
    assert(tiny.size < exactKept.size, s"expected FP drops at m=2, kept $tiny")
  }

  test("sparse cosine pairs: exact dupes score 1.0, near-dupes high, unrelated docs never meet") {
    Staged.withStaged {
      val pairs = Dedup.sparseCosinePairs("doc_id", "text", 3, threshold = 0.5)(docs)
        .as[(Long, Long, Double)].collect().toSeq
      val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
      assert(m((0L, 1L)) === 1.0)                       // identical vectors
      assert(m((0L, 2L)) > 0.5 && m((0L, 2L)) < 1.0)    // one-word edit
      assert(pairs.forall(p => p._1 < p._2))
      assert(!m.keySet.exists(k => k._1 == 3L || k._2 == 3L))
    }
  }

  test("sparse cosine pairs: a repeated distinctive shingle weighs more than a set metric sees") {
    Staged.withStaged {
      // a & b share boilerplate REPEATED 3×; c has it once plus unique tail.
      // tf weighting must rank (a,b) above (a,c); set Jaccard can't (it
      // flattens the repeat).
      val boiler = "subscribe to our newsletter today"
      val fixture = Seq(
        (0L, s"$boiler $boiler $boiler alpha beta gamma"),
        (1L, s"$boiler $boiler $boiler delta epsilon zeta"),
        (2L, s"$boiler unique tail words entirely different topic matter here")
      ).toDF("doc_id", "text")
      val m = Dedup.sparseCosinePairs("doc_id", "text", 3, threshold = 0.0)(fixture)
        .as[(Long, Long, Double)].collect()
        .map(p => (p._1, p._2) -> p._3).toMap
      assert(m((0L, 1L)) > m((0L, 2L)),
        s"tf-weighted: ${m((0L, 1L))} should beat ${m((0L, 2L))}")
    }
  }

  test("sparse cosine pairs: maxDf drops ubiquitous shingles from vectors on both sides") {
    Staged.withStaged {
      // the shared shingle appears in every doc -> df 3 > maxDf 2 ->
      // no candidates survive the capped vocabulary
      val common = "lorem ipsum dolor"
      val fixture = Seq(
        (0L, s"$common alpha beta gamma"),
        (1L, s"$common delta epsilon zeta"),
        (2L, s"$common eta theta iota")
      ).toDF("doc_id", "text")
      assert(Dedup.sparseCosinePairs("doc_id", "text", 3,
        threshold = 0.0, maxDf = 2L)(fixture).count() === 0)
    }
  }

  test("stripFrequentChunks: drops ALL copies of a frequent chunk (keep-first keeps one), intra-doc repeats don't count toward df, pure boilerplate survives empty") {
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val banner = toks("nav", 8)                       // one full 8-token chunk
    val docs = Seq(
      (1L, banner + " " + toks("x", 8)),              // banner + unique
      (2L, banner + " " + toks("y", 8)),              // banner + unique
      (3L, banner),                                   // pure boilerplate
      (4L, toks("c", 8) + " " + toks("c", 8)),        // intra-doc repeat: df = 1 → kept
      (5L, toks("d", 11))                             // 8-chunk + 3-token tail, unique
    ).toDF("doc_id", "text")
    val out = graft.ops.Staged.withStaged {
      docs.transform(Dedup.stripFrequentChunks("doc_id", "text", 8, 1))
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    }
    // df(banner) = 3 > 1 → dropped from docs 1, 2 AND 3 (no surviving copy
    // anywhere — the policy difference from dropRepeatedPassages)
    assert(out(1L) === ((16L, 8L, md5hex(toks("x", 8)))))
    assert(out(2L) === ((16L, 8L, md5hex(toks("y", 8)))))
    assert(out(3L) === ((8L, 0L, md5hex(""))))        // row survives, rewrite empty
    // intra-doc repetition is one doc: not frequent, both copies stay
    assert(out(4L) === ((16L, 16L, md5hex(toks("c", 8) + " " + toks("c", 8)))))
    // tail chunk shorter than chunkTokens counts its real token length
    assert(out(5L) === ((11L, 11L, md5hex(toks("d", 8) + " " + (9 to 11).map(i => s"d$i").mkString(" ")))))
    // contrast: keep-first passage dedup PRESERVES the banner's first copy
    val keepFirst = graft.ops.Staged.withStaged {
      docs.transform(Dedup.dropRepeatedPassages("doc_id", "text", 8))
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    }
    assert(keepFirst(1L).startsWith(banner))
  }

  test("stripFrequentChunks: maxDf threshold gates the drop; chunk identity is position-independent") {
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i").mkString(" ")
    val footer = toks("f", 8)
    val docs = Seq(
      (1L, footer + " " + toks("a", 8)),
      (2L, toks("b", 8) + " " + footer)               // footer at a DIFFERENT chunk slot
    ).toDF("doc_id", "text")
    // df(footer) = 2 (aligned in both docs) — at maxDf = 2 nothing drops
    val lax = graft.ops.Staged.withStaged {
      docs.transform(Dedup.stripFrequentChunks("doc_id", "text", 8, 2))
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    }
    assert(lax === Map(1L -> 16L, 2L -> 16L))
    // at maxDf = 1 the footer drops from BOTH positions
    val strict = graft.ops.Staged.withStaged {
      docs.transform(Dedup.stripFrequentChunks("doc_id", "text", 8, 1))
        .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    }
    assert(strict === Map(1L -> 8L, 2L -> 8L))
  }

  test("noveltyScores: first carrier scores 1, a copy scores 0, a recombination scores low with no pair above threshold") {
    // doc 1: 8 novel shingles; doc 2: exact copy (all shingles first
    // seen in doc 1); doc 3: one fresh half + one half lifted from doc
    // 1 — the mass-duplication shape; doc 4: too short for a 3-shingle
    val a = (1 to 10).map(i => s"a$i").mkString(" ")
    val fresh = (1 to 6).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, a), (2L, a),
      (3L, fresh + " " + (1 to 5).map(i => s"a$i").mkString(" ")),
      (4L, "only two")
    ).toDF("doc_id", "text")
    val out = graft.ops.Staged.withStaged {
      docs.transform(Dedup.noveltyScores("doc_id", "text", 3))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
    }
    assert(out(1L)._3 === 1.0) // every shingle first seen here
    assert(out(2L)._3 === 0.0) // pure copy: zero novelty
    // doc 3: shingles inside the fresh half and straddling the seam are
    // new; the a1..a5 interior shingles (a1 a2 a3, a2 a3 a4, a3 a4 a5)
    // were first seen in doc 1
    assert(out(3L)._2 === out(3L)._1 - 3)
    assert(out(3L)._3 < 1.0 && out(3L)._3 > 0.5)
    assert(!out.contains(4L)) // < n tokens: no shingles, no row
    // and the pairwise view genuinely misses doc 3 at a 0.5 threshold:
    // its Jaccard against doc 1 is 3/(8+9-3) < 0.5
    val pairs = graft.ops.Staged.withStaged {
      docs.transform(Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.5))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    }
    assert(pairs === Set((1L, 2L)))
  }

  // plain-Scala jaccardThresholdSweep reference: brute-force pair
  // jaccards in BigInt-free long arithmetic, then per-threshold counts
  // with docs attributed at their max incident level
  private def refSweep(docs: Seq[(Long, String)], n: Int): Seq[(Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, t) =>
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      id -> (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val pairs = for {
      i <- sets.indices
      j <- (i + 1) until sets.length
      inter = sets(i)._2.intersect(sets(j)._2).size if inter > 0
    } yield {
      val (a, sa) = sets(i); val (b, sb) = sets(j)
      inter.toLong * 10000 / (sa.size + sb.size - inter)
    }
    val docMax = (for {
      i <- sets.indices
      j <- (i + 1) until sets.length
      inter = sets(i)._2.intersect(sets(j)._2).size if inter > 0
      jac = inter.toLong * 10000 / (sets(i)._2.size + sets(j)._2.size - inter)
      d <- Seq(sets(i)._1, sets(j)._1)
    } yield d -> jac).groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).max }
    val grid = pairs.distinct.sorted(Ordering[Long].reverse)
    grid.map { t =>
      val nd = docMax.values.count(_ >= t).toLong
      (t, pairs.count(_ >= t).toLong, nd, nd * 10000 / docs.size)
    }
  }

  test("jaccardThresholdSweep equals the brute-force reference on generated corpora") {
    Seq(5, 17, 31, 53, 71, 101).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 25L).map { id =>
        val words = (0 until 4 + rnd.nextInt(10)).map(_ => s"w${rnd.nextInt(8)}")
        (id, words.mkString(" "))
      }
      val got = graft.ops.Staged.withStaged {
        docs.toDF("doc_id", "text")
          .transform(Dedup.jaccardThresholdSweep("doc_id", "text", 3))
          .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(-_._1)
      }
      assert(got === refSweep(docs, 3), s"seed=$seed")
    }
  }

  test("jaccardThresholdSweep closed form: exact pair at 10000, curves cumulative, short docs in the denominator") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "p q r s t"), (4L, "xx")) // doc 4: no 3-shingles, still in total
    val out = graft.ops.Staged.withStaged {
      docs.toDF("doc_id", "text")
        .transform(Dedup.jaccardThresholdSweep("doc_id", "text", 3))
        .as[(Long, Long, Long, Long)].collect().toSeq
    }
    // only the identical pair shares any shingle: one grid row
    assert(out === Seq((10000L, 1L, 2L, 5000L)))
  }
  // corpus, then per-doc islands of consecutive duplicated window starts
  // brute-force threshold pairs: distinct 3-shingle sets, all pairs,
  // exact cross-multiplied keep decision — no prefix logic anywhere
  private def brutePairs(docs: Seq[(Long, String)], n: Int,
                         tBp: Long): Set[(Long, Long, Long)] = {
    val sets = docs.map { case (id, t) =>
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      id -> (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      inter = sets(i)._2.intersect(sets(j)._2).size if inter > 0
      un = sets(i)._2.size + sets(j)._2.size - inter
      if inter.toLong * 10000 >= tBp * un
    } yield (sets(i)._1 min sets(j)._1, sets(i)._1 max sets(j)._1,
      inter.toLong * 10000 / un)).toSet
  }

  test("prefixJaccardPairs equals the unfiltered brute force at every threshold — the prefix loses nothing") {
    Seq(13, 29, 43, 67, 97, 113).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 24L).map { id =>
        val words = (0 until 5 + rnd.nextInt(12)).map(_ => s"w${rnd.nextInt(7)}")
        (id, words.mkString(" "))
      }
      Seq(2000L, 3000L, 5000L, 8000L).foreach { t =>
        val got = graft.ops.Staged.withStaged {
          docs.toDF("doc_id", "text")
            .transform(Dedup.prefixJaccardPairs("doc_id", "text", 3, t))
            .as[(Long, Long, Long)].collect().toSet
        }
        assert(got === brutePairs(docs, 3, t), s"seed=$seed t=$t")
      }
    }
  }

  test("prefixJaccardPairs keeps the exactly-at-threshold pair and drops just-below") {
    // doc 1: 6 shingles, doc 2: 7 shingles, sharing exactly the 3
    // shingles of the common 5-token run -> J = 3/10 = 0.3000 exactly
    val docs = Seq(
      (1L, "a1 a2 a3 C1 C2 C3 C4 C5"),
      (2L, "C1 C2 C3 C4 C5 b1 b2 b3 b4"),
      // doc 3 shares only a 4-token run with doc 1 -> 2 shingles,
      // J = 2/(6+7-2) = 2/11 < 0.3
      (3L, "a1 a2 a3 C1 z1 z2 z3 z4 z5"))
    val out = graft.ops.Staged.withStaged {
      docs.toDF("doc_id", "text")
        .transform(Dedup.prefixJaccardPairs("doc_id", "text", 3, 3000L))
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(out.contains((1L, 2L, 3000L)), s"boundary pair must survive: $out")
    assert(!out.exists(p => p._1 == 1L && p._2 == 3L), "below-threshold excluded")
  }

  // BigInt reference for the LSH planner's quantized probability chain
  private def refPlan(docs: Seq[(Long, String)], n: Int, tBp: Long,
                      b: Int, r: Int): (Long, Long, Long, Long) = {
    val sets = docs.map { case (id, t) =>
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      id -> (0 to w.length - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val stats = for {
      i <- sets.indices; j <- (i + 1) until sets.length
      inter = sets(i)._2.intersect(sets(j)._2).size if inter > 0
    } yield (BigInt(inter), BigInt(sets(i)._2.size + sets(j)._2.size - inter))
    var (nT, missed, nB, extra) = (0L, 0L, 0L, 0L)
    stats.foreach { case (i, u) =>
      // quantize-then-power: j once on the x10^4 grid, then the
      // sequential product chain — mirrors lshPlanner exactly
      val j = i * 10000 / u
      var jr = j
      (1 until r).foreach(_ => jr = jr * j / 10000)
      var m = 10000 - jr
      (0 until Integer.numberOfTrailingZeros(b)).foreach(_ => m = m * m / 10000)
      if (j >= tBp) { nT += 1; missed += m.toLong }
      else { nB += 1; extra += 10000L - m.toLong }
    }
    (nT, missed, nB, extra)
  }

  test("lshPlanner equals the BigInt quantized chain; probabilities near the analytic S-curve") {
    Seq(11, 31, 47, 73, 101, 127).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 22L).map { id =>
        val words = (0 until 5 + rnd.nextInt(10)).map(_ => s"w${rnd.nextInt(6)}")
        (id, words.mkString(" "))
      }
      val got = graft.ops.Staged.withStaged {
        docs.toDF("doc_id", "text")
          .transform(Dedup.lshPlanner("doc_id", "text", 3, 3000L))
          .as[(Long, Long, Long, Long, Long, Long)].collect()
          .map(x => (x._1.toInt, x._2.toInt) -> (x._3, x._4, x._5, x._6)).toMap
      }
      Seq((32, 1), (16, 2), (8, 4)).foreach { case (b, r) =>
        assert(got((b, r)) === refPlan(docs, 3, 3000L, b, r),
          s"seed=$seed b=$b r=$r")
      }
    }
    // quantization sanity: the chain sits within log2(b) squarings'
    // compounded truncation of the analytic (1 - j^r)^b
    def chain(jBp: Long, b: Int, r: Int): Double = {
      var jr = BigInt(jBp)
      (1 until r).foreach(_ => jr = jr * jBp / 10000)
      var m = BigInt(10000) - jr
      (0 until Integer.numberOfTrailingZeros(b)).foreach(_ => m = m * m / 10000)
      m.toDouble / 10000
    }
    for (jBp <- Seq(1000L, 3000L, 5000L, 8000L); (b, r) <- Seq((32, 1), (16, 2), (8, 4))) {
      val exact = math.pow(1 - math.pow(jBp / 10000.0, r), b)
      assert(math.abs(chain(jBp, b, r) - exact) < 0.02,
        s"j=$jBp b=$b r=$r chain=${chain(jBp, b, r)} exact=$exact")
    }
  }

  test("lshPlanner closed forms: exact duplicates are never missed; banding trades extras for misses") {
    val docs = Seq(
      (1L, "d1 d2 d3 d4 d5 d6"), (2L, "d1 d2 d3 d4 d5 d6"), // J = 1
      (3L, "d1 d2 d3 x1 x2 x3 x4 x5 x6 x7"))                // low-J neighbor
    val out = graft.ops.Staged.withStaged {
      docs.toDF("doc_id", "text")
        .transform(Dedup.lshPlanner("doc_id", "text", 3, 3000L))
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(x => (x._1.toInt, x._2.toInt) -> (x._3, x._4, x._5, x._6)).toMap
    }
    Seq((32, 1), (16, 2), (8, 4)).foreach { case (b, r) =>
      val (nT, missed, nB, _) = out((b, r))
      assert(nT === 1L && missed === 0L, s"J=1 pair immune at ($b,$r)")
      assert(nB === 2L)
    }
    // more rows per band = stricter bands = fewer spurious candidates
    val extras = Seq((32, 1), (16, 2), (8, 4)).map(c => out(c)._4)
    assert(extras === extras.sorted.reverse && extras.head > extras.last,
      s"extra candidates must fall as r rises: $extras")
  }

  // plain-Scala maskDupSpans reference: flag every position covered by
  // a >1-occurrence n-window anywhere in the corpus, rejoin survivors
  private def refMask(docs: Seq[(Long, String)], n: Int): Map[Long, (String, Long, Long)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }.toMap
    val grams = docs.flatMap { case (id, _) =>
      val w = toks(id)
      (0 to w.length - n).map(i => (id, i, w.slice(i, i + n).mkString(" ")))
    }
    val dupG = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    val flagged = grams.filter(g => dupG(g._3))
      .flatMap { case (id, ws, _) => (ws until ws + n).map(id -> _) }.toSet
    docs.map { case (id, _) =>
      val w = toks(id)
      val kept = w.zipWithIndex.collect {
        case (t, i) if !flagged((id, i)) => t }
      id -> (kept.mkString(" "), w.size.toLong, (w.size - kept.size).toLong)
    }.toMap
  }

  test("maskDupSpans equals the brute-force reference on generated corpora") {
    Seq(7, 19, 37, 59, 83, 107).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 20L).map { id =>
        val words = (0 until 6 + rnd.nextInt(14)).map(_ => s"w${rnd.nextInt(6)}")
        (id, words.mkString(" "))
      }
      val got = graft.ops.Staged.withStaged {
        docs.toDF("doc_id", "text")
          .transform(Dedup.maskDupSpans("doc_id", "text", 3))
          .as[(Long, String, Long, Long)].collect()
          .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      }
      assert(got === refMask(docs, 3), s"seed=$seed")
    }
  }

  test("maskDupSpans closed forms: copied paragraph vanishes from both, unique text untouched, full dup empties but keeps the row") {
    val para = "p1 p2 p3 p4 p5 p6 p7"
    val docs = Seq(
      (1L, s"u1 u2 u3 u4 $para"),        // unique head + the paragraph
      (2L, s"$para v1 v2 v3 v4"),        // the paragraph + unique tail
      (3L, "fresh f2 f3 f4 f5 f6"),      // untouched
      (4L, "dup dup2 dup3 dup4 dup5"),   // exact pair with doc 5
      (5L, "dup dup2 dup3 dup4 dup5"),
      (6L, "tiny doc"))                  // < n tokens: no windows
    val out = graft.ops.Staged.withStaged {
      docs.toDF("doc_id", "text")
        .transform(Dedup.maskDupSpans("doc_id", "text", 5))
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    }
    assert(out(1L) === (("u1 u2 u3 u4", 11L, 7L)), "paragraph masked, head kept")
    assert(out(2L) === (("v1 v2 v3 v4", 11L, 7L)), "paragraph masked, tail kept")
    assert(out(3L) === (("fresh f2 f3 f4 f5 f6", 6L, 0L)))
    assert(out(4L) === (("", 5L, 5L)), "full dup masks to empty — row kept")
    assert(out(5L) === (("", 5L, 5L)))
    assert(out(6L) === (("tiny doc", 2L, 0L)), "sub-window doc untouched")
  }

  private def refDupSpans(docs: Seq[(Long, String)],
                          n: Int): Set[(Long, Long, Long)] = {
    val grams = docs.flatMap { case (id, t) =>
      val w = t.trim.split("\\s+").filter(_.nonEmpty)
      (0 to w.length - n).map(i => (id, i.toLong, w.slice(i, i + n).mkString(" ")))
    }
    val counts = grams.groupBy(_._3).map { case (g, os) => g -> os.size }
    grams.filter(g => counts(g._3) > 1).groupBy(_._1).flatMap {
      case (id, hs) =>
        val ps = hs.map(_._2).sorted
        val runs = ps.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }
        runs.map { case (s, e) => (id, s, e - s + n) }
    }.toSet
  }

  test("dupSpans equals the brute-force islands reference on generated corpora") {
    val gen = for {
      nd <- Gen.choose(2, 10)
      docs <- Gen.listOfN(nd,
        Gen.choose(0, 12).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (seed <- 1 to 6) {
      val docs = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val got = graft.ops.Staged.withStaged {
        docs.toDF("doc_id", "text").repartition(5)
          .transform(Dedup.dupSpans("doc_id", "text", 3))
          .as[(Long, Long, Long)].collect().toSet
      }
      assert(got === refDupSpans(docs, 3), s"seed=$seed")
    }
  }

  test("dupSpans: copied paragraph = ONE maximal span; unique corpus = none; intra-doc repeats count") {
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"unique one two three $para"),
      (2L, s"$para four five six seven"),
      (3L, "nothing shared here at all"),
      (4L, "rep rep rep rep rep rep rep rep rep rep")).toDF("doc_id", "text")
    val out = graft.ops.Staged.withStaged {
      docs.transform(Dedup.dupSpans("doc_id", "text", 5))
        .as[(Long, Long, Long)].collect().toSet
    }
    // doc 1: the 8-token paragraph starts at token 4 → one span (4, 8);
    // doc 2: same tokens at position 0 → (0, 8); doc 3: absent;
    // doc 4: ten identical tokens → every 5-window duplicated → (0, 10)
    assert(out === Set((1L, 4L, 8L), (2L, 0L, 8L), (4L, 0L, 10L)))
  }

  test("dupSpans: documents shorter than the window never emit") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "")).toDF("doc_id", "text")
    val out = graft.ops.Staged.withStaged {
      docs.transform(Dedup.dupSpans("doc_id", "text", 3))
        .as[(Long, Long, Long)].collect()
    }
    assert(out.isEmpty)
  }

  // plain-Scala winnowing: k-gram 40-bit md5 hashes packed with position,
  // min per w-window of window-hashes
  private def refWinnow(toks: Seq[String], k: Int, w: Int): Set[(Long, Long)] = {
    def h40(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 10), 16)
    val keys = (0 to toks.length - k)
      .map(i => h40(toks.slice(i, i + k).mkString(" ")))
      .zipWithIndex.map { case (h, p) => h * 8388608L + p }
    (0 to keys.length - w)
      .map(p => keys.slice(p, p + w).min)
      .map(key => (key / 8388608L, key % 8388608L)).toSet
  }

  test("winnowFingerprints equals the plain-Scala MOSS reference on generated corpora") {
    val gen = for {
      nd <- Gen.choose(1, 8)
      docs <- Gen.listOfN(nd,
        Gen.choose(0, 20).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s", "t"))
            .map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (seed <- 1 to 6) {
      val docs = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val got = docs.toDF("doc_id", "text").repartition(5)
        .transform(Dedup.winnowFingerprints("doc_id", "text", 3, 4))
        .select("doc_id", "fp", "fp_pos")
        .as[(Long, Long, Long)].collect().toSet
      val want = docs.flatMap { case (id, t) =>
        refWinnow(t.trim.split("\\s+").filter(_.nonEmpty).toSeq, 3, 4)
          .map { case (fp, pos) => (id, fp, pos) }
      }.toSet
      assert(got === want, s"seed=$seed")
    }
  }

  test("winnowing theorem: a shared >= w+k-1 token substring yields a shared fingerprint; gaps <= w") {
    // w+k-1 = 6: both docs embed the same 8-token run at different offsets
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $shared"),
      (2L, s"$shared nine ten eleven twelve thirteen")).toDF("doc_id", "text")
    val fps = docs.transform(Dedup.winnowFingerprints("doc_id", "text", 3, 4))
      .select("doc_id", "fp", "fp_pos")
      .as[(Long, Long, Long)].collect()
    val byDoc = fps.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty,
      "the shared run must contribute an identical selected hash to both docs")
    // density guarantee: consecutive selected POSITIONS gap <= w
    fps.groupBy(_._1).foreach { case (id, xs) =>
      val ps = xs.map(_._3).distinct.sorted
      ps.zip(ps.drop(1)).foreach { case (a, b) =>
        assert(b - a <= 4L, s"doc $id: selected-position gap ${b - a} > w")
      }
    }
  }

  test("winnow truncation is flagged, not silent: a doc past the cap marks every sketch row") {
    // test-size cap (the 2^23 packing is unchanged — the require pins
    // the bound): doc 1 has 30 tokens = 28 grams > cap 16 → truncated;
    // doc 2 stays under → not. The head sketch must still fire.
    val longDoc = (1 to 30).map(i => s"t$i").mkString(" ")
    val shortDoc = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, longDoc), (2L, shortDoc)).toDF("doc_id", "text")
    val fps = docs.transform(
        Dedup.winnowFingerprints("doc_id", "text", 3, 4, cap = 16L))
      .select("doc_id", "fp", "truncated")
      .as[(Long, Long, Boolean)].collect()
    val byDoc = fps.groupBy(_._1)
    assert(byDoc(1L).forall(_._3), "every long-doc row carries the flag")
    assert(byDoc(2L).forall(!_._3), "the short doc is unflagged")
    // truncation drops the TAIL only: the shared 10-token head still
    // contributes an identical fingerprint to both docs
    assert((byDoc(1L).map(_._2).toSet intersect
      byDoc(2L).map(_._2).toSet).nonEmpty)
    // the production cap stays inside the packing bound
    intercept[IllegalArgumentException] {
      Dedup.winnowFingerprints("doc_id", "text", 3, 4, cap = 8388609L)(docs)
    }
  }

  test("lshPlanner sampleBp: the sampled plan is a deterministic restriction, full-rate is exact") {
    val docs = (0L until 60L).map(i =>
      (i, s"w${i % 7} w${(i + 1) % 7} w${(i + 2) % 7} w${i % 5} w$i x y z"))
      .toDF("doc_id", "text")
    val full = Staged.withStaged {
      docs.transform(Dedup.lshPlanner("doc_id", "text", 3, 3000L))
        .orderBy("n_bands").collect().toSeq
    }
    val fullExplicit = Staged.withStaged {
      docs.transform(
          Dedup.lshPlanner("doc_id", "text", 3, 3000L, sampleBp = 10000L))
        .orderBy("n_bands").collect().toSeq
    }
    assert(full === fullExplicit, "sampleBp=10000 is the identity")
    val sampled = Staged.withStaged {
      docs.transform(
          Dedup.lshPlanner("doc_id", "text", 3, 3000L, sampleBp = 5000L))
        .orderBy("n_bands").collect().toSeq
    }
    val again = Staged.withStaged {
      docs.transform(
          Dedup.lshPlanner("doc_id", "text", 3, 3000L, sampleBp = 5000L))
        .orderBy("n_bands").collect().toSeq
    }
    assert(sampled === again, "hash sampling is replay-deterministic")
    // the sample prices a subset of the pair mass
    val truePairs = full.map(r => r.getAs[Long]("n_true")).head
    val truePairsSampled = sampled.map(r => r.getAs[Long]("n_true")).head
    assert(truePairsSampled <= truePairs)
    intercept[IllegalArgumentException] {
      Dedup.lshPlanner("doc_id", "text", 3, 3000L, sampleBp = 0L)(docs)
    }
  }

  private def refOverlap(docs: Seq[(Long, String)], minShared: Int,
                         maxDf: Long): Set[(Long, Long, Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, t) =>
      id -> refWinnow(t.trim.split("\\s+").filter(_.nonEmpty).toSeq, 3, 4)
        .map(_._1)
    }.filter(_._2.nonEmpty).toMap
    val df = sets.values.flatten.groupBy(identity).map { case (f, o) => f -> o.size }
    val kept = sets.map { case (id, s) => id -> s.filter(f => df(f) <= maxDf) }
    (for {
      (a, sa) <- kept.toSeq; (b, sb) <- kept.toSeq if a < b
      shared = (sa intersect sb).size.toLong if shared >= minShared
    } yield (a, b, shared, sets(a).size.toLong, sets(b).size.toLong,
      shared * 10000 / math.min(sets(a).size, sets(b).size))).toSet
  }

  test("winnowOverlapPairs equals the brute-force sketch-intersection reference") {
    val gen = for {
      nd <- Gen.choose(2, 8)
      docs <- Gen.listOfN(nd,
        Gen.choose(6, 25).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s")).map(_.mkString(" "))))
    } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (seed <- 1 to 6) {
      val docs = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val got = graft.ops.Staged.withStaged {
        docs.toDF("doc_id", "text").repartition(5)
          .transform(Dedup.winnowOverlapPairs("doc_id", "text", 3, 4, 1, 100L))
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      }
      assert(got === refOverlap(docs, 1, 100L), s"seed=$seed")
    }
  }

  test("winnowOverlapPairs: an excerpt scores by the SMALLER sketch; the df cap drops boilerplate fps") {
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val long = s"one two three four five six $excerpt seven eight nine ten eleven twelve"
    val docs = Seq((1L, excerpt), (2L, long)).toDF("doc_id", "text")
    val out = graft.ops.Staged.withStaged {
      docs.transform(Dedup.winnowOverlapPairs("doc_id", "text", 3, 4, 1, 100L))
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    }
    assert(out.length === 1)
    val (_, _, shared, na, _, bp) = out(0)
    assert(na <= out(0)._5, "doc 1 is the smaller sketch")
    assert(shared >= na / 2 && bp >= 5000L,
      "most of the excerpt's fingerprints reappear inside the long doc")
    // boilerplate guard: with maxDf = 2, a fp present in all three docs
    // is dropped and the all-pairs clique disappears
    val boiler = (1L to 3L).map(i => (i, s"same same same same same same u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val loose = graft.ops.Staged.withStaged {
      boiler.transform(Dedup.winnowOverlapPairs("doc_id", "text", 3, 4, 1, 100L))
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    }
    val capped = graft.ops.Staged.withStaged {
      boiler.transform(Dedup.winnowOverlapPairs("doc_id", "text", 3, 4, 1, 2L))
        .as[(Long, Long, Long, Long, Long, Long)].collect()
    }
    assert(loose.nonEmpty)
    assert(capped.length < loose.length,
      "the df cap must remove the shared-boilerplate pairs")
  }

  test("sketchProbePairs equals the brute-force probe-vs-base intersection; df cap from the BASE") {
    val gen = for {
      nb <- Gen.choose(1, 6); np <- Gen.choose(1, 6)
      mk = Gen.choose(6, 20).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf("p", "q", "r", "s")).map(_.mkString(" ")))
      bs <- Gen.listOfN(nb, mk); ps <- Gen.listOfN(np, mk)
    } yield (bs.zipWithIndex.map { case (t, i) => (i.toLong, t) },
      ps.zipWithIndex.map { case (t, i) => (100L + i, t) })
    for (seed <- 1 to 6) {
      val (bs, ps) = gen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      def sketch(docs: Seq[(Long, String)]) = docs.map { case (id, t) =>
        id -> refWinnow(t.trim.split("\\s+").filter(_.nonEmpty).toSeq, 3, 4)
          .map(_._1)
      }.filter(_._2.nonEmpty).toMap
      val (sb, sp) = (sketch(bs), sketch(ps))
      val df = sb.values.flatten.groupBy(identity)
        .map { case (f, o) => f -> o.size }
      val maxDf = 2L
      val want = (for {
        (p, pf) <- sp.toSeq; (b, bf) <- sb.toSeq
        shared = (pf intersect bf).count(f => df(f) <= maxDf).toLong
        if shared >= 1L
      } yield (p, b, shared, pf.size.toLong, bf.size.toLong,
        shared * 10000 / math.min(pf.size, bf.size))).toSet
      val got = graft.ops.Staged.withStaged {
        Dedup.sketchProbePairs(1, maxDf)(
          graft.ops.Staged.withStaged {
            Dedup.winnowFingerprints("doc_id", "text", 3, 4)(
              bs.toDF("doc_id", "text"))
          }.select(col("doc_id").as("doc"), col("fp")),
          Dedup.winnowFingerprints("doc_id", "text", 3, 4)(
            ps.toDF("doc_id", "text"))
            .select(col("doc_id").as("doc"), col("fp")))
          .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("dedup-recall harness discriminates: banding misses a borderline pair, catches an extreme one") {
    // docs 1/2: ~0.97 jaccard (one token changed in 40) — every band
    // agrees, LSH must surface it. docs 3/4: ~0.33 jaccard — at
    // b=8, r=4 the candidate probability is 1-(1-j^4)^8 ~ 9%, so with
    // this fixed md5 hash family the pair is (deterministically)
    // missed, and the harness must REPORT that, not paper over it.
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = ((1 to 39).map(i => s"w$i") :+ "CHANGED").mkString(" ")
    val c = (1 to 30).map(i => s"c$i").mkString(" ")
    // shares the first 15 tokens of c, then diverges
    val dTxt = ((1 to 15).map(i => s"c$i") ++ (1 to 15).map(i => s"z$i"))
      .mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, dTxt))
      .toDF("doc_id", "text")
    val (truth, run) = graft.ops.Staged.withStaged {
      (Dedup.ngramJaccardPairs("doc_id", "text", 3, 0.3)(docs)
         .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet,
       Dedup.minhashLshPairs("doc_id", "text", 3, 32, 4, 0.3,
         family = HashFamily.Md5)(docs)
         .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    }
    assert(truth.contains((1L, 2L)) && truth.contains((3L, 4L)),
      s"both pairs are true near-dups at 0.3: $truth")
    assert(run.contains((1L, 2L)), "the extreme pair must be surfaced")
    assert(!run.contains((3L, 4L)),
      "the borderline pair slips the 8x4 banding — the recall the harness exists to measure")
    val tp = (truth intersect run).size.toLong
    assert(tp * 10000 / truth.size < 10000L,
      "recall_bp < 10000 on this corpus: the harness discriminates")
  }

  test("splitContamination: a near-dup straddling the hash split is flagged; the cluster split cures it") {
    val para = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // docs 1/2 share the paragraph (near-dups); 3/4 are clean singletons
    val docs = Seq(
      (1L, s"$para plus unique framing one"),
      (2L, s"other opening then $para"),
      (3L, "completely unrelated content number three with enough tokens here"),
      (4L, "a different standalone document also long enough for windows"))
      .toDF("doc_id", "text")
    // hash split that strands the pair across the boundary
    val straddling = docs.withColumn("split",
      when(col("doc_id") === 2L, "test").otherwise("train"))
    val bad = graft.ops.Staged.withStaged {
      straddling.transform(
          Dedup.splitContamination("split", "doc_id", "text", 8))
        .as[(Long, Long, Long, Long, Option[Long])].collect()(0)
    }
    assert(bad._1 === 3L && bad._2 === 1L)
    assert(bad._3 === 1L && bad._5 === Some(10000L),
      "the stranded near-dup contaminates the whole 1-doc test split")
    assert(bad._4 >= 1L, "the shared windows are reported")
    // cluster-keyed split: the pair travels together -> zero leak
    val clustered = docs.withColumn("split",
      when(col("doc_id") <= 2L, "train").otherwise("test"))
    val good = graft.ops.Staged.withStaged {
      clustered.transform(
          Dedup.splitContamination("split", "doc_id", "text", 8))
        .as[(Long, Long, Long, Long, Option[Long])].collect()(0)
    }
    assert(good === ((2L, 2L, 0L, 0L, Some(0L))),
      "same corpus, cluster-aligned split: certificate reads clean")
  }

  test("winnowFingerprints: fewer than w window-hashes emits nothing") {
    // 5 tokens, k=3 -> 3 window-hashes < w=4
    val docs = Seq((1L, "a b c d e"), (2L, "")).toDF("doc_id", "text")
    assert(docs.transform(Dedup.winnowFingerprints("doc_id", "text", 3, 4))
      .collect().isEmpty)
    // 6 tokens -> exactly one full window -> exactly one fingerprint
    val one = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    assert(one.transform(Dedup.winnowFingerprints("doc_id", "text", 3, 4))
      .collect().length === 1)
  }
}
