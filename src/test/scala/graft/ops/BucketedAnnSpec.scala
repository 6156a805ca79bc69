package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._

/** The 100 TB ANN serving story (SCALE.md): stage the embedding corpus
  * bucketed by its LSH bucket id once, then every query batch's
  * candidate join runs with no Exchange on the corpus side — only the
  * small probe side shuffles.
  */
class BucketedAnnSpec extends SparkSpec {

  test("lshTopK over an LSH-bucketed staging table: one fewer Exchange, output identical") {
    val oldThreshold = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 20)
    try {
      Similarity.writeLshBucketed(emb, "vec_id", "embedding",
        "graft_emb_lsh", nBits = 4, nBuckets = 8)

      val staged = Similarity.lshTopKBucketed(spark, "graft_emb_lsh",
        queries, "vec_id", "embedding", 3, nBits = 4, nProbe = 2)
      val direct = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
        3, nBits = 4, nProbe = 2)

      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.explainString(SimpleMode)).size
      // the staged plan drops exactly the corpus-side bucket shuffle;
      // the probe-side exchange and the per-query ranking exchange stay
      assert(exchanges(staged) === exchanges(direct) - 1,
        s"staged=${exchanges(staged)} direct=${exchanges(direct)}")

      assert(direct.exceptAll(staged).count() === 0 &&
        staged.exceptAll(direct).count() === 0)
      assert(staged.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_emb_lsh")
      oldThreshold match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("IVF-PQ persisted index: codes-only payload, bucketed by cell, serving skips the encode") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 20)
    try {
      Similarity.writeIvfPqIndex(emb, "vec_id", "embedding",
        "graft_emb_ivfpq", dim = 64, nCentroids = 8, m = 8, kCodes = 16,
        nBuckets = 4, trainN = 256, nIters = 1)
      // the serving payload is (cell, id, codes) — no vector column ever
      // reaches the index scan, which is the 16-32x I/O claim
      val idx = spark.table("graft_emb_ivfpq")
      assert(idx.columns.toSet === Set("centroid_id", "neighbor_id", "codes"),
        idx.columns.mkString(","))
      val desc = spark.sql("DESCRIBE FORMATTED graft_emb_ivfpq")
        .collect().map(_.mkString("|")).mkString("\n")
      assert(desc.contains("Num Buckets") && desc.contains("4"), desc)

      val served = Similarity.ivfPqTopKIndexed(spark, "graft_emb_ivfpq",
        emb, queries, "vec_id", "embedding", 3, dim = 64, nProbe = 8,
        m = 8, refine = 4)
      // output-identical to building the same model inline (training is
      // deterministic: hash-sampled seeds + fixed Lloyd rounds)
      val direct = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
        3, dim = 64, nCentroids = 8, nProbe = 8, m = 8, kCodes = 16,
        refine = 4, trainN = 256, nIters = 1)
      assert(direct.exceptAll(served).count() === 0 &&
        served.exceptAll(direct).count() === 0)
      assert(served.count() > 0)
      // the served plan reads the persisted index, not a re-encode
      val p = served.queryExecution.explainString(SimpleMode)
      assert(p.contains("graft_emb_ivfpq"), p)
    } finally {
      Seq("graft_emb_ivfpq", "graft_emb_ivfpq_centroids",
        "graft_emb_ivfpq_codebooks")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("appendIvfPqIndex: frozen-model append ≡ encoding base ∪ batch; serving sees the new batch") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val t = "graft_emb_ivfpq_app"
    try {
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", t,
        dim = 64, nCentroids = 8, m = 8, kCodes = 16, nBuckets = 4,
        trainN = 256, nIters = 1)
      Similarity.appendIvfPqIndex(batch, "vec_id", "embedding", t,
        dim = 64, m = 8, nBuckets = 4)
      // the append contract: the table now holds exactly the rows a
      // fresh encode of base ∪ batch under the SAME (frozen) models
      // produces — batch-sized work, corpus-identical result
      val expected = Similarity.encodeForIndex(emb, "vec_id", "embedding",
        spark.table(s"${t}_centroids"), spark.table(s"${t}_codebooks"),
        dim = 64, m = 8)
      val actual = spark.table(t)
      assert(actual.count() === emb.count())
      assert(expected.exceptAll(actual).count() === 0 &&
        actual.exceptAll(expected).count() === 0)
      // and serving over the appended index returns appended ids too
      val queries = emb.filter(col("vec_id") < 20)
      val served = Similarity.ivfPqTopKIndexed(spark, t, emb, queries,
        "vec_id", "embedding", 3, dim = 64, nProbe = 8, m = 8, refine = 4)
      assert(served.filter(col("neighbor_id") % 2 === 1).count() > 0,
        "no appended-batch id ever served")
    } finally {
      Seq(t, s"${t}_centroids", s"${t}_codebooks")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("deterministic (md5) index lifecycle: append ≡ fresh encode of base ∪ batch, serve sees the batch (q120's contract)") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val batch = emb.filter(col("vec_id") % 2 === 1)
    val t = "graft_emb_ivfpq_md5"
    try {
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding",
        t, dim = 64, nCentroids = 8, m = 16, kCodes = 16, nBuckets = 4, nIters = 0,
        family = HashFamily.Md5)
      Similarity.appendIvfPqIndex(batch, "vec_id", "embedding",
        t, dim = 64, m = 16, nBuckets = 4, family = HashFamily.Md5)
      val expected = Similarity.encodeForIndex(emb, "vec_id",
        "embedding", spark.table(s"${t}_centroids"),
        spark.table(s"${t}_codebooks"), dim = 64, m = 16, family = HashFamily.Md5)
      val actual = spark.table(t)
      assert(actual.count() === emb.count())
      assert(expected.exceptAll(actual).count() === 0 &&
        actual.exceptAll(expected).count() === 0)
      val queries = emb.filter(col("vec_id") < 20)
      val served = Similarity.ivfPqTopKIndexed(spark, t, emb,
        queries, "vec_id", "embedding", 3, dim = 64, nProbe = 4, m = 16,
        refine = 4, family = HashFamily.Md5)
      assert(served.count() > 0)
      assert(served.filter(col("neighbor_id") % 2 === 1).count() > 0,
        "no appended-batch id ever served")
    } finally {
      Seq(t, s"${t}_centroids", s"${t}_codebooks")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }
}
