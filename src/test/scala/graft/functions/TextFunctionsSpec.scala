package graft.functions

import graft.SparkSpec
import graft.ops.Dedup
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("qualityStruct: empty/whitespace-only docs yield null ratios, no ANSI divide-by-zero") {
    val qs = TextFunctions.qualityStruct(col("text"), Seq("the"))
    val out = Seq("", "   ", "the fox").toDF("text")
      .select(qs.getField("n_tokens").as("n"),
        qs.getField("mean_token_len").as("mtl"),
        qs.getField("stopword_ratio").as("sr"))
      .collect().map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    assert(out(0) === ((0, None, None)))
    assert(out(1) === ((0, None, None)))
    assert(out(2) === ((2, Some(3.0), Some(0.5))))
  }

  test("tokens/tokenCount: whitespace splitting of trimmed text; empty text → 0 tokens") {
    val df = Seq("  a b   c ", "one", "", "   ").toDF("text")
      .select(TextFunctions.tokenCount(col("text")).as("n"))
    assert(df.as[Int].collect().toSeq === Seq(3, 1, 0, 0))
  }

  test("shingles: n-grams have size-n+1 entries, dedup'd, short docs empty") {
    val df = Seq("a b c d", "a b", "x x x x").toDF("text")
      .select(TextFunctions.shingles(col("text"), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq("x x x")) // distinct collapses repeats
  }

  test("stopwordHits and qualityStruct components") {
    val df = Seq("the cat of the hat").toDF("text")
    val hits = df.select(TextFunctions.stopwordHits(col("text"), Seq("the", "of")).as("h"))
    assert(hits.as[Int].head() === 3)
    val q = df.select(TextFunctions.qualityStruct(col("text"), Seq("the", "of")).as("q"))
      .select("q.n_tokens", "q.mean_token_len", "q.stopword_ratio")
      .as[(Int, Double, Double)].head()
    assert(q._1 === 5)
    assert(q._2 === 2.8) // (3+3+2+3+3)/5
    assert(q._3 === 0.6)
  }

  test("repetitionStruct: duplicate token/bigram fractions; null on empty/short docs") {
    val rep = TextFunctions.repetitionStruct(col("text"))
    val out = Seq("a a a b", "a b c", "one", "").toDF("text")
      .select(rep.getField("n_tokens").as("n"),
        rep.getField("dup_token_frac").as("dt"),
        rep.getField("dup_bigram_frac").as("db"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq
    // "a a a b": tokens 4 distinct 2 → 0.5; bigrams [a a, a a, a b] distinct 2/3 → 0.3333
    assert(out(0) === ((4L, Some(0.5), Some(0.3333))))
    assert(out(1) === ((3L, Some(0.0), Some(0.0))))
    assert(out(2) === ((1L, Some(0.0), None))) // one token: no bigrams
    assert(out(3) === ((0L, None, None)))      // empty: no divisions at all
  }

  test("repetitionStructFromArrays over hoisted columns equals repetitionStruct") {
    val docs = Seq("a a a b", "a b c", "one", "", "x y x y x").toDF("text")
    val conv = docs.select(TextFunctions.repetitionStruct(col("text")).as("r"))
    val hoisted = docs
      .withColumn("__w", TextFunctions.tokens(col("text")))
      .withColumn("__bg", TextFunctions.bigrams(col("__w")))
      .select(TextFunctions.repetitionStructFromArrays(col("__w"), col("__bg")).as("r"))
    assert(conv.exceptAll(hoisted).count() === 0 && hoisted.exceptAll(conv).count() === 0)
  }

  test("simhash: per-row expression equals distributed explode/groupBy variant") {
    val docs = Seq((0L, "spark shuffles data across the cluster"),
      (1L, "spark shuffles data across the network"),
      (2L, "completely different words entirely here")).toDF("doc_id", "text")
    val perRow = docs.select(col("doc_id").as("doc"),
      TextFunctions.simhash(col("text")).as("sim"))
    val dist = Dedup.simhashSignatures("doc_id", "text")(docs)
    assert(perRow.exceptAll(dist).count() === 0 && dist.exceptAll(perRow).count() === 0)
  }

  test("simhash: near-identical docs are close in Hamming distance, unrelated far") {
    val docs = Seq((0L, "spark shuffles data across the cluster every stage"),
      (1L, "spark shuffles data across the cluster every night"),
      (2L, "quantum turnips sing opera under crimson moonlight")).toDF("doc_id", "text")
    val sims = Dedup.simhashSignatures("doc_id", "text")(docs)
      .orderBy("doc").as[(Long, Long)].collect().map(_._2)
    val near = java.lang.Long.bitCount(sims(0) ^ sims(1))
    val far = java.lang.Long.bitCount(sims(0) ^ sims(2))
    assert(near < far, s"near=$near far=$far")
  }

  test("langId: picks the language with most stopword hits, 'und' when none") {
    val df = Seq("the cat is that of a hat and", "der hund ist nicht ein und",
      "zzz qqq www").toDF("text")
      .select(TextFunctions.langId(col("text")).as("l"))
    assert(df.as[String].collect().toSeq === Seq("en", "de", "und"))
  }

  test("langId single-greatest form: zero-hit -> 'und'; ties resolve to the lexically largest code") {
    // r11 folded the (0,'und') sentinel into one greatest — these pin
    // the semantics the old two-reference form had: all-zero rows are
    // 'und' (never a language at 0 hits), and an equal-hit tie keeps
    // the old greatest-struct order (lexically larger code wins: the
    // oracles' CASE ladders check fr, then es, then en, else de)
    val df = Seq(
      "",                         // empty -> und
      "la de",                    // es-words also fr-words: es{la,de}=2, fr{la,les?}: la=1 -> es
      "the der",                  // en 1 hit vs de 1 hit -> tie -> 'en' > 'de'
      "est is"                    // fr 1 (est) vs en 1 (is) -> 'fr' > 'en'
    ).toDF("text").select(TextFunctions.langId(col("text")).as("l"))
    val got = df.as[String].collect().toSeq
    assert(got(0) === "und")
    assert(got(2) === "en")
    assert(got(3) === "fr")
    // and the computed winner for mixed counts matches a hand count
    assert(got(1) === "es")
  }

  test("windowFingerprints: one md5 per 100-char window") {
    val text = "x" * 250
    val df = Seq((text, 250L)).toDF("text", "n_chars")
      .select(TextFunctions.windowFingerprints(col("text"), col("n_chars")).as("fp"))
    val fps = df.as[Seq[String]].head()
    assert(fps.size === 3)
    assert(fps.forall(_.length === 32))
    assert(fps(0) === fps(1)) // identical windows hash identically
  }

  test("PII scrub: emails and phones counted and masked, clean text untouched") {
    val rows = Seq(
      "reach me at jane.doe+spam@mail.example.org or +1-555-0199 today",
      "two mails a@b.io c.d@e.co.uk and +44-201-5550",
      "no pii here, just words and 123 numbers",
      "")
    val out = rows.toDF("text").select(
      TextFunctions.emailCount(col("text")).as("e"),
      TextFunctions.phoneCount(col("text")).as("p"),
      TextFunctions.redactPii(col("text")).as("clean"))
      .as[(Long, Long, String)].collect()
    assert(out(0) === ((1L, 1L, "reach me at <EMAIL> or <PHONE> today")))
    assert(out(1) === ((2L, 1L, "two mails <EMAIL> <EMAIL> and <PHONE>")))
    // no-PII text comes back byte-identical (the redactor is a no-op)
    assert(out(2) === ((0L, 0L, rows(2))))
    assert(out(3) === ((0L, 0L, "")))
  }

  // the forms the bound kernels replaced (tokens / bigrams re-derived
  // inside each lambda), kept as the reference they must equal
  private object Ref {
    import org.apache.spark.sql.Column
    private def ngrams(ws: Column, n: Int) =
      transform(sequence(lit(0), size(ws) - n), i => array_join(slice(ws, i + 1, lit(n)), " "))
    def shinglesFromTokens(ws: Column, n: Int): Column =
      when(size(ws) >= n, array_distinct(ngrams(ws, n)))
        .otherwise(array().cast("array<string>"))
    def shinglesWithMultiplicity(ws: Column, n: Int): Column =
      when(size(ws) >= n, ngrams(ws, n)).otherwise(array().cast("array<string>"))
    def bigrams(ws: Column): Column =
      when(size(ws) >= 2, ngrams(ws, 2)).otherwise(array().cast("array<string>"))
    def qualityStruct(text: Column, stopwords: Seq[String]): Column = {
      val ts = TextFunctions.tokens(text)
      val n = size(ts)
      struct(
        length(text).as("n_chars"),
        n.as("n_tokens"),
        Num.roundz(when(n > 0,
          aggregate(ts, lit(0L), (acc, w) => acc + length(w)).cast("double") / n), 4)
          .as("mean_token_len"),
        Num.roundz(when(n > 0,
          size(filter(ts, w => w.isInCollection(stopwords))).cast("double") / n), 4)
          .as("stopword_ratio"))
    }
    def repetitionStruct(text: Column): Column = {
      val ws = TextFunctions.tokens(text)
      TextFunctions.repetitionStructFromArrays(ws, bigrams(ws))
    }
    def langId(text: Column): Column = TextFunctions.langIdFromTokens(TextFunctions.tokens(text))
  }

  test("bound n-gram, quality, repetition and langId kernels equal their unbound forms (short, empty, null docs)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val texts = Seq[String](null, "", "   ", "a", "a b", "a  b\tc", " a b c d a b ",
      "the cat the cat the", "der die das und ist", "el la de que y la", "x x x x x",
      "le la les des et", "é ü ß ñ 日本 語", "a b c d e f g h i j k l")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Option(t).map(_.split(" ").toSeq.map(w => if (w == "b") null else w)).orNull)
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("id", LongType), StructField("text", StringType),
      StructField("ws", ArrayType(StringType, true)))))
    val text = col("text")
    val sw = Seq("the", "a", "of")
    // each token source: the unmaterialized tokens(text), and a plain
    // array column holding null and empty elements
    val pairs = Seq(TextFunctions.tokens(text), col("ws")).flatMap { ws =>
      (1 to 5).flatMap(n => Seq(
        TextFunctions.shinglesFromTokens(ws, n) -> Ref.shinglesFromTokens(ws, n),
        TextFunctions.shinglesWithMultiplicity(ws, n) -> Ref.shinglesWithMultiplicity(ws, n))) :+
        (TextFunctions.bigrams(ws) -> Ref.bigrams(ws))
    } ++ Seq(
      TextFunctions.shingles(text, 3) -> Ref.shinglesFromTokens(TextFunctions.tokens(text), 3),
      TextFunctions.qualityStruct(text, sw) -> Ref.qualityStruct(text, sw),
      TextFunctions.repetitionStruct(text) -> Ref.repetitionStruct(text),
      TextFunctions.langId(text) -> Ref.langId(text))
    pairs.zipWithIndex.foreach { case ((got, want), k) =>
      val diff = df.filter(!(got <=> want) ||
        !(got.cast("string") <=> want.cast("string")))
      assert(diff.isEmpty, s"pair $k: " + diff.select(col("id"), got, want).collect().mkString("; "))
    }
  }
}
