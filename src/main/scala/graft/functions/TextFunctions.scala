package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the LLM-data-pipeline operators
  * (north star, SURVEY §7.1 step 7): tokenization, shingling, quality
  * scoring, language-ID heuristic, fingerprinting, simhash.
  *
  * All are compositions of built-in Catalyst expressions (split /
  * higher-order array functions / xxhash64) — no UDFs, so everything stays
  * in the optimized expression pipeline and distributes trivially.
  */
object TextFunctions {

  /** Whitespace tokenization of trimmed text → array<string>.
    * `split(trim(''), ...)` yields `[""]`, which would give empty
    * documents a phantom token (n_tokens=1, a shared simhash for all
    * empty docs) — filter it out so empty/whitespace-only text
    * tokenizes to []. Non-empty text never produces empty tokens, so
    * the DuckDB oracles (plain string_split_regex) still agree on the
    * test corpora. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), w => w =!= "")

  /** Token count (a whitespace proxy for BPE-ish token counting). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** `n`-word shingles: array of space-joined n-grams, distinct.
    * transform(sequence(...)) keeps this a single-pass array expression —
    * no explode/shuffle until the caller chooses one. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** [[shingles]] over a token array, bound once ([[let]]) so an
    * unmaterialized `tokens(text)` is tokenized once per row, not once
    * per n-gram. A pipeline that already materialized the token array
    * (quality gate, langId) feeds the dedup stages from it directly. */
  def shinglesFromTokens(ws: Column, n: Int): Column =
    array_distinct(shinglesWithMultiplicity(ws, n))

  /** [[shinglesFromTokens]] WITHOUT the distinct — multiplicity
    * preserved, for weighted (tf) consumers like
    * [[graft.ops.Dedup.sparseCosinePairs]] where a repeated shingle
    * must count twice. */
  def shinglesWithMultiplicity(ws: Column, n: Int): Column =
    let(ws)(ngrams(_, n))

  // size-n+1 n-grams (positions 1..size-n+1) of a BOUND token array;
  // the guard avoids Spark's descending sequence(0, -1) when the doc
  // has fewer than n tokens
  private def ngrams(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Stopword hits: number of tokens present in `stopwords`. */
  def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), w => w.isInCollection(stopwords)))

  /** Quality score components: doc length, token count, mean token length,
    * stopword ratio. Returned as a struct so one projection computes all.
    * Ratios are null for empty/whitespace-only docs (n_tokens = 0): the
    * bare division would throw DIVIDE_BY_ZERO under Spark 4's default
    * ANSI mode the moment a real corpus contains one empty row. */
  def qualityStruct(text: Column, stopwords: Seq[String]): Column =
    let(tokens(text)) { ts =>
      val n  = size(ts)
      struct(
        length(text).as("n_chars"),
        n.as("n_tokens"),
        Num.roundz(when(n > 0,
          aggregate(ts, lit(0L), (acc, w) => acc + length(w)).cast("double") / n), 4)
          .as("mean_token_len"),
        Num.roundz(when(n > 0,
          size(filter(ts, w => w.isInCollection(stopwords))).cast("double") / n), 4)
          .as("stopword_ratio")
      )
    }

  /** Word bigrams WITHOUT dedup (unlike [[shingles]]) — the duplicate
    * count is the whole signal for [[repetitionStruct]]. */
  def bigrams(ws: Column): Column = shinglesWithMultiplicity(ws, 2)

  /** Repetition signals (the repeated-n-gram family of corpus quality
    * filters): fraction of duplicate tokens and duplicate word-bigrams
    * within the document — high values flag boilerplate / degenerate
    * text. Pure per-row array expressions, no shuffle. Fractions are
    * null when the doc has no tokens (resp. no bigrams): the bare
    * division would throw under Spark 4's default ANSI mode. The token
    * and bigram arrays are each bound once per row ([[let]]). */
  def repetitionStruct(text: Column): Column =
    let(tokens(text))(ws => let(bigrams(ws))(repetitionStructFromArrays(ws, _)))

  /** [[repetitionStruct]] over token/bigram arrays that are already
    * columns or bound variables: each is read more than once, so a
    * caller passes bound values, not array expressions. */
  def repetitionStructFromArrays(ws: Column, bg: Column): Column = {
    val n  = size(ws)
    val nb = size(bg)
    struct(
      n.cast("long").as("n_tokens"),
      Num.roundz(when(n > 0,
        lit(1.0) - size(array_distinct(ws)).cast("double") / n), 4).as("dup_token_frac"),
      Num.roundz(when(nb > 0,
        lit(1.0) - size(array_distinct(bg)).cast("double") / nb), 4).as("dup_bigram_frac")
    )
  }

  /** Deterministic document fingerprint: md5 of a 50-char window sampled
    * every 100 chars — a cheap locality-preserving signature usable for
    * chunk-level exact dedup at scale. */
  def windowFingerprints(text: Column, nChars: Column): Column =
    transform(
      sequence(lit(0L),
        greatest(floor((nChars.cast("long") - lit(1L)) / lit(100L)).cast("long"), lit(0L))),
      i => md5(text.substr((i * 100 + 1).cast("int"), lit(50)))
    )

  /** PII scrubbing (the Dolma/FineWeb-style pass a training corpus runs
    * before release): detect and mask email addresses and international
    * phone numbers. Patterns deliberately use only regex constructs with
    * identical semantics in Java's engine and RE2 (explicit classes,
    * bounded repetition, no backreferences/lookaround) so the DuckDB
    * oracle runs the same expressions verbatim. Pure per-row projections:
    * zero shuffle at any scale. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern: String = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"

  def emailCount(text: Column): Column =
    regexp_count(text, lit(emailPattern)).cast("long")

  def phoneCount(text: Column): Column =
    regexp_count(text, lit(phonePattern)).cast("long")

  /** Mask emails first, then phones — the email local part can contain
    * digits but the patterns cannot overlap a single span, so the order
    * only matters for determinism of the masked text, not coverage. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  /** 64-bit SimHash over whitespace tokens using xxhash64 word hashes.
    * Bit b of the result is the sign of sum over tokens of ±1 according
    * to bit b of xxhash64(token). Pure array-expression implementation:
    * one aggregate over the token array per row, no shuffle.
    */
  def simhash(text: Column): Column = {
    val ts = tokens(text)
    // Bit positions are static, so the per-bit work unrolls Scala-side
    // into plain array literals — stays a single array-aggregate per row.
    val xx = graft.ops.HashFamily.XxHash64
    def bitVotes(w: Column): Column = array((0 until 64).map { b =>
      when(xx.tokenBit(xx.tokenWord(w), b) === 1L, lit(1L)).otherwise(lit(-1L))
    }: _*)
    val zeros = array(Seq.fill(64)(lit(0L)): _*)
    val votes = aggregate(ts, zeros,
      (acc, w) => zip_with(acc, bitVotes(w), (a, v) => a + v))
    val powers = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x)
    )
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Language-ID heuristic: stopword-hit counts per candidate language,
    * argmax wins; equal-hit ties resolve to the lexicographically LARGEST
    * language code (fr > es > en > de — the struct-compare order, matched
    * by the q25 oracle's CASE priority); zero hits → 'und'. N-gram-free
    * but same shape as fasttext-y heuristics; languages chosen by tiny
    * high-frequency function-word lists. */
  val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "una"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "une")
  )

  def langId(text: Column): Column = let(tokens(text))(langIdFromTokens)

  /** [[langId]] over a token array that is already a column or a bound
    * variable: each candidate language's scorer reads it once, so an
    * array expression passed here is recomputed per language. */
  def langIdFromTokens(ws: Column): Column = {
    // structural guard for the sentinel fold below: it is only correct
    // while every candidate code sorts lexically BELOW "und" — a future
    // "ur"/"vi"/"zh" entry would otherwise silently win zero-hit rows
    // instead of 'und'. Fail loudly at plan-build, not in the data.
    require(langStopwords.keys.forall(_ < "und"),
      s"langIdFromTokens' (0,'und') sentinel requires every language code " +
        s"to sort below \"und\"; offending: ${langStopwords.keys.filterNot(_ < "und").mkString(",")}")
    val scores = langStopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(ws, w => w.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    // ONE greatest, ONE getField: the former when(best.hits > 0,
    // best.lang) form referenced `best` twice, and because higher-order
    // filter() lambdas are interpreted (no codegen, no CSE) that
    // duplicated every per-language scorer — 2·|langs| array passes per
    // row on the corpus-gate hot path. A sentinel (hits=0, 'und') row
    // folded into the same greatest gives identical semantics in one
    // evaluation: it wins exactly when every scorer is 0 ('und' sorts
    // above all language codes at equal hits, and below any hits > 0),
    // and ties at hits > 0 still resolve to the lexically largest code
    // — the same order the DuckDB oracles' CASE ladders encode
    // (r11 optimization; TextFunctionsSpec pins the tie/zero cases).
    greatest(struct(lit(0).as("hits"), lit("und").as("lang")) +: scores: _*)
      .getField("lang")
  }
}
