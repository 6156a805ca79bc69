package graft.ops

import graft.functions.VectorFunctions.unitNormalize
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}

/** The hash family of the text and vector sketches — MinHash + LSH
  * banding, SimHash, random-hyperplane LSH and the Bloom filter — and
  * of the ANN operators — IVF, PQ, the IVF-PQ index lifecycle and
  * k-means. Each sketch and operator has one body that takes its family
  * as a parameter, so the oracle-checked family runs the production
  * plan. [[HashFamily.XxHash64]] is the production family (8-byte
  * hashes and keys, raw float scores); [[HashFamily.Md5]] is the
  * verification family, the one hash Spark and DuckDB compute
  * bit-identically, with every score an engine could compute with
  * different float dust rounded first, so every stage of a sketch or
  * operator run under it is reproducible in a SQL oracle (q91, q97,
  * q98, q115, q177; q96, q99, q103, q120, q124, q131). The ANN members
  * ([[seedKey]], [[centroidId]], [[cellScore]], [[codeScore]],
  * [[cellMean]], [[unitVector]], [[cellInput]], [[codebookType]]) carry
  * the metric and training differences as well as the hash: Md5 rounds
  * cell scores, quantizes code scores and Lloyd means to ×10⁴ integers
  * and reads the vectors its oracles read (q96, q99, q120, q124). Every
  * per-family expression lives here and nowhere else. */
sealed trait HashFamily {
  /** The key a shingle carries into the MinHash permutations and the
    * Bloom probe's per-shingle aggregate. */
  def shingleKey(shingle: Column): Column
  /** MinHash permutation `p`'s value of a [[shingleKey]]. */
  def permutation(key: Column, p: Int): Column
  /** LSH band bucket of a slice of the MinHash signature. */
  def bandBucket(slice: Column): Column
  /** A token's 64-bit SimHash word, computed once per token. */
  def tokenWord(token: Column): Column
  /** SimHash vote bit `b` (0 or 1, a long) of a [[tokenWord]]. */
  def tokenBit(word: Column, b: Int): Column
  /** True where hyperplane `plane`'s component for dimension `i` is +1. */
  def hyperplanePositive(plane: Int, i: Column): Column
  /** A hyperplane projection as its sign is tested. */
  def projection(p: Column): Column
  /** Bloom bit position in `[0, mBits)` of a shingle under hash `s`. */
  def bloomBit(shingle: Column, s: Int, mBits: Long): Column

  /** The ANN seed order: IVF centroids and PQ codebook seeds are the
    * corpus rows smallest under `(seedKey(id), id)`. */
  def seedKey(id: Column): Column
  /** A seed's centroid id, from its [[seedKey]] and its row id. */
  def centroidId(key: Column, id: Column): Column
  /** A centroid's ascending sort key for a vector at cosine `sim` (−2
    * for a zero vector): the nearest cell is the smallest key, the probe
    * order sorts on it. */
  def cellScore(sim: Column): Column
  /** A PQ code distance or ADC lookup entry as it is compared and
    * summed. */
  def codeScore(x: Column): Column
  /** The aggregate a Lloyd round replaces a centroid coordinate with:
    * the mean of its cell's coordinates `x`. */
  def cellMean(x: Column): Column
  /** The unit vector IVF-PQ encodes and builds its lookup tables from. */
  def unitVector(v: Column): Column
  /** What IVF-PQ's cells are seeded from and score: the `unit` vector
    * its codes read, or the `raw` vector. A sample or a column. */
  def cellInput[A](unit: A, raw: => A): A
  /** The element type of trained PQ codebook vectors. */
  def codebookType: DataType
}

object HashFamily {

  case object XxHash64 extends HashFamily {
    // the shingle string is hashed ONCE; the permutations re-mix the
    // 8-byte key, far cheaper than hashing a ~20-char string numPerms×
    def shingleKey(shingle: Column): Column = xxhash64(shingle)
    def permutation(key: Column, p: Int): Column = xxhash64(key, lit(p))
    def bandBucket(slice: Column): Column = xxhash64(slice)
    def tokenWord(token: Column): Column = xxhash64(token)
    def tokenBit(word: Column, b: Int): Column = shiftright(word, b).bitwiseAND(lit(1L))
    def hyperplanePositive(plane: Int, i: Column): Column =
      shiftright(xxhash64(lit(plane), i), 13).bitwiseAND(lit(1L)) === 1L
    def projection(p: Column): Column = p
    def bloomBit(shingle: Column, s: Int, mBits: Long): Column =
      pmod(xxhash64(lit(s), shingle), lit(mBits))
    def seedKey(id: Column): Column = xxhash64(id)
    // the hash doubles as the id: 64-bit, collision-free in practice
    def centroidId(key: Column, id: Column): Column = key
    def cellScore(sim: Column): Column = negate(sim)
    def codeScore(x: Column): Column = x
    def cellMean(x: Column): Column = avg(x)
    // float, the type the native cosine_sim of the cell scoring takes
    def unitVector(v: Column): Column = unitNormalize(v).cast("array<float>")
    def cellInput[A](unit: A, raw: => A): A = unit
    def codebookType: DataType = FloatType
  }

  case object Md5 extends HashFamily {
    // the shingle string itself; minhashes are lowercase hex, which
    // both engines order identically
    def shingleKey(shingle: Column): Column = shingle
    def permutation(key: Column, p: Int): Column = md5(concat(lit(s"$p|"), key))
    def bandBucket(slice: Column): Column = md5(concat_ws("|", slice))
    // the first 16 hex digits of md5(token) as a big-endian word, read as
    // two 32-bit halves so neither conv overflows a long
    def tokenWord(token: Column): Column = {
      def half(from: Int): Column = conv(substring(md5(token), from, 8), 16, 10).cast("long")
      shiftleft(half(1), 32).bitwiseOR(half(9))
    }
    // bit 3 − b%4 of hex nibble b/4 is bit 63 − b of the word
    def tokenBit(word: Column, b: Int): Column = shiftright(word, 63 - b).bitwiseAND(lit(1L))
    // parity of the first hex nibble of md5("plane|i")
    def hyperplanePositive(plane: Int, i: Column): Column =
      conv(substring(md5(concat(lit(s"$plane|"), i.cast("string"))), 1, 1), 16, 10)
        .cast("int").bitwiseAND(lit(1)) === 1
    // rounded before the sign test, so summation-order float dust below
    // 5e-5 cannot flip a bit between engines
    def projection(p: Column): Column = round(p, 4)
    // the first 32 bits of md5("s|shingle")
    def bloomBit(shingle: Column, s: Int, mBits: Long): Column =
      conv(substring(md5(concat(lit(s"$s|"), shingle)), 1, 8), 16, 10).cast("long") % mBits
    def seedKey(id: Column): Column = md5(id.cast("string"))
    def centroidId(key: Column, id: Column): Column = id.cast("long")
    // rounded for the same reason as projection; zcollapse AFTER negate:
    // a +0.0-rounded cosine would otherwise negate to -0.0 and sort apart
    // from a -0.0-cosine's +0.0 inside a struct ordering (expression eval
    // sees raw IEEE doubles — row-write normalization hasn't happened yet)
    def cellScore(sim: Column): Column = graft.functions.Num.zcollapse(negate(round(sim, 4)))
    // ×10⁴ integers: their sums are exact and order-independent
    def codeScore(x: Column): Column = round(x * 10000).cast("long")
    // the ×10⁴ integer sum is exact; the mean is one double division
    def cellMean(x: Column): Column =
      sum(round(x.cast("double") * 10000).cast("long")) / (lit(10000.0) * count(lit(1)))
    def unitVector(v: Column): Column = unitNormalize(v)
    def cellInput[A](unit: A, raw: => A): A = raw
    def codebookType: DataType = DoubleType
  }
}
