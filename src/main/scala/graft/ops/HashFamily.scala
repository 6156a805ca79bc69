package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The hash family of the text and vector sketches — MinHash + LSH
  * banding, SimHash, random-hyperplane LSH and the Bloom filter. Each
  * sketch has one body that takes its family as a parameter, so the
  * oracle-checked family runs the production plan. [[HashFamily.XxHash64]]
  * is the production family (8-byte hashes and keys);
  * [[HashFamily.Md5]] is the verification family, the one hash Spark
  * and DuckDB compute bit-identically, so every stage of a sketch run
  * under it is reproducible in a SQL oracle (q91, q97, q98, q115, q177).
  * Every per-family expression lives here and nowhere else. */
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
  }
}
