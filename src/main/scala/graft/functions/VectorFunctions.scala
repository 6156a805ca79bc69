package graft.functions

import graft.ops.HashFamily
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns (north star:
  * similarity search / embedding near-dup). Built from zip_with/aggregate
  * higher-order expressions — no UDFs, fully distributed, null-safe only
  * as far as the inputs are (embeddings are non-null in the test tables).
  *
  * Scale note: every kernel binds its row-wide inputs once, under the
  * rule stated on [[graft.functions.let]], so dot/norm/cosine/l2,
  * [[unitNormalize]] and [[quantizeInt8]] are O(dim) per row and the
  * hyperplane / JL projections O(bits·dim). The expensive part of kNN is
  * the pair enumeration, which the callers in [[graft.ops.Similarity]]
  * control (brute-force vs LSH/IVF).
  */
object VectorFunctions {

  /** Dot product of two equal-length numeric arrays → double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null for zero vectors (ANSI-safe: a plain
    * division would throw DIVIDE_BY_ZERO under Spark 4's default ANSI
    * mode). */
  def cosine(a: Column, b: Column): Column = {
    val denom = norm(a) * norm(b)
    when(denom =!= 0.0, dot(a, b) / denom)
  }

  /** Unit-normalize to a double array; zero vectors pass through as-is
    * (ANSI-safe: unguarded division would throw DIVIDE_BY_ZERO). */
  def unitNormalize(a: Column): Column =
    // the sum of squares folds left from 0.0 in element order, as
    // norm's zip_with + aggregate does, so the result is bit-identical
    aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"),
      ss => {
        val n = sqrt(ss)
        when(n === 0.0, transform(a, x => x.cast("double")))
          .otherwise(transform(a, x => x.cast("double") / n))
      })

  /** Symmetric int8 quantization: scale by 127/max|x| and round (ties
    * away from zero — Spark round and DuckDB round agree), the standard
    * embedding-compression step before ANN index build. Zero vectors
    * quantize to zeros. A vector with a NaN or infinite component has no
    * int8 code and is rejected as null, so one malformed embedding
    * cannot abort the query. Output is array<long> so the values survive
    * any engine's integer width unchanged. */
  def quantizeInt8(a: Column): Column =
    // max|x| as a null-started greatest fold: greatest skips nulls and
    // orders NaN above every number, exactly as array_max does, so the
    // max is NaN or infinite exactly when a component is
    aggregate(a, lit(null).cast("double"),
      (acc, x) => greatest(acc, abs(x.cast("double"))),
      mx => when(isnan(mx) || mx === Double.PositiveInfinity, lit(null))
        .when(mx === 0.0, transform(a, _ => lit(0L)))
        .otherwise(transform(a, x => round(x.cast("double") * 127.0 / mx).cast("long"))))

  /** L2 distance. */
  def l2(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, x) => acc + x))

  /** Raw hyperplane projections for `nBits` random hyperplanes, as an
    * array<double>. Hyperplane h's component for dimension i is a
    * pseudo-random ±1 drawn by `family` for plane 131·seed + h
    * ([[HashFamily.hyperplanePositive]]) — reproducible across runs with
    * no stored model; distinct `seed`s give independent hyperplane sets
    * (131 > max nBits, so (seed, h) ranges never collide). Each sum is
    * finished by [[HashFamily.projection]] (the md5 family rounds it to
    * 4dp). The magnitudes drive multi-probe bucket selection
    * ([[lshProbes]]): the smaller |projection(h)| is, the likelier bit h
    * is on the wrong side of its hyperplane. */
  def lshProjections(vec: Column, nBits: Int, seed: Int = 0,
                     family: HashFamily = HashFamily.XxHash64): Column =
    array((0 until nBits).map(h => hyperplaneProjection(vec, 131 * seed + h, family)): _*)

  private def hyperplaneProjection(vec: Column, plane: Int, family: HashFamily): Column =
    family.projection(aggregate(
      zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => x.cast("double") *
          when(family.hyperplanePositive(plane, i), 1.0).otherwise(-1.0)),
      lit(0.0), (acc, x) => acc + x))

  /** Johnson–Lindenstrauss sign-matrix projection to `k` dimensions
    * (Achlioptas 2003: ±1 entries preserve pairwise distances like
    * Gaussian ones, within (1±ε) for k = O(ln n / ε²)) — the cheap
    * dimensionality reduction an embedding pipeline runs before
    * storing/indexing when 64 dims of float cost more than the recall
    * they buy. Deterministic with NO stored model: sign(j, i) is the
    * high bit of md5("j|i") (portable to any engine, the q121/q137
    * public-hash discipline), and each component is an exact INTEGER
    * sum of ×10⁴-quantized inputs (order-free) with one final
    * /10⁴/√k float chain — so the projection is bit-identical
    * cross-engine. Scale: a pure per-row projection — no shuffle, no
    * broadcast, nothing scales with corpus size. */
  def jlProject(vec: Column, k: Int): Column = {
    val scale = math.sqrt(k.toDouble)
    transform(jlProjectQ(vec, k), q => q.cast("double") / 10000.0 / scale)
  }

  /** [[jlProject]]'s exact INTEGER form: component j is the ×10⁴-
    * quantized signed sum itself, in units of 10⁻⁴·√k — no float
    * division, no rounding, so the value is the same BIGINT in any
    * engine (a 4dp re-round of the float form sits exactly on .5
    * boundaries whenever the sum isn't divisible by √k·10⁴ — this form
    * is what a hash-verifying oracle should compare). Linear maps
    * preserve distance ratios under any fixed scale, so ANN/dedup
    * consumers can use the integer form directly. */
  def jlProjectQ(vec: Column, k: Int): Column = {
    require(k > 0, s"k must be positive: $k")
    array((0 until k).map { j =>
      aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => round(x.cast("double") * 10000).cast("long") *
            when(substring(md5(concat(lit(s"$j|"), i.cast("string"))), 1, 1) >= "8",
              1L).otherwise(-1L)),
        lit(0L), (acc, x) => acc + x)
    }: _*)
  }

  /** Deterministic LSH bucket id from `nBits` random-hyperplane signs
    * (sign-agreement probability approximates cosine; prunes the kNN
    * candidate space from O(N²) to O(N·bucket)). Bit h is set iff
    * projection h is positive (a null projection sets no bit). The id is
    * a non-nullable OR of CASE bits, so a join on it infers no
    * `isnotnull` filter — Catalyst would push such a filter below the
    * projection and compute every hyperplane projection twice per row. */
  def lshBucket(vec: Column, nBits: Int, seed: Int = 0,
                family: HashFamily = HashFamily.XxHash64): Column =
    (0 until nBits).map { h =>
      when(hyperplaneProjection(vec, 131 * seed + h, family) > 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Multi-probe LSH (Lv et al., VLDB'07 shape): the home bucket plus the
    * `nProbe - 1` next-likeliest buckets. A bucket's likelihood is scored
    * by the total |projection| of the bits flipped to reach it — the
    * smaller a projection's magnitude, the closer the vector sits to that
    * hyperplane and the likelier the bit is a sign error. The probing
    * sequence enumerates single-bit flips plus two-bit flips over the 8
    * closest hyperplanes (1 + nBits + C(min(nBits,8),2) candidates),
    * ordered by score. Returns an array of `nProbe` distinct bucket ids;
    * callers explode it on the (small) query side only, so the corpus is
    * still bucketed once and never re-hashed. */
  def lshProbes(vec: Column, nBits: Int, nProbe: Int, seed: Int = 0,
                family: HashFamily = HashFamily.XxHash64): Column = {
    val m = math.min(nBits, 8)
    val maxProbes = 1 + nBits + m * (m - 1) / 2
    require(nProbe >= 1 && nProbe <= maxProbes,
      s"nProbe must be in [1, $maxProbes] for nBits=$nBits")
    // the sorted (|proj|, bit, sign) table and the home bucket are each
    // bound once per row ([[let]]): a named Column subtree is inlined at
    // every reference, which made the tree ~nBits·m² copies of the
    // projection sort — slow to analyze, optimize, and evaluate
    val sortedTable = array_sort(zip_with(lshProjections(vec, nBits, seed, family),
      sequence(lit(0), lit(nBits - 1)),
      (p, h) => struct(abs(p).as("a"), h.as("h"), (p > 0).as("pos"))))
    let(sortedTable) { bc =>
      def scoreAt(i: Column): Column = element_at(bc, i + 1).getField("a")
      def maskAt(i: Column): Column =
        call_function("shiftleft", lit(1L), element_at(bc, i + 1).getField("h"))
      val bucket = aggregate(bc, lit(0L), (acc, s) =>
        acc + when(s.getField("pos"),
          call_function("shiftleft", lit(1L), s.getField("h"))).otherwise(lit(0L)))
      val singles = transform(sequence(lit(0), lit(nBits - 1)),
        i => struct(scoreAt(i).as("a"), maskAt(i).as("m")))
      val perturbs =
        if (m < 2) singles
        else {
          val idx = sequence(lit(0), lit(m - 1))
          val pairs = filter(flatten(transform(idx, i => transform(idx, j =>
            when(i < j, struct((scoreAt(i) + scoreAt(j)).as("a"),
              maskAt(i).bitwiseOR(maskAt(j)).as("m"))).otherwise(lit(null))))),
            x => x.isNotNull)
          concat(singles, pairs)
        }
      let(bucket)(b => concat(array(b),
        transform(slice(array_sort(perturbs), 1, nProbe - 1),
          s => b.bitwiseXOR(s.getField("m")))))
    }
  }
}
