package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{aggregate, array, lit}

package object functions {

  /** Bind a row-wide input once and hand it to `f` as a lambda variable.
    *
    * The binding rule every higher-order kernel here follows: a row-wide
    * input (a token array, a vector norm, a vector's subspace slice) is
    * bound OUTSIDE the lambda that iterates over it. Spark's higher-order
    * lambdas are interpreted, and Catalyst neither hoists nor CSEs a
    * lambda-invariant subexpression, so `transform(a, x => x / norm(a))`
    * recomputes `norm(a)` per element, O(n²) per row. Inside `f` the
    * bound value is a plain variable read.
    *
    * `aggregate(array(0), e, (acc, _) => acc, f)`: the zero `e` is
    * evaluated once, the one-element merge passes it through, and the
    * finish lambda `f` runs once per row. A null `e` reaches `f` as null.
    * `LambdaLintSpec` checks the optimized plans for the unbound form. */
  private[graft] def let(e: Column)(f: Column => Column): Column =
    aggregate(array(lit(0)), e, (acc, _) => acc, f)
}
