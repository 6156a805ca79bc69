package graft.queries

import graft.{SparkEntry, SparkSpec, Tables}
import graft.ops.{CorpusPipeline, Dedup, Similarity, Staged}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayMax, ArrayMin,
  ExprId, Expression, HigherOrderFunction, LambdaFunction, NamedLambdaVariable, RLike,
  RegExpExtractBase, RegExpReplace, Slice, StringSplit}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Plan lint for the binding rule of `graft.functions.let`: no lambda
  * that runs once per array element may hold a lambda-invariant
  * subexpression that iterates or allocates a row-wide array or string
  * (a nested higher-order function, a split or regex, array_max /
  * array_min, a slice). Spark evaluates lambdas interpreted and never
  * hoists such a subexpression, so it runs once per element.
  *
  * The lint reads OPTIMIZED plans, so an alias that `CollapseProject`
  * inlines into a lambda is caught as well. Staged subtrees are kept in
  * the plan (every test runs in `Staged.lazyStaging`, the persist form
  * of `stageCut`), and the plans of the jobs a build runs eagerly
  * (samples, checkpoints) are captured and linted too. */
class LambdaLintSpec extends SparkSpec {

  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    Staged.lazyStaging(super.withFixture(test))

  private val sf = "/root/testdata/sf0.001"

  private def heavy(e: Expression): Boolean = e match {
    case _: HigherOrderFunction | _: StringSplit | _: RLike | _: RegExpReplace |
         _: RegExpExtractBase | _: ArrayMax | _: ArrayMin | _: Slice => true
    case _ => false
  }

  /** Heavy subexpressions of per-element lambdas that read none of the
    * variables that vary inside the lambda: its own, and those of the
    * lambdas nested between it and the subexpression. An aggregate's
    * finish lambda runs once per row, so it is exempt. */
  private def violations(e: Expression): Seq[Expression] =
    e.collect { case h: HigherOrderFunction => h }.flatMap { h =>
      val perElement = h match {
        case a: ArrayAggregate => Seq(a.merge)
        case other => other.functions
      }
      perElement.collect { case l: LambdaFunction => l }.flatMap { l =>
        def vars(f: LambdaFunction) = f.arguments.map(_.exprId).toSet
        def walk(x: Expression, varying: Set[ExprId]): Seq[Expression] = x match {
          case _ if heavy(x) && !x.exists {
              case v: NamedLambdaVariable => varying(v.exprId)
              case _ => false
            } => Seq(x)
          case f: LambdaFunction => walk(f.function, varying ++ vars(f))
          case _ => x.children.flatMap(walk(_, varying))
        }
        walk(l.function, vars(l))
      }
    }

  /** Every expression of `plan`, its children, inner plans (cached
    * relations) and subqueries. */
  private def planViolations(plan: QueryPlan[_]): Seq[String] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    def go(p: QueryPlan[_]): Seq[String] =
      if (!seen.add(p)) Nil
      else p.expressions.flatMap(violations).map(v => s"${p.nodeName}: ${v.sql}") ++
        (p.children ++ p.innerChildren ++ p.subqueries).flatMap {
          case q: QueryPlan[_] => go(q)
          case _ => Nil
        }
    go(plan)
  }

  /** Builds every frame in `builds` and lints its optimized plan, plus
    * the plan of every query that ran while the frames were built. */
  private def lint(builds: Seq[(String, () => DataFrame)]): Seq[String] = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        ran.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        ran.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val built = builds.flatMap { case (name, build) =>
        Staged.withStaged(planViolations(build().queryExecution.optimizedPlan))
          .distinct.map(v => s"$name: $v")
      }
      // listener events arrive in order: once the sentinel's is seen,
      // every query the builds ran has been seen too
      val sentinel = spark.range(1).toDF()
      sentinel.collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!ran.asScala.exists(_ eq sentinel.queryExecution) &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(ran.asScala.exists(_ eq sentinel.queryExecution))
      built ++ ran.asScala.toSeq.flatMap(qe => planViolations(qe.optimizedPlan))
        .distinct.map(v => s"(run during a build) $v")
    } finally spark.listenerManager.unregister(listener)
  }

  // the analyzed plan: the self-test checks the rule, not the optimizer
  private def exprViolations(c: Column): Seq[Expression] =
    violations(spark.range(1).select(array(col("id").cast("float")).as("v"),
        col("id").cast("string").as("t"))
      .select(c).queryExecution.analyzed.expressions.head)

  test("the lint flags a row-wide input left inside a per-element lambda") {
    val v = col("v")
    val n = sqrt(aggregate(zip_with(v, v, (x, y) => x * y), lit(0.0), _ + _))
    assert(exprViolations(transform(v, x => x / n)).nonEmpty)
    assert(exprViolations(transform(v, x => x / array_max(v))).nonEmpty)
    val ws = graft.functions.TextFunctions.tokens(col("t"))
    assert(exprViolations(transform(sequence(lit(0), size(ws) - 2),
      i => array_join(slice(ws, i + 1, lit(2)), " "))).nonEmpty)
    assert(exprViolations(transform(v, x => size(slice(v, 1, 1)) + x)).nonEmpty)
    // ... and passes the bound forms
    import graft.functions.VectorFunctions._
    import graft.functions.TextFunctions._
    assert(exprViolations(unitNormalize(v)).isEmpty)
    assert(exprViolations(quantizeInt8(v)).isEmpty)
    assert(exprViolations(shingles(col("t"), 2)).isEmpty)
    assert(exprViolations(repetitionStruct(col("t"))).isEmpty)
    assert(exprViolations(langId(col("t"))).isEmpty)
  }

  test("no declared query evaluates a row-wide input per array element") {
    val found = lint(SparkEntry.allQueries.map(q => q.name -> (() => q.run(spark, sf))))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("ivfPqTopK and CorpusPipeline.run (the corpus_release composition) are lint-clean") {
    val emb = Tables.embeddings(spark, sf)
    val docs = Tables.documents(spark, sf)
    val found = lint(Seq(
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", 10, dim = 64, nCentroids = 16, nProbe = 8, m = 16,
        refine = 8)),
      "CorpusPipeline.run" -> (() => CorpusPipeline.run(docs,
        _.transform(Dedup.ngramJaccardPairs("doc_id", "norm_text", 3, 0.03,
          tokensCol = Some("__w")))))))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
