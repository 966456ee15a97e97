package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.Join

/** The two Spark internals the benchmark's traced run needs, reached from
  * inside Spark's package because both are `private[spark]`/`private[sql]`. */
object SparkInternals extends PredicateHelper {

  /** Block until every listener has handled every event posted so far, so
    * task and query counters read after a pass belong to that pass. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Candidate pairs of a filter-and-refine join: the rows the first join
    * in `df`'s optimized plan that carries a non-equi predicate (the exact
    * geometry test Catalyst pushed into the join condition) produces on its
    * equi-keys alone. Falls back to the first join when none carries one;
    * -1 when the plan has no join. */
  def equiJoinRows(df: DataFrame): Long = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val joins = ds.queryExecution.optimizedPlan.collect { case j: Join => j }
    def equi(e: Expression, j: Join): Boolean = {
      def sides(a: Expression, b: Expression): Boolean =
        a.references.nonEmpty && b.references.nonEmpty &&
          ((a.references.subsetOf(j.left.outputSet) &&
            b.references.subsetOf(j.right.outputSet)) ||
           (a.references.subsetOf(j.right.outputSet) &&
            b.references.subsetOf(j.left.outputSet)))
      e match {
        case EqualTo(a, b) => sides(a, b)
        case EqualNullSafe(a, b) => sides(a, b)
        case _ => false
      }
    }
    def conjuncts(j: Join): Seq[Expression] =
      j.condition.toSeq.flatMap(splitConjunctivePredicates)
    joins.find(j => conjuncts(j).exists(!equi(_, j)))
      .orElse(joins.headOption) match {
      case None => -1L
      case Some(j) =>
        val keys = conjuncts(j).filter(equi(_, j)).reduceOption(And)
        classic.Dataset.ofRows(ds.sparkSession, j.copy(condition = keys)).count()
    }
  }
}
