package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.RowTopKAggregate

/** Optimizer rule: rewrite the per-group top-k idiom
  *
  * {{{
  *   SELECT ... , row_number() OVER (PARTITION BY p ORDER BY o) AS rnk
  *   ... WHERE rnk <= k
  * }}}
  *
  * into an aggregation on [[RowTopKAggregate]] + posexplode. The window form
  * sorts every partition of every group; the rewritten plan keeps an O(k)
  * heap per group with map-side partial aggregation and a k-bounded shuffle —
  * the difference between "sort 100 TB" and "stream 100 TB through a heap".
  *
  * Fires only on the exact safe pattern: a Filter directly above a Window
  * whose only window expression is `row_number()` with a non-empty ORDER BY,
  * and whose condition constrains only the rank attribute (`<= k`, `< k`,
  * `= 1`). Everything else is left to Spark.
  *
  * Two install points: [[graft.Tables]] appends it to the session's
  * `spark.experimental.extraOptimizations` on first table access, and
  * [[graft.GraftSparkExtensions]] injects it with `injectOptimizerRule` into
  * every session built with `spark.sql.extensions=graft.GraftSparkExtensions`.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(
          cond,
          w @ Window(
            Seq(alias @ Alias(WindowExpression(_: RowNumber, spec), _)),
            partitionSpec,
            orderSpec,
            child,
            _
          )
        )
        if orderSpec.nonEmpty &&
          spec.orderSpec == orderSpec &&
          child.output.nonEmpty =>
      extractLimit(cond, alias.toAttribute) match {
        case Some(k) => rewrite(alias, partitionSpec, orderSpec, child, k, f)
        case None    => f
      }
  }

  /** cond must constrain exactly the rank attribute: rnk <= k | rnk < k+1 |
    * rnk = 1. */
  private def extractLimit(cond: Expression, rnk: Attribute): Option[Int] =
    cond match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))
          if a.semanticEquals(rnk) && k >= 1 =>
        Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k))
          if a.semanticEquals(rnk) && k >= 2 =>
        Some(k - 1)
      case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rnk) =>
        Some(1)
      case _ => None
    }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case Literal(v: Long, LongType) if v <= Int.MaxValue => Some(v.toInt)
      case _ => None
    }
  }

  private def rewrite(
      rnkAlias: Alias,
      partitionSpec: Seq[Expression],
      orderSpec: Seq[SortOrder],
      child: LogicalPlan,
      k: Int,
      original: Filter
  ): LogicalPlan = {
    val sortKeys = orderSpec.map(_.child)
    // input struct: (sortKey_1..n, child.output...)
    val structFields: Seq[Expression] =
      sortKeys.zipWithIndex.flatMap { case (e, i) =>
        Seq(Literal(s"_k$i"), e)
      } ++ child.output.flatMap(a => Seq(Literal(a.name), a))
    val inputStruct = CreateNamedStruct(structFields.toList)

    val aggFn = RowTopKAggregate(
      inputStruct,
      k,
      numSortFields = sortKeys.length,
      directions = orderSpec.map(RowTopKAggregate.directionOf),
      nullOrderings = orderSpec.map(RowTopKAggregate.nullsFirstOf)
    )
    val topkAlias = Alias(aggFn.toAggregateExpression(), "_graft_topk")()
    val groupingNamed: Seq[NamedExpression] = partitionSpec.zipWithIndex.map {
      case (ne: NamedExpression, _) => ne
      case (e, i)                   => Alias(e, s"_g$i")()
    }
    val agg = Aggregate(groupingNamed, Seq(topkAlias), child)

    // posexplode(_graft_topk) -> (pos, col)
    val posAttr = AttributeReference("_graft_pos", IntegerType, nullable = false)()
    val colAttr = AttributeReference(
      "_graft_col",
      inputStruct.dataType,
      nullable = false
    )()
    val gen = Generate(
      PosExplode(topkAlias.toAttribute),
      unrequiredChildIndex = Seq(0),
      outer = false,
      qualifier = None,
      generatorOutput = Seq(posAttr, colAttr),
      agg
    )

    // rebuild the original output attributes (same exprIds!)
    val nSort = sortKeys.length
    val rebuilt: Seq[NamedExpression] = child.output.zipWithIndex.map {
      case (a, i) =>
        Alias(
          GetStructField(colAttr, nSort + i, Some(a.name)),
          a.name
        )(exprId = a.exprId, qualifier = a.qualifier)
    } :+ Alias(
      Add(posAttr, Literal(1, IntegerType)),
      rnkAlias.name
    )(exprId = rnkAlias.exprId, qualifier = rnkAlias.qualifier)

    Project(rebuilt, gen)
  }
}
