package graft.util

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{GenericRowWithSchema, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.types.{StructField, StructType}

/** Reads `Dataset.observe` metrics after an action. */
object Observed {

  /** `df`'s observed metric `name` after an action, or, when the run
    * reported none, its value over no rows: each count 0, each sum (and
    * any other aggregate) null. Adaptive execution's empty-relation
    * propagation can replace the subtree holding the `CollectMetrics`
    * node once a shuffle stage above it comes out empty, and then
    * `observedMetrics` has no entry for it. The no-rows value is the
    * true one only when no row reached the node: a filter between the
    * node and the empty stage (as in `graft.plans.BucketPairs`) can hide
    * real counts. Read it after an action on `df` itself: before one,
    * it reads the no-rows value too. Fails when `df`'s plan observes no
    * metric `name`. */
  def metric(df: DataFrame, name: String): Row =
    df.queryExecution.observedMetrics.getOrElse(name, overNoRows(df, name))

  private def overNoRows(df: DataFrame, name: String): Row = {
    val metrics = df.queryExecution.analyzed.collectFirst {
      case c: CollectMetrics if c.name == name => c.metrics
    }.getOrElse(throw new NoSuchElementException(
      s"no observed metric '$name' in the plan"))
    val values = metrics.map { m =>
      val v = m.transform { case a: AggregateExpression =>
        a.aggregateFunction.defaultResult.getOrElse(Literal(null, a.dataType))
      }.eval()
      CatalystTypeConverters.convertToScala(v, m.dataType)
    }
    new GenericRowWithSchema(values.toArray, StructType(metrics.map(m =>
      StructField(m.name, m.dataType, m.nullable))))
  }
}
