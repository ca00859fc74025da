package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{Expression, If, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.PearsonCorrelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DoubleType

/** Pearson correlation as pandas `DataFrame.corr` reports it: NaN when
  * either side is constant over the pairwise-complete rows. Spark's
  * `corr` divides by that zero variance instead, which under ANSI (on by
  * default in Spark 4) throws `DIVIDE_BY_ZERO` and fails the whole
  * aggregate. Every other value is `corr`'s own, bit for bit: the same
  * buffer, the same update and merge, the same final division, which
  * the guard only skips. */
case class PandasCorr(
    x: Expression,
    y: Expression,
    nullOnDivideByZero: Boolean = !SQLConf.get.legacyStatisticalAggregate)
    extends PearsonCorrelation(x, y, nullOnDivideByZero) {

  override val evaluateExpression: Expression =
    If(n === 0.0, Literal.create(null, DoubleType),
      If(n === 1.0, divideByZeroEvalResult,
        If(xMk === 0.0 || yMk === 0.0, Literal(Double.NaN),
          ck / sqrt(xMk * yMk))))

  override def prettyName: String = "corr"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PandasCorr =
    copy(x = newLeft, y = newRight)
}

object PandasCorr {
  /** Aggregate Column: pandas-style corr(a, b). */
  def corr(a: Column, b: Column): Column =
    GraftBridge.column(
      PandasCorr(GraftBridge.expression(a), GraftBridge.expression(b))
        .toAggregateExpression())
}
