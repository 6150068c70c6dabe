package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A double query value bound into generated code by reference.
  *
  * Spark inlines a literal into the generated Java source (`1.17D`), so a
  * filter on a fresh value is a fresh source text: a Janino compile plus a
  * run of the new class before the JIT has seen it. This leaf hands the
  * value to the generated class through `ctx.addReferenceObj` instead, so
  * every value shares one source text and one compiled class.
  *
  * Deterministic but not foldable: `ConstantFolding` cannot turn it back
  * into a literal. It only supplies a value; the comparison around it is
  * Spark's own (`>=`, `<=`, ...), so Spark's double ordering holds
  * (NaN = NaN, -0.0 = 0.0). The price is that a predicate on it does not
  * translate into a parquet pushed filter.
  */
case class QueryParam(value: Double) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_param"

  override def eval(input: InternalRow): Any = value

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.addReferenceObj("param", java.lang.Double.valueOf(value), "java.lang.Double")
    ev.copy(code = code"final double ${ev.value} = $boxed.doubleValue();", isNull = FalseLiteral)
  }
}

object QueryParam {
  private val Name = "graft_param"

  /** Register `graft_param` in the session's function registry (idempotent). */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(Name)
    if (!registry.functionExists(ident)) {
      registry.registerFunction(
        ident,
        new ExpressionInfo(classOf[QueryParam].getName, Name),
        (children: Seq[Expression]) => children match {
          case Seq(c) if c.foldable && c.dataType == DoubleType =>
            c.eval() match {
              case v: Double => QueryParam(v)
              case _         => throw new IllegalArgumentException(s"$Name(v): v is null")
            }
          case _ => throw new IllegalArgumentException(s"$Name(v) takes one double constant")
        }
      )
    }
  }

  /** `v` as a column bound by reference; the session must have run [[install]]. */
  def column(v: Double): Column = call_function(Name, lit(v))
}
