package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic, internal}

/**
 * The `private[sql]` bridges the engine needs: turning a custom
 * [[LogicalPlan]] into a user-facing [[DataFrame]], and a raw Catalyst
 * [[Expression]] into a [[Column]] (for expressions that carry model
 * objects — e.g. a quantizer's centroid matrix — which cannot ride
 * through the name-based function registry). Spark exposes no public
 * constructor for either (every third-party plan-extension library ships
 * the same one-liners under `org.apache.spark.sql`), so they are
 * isolated here — nothing else in the codebase lives outside `graft`.
 *
 * The third bridge, [[boundLit]], is `lit(v)` as a [[BoundLiteral]]: a
 * literal whose generated code reads its value from the plan's
 * `references` array, so stored-view reads that differ only in their
 * key share one compiled class. It must subclass Catalyst's `Literal`,
 * because the parquet pushdown (`DataSourceStrategy`) and the optimizer
 * recognise a constant only as a `Literal`; and turning `lit`'s column
 * into that literal eagerly needs the `private[sql]` converter.
 */
object Shims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `lit(v)` with the same value and type, bound by reference. `lit`'s
    * column is converted here rather than at analysis ([[expression]]
    * would defer it), so the literal can be rebound. Anything `lit` does
    * not turn into a literal (a [[Column]]) passes through. */
  def boundLit(v: Any): Column = {
    val c = lit(v)
    c.node match {
      case n: internal.Literal => classic.ColumnNodeToExpressionConverter(n) match {
        case l: Literal => column(new BoundLiteral(l.value, l.dataType))
        case _ => c
      }
      case _ => c
    }
  }
}

/**
 * A [[Literal]] whose generated code reads its value from the plan's
 * `references` array instead of inlining it. Catalyst's `Literal` writes
 * primitive values (Int, Long, Double, Date, Timestamp, …) into the Java
 * source, so two plans that differ only in such a constant miss the
 * codegen cache and compile a new class each; here both produce the same
 * source text. Null and the types `Literal` already passes by reference
 * (String, Decimal, Binary, …) keep `Literal`'s own code.
 *
 * It must BE a `Literal`, not wrap one: `Literal.unapply` matches the
 * subclass, so `DataSourceStrategy` still translates `emit_key = key`
 * and the range bounds into parquet `PushedFilters`, and the optimizer
 * keeps treating it as a folded constant. Rules that rebuild a literal
 * (e.g. `ConstantFolding` of a coercion cast) yield a plain `Literal`,
 * which is correct, just not bound.
 */
final class BoundLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("literal", value, CodeGenerator.boxedType(dataType))
      ExprCode.forNonNullValue(JavaCode.expression(
        s"$ref.${CodeGenerator.javaType(dataType)}Value()", dataType))
    }
}
