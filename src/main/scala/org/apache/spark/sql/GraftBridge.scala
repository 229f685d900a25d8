package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Minimal visibility bridge: Column ⇄ Expression conversion lives behind
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`); this re-export is
  * the supported-shape workaround for libraries registering native
  * expressions through the DataFrame API. No Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager ColumnNode → Expression conversion. [[expression]] wraps the
    * column's node LAZILY (ColumnNodeExpression, Unevaluable) — fine inside
    * the DataFrame path where the plan conversion unwraps it, but a SQL
    * function builder's return value never goes through that path, so the
    * wrapper survives to codegen and dies. This converts the whole node
    * tree up front; any UnresolvedFunction nodes it yields are ordinary
    * catalyst unresolved functions the analyzer then resolves in place.
    * (The wrapper class is private[classic], hence the second bridge.) */
  def expressionTree(c: Column): Expression =
    classic.GraftClassicBridge.expressionTree(c)

  /** What file-source schema inference does to a footer schema before it
    * reaches a reader: every field nullable (`StructType.asNullable` is
    * private[spark]). */
  def nullable(s: StructType): StructType = s.asNullable

  /** Parquet `mergeSchema`'s pairwise merge (`StructType.merge` is
    * private[sql]). */
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
