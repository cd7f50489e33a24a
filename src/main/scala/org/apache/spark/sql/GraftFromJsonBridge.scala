package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.types.StructType

/** graft extension bridge. `functions.from_json(Column, StructType)`
  * hands its schema to the analyzer as SQL text, which the ANTLR parser
  * reads again on every use (and whose DFA cache it keeps). The
  * expression it resolves to is built here from the `StructType`
  * itself; `classic.ExpressionUtils`, which turns an expression into a
  * Column and back, is `private[sql]`, so the one call lives in this
  * package, as [[GraftOfRowsBridge]] does for `Dataset.ofRows`.
  */
object GraftFromJsonBridge {
  def fromJson(json: Column, schema: StructType): Column =
    classic.ExpressionUtils.column(
      JsonToStructs(schema, Map.empty, classic.ExpressionUtils.expression(json)))
}
