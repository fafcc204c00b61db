package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.variant.VariantExpressionEvalUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.{UTF8String, VariantVal}

/** Spark's own `to_json` and `parse_json` evaluators, for native
  * expressions that render a struct they computed themselves. Both are
  * private[sql]; this is the same access pattern as [[ColumnBridge]].
  *
  * [[StructJson]] runs the evaluator `to_json(struct, options)` plans, so
  * its text is byte-for-byte that function's; [[parseJson]] is the body of
  * `parse_json` (duplicate keys rejected, malformed input an error). */
object JsonBridge {

  /** One struct → JSON text renderer. Holds a Jackson generator and its
    * buffer, so one instance serves one thread. */
  final class StructJson(schema: StructType, options: Map[String, String]) {
    private val eval = StructsToJsonEvaluator(options, schema, Some("UTC"))
    def apply(row: InternalRow): UTF8String =
      eval.evaluate(row).asInstanceOf[UTF8String]
  }

  def parseJson(json: UTF8String): VariantVal =
    VariantExpressionEvalUtils.parseJson(json, false, true)
}
