package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The `history_operations.details` law, used by its one caller,
  * [[StellarTransforms.historyOperations]].
  *
  * The reference computes one per-type sparse details map and assigns it
  * to both the struct field and the JSON rendering
  * (`internal/transform/operation.go:97,584-1173`). graft does the same in
  * one compiled kernel, [[graft.plans.OperationDetailsExpression]]: per
  * exploded op it reads the `op` struct, its `tx` struct and the op's index
  * in the tx, dispatches on the op type to one method per arm, and returns
  * `struct<details, details_json>`.
  *   - `details` is one wide nullable struct; keys an op type does not
  *     carry are null.
  *   - `details_json` is that same row rendered by Spark's `to_json`
  *     generator with null keys dropped and parsed into a VARIANT, so it
  *     lands as a raw JSON object. One mixed-type quirk the typed struct
  *     cannot carry: a FAILED strict-receive path payment's
  *     `source_amount` is the string `"0.0000000"` (`operation.go:632`
  *     seeds `amount.String(0)` and only the success arm overwrites it with
  *     a float); the kernel renders that row under a schema whose
  *     `source_amount` is a string.
  *
  * The plan carries one kernel node per op projection, so the law is
  * analysed, optimised and compiled once rather than as a wide Column
  * tree, and both fields come from one evaluation. */
object OperationDetails {

  /** `struct<details, details_json>` of the exploded `op` at index `opPos`
    * of `tx`. */
  def apply(op: Column, tx: Column, opPos: Column): Column =
    ColumnBridge.column(graft.plans.OperationDetailsExpression(
      ColumnBridge.expression(op), ColumnBridge.expression(tx),
      ColumnBridge.expression(opPos)))
}
