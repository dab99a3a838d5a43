package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.plans.RepairAddressExpr

/** The reference's in-database repair sequence (readme.md:42-103)
  * as an immutable `DataFrame => DataFrame` transform over the canonical OSM schema
  * (`address` struct — FIXTURES.md §2). MongoDB's predicate-matched
  * `update(..., {$set/$unset}, multi=True)` loops become one native
  * expression, [[RepairAddressExpr]], that rewrites the struct in a
  * single pass: the plan is one `Project` over the input, and the
  * reference's row-at-a-time rewrite (readme.md:374 "quite slow")
  * disappears structurally.
  *
  * Order matters and mirrors the reference: merged-field split first
  * (it *produces* city/state/postcode values), then field moves, then
  * value fixes — the rule list is on [[RepairAddressExpr]].
  */
object Repairs {

  /** The full repair pipeline, reference order. Idempotent: a repaired
    * snapshot passes through unchanged (RepairsSpec pins it). */
  def clean(df: DataFrame): DataFrame =
    df.withColumn("address", ColumnBridge.column(
      RepairAddressExpr(ColumnBridge.expression(col("address")))))
}
