package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** EXISTS / FORALL aggregation idioms.
  *
  * The reference encodes "some row in the group satisfies P" as
  * `max(when(P,1).otherwise(0))` (`Standalone/Pattern
  * Extraction.scala:106–116`) and "ALL members satisfy ∃P" as a two-level
  * `groupBy(c,id).agg(max…)` → `groupBy(c).agg(min…)` (`Standalone/Blind
  * Zone Detection.scala:112–143`). These helpers name the idiom; both are
  * single-pass hash aggregations with map-side partial aggregation, so they
  * scale linearly and shuffle only the per-group 0/1.
  */
object Quantifiers {

  /** 1 if any row in the group satisfies `cond`, else 0. */
  def existsFlag(cond: Column): Column = max(when(cond, 1).otherwise(0))

  /** 1 if every row in the group satisfies `cond`, else 0. */
  def forallFlag(cond: Column): Column = min(when(cond, 1).otherwise(0))
}
