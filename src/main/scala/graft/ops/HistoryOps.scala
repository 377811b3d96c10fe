package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Slowly-changing-dimension history building — the batch-side complement
  * of the CDC upsert (TxTable.upsert keeps ONLY the latest row
  * per key; SCD-2 keeps every version with its validity interval, which is
  * what a training pipeline needs to join features AS OF a label's
  * timestamp without leakage — see AsOfOps for the consuming join).
  */
object HistoryOps {

  /** Build SCD Type-2 history from a change stream: one row per (key,
    * attribute-value) RUN, with `valid_from` = the run's first change ts,
    * `valid_to` = the next run's start (NULL while current), a per-key
    * `version` ordinal, and `is_current`. Consecutive updates carrying the
    * same value are no-ops and collapse into the run that started them.
    *
    * `tiebreak` makes the per-key order total (equal timestamps), so the
    * output is deterministic on any partitioning.
    *
    * Scale shape: ONE shuffle on the key; both the no-op filter (lag) and
    * the interval close (lead) ride the same per-key sort — Spark plans
    * the two windows over a single exchange+sort since the partitioning
    * and ordering agree. Keys are high-cardinality (users), so per-key
    * window state is tiny. */
  def scd2(updates: DataFrame, key: String, ts: String, tiebreak: String,
           attr: String): DataFrame = {
    val order = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val changes = updates
      // row_number (not "__prev is null") marks the first row per key —
      // lag(attr) is ALSO null when the previous row's attr is NULL
      .withColumn("__rn", row_number().over(order))
      .withColumn("__prev", lag(col(attr), 1).over(order))
      // keep the first row per key and every row whose value differs from
      // the previous one — null-safe so NULL→value and value→NULL count
      // as changes while NULL→NULL does not
      .filter(col("__rn") === 1 || !col(attr).eqNullSafe(col("__prev")))
      .drop("__rn", "__prev")
    changes
      .withColumn("valid_from", col(ts))
      .withColumn("valid_to", lead(col(ts), 1).over(order))
      .withColumn("version", row_number().over(order))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
