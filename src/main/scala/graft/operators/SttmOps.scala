package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational operators of the reference pipeline, Spark-first.
  *
  * Semantics sources (reference, cited file:line — see SURVEY.md §2):
  *  - latest-by-key XREF dedup: resources/architecture/sttm-requirements.md:115-134
  *    (`ROW_NUMBER() OVER (PARTITION BY pk ORDER BY event_ts DESC, seq DESC) = 1`)
  *  - delete-flag exclusion before ranking: sttm-requirements.md:77-84
  *  - masking CASE: STTM_v22.xlsx Instructions_for_BA; resources/STTM-script.txt:25-28
  *  - quarantine anti-join both directions: resources/output/final-output.sql:131-144
  */
object SttmOps {

  /** A1: latest record per key (ROW_NUMBER ... rn=1 semantics). Implemented
    * as `max_by(struct(*), struct(orderCols))` — an aggregation with a
    * map-side partial combine, so the shuffle carries at most one row per
    * (key, map partition) instead of every row like the window-sort
    * formulation would. At 100 TB with high key cardinality this is the
    * difference between shuffling the full table and shuffling ~|keys| rows.
    * Spark 4.1 plans it as a SORT aggregate (`SortAggregateExec`, partial
    * and final, each behind a sort on the keys), not a hash aggregate: the
    * aggregation buffer holds the two structs, which are not fixed-width,
    * and a hash aggregate needs a mutable fixed-width buffer. PlanShapeSpec
    * pins the planned operator.
    * A reader that takes only some columns of the result gets only those
    * computed, sorted and shuffled: [[graft.plans.PruneLatestPayload]]
    * (installed with [[graft.plans.FuseJsonAccess]]) narrows the struct to
    * the fields read and lets Spark's `ColumnPruning` drop the inputs,
    * down to the JSON parse, that no kept field reads. Reading every
    * column, or `__r` whole, keeps the full struct.
    * `order` columns must make the ranking unique (ts + seq tie-break).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], order: Seq[String]): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    val rank = struct(order.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, rank).as("__r"))
      .select(col("__r.*"))
  }

  /** F6: drop rows whose delete-flag column matches a truthy value list
    * (NULL flag means "keep", matching the reference's CSV truthy-list check).
    */
  def excludeDeleted(df: DataFrame, flagCol: String, deleteValues: Seq[String]): DataFrame =
    df.filter(col(flagCol).isNull || !col(flagCol).isin(deleteValues: _*))

  /** P8: FGAC masking — `CASE WHEN entitled THEN c ELSE '***' END`. */
  def maskUnless(entitled: Column, c: Column, mask: String = "***"): Column =
    when(entitled, c).otherwise(lit(mask))

  /** J4: bidirectional orphan detection. Returns (key, reason) rows for keys
    * present on one side only. Uses left_anti joins (shuffle- or broadcast-
    * hash anti join; never materializes the match side in the result).
    * Keys keep their native types — both key columns must be join- and
    * union-compatible (e.g. don't pass a string business key against a
    * numeric one; the old behavior of casting everything to long turned
    * string keys into NULLs and quarantined entire datasets).
    */
  def quarantineBidirectional(
      left: DataFrame, leftKey: String, leftReason: String,
      right: DataFrame, rightKey: String, rightReason: String): DataFrame = {
    val l = left.select(col(leftKey).as("key"))
      .join(right.select(col(rightKey).as("key")), Seq("key"), "left_anti")
      .withColumn("reason", lit(leftReason))
    val r = right.select(col(rightKey).as("key"))
      .join(left.select(col(leftKey).as("key")), Seq("key"), "left_anti")
      .withColumn("reason", lit(rightReason))
    l.unionByName(r)
  }
}
