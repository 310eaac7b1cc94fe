package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (backward) join: for every left row, the latest right row with
  * `rightTs <= leftTs` for the same key — the canonical "state of X at
  * event time" operator (absent from both the reference and Spark SQL).
  *
  * Built by composition (SURVEY §2.10 preference (a)) as the scalable
  * union+window formulation rather than a custom SparkStrategy:
  *   1. tag both inputs and UNION them (no join at all),
  *   2. one shuffle+sort per key on (ts, tag) — right rows sort before
  *      left rows at equal timestamps, making the match inclusive,
  *   3. running `last(payload, ignoreNulls)` carries the most recent
  *      right payload forward onto each left row.
  * Cost: ONE shuffle of |L|+|R| rows — versus a range-join's per-key
  * probing. Skewed keys salt exactly like any keyed window.
  */
object AsOfJoin {

  /** Inner backward as-of join. `payloadCols` are taken from `right`;
    * left rows with no prior right match are dropped. `right` must be
    * unique per (key, rightTs) — pre-dedupe with a deterministic
    * tiebreak if not (ties would make the match engine-dependent).
    *
    * All payload columns travel as ONE struct carried by a single
    * `last(ignoreNulls)` — so the matched right row stays atomic (the
    * output never mixes payload values from different right rows) and a
    * right row whose payload column is legitimately NULL still matches.
    */
  def backward(left: DataFrame, right: DataFrame, keyCol: String,
               leftTs: String, rightTs: String,
               payloadCols: Seq[String]): DataFrame = {
    val leftOnly = left.columns.toSeq.filterNot(_ == keyCol)
    val payloadType =
      right.select(struct(payloadCols.map(col): _*)).schema.head.dataType

    val rightSide = right.select(
      Seq(col(keyCol), col(rightTs).cast("timestamp").as("__ts"),
        lit(0).as("__tag"),
        struct(payloadCols.map(col): _*).as("__payload")) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val leftSide = left.select(
      Seq(col(keyCol), col(leftTs).cast("timestamp").as("__ts"),
        lit(1).as("__tag"),
        lit(null).cast(payloadType).as("__payload")) ++
        leftOnly.map(col): _*)

    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__ts"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rightSide.unionByName(leftSide)
      .withColumn("__payload", last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1 && col("__payload").isNotNull)
      .select((keyCol +: leftOnly).map(col) ++
        payloadCols.map(c => col("__payload").getField(c).as(c)): _*)
  }
}
