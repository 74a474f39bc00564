package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the medallion pattern's "gold"
  * table under daily appends: instead of rescanning the whole fact
  * history per refresh, aggregate ONLY the increment and merge it into
  * the stored per-key aggregate table. Correct for the algebraic
  * aggregates (count/sum/min/max — each merges by its own operator);
  * averages derive as sum/count at read time. At 100 TB this is the
  * difference between a refresh that scans one day and one that scans
  * three years.
  *
  * The merge is a full-outer union-aggregate: old state and the
  * increment's partial aggregate are unioned and re-aggregated on the
  * keys — one shuffle of (|keys| + |increment keys|) AGGREGATED rows,
  * never raw facts. Persistence is [[TableDir.replace]]'s staged swap,
  * like [[Merge]] (readers see old or new, modulo the rename window).
  */
object IncrementalAgg {

  /** Aggregate spec: count + sums + mins + maxs over value columns. */
  final case class Spec(keys: Seq[String], sums: Seq[String] = Nil,
      mins: Seq[String] = Nil, maxs: Seq[String] = Nil) {
    require(keys.nonEmpty, "at least one key column")
    private[store] def aggCols: Seq[Column] =
      (count(lit(1)).as("n_rows") +:
        sums.map(c => sum(col(c)).as(s"sum_$c"))) ++
        mins.map(c => min(col(c)).as(s"min_$c")) ++
        maxs.map(c => max(col(c)).as(s"max_$c"))
    private[store] def mergeCols: Seq[Column] =
      (sum(col("n_rows")).as("n_rows") +:
        sums.map(c => sum(col(s"sum_$c")).as(s"sum_$c"))) ++
        mins.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
        maxs.map(c => max(col(s"max_$c")).as(s"max_$c"))
  }

  /** Aggregate one increment of raw rows to the spec's shape. */
  def aggregate(increment: DataFrame, spec: Spec): DataFrame =
    increment.groupBy(spec.keys.map(col): _*)
      .agg(spec.aggCols.head, spec.aggCols.tail: _*)

  /** Merge an increment's aggregate into the existing state (both in
    * the spec's aggregated shape). */
  def merge(state: DataFrame, incrementAgg: DataFrame, spec: Spec): DataFrame =
    state.unionByName(incrementAgg)
      .groupBy(spec.keys.map(col): _*)
      .agg(spec.mergeCols.head, spec.mergeCols.tail: _*)

  /** Refresh the stored aggregate table at `path` with `increment`
    * (raw rows): merge into the old state if present, staged swap. */
  def refresh(spark: SparkSession, path: String, increment: DataFrame,
      spec: Spec): Unit = {
    val incAgg = aggregate(increment, spec)
    TableDir.replace(spark, path)(_.fold(incAgg)(merge(_, incAgg, spec)))
  }
}
