package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/**
 * B24: INCREMENTAL AGGREGATE MAINTENANCE — keep a per-group aggregate
 * (count / sum / min / max, and anything derivable from them) up to date
 * by merging each sync's DELTA into a small persisted state table instead
 * of rescanning history. This is incremental view maintenance restricted
 * to self-mergeable aggregates, and it's the batch twin of what the
 * streaming sketch maintenance (D12) does for approximate state: at
 * 100 TB the fact history is cold storage; only the state table (one row
 * per group) and the day's increment are ever read.
 *
 * Exactness: counts and min/max are trivially mergeable; sums are carried
 * in DecimalType (exact, associative — merging in any order or grouping
 * equals the one-shot aggregate bit-for-bit, which is precisely what the
 * q90 oracle checks by computing the one-shot form itself). Derived
 * values (avg) are computed at READ-OUT from exact state, never stored.
 *
 * The state schema is (keys..., state_n, state_sum, state_min, state_max)
 * — persistable as parquet between syncs; [[merge]] is a unionByName +
 * re-aggregate, so Catalyst plans it as one partial-agg shuffle on the
 * group keys no matter how many state slices are merged.
 */
object IncrementalAgg {

  private val Dec = DecimalType(18, 2)
  /** The state's sum type: what [[merge]]'s sum of it yields, so a state
    * keeps one schema from its first version on. */
  private val SumDec = DecimalType(38, 2)

  /** Aggregate raw rows into mergeable state — run this on each increment
    * (and once on history to bootstrap). */
  def buildState(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("state_n"),
      sum(col(valueCol).cast(Dec)).cast(SumDec).as("state_sum"),
      min(col(valueCol)).as("state_min"),
      max(col(valueCol)).as("state_max"))

  /** Merge any number of state slices into one consistent state. */
  def merge(keys: Seq[String], states: DataFrame*): DataFrame = {
    require(states.nonEmpty, "need at least one state slice")
    states.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*).agg(
        sum(col("state_n")).as("state_n"),
        sum(col("state_sum")).as("state_sum"),
        min(col("state_min")).as("state_min"),
        max(col("state_max")).as("state_max"))
  }

  /** Read the state out as user-facing values; avg derives from the exact
    * decimal sum, so it's the same double the one-shot query computes. */
  def readout(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(
      keys.map(col) ++ Seq(
        col("state_n").as("n_rows"),
        col("state_sum").cast("double").as("total"),
        col("state_min").as("min_value"),
        col("state_max").as("max_value"),
        (col("state_sum").cast("double") / col("state_n")).as("avg_value")): _*)
}
