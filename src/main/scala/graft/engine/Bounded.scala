package graft.engine

import org.apache.spark.sql.{Column, DataFrame}

/** Results whose size the query's shape caps. */
object Bounded {
  /** `df` in one partition, sorted by `order`: for a total `order`, the
    * rows and their order of `df.orderBy(order: _*)`, without the
    * range-sampling job and the shuffle a global sort plans.
    *
    * Use it only where the result has a structural size bound, one that
    * holds at every scale because the query's shape caps it:
    *   - q43 and q239 roll events up by (1-hour window, event type): the
    *     events span a fixed 30 days and 5 types, so at most 3,600 rows;
    *   - q60 keeps the top 5 of at most 40 probe vectors, 200 rows;
    *   - the `api.Rehive` list routes return one user's rows, or the
    *     package catalog.
    * Not q31, whose rollup grows with the customer count: one task would
    * sort a corpus-sized result.
    *
    * `coalesce` is narrow, so the stage that computes `df` also runs as
    * one task over all its input partitions. */
  def sortedInOne(order: Column*)(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(order: _*)
}
