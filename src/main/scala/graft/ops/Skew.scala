package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation helpers for hot grouping keys. At 100 TB a handful of
  * keys (empty venue, bot user_id, boilerplate shingle) can own gigabytes;
  * AQE's skew-join split handles joins, but single-key aggregation skew
  * needs salting: shard the hot key across `salt` sub-keys, aggregate
  * partially per shard, then merge the shards — two small shuffles instead
  * of one partition-crushing shuffle.
  */
object Skew {

  /** Helper-column names guaranteed absent from `df` (public operators must
    * not clobber caller columns). */
  private def freshName(df: DataFrame, base: String): String =
    if (!df.columns.contains(base)) base
    else Iterator.from(1).map(i => s"${base}_$i")
      .find(n => !df.columns.contains(n)).get

  /** Two-stage salted aggregation: groupBy(keys × salt) partials →
    * groupBy(keys) merge. The salt derives from a row hash over the keys and
    * `monotonically_increasing_id()` — the aggregate RESULT is equivalent to
    * the unsalted aggregation under any salt assignment (counts/sums are
    * associative), but the per-shard split itself is partition-layout-
    * dependent, so intermediate shard sizes may differ across retries. */
  private def salted(df: DataFrame, keys: Seq[Column], salt: Int,
                     partial: Column, merge: Column => Column,
                     out: String): DataFrame = {
    val saltCol = freshName(df, "__salt")
    val partialCol = freshName(df, "__partial")
    df.withColumn(saltCol,
        pmod(hash(keys :+ monotonically_increasing_id(): _*), lit(salt)))
      .groupBy(keys :+ col(saltCol): _*)
      .agg(partial.as(partialCol))
      .groupBy(keys: _*)
      .agg(merge(col(partialCol)).as(out))
  }

  /** Salted count: equivalent to df.groupBy(keys).count() for any data; the
    * win appears when one key dominates a partition. */
  def saltedCount(df: DataFrame, keys: Seq[Column], salt: Int = 16,
                  out: String = "cnt"): DataFrame =
    salted(df, keys, salt, count(lit(1)), sum, out)

  /** Salted sum over a numeric column, same two-stage shape. */
  def saltedSum(df: DataFrame, keys: Seq[Column], value: Column, salt: Int = 16,
                out: String = "sum"): DataFrame =
    salted(df, keys, salt, sum(value), sum, out)
}
