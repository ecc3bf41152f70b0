package graft.sources

import org.apache.spark.sql.DataFrame

/** Sink helpers — S4 parity (reference: TextOutputFormat with configurable
  * separator, Homework2.scala:548,553; separators per task :565-:670).
  * Parquet is the engine-native format; CSV matches the reference's output
  * contract. */
object Sinks {

  /** CSV with configurable separator (the reference uses "," for tasks
    * 1,2,3,5,6 and "|" for task 4). */
  def writeCsv(df: DataFrame, path: String, sep: String = ",",
               header: Boolean = true): Unit =
    df.write.mode("overwrite")
      .option("sep", sep).option("header", header.toString)
      .csv(path)

  /** Parquet, optionally hive-partitioned by the given columns — the layout
    * that makes downstream partition pruning free. */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed (and per-bucket sorted) managed table — the layout that makes
    * every downstream join/window/aggregation ON the bucket key exchange-free:
    * the scan's output partitioning already satisfies the required hash
    * distribution, so Catalyst plans no shuffle. The 100 TB lever for
    * relations re-queried on a stable key (see Tables.materializePubAuthors). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }
}
