package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.ops.LogHistogram

/** Incrementally maintained per-group log-bucket histograms — the
  * streaming form of q275's relative-error quantile monitor: each
  * batch folds its own (group, bucket, cnt) rows into the store with
  * ONE full-outer count add, so the running histogram answers "p99 so
  * far, within 2^-m" per group while per-batch work stays
  * O(batch + groups·buckets), with ≤ (63−m)·2^m bucket rows per group
  * regardless of volume.
  *
  * Same contract class as [[IncrementalCountMin]]/[[IncrementalQuantile]]:
  * counts are plain integer sums — commutative across any batch split
  * (store ≡ one-shot histogram of the union) but NOT duplicate-
  * immune, so exactly-once rests on the [[StoreProtocol]] version
  * overwrite.
  */
object IncrementalLogHistogram {

  /** Fold one batch of (group, value) rows into the store: version N's
    * counts = version N−1's + the batch's own histogram, per
    * (group, bucket), full-outer so new groups and new buckets appear
    * in any batch. Pure in (v=N−1, batch) — replay-idempotent.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   groupCols: Seq[String], valueCol: String,
                   m: Int = 5): DataFrame = {
    // the store joins versions on (groupCols, bucket) — bucket alone
    // suffices, so unlike IncrementalQuantile a GLOBAL histogram works
    // with groupCols = Nil
    val spark = batch.sparkSession
    val bs = LogHistogram.histogram(batch.toDF(), groupCols, valueCol, m)
    val keys = groupCols :+ "bucket"
    val merged = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalLogHistogram") match {
      case None => bs
      case Some(prev) =>
        bs.withColumnRenamed("cnt", "__bc")
          .join(prev.withColumnRenamed("cnt", "__pc"), keys, "full_outer")
          .select(keys.map(col) :+
            (coalesce(col("__bc"), lit(0L)) + coalesce(col("__pc"), lit(0L)))
              .as("cnt"): _*)
    }
    StoreProtocol.commit(merged, storeDir, batchId)
  }

  /** Wire a (group, value) stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            groupCols: Seq[String], valueCol: String, m: Int = 5)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, groupCols, valueCol, m): Unit
      }
      .start()
}
