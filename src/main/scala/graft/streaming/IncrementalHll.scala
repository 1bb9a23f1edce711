package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.engine.expressions.Hll

/** Incrementally maintained per-group HyperLogLog sketches — the
  * streaming form of q264's distinct counter: each batch folds its own
  * group×register grid into the store with ONE elementwise max, so the
  * running sketch answers "how many distinct keys ever" per group
  * while per-batch work stays O(batch + groups·2^p).
  *
  * Even stronger commutativity than [[IncrementalCountMin]]'s sums:
  * registers are MAXes of a pure per-item function, so the store is
  * insensitive not only to batch order but to row-level DUPLICATION —
  * re-delivering half a batch cannot move a register (the CM grid
  * relies on the v=N overwrite for that). Groups absent from one side
  * pass through unchanged (full-outer fold), so new groups may appear
  * in any batch.
  *
  * Versions follow [[StoreProtocol]].
  */
object IncrementalHll {

  /** Fold one batch of (group, item) rows into the store: version N's
    * registers = max(version N−1, batch's own sketch) elementwise per
    * group, full-outer on the group keys. Pure in (v=N−1, batch) —
    * replay-idempotent. Returns the committed sketch frame.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   groupCols: Seq[String], itemCol: String,
                   p: Int): DataFrame = {
    val spark = batch.sparkSession
    Hll.register(spark)
    val bs = batch.toDF().groupBy(groupCols.map(col): _*)
      .agg(Hll.sketch(col(itemCol), p).as("sk"))
    val merged = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalHll") match {
      case None => bs
      case Some(prev) =>
        bs.withColumnRenamed("sk", "__bsk")
          .join(prev.withColumnRenamed("sk", "__psk"), groupCols, "full_outer")
          .select(groupCols.map(col) :+
            when(col("__bsk").isNull, col("__psk"))
              .when(col("__psk").isNull, col("__bsk"))
              .otherwise(zip_with(col("__bsk"), col("__psk"),
                (a, b) => greatest(a, b))).as("sk"): _*)
    }
    StoreProtocol.commit(merged, storeDir, batchId)
  }

  /** Wire a (group, item) stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            groupCols: Seq[String], itemCol: String, p: Int)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, groupCols, itemCol, p): Unit
      }
      .start()
}
