package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.engine.expressions.CountMin

/** Incrementally maintained Count-Min sketch — the streaming form of
  * q252's frequency estimator: each batch folds its own depth×width
  * counter grid into the store with ONE elementwise vector add, so the
  * running sketch answers frequency queries over everything that has
  * ever arrived while per-batch work stays O(batch + depth·width).
  *
  * Unlike the order-sensitive stores ([[IncrementalForecast]] guards
  * against out-of-order feeds; [[IncrementalComponents]] relies on
  * star shape), CM counters are plain integer sums: ANY batch order,
  * partitioning, or replay interleaving yields the bit-identical grid
  * — the easiest possible incremental contract, worth having as the
  * family's commutative anchor (spec pins store ≡ one-shot sketch over
  * the union).
  *
  * Versions follow [[StoreProtocol]].
  */
object IncrementalCountMin {

  /** Fold one batch of items into the store: version N's grid =
    * version N−1's grid + the batch's own sketch, elementwise. Pure in
    * (v=N−1, batch) — replay-idempotent. Returns the committed sketch.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   itemCol: String, depth: Int, width: Int): DataFrame = {
    val spark = batch.sparkSession
    CountMin.register(spark)
    val bs = batch.toDF()
      .agg(CountMin.sketch(col(itemCol), depth, width).as("sk"))
    val merged = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalCountMin") match {
      case None => bs
      case Some(p) =>
        bs.crossJoin(broadcast(p.select(col("sk").as("__psk"))))
          .select(zip_with(col("sk"), col("__psk"),
            (a, b) => zip_with(a, b, (x, y) => x + y)).as("sk"))
    }
    StoreProtocol.commit(merged, storeDir, batchId)
  }

  /** Wire an item stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            itemCol: String, depth: Int, width: Int)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, itemCol, depth, width): Unit
      }
      .start()
}
