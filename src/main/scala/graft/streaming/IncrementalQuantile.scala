package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.engine.expressions.QuantileSketch

/** Incrementally maintained per-group dyadic quantile sketches — the
  * streaming form of q271's distribution monitor: each batch folds its
  * own group×grid sketch into the store with ONE elementwise add, so
  * the running sketch answers "what is the p50/p99 so far" per group
  * while per-batch work stays O(batch + groups·grid).
  *
  * Like [[IncrementalCountMin]] (and unlike [[IncrementalHll]]'s
  * row-idempotent maxes), the grid cells are plain integer SUMS:
  * commutative across any batch order or partitioning — the store is
  * bit-identical to a one-shot sketch of the union — but NOT immune
  * to duplicate delivery, so exactly-once rests on the
  * [[StoreProtocol]] version overwrite. Carries `n` (exact row count) beside each
  * group's sketch — [[QuantileSketch.rank]]'s full-domain corner and
  * the rank→target conversion both need it.
  */
object IncrementalQuantile {

  /** Fold one batch of (group, value) rows into the store: version N's
    * grid = version N−1's grid + the batch's own sketch elementwise per
    * group (n adds the same way), full-outer on the group keys. Pure in
    * (v=N−1, batch) — replay-idempotent. Returns the committed frame
    * (groupCols..., sk, n).
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   groupCols: Seq[String], valueCol: String,
                   domainBits: Int = 16, depth: Int = 3,
                   width: Int = 1024): DataFrame = {
    // a zero-column full-outer join is not expressible — a GLOBAL
    // store passes one constant group column (the q272 shape)
    require(groupCols.nonEmpty,
      "IncrementalQuantile needs >= 1 group column; for a global " +
        "sketch add a constant column (lit(\"all\"))")
    val spark = batch.sparkSession
    QuantileSketch.register(spark)
    val bs = batch.toDF().groupBy(groupCols.map(col): _*)
      .agg(QuantileSketch.sketch(col(valueCol), domainBits, depth, width).as("sk"),
        count(col(valueCol)).as("n"))
    val merged = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalQuantile") match {
      case None => bs
      case Some(prev) =>
        bs.withColumnRenamed("sk", "__bsk").withColumnRenamed("n", "__bn")
          .join(prev.withColumnRenamed("sk", "__psk")
            .withColumnRenamed("n", "__pn"), groupCols, "full_outer")
          .select(groupCols.map(col) ++ Seq(
            when(col("__bsk").isNull, col("__psk"))
              .when(col("__psk").isNull, col("__bsk"))
              .otherwise(QuantileSketch.mergeCols(col("__bsk"), col("__psk")))
              .as("sk"),
            (coalesce(col("__bn"), lit(0L)) + coalesce(col("__pn"), lit(0L)))
              .as("n")): _*)
    }
    StoreProtocol.commit(merged, storeDir, batchId)
  }

  /** Wire a (group, value) stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            groupCols: Seq[String], valueCol: String, domainBits: Int = 16,
            depth: Int = 3, width: Int = 1024)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, groupCols, valueCol,
          domainBits, depth, width): Unit
      }
      .start()
}
