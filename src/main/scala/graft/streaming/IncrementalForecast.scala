package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Forecast

/** Incrementally maintained Holt (level + trend) smoothing state — the
  * streaming form of the [[graft.ops.Forecast]] family: q237 folds a
  * key's WHOLE history into (level, trend) every run; this carries the
  * state forward per batch, so each micro-batch pays only its own
  * observations. The Forecast scaladoc's own caveat ("at 100 TB …
  * keep (l, b) in a streaming state store instead") is this store.
  *
  * Why a (l, b, sae, n) row per key is sufficient — and bit-identical:
  * the Holt fold is a left-to-right recurrence, so folding batch N's
  * time-ordered observations STARTING FROM batch N−1's stored
  * accumulator executes exactly the same float-op chain as folding the
  * concatenated history at once. The chain is shared by construction:
  * both paths fold [[Forecast.holtStep]], state doubles are stored
  * UNROUNDED (parquet doubles are exact bits), and batches must be
  * time-partitioned — an in-order guard (`assert_true`) fails the
  * batch if any key's new observation does not strictly follow its
  * stored max time, because a late row silently spliced mid-history
  * would break the equivalence (the spec pins store ≡
  * [[Forecast.holtBacktest]] row-for-row after every batch).
  *
  * Keys absent from a batch carry their state forward untouched; keys
  * born in batch N initialize exactly as the batch fold does
  * (l₀ = first y, b₀ = 0). Work per batch is |store keys| + |batch
  * rows| — history is never re-read, never retained. Versions follow
  * [[StoreProtocol]].
  */
object IncrementalForecast {

  /** Fold one batch of observations into the store: version N's state
    * = version N−1's state advanced by the batch's time-ordered
    * observations per key. Pure in (store version N−1, batch) —
    * replay-idempotent. Returns the committed state.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   keys: Seq[String], tCol: String, vCol: String,
                   alpha: Double, beta: Double): DataFrame = {
    val spark = batch.sparkSession
    val arr = batch.toDF()
      .select(keys.map(col) :+
        struct(col(tCol).cast("long").as("t"),
          col(vCol).cast("double").as("y")).as("__e"): _*)
      .groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(col("__e"))).as("__s"),
        count(lit(1)).as("__bn"),
        min(col("__e").getField("t")).as("__tmin"),
        max(col("__e").getField("t")).as("__tmax"))
    val joined = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalForecast") match {
      case Some(p) =>
        arr.join(p.select(keys.map(col) :+ col("n_obs").as("__pn") :+
          col("tmax").as("__ptmax") :+ col("l").as("__pl") :+
          col("b").as("__pb") :+ col("sae").as("__psae") :+
          col("nsc").as("__pnsc"): _*), keys, "full_outer")
      case None =>
        arr.withColumn("__pn", lit(null).cast("long"))
          .withColumn("__ptmax", lit(null).cast("long"))
          .withColumn("__pl", lit(null).cast("double"))
          .withColumn("__pb", lit(null).cast("double"))
          .withColumn("__psae", lit(null).cast("double"))
          .withColumn("__pnsc", lit(null).cast("double"))
    }
    val hasPrev = col("__pl").isNotNull
    val hasBatch = col("__s").isNotNull
    // In-order guard: a key's new observations must strictly follow
    // its stored history (assert_true throws at execution, inside the
    // plan — no second action). NULL-safe: passes when either side is
    // absent.
    val guarded = joined.filter(coalesce(
      assert_true(!hasPrev || !hasBatch || col("__tmin") > col("__ptmax"),
        lit("IncrementalForecast: batch contains an observation at or " +
          "before a key's stored max time — out-of-order data would " +
          "silently corrupt the fold. Reorder the feed or rebuild.")),
      lit(true)))
    val initFresh = struct(
      element_at(col("__s"), 1).getField("y").as("l"),
      lit(0.0).as("b"), lit(0.0).as("sae"), lit(0.0).as("n"))
    val initPrev = struct(col("__pl").as("l"), col("__pb").as("b"),
      col("__psae").as("sae"), col("__pnsc").as("n"))
    val folded = aggregate(
      when(hasPrev, col("__s"))
        .otherwise(expr("slice(__s, 2, size(__s) - 1)")),
      when(hasPrev, initPrev).otherwise(initFresh),
      Forecast.holtStep(alpha, beta))
    val st = when(hasBatch, folded).otherwise(initPrev)
    val out = guarded.select(
      keys.map(col) :+
        (coalesce(col("__pn"), lit(0L)) + coalesce(col("__bn"), lit(0L)))
          .as("n_obs") :+
        coalesce(col("__tmax"), col("__ptmax")).as("tmax") :+
        st.getField("l").as("l") :+ st.getField("b").as("b") :+
        st.getField("sae").as("sae") :+ st.getField("n").as("nsc"): _*)
    StoreProtocol.commit(out, storeDir, batchId)
  }

  /** The [[Forecast.holtBacktest]]-shaped view of a committed store
    * version: (keys…, n_obs, mae, level, trend), same rounding — the
    * cross-check surface (bit-identical to the batch fold over the
    * union of all batches so far). Fails fast on a missing or torn
    * version, like every [[StoreProtocol]] read.
    */
  def backtest(spark: SparkSession, storeDir: String, batchId: Long,
               keys: Seq[String]): DataFrame =
    StoreProtocol.read(spark, storeDir, batchId, "IncrementalForecast")
      .select(keys.map(col) :+ col("n_obs") :+
        round(col("sae") / greatest(col("nsc"), lit(1.0)), 6).as("mae") :+
        round(col("l"), 6).as("level") :+
        round(col("b"), 6).as("trend"): _*)

  /** Wire an observation stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            keys: Seq[String], tCol: String, vCol: String,
            alpha: Double, beta: Double)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, keys, tCol, vCol, alpha, beta): Unit
      }
      .start()
}
