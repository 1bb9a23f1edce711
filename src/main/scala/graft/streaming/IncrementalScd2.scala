package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Scd2

/** Streaming SCD Type-2 — CDC dimension maintenance over micro-batches:
  * each arriving snapshot batch applies [[Scd2]]'s change semantics
  * (close-and-reopen changed keys, insert new keys, no-op identical
  * arrivals) with the BATCH ID as the version stamp. The reconstructed
  * history equals the batch `Scd2` applied sequentially, spec-pinned.
  *
  * Store layout — append-only DELTAS, not history snapshots (a
  * dimension rewritten per batch would be O(batches × dim) on disk):
  * {{{
  *   batch=N/opens/   rows opened by batch N: (key, attrs..., valid_from=N)
  *   batch=N/closes/  (key, valid_from, valid_to=N) — which OPEN row each
  *                    change closed, addressed by its (key, valid_from)
  *   _compacted/v=G/  both sub-stores folded by [[compact]] (GenStore)
  * }}}
  *
  * [[history]] reconstructs the full SCD2 table as `opens LEFT JOIN
  * closes` on (key, valid_from): a row is current iff no close record
  * addresses it. Closes are monotone facts (an open row closes at most
  * once, at one version, derived deterministically from the batch
  * sequence), so reconstruction is order-insensitive and replaying a
  * batch rewrites identical delta files. Batches and generations follow
  * [[GenStore]].
  *
  * 100 TB shape: per batch, the current image (needed to diff) is
  * reconstructed from the store — one delta read (O(store) files until
  * [[compact]] folds them, then O(1) generations) and one key-equi
  * join. Dimensions are vocabulary-scale; the heavy side of CDC is the
  * fact stream, which never passes through here.
  */
object IncrementalScd2 {

  private def historyFromParts(spark: SparkSession, storeDir: String,
                               parts: Seq[String], key: String): Option[DataFrame] =
    GenStore.readSub(spark, storeDir, parts, "opens").map { opens =>
      GenStore.readSub(spark, storeDir, parts, "closes") match {
        case None => opens
          .withColumn("valid_to", lit(null).cast("long"))
          .withColumn("is_current", lit(true))
        case Some(closes) => opens
          .join(closes.select(col(key), col("valid_from"),
            col("valid_to").as("__vt")), Seq(key, "valid_from"), "left")
          .withColumn("valid_to", col("__vt")).drop("__vt")
          .withColumn("is_current", col("valid_to").isNull)
      }
    }

  /** Apply one snapshot batch. `batch` carries (key, attrs...). */
  def processBatch(batch: DataFrame, batchId: Long, key: String,
                   attrs: Seq[String], storeDir: String): Unit = {
    val spark = batch.sparkSession
    val u = batch.select((key +: attrs).map(col): _*).dropDuplicates(key)
    val prior = GenStore.storeParts(spark, storeDir, "IncrementalScd2", batchId)
    val hist = historyFromParts(spark, storeDir, prior, key)
    var cached: Option[DataFrame] = None
    val (opens, closes) = hist match {
      case None =>
        (u.withColumn("valid_from", lit(batchId)),
          u.limit(0).select(col(key), lit(0L).as("valid_from"),
            lit(0L).as("valid_to")))
      case Some(h) =>
        val current = h.filter(col("is_current")).cache()
        cached = Some(current)
        val uRenamed = u.select(col(key) +: attrs.map(a => col(a).as(s"__u_$a")): _*)
        val joined = current.join(uRenamed, Seq(key), "right")
        val attrDiffers = attrs.map(a => !(col(a) <=> col(s"__u_$a"))).reduce(_ || _)
        val opening = joined.filter(col("is_current").isNull || attrDiffers)
          .select(col(key) +: attrs.map(a => col(s"__u_$a").as(a)): _*)
          .withColumn("valid_from", lit(batchId))
        val closing = joined.filter(col("is_current").isNotNull && attrDiffers)
          .select(col(key))
        val closed = current.join(closing, Seq(key))
          .select(col(key), col("valid_from"), lit(batchId).as("valid_to"))
        (opening, closed)
    }
    val dir = GenStore.batchDir(storeDir, batchId)
    opens.write.mode("overwrite").parquet(s"$dir/opens")
    closes.write.mode("overwrite").parquet(s"$dir/closes")
    cached.foreach(_.unpersist(blocking = false))
  }

  /** Wire a snapshot stream into the dimension store. `autoCompactEvery`
    * > 0 folds live batches whenever that many have accumulated
    * ([[GenStore.autoCompact]] — replay-safe).
    */
  def start(stream: DataFrame, key: String, attrs: Seq[String],
            storeDir: String, checkpointDir: String,
            autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, storeDir, id, autoCompactEvery) {
          compact(df.sparkSession, storeDir)
        }
        processBatch(df.toDF(), id, key, attrs, storeDir)
      }
      .start()

  /** The full SCD2 history (key, attrs..., valid_from, valid_to,
    * is_current) reconstructed from the delta store.
    */
  def history(spark: SparkSession, storeDir: String, key: String): DataFrame =
    historyFromParts(spark, storeDir,
      GenStore.storeParts(spark, storeDir, "IncrementalScd2"), key)
      .getOrElse(sys.error(s"IncrementalScd2 store empty: $storeDir"))

  /** Point-in-time image at `version` ([[Scd2.asOf]] over [[history]]). */
  def asOf(spark: SparkSession, storeDir: String, key: String,
           version: Long): DataFrame =
    Scd2.asOf(history(spark, storeDir, key), version)

  /** Fold live batch deltas into the next generation ([[GenStore]]). */
  def compact(spark: SparkSession, storeDir: String): Unit =
    GenStore.compact(spark, storeDir, Seq(GenStore.Sub("opens"), GenStore.Sub("closes")))
}
