package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{IncrementalAgg, TopK}

/** Incrementally maintained item-item co-occurrence (the q157 artifact,
  * kept current as orders arrive): each micro-batch contributes its
  * orders' pair counts, part counts and order count, summed into a
  * versioned parquet store — the ingestion shape of a recommendations
  * table that updates continuously instead of recomputing from the full
  * history.
  *
  * REQUIREMENT (documented, asserted by the spec's staging): each order
  * arrives atomically within one micro-batch — pairs are generated
  * within an order, so an order split across batches would undercount
  * its pairs. Order-atomic delivery is the natural shape of
  * transactional CDC ingestion.
  *
  * Versions follow [[StoreProtocol]], with three legs per version
  * (`pairs`, `parts`, `meta`), each committed by its own write.
  */
object IncrementalCooccur {

  private val pairSchema = StructType(Seq(
    StructField("pa", LongType), StructField("pb", LongType),
    StructField("n_ab", LongType)))
  private val partSchema = StructType(Seq(
    StructField("p", LongType), StructField("c", LongType)))
  private val metaSchema = StructType(Seq(StructField("n_orders", LongType)))

  /** One micro-batch's contribution from (l_orderkey, l_partkey) rows:
    * distinct per-order part sets → pair counts (pa < pb), per-part
    * order counts, and the batch's order count.
    */
  def batchCounts(batch: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val li = batch.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairs = li.select(col("o"), col("p").as("pa"))
      .join(li.select(col("o"), col("p").as("pb")), "o")
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
    val parts = li.groupBy("p").agg(count(lit(1)).as("c"))
    val meta = li.agg(countDistinct("o").as("n_orders"))
    (pairs, parts, meta)
  }

  /** The predecessor store (empty frames for batch 0). */
  def readStore(spark: SparkSession, storeDir: String,
                batchId: Long): (DataFrame, DataFrame, DataFrame) =
    if (batchId == 0) {
      def empty(s: StructType) = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      (empty(pairSchema), empty(partSchema), empty(metaSchema))
    } else {
      val legs = StoreProtocol.readLegs(spark, storeDir, batchId - 1,
        "IncrementalCooccur", Seq("pairs", "parts", "meta"))
      (legs(0), legs(1), legs(2))
    }

  /** Merge one batch into the store: version N = version N-1 + batch.
    * Pure in (store version N-1, batch) — replay-idempotent.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String): Unit = {
    val spark = batch.sparkSession
    val (prevPairs, prevParts, prevMeta) = readStore(spark, storeDir, batchId)
    val (dPairs, dParts, dMeta) = batchCounts(batch.toDF())
    val out = StoreProtocol.versionDir(storeDir, batchId)
    IncrementalAgg.merge(Seq(prevPairs, dPairs), Seq("pa", "pb"), sumCols = Seq("n_ab"))
      .write.mode("overwrite").parquet(s"$out/pairs")
    IncrementalAgg.merge(Seq(prevParts, dParts), Seq("p"), sumCols = Seq("c"))
      .write.mode("overwrite").parquet(s"$out/parts")
    IncrementalAgg.merge(Seq(prevMeta.withColumn("__k", lit(1)),
        dMeta.withColumn("__k", lit(1))), Seq("__k"), sumCols = Seq("n_orders"))
      .drop("__k")
      .write.mode("overwrite").parquet(s"$out/meta")
  }

  /** Top-k neighbors per part from a store version — q157's scoring
    * (lift, Jaccard, (n_ab desc, lift desc, pb) order) over the
    * maintained counts.
    */
  def neighbors(pairs: DataFrame, parts: DataFrame, meta: DataFrame,
                k: Int): DataFrame = {
    val sym = pairs.unionByName(pairs.select(col("pb").as("pa"),
      col("pa").as("pb"), col("n_ab")))
    val sc = sym
      .join(parts.select(col("p").as("pa"), col("c").as("ca")), "pa")
      .join(parts.select(col("p").as("pb"), col("c").as("cb")), "pb")
      .crossJoin(broadcast(meta))
      .select(col("pa"), col("pb"), col("n_ab"),
        (col("n_ab").cast("double") * col("n_orders") / (col("ca") * col("cb"))).as("lift"),
        (col("n_ab").cast("double") / (col("ca") + col("cb") - col("n_ab"))).as("jaccard"))
    TopK.exactPerKey(sc, Seq("pa"),
        Seq(col("n_ab").desc, col("lift").desc, col("pb").asc), k, "rnk")
      .select(col("pa").as("part_key"), col("pb").as("rec_part"),
        col("n_ab").cast("int").as("n_co"),
        round(col("lift"), 6).as("lift"), round(col("jaccard"), 6).as("jaccard"),
        col("rnk").cast("int").as("rnk"))
  }

  /** Wire a lineitem stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir)
      }
      .start()
}
