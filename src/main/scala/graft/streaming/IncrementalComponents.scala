package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.ConnectedComponents

/** Incrementally maintained connected components — the streaming form
  * of the entity/dedup graph substrate (q77/q99/q161 run CC batch;
  * this keeps the same labels current as edges ARRIVE: new identity
  * links merge clusters without recomputing over the full edge
  * history).
  *
  * The star-contraction argument that makes a label store sufficient:
  * after batch N−1 every component is stored as a STAR (node →
  * min-id root), and a star has the same connectivity as the original
  * component's edges. So CC over (stored star edges ∪ new batch
  * edges) equals CC over the FULL edge history — and because every
  * historical node appears in its star, the min-id label is the
  * min over the whole history, i.e. versions are BIT-IDENTICAL to a
  * from-scratch recompute (spec-pinned). Work per batch is sized by
  * |labels| + |batch edges| — the edge history itself is never
  * re-read, never even retained.
  *
  * At 100 TB the practical win compounds: the stored star set has one
  * row per NODE (not per historical edge), and
  * [[ConnectedComponents.labelPropagation]] resolves the union with
  * its observed-diameter switch — near-clique merges converge in 1–2
  * rounds because the stars are already depth-1.
  *
  * Versions follow [[StoreProtocol]]: recomputing from only the live
  * batch while earlier versions existed would silently split every
  * previously-merged cluster.
  */
object IncrementalComponents {

  private val labelSchema = StructType(Seq(
    StructField("node", LongType), StructField("component", LongType)))

  /** Merge one batch of edges into the store: version N's labels = CC
    * over (version N−1's stars ∪ batch edges). Pure in (store version
    * N−1, batch) — replay-idempotent. Returns the committed labels.
    */
  def processBatch(batch: Dataset[Row], batchId: Long, storeDir: String,
                   srcCol: String = "s", dstCol: String = "t"): DataFrame = {
    val spark = batch.sparkSession
    val stars = StoreProtocol.readPrev(spark, storeDir, batchId, "IncrementalComponents")
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], labelSchema))
      .select(col("node").as("__s"), col("component").as("__t"))
    val e = batch.toDF()
      .select(col(srcCol).cast("long").as("__s"), col(dstCol).cast("long").as("__t"))
      .unionByName(stars)
    val labels = ConnectedComponents.labelPropagation(e, "__s", "__t")
    StoreProtocol.commit(labels, storeDir, batchId)
  }

  /** Wire an edge stream into the incremental maintainer. */
  def start(stream: DataFrame, storeDir: String, checkpointDir: String,
            srcCol: String = "s", dstCol: String = "t")
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        processBatch(df, id, storeDir, srcCol, dstCol): Unit
      }
      .start()
}
