package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.TextOps

/** Streaming maintenance of an on-disk INVERTED TEXT INDEX with BM25
  * probes — the lexical-retrieval sibling of [[IncrementalIvf]] (dense)
  * and [[IncrementalPq]] (compressed): documents arrive continuously,
  * each micro-batch appends its postings to a TERM-BUCKET-partitioned
  * store, and a query reads ONLY its terms' bucket partitions.
  *
  * Layout — two sibling [[GenStore]] stores under one root:
  *  - `root/postings`: (bucket, term, doc_id, tf, dl) rows,
  *    hive-partitioned by `bucket = pmod(xxhash64(term), nBuckets)`.
  *    ALL postings of a term live in exactly one bucket, so a probe's
  *    `bucket IN (…)` is directory pruning AND the per-term df
  *    computed from the probed partitions is the term's FULL df.
  *  - `root/stats`: one (n_docs, sum_dl) partial row per batch —
  *    additive, so corpus N and avgdl are a sum over a handful of
  *    tiny files, never a scan of the index (the [[graft.ops.IncrementalAgg]]
  *    partial-merge discipline). Termless documents count here even
  *    though they emit no postings.
  *
  * 100 TB shape: per batch the work is tokenize + one partitioned
  * write (no shuffle of the existing index); a probe reads
  * |terms|/nBuckets of the index directories, scores only matched
  * postings, and ranks with a TakeOrdered — no global sort, no
  * full-index pass anywhere. Both sub-stores fold independently, each
  * individually consistent, so a probe racing ingestion sees at most
  * one batch's postings/stats skew — bounded staleness, exact at rest
  * (IncrementalIndexSpec pins probe equality with the batch
  * [[graft.llm.Bm25]] scorer).
  */
object IncrementalIndex {

  val NBuckets = 64

  private def postingsDir(root: String) = s"$root/postings"
  private def statsDir(root: String) = s"$root/stats"

  private def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(NBuckets)).cast("int")

  /** Tokenize one arriving slice and commit postings + stats. */
  def processBatch(batch: Dataset[Row], batchId: Long, idCol: String,
                   textCol: String, root: String): Unit = {
    val toks = batch.toDF().select(col(idCol).as("doc_id"),
      TextOps.tokenize(col(textCol)).as("__toks"))
      .withColumn("dl", size(col("__toks")))
    val postings = toks
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).cast("int").as("tf"))
      .withColumn("bucket", bucketOf(col("term")))
    postings.write.mode("overwrite").partitionBy("bucket")
      .parquet(GenStore.batchDir(postingsDir(root), batchId))
    toks.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .write.mode("overwrite").parquet(GenStore.batchDir(statsDir(root), batchId))
  }

  /** Wire a documents stream into the index. */
  def start(stream: DataFrame, idCol: String, textCol: String, root: String,
            checkpointDir: String, autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, postingsDir(root), id, autoCompactEvery) {
          compact(df.sparkSession, root)
        }
        processBatch(df, id, idCol, textCol, root)
      }
      .start()

  /** The postings relation (bucket, term, doc_id, tf, dl). */
  def readPostings(spark: SparkSession, root: String): DataFrame =
    GenStore.read(spark, postingsDir(root), "IncrementalIndex")

  /** BM25 top-k for `terms` against the on-disk index: the probe scan
    * is pruned to the terms' bucket partitions, df comes from those
    * partitions (complete per term by bucketing), N/avgdl from the
    * additive stats store, and the final rank is a TakeOrdered of the
    * matched docs only. Scoring formula and constants are EXACTLY
    * [[graft.llm.Bm25.score]]'s, with contributions summed in TERM
    * ORDER (a pivot on the bounded term list) so the floats match the
    * batch scorer's fixed column-order fold.
    */
  def probe(spark: SparkSession, root: String, terms: Seq[String], k: Int,
            k1: Double = graft.llm.Bm25.K1, b: Double = graft.llm.Bm25.B)
  : DataFrame = {
    require(terms.nonEmpty, "probe needs at least one term")
    // terms become pivot column names below — a backtick would escape
    // the quoting and resolve the wrong column
    require(terms.forall(!_.contains("`")), "terms must not contain backticks")
    val buckets = terms.map(t =>
      java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(t),
          org.apache.spark.sql.types.StringType, 42L), NBuckets.toLong).toInt)
    val stats = GenStore.read(spark, statsDir(root), "IncrementalIndex")
      .agg(sum(col("n_docs")).as("__n"), sum(col("sum_dl")).as("__sdl"))
      .select(col("__n"), (col("__sdl").cast("double") / col("__n")).as("__avgdl"))
    val matched = readPostings(spark, root)
      .filter(col("bucket").isin(buckets.distinct: _*))
      .filter(col("term").isin(terms: _*))
    val df = matched.groupBy("term").agg(count(lit(1)).as("__df"))
    val scored = matched.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("__norm",
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("__avgdl")))
      .withColumn("__idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      .withColumn("__c",
        col("__idf") * (col("tf") * lit(k1 + 1.0)) / (col("tf") + col("__norm")))
      // term-ordered sum via pivot: one contribution per (doc, term),
      // folded left in the caller's term order — bit-identical to the
      // batch scorer's fixed column-order addition. Pivot values carry
      // a reserved "__t_" prefix: a raw term literally equal to
      // "doc_id" or "dl" would otherwise duplicate a groupBy column
      // name and break resolution of the summed columns below.
      .groupBy("doc_id", "dl")
      .pivot(concat(lit("__t_"), col("term")),
        terms.distinct.map(t => ("__t_" + t): Any))
      .agg(first(col("__c")))
    val total = terms.distinct
      .map(t => coalesce(col(s"`__t_$t`"), lit(0.0)))
      .reduceLeft(_ + _)
    import org.apache.spark.sql.expressions.Window
    scored.select(col("doc_id"), col("dl"), round(total, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("int"))
  }

  /** Fold live batches of BOTH sub-stores into new generations. */
  def compact(spark: SparkSession, root: String): Unit = {
    GenStore.compact(spark, postingsDir(root), Seq(GenStore.Sub(partitionBy = Some("bucket"))))
    GenStore.compact(spark, statsDir(root), Seq(GenStore.Sub()))
  }
}
