package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.SimSearch

/** Streaming maintenance of an on-disk PRODUCT-QUANTIZED similarity
  * store — [[IncrementalIvf]]'s sibling for the compressed-code tier:
  * embeddings arrive continuously, each micro-batch is ENCODED against
  * the current committed codebooks and appended, probes score codes by
  * ADC and rerank survivors exactly, and — the round-12 addition — the
  * codebooks themselves REFRESH under the same committed-generation
  * protocol centroids already use, so the store tracks distribution
  * drift instead of decaying on train-once codebooks.
  *
  * Layout: one row per vector — (id, __ne full-precision unit vector,
  * codes array of `nSub` codeword ids). Parquet is columnar, so the
  * ADC scan reads ONLY (id, codes) bytes — `nSub` bytes of code per
  * vector, the PQ compression story — while __ne is touched just for
  * the |Q|·k·rerank candidate rows (and by [[refresh]], which is WHY
  * the raw column lives here: codes cannot be retrained into a new
  * codebook space, their source vectors can — the standard hot-codes/
  * cold-vectors split collapsed into one columnar file).
  *
  * Versioned-codebook resolution (the [[IncrementalIvf.latestCentroids]]
  * discipline): a [[refresh]] commits retrained codebooks BESIDE the
  * generation it re-encodes (`v=G.codebooks`); ingestion and probes
  * resolve the committed set first and fall back to the caller's frame
  * only for a never-refreshed store — otherwise post-refresh batches
  * would encode in the superseded space while probes score in the new
  * one (IncrementalPqSpec pins post-refresh ingestion/probe equality).
  * Batches, generations and the codebook sidecar follow [[GenStore]].
  */
object IncrementalPq {

  /** Subspaces (= code bytes/vector) and codewords per subspace; fixed
    * per store (the codebook SHAPE is structural; only the codeWORDS
    * refresh).
    */
  val NSub = 8
  val NCodes = 16

  private val Codebooks = "codebooks"

  /** The codebooks committed with the newest generation, when that
    * generation was produced by [[refresh]] or carried forward by
    * [[compact]].
    */
  def latestCodebooks(spark: SparkSession, storeDir: String): Option[DataFrame] =
    GenStore.latestSidecar(spark, storeDir, Codebooks)

  /** Train initial codebooks from a bootstrap corpus (the [[SimSearch.pqTopK]]
    * seeding + subspace-Lloyd discipline, factored through
    * [[SimSearch.pqTrainBooks]]).
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                     dim: Int, iters: Int = 2): DataFrame = {
    require(dim % NSub == 0, s"dim $dim must split evenly into $NSub subspaces")
    val c = SimSearch.unitized(corpus, idCol, embCol, idCol, "__ne").cache()
    val subs = SimSearch.pqSubSplit(c, idCol, "__ne", NSub, dim / NSub).cache()
    val books = SimSearch.pqTrainBooks(c, subs, idCol, NSub, dim / NSub,
      NCodes, iters)
    subs.unpersist(blocking = false)
    c.unpersist(blocking = false)
    books
  }

  /** Encode unitized (id, __ne) rows to (id, __ne, codes). */
  private def encode(unit: DataFrame, books: DataFrame, idCol: String,
                     dim: Int): DataFrame = {
    val codes = SimSearch.pqNearestCode(
        SimSearch.pqSubSplit(unit, idCol, "__ne", NSub, dim / NSub),
        books, idCol)
      .groupBy(idCol)
      // m-ordered code array: one (m, code) per subspace, sort is exact
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))
    unit.join(codes, idCol).select(col(idCol), col("__ne"), col("codes"))
  }

  /** Assign one arriving slice to codes and commit it to the store.
    * `books` is the fallback for a never-refreshed store; a committed
    * `v=G.codebooks` set always wins (see object doc).
    */
  def processBatch(batch: Dataset[Row], batchId: Long, books: DataFrame,
                   idCol: String, embCol: String, storeDir: String,
                   dim: Int): Unit = {
    val live = latestCodebooks(batch.sparkSession, storeDir).getOrElse(books)
    val unit = SimSearch.unitized(batch.toDF(), idCol, embCol, idCol, "__ne")
    encode(unit, live, idCol, dim)
      .write.mode("overwrite").parquet(GenStore.batchDir(storeDir, batchId))
  }

  /** Wire an embeddings stream into the store ([[GenStore.autoCompact]]
    * folds live batches whenever `autoCompactEvery` have accumulated).
    */
  def start(stream: DataFrame, books: DataFrame, idCol: String,
            embCol: String, storeDir: String, checkpointDir: String,
            dim: Int, autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, storeDir, id, autoCompactEvery) {
          compact(df.sparkSession, storeDir)
        }
        processBatch(df, id, books, idCol, embCol, storeDir, dim)
      }
      .start()

  /** The store as one frame: latest committed generation + live batches. */
  def readStore(spark: SparkSession, storeDir: String): DataFrame =
    GenStore.read(spark, storeDir, "IncrementalPq")

  /** Top-K probe: ADC over the stored codes (scan touches only the
    * (id, codes) columns), k·`rerankFactor` survivors rescored on the
    * exact stored vectors — [[SimSearch.pqTopKRerank]] semantics
    * against the persisted store instead of a per-call encode.
    */
  def probe(spark: SparkSession, storeDir: String, queries: DataFrame,
            books: DataFrame, idCol: String, embCol: String, k: Int,
            dim: Int, rerankFactor: Int = 4): DataFrame = {
    val live = latestCodebooks(spark, storeDir).getOrElse(books)
    val store = readStore(spark, storeDir)
    val codeRows = store.select(col(idCol),
        posexplode(col("codes")).as(Seq("m", "code")))
    val cand = SimSearch.pqAdcTopK(codeRows, live, queries, idCol, embCol,
        k * rerankFactor, NSub, dim / NSub)
      .select(col("query_id"), col(idCol))
    val qv = SimSearch.unitized(queries, idCol, embCol, "query_id", "__qe")
    val exact = cand.join(store.select(col(idCol), col("__ne")), idCol)
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col(idCol),
        round(graft.engine.expressions.DotProduct.dot(
          col("__qe"), col("__ne")), 6).as("cos_sim"))
    graft.ops.TopK.exactPerKey(exact, Seq("query_id"),
      Seq(col("cos_sim").desc, col(idCol).asc), k, "rnk")
      .withColumn("rnk", col("rnk").cast("int"))
  }

  /** Fold every live batch into generation latest+1, carrying the
    * committed codebooks forward ([[GenStore.compact]]): the folded
    * codes are still assigned in that codebook space.
    */
  def compact(spark: SparkSession, storeDir: String): Unit =
    GenStore.compact(spark, storeDir, Seq(GenStore.Sub()), Some(Codebooks))

  /** Codebook REFRESH — the drift answer: retrain the codebooks from
    * the STORED full-precision vectors (id-order seeds + subspace
    * Lloyd, the exact [[trainCodebooks]] discipline over the captured
    * read set), re-encode every stored vector against them, and commit
    * the rebuilt store + codebooks as one versioned generation
    * ([[GenStore.commitRebuild]]); subsequent ingestion/probes resolve
    * the refreshed set atomically ([[latestCodebooks]]).
    *
    * Cost: one full-store read + iters+1 assignment passes + one
    * rewrite — run at drift cadence, not batch cadence (the
    * [[IncrementalIvf.refresh]] economics). Same concurrency contract
    * as centroids: quiesce ingestion across the codebook-space switch.
    *
    * @return the refreshed codebooks
    */
  def refresh(spark: SparkSession, storeDir: String, idCol: String,
              dim: Int, iters: Int = 2): DataFrame = {
    val rs = GenStore.readSet(spark, storeDir)
    val c = rs.read(spark).select(col(idCol), col("__ne")).cache()
    val subs = SimSearch.pqSubSplit(c, idCol, "__ne", NSub, dim / NSub).cache()
    // spreadSeeds: store ids correlate with arrival order, so lowest-id
    // seeding would retrain on the OLDEST distribution — hash-spread
    // seeds represent the drifted tail too (SimSearch.pqTrainBooks doc)
    val books = SimSearch.pqTrainBooks(c, subs, idCol, NSub, dim / NSub,
      NCodes, iters, spreadSeeds = true)
    GenStore.commitRebuild(spark, rs, GenStore.Sub(), encode(c, books, idCol, dim),
      Codebooks, books)
    subs.unpersist(blocking = false)
    c.unpersist(blocking = false)
    books
  }
}
