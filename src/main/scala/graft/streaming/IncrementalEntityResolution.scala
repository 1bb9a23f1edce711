package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.expressions.JaroWinkler
import graft.ops.EntityResolution

/** Streaming entity resolution — the continuous form of q167/q168:
  * entity names arrive in micro-batches and every name is resolved to a
  * CANONICAL name maintained across the stream. The canonical set grows
  * by admission: a new name either fuzzy-matches an existing canonical
  * (Jaro-Winkler ≥ threshold inside its block and length band) and maps
  * to it, or founds a new canonical. This is the live product-catalog /
  * merchant-directory shape: yesterday's canonicals must not churn when
  * today's variants arrive.
  *
  * Reference counterpart: none — the reference normalizes names only
  * inside one static frame (trim/upper, the q38 join); continuous
  * canonicalization is the brief's pipeline extension.
  *
  * Decision policy (deterministic, documented):
  *  1. RE-ARRIVAL — a name already decided in the store keeps its
  *     mapping and writes nothing (canonical assignments are stable
  *     forever).
  *  2. HISTORY SCREEN — a fresh name that matches existing canonicals
  *     (same block, length band, JW ≥ threshold) maps to the
  *     lexicographically smallest match.
  *  3. IN-BATCH — the remaining fresh names run the q167 blocked fuzzy
  *     self-join; components ([[EntityResolution.canonicalize]]) admit
  *     their minimum name as a NEW canonical, the rest map to it.
  *
  * Like all incremental ER, assignment depends on arrival order (a
  * batch boundary can split what one batch would cluster — step 2
  * matches against canonicals, not against every mapped variant); what
  * the policy DOES guarantee, spec-pinned:
  *  - no two admitted canonicals in the same block and length band sit
  *    at or above the threshold (each was screened against all earlier
  *    canonicals, and in-batch co-admits come from distinct components);
  *  - a replayed batch rewrites byte-identical decisions;
  *  - a stream delivered as ONE batch reproduces the batch
  *    [[EntityResolution.canonicalize]] exactly.
  *
  * Store layout under `storeDir` (append-only, one dir per batch):
  * {{{
  *   batch=N/canon/bk=K/  (name)            — canonicals admitted by batch N,
  *                        hive-partitioned by bk = block-key bucket
  *   batch=N/map/         (name, canonical) — decisions for batch N's fresh names
  *   _compacted/v=G/      both sub-stores folded by [[compact]]
  * }}}
  * Batches and generations follow [[GenStore]]; replaying a folded
  * batch fails fast (it would screen against its own output).
  *
  * 100 TB shape: the store holds the entity VOCABULARY (names), not
  * facts. The history screen prunes the canonical read to the batch's
  * own block buckets (driver pull bounded by `blkBuckets`, the
  * [[IncrementalDedup]] bucket-gate discipline) and joins on the block
  * key — a small batch against a huge directory reads only the blocks
  * it can match in. Fact tables join the compacted `map` by exact name
  * (broadcast at vocabulary scale).
  */
object IncrementalEntityResolution {

  /** @param threshold  Jaro-Winkler admission threshold (q167 default)
    * @param maxLenDiff length band inside a block
    * @param blkBuckets hive partitions of the canonical store; also the
    *                   bound on the per-batch driver pull
    */
  final case class Config(threshold: Double = 0.86, maxLenDiff: Int = 3,
                          blkBuckets: Int = 64)

  /** Block key: first character (the q167 scheme — swap here to change
    * the blocking for the whole store, then reset it).
    */
  private def blk(name: org.apache.spark.sql.Column) = substring(name, 1, 1)

  private def bk(name: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(blk(name)), lit(buckets)).cast("int")

  private val Store = "IncrementalEntityResolution"

  /** Resolve one micro-batch of names and commit its decisions. */
  def processBatch(batch: DataFrame, batchId: Long, nameCol: String,
                   storeDir: String, cfg: Config = Config()): Unit = {
    val spark = batch.sparkSession
    JaroWinkler.register(spark)

    val names = batch.select(trim(col(nameCol)).as("name"))
      .filter(length(col("name")) > 0).distinct()
      .select(col("name"), bk(col("name"), cfg.blkBuckets).as("bk"),
        blk(col("name")).as("__blk"), length(col("name")).as("__len"))
      .cache()

    val prior = GenStore.storeParts(spark, storeDir, Store, batchId)

    // ---- 1. re-arrivals keep their mapping, write nothing ------------
    val fresh = GenStore.readSub(spark, storeDir, prior, "map") match {
      case None => names
      case Some(histMap) =>
        names.join(histMap.select(col("name")), Seq("name"), "left_anti")
    }
    val freshCached = fresh.cache()

    // ---- 2. history screen against existing canonicals ---------------
    val histMatched: DataFrame = GenStore.readSub(spark, storeDir, prior, "canon") match {
      case None => freshCached.limit(0).select(col("name"),
        col("name").as("canonical"))
      case Some(allCanon) =>
        // Bounded driver pull: this batch's distinct block buckets
        // (≤ blkBuckets values) prune the canonical-store scan.
        val bkSet = freshCached.select("bk").distinct().collect().map(_.getInt(0)).toSeq
        val canon = allCanon.filter(col("bk").isin(bkSet: _*))
          .select(col("name").as("__cn"), col("bk"),
            blk(col("name")).as("__cblk"), length(col("name")).as("__clen"))
        freshCached.join(canon, Seq("bk"))
          .filter(col("__blk") === col("__cblk") &&
            abs(col("__len") - col("__clen")) <= cfg.maxLenDiff &&
            JaroWinkler.jaroWinkler(col("name"), col("__cn")) >= cfg.threshold)
          .groupBy("name").agg(min(col("__cn")).as("canonical"))
    }
    val histMatchedCached = histMatched.cache()

    // ---- 3. in-batch resolution of the unmatched ---------------------
    val un = freshCached.join(histMatchedCached.select("name"), Seq("name"), "left_anti")
      .select("name")
    val pairs = EntityResolution.blockedFuzzyPairs(
      un, "name", blk(col("name")), cfg.threshold, cfg.maxLenDiff)
    val inBatch = EntityResolution.canonicalize(un, "name", pairs)

    // ---- commit -------------------------------------------------------
    val dir = GenStore.batchDir(storeDir, batchId)
    val decisions = histMatchedCached.unionByName(inBatch)
    decisions.write.mode("overwrite").parquet(s"$dir/map")
    inBatch.filter(col("name") === col("canonical"))
      .select(col("name"), bk(col("name"), cfg.blkBuckets).as("bk"))
      .write.mode("overwrite").partitionBy("bk").parquet(s"$dir/canon")

    // inBatch rides canonicalize's lazy-return cache — release it with
    // the batch's own caches so nothing accumulates across the stream
    Seq(names, freshCached, histMatchedCached, inBatch)
      .foreach(_.unpersist(blocking = false))
  }

  /** Wire a name stream into the canonical store. `autoCompactEvery`
    * > 0 folds live batches whenever that many have accumulated
    * ([[GenStore.autoCompact]] — replay-safe).
    */
  def start(stream: DataFrame, nameCol: String, storeDir: String,
            checkpointDir: String, cfg: Config = Config(),
            autoCompactEvery: Int = 0)
  : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: Dataset[Row], id: Long) =>
        GenStore.autoCompact(df.sparkSession, storeDir, id, autoCompactEvery) {
          compact(df.sparkSession, storeDir)
        }
        processBatch(df.toDF(), id, nameCol, storeDir, cfg)
      }
      .start()

  /** The full (name, canonical) mapping across the store. */
  def resolve(spark: SparkSession, storeDir: String): DataFrame =
    GenStore.read(spark, storeDir, Store, "map")

  /** All admitted canonical names (with their block bucket). */
  def canonicals(spark: SparkSession, storeDir: String): DataFrame =
    GenStore.read(spark, storeDir, Store, "canon")

  /** Fold live batches into the next generation ([[GenStore.compact]]);
    * keeps the canonical-store read O(blkBuckets) files. Call between
    * batches.
    */
  def compact(spark: SparkSession, storeDir: String): Unit =
    GenStore.compact(spark, storeDir,
      Seq(GenStore.Sub("canon", Some("bk")), GenStore.Sub("map")))
}
