package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The version protocol of the fold-and-commit stores
  * ([[IncrementalCountMin]], [[IncrementalHll]], [[IncrementalQuantile]],
  * [[IncrementalLogHistogram]], [[IncrementalDailyMoments]],
  * [[IncrementalComponents]], [[IncrementalForecast]],
  * [[IncrementalCooccur]]): each store keeps one directory `v=N` per
  * micro-batch, and batch N derives its version ONLY from `v=N−1` and
  * the batch data.
  *
  * Exactly-once: batch N OVERWRITES its own `v=N` ([[commit]]), so a
  * crash-replayed batch rewrites an identical version instead of
  * double-counting; a missing non-initial predecessor fails fast rather
  * than silently restarting the store from only the live batch.
  *
  * Torn writes: `v=N` may exist on disk although the job died
  * mid-commit. Completeness is read off the `_SUCCESS` marker Spark's
  * FileOutputCommitter writes LAST (after every task file is moved into
  * place) — present ⇒ a complete committed version; absent ⇒ torn, and
  * the read fails fast. Idempotent merges (register max, label union)
  * do NOT defend against this: torn means ROWS ARE MISSING, and groups
  * absent from the partial files would vanish from every later version
  * (for summed cells, a silent permanent under-count). Recovery is the
  * overwrite itself: replaying the torn version's batch rewrites it
  * whole, which is what a restarted stream's checkpoint does with the
  * uncommitted batch. Requires the default
  * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true` (these
  * stores never disable it).
  */
private[streaming] object StoreProtocol {

  def versionDir(storeDir: String, version: Long) = s"$storeDir/v=$version"

  /** Committed version `version` of `store`, one frame per leg. A
    * multi-leg store writes each leg (a sub-directory of `v=N`) with its
    * own commit, so each carries its own marker; `Nil` reads `v=N` as
    * one leg. Fails fast when the version is missing or any leg is torn.
    */
  def readLegs(spark: SparkSession, storeDir: String, version: Long,
               store: String, legs: Seq[String]): Seq[DataFrame] = {
    val dir = versionDir(storeDir, version)
    val fs = GenStore.fsOf(spark, dir)
    if (!fs.exists(new Path(dir))) throw new IllegalStateException(
      s"$store store version missing: $dir does not exist. Refusing to " +
        "restart the store from only the live batch — restore the store " +
        "or reset checkpoint+store together.")
    val paths = if (legs.isEmpty) Seq(dir) else legs.map(l => s"$dir/$l")
    for (p <- paths if !fs.exists(new Path(p, "_SUCCESS")))
      throw new IllegalStateException(
        s"$store store version torn: $p exists without its _SUCCESS " +
          s"commit marker — a crash mid-write. Replay batch $version to " +
          "rewrite the version (the overwrite protocol recovers it); " +
          "refusing to read a partial version.")
    paths.map(spark.read.parquet(_))
  }

  /** Committed single-leg version `version` (see [[readLegs]]). */
  def read(spark: SparkSession, storeDir: String, version: Long,
           store: String): DataFrame =
    readLegs(spark, storeDir, version, store, Nil).head

  /** The predecessor batch `batchId` folds into: None for batch 0. */
  def readPrev(spark: SparkSession, storeDir: String, batchId: Long,
               store: String): Option[DataFrame] =
    if (batchId == 0) None else Some(read(spark, storeDir, batchId - 1, store))

  /** Overwrite `v=batchId` with `df` and return the committed version
    * as re-read from disk.
    */
  def commit(df: DataFrame, storeDir: String, batchId: Long): DataFrame = {
    df.write.mode("overwrite").parquet(versionDir(storeDir, batchId))
    df.sparkSession.read.parquet(versionDir(storeDir, batchId))
  }
}
