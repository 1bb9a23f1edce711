package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The generation protocol of the append-only stores
  * ([[IncrementalDedup]], [[IncrementalEntityResolution]],
  * [[IncrementalScd2]], [[IncrementalIndex]], [[IncrementalIvf]],
  * [[IncrementalPq]]).
  *
  * Layout under a store directory:
  * {{{
  *   batch=N/                one dir per micro-batch, each sub-store
  *                           (or the batch's data itself) inside it
  *   _compacted/v=G/         generation G: the same sub-stores, folded
  *   _compacted/v=G.manifest.json   {"gen":G,"max_batch":M} — the commit
  *   _compacted/v=G.<name>/  a sidecar committed with generation G
  *                           (IVF centroids, PQ codebooks)
  * }}}
  * The `_` prefix hides generations from any whole-directory scan. A
  * reader sees the newest generation with a COMMITTED manifest plus the
  * live `batch=N` dirs above its high-water mark M ([[storeParts]]),
  * one single-root read per part ([[readSub]]).
  *
  * Exactly-once: batch N derives only from parts below N and OVERWRITES
  * its own `batch=N`, so a crash-replayed batch rewrites identical
  * files. A fold ([[compact]], or a store's refresh through
  * [[commitRebuild]]) reads a CAPTURED read set ([[ReadSet]]) — never
  * a re-listing, which could fold a batch landing mid-fold yet leave it
  * above the new high-water mark, read twice ever after — writes
  * `v=G`, then its sidecar, then the manifest via create-then-RENAME:
  * the atomic read-switch point. Crash windows:
  *  - before the rename: the old generation stays visible, and a re-run
  *    overwrites the partial `v=G` data;
  *  - after the rename, before/inside [[cleanup]]: readers already
  *    exclude the folded batches, cleanup is idempotent and re-runs on
  *    the next fold.
  */
private[streaming] object GenStore {

  def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def batchDir(storeDir: String, batchId: Long) = s"$storeDir/batch=$batchId"
  private def compactedRoot(storeDir: String) = s"$storeDir/_compacted"
  private def genDir(storeDir: String, gen: Long) = s"${compactedRoot(storeDir)}/v=$gen"
  private def manifestPath(storeDir: String, gen: Long) =
    s"${genDir(storeDir, gen)}.manifest.json"
  private def sidecarDir(storeDir: String, gen: Long, name: String) =
    s"${genDir(storeDir, gen)}.$name"
  private def subDir(part: String, sub: String) = if (sub.isEmpty) part else s"$part/$sub"

  /** A sub-store: directory `name` inside every part ("" = the part
    * itself), hive-partitioned by `partitionBy` when set.
    */
  final case class Sub(name: String = "", partitionBy: Option[String] = None)

  /** The captured read set of one fold: the newest committed generation
    * (gen, maxBatch), if any, and the live batch ids above its mark.
    */
  final case class ReadSet(storeDir: String, prev: Option[(Long, Long)],
                           live: Seq[Long]) {
    def parts: Seq[String] =
      prev.map(p => genDir(storeDir, p._1)).toSeq ++ live.map(batchDir(storeDir, _))
    /** The generation a fold of this set commits. */
    def gen: Long = prev.fold(0L)(_._1) + 1
    def maxBatch: Long = live.lastOption.getOrElse(prev.fold(-1L)(_._2))
    /** The whole store as of this set. */
    def read(spark: SparkSession): DataFrame = readSub(spark, storeDir, parts)
      .getOrElse(sys.error(s"store empty: $storeDir"))
  }

  def readSet(spark: SparkSession, storeDir: String): ReadSet = {
    val prev = latestCompaction(spark, storeDir)
    ReadSet(storeDir, prev, liveBatchIds(spark, storeDir, prev.fold(-1L)(_._2)))
  }

  /** The newest generation with a COMMITTED manifest, as
    * (gen, maxBatchFolded) — uncommitted generations are invisible.
    */
  def latestCompaction(spark: SparkSession, storeDir: String): Option[(Long, Long)] = {
    val fs = fsOf(spark, storeDir)
    val root = new Path(compactedRoot(storeDir))
    if (!fs.exists(root)) return None
    val gens = fs.listStatus(root).map(_.getPath.getName)
      .collect { case name if name.startsWith("v=") && name.endsWith(".manifest.json") =>
        name.stripPrefix("v=").stripSuffix(".manifest.json").toLong }
    gens.sorted.reverse.headOption.map { g =>
      val in = fs.open(new Path(manifestPath(storeDir, g)))
      val body = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      val mb = "\"max_batch\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(body)
        .getOrElse(sys.error(s"malformed manifest for gen $g: $body")).group(1).toLong
      (g, mb)
    }
  }

  /** `batch=N` ids above `aboveBatch`, ascending. */
  private def liveBatchIds(spark: SparkSession, storeDir: String,
                   aboveBatch: Long): Seq[Long] = {
    val fs = fsOf(spark, storeDir)
    val root = new Path(storeDir)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).map(_.getPath.getName)
      .collect { case name if name.startsWith("batch=") =>
        name.stripPrefix("batch=").toLong }
      .filter(_ > aboveBatch).sorted.toSeq
  }

  /** Of `paths`, those that exist and contain at least one
    * non-underscore entry (a file-less root fails parquet inference).
    */
  private def nonEmptyPaths(spark: SparkSession, storeDir: String,
                    paths: Seq[String]): Seq[String] = {
    val fs = fsOf(spark, storeDir)
    paths.filter { p =>
      val hp = new Path(p)
      fs.exists(hp) && fs.listStatus(hp)
        .exists(st => !st.getPath.getName.startsWith("_"))
    }
  }

  /** The readable parts covering batches `< upTo`: the newest committed
    * generation plus the live `batch=N` dirs above its mark. FAILS FAST
    * when a generation has folded batch `upTo` itself or beyond —
    * replaying a batch after its output was folded would let it read its
    * own output as history; folds run between batches, never inside a
    * replay window.
    */
  def storeParts(spark: SparkSession, storeDir: String, store: String,
                 upTo: Long = Long.MaxValue): Seq[String] = {
    val rs = readSet(spark, storeDir)
    for ((g, mb) <- rs.prev if mb >= upTo) throw new IllegalStateException(
      s"$store: batch $upTo would replay but generation $g already folded " +
        s"batches <= $mb - its own output would be read as history. " +
        "Reset checkpoint+store together, or compact only between batches.")
    rs.copy(live = rs.live.filter(_ < upTo)).parts
  }

  /** Union of sub-store `sub` across `parts` — one single-root read per
    * part (sibling partitioned trees in one read trip partition
    * discovery), skipping parts without data. None when no part has any.
    */
  def readSub(spark: SparkSession, storeDir: String, parts: Seq[String],
              sub: String = ""): Option[DataFrame] = {
    val ps = nonEmptyPaths(spark, storeDir, parts.map(subDir(_, sub)))
    if (ps.isEmpty) None else Some(ps.map(spark.read.parquet(_)).reduce(_ unionByName _))
  }

  /** Sub-store `sub` of the whole store (generation + live batches). */
  def read(spark: SparkSession, storeDir: String, store: String,
           sub: String = ""): DataFrame =
    readSub(spark, storeDir, storeParts(spark, storeDir, store), sub)
      .getOrElse(sys.error(s"$store store empty: $storeDir"))

  /** The sidecar `name` committed with the newest generation, if any. */
  def latestSidecar(spark: SparkSession, storeDir: String,
                    name: String): Option[DataFrame] =
    latestCompaction(spark, storeDir).flatMap(g => readSidecar(spark, storeDir, g._1, name))

  private def readSidecar(spark: SparkSession, storeDir: String, gen: Long,
                          name: String): Option[DataFrame] =
    nonEmptyPaths(spark, storeDir, Seq(sidecarDir(storeDir, gen, name)))
      .headOption.map(spark.read.parquet(_))

  /** Size-triggered compaction for foreachBatch drivers: run
    * `compactFn` when the live `batch=N` count has reached
    * `minLiveBatches` (each micro-batch adds ≤1 file per bucket, so
    * thresholding live batches IS thresholding per-bucket file count —
    * a reader opens ≤ minLiveBatches + 1 files per bucket between
    * triggers). Called at the TOP of a foreachBatch body, before the
    * current batch's data is written.
    *
    * Replay safety: batches < batchId are durably committed by
    * Structured Streaming (batch N starts only after N−1's checkpoint
    * commit), so folding them can never race a replay. A batch dir
    * whose id == batchId means THIS invocation is a crash replay of an
    * uncommitted batch — folding it would double-count it when
    * processBatch rewrites the dir, so the trigger skips this cycle
    * and fires after the batch commits instead.
    */
  def autoCompact(spark: SparkSession, storeDir: String, batchId: Long,
                  minLiveBatches: Int)(compactFn: => Unit): Unit = {
    if (minLiveBatches <= 0) return
    val live = readSet(spark, storeDir).live
    if (live.size >= minLiveBatches && live.forall(_ < batchId)) compactFn
  }

  /** Fold every live batch into generation latest+1, sub-store by
    * sub-store, carrying the `sidecar` of the previous generation
    * forward (the folded data is still in its space, and cleanup deletes
    * everything of superseded generations). Empty micro-batches fold
    * trivially: the high-water mark advances past them so cleanup
    * removes them. No-op, except the idempotent cleanup re-run, when
    * nothing new arrived.
    */
  def compact(spark: SparkSession, storeDir: String, subs: Seq[Sub],
              sidecar: Option[String] = None): Unit = {
    val rs = readSet(spark, storeDir)
    val data = subs.flatMap(s => readSub(spark, storeDir, rs.parts, s.name).map(s -> _))
    if (rs.live.nonEmpty && data.nonEmpty)
      commit(spark, rs, data, for (n <- sidecar; (g, _) <- rs.prev;
        side <- readSidecar(spark, storeDir, g, n)) yield n -> side)
    cleanup(spark, storeDir)
  }

  /** Commit a REBUILD of `rs` — the store re-derived as `data` together
    * with a new sidecar `side` (a centroid or codebook refresh) — as
    * generation `rs.gen`, then clean up.
    */
  def commitRebuild(spark: SparkSession, rs: ReadSet, sub: Sub, data: DataFrame,
                    sidecar: String, side: DataFrame): Unit = {
    commit(spark, rs, Seq(sub -> data), Some(sidecar -> side))
    cleanup(spark, rs.storeDir)
  }

  private def commit(spark: SparkSession, rs: ReadSet, data: Seq[(Sub, DataFrame)],
                     sidecar: Option[(String, DataFrame)]): Unit = {
    val dst = genDir(rs.storeDir, rs.gen)
    for ((s, df) <- data) {
      val w = df.write.mode("overwrite")
      s.partitionBy.fold(w)(w.partitionBy(_)).parquet(subDir(dst, s.name))
    }
    for ((n, df) <- sidecar)
      df.write.mode("overwrite").parquet(sidecarDir(rs.storeDir, rs.gen, n))
    commitManifest(spark, rs.storeDir, rs.gen, rs.maxBatch)
  }

  /** Commit point: write `v=G.manifest.json` beside the generation data
    * via create-then-rename.
    */
  private def commitManifest(spark: SparkSession, storeDir: String, gen: Long,
                     maxBatch: Long): Unit = {
    val fs = fsOf(spark, storeDir)
    val tmp = new Path(manifestPath(storeDir, gen) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"""{"gen":$gen,"max_batch":$maxBatch}""".getBytes("UTF-8"))
    finally out.close()
    fs.rename(tmp, new Path(manifestPath(storeDir, gen)))
  }

  /** Every `_compacted` entry of one generation: `v=G` and any
    * `v=G.<suffix>` (manifest, sidecars, temp files).
    */
  private val GenEntry = """v=(\d+)(\..*)?""".r

  /** Idempotent post-commit cleanup: delete folded `batch=N` dirs (ids
    * ≤ the committed high-water mark) and every entry of superseded
    * generations.
    */
  private def cleanup(spark: SparkSession, storeDir: String): Unit =
    latestCompaction(spark, storeDir).foreach { case (gen, maxBatch) =>
      val fs = fsOf(spark, storeDir)
      liveBatchIds(spark, storeDir, -1L).filter(_ <= maxBatch)
        .foreach(b => fs.delete(new Path(batchDir(storeDir, b)), true))
      val root = new Path(compactedRoot(storeDir))
      if (fs.exists(root)) fs.listStatus(root).map(_.getPath).foreach { p =>
        p.getName match {
          case GenEntry(g, _) if g.toLong < gen => fs.delete(p, true)
          case _ =>
        }
      }
    }
}
