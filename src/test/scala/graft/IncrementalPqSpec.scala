package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.llm.SimSearch
import graft.streaming.IncrementalPq

/** The streaming PQ store: incremental encode must be replay-safe and
  * probe-consistent, the codebook refresh must recover recall lost to
  * distribution drift, and post-refresh ingestion must resolve the
  * COMMITTED codebooks (never the caller's stale frame).
  */
class IncrementalPqSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 64

  /** Clustered fixture around `nCenters` unit centers from `seed` —
    * the planted-structure regime where PQ codebooks matter.
    */
  private def clustered(seed: Int, n: Int, idFrom: Long): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
      .map { v => val nn = math.sqrt(v.map(x => x * x).sum); v.map(_ / nn) }
    (0 until n).map { i =>
      (idFrom + i,
        centers(i % 8).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def recallOf(store: String, corpus: org.apache.spark.sql.DataFrame,
                       queries: org.apache.spark.sql.DataFrame,
                       books: org.apache.spark.sql.DataFrame): Double = {
    val exact = SimSearch.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = IncrementalPq.probe(spark, store, queries, books,
        "vec_id", "embedding", k = 5, dim = dim, rerankFactor = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    exact.intersect(got).size.toDouble / exact.size
  }

  test("incremental encode is replay-idempotent and probe-consistent across compaction") {
    val dir = Files.createTempDirectory("pq_store").toString
    val corpus = clustered(seed = 3, n = 400, idFrom = 0L).cache()
    val books = IncrementalPq.trainCodebooks(corpus, "vec_id", "embedding", dim)
      .cache()
    val slices = Seq(corpus.filter(col("vec_id") < 150),
      corpus.filter(col("vec_id") >= 150 && col("vec_id") < 300),
      corpus.filter(col("vec_id") >= 300))
    slices.zipWithIndex.foreach { case (s, i) =>
      IncrementalPq.processBatch(s, i.toLong, books, "vec_id", "embedding", dir, dim)
    }
    // crash-replay: re-running a batch overwrites its own directory
    IncrementalPq.processBatch(slices(1), 1L, books, "vec_id", "embedding", dir, dim)
    assert(IncrementalPq.readStore(spark, dir).count() == 400)
    val queries = corpus.filter(col("vec_id") % 40 === 0)
    val before = IncrementalPq.probe(spark, dir, queries, books,
        "vec_id", "embedding", 5, dim)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    // the clustered regime: PQ-rerank recall is high
    assert(recallOf(dir, corpus, queries, books) >= 0.7)
    // compaction folds batches without changing a single probe row
    IncrementalPq.compact(spark, dir)
    // folded: the batch dirs are gone, the store reads one generation
    assert(new java.io.File(s"$dir/_compacted").exists())
    assert(!new java.io.File(s"$dir/batch=0").exists())
    assert(IncrementalPq.readStore(spark, dir).count() == 400)
    val after = IncrementalPq.probe(spark, dir, queries, books,
        "vec_id", "embedding", 5, dim)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(before == after, "compaction changed probe results")
    corpus.unpersist(); books.unpersist()
  }

  test("codebook refresh recovers drift recall; ingestion resolves committed codebooks") {
    val dir = Files.createTempDirectory("pq_drift").toString
    // bootstrap distribution A; codebooks trained on A only
    val a = clustered(seed = 5, n = 300, idFrom = 0L).cache()
    val booksA = IncrementalPq.trainCodebooks(a, "vec_id", "embedding", dim).cache()
    IncrementalPq.processBatch(a, 0L, booksA, "vec_id", "embedding", dir, dim)
    // DRIFT: distribution B (independent centers) arrives, encoded with
    // the stale A-codebooks
    val b = clustered(seed = 99, n = 300, idFrom = 1000L).cache()
    IncrementalPq.processBatch(b, 1L, booksA, "vec_id", "embedding", dir, dim)
    val full = a.unionByName(b)
    val bQueries = b.filter(col("vec_id") % 30 === 0)
    val stale = recallOf(dir, full, bQueries, booksA)
    // refresh: retrain from the stored vectors, re-encode, commit
    val refreshed = IncrementalPq.refresh(spark, dir, "vec_id", dim)
    val recovered = recallOf(dir, full, bQueries, booksA /* stale frame! */)
    // the probe resolved the COMMITTED refreshed codebooks even though
    // the caller passed the stale frame — and recall must not degrade
    // (B's structure is now in the codebooks; A-only books can't code it)
    assert(IncrementalPq.latestCodebooks(spark, dir).isDefined)
    assert(recovered >= stale,
      s"refresh degraded drift recall: $stale -> $recovered")
    assert(recovered >= 0.7, s"post-refresh recall $recovered still poor")
    // post-refresh ingestion encodes in the refreshed space: a new
    // batch written with the STALE fallback frame must carry codes
    // identical to encoding with the refreshed books
    val c = clustered(seed = 99, n = 60, idFrom = 5000L)
    IncrementalPq.processBatch(c, 2L, booksA, "vec_id", "embedding", dir, dim)
    val storedCodes = spark.read.parquet(s"$dir/batch=2")
      .select(col("vec_id"), col("codes")).as[(Long, Seq[Long])].collect().toMap
    val expected = {
      val unit = SimSearch.unitized(c, "vec_id", "embedding", "vec_id", "__ne")
      SimSearch.pqNearestCode(
          SimSearch.pqSubSplit(unit, "vec_id", "__ne",
            IncrementalPq.NSub, dim / IncrementalPq.NSub),
          refreshed, "vec_id")
        .groupBy("vec_id")
        .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
          x => x.getField("code")).as("codes"))
        .as[(Long, Seq[Long])].collect().toMap
    }
    assert(storedCodes == expected,
      "post-refresh batch was encoded in the superseded codebook space")
    a.unpersist(); b.unpersist(); booksA.unpersist()
  }

  test("compaction after a refresh deletes every entry of the superseded generation, codebooks included") {
    val dir = Files.createTempDirectory("pq_cleanup").toString
    val a = clustered(seed = 7, n = 120, idFrom = 0L)
    val books = IncrementalPq.trainCodebooks(a, "vec_id", "embedding", dim)
    IncrementalPq.processBatch(a, 0L, books, "vec_id", "embedding", dir, dim)
    val refreshed = IncrementalPq.refresh(spark, dir, "vec_id", dim)  // generation 1
    IncrementalPq.processBatch(clustered(seed = 7, n = 40, idFrom = 1000L), 1L, refreshed,
      "vec_id", "embedding", dir, dim)
    IncrementalPq.compact(spark, dir)                                  // generation 2
    val names = new java.io.File(s"$dir/_compacted").list().toSeq
    assert(names.contains("v=2.codebooks"), names)
    assert(!names.exists(n => n == "v=1" || n.startsWith("v=1.")),
      s"superseded generation 1 survived cleanup: $names")
    assert(IncrementalPq.latestCodebooks(spark, dir).exists(_.count() == refreshed.count()))
  }
}
