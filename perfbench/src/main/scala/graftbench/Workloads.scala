package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.feature.FeaturePipeline
import graft.flows.{PeerSearchFlow, TrainingPrep}
import graft.io.Sinks
import graft.llm.TextOps
import graft.queries.{Reports, T}
import graft.rec.AlsPipeline
import graft.streaming.{ContinuousTrainingPrep, IncrementalDedup}

/** What a workload needs from the harness. `mat` materializes a lazy
  * result inside the current span when tracing, so the span owns its
  * work; untraced, it returns the frame as is.
  */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
                val tracer: Tracer) {
  private val cached = mutable.ArrayBuffer[DataFrame]()
  /** Row counts of frames materialized in the current job, by span name. */
  val rowCounts = mutable.Map[String, Long]()

  def span[T](name: String, job: Int)(body: => T): T = tracer.span(name, job)(body)

  def mat(name: String, df: DataFrame): DataFrame =
    if (!tracer.active) df
    else {
      df.cache()
      cached += df
      rowCounts(name) = rowCounts.getOrElse(name, 0L) + df.count()
      df
    }

  /** Releases what a job cached; runs outside the timed region. */
  def release(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

trait Workload {
  /** One closed-loop job; job 0 is the cold job. */
  def job(i: Int): Unit
  /** Loop work that is not part of a job, run after each warm job `i`. */
  def afterJob(i: Int): Unit = ()
  /** True when the workload has no input left for job `next`. */
  def exhausted(next: Int): Boolean = false
  /** Directories whose bytes the workload keeps after the loop. */
  def storeDirs(lastJob: Int): Seq[String]
  /** Reference results the checker needs, written after the loop. */
  def writeCheckInputs(lastJob: Int): Unit = ()
  /** Counts of one traced job, from its executed plans. */
  def counts(ns: Seq[SparkPlan]): Map[String, Double]
}

object Workloads {
  val names = Seq("peer_report", "als_rec", "corpus_stream")

  def apply(name: String, ctx: Ctx, docs: Long): Workload = name match {
    case "peer_report" => new PeerReport(ctx)
    case "als_rec" => new AlsRec(ctx)
    case "corpus_stream" => new CorpusStream(ctx, docs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The registered oracle SQL of the queries whose functions a workload calls. */
  val oracleQueries = Map(
    "peer_report" -> Seq("q41_feature_pipeline", "q44_peer_search_flow", "q13_confidence",
      "q14_penetration"),
    "als_rec" -> Seq("q40_als_recommend"),
    "corpus_stream" -> Seq.empty[String])

  /** Every regular file under `path`. */
  def files(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(g => files(g.getPath))
    else if (f.isFile) Seq(f) else Nil
  }
}

/** q41, q44, q13 and q14: the reference's peer search and its
  * confidence/penetration post-processing.
  */
final class PeerReport(ctx: Ctx) extends Workload {
  import ctx._
  private def out(i: Int) = s"$work/out/job_$i"

  def job(i: Int): Unit = span("job", i) {
    // q41's call: customer with injected null balances, exact-median impute.
    val features = span("feature.build", i) {
      val withNulls = T(spark, data, "customer")
        .withColumn("acctbal",
          when(col("c_custkey") % 37 === 0, lit(null).cast("double")).otherwise(col("c_acctbal")))
        .withColumn("nation_d", col("c_nationkey").cast("double"))
      val built = FeaturePipeline.build(withNulls,
        numCols = Seq("acctbal", "nation_d"), catCol = "c_mktsegment",
        weights = Map("acctbal" -> 0.8, "nation_d" -> 0.2), wCat = 0.05, exactMedian = true)
      mat("feature.build", built.select(col("c_custkey"),
        posexplode(transform(col("features_arr"), v => round(v, 6))).as(Seq("pos", "val"))))
    }
    span("io.sink_parquet", i)(Sinks.parquet(features, s"${out(i)}/q41_feature_pipeline"))

    val peers = span("flows.peer_search", i) {
      mat("flows.peer_search",
        PeerSearchFlow.run(spark, data, PeerSearchFlow.Config(minBatch = 2)))
    }
    span("io.sink_csv", i)(Sinks.csv(peers, s"${out(i)}/q44_peer_search_flow", singleFile = true))

    val conf = span("queries.confidence", i)(mat("queries.confidence", Reports.confidence(spark, data)))
    span("io.sink_parquet", i)(Sinks.parquet(conf, s"${out(i)}/q13_confidence"))
    val pen = span("queries.penetration", i)(mat("queries.penetration", Reports.penetration(spark, data)))
    span("io.sink_parquet", i)(Sinks.parquet(pen, s"${out(i)}/q14_penetration"))
  }

  def storeDirs(lastJob: Int): Seq[String] = Seq(out(lastJob))

  def counts(ns: Seq[SparkPlan]): Map[String, Double] = {
    val (kept, offered) = PlanMetrics.topK(ns)
    Map("engine.blend_evals" -> PlanMetrics.blendEvals(ns).toDouble,
      "ops.topk.out_rows" -> kept.toDouble,
      "ops.topk.keep_ratio" -> (if (offered == 0) 0.0 else kept.toDouble / offered))
  }
}

/** q40's configuration of the ALS recommender. */
final class AlsRec(ctx: Ctx) extends Workload {
  import ctx._
  private def out(i: Int) = s"$work/out/job_$i"

  def job(i: Int): Unit = span("job", i) {
    val usage = span("io.usage_scan", i) {
      mat("io.usage_scan", T(spark, data, "orders")
        .join(T(spark, data, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(T(spark, data, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("o_custkey").as("cust"), col("p_brand").as("item"))
        .agg(sum(col("l_quantity")).as("intensity")))
    }
    val rated = span("rec.accumulate", i) {
      val r = AlsPipeline.accumulate(usage, "cust", "item", "intensity").cache()
      if (tracer.active) r.count()
      r
    }
    val triples = span("rec.indexed_triples", i) {
      mat("rec.indexed_triples", AlsPipeline.indexedTriples(rated, "cust", "item"))
    }
    val model = span("rec.train", i) {
      AlsPipeline.train(triples, AlsPipeline.Config(intermediateStorage = "MEMORY_ONLY"))
    }
    rated.unpersist(blocking = false)
    val recs = span("rec.recommend", i) {
      mat("rec.recommend", AlsPipeline.recommendationsDirect(model, 5)
        .select(col("userId"), col("itemId"), round(col("score"), 3).as("score"), col("rec_rank")))
    }
    span("io.sink_parquet", i)(Sinks.parquet(recs, s"${out(i)}/q40_als_recommend"))
  }

  def storeDirs(lastJob: Int): Seq[String] = Seq(out(lastJob))

  def counts(ns: Seq[SparkPlan]): Map[String, Double] = {
    val (rows, bytes) = PlanMetrics.scans(ns, p => p.contains(data))
    Map("io.scan.rows" -> rows.toDouble, "io.scan.mb" -> bytes / 1e6,
      "rec.ratings" -> rowCounts.getOrElse("rec.indexed_triples", 0L).toDouble)
  }
}

/** An arriving corpus of `nDocs` documents: doc_id-ordered slices through
  * training prep and near-duplicate admission. The admission store is
  * compacted after every warm slice, so each slice screens against one
  * compacted generation plus the live batch the cold job left.
  */
final class CorpusStream(ctx: Ctx, nDocs: Long) extends Workload {
  import ctx._
  private val sliceDocs = CorpusStream.SliceDocs
  private val docs = spark.read.parquet(s"$data/documents.parquet")
    .select("doc_id", "source", "text")
  val prepCfg = TrainingPrep.Config(stop = Seq("the", "a", "of", "and", "to"),
    rates = Map("src0" -> 0.8, "src1" -> 1.0), defaultRate = 0.9, packCap = 64)
  private val evalDocs = docs.filter(col("doc_id") % prepCfg.evalModulus === 0)
    .select("doc_id", "text")
  private val packs = s"$work/stream/packs"
  private val state = s"$work/stream/state"
  private val store = s"$work/stream/store"
  var compactions = 0
  var liveMax = 0

  private def slice(i: Int) =
    docs.filter(col("doc_id") >= i.toLong * sliceDocs && col("doc_id") < (i + 1).toLong * sliceDocs)

  override def exhausted(next: Int): Boolean = next.toLong * sliceDocs >= nDocs

  def job(i: Int): Unit = span("job", i) {
    span("streaming.prep_batch", i) {
      ContinuousTrainingPrep.processBatch(slice(i), i, evalDocs, prepCfg, packs, state)
    }
    span("streaming.dedup_batch", i) {
      IncrementalDedup.processBatch(
        slice(i).select(col("doc_id"),
          TextOps.ngramsAll(TextOps.tokenize(col("text")), 3).as("sh")),
        i, "doc_id", "sh", store)
    }
  }

  override def afterJob(i: Int): Unit = {
    liveMax = math.max(liveMax,
      Option(new java.io.File(store).list()).toSeq.flatten.count(_.startsWith("batch=")))
    span("streaming.compact", i) {
      IncrementalDedup.compact(spark, store)
      compactions += 1
    }
  }

  def storeDirs(lastJob: Int): Seq[String] = Seq(packs, state, store)

  override def writeCheckInputs(lastJob: Int): Unit = {
    // The prefix the stream ingested, plus the fixed eval slice the stream
    // checked contamination against (held out of packing either way).
    val ingested = docs.filter(col("doc_id") < (lastJob + 1).toLong * sliceDocs ||
      col("doc_id") % prepCfg.evalModulus === 0)
    TrainingPrep.run(ingested, prepCfg).write.mode("overwrite").parquet(s"$work/check/oneshot")
    IncrementalDedup.decisions(spark, store).write.mode("overwrite").parquet(s"$work/check/decisions")
  }

  def counts(ns: Seq[SparkPlan]): Map[String, Double] = {
    val (_, bytes) = PlanMetrics.scans(ns, p => p.contains("/stream/"))
    Map("streaming.history_read_mb" -> bytes / 1e6)
  }
}

object CorpusStream {
  /** Documents per slice; run.py charges check failures by it. */
  val SliceDocs = 125
}
