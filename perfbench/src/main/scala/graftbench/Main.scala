package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One benchmark process: builds the session, runs the cold job, then
  * closed-loop jobs for the given seconds, and writes what it measured as
  * JSON for `run.py`, which checks the outputs and prints the result.
  *
  *   --workload <name> --data <dir> --work <dir> --seconds <s> --trace <0|1> --docs <n>
  *
  * With `--trace 1` the first half of the seconds runs untraced and the
  * second half traced, so one process gives both job times.
  *
  *   --warmup-archive 1 --data <dir> --work <dir> --docs <n>
  *
  * runs every workload's cold job once on small inputs, so that a JVM
  * started with -XX:ArchiveClassesAtExit archives the classes all of them load.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val spark = GraftSession.builder(4)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (o.get("warmup-archive").contains("1"))
        for (name <- Workloads.names) {
          val ctx = new Ctx(spark, o("data"), s"$work/$name", new Tracer(spark))
          Workloads(name, ctx, o("docs").toLong).job(0)
          ctx.release()
        }
      else run(spark, o("workload"), o("data"), work, o("seconds").toDouble,
        o.get("trace").contains("1"), o("docs").toLong)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, data: String, work: String,
                  seconds: Double, traced: Boolean, docs: Long): Unit = {
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, data, work, tracer)
    val w = Workloads(name, ctx, docs)

    val jobs = mutable.ArrayBuffer[Map[String, Any]]()
    def runJob(i: Int, phase: String): Double = {
      ctx.rowCounts.clear()
      val t0 = System.nanoTime()
      val err = try { w.job(i); None } catch {
        case NonFatal(e) => Some(s"${e.getClass.getName}: ${e.getMessage}".linesIterator.take(1).mkString)
      }
      val jobS = (System.nanoTime() - t0) / 1e9
      val counts = if (!tracer.active) Map.empty[String, Double] else {
        tracer.drain()
        w.counts(PlanMetrics.nodes(tracer.plans.take()))
      }
      val t1 = System.nanoTime()
      if (phase != "cold") w.afterJob(i)
      val afterS = (System.nanoTime() - t1) / 1e9
      tracer.drain()
      tracer.plans.take()
      // The heap the job retains, caches included: a full collection
      // before they are released.
      System.gc()
      jobs += Map("job" -> i, "phase" -> phase, "wall_s" -> jobS, "after_s" -> afterS,
        "heap_mb" -> Heap.afterGcMb, "error" -> err.orNull, "counts" -> counts)
      ctx.release()
      System.gc()
      jobS + afterS
    }

    runJob(0, "cold")
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val oracle = Workloads.oracleQueries(name).map(q => q -> SparkEntry.oracleSql(q)).toMap
    write(s"$work/oracle_sql.json", oracle)

    def written(): Long = FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    val written0 = written()
    var i = 1
    var loopS = 0.0
    def phase(label: String, budget: Double): Unit = {
      val until = loopS + budget
      while ((loopS < until || !jobs.exists(_("phase") == label)) && !w.exhausted(i)) {
        loopS += runJob(i, label)
        i += 1
      }
    }
    if (traced) {
      phase("untraced", seconds / 2)
      tracer.start()
      phase("traced", seconds / 2)
    } else phase("untraced", seconds)
    val writtenBytes = written() - written0
    val last = i - 1
    val stored = w.storeDirs(last).flatMap(Workloads.files)
    val result = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS, "loop_s" -> loopS,
      "written_bytes" -> writtenBytes, "store_bytes" -> stored.map(_.length).sum,
      "store_files" -> stored.size)
    w.writeCheckInputs(last)
    w match {
      case c: CorpusStream =>
        result ++= Map("compactions" -> c.compactions, "live_batches_max" -> c.liveMax)
      case _ =>
    }
    result ++= Map("cal" -> calibrate(), "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "cores" -> Runtime.getRuntime.availableProcessors())
    result("spans") = tracer.spans.map { s =>
      val a = tracer.taskAgg(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "job" -> s.job,
        "wall_s" -> s.wallS, "task_s" -> a.taskMs / 1e3, "queue_s" -> a.queueMs / 1e3,
        "serial_task_s" -> a.serialTaskMs / 1e3, "gc_s" -> a.gcMs / 1e3,
        "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6,
        "failed_tasks" -> a.failedTasks)
    }.toSeq
    result("jobs") = jobs.toSeq
    write(s"$work/result.json", result)
  }

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json.render(v).getBytes(StandardCharsets.UTF_8))

  /** Host-speed calibrator: seconds for a fixed single-core md5 fold, the
    * minimum of three runs after one warm-up (the same fold as graft.Bench).
    */
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def run(): Double = {
      val t0 = System.nanoTime()
      var i = 0; var acc = 0L
      var buf = "graft-calibration-seed".getBytes("UTF-8")
      while (i < 300000) { buf = md.digest(buf); acc += buf(0); i += 1 }
      if (acc == Long.MinValue) println("")
      (System.nanoTime() - t0) / 1e9
    }
    run()
    Seq(run(), run(), run()).min
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
