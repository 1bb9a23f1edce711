package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the library. `parent` is -1 for a job's root span. */
final case class Span(id: Int, name: String, parent: Int, job: Int, startNs: Long,
                      var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task metrics summed over the tasks of one span's Spark jobs. */
final class TaskAgg {
  var taskMs, queueMs, serialTaskMs, gcMs = 0L
  var shuffleBytes, spillBytes = 0L
  var failedTasks = 0
}

/** Attributes every finished task to the span whose job group launched it.
  * The benchmark sets the job group `span-<id>` around each call, so a
  * span's figures are those of the jobs it ran itself, not its children's.
  */
final class TaskAttribution extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val stageTasks = mutable.Map[Int, Int]()
  val byGroup = mutable.Map[String, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(group => e.stageIds.foreach(stageGroup(_) = group))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageSubmitMs(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    stageTasks(info.stageId) = info.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = byGroup.getOrElseUpdate(g, new TaskAgg)
      val info = e.taskInfo
      val ms = info.duration
      a.taskMs += ms
      a.queueMs += math.max(0L, info.launchTime - stageSubmitMs.getOrElse(e.stageId, info.launchTime))
      if (stageTasks.getOrElse(e.stageId, 0) == 1) a.serialTaskMs += ms
      if (info.failed || info.killed) a.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        a.gcMs += m.jvmGCTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

/** Keeps each action's QueryExecution so executed-plan SQL metrics can be
  * read after the job; the benchmark drains the listener bus first.
  */
final class PlanCapture extends QueryExecutionListener {
  private val buf = mutable.ArrayBuffer[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { buf += qe }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = buf.toList; buf.clear(); r }
}

/** Spans around the benchmark's calls into the library. Until `start` a
  * span only runs its body, so untraced jobs pay nothing.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  val tasks = new TaskAttribution
  val plans = new PlanCapture
  var active = false

  def start(): Unit = {
    sc.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    active = true
  }

  def span[T](name: String, job: Int)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), job, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = if (active) org.apache.spark.GraftBenchBus.drain(sc)

  def taskAgg(s: Span): TaskAgg = tasks.synchronized {
    tasks.byGroup.getOrElse(s"span-${s.id}", new TaskAgg)
  }
}

/** Heap occupancy after the most recent garbage collection, summed over
  * the heap's memory pools, in MB.
  */
object Heap {
  def afterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
}

/** Counts read from executed plans' SQL metrics. */
object PlanMetrics {
  import org.apache.spark.sql.catalyst.expressions.{Alias, BitwiseXor, NamedExpression, RowNumber}
  import org.apache.spark.sql.execution._
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

  private def kids(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil
    case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
    case o => o.children
  }) ++ p.subqueries

  /** Every physical node of the given executions, each node once (a cached
    * plan is shared by every execution that reads it).
    */
  def nodes(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = if (seen.add(p)) { out += p; kids(p).foreach(walk) }
    qes.foreach(q => walk(q.executedPlan))
    out.toSeq
  }

  /** The first child of `p` that is not a code-generation or AQE wrapper. */
  private def below(p: SparkPlan): Option[SparkPlan] = kids(p).headOption.flatMap {
    case c @ (_: WholeStageCodegenExec | _: InputAdapter | _: AdaptiveSparkPlanExec |
              _: QueryStageExec) => below(c)
    case c => Some(c)
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows arriving at `p`: the output of the nearest descendant that counts
    * rows, looking through nodes that only move or order them.
    */
  private def rowsInto(p: SparkPlan): Long = kids(p).headOption match {
    case None => 0L
    case Some(c @ (_: SortExec | _: Exchange | _: WindowGroupLimitExec | _: ProjectExec)) =>
      rowsInto(c)
    case Some(c) => rows(c).getOrElse(rowsInto(c))
  }

  private def isBlend(e: NamedExpression): Boolean = e match {
    case a: Alias => a.name == "score" && a.child.find(_.isInstanceOf[BitwiseXor]).isDefined
    case _ => false
  }

  /** Blended peer scores evaluated: rows entering each projection that
    * computes the blend (it carries the NAICS-hops XOR).
    */
  def blendEvals(ns: Seq[SparkPlan]): Long =
    ns.collect { case p: ProjectExec if p.projectList.exists(isBlend) => rowsInto(p) }.sum

  /** (rows kept, rows offered) over every row_number top-K: the filter on a
    * row_number window, and the rows that entered that window.
    */
  def topK(ns: Seq[SparkPlan]): (Long, Long) = {
    val pairs = ns.collect {
      case f: FilterExec =>
        below(f).collect {
          case w: WindowExec if w.windowExpression.exists(_.find(_.isInstanceOf[RowNumber]).isDefined) =>
            (rows(f).getOrElse(0L), rowsInto(w))
        }
    }.flatten
    (pairs.map(_._1).sum, pairs.map(_._2).sum)
  }

  /** (rows, bytes) of the parquet scans whose root path satisfies `keep`. */
  def scans(ns: Seq[SparkPlan], keep: String => Boolean): (Long, Long) = {
    val ss = ns.collect {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(p => keep(p.toString)) =>
        (rows(s).getOrElse(0L), s.metrics.get("filesSize").map(_.value).getOrElse(0L))
    }
    (ss.map(_._1).sum, ss.map(_._2).sum)
  }
}
