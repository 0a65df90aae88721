package lakebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level totals of the Spark jobs one span ran, read from a
  * [[SparkListener]] through the job group the span sets.
  */
final class ExecStats {
  var jobs, stages, tasks = 0L
  var taskRunS, taskCpuS, gcS = 0.0
  var scanBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var peakExecMemBytes = 0L
  /** Stage-weighted max/mean task run time: sum(weight * skew), sum(weight). */
  var skewSum, skewWeight = 0.0

  def add(o: ExecStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunS += o.taskRunS; taskCpuS += o.taskCpuS; gcS += o.gcS
    scanBytes += o.scanBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    skewSum += o.skewSum; skewWeight += o.skewWeight
  }
}

/** One SQL execution as a [[QueryExecutionListener]] saw it: what kind of
  * plan ran and the counts its final (post-AQE) plan carries.
  */
final case class SqlEvent(
    kind: String, durS: Double, nodes: Int, exchanges: Int,
    rowsWritten: Long, bytesWritten: Long, filesWritten: Long, partsWritten: Long)

/** A timed region around one call into the program. */
final class Span(val id: Long, val parent: Long, val name: String,
    val startNs: Long) {
  var endNs: Long = -1L
  val exec = new ExecStats
  val sql = mutable.ArrayBuffer[SqlEvent]()
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program, plus Spark's
  * public listeners attributing jobs, tasks, SQL executions and streaming
  * progress to them. Listeners are attached only when `enabled`; spans are
  * recorded only while `active`, otherwise [[span]] just runs its body, so
  * untraced passes pay nothing. Active, each span drains the listener bus at its start
  * and end (single client thread), so every event lands in the innermost
  * span that caused it. Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  @volatile var active: Boolean = false
  private val ids = new AtomicLong(0)
  private val originNs = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private val pendingSql = new ConcurrentLinkedQueue[SqlEvent]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("lb-"))
      .flatMap(g => Option(byId.get(g.stripPrefix("lb-").toLong)))

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        s.exec.synchronized { s.exec.jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s.id))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).map(byId.get(_)).foreach { s =>
        val m = e.taskMetrics
        val run = if (m == null) 0.0 else m.executorRunTime / 1e3
        stageTasks.compute(e.stageId, (_, a) => {
          val acc = if (a == null) Array(0.0, 0.0, 0.0) else a
          acc(0) += run; acc(1) += 1; acc(2) = math.max(acc(2), run); acc
        })
        if (m != null) s.exec.synchronized {
          val x = s.exec
          x.tasks += 1
          x.taskRunS += run
          x.taskCpuS += m.executorCpuTime / 1e9
          x.gcS += m.jvmGCTime / 1e3
          x.scanBytes += m.inputMetrics.bytesRead
          x.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          x.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          x.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          x.peakExecMemBytes = math.max(x.peakExecMemBytes, m.peakExecutionMemory)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      Option(stageSpan.get(id)).map(byId.get(_)).foreach { s =>
        val a = stageTasks.remove(id)
        s.exec.synchronized {
          s.exec.stages += 1
          if (a != null && a(1) >= 2 && a(0) > 0) {
            val mean = a(0) / a(1)
            s.exec.skewSum += a(0) * (a(2) / mean)
            s.exec.skewWeight += a(0)
          }
        }
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      pendingSql.add(Tracer.summarize(qe.executedPlan, durationNs / 1e9))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  private def flushSqlTo(s: Option[Span]): Unit = {
    var e = pendingSql.poll()
    while (e != null) { s.foreach(_.sql += e); e = pendingSql.poll() }
  }

  /** Run `body` inside a span named `name` (`<layer>.<what>`). */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      org.apache.spark.LakebenchBus.drain(sc)
      flushSqlTo(stack.headOption)
      val s = new Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
        name, System.nanoTime())
      byId.put(s.id, s)
      spans += s
      stack.push(s)
      sc.setJobGroup(s"lb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        org.apache.spark.LakebenchBus.drain(sc)
        flushSqlTo(Some(s))
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"lb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def close(): Unit = if (enabled) {
    org.apache.spark.LakebenchBus.drain(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans as JSON lines: name, start, end (s since tracer start), parent,
    * and the listener totals.
    */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val x = s.exec
      val fields = Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> Json.str(s.name),
        "start_s" -> (s.startNs - originNs) / 1e9,
        "end_s" -> (s.endNs - originNs) / 1e9,
        "jobs" -> x.jobs, "stages" -> x.stages, "tasks" -> x.tasks,
        "task_run_s" -> x.taskRunS, "task_cpu_s" -> x.taskCpuS,
        "sql" -> s.sql.size)
      Json.obj(fields.map { case (k, v) => k -> Json.num(v) })
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  /** Walk a physical plan, descending into AQE's final plan and query
    * stages, so counts come from what actually ran.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case q: QueryStageExec => walk(q.plan)(f)
      case _ =>
    }
    p.children.foreach(walk(_)(f))
    p.subqueries.foreach(walk(_)(f))
  }

  private def isWrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec => true
    case _ => Set("WholeStageCodegenExec", "InputAdapter")
      .contains(p.getClass.getSimpleName)
  }

  def summarize(plan: SparkPlan, durS: Double): SqlEvent = {
    var nodes, exchanges = 0
    var rows, bytes, files, parts = 0L
    var kind = if (plan.getClass.getSimpleName == "ExecutedCommandExec") "command" else "query"
    walk(plan) { p =>
      if (!isWrapper(p)) nodes += 1
      p match {
        case _: Exchange => exchanges += 1
        case w: DataWritingCommandExec =>
          kind = "write"
          def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
          rows += m("numOutputRows"); bytes += m("numOutputBytes")
          files += m("numFiles"); parts += m("numParts")
        case _ =>
      }
    }
    SqlEvent(kind, durS, nodes, exchanges, rows, bytes, files, parts)
  }
}
