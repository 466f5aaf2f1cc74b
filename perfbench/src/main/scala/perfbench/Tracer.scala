package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a layer's public function. `op` is the workload
  * operation (epoch) it belongs to, `parent` the enclosing span (0 = none).
  * Spark work is attributed to the innermost open span through the job
  * group set around the call. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
                 val startNs: Long) {
  var endNs: Long = 0L
  /** classes Spark's code generation compiled during the span */
  var compiles: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  val jobs, tasks, cpuNs, gcMs, shuffleWrite = new AtomicLong
  /** stage task time (ms) by the program file Spark records as call site */
  val taskMsByFile = new ConcurrentHashMap[String, AtomicLong]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled (the untraced run) it only runs the
  * wrapped code: no listener, no job groups, no bookkeeping. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private var open = List.empty[Span]
  /** Current workload operation; 0 during warm-up, which is not recorded. */
  var op = 0
  def on: Boolean = enabled && op > 0

  private val GroupPrefix = "perfbench-"
  /** The first engine frame of a call site: `graft.x.File$.f(File.scala:12)`. */
  private val EngineFrame = """graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r.unanchored
  private val executionFile = new ConcurrentHashMap[Long, String]
  private val stageFile = new ConcurrentHashMap[Int, String]

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .flatMap(g => Option(byId.get(g.stripPrefix(GroupPrefix).toInt)))
        .foreach { s =>
          s.jobs.incrementAndGet()
          js.stageIds.foreach(stageSpan.put(_, s))
          // SQL jobs run on a pool thread, so the stage name carries no
          // engine frame; the execution's recorded call site does
          Option(js.properties.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(executionFile.get(id.toLong)))
            .foreach(f => js.stageIds.foreach(stageFile.put(_, f)))
        }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        x.details match {
          case EngineFrame(f) => executionFile.put(x.executionId, f)
          case _ => ()
        }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stageSpan.remove(e.stageInfo.stageId)
      val m = e.stageInfo.taskMetrics
      if (s != null && m != null) {
        s.tasks.addAndGet(e.stageInfo.numTasks)
        s.cpuNs.addAndGet(m.executorCpuTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val file = Option(stageFile.remove(e.stageInfo.stageId)).getOrElse("other")
        s.taskMsByFile.computeIfAbsent(file, _ => new AtomicLong)
          .addAndGet(m.executorRunTime)
      }
    }
  })

  /** Run `f` inside a span named `name`; returns its result. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = new Span(all.size + 1, name, op, open.headOption.fold(0)(_.id),
        System.nanoTime())
      all += s; byId.put(s.id, s); open = s :: open
      sc.setJobGroup(GroupPrefix + s.id, name)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try f
      finally {
        s.endNs = System.nanoTime()
        s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a count to the innermost span named `name` of the current op. */
  def attr(name: String, key: String, v: Double): Unit =
    if (on) all.reverseIterator.find(s => s.name == name && s.op == op)
      .foreach(_.attrs(key) = v)

  /** Every span, once all queued Spark events have been delivered. */
  def finish(): Seq[Span] = {
    if (enabled) org.apache.spark.perfbench.Bus.drain(sc)
    all.toSeq
  }

  /** Wall time of each span not covered by its child spans. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        // children of one span run sequentially: their walls do not overlap
        s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      }.sum
    }
  }

  def toJsonLines(spans: Seq[Span]): Seq[String] = spans.map { s =>
    val files = s.taskMsByFile.asScala.map { case (f, v) => s""""$f":${v.get}""" }
      .mkString(",")
    val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${s.jobs.get},""" +
      s""""tasks":${s.tasks.get},"cpu_ms":${s.cpuNs.get / 1000000},""" +
      s""""codegen_compiles":${s.compiles},""" +
      s""""gc_ms":${s.gcMs.get},"shuffle_write":${s.shuffleWrite.get},""" +
      s""""task_ms_by_file":{$files},"attrs":{$attrs}}"""
  }
}
