package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Reads Spark's public listener events to attribute work to layers from
  * outside the program: SQL executions are tagged by the output path their
  * plan writes (the sink's pixel or metadata append) and by the
  * `streaming.sql.batchId` property of their jobs; task CPU is summed per
  * batch and per job group. */
final class Jobs(tracer: Tracer) extends SparkListener {
  private final case class Exec(kind: String, startMs: Long)
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val execBatch = new ConcurrentHashMap[Long, String]()
  /** stage id → (batch id or "", job group or "") of the job that ran it */
  private val stageOwner = new ConcurrentHashMap[Int, (String, String)]()
  private val cpuNs = new ConcurrentHashMap[String, LongAdder]()

  private def addCpu(key: String, ns: Long): Unit =
    cpuNs.computeIfAbsent(key, _ => new LongAdder).add(ns)

  /** Executor CPU, ms, of tasks run by streaming batches (`"batches"`) or
    * by jobs of group `g` (`"group:g"`). */
  def cpuMs(key: String): Double =
    Option(cpuNs.get(key)).map(_.sum() / 1e6).getOrElse(0.0)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      val kind =
        if (plan.contains("epic_pixels")) "pixels"
        else if (plan.contains("epic_img_metadata")) "meta" else ""
      if (kind.nonEmpty) execs.put(s.executionId, Exec(kind, s.time))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execs.remove(end.executionId)).foreach { x =>
        val batch = Option(execBatch.remove(end.executionId)).getOrElse("")
        tracer.record("epic.sink", s"epic.sink.${x.kind}", s"b$batch",
          x.startMs.toDouble, end.time.toDouble)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val batch = prop("streaming.sql.batchId")
    val group = prop("spark.jobGroup.id")
    val exec = prop("spark.sql.execution.id")
    if (batch.nonEmpty && exec.nonEmpty) execBatch.putIfAbsent(exec.toLong, batch)
    e.stageIds.foreach(sid => stageOwner.put(sid, (batch, group)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Option(stageOwner.get(e.stageId)).foreach { case (b, g) =>
      if (b.nonEmpty) addCpu("batches", m.executorCpuTime)
      if (g.nonEmpty) addCpu(s"group:$g", m.executorCpuTime)
    }
  }
}
