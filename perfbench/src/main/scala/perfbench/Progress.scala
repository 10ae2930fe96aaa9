package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One committed micro-batch as Spark's progress event reports it. Offsets
  * of the `epic-socket` source count frames accepted, so `endOffset` is
  * the number of frames this query has committed once the batch is done. */
final case class Batch(runId: String, batchId: Long, startMs: Long,
    commitMs: Long, startOffset: Long, endOffset: Long, latestOffset: Long,
    inputRows: Long, durations: Map[String, Long]) {
  def images: Long = endOffset - startOffset
  def duration(k: String): Long = durations.getOrElse(k, 0L)
}

/** Collects progress events of data-carrying batches. The commit instant is
  * the trigger start plus `triggerExecution`, both on Spark's clock, so the
  * listener bus delay does not count. */
final class Progress extends StreamingQueryListener {
  private val log = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.sources.nonEmpty) {
      val s = p.sources.head
      def off(j: String) = Option(j).filter(_ != "null").map(_.trim.toLong)
      val end = off(s.endOffset).getOrElse(0L)
      val start = off(s.startOffset).getOrElse(0L)
      if (end > start) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
        log.add(Batch(p.runId.toString, p.batchId, t0,
          t0 + d.getOrElse("triggerExecution", 0L), start, end,
          off(s.latestOffset).getOrElse(end), p.numInputRows, d))
      }
    }
  }

  def batches(runId: String): Seq[Batch] =
    log.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)

  /** Frames committed so far by run `runId`. */
  def committed(runId: String): Long =
    log.asScala.iterator.filter(_.runId == runId).map(_.endOffset)
      .foldLeft(0L)(math.max)
}
