package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftEngine
import graft.epic.{EpicStreaming, WatchStoreApi}
import graft.sources.ImageSocketClient

/** Result of one open-loop window. Latency of a frame runs from its due
  * time to the commit of the micro-batch that holds it. */
final case class Window(latMs: Seq[Double], batches: Seq[Batch],
    lateMsMax: Double)

/** Drives one workload through the public ingest path: watches registered
  * through `GraftEngine.addWatch`, frames pushed over the `epic-socket`
  * UDS source (`decode=binary`), micro-batches run by `EpicStreaming.start`
  * with its default dual-parquet sink. One generator thread, one
  * connection at a time. */
final class Stream(spark: SparkSession, w: Workload, in: Inputs,
    work: String, tracer: Tracer, progress: Progress) {

  private var seq = 0L            // frame sequence number, unique per run
  private var round = 0
  private var query: StreamingQuery = _
  private var runId: String = _
  private var accepted = 0L       // frames accepted by the current query
  var engine: GraftEngine = _
  var outDir: String = _
  private var sock: String = _

  val addMs = new ArrayBuffer[Double]()
  var framesSent = 0L
  var framesFailed = 0L

  /** Fresh watch store, watches added, ingest query started, first frame
    * accepted. Returns seconds from the call to the first accepted frame. */
  def setup(): Double = {
    round += 1
    val t0 = System.nanoTime()
    val dir = s"$work/round$round"
    val store: WatchStoreApi =
      if (w.jdbc) new TimedJdbcWatchStore(spark,
        s"jdbc:derby:$dir/watchdb;create=true", tracer)
      else new TimedWatchStore(spark, s"$dir/watch", tracer)
    engine = new GraftEngine(spark, store)
    in.sources.foreach { s =>
      val a0 = System.nanoTime()
      engine.addWatch(s.name, s.ra.toString, s.dec.toString,
        patchType = s.patch.toString)
      addMs += (System.nanoTime() - a0) / 1e6
    }
    outDir = s"$dir/out"
    sock = s"$work/r$round.sock"
    val images = spark.readStream.format("epic-socket")
      .option("path", sock)
      .option("decode", "binary")
      .option("maxBufferedFrames", w.maxBufferedFrames.toString)
      .load()
    query = EpicStreaming.start(images, store, outDir, s"$dir/ckpt",
      Trigger.ProcessingTime(0L))
    runId = query.runId.toString
    accepted = 0L
    // the source binds its socket when the query plans its first batch
    val first = in.frame(nextSeq(), System.currentTimeMillis())
    var ok = false
    val deadline = System.nanoTime() + 120000000000L
    while (!ok) {
      try { ImageSocketClient.sendUds(sock, first); ok = true }
      catch {
        case e: Exception =>
          if (System.nanoTime() > deadline || !query.isActive) throw e
          Thread.sleep(2)
      }
    }
    val s = (System.nanoTime() - t0) / 1e9
    accepted = 1; framesSent += 1
    s
  }

  def stop(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  private def nextSeq(): Long = { seq += 1; seq }

  /** One frame over one connection; a refused or failed send counts. */
  private def send(payload: Array[Byte], s: Long): Boolean = {
    val t0 = tracer.nowMs
    val ok =
      try { ImageSocketClient.sendUds(sock, payload); true }
      catch { case _: Exception => false }
    tracer.record("sources", "sources.send", s"f$s", t0, tracer.nowMs)
    if (ok) { accepted += 1; framesSent += 1 } else framesFailed += 1
    ok
  }

  def committed: Long = progress.committed(runId)

  /** Wait until the current query has committed `n` frames. */
  def awaitCommitted(n: Long, timeoutMs: Long = 90000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committed < n && System.currentTimeMillis() < deadline &&
        query.exception.isEmpty) Thread.sleep(2)
    committed >= n
  }

  def batches: Seq[Batch] = progress.batches(runId)

  /** Closed-loop drain: `n` frames pushed back to back as fast as the
    * source accepts them. The source blocks once `maxBufferedFrames`
    * frames are uncommitted and frees space only when a batch commits, so
    * with `n` a few times the buffer the engine runs batch after batch.
    * The first batch holds the first frame alone, and
    * the JIT still warms during the next ones, so the rate counts only what
    * follows the first `skip` batches: frames committed after the commit
    * of batch `skip`, over the time from that commit on. The source plans a
    * batch before it frees the previous one's frames, so a batch holds what
    * arrived while the one before it ran, and two consecutive batches hold
    * one buffer's worth between them (small, large, small, ...). The rate
    * covers whole buffers only: it ends at the last batch that completes
    * one. Where the batches after `skip` hold no whole buffer (the first
    * batch caught a full buffer), it starts one batch earlier. */
  def drain(n: Int, skip: Int): Double = {
    val now = System.currentTimeMillis()
    val frames = (0 until n).map { i =>
      val s = nextSeq(); (s, in.frame(s, now + i)) }
    awaitCommitted(accepted)
    val base = accepted
    // the first frame goes alone and the rest once a batch has been
    // planned for it, while that batch runs: the batches then hold 1, B-1,
    // 1, B-1, ... frames in every run, and so does the store they write
    awaitDataAvailable(false)
    send(frames.head._2, frames.head._1)
    awaitDataAvailable(true)
    frames.tail.foreach { case (s, p) => send(p, s) }
    val target = accepted
    if (!awaitCommitted(target) || target < base + n) return Double.NaN
    val bs = batches.filter(_.endOffset > base)
    Main.log(s"drain: " + bs.map(b =>
      s"${b.images}img/${b.duration("triggerExecution")}ms").mkString(" "))
    val buffer = w.maxBufferedFrames
    def whole(s: Int) = bs.drop(s).filter(b =>
      (b.endOffset - bs(s - 1).endOffset) % buffer == 0)
    (skip to 1 by -1).find(s => bs.size > s && whole(s).nonEmpty)
      .fold(Double.NaN) { s =>
        val (ref, last) = (bs(s - 1), whole(s).last)
        (last.endOffset - ref.endOffset) * 1000.0 / (last.commitMs - ref.commitMs)
      }
  }

  /** Wait until the query's status says whether its current trigger has
    * new data: `false` once it idles, `true` once it has planned a batch,
    * whose source offsets are then fixed. */
  private def awaitDataAvailable(state: Boolean,
      timeoutMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (query.status.isDataAvailable != state &&
        System.currentTimeMillis() < deadline) Thread.sleep(1)
  }

  /** Open loop at the workload's fixed rate for `seconds`: frame i is due
    * at t0 + i/rate and is sent then, however slow the engine is. */
  def openLoop(seconds: Double): Window = {
    awaitCommitted(accepted)
    val n = math.max(1, math.round(seconds * w.ratePerS).toInt)
    val periodMs = 1000.0 / w.ratePerS
    val t0 = System.currentTimeMillis() + 100
    val planned = (0 until n).map { i =>
      val due = t0 + math.round(i * periodMs)
      val s = nextSeq()
      (s, due, in.frame(s, due))
    }
    val offsets = new ArrayBuffer[(Long, Long)]() // (offset, due)
    var late = 0.0
    planned.foreach { case (s, due, p) =>
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      late = math.max(late, (System.currentTimeMillis() - due).toDouble)
      if (send(p, s)) offsets += ((accepted, due))
    }
    awaitCommitted(accepted)
    val first = offsets.headOption.map(_._1).getOrElse(accepted)
    val bs = batches.filter(_.endOffset >= first)
    Main.log(s"open loop: " + bs.map(b =>
      s"${b.images}img/${b.duration("triggerExecution")}ms").mkString(" "))
    val lat = offsets.flatMap { case (off, due) =>
      bs.find(_.endOffset >= off).map(b => (b.commitMs - due).toDouble)
    }
    Window(lat.toSeq, bs, late)
  }

  /** Accepted frames of the current query. */
  def acceptedFrames: Long = accepted
}
