package perfbench

import scala.collection.mutable
import scala.util.chaining._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness: one workload, one seed, one JVM. Prints one line
  * `PERFBENCH_RESULT {json}` that `run.py` turns into the result line.
  *
  * {{{
  * Main --workload cube_stream --seed 1 --seconds 18 --trace 0 --work DIR
  * }}}
  *
  * Order of a run: host calibration; Spark session; set-up (three times
  * untraced, the last one stays up); the measured phase (a drain whose
  * first two batches warm the engine, a checked light-curve read over the
  * store it leaves, then the open loop); in traced runs the same phase
  * again with tracing on and six reads, both phases on half the window;
  * output checks; traced-only probes; host calibration again.
  */
object Main {

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - Host.jvmStartMs) / 1000.0}%.1f s: $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val w = Workload.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val ctx = mutable.LinkedHashMap[String, Any]()

    val jiffies0 = Host.cpuJiffies
    ctx("calib_start_t1_s") = Host.calibrate(1)
    ctx(s"calib_start_t${cores}_s") = Host.calibrate(cores)

    val spark = session(s"local[$cores]", work)
    val sparkReadyS = (System.currentTimeMillis() - Host.jvmStartMs) / 1000.0
    val tracer = new Tracer
    val progress = new Progress
    spark.streams.addListener(progress)
    val jobs = new Jobs(tracer)

    val in = new Inputs(w, seed)
    val stream = new Stream(spark, w, in, s"$work/main", tracer, progress)
    val checks = new Checks

    // set-up: three times untraced (the last one stays up), once traced.
    // The Spark session is the harness's, not the program's, and its start
    // swings with the host's state, so it sits in the context only.
    val rounds = (1 to (if (traced) 1 else 3)).map { r =>
      if (r > 1) stream.stop()
      stream.setup()
    }
    val setupS = median(rounds)
    ctx("setup_spark_s") = sparkReadyS
    ctx("setup_rounds_s") = rounds
    log("set up")

    // `n` light-curve reads over everything committed so far, each one
    // checked. They run between the drain and the open loop, over the
    // drain's store, whose batches split the same way in every run.
    def readCurves(n: Int): Seq[(Double, DataFrame)] = {
      val frames = stream.acceptedFrames
      (0 until n).map { i =>
        spark.sparkContext.setJobGroup(s"lightcurve-$i", "light-curve read")
        val t0 = tracer.nowMs
        val df = stream.engine.lightCurves(s"${stream.outDir}/epic_pixels",
          s"${stream.outDir}/epic_img_metadata")
        val rows = df.collect()
        val t1 = tracer.nowMs
        spark.sparkContext.clearJobGroup()
        tracer.record("lightcurve", "lightcurve.collect", s"lc$i", t0, t1)
        checks.lightCurves(rows, in.pixelRowsPerImage, frames, w.planes)
        (t1 - t0, df)
      }.tap(_ => log("light curves read"))
    }

    final case class Phase(imagesPerS: Double, win: Window, gcMs: Long,
        reads: Seq[(Double, DataFrame)])
    def phase(reads: Int): Phase = {
      val gc0 = Host.gcMs
      // the first batch after set-up is cold, and the JIT and Spark's
      // generated code still warm during the next two: the drain waits for
      // the first and does not count the next two. Traced runs drain two
      // buffers (one measured) in both phases, so they end in time.
      val ips = stream.drain(
        if (traced) 2 * w.maxBufferedFrames else w.drainFrames, skip = 2)
      val curves = readCurves(reads)
      val win = stream.openLoop(if (traced) seconds / 2 else seconds)
      Phase(ips, win, Host.gcMs - gc0, curves)
    }
    // untraced runs read the light curves once, for the output check
    val plain = phase(reads = if (traced) 0 else 1)
    log("measured")
    val tracedPhase = if (!traced) None else {
      spark.sparkContext.addSparkListener(jobs)
      tracer.enabled = true
      val t0 = System.currentTimeMillis()
      val p = phase(reads = LightCurveReads)
      stream.awaitCommitted(stream.acceptedFrames)
      val tracedBatches = stream.batches.filter(_.startMs >= t0)
      // micro-batch spans from the progress events: the whole trigger and,
      // inside it, addBatch (which ends where the offset commit begins)
      tracedBatches.foreach { b =>
        tracer.record("streaming", "streaming.batch", s"b${b.batchId}",
          b.startMs.toDouble, b.commitMs.toDouble)
        val addEnd = b.commitMs - b.duration("commitOffsets")
        tracer.record("streaming", "streaming.addBatch", s"b${b.batchId}",
          (addEnd - b.duration("addBatch")).toDouble, addEnd.toDouble)
      }
      log("measured with tracing")
      Some((p, tracedBatches))
    }
    val frames = stream.acceptedFrames
    stream.awaitCommitted(frames)
    val uncommitted = frames - stream.committed
    val allBatches = stream.batches
    stream.stop()

    val lcRuns = tracedPhase.fold(plain.reads)(_._1.reads)
    val pixelRows = checks.store(spark, stream.outDir, frames,
      in.pixelRowsPerImage)
    log("outputs checked")

    val lat = plain.win.latMs
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "images_per_s" -> plain.imagesPerS,
      "latency_p50_ms" -> pct(lat, 0.5),
      "latency_p90_ms" -> pct(lat, 0.9))
    ctx("peak_rss_mb") = Host.peakRssMb
    ctx("gc_ms") = Host.gcMs
    ctx("gc_ms_measured") = plain.gcMs
    ctx("latency_frames") = lat.size
    ctx("latency_batches") = plain.win.batches.size
    ctx("gen_late_ms_max") = plain.win.lateMsMax
    ctx("lightcurve_reads_ms") = lcRuns.map(_._1)

    val layer = mutable.LinkedHashMap[String, Double]()
    tracedPhase.foreach { case (p, tracedBatches) =>
      tracer.enabled = false
      Thread.sleep(500) // let the listener bus deliver the last events
      val bs = p.win.batches
      val images = bs.map(_.images).sum.toDouble
      val spans = tracer.linked
      val self = tracer.selfTimes(spans)
      def spanP50(n: String) = median(spans.filter(_.name == n).map(_.ms))
      val sends = spans.filter(_.name == "sources.send").map(_.ms)
      val (lcFiles, lcRows) = Probes.scanned(lcRuns.last._2)
      val sinkFiles = Probes.dataFiles(s"${stream.outDir}/epic_pixels") +
        Probes.dataFiles(s"${stream.outDir}/epic_img_metadata")
      layer ++= Seq(
        "sources.send_ms_p50" -> pct(sends, 0.5),
        "sources.send_ms_p90" -> pct(sends, 0.9),
        "sources.backlog_frames_max" -> bs.map(b =>
          b.latestOffset - b.endOffset).maxOption.getOrElse(0L).toDouble,
        "sources.decode_ms_per_frame" -> Probes.decodeMsPerFrame(in),
        "sources.frames_sent" -> stream.framesSent.toDouble,
        "sources.frames_failed" -> stream.framesFailed.toDouble,
        "streaming.batches" -> bs.size.toDouble,
        "streaming.images_per_batch_p50" -> median(bs.map(_.images.toDouble)),
        "streaming.trigger_ms_p50" ->
          median(bs.map(_.duration("triggerExecution").toDouble)),
        "streaming.add_batch_ms_p50" ->
          median(bs.map(_.duration("addBatch").toDouble)),
        "streaming.overhead_ms_p50" -> median(bs.map(b =>
          (b.duration("triggerExecution") - b.duration("addBatch")).toDouble)),
        "streaming.input_scans_per_image" -> bs.map(_.inputRows).sum / images,
        "epic.watchstore.add_ms_p50" -> median(stream.addMs.toSeq),
        "epic.watchstore.expire_ms_p50" -> spanP50("epic.watchstore.expire"),
        "epic.watchstore.watchlist_ms_p50" ->
          spanP50("epic.watchstore.watchlist"),
        "epic.sink.pixels_ms_p50" -> spanP50("epic.sink.pixels"),
        "epic.sink.meta_ms_p50" -> spanP50("epic.sink.meta"),
        "epic.sink.cpu_ms_per_image" ->
          jobs.cpuMs("batches") / tracedBatches.map(_.images).sum,
        "epic.pixel_rows_per_image" -> pixelRows.toDouble / frames,
        "epic.patch_keep_ratio" -> pixelRows.toDouble /
          (frames * in.sources.map(s => s.patch * s.patch).sum),
        "epic.sink.files_written_per_batch" ->
          sinkFiles.toDouble / allBatches.size,
        "plans.patch_gather_ms_per_1k_patches" -> Probes.patchGatherMsPer1k(in, w),
        "lightcurve.collect_ms_p50" ->
          median(lcRuns.drop(LightCurveWarmups).map(_._1)),
        "lightcurve.files_scanned" -> lcFiles.toDouble,
        "lightcurve.rows_scanned" -> lcRows.toDouble,
        "lightcurve.cpu_ms" -> jobs.cpuMs(s"group:lightcurve-${lcRuns.size - 1}"),
        "jvm.gc_ms" -> p.gcMs.toDouble,
        "jvm.heap_peak_mb" -> Host.heapPeakMb,
        "jvm.peak_rss_mb" -> Host.peakRssMb)
      Seq("sources", "streaming", "epic.watchstore", "epic.sink", "lightcurve")
        .foreach(l => layer(s"$l.self_ms") = self.getOrElse(l, 0.0))
      layer ++= Seq(
        "trace.overhead_latency_p50_ms" -> (pct(p.win.latMs, 0.5) - pct(lat, 0.5)),
        "trace.overhead_images_per_s" -> (p.imagesPerS - plain.imagesPerS),
        "trace.spans" -> spans.size.toDouble)
      tracer.write(s"$work/spans.jsonl", spans)
      log("traced metrics taken")
      // the queries layer, which no stream workload touches: p01 curation
      // over a seeded corpus; run.py checks its id set against DuckDB
      val (sel, wr, shuffle, spill) =
        Probes.curation(spark, s"$work/corpus", seed)
      layer ++= Seq(
        "queries.curate_select_ms" -> sel,
        "queries.curate_write_ms" -> wr,
        "queries.curate_shuffle_bytes" -> shuffle,
        "queries.curate_spill_bytes" -> spill)
      log("curation probe")
    }
    spark.stop()

    // single-threaded drain baseline, cube_stream's whatever the workload:
    // a fresh local[1] session in the warm JVM, one set-up, one drain of
    // two buffers (one measured), so a traced run ends in its time limit
    if (traced) {
      val cw = Workload.byName("cube_stream")
      val one = session("local[1]", work)
      val prog1 = new Progress
      one.streams.addListener(prog1)
      val s1 = new Stream(one, cw, new Inputs(cw, seed), s"$work/one",
        new Tracer, prog1)
      s1.setup()
      layer("streaming.images_per_s_1core") =
        s1.drain(2 * cw.maxBufferedFrames, skip = 2)
      s1.stop()
      one.stop()
      log("single-core drain")
    }

    ctx("calib_end_t1_s") = Host.calibrate(1)
    ctx(s"calib_end_t${cores}_s") = Host.calibrate(cores)
    val jiffies1 = Host.cpuJiffies
    ctx("cpu_steal_pct") = 100.0 * (jiffies1._1 - jiffies0._1) /
      math.max(1L, jiffies1._2 - jiffies0._2)

    val attempted = stream.framesSent + stream.framesFailed + lcRuns.size +
      checks.attempted
    val failed = stream.framesFailed + uncommitted + checks.failures.size
    ctx("error_rate") = failed.toDouble / attempted
    ctx("check_failures") = checks.failures.toSeq
    println("PERFBENCH_RESULT " + Main.json.writeValueAsString(Map(
      "workload" -> w.name, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "per_layer" -> layer, "context" -> ctx)))
  }

  /** Light-curve reads of the traced phase, and how many of them warm the
    * read path (the JIT still compiles the planner and the generated code
    * during the first two, which read 10-200 % slow) and are not counted. */
  val LightCurveReads = 6
  val LightCurveWarmups = 2

  /** JSON for the result line and the span file (NaN stays NaN). */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(master: String, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        master.stripPrefix("local[").stripSuffix("]"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", "graft.ForkFreeLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Linear-interpolated percentile; NaN for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
