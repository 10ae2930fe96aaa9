package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.{ScaleData, SparkEntry}
import graft.operators.QueryMetrics
import graft.plans.PatchGather
import graft.queries.LlmQueries
import graft.sources.ImageFrameDecoder

/** Traced-run probes: each times one layer's public functions directly,
  * apart from the stream. */
object Probes {

  private def msPerCall(reps: Int)(body: => Unit): Double = {
    (0 until reps).foreach(_ => body) // warm-up
    val samples = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => body)
      (System.nanoTime() - t0) / 1e6 / reps
    }
    Main.median(samples)
  }

  /** `ImageFrameDecoder.decodeBinary` on one workload frame, ms. */
  def decodeMsPerFrame(in: Inputs): Double = {
    val frame = in.frame(0L, System.currentTimeMillis())
    msPerCall(20)(ImageFrameDecoder.decodeBinary(frame))
  }

  /** The `PatchGather` kernel over one workload cube × every kept source's
    * patch, ms per 1000 patches. */
  def patchGatherMsPer1k(in: Inputs, w: Workload): Double = {
    val blob = in.cube
    val kept = in.sources.filter(_.kept)
    if (kept.isEmpty) return 0.0
    val half = w.patch / 2
    val ms = msPerCall(10) {
      kept.foreach(s => PatchGather.gatherBinary(blob, w.planes, s.py.toDouble,
        s.px.toDouble, half, graft.epic.ImageFixtures.YDim,
        graft.epic.ImageFixtures.XDim))
    }
    ms * 1000.0 / kept.size
  }

  /** The `curate` path (p01 selection, join back to the documents, parquet
    * write) over 1,000 seeded documents, the second of two passes. Writes
    * the p01 oracle SQL beside the corpus and the curated output, so
    * `run.py` can check the id set in DuckDB outside any timed region.
    * Returns (select ms, write ms, shuffle bytes, spill bytes). */
  def curation(spark: SparkSession, dir: String, seed: Long)
      : (Double, Double, Double, Double) = {
    import spark.implicits._
    spark.range(seed * 1000, seed * 1000 + 1000).map(i => ScaleData.doc(i))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Files.write(Paths.get(s"$dir/p01_oracle.sql"),
      SparkEntry.oracleSql("p01_curation_pipeline").getBytes(StandardCharsets.UTF_8))
    def pass(): (Double, Double, Double, Double) = {
      var selectMs = 0.0
      val (kept, cost) = QueryMetrics.measureJobs(spark) {
        val t0 = System.nanoTime()
        val k = LlmQueries.all("p01_curation_pipeline")(spark, dir)
          .localCheckpoint()
        selectMs = (System.nanoTime() - t0) / 1e6
        k
      }
      val t0 = System.nanoTime()
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .join(kept, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/curated")
      (selectMs, (System.nanoTime() - t0) / 1e6,
        cost.shuffleBytesWritten.toDouble, cost.spillBytes.toDouble)
    }
    pass() // warm-up
    pass()
  }

  /** (files, rows) read by the file scans of an executed query. */
  def scanned(df: DataFrame): (Long, Long) = {
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (sum("numFiles"), sum("numOutputRows"))
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case other => other +: other.children.flatMap(flatten)
  }

  /** Parquet data files under a sink directory. */
  def dataFiles(dir: String): Long =
    Option(new File(dir).listFiles()).map(_.count(f =>
      f.isFile && f.getName.startsWith("part-"))).getOrElse(0).toLong
}
