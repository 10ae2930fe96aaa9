package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks, run outside every timed region. Each check is one
  * operation attempted; each failure is one failed operation. */
final class Checks {
  val failures = new ArrayBuffer[String]()
  var attempted = 0L

  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Exception =>
      failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
      return
    }
    if (!pass) failures += name
  }

  /** Every accepted frame yields exactly one metadata row with a distinct
    * id and its kept sources' patch² pixel rows, and every stored pixel
    * vector equals the fixture formula k·100000 + y·64 + x. Returns the
    * number of pixel rows stored. */
  def store(spark: SparkSession, outDir: String, frames: Long,
      rowsPerImage: Long): Long = {
    val meta = spark.read.parquet(s"$outDir/epic_img_metadata")
    val m = meta.agg(count(lit(1)), countDistinct(col("id"))).head()
    check(s"metadata rows ${m.getLong(0)} == frames $frames")(m.getLong(0) == frames)
    check(s"metadata ids distinct ${m.getLong(1)} == rows ${m.getLong(0)}")(
      m.getLong(1) == m.getLong(0))
    val px = spark.read.parquet(s"$outDir/epic_pixels")
    val k = px.agg(count(lit(1)), sum(when(!forall(
      transform(col("pixel_values"), (v, i) =>
        v === i.cast("double") * 100000.0 + col("pixel_coord.y") * 64 +
          col("pixel_coord.x")), b => b), 1).otherwise(0))).head()
    check(s"pixel rows ${k.getLong(0)} == ${frames * rowsPerImage}")(
      k.getLong(0) == frames * rowsPerImage)
    check(s"pixel values off the fixture formula: ${k.get(1)}")(
      Option(k.get(1)).forall(_.asInstanceOf[Long] == 0L))
    k.getLong(0)
  }

  /** One light curve per kept (source, pixel), each over every committed
    * frame, each summing `n_epochs` copies of the fixture pixel. */
  def lightCurves(rows: Array[Row], expectRows: Long, epochs: Long,
      planes: Int): Unit = {
    check(s"light curves ${rows.length} == $expectRows")(rows.length == expectRows)
    check("light curve sums == n_epochs x formula")(rows.forall { r =>
      val n = r.getAs[Long]("n_epochs")
      val c = r.getAs[Row]("pixel_coord")
      val x = c.getAs[Int]("x"); val y = c.getAs[Int]("y")
      val s = r.getAs[scala.collection.Seq[Double]]("summed_values")
      n == epochs && s.length == planes &&
        s.indices.forall(i => s(i) == n * Inputs.cell(i, y, x))
    })
  }
}
