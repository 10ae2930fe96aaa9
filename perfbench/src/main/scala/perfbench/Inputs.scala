package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.epic.ImageFixtures
import graft.sources.ImageSocketClient

/** One watched source as the benchmark registers it. `kept` says whether
  * its whole patch lies inside the field of view, so every image must
  * yield its patch² pixel rows; the others must yield none. */
final case class Source(name: String, ra: Double, dec: Double, patch: Int,
    kept: Boolean, px: Int = -1, py: Int = -1)

/** A workload: the shape of its cubes, its watchlist, its watch store, its
  * fixed open-loop rate, the source's buffer limit and the size of a
  * drain. */
final case class Workload(name: String, nChan: Int, nSources: Int,
    patch: Int, jdbc: Boolean, ratePerS: Double, maxBufferedFrames: Int,
    drainFrames: Int) {
  val nPol: Int = ImageFixtures.NPol
  val planes: Int = 2 * nPol * nChan
}

object Workload {
  // The source's buffer limit (default 256 frames) is capped so that a
  // drain of a few times the buffer fits in a run: the buffer counts the
  // frames of the running batch too, so the frames of two consecutive
  // batches sum to it, and a batch costs 2-3 s. Draining twice 256 frames
  // would take minutes. Open-loop batches stay well below the cap. A drain
  // is three buffers (two measured): six batches, the last four warm.
  // The open loop sends one frame every 3 s (cube_stream) or 3.5 s
  // (crowded_sky). A warm one-frame batch costs 1.6-1.8 s and 1.4-1.8 s
  // here, and up to 2.6 s and 3 s while other guests load the host, so
  // each frame still finds the engine idle and waits for its own batch
  // only. At 1.25 img/s batches held two or three frames, a run settled
  // into one count or the other, and latency moved by a quarter between
  // runs with it; at one frame every 2 s, batches outran the schedule
  // whenever the host was loaded, the backlog grew through the window and
  // the median doubled.
  val all: Seq[Workload] = Seq(
    // reference-shaped 1.4 MB cubes, 4 sources: bytes and per-batch cost
    Workload("cube_stream", nChan = 22, nSources = 4, patch = 7,
      jdbc = false, ratePerS = 1 / 3.0, maxBufferedFrames = 8, drainFrames = 24),
    // small cubes, 100 sources: thousands of pixel rows per image
    Workload("crowded_sky", nChan = 4, nSources = 100, patch = 5,
      jdbc = true, ratePerS = 1 / 3.5, maxBufferedFrames = 8, drainFrames = 24))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (have ${all.map(_.name).mkString(", ")})"))
}

/** Seeded generation of everything the program receives: the watchlist
  * and the image frames. The cube bytes are encoded once; each frame gets
  * its own header (DATETIME = its due time, FILENAME = its sequence
  * number), so frames are cheap to build ahead of their schedule. */
final class Inputs(w: Workload, seed: Long) {
  import Inputs._

  private val rng = new scala.util.Random(seed)

  /** Watchlist. Most sources sit well inside the field of view. For the
    * crowded workload a tenth sit on the FOV ring (the patch centre passes
    * the pre-filter but the patch straddles the ring, so the whole patch
    * is dropped) and a twentieth are behind the sky (NaN projection). */
  val sources: Seq[Source] = (0 until w.nSources).map { i =>
    val name = f"src_$seed%d_$i%04d"
    val kind = if (w.nSources < 20) 0 else {
      val u = rng.nextDouble()
      if (u < 0.10) 1 else if (u < 0.15) 2 else 0
    }
    kind match {
      case 0 => // centre within 22 px of the image centre: patch all inside
        val r = 22.0 * math.sqrt(rng.nextDouble())
        val a = rng.nextDouble() * 2 * math.Pi
        val px = math.round(32 + r * math.cos(a)).toInt
        val py = math.round(32 + r * math.sin(a)).toInt
        val (ra, dec) = pixToSky(px, py)
        Source(name, ra, dec, w.patch, kept = true, px, py)
      case 1 => // centre 27 px out: inside the 27.7 px cut, patch is not
        val a = (rng.nextInt(4) * 90).toDouble.toRadians
        val px = math.round(32 + 27 * math.cos(a)).toInt
        val py = math.round(32 + 27 * math.sin(a)).toInt
        val (ra, dec) = pixToSky(px, py)
        Source(name, ra, dec, w.patch, kept = false)
      case _ => // opposite hemisphere
        Source(name, (ImageFixtures.Ra0 + 180.0 + rng.nextDouble()) % 360.0,
          -ImageFixtures.Dec0 + rng.nextDouble(), w.patch, kept = false)
    }
  }

  val keptSources: Int = sources.count(_.kept)
  val pixelRowsPerImage: Long = keptSources.toLong * w.patch * w.patch

  /** The float32 little-endian cube, encoded once for every frame. */
  val cube: Array[Byte] = {
    val floats = ImageFixtures.cube(w.nChan, w.nPol)
    val bb = ByteBuffer.allocate(floats.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(floats)
    bb.array()
  }

  private val shape = Seq(2, w.nPol, w.nChan, ImageFixtures.YDim,
    ImageFixtures.XDim)

  /** Wire payload of frame `seq`, stamped with `dueMs`. */
  def frame(seq: Long, dueMs: Long): Array[Byte] = {
    val hdr = ImageFixtures.imgHeader(stamp(dueMs), f"EPIC_bench_$seed%d_$seq%08d.fits",
      w.nChan, w.nPol)
    val head = ImageSocketClient.encode(ImageFixtures.primaryHeader, hdr,
      shape, Array.emptyFloatArray)
    val out = java.util.Arrays.copyOf(head, head.length + cube.length)
    System.arraycopy(cube, 0, out, head.length, cube.length)
    out
  }
}

object Inputs {
  private val Fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  def stamp(ms: Long): String = Fmt.format(Instant.ofEpochMilli(ms))

  /** Inverse SIN projection of 0-based pixel (px, py) for the fixture
    * header (centre (180°, 34°), one pixel = 2/64 in direction cosine). */
  def pixToSky(px: Int, py: Int): (Double, Double) = {
    val l = (px + 1 - ImageFixtures.CrPix) * ImageFixtures.CDelt.toRadians
    val m = (py + 1 - ImageFixtures.CrPix) * ImageFixtures.CDelt.toRadians
    val dec0 = ImageFixtures.Dec0.toRadians
    val sq = math.sqrt(1 - l * l - m * m)
    val dec = math.asin(m * math.cos(dec0) + math.sin(dec0) * sq)
    val ra = ImageFixtures.Ra0.toRadians +
      math.atan2(l, math.cos(dec0) * sq - m * math.sin(dec0))
    (((ra.toDegrees % 360) + 360) % 360, dec.toDegrees)
  }

  /** The value the fixture cube holds at plane k, pixel (x, y). */
  def cell(k: Int, y: Int, x: Int): Double =
    k * 100000.0 + y * ImageFixtures.XDim + x
}
