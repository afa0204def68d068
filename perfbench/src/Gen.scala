package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.ByteBuffer

/** Seeded synthetic SEG-Y rev-1 surveys, written and checked without any
  * engine code: its own IBM32 encoder, its own header layout.
  *
  * Every sample is a pure function of (seed, trace index, sample index), so
  * any trace or sample can be regenerated for the output checks. Samples
  * are a band-limited signal (three sinusoids whose phase drifts from trace
  * to trace) plus seeded white noise, quantised to k/2^12 with |k| < 2^15:
  * IBM32 and float32 both hold every such value exactly, so decode and
  * re-encode round trips are bit-exact. The noise keeps the payload from
  * compressing to nothing, as real seismic does (20-40% lossless savings).
  */
object Gen {

  /** Trace layout of a survey: which header keys each trace carries. */
  sealed trait Geometry { def nTraces: Int }

  /** 3-D post-stack cube, inline-major: trace t is (il0 + t / nXl, xl0 + t % nXl). */
  final case class PostStack(nIl: Int, nXl: Int, il0: Int, xl0: Int) extends Geometry {
    def nTraces: Int = nIl * nXl
    def inline(t: Int): Int = il0 + t / nXl
    def crossline(t: Int): Int = xl0 + t % nXl
  }

  /** Streamer shot gathers, channels numbered sequentially across cables
    * (geometry type B), with some (shot, cable, channel) tuples written
    * twice in a row (duplicates). Arrays hold each trace's header values
    * in file order. */
  final case class Gathers(nShots: Int, nCables: Int, nChannels: Int,
                           shot: Array[Int], cable: Array[Int],
                           channel: Array[Int], nDuplicated: Int) extends Geometry {
    def nTraces: Int = shot.length
  }

  final case class Survey(seed: Long, geometry: Geometry, nSamples: Int,
                          intervalUs: Int) {
    def recordBytes: Int = 240 + 4 * nSamples
    def fileBytes: Long = 3600L + geometry.nTraces.toLong * recordBytes
  }

  val FormatIbm32 = 1
  val IntervalUs = 2000

  def postStack(seed: Long, nIl: Int, nXl: Int, nSamples: Int): Survey = {
    val r = new java.util.Random(seed)
    Survey(seed, PostStack(nIl, nXl, 100 + r.nextInt(900), 1000 + r.nextInt(9000)),
      nSamples, IntervalUs)
  }

  def gathers(seed: Long, nShots: Int, nCables: Int, nChannels: Int,
              dupFraction: Double, nSamples: Int): Survey = {
    val r = new java.util.Random(seed ^ 0x5eedL)
    val sp0 = 1000 + r.nextInt(9000)
    val shot = Array.newBuilder[Int]
    val cable = Array.newBuilder[Int]
    val channel = Array.newBuilder[Int]
    var dups = 0
    for (s <- 0 until nShots; c <- 0 until nCables; k <- 0 until nChannels) {
      val copies = if (r.nextDouble() < dupFraction) 2 else 1
      if (copies == 2) dups += 1
      for (_ <- 0 until copies) {
        shot += sp0 + 2 * s
        cable += c + 1
        channel += c * nChannels + k + 1
      }
    }
    Survey(seed, Gathers(nShots, nCables, nChannels, shot.result(),
      cable.result(), channel.result(), dups), nSamples, IntervalUs)
  }

  // ------------------------------------------------------------- samples

  private def mix(z0: Long): Long = { // SplitMix64 finaliser
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val Freqs = Array(12.0, 27.0, 45.0)   // Hz, inside a 2 ms band
  private val Amps = Array(1.1, 0.7, 0.4)

  /** Sample `i` of trace `t`: exactly k / 4096 for an integer |k| < 2^15. */
  def sample(s: Survey, t: Int, i: Int): Float = {
    val time = i * s.intervalUs * 1e-6
    var x = 0.0
    var k = 0
    while (k < 3) {
      val phase = (mix(s.seed * 31 + k) & 0xffff) / 65536.0 * 2 * math.Pi +
        0.013 * (k + 1) * t
      x += Amps(k) * StrictMath.sin(2 * math.Pi * Freqs(k) * time + phase)
      k += 1
    }
    val h = mix(mix(s.seed) ^ (t.toLong << 20) ^ i)
    x += ((h >>> 11) * (1.0 / (1L << 53)) - 0.5) * 0.2
    (StrictMath.rint(x * 4096) / 4096).toFloat + 0.0f // no negative zero
  }

  def trace(s: Survey, t: Int): Array[Float] =
    Array.tabulate(s.nSamples)(i => sample(s, t, i))

  /** IBM System/360 single precision, big-endian word. Exact for the
    * k/2^12 grid above (at most 19 significant bits). */
  def ibm32(v: Float): Int = {
    if (v == 0f) return 0
    val sign = if (v < 0) 0x80000000 else 0
    var a = math.abs(v.toDouble)
    var exp = 64
    while (a >= 1.0) { a /= 16; exp += 1 }
    while (a < 1.0 / 16) { a *= 16; exp -= 1 }
    val frac = (a * (1 << 24)).toLong
    require(frac.toDouble == a * (1 << 24), s"$v is not exact in IBM32")
    sign | (exp << 24) | frac.toInt
  }

  /** Non-zero sample count, min and max: what the ingest statistics record. */
  final case class Stats(count: Long, min: Double, max: Double)

  // ---------------------------------------------------------------- files

  /** Text header lines as written: 40 × 80 characters. */
  def textHeader(s: Survey): String = {
    val lines = Seq(
      s"C 1 SYNTHETIC SURVEY SEED ${s.seed}",
      s"C 2 ${s.geometry.nTraces} TRACES ${s.nSamples} SAMPLES ${s.intervalUs} US IBM32",
      "C 3 GENERATED FOR THE ENTRY-POINT BENCHMARK") ++
      (4 to 40).map(n => f"C$n%2d")
    lines.map(l => l.padTo(80, ' ').take(80)).mkString
  }

  /** Binary-header fields written (1-based byte offset, width, value). */
  def binaryFields(s: Survey): Seq[(String, Int, Int, Int)] = Seq(
    ("sample_interval", 17, 2, s.intervalUs),
    ("samples_per_trace", 21, 2, s.nSamples),
    ("data_sample_format", 25, 2, FormatIbm32))

  /** Trace-header fields every trace carries (besides the geometry keys). */
  def traceFields(s: Survey): Seq[(String, Int, Int, Int)] = Seq(
    ("n_samples", 115, 2, s.nSamples),
    ("sample_interval", 117, 2, s.intervalUs))

  private def put(b: ByteBuffer, off1: Int, width: Int, v: Int): Unit =
    if (width == 2) b.putShort(off1 - 1, v.toShort) else b.putInt(off1 - 1, v)

  def traceHeader(s: Survey, t: Int, b: ByteBuffer): Unit = {
    java.util.Arrays.fill(b.array(), 0, 240, 0.toByte)
    put(b, 1, 4, t + 1)                        // trace sequence in line
    traceFields(s).foreach { case (_, o, w, v) => put(b, o, w, v) }
    s.geometry match {
      case g: PostStack =>
        put(b, 21, 4, t + 1)                   // cdp ensemble
        put(b, 189, 4, g.inline(t))
        put(b, 193, 4, g.crossline(t))
      case g: Gathers =>
        put(b, 9, 4, g.shot(t))                // field record
        put(b, 13, 4, g.channel(t))
        put(b, 17, 4, g.shot(t))
        put(b, 137, 2, g.cable(t))
    }
  }

  /** Write the survey to `path`; returns the statistics of its samples. */
  def write(s: Survey, path: String): Stats = {
    val charset =
      try java.nio.charset.Charset.forName("IBM037")
      catch { case _: Exception => java.nio.charset.StandardCharsets.US_ASCII }
    val os = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    var n = 0L
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    try {
      os.write(textHeader(s).getBytes(charset))
      val bin = ByteBuffer.allocate(400)
      binaryFields(s).foreach { case (_, o, w, v) => put(bin, o, w, v) }
      put(bin, 301, 2, 0x0100)                 // revision 1.0
      put(bin, 303, 2, 1)                      // fixed-length traces
      os.write(bin.array())
      val rec = ByteBuffer.allocate(s.recordBytes)
      var t = 0
      while (t < s.geometry.nTraces) {
        traceHeader(s, t, rec)
        var i = 0
        while (i < s.nSamples) {
          val v = sample(s, t, i)
          rec.putInt(240 + 4 * i, ibm32(v))
          if (v != 0f) {
            n += 1
            if (v < lo) lo = v
            if (v > hi) hi = v
          }
          i += 1
        }
        os.write(rec.array())
        t += 1
      }
    } finally os.close()
    Stats(n, lo, hi)
  }
}
