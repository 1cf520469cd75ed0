package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets

/** Seeded EDF writer for the benchmark's EDF workloads.
  *
  * A set is two files with the same channel names: an EDF+C file, then an
  * EDF+D file that starts a seeded interval after the first one ends and
  * carries a planted 2 h gap every `segRecs` records. Every digital value
  * is a pure function of (seed, file, channel, sample), and each channel's
  * calibration has a power-of-two bit value and an integer offset, so a
  * physical value `bit * (offset + digital)` (reference edf.py:8-18) is an
  * exact binary fraction: window sums and sampled binaries are checked
  * bit for bit against this object, not against bytes read back.
  */
final case class EdfSet(seed: Long, nSig: Int, recsC: Int, recsD: Int, segRecs: Int) {
  val samplesPerRec = 256 // 1 s records at 256 Hz
  val gapSeconds = 7200L  // planted EDF+D gap
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

  /** Per-channel calibration: bit = 2^-e (e in 1..3) and an offset in
    * [-1000, 1000] that is a multiple of 8, so both header limits print
    * exactly within the 8-character fields.
    */
  val bitExp: Array[Int] = Array.fill(nSig)(1 + rnd.nextInt(3))
  val offset: Array[Int] = Array.fill(nSig)((rnd.nextInt(251) - 125) * 8)
  def bit(c: Int): Double = 1.0 / (1 << bitExp(c))
  def label(c: Int): String = f"ch$c%02d"

  /** Start of the EDF+C file, whole seconds in 2001..2020 (EDF yy < 85). */
  val startCSec: Long = {
    val base = java.time.LocalDate.of(2001, 1, 1).toEpochDay * 86400L
    base + rnd.nextInt(19 * 365).toLong * 86400L + rnd.nextInt(86400)
  }
  /** The EDF+D file starts 10..60 min after the EDF+C file ends. */
  val startDSec: Long = startCSec + recsC + 600 + rnd.nextInt(3000)

  private val waves: Array[Array[Int]] = Array.tabulate(nSig) { c =>
    val amp = 4000 + rnd.nextInt(8000)
    Array.tabulate(samplesPerRec)(i =>
      math.round(amp * StrictMath.sin(2 * math.Pi * (c + 1) * i / samplesPerRec)).toInt)
  }

  /** Digital value of sample `i` (0-based within the file) of channel `c`
    * in file `f` (0 = EDF+C, 1 = EDF+D): a wave plus seeded noise, int16.
    */
  def digital(f: Int, c: Int, i: Long): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + (f.toLong << 56) + (c.toLong << 44) + i
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^= h >>> 31
    val v = waves(c)((i % samplesPerRec).toInt) + ((h >>> 53).toInt - 1024)
    math.max(-32768, math.min(32767, v))
  }
  def physical(f: Int, c: Int, i: Long): Double = bit(c) * (offset(c) + digital(f, c, i))

  def recs(f: Int): Int = if (f == 0) recsC else recsD
  /** Record start, µs since epoch. */
  def recStartUs(f: Int, r: Int): Long =
    if (f == 0) (startCSec + r) * 1000000L
    else (startDSec + r + (r / segRecs) * gapSeconds) * 1000000L
  /** Sample timestamp as the EDF reader derives it: record start plus
    * j * duration / samplesPerRec in integer µs.
    */
  def tsUs(f: Int, r: Int, j: Int): Long = recStartUs(f, r) + j.toLong * 1000000L / samplesPerRec
  def segments: Int = (recsD + segRecs - 1) / segRecs
  def fileBytes(f: Int): Long = {
    val ns = nSig + f
    256L + ns * 256L + recs(f).toLong * (nSig * samplesPerRec * 2 + f * annBytes)
  }
  private val annSamples = 16
  private def annBytes = annSamples * 2
  def totalBytes: Long = fileBytes(0) + fileBytes(1)

  private def pad(s: String, n: Int): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.US_ASCII)
    require(b.length <= n, s"EDF header field '$s' overflows $n bytes")
    b ++ Array.fill(n - b.length)(' '.toByte)
  }

  /** Write file `f` to `path` (EDF header layout as in edf.py:34-55). */
  def write(f: Int, path: String): Unit = {
    val ann = f == 1
    val ns = nSig + (if (ann) 1 else 0)
    val start = java.time.LocalDateTime.ofEpochSecond(if (f == 0) startCSec else startDSec, 0,
      java.time.ZoneOffset.UTC)
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try {
      out.write(pad("0", 8)); out.write(pad(s"perfbench-$seed", 80)); out.write(pad(s"set-$f", 80))
      out.write(pad(f"${start.getDayOfMonth}%02d.${start.getMonthValue}%02d.${start.getYear % 100}%02d", 8))
      out.write(pad(f"${start.getHour}%02d.${start.getMinute}%02d.${start.getSecond}%02d", 8))
      out.write(pad((256 + ns * 256).toString, 8)); out.write(pad(if (ann) "EDF+D" else "EDF+C", 44))
      out.write(pad(recs(f).toString, 8)); out.write(pad("1", 8)); out.write(pad(ns.toString, 4))
      def field(w: Int, v: Int => String): Unit = (0 until ns).foreach(s => out.write(pad(v(s), w)))
      val isAnn = (s: Int) => s == nSig
      field(16, s => if (isAnn(s)) "EDF Annotations" else label(s))
      field(80, _ => "")
      field(8, s => if (isAnn(s)) "" else "uV")
      field(8, s => if (isAnn(s)) "-1" else fmt(bit(s) * (offset(s) - 32768)))
      field(8, s => if (isAnn(s)) "1" else fmt(bit(s) * (offset(s) + 32767)))
      field(8, _ => "-32768"); field(8, _ => "32767")
      field(80, _ => "")
      field(8, s => if (isAnn(s)) annSamples.toString else samplesPerRec.toString)
      field(32, _ => "")
      val rec = new Array[Byte](nSig * samplesPerRec * 2 + (if (ann) annBytes else 0))
      var r = 0
      while (r < recs(f)) {
        var c = 0
        while (c < nSig) {
          var j = 0
          val base = r.toLong * samplesPerRec
          while (j < samplesPerRec) {
            val d = digital(f, c, base + j)
            val o = (c * samplesPerRec + j) * 2
            rec(o) = (d & 0xff).toByte; rec(o + 1) = ((d >> 8) & 0xff).toByte
            j += 1
          }
          c += 1
        }
        if (ann) {
          val onset = (recStartUs(1, r) / 1000000L - startDSec).toString
          val tal = s"+$onset".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0x14, 0x14, 0x00)
          java.util.Arrays.fill(rec, nSig * samplesPerRec * 2, rec.length, 0.toByte)
          System.arraycopy(tal, 0, rec, nSig * samplesPerRec * 2, tal.length)
        }
        out.write(rec)
        r += 1
      }
    } finally out.close()
  }

  /** Dyadic values print exactly; drop a trailing ".0" to fit 8 chars. */
  private def fmt(v: Double): String = {
    val s = java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString
    require(s.length <= 8 && s.toDouble == v, s"calibration $v does not fit an 8-char field")
    s
  }

  /** Expected (rows, Σ value, Σ ts_us) of a fetch of `chans` over
    * [loUs, hiUs) in file `f`, derived from the generator alone.
    */
  def expectedWindow(f: Int, chans: Seq[Int], loUs: Long, hiUs: Long): (Long, Double, Long) = {
    var n = 0L; var sum = 0.0; var tsSum = 0L
    var r = 0
    while (r < recs(f)) {
      val r0 = recStartUs(f, r)
      if (r0 < hiUs && r0 + 1000000L > loUs) {
        chans.foreach { c =>
          var j = 0
          while (j < samplesPerRec) {
            val ts = tsUs(f, r, j)
            if (ts >= loUs && ts < hiUs) {
              n += 1; sum += physical(f, c, r.toLong * samplesPerRec + j); tsSum += ts
            }
            j += 1
          }
        }
      }
      r += 1
    }
    (n, sum, tsSum)
  }
}
