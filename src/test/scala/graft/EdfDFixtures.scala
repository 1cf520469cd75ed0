package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import graft.sources.EdfFile

/** Shared synthetic EDF builders for specs, and the closed-form
  * `EdfFile.sampleSchema` rows of the files they write.
  */
object EdfDFixtures {

  private def pad(s: String, n: Int): Array[Byte] = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    b ++ Array.fill(n - b.length)(' '.toByte)
  }

  private def writeInt16(out: java.io.OutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** EDF file of 1 s records, one per entry of `onsets`: data signal s
    * holds `nr(s)` samples per record, physical range ±100 uV over the
    * full int16 digital range, and sample i of record r is the digital
    * value `digital(r, s, i)`. `annNr` > 0 appends an "EDF Annotations"
    * signal of `annNr` samples whose TAL carries the record's onset, then
    * the record's `talEntry` (onset s, duration s, text), if it has one.
    */
  private def write(path: String, startTime: String, reserved: String, labels: Seq[String],
                    nr: Seq[Int], onsets: Seq[Double], annNr: Int,
                    talEntry: Int => Option[(Double, Double, String)] = _ => None)(
                    digital: (Int, Int, Int) => Int): Unit = {
    require(nr.size == labels.size, "one samples-per-record entry per label")
    val out = new java.io.ByteArrayOutputStream()
    val ann = annNr > 0
    val nSig = labels.size + (if (ann) 1 else 0)
    def each(data: String, annField: String, n: Int): Unit = {
      labels.foreach(_ => out.write(pad(data, n)))
      if (ann) out.write(pad(annField, n))
    }
    out.write(pad("0", 8)); out.write(pad("patient", 80)); out.write(pad("rec", 80))
    out.write(pad("01.01.20", 8)); out.write(pad(startTime, 8))
    out.write(pad((256 + nSig * 256).toString, 8)); out.write(pad(reserved, 44))
    out.write(pad(onsets.size.toString, 8)); out.write(pad("1", 8)); out.write(pad(nSig.toString, 4))
    labels.foreach(l => out.write(pad(l, 16)))
    if (ann) out.write(pad("EDF Annotations", 16))
    each("", "", 80)
    each("uV", "", 8)
    each("-100", "-1", 8)
    each("100", "1", 8)
    each("-32768", "-32768", 8)
    each("32767", "32767", 8)
    each("", "", 80)
    nr.foreach(n => out.write(pad(n.toString, 8)))
    if (ann) out.write(pad(annNr.toString, 8))
    each("", "", 32)
    onsets.zipWithIndex.foreach { case (onset, r) =>
      labels.indices.foreach { s =>
        (0 until nr(s)).foreach(i => writeInt16(out, digital(r, s, i)))
      }
      if (ann) {
        // TAL separators spelled as bytes (never raw literals): 0x15 before
        // a duration, 0x14 after the timing and each text, 0x00 at the end
        def ascii(v: Any) = v.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val tal = ascii("+" + onset) ++ Array[Byte](0x14, 0x14, 0x00) ++
          talEntry(r).fold(Array.empty[Byte]) { case (on, dur, text) =>
            ascii("+" + on) ++ Array[Byte](0x15) ++ ascii(dur) ++ Array[Byte](0x14) ++
              ascii(text) ++ Array[Byte](0x14, 0x00)
          }
        require(tal.length <= annNr * 2, s"record $r: a ${tal.length}-byte TAL overflows ${annNr * 2} bytes")
        out.write(tal ++ Array.fill(annNr * 2 - tal.length)(0.toByte))
      }
    }
    val f = new java.io.FileOutputStream(path)
    try f.write(out.toByteArray) finally f.close()
  }

  /** The `EdfFile.sampleSchema` rows of a file [[write]] wrote on
    * 01.01.20 at `startTime`, in closed form: one row per sample, the
    * record of onset o starting at the header start + o (whole µs),
    * sample i of an n-sample record at `i * 1_000_000 / n` µs after it
    * (integer division), and the value calibrated in the reference's
    * order (edf.py:14-18), so doubles compare exactly.
    */
  private def rows(path: String, startTime: String, labels: Seq[String], nr: Seq[Int],
                   onsets: Seq[Double])(digital: (Int, Int, Int) => Int): Seq[Row] = {
    val Array(hh, mm, ss) = startTime.split('.').map(_.toInt)
    val startUs = java.time.LocalDateTime.of(2020, 1, 1, hh, mm, ss)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    val bit = 200.0 / 65535.0          // (physMax - physMin) / (digMax - digMin)
    val off = 100.0 / bit - 32767.0    // physMax / bit - digMax
    for {
      (onset, r) <- onsets.zipWithIndex
      s <- labels.indices
      n = nr(s)
      i <- 0 until n
    } yield new GenericRowWithSchema(Array(path, s, labels(s), "uV", n.toDouble, r.toLong,
      r.toLong * n + i, startUs + math.round(onset * 1e6) + i * 1000000L / n,
      bit * (off + digital(r, s, i))), EdfFile.sampleSchema)
  }

  private def perLabel(labels: Seq[String], samplesPerRecord: Seq[Int]): Seq[Int] =
    if (samplesPerRecord.isEmpty) labels.map(_ => 4) else samplesPerRecord

  /** Digital value of sample i of record r in signal s (n of s per record). */
  private def ramp(nr: Seq[Int])(r: Int, s: Int, i: Int): Int = r * nr(s) + i + s * 100

  /** Contiguous EDF: `labels` signals, nRecords records of 1 s, signal s
    * holding `samplesPerRecord(s)` samples per record (4 each when empty,
    * i.e. 4 Hz), digital values = record*n + sample + channel*100 (the
    * EdfSinkSpec fixture layout, shared for many-file planning tests).
    */
  def makeEdfC(path: String, startTime: String, labels: Seq[String],
               nRecords: Int = 3, samplesPerRecord: Seq[Int] = Nil): Unit = {
    val nr = perLabel(labels, samplesPerRecord)
    write(path, startTime, "", labels, nr, (0 until nRecords).map(_.toDouble), annNr = 0)(ramp(nr))
  }

  /** The closed-form rows of the file [[makeEdfC]] writes with these arguments. */
  def edfCRows(path: String, startTime: String, labels: Seq[String],
               nRecords: Int = 3, samplesPerRecord: Seq[Int] = Nil): Seq[Row] = {
    val nr = perLabel(labels, samplesPerRecord)
    rows(path, startTime, labels, nr, (0 until nRecords).map(_.toDouble))(ramp(nr))
  }

  /** EDF+D: `labels` data signals (4 samples per record each when
    * `samplesPerRecord` is empty) plus the annotation signal, one 1 s
    * record per TAL onset, digital values as in [[makeEdfC]]. Record r's
    * TAL carries `talEntry(r)` (onset s, duration s, text) after its
    * onset, when that is defined.
    */
  def makeEdfD(path: String, onsets: Seq[Double], labels: Seq[String] = Seq("sig1"),
               samplesPerRecord: Seq[Int] = Nil,
               talEntry: Int => Option[(Double, Double, String)] = _ => None): Unit = {
    val nr = perLabel(labels, samplesPerRecord)
    write(path, "00.00.00", "EDF+D", labels, nr, onsets, annNr = 16, talEntry)(ramp(nr))
  }

  /** The closed-form rows of the file [[makeEdfD]] writes with these arguments. */
  def edfDRows(path: String, onsets: Seq[Double], labels: Seq[String] = Seq("sig1"),
               samplesPerRecord: Seq[Int] = Nil): Seq[Row] = {
    val nr = perLabel(labels, samplesPerRecord)
    rows(path, "00.00.00", labels, nr, onsets)(ramp(nr))
  }

  private lazy val referenceDir: String =
    java.nio.file.Files.createTempDirectory("edf-reference").toString

  /** Stand-in for the reference processor's `sample_data/test.edf`, in the
    * shape its tests/params.py asserts: EDF+C, 600 records of 1 s, 11 data
    * signals at 200 samples per record, plus the annotation signal. Sample
    * n of signal s (n counted from the file start) is the sawtooth digital
    * value (97·(s+1)·n mod 65536) − 32768.
    */
  lazy val testEdf: String = {
    val path = s"$referenceDir/test.edf"
    val labels = Seq("Fp1", "Fp2", "F3", "F4", "C3", "C4", "P3", "P4", "O1", "O2", "ECG")
    write(path, "00.00.00", "EDF+C", labels, labels.map(_ => 200),
      (0 until 600).map(_.toDouble), annNr = 16) {
      (r, s, i) => (97 * (s + 1) * (r * 200 + i)) % 65536 - 32768
    }
    path
  }

  /** Stand-in for the reference processor's `sample_data/sin_wave.edf`:
    * plain EDF, 2 channels × 12 000 samples at 800 Hz (15 records of
    * 1 s). Sample n of "Sin 20Hz" is round(32767·sin(2π·20·n/800)), and
    * "Sin 50Hz" is the same sine at 50 Hz.
    */
  lazy val sinWaveEdf: String = {
    val path = s"$referenceDir/sin_wave.edf"
    write(path, "00.00.00", "", sinLabels, Seq(800, 800), sinOnsets, annNr = 0)(sine)
    path
  }

  /** The closed-form rows of [[sinWaveEdf]]. */
  def sinWaveRows: Seq[Row] = rows(sinWaveEdf, "00.00.00", sinLabels, Seq(800, 800), sinOnsets)(sine)

  private val sinLabels = Seq("Sin 20Hz", "Sin 50Hz")
  private val sinOnsets = (0 until 15).map(_.toDouble)
  private def sine(r: Int, s: Int, i: Int): Int =
    math.round(32767 * math.sin(2 * math.Pi * Seq(20, 50)(s) * (r * 800 + i) / 800.0)).toInt
}
