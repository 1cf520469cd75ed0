package graft

/** Shared synthetic EDF builders for specs. */
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
    * signal of `annNr` samples whose TAL carries the record's onset.
    */
  private def write(path: String, startTime: String, reserved: String, labels: Seq[String],
                    nr: Seq[Int], onsets: Seq[Double], annNr: Int)(digital: (Int, Int, Int) => Int): Unit = {
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
        // TAL terminator 0x14 0x14 0x00, spelled as bytes (never raw literals)
        val tal = ("+" + onset).getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
          Array[Byte](0x14, 0x14, 0x00)
        out.write(tal ++ Array.fill(annNr * 2 - tal.length)(0.toByte))
      }
    }
    val f = new java.io.FileOutputStream(path)
    try f.write(out.toByteArray) finally f.close()
  }

  private def perLabel(labels: Seq[String], samplesPerRecord: Seq[Int]): Seq[Int] =
    if (samplesPerRecord.isEmpty) labels.map(_ => 4) else samplesPerRecord

  /** Contiguous EDF: `labels` signals, nRecords records of 1 s, signal s
    * holding `samplesPerRecord(s)` samples per record (4 each when empty,
    * i.e. 4 Hz), digital values = record*n + sample + channel*100 (the
    * EdfSinkSpec fixture layout, shared for many-file planning tests).
    */
  def makeEdfC(path: String, startTime: String, labels: Seq[String],
               nRecords: Int = 3, samplesPerRecord: Seq[Int] = Nil): Unit = {
    val nr = perLabel(labels, samplesPerRecord)
    write(path, startTime, "", labels, nr, (0 until nRecords).map(_.toDouble), annNr = 0) {
      (r, s, i) => r * nr(s) + i + s * 100
    }
  }

  /** EDF+D: `labels` data signals (4 samples per record each when
    * `samplesPerRecord` is empty) plus the annotation signal, one 1 s
    * record per TAL onset, digital values as in [[makeEdfC]].
    */
  def makeEdfD(path: String, onsets: Seq[Double], labels: Seq[String] = Seq("sig1"),
               samplesPerRecord: Seq[Int] = Nil): Unit = {
    val nr = perLabel(labels, samplesPerRecord)
    write(path, "00.00.00", "EDF+D", labels, nr, onsets, annNr = 16) {
      (r, s, i) => r * nr(s) + i + s * 100
    }
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
    val hz = Seq(20, 50)
    write(path, "00.00.00", "", Seq("Sin 20Hz", "Sin 50Hz"), Seq(800, 800),
      (0 until 15).map(_.toDouble), annNr = 0) {
      (r, s, i) => math.round(32767 * math.sin(2 * math.Pi * hz(s) * (r * 800 + i) / 800.0)).toInt
    }
    path
  }
}
