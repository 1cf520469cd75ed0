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

  /** Contiguous EDF: `labels` signals, nRecords records of 1 s, signal s
    * holding `samplesPerRecord(s)` samples per record (4 each when empty,
    * i.e. 4 Hz), digital values = record*n + sample + channel*100 (the
    * EdfSinkSpec fixture layout, shared for many-file planning tests).
    */
  def makeEdfC(path: String, startTime: String, labels: Seq[String],
               nRecords: Int = 3, samplesPerRecord: Seq[Int] = Nil): Unit = {
    val nr = if (samplesPerRecord.isEmpty) labels.map(_ => 4) else samplesPerRecord
    require(nr.size == labels.size, "one samples-per-record entry per label")
    val out = new java.io.ByteArrayOutputStream()
    val nSig = labels.size
    out.write(pad("0", 8)); out.write(pad("patient", 80)); out.write(pad("rec", 80))
    out.write(pad("01.01.20", 8)); out.write(pad(startTime, 8))
    out.write(pad((256 + nSig * 256).toString, 8))
    out.write(pad("", 44))
    out.write(pad(nRecords.toString, 8)); out.write(pad("1", 8)); out.write(pad(nSig.toString, 4))
    labels.foreach(l => out.write(pad(l, 16)))
    labels.foreach(_ => out.write(pad("", 80)))
    labels.foreach(_ => out.write(pad("uV", 8)))
    labels.foreach(_ => out.write(pad("-100", 8)))
    labels.foreach(_ => out.write(pad("100", 8)))
    labels.foreach(_ => out.write(pad("-32768", 8)))
    labels.foreach(_ => out.write(pad("32767", 8)))
    labels.foreach(_ => out.write(pad("", 80)))
    nr.foreach(n => out.write(pad(n.toString, 8)))
    labels.foreach(_ => out.write(pad("", 32)))
    (0 until nRecords).foreach { r =>
      labels.indices.foreach { s =>
        (0 until nr(s)).foreach(i => writeInt16(out, r * nr(s) + i + s * 100))
      }
    }
    val f = new java.io.FileOutputStream(path)
    try f.write(out.toByteArray) finally f.close()
  }

  /** EDF+D: `labels` data signals (4 samples per record each when
    * `samplesPerRecord` is empty) plus the annotation signal, one 1 s
    * record per TAL onset, digital values as in [[makeEdfC]].
    */
  def makeEdfD(path: String, onsets: Seq[Double], labels: Seq[String] = Seq("sig1"),
               samplesPerRecord: Seq[Int] = Nil): Unit = {
    val nr = if (samplesPerRecord.isEmpty) labels.map(_ => 4) else samplesPerRecord
    require(nr.size == labels.size, "one samples-per-record entry per label")
    val out = new java.io.ByteArrayOutputStream()
    val annNr = 16
    val nSig = labels.size + 1
    def each(data: String, ann: String, n: Int): Unit = {
      labels.foreach(_ => out.write(pad(data, n))); out.write(pad(ann, n))
    }
    out.write(pad("0", 8)); out.write(pad("patient", 80)); out.write(pad("rec", 80))
    out.write(pad("01.01.20", 8)); out.write(pad("00.00.00", 8))
    out.write(pad((256 + nSig * 256).toString, 8)); out.write(pad("EDF+D", 44))
    out.write(pad(onsets.size.toString, 8)); out.write(pad("1", 8)); out.write(pad(nSig.toString, 4))
    labels.foreach(l => out.write(pad(l, 16))); out.write(pad("EDF Annotations", 16))
    each("", "", 80)
    each("uV", "", 8)
    each("-100", "-1", 8)
    each("100", "1", 8)
    each("-32768", "-32768", 8)
    each("32767", "32767", 8)
    each("", "", 80)
    nr.foreach(n => out.write(pad(n.toString, 8))); out.write(pad(annNr.toString, 8))
    each("", "", 32)
    onsets.zipWithIndex.foreach { case (onset, r) =>
      labels.indices.foreach { s =>
        (0 until nr(s)).foreach(i => writeInt16(out, r * nr(s) + i + s * 100))
      }
      // TAL terminator 0x14 0x14 0x00, spelled as bytes (never raw literals)
      val tal = ("+" + onset).getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
        Array[Byte](0x14, 0x14, 0x00)
      out.write(tal ++ Array.fill(annNr * 2 - tal.length)(0.toByte))
    }
    val f = new java.io.FileOutputStream(path); try f.write(out.toByteArray) finally f.close()
  }
}
