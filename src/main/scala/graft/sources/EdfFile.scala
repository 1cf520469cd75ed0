package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.v2.{EdfInputPartition, EdfPushdown, EdfSplitPlanner}

/** EDF / EDF+C / EDF+D files (SURVEY.md §2 A1/A2): header parse, channel
  * metadata, the sample read and TAL annotations.
  *
  * File layout (reference: processor/edf_processor/edf.py:34-76): a 256-byte
  * fixed header, ns·256 bytes of per-signal headers, then `nbDataRec`
  * records, each holding nrSamples(s)·2 bytes of little-endian int16 per
  * signal s, interleaved by signal. EDF+D marks record start offsets in the
  * "EDF Annotations" signal's TAL block (edf.py:62-70).
  *
  * Scale design: the driver reads ONLY headers (256 + ns·256 bytes per
  * file); data parsing is planned as (file, record-range) splits sized
  * `targetSplitBytes` and executed in parallel — a 100 GB EDF file becomes
  * ~800 independent splits, and because every record is self-describing
  * (EDF+D timestamps live inside the record's own TAL), splits need no
  * cross-talk. Samples are decoded in one place, the `format("edf")`
  * scan's partition reader; [[read]] is that scan.
  */
object EdfFile {

  /** Per-signal header (reference edf.py:46-55). */
  final case class EdfSignal(
      label: String, transducer: String, physDim: String,
      physMin: Double, physMax: Double, digMin: Double, digMax: Double,
      prefiltering: String, nrSamples: Int) {
    def isAnnotation: Boolean = label == "EDF Annotations"
    /** Calibration constants (reference edf.py:14-18). */
    def bitValue: Double = (physMax - physMin) / (digMax - digMin)
    def offset: Double = physMax / bitValue - digMax
  }

  /** File header (reference edf.py:36-55), plus the record arithmetic
    * every reader shares: where each signal sits inside a record, which
    * signal carries the TAL, how long a record lasts, and the EDF+D
    * onset a record's TAL names.
    */
  final case class EdfHeader(
      version: String, patientId: String, recordId: String,
      startDate: String, startTime: String, headerBytes: Int,
      reserved: String, nbDataRec: Int, duration: Double, signals: Seq[EdfSignal]) {

    def isDiscontiguous: Boolean = reserved == "EDF+D"

    /** Bytes per data record (sum over signals of 2·nrSamples). */
    lazy val recordBytes: Long = signals.map(_.nrSamples.toLong * 2).sum

    /** Byte offset of each signal's slice inside a record (records are
      * interleaved by signal); one trailing entry holds `recordBytes`.
      */
    lazy val signalOffsets: IndexedSeq[Long] =
      signals.scanLeft(0L)((acc, s) => acc + s.nrSamples * 2L).toIndexedSeq

    /** Position of the "EDF Annotations" signal, or -1 when there is none. */
    lazy val annotationIndex: Int = signals.indexWhere(_.isAnnotation)

    /** Record duration in whole µs. */
    lazy val recordUs: Long = (duration * 1e6).toLong

    /** Start datetime in µs since epoch, UTC (reference edf.py:99-103:
      * yy < 85 → 20yy else 19yy). Parsed on first use, so a malformed
      * date fails where it is first needed, not when the header parses.
      */
    lazy val startUs: Long = {
      val Array(d, mo, y2) = startDate.split("\\.").map(_.trim.toInt)
      val Array(h, mi, s) = startTime.split("\\.").map(_.trim.toInt)
      val y = if (y2 < 85) y2 + 2000 else y2 + 1900
      java.time.LocalDateTime.of(y, mo, d, h, mi, s)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    }

    def sampleRate(sigIdx: Int): Double = signals(sigIdx).nrSamples / duration

    /** Absolute onset (µs) of EDF+D record `rec` of `path`: its TAL, the
      * annotation slice starting at `off` in `buf`, opens with the
      * record's offset from the file start (`+onset<DC4><DC4>`). A
      * malformed onset fails naming the file and the record.
      */
    def talOnsetUs(buf: Array[Byte], off: Int, path: String, rec: Long): Long = {
      val tal = new String(buf, off, signals(annotationIndex).nrSamples * 2, StandardCharsets.US_ASCII)
      val head = tal.split("\u0014\u0014", 2).head
      try startUs + (head.toDouble * 1e6).toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"$path: record $rec: EDF+D TAL onset is not a number: '${head.filter(_ >= ' ').take(40)}'")
      }
    }
  }

  private def str(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, StandardCharsets.US_ASCII).trim

  /** A numeric header field, or an error naming the file and the field. */
  private def num[T](path: String, field: String, raw: String)(parse: String => T): T =
    try parse(raw)
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$path: EDF header field '$field' is not a number: '$raw'")
    }

  /** The signal count from the fixed 256-byte header. */
  private def signalCount(path: String, fixed: Array[Byte]): Int = {
    val ns = num(path, "number of signals", str(fixed, 252, 4))(_.toInt)
    require(ns >= 0, s"$path: EDF header field 'number of signals' is negative: $ns")
    ns
  }

  /** Parse the fixed + signal headers (`256 + ns·256` bytes) of `path`. */
  private def parseHeader(path: String, bytes: Array[Byte]): EdfHeader = {
    val ns = signalCount(path, bytes)
    def sigField(field: Int, width: Int, s: Int): String = {
      // signal headers are stored column-major: all labels, all transducers, ...
      val base = 256 + (field match {
        case 0 => 0            // label (16)
        case 1 => ns * 16      // transducer (80)
        case 2 => ns * 96      // physDim (8)
        case 3 => ns * 104     // physMin (8)
        case 4 => ns * 112     // physMax (8)
        case 5 => ns * 120     // digMin (8)
        case 6 => ns * 128     // digMax (8)
        case 7 => ns * 136     // prefiltering (80)
        case 8 => ns * 216     // nrSamples (8)
      })
      str(bytes, base + s * width, width)
    }
    def sigNum[T](field: Int, name: String, s: Int)(parse: String => T): T =
      num(path, s"$name of signal $s", sigField(field, 8, s))(parse)
    val signals = (0 until ns).map { s =>
      val sig = EdfSignal(
        label = sigField(0, 16, s), transducer = sigField(1, 80, s),
        physDim = sigField(2, 8, s),
        physMin = sigNum(3, "physical minimum", s)(_.toDouble),
        physMax = sigNum(4, "physical maximum", s)(_.toDouble),
        digMin = sigNum(5, "digital minimum", s)(_.toDouble),
        digMax = sigNum(6, "digital maximum", s)(_.toDouble),
        prefiltering = sigField(7, 80, s),
        nrSamples = sigNum(8, "number of samples", s)(_.toInt))
      require(sig.nrSamples >= 0,
        s"$path: EDF header field 'number of samples of signal $s' is negative: ${sig.nrSamples}")
      require(sig.isAnnotation || sig.digMin != sig.digMax,
        s"$path: EDF header fields 'digital minimum' and 'digital maximum' of signal $s " +
          s"('${sig.label}') are both ${sig.digMin}; calibration would divide by zero")
      sig
    }
    // readers seek to headerBytes + rec * recordBytes: a wrong count decodes header text as samples
    val headerBytes = num(path, "number of bytes in header", str(bytes, 184, 8))(_.toInt)
    require(headerBytes == 256 + ns * 256, s"$path: EDF header field 'number of bytes in header' " +
      s"is $headerBytes, not ${256 + ns * 256} (256 + 256 per signal)")
    EdfHeader(
      version = str(bytes, 0, 8), patientId = str(bytes, 8, 80), recordId = str(bytes, 88, 80),
      startDate = str(bytes, 168, 8), startTime = str(bytes, 176, 8),
      headerBytes = headerBytes,
      reserved = str(bytes, 192, 44),
      nbDataRec = num(path, "number of data records", str(bytes, 236, 8))(_.toInt),
      duration = num(path, "duration of a data record", str(bytes, 244, 8))(_.toDouble),
      signals = signals)
  }

  /** Read a file's header via the Hadoop FS API (driver-side, tiny read).
    * A hostile header fails with an `IllegalArgumentException` naming the
    * file and the field: a file shorter than its header, a count or a
    * number that does not parse, a negative signal count, a header byte
    * count other than `256 + ns·256`, a data signal
    * whose digital range is empty, or a data record larger than the
    * file's data bytes (when it claims any record) or than
    * `Int.MaxValue` bytes.
    */
  def readHeader(path: String, conf: Configuration = new Configuration()): EdfHeader = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      def head(n: Int): Array[Byte] = {
        val b = new Array[Byte](n)
        try in.readFully(0, b)
        catch {
          case e: java.io.EOFException =>
            throw new IllegalArgumentException(s"$path: truncated EDF header, the file is shorter than $n bytes", e)
        }
        b
      }
      val h = parseHeader(path, head(256 + signalCount(path, head(256)) * 256))
      // readers size their record buffers from the header before any data
      // read, so a record larger than the file's data bytes (or than one
      // array holds) is refused here, before anything allocates it
      val dataBytes = fs.getFileStatus(p).getLen - h.headerBytes
      def tooLarge(limit: String) = s"$path: EDF header fields 'number of samples' give " +
        s"${h.recordBytes} bytes per data record, more than $limit"
      require(h.recordBytes <= Int.MaxValue, tooLarge(s"${Int.MaxValue}"))
      require(h.nbDataRec <= 0 || h.recordBytes <= dataBytes, tooLarge(s"the file's $dataBytes data bytes"))
      h
    } finally in.close()
  }

  /** Read many files' headers concurrently (driver-side planning).
    * Each read is a ~256 B + ns·256 B positioned fetch; SERIAL reads are
    * fine at hundreds of files but a 100k-file lake would pay 100k
    * filesystem round-trips before planning (r15 verdict #4) — a small
    * thread pool overlaps the latency. Order-preserving; the first
    * failure rethrows its original exception (unchanged error semantics).
    */
  def readHeaders(paths: Seq[String], conf: Configuration = new Configuration()): Seq[(String, EdfHeader)] = {
    if (paths.size <= 2) return paths.map(p => p -> readHeader(p, conf))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(32, paths.size))
    try {
      val futs = paths.map { p =>
        pool.submit(new java.util.concurrent.Callable[(String, EdfHeader)] {
          override def call(): (String, EdfHeader) = p -> readHeader(p, conf)
        })
      }
      futs.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow(): Unit
  }

  /** Open a stream for SUB-CHUNK positioned reads (per-signal slices,
    * TAL peeks). Two measured over-transfer sources die here:
    * `ChecksumFileSystem`'s input checker moves whole checksum chunks
    * (4 KiB) per seek even when no `.crc` sidecar exists — for sub-KB
    * reads that is an 8x byte inflation (measured by a since-deleted
    * probe; tools/edf_scale_r1*.json) — so local-FS reads go through
    * the RAW filesystem; and the plain buffered path
    * gets a stream buffer no larger than the smallest read we will
    * issue, which makes `BufferedInputStream` copy straight into the
    * target (len >= buffer bypasses the fill) while larger sequential
    * reads bypass any buffer regardless. Cluster filesystems (HDFS,
    * object stores) are not `ChecksumFileSystem`s and take the second
    * branch untouched.
    */
  def openSeekable(fs: FileSystem, p: Path, smallestRead: Int): org.apache.hadoop.fs.FSDataInputStream =
    fs match {
      // only skip the checksum layer when there is no .crc sidecar to
      // verify against — a file that HAS one keeps CRC verification
      // (one extra stat per open, amortized over a split's many reads)
      case c: org.apache.hadoop.fs.ChecksumFileSystem
          if !c.getRawFileSystem.exists(c.getChecksumFile(p)) =>
        c.getRawFileSystem.open(p, math.max(1, smallestRead))
      case other => other.open(p, math.max(1, smallestRead))
    }

  /** Hadoop Configuration is not serializable — capture the session's
    * entries on the driver and rebuild executor-side, so cluster FS
    * settings (object-store credentials, endpoints) reach the readers.
    */
  def captureConfEntries(spark: SparkSession): Seq[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = Seq.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += e.getKey -> e.getValue }
    buf.result()
  }

  def confFromEntries(entries: Seq[(String, String)]): Configuration = {
    val c = new Configuration(false)
    entries.foreach { case (k, v) => c.set(k, v) }
    c
  }

  val sampleSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("channel_idx", IntegerType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("unit", StringType, nullable = false),
    StructField("rate", DoubleType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("sample_idx", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val annotationSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("record_idx", LongType, nullable = false),
    StructField("onset_s", DoubleType, nullable = false),
    StructField("duration_s", DoubleType, nullable = true),
    StructField("text", StringType, nullable = true)))

  /** A2: header-only channel metadata DataFrame (one row per signal). */
  def channels(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val rows = readHeaders(paths, spark.sparkContext.hadoopConfiguration).flatMap { case (path, h) =>
      h.signals.zipWithIndex.filterNot(_._1.isAnnotation).map { case (s, i) =>
        Row(path, i, s.label, s.physDim, h.sampleRate(i), s.nrSamples.toLong, h.nbDataRec.toLong,
          s.physMin, s.physMax, s.digMin, s.digMax, h.isDiscontiguous, h.startUs)
      }
    }
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("channel_idx", IntegerType, nullable = false),
      StructField("channel", StringType, nullable = false),
      StructField("unit", StringType, nullable = false),
      StructField("rate", DoubleType, nullable = false),
      StructField("samples_per_record", LongType, nullable = false),
      StructField("n_records", LongType, nullable = false),
      StructField("phys_min", DoubleType, nullable = false),
      StructField("phys_max", DoubleType, nullable = false),
      StructField("dig_min", DoubleType, nullable = false),
      StructField("dig_max", DoubleType, nullable = false),
      StructField("discontiguous", BooleanType, nullable = false),
      StructField("start_us", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** A1: read EDF files into a long sample DataFrame: the `format("edf")`
    * scan, with `targetSplitBytes` as its split size. Lazy, like any
    * DataFrame read: header planning runs when an action (or `.rdd`)
    * plans the scan.
    *
    * Sample timestamps follow the EDF contract: record start (header start
    * + record_idx·duration for EDF+C, or the record's TAL offset for
    * EDF+D) plus (i·duration/nrSamples) within the record — integer µs.
    * (The reference's linspace step of (n-1)/(n·rate) at
    * base.py:357-372 is an off-by-one artifact of its chunk helper; we use
    * the EDF-specified uniform sampling grid.)
    */
  def read(spark: SparkSession, paths: Seq[String], targetSplitBytes: Long = 128L << 20): DataFrame =
    spark.read.format("edf").option("targetSplitBytes", targetSplitBytes.toString).load(paths: _*)

  /** Annotation (TAL) extraction: (onset, duration, text) per record, one
    * task per split of the scan's planner, each opening its file through
    * the session's Hadoop conf.
    */
  def annotations(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val splits = EdfSplitPlanner.planScan(spark, paths, EdfPushdown(), 128L << 20)
    val confEntries = captureConfEntries(spark)
    val rows = spark.sparkContext.parallelize(splits, math.max(1, splits.size)).flatMap { split =>
      val p = new Path(split.path)
      val in = p.getFileSystem(confFromEntries(confEntries)).open(p)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      readAnnotations(split, in)
    }
    spark.createDataFrame(rows, annotationSchema)
  }

  /** Executor-side TAL parsing for one record range. */
  private def readAnnotations(split: EdfInputPartition,
                              in: org.apache.hadoop.fs.FSDataInputStream): Iterator[Row] = {
    val h = split.header
    val annIdx = h.annotationIndex
    if (annIdx < 0) return Iterator.empty
    val recBytes = h.recordBytes
    val off = h.signalOffsets(annIdx).toInt
    val len = h.signals(annIdx).nrSamples * 2
    val buf = new Array[Byte](recBytes.toInt)

    (split.recordLo until split.recordHi).iterator.flatMap { rec =>
      in.readFully(h.headerBytes + rec * recBytes, buf)
      val tal = new String(buf, off, len, StandardCharsets.US_ASCII)
      // TALs: onset[<NAK>duration]<DC4>text1<DC4>text2...<DC4><NUL>
      tal.split("\u0000").iterator.filter(_.nonEmpty).flatMap { block =>
        val parts = block.split("\u0014")
        if (parts.isEmpty || parts.head.isEmpty) Iterator.empty
        else {
          val timing = parts.head.split("\u0015")
          val onsetOpt = scala.util.Try(timing(0).toDouble).toOption
          onsetOpt.map { onset =>
            val dur = if (timing.length > 1) scala.util.Try(timing(1).toDouble).toOption else None
            val text = parts.drop(1).filter(_.nonEmpty).mkString("; ")
            Row(split.path, rec.toLong, onset,
              dur.map(Double.box).orNull, if (text.isEmpty) null else text)
          }.iterator
        }
      }
    }
  }
}
