package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Distributed EDF / EDF+C / EDF+D reader (SURVEY.md §2 A1/A2).
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
  * cross-talk. Rows stream out of an iterator (no per-split buffering).
  */
object EdfFile {

  /** Split sizing with a bytes-per-core cap (Spark's
    * FilePartition.maxSplitBytes shape): min(target, max(1 MiB,
    * dataBytes/parallelism)). Shared by the RDD reader and the DSv2
    * split planner.
    */
  private[sources] def effectiveSplitBytes(target: Long, dataBytes: Long,
                                           parallelism: Int): Long =
    math.min(math.max(1L, target),
      math.max(1L << 20, dataBytes / math.max(1, parallelism)))

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

  /** File header (reference edf.py:36-55). */
  final case class EdfHeader(
      version: String, patientId: String, recordId: String,
      startDate: String, startTime: String, headerBytes: Int,
      reserved: String, nbDataRec: Int, duration: Double, signals: Seq[EdfSignal]) {

    def isDiscontiguous: Boolean = reserved == "EDF+D"

    /** Bytes per data record (sum over signals of 2·nrSamples). */
    lazy val recordBytes: Long = signals.map(_.nrSamples.toLong * 2).sum

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
  }

  private def str(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, StandardCharsets.US_ASCII).trim

  /** Parse the fixed + signal headers from the first bytes of a file. */
  def parseHeader(bytes: Array[Byte]): EdfHeader = {
    val ns = str(bytes, 252, 4).toInt
    require(bytes.length >= 256 + ns * 256, s"need ${256 + ns * 256} header bytes, got ${bytes.length}")
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
    val signals = (0 until ns).map { s =>
      EdfSignal(
        label = sigField(0, 16, s), transducer = sigField(1, 80, s),
        physDim = sigField(2, 8, s),
        physMin = sigField(3, 8, s).toDouble, physMax = sigField(4, 8, s).toDouble,
        digMin = sigField(5, 8, s).toDouble, digMax = sigField(6, 8, s).toDouble,
        prefiltering = sigField(7, 80, s), nrSamples = sigField(8, 8, s).toInt)
    }
    EdfHeader(
      version = str(bytes, 0, 8), patientId = str(bytes, 8, 80), recordId = str(bytes, 88, 80),
      startDate = str(bytes, 168, 8), startTime = str(bytes, 176, 8),
      headerBytes = str(bytes, 184, 8).toInt, reserved = str(bytes, 192, 44),
      nbDataRec = str(bytes, 236, 8).toInt, duration = str(bytes, 244, 8).toDouble,
      signals = signals)
  }

  /** Read a file's header via the Hadoop FS API (driver-side, tiny read). */
  def readHeader(path: String, conf: Configuration = new Configuration()): EdfHeader = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val fixed = new Array[Byte](256)
      in.readFully(0, fixed)
      val ns = str(fixed, 252, 4).toInt
      val all = new Array[Byte](256 + ns * 256)
      in.readFully(0, all)
      parseHeader(all)
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

  /** One planned unit of parallel work: a contiguous record range. */
  final case class EdfSplit(path: String, recordLo: Int, recordHi: Int)

  /** Open a stream for SUB-CHUNK positioned reads (per-signal slices,
    * TAL peeks). Two measured over-transfer sources die here:
    * `ChecksumFileSystem`'s input checker moves whole checksum chunks
    * (4 KiB) per seek even when no `.crc` sidecar exists — for sub-KB
    * reads that is an 8x byte inflation (EdfScaleProbe) — so local-FS
    * reads go through the RAW filesystem; and the plain buffered path
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
    val rows = readHeaders(paths).flatMap { case (path, h) =>
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

  /** A1: read EDF files into a long sample DataFrame.
    *
    * Sample timestamps follow the EDF contract: record start (header start
    * + record_idx·duration for EDF+C, or the record's TAL offset for
    * EDF+D) plus (i·duration/nrSamples) within the record — integer µs.
    * (The reference's linspace step of (n-1)/(n·rate) at
    * base.py:357-372 is an off-by-one artifact of its chunk helper; we use
    * the EDF-specified uniform sampling grid.)
    */
  def read(spark: SparkSession, paths: Seq[String], targetSplitBytes: Long = 128L << 20): DataFrame = {
    val headers: Map[String, EdfHeader] = readHeaders(paths).toMap
    // Spark FilePartition-style sizing: a file set smaller than
    // cores x target must still fan out, or a 64 MiB file parses on ONE
    // core while 31 idle (measured: the whole pipeline serialized behind
    // that single map task). Split size = min(target, max(1 MiB,
    // totalBytes/parallelism)) — big files keep 128 MiB splits, small
    // ones split down to per-core work, never below 1 MiB (seek-cost
    // floor, same idea as spark.sql.files.openCostInBytes).
    val totalBytes = headers.valuesIterator.map(h => h.nbDataRec.toLong * h.recordBytes).sum
    val effSplitBytes = effectiveSplitBytes(targetSplitBytes, totalBytes,
      spark.sparkContext.defaultParallelism)
    val splits = paths.flatMap { p =>
      val h = headers(p)
      val recsPerSplit = math.max(1, (effSplitBytes / math.max(1L, h.recordBytes)).toInt)
      (0 until h.nbDataRec by recsPerSplit).map { lo =>
        EdfSplit(p, lo, math.min(h.nbDataRec, lo + recsPerSplit))
      }
    }
    val bHeaders = spark.sparkContext.broadcast(headers)
    val confEntries = captureConfEntries(spark)
    val rdd = spark.sparkContext.parallelize(splits, math.max(1, splits.size)).flatMap { split =>
      val h = bHeaders.value(split.path)
      readSplit(split, h, confEntries)
    }
    spark.createDataFrame(rdd, sampleSchema)
  }

  /** Annotation (TAL) extraction: (onset, duration, text) per record. */
  def annotations(spark: SparkSession, paths: Seq[String]): DataFrame = {
    val headers: Map[String, EdfHeader] = readHeaders(paths).toMap
    val splits = paths.flatMap { p =>
      val h = headers(p)
      (0 until h.nbDataRec by 4096).map(lo => EdfSplit(p, lo, math.min(h.nbDataRec, lo + 4096)))
    }
    val bHeaders = spark.sparkContext.broadcast(headers)
    val confEntries = captureConfEntries(spark)
    val rdd = spark.sparkContext.parallelize(splits, math.max(1, splits.size)).flatMap { split =>
      val h = bHeaders.value(split.path)
      readAnnotations(split, h, confEntries)
    }
    spark.createDataFrame(rdd, annotationSchema)
  }

  /** Executor-side: parse one record range into sample rows (lazy iterator). */
  private def readSplit(split: EdfSplit, h: EdfHeader,
                        confEntries: Seq[(String, String)]): Iterator[Row] = {
    val recBytes = h.recordBytes
    val sigOffsets = h.signals.scanLeft(0L)((acc, s) => acc + s.nrSamples * 2L)
    val annIdx = h.signals.indexWhere(_.isAnnotation)
    val durUs = (h.duration * 1e6).toLong
    val startUs = h.startUs

    val p = new Path(split.path)
    val fs = p.getFileSystem(confFromEntries(confEntries))
    val in = fs.open(p)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    val buf = new Array[Byte](recBytes.toInt)

    (split.recordLo until split.recordHi).iterator.flatMap { rec =>
      in.readFully(h.headerBytes + rec * recBytes, buf)
      // EDF+D: record start offset lives in this record's TAL prefix
      val recStartUs: Long =
        if (h.isDiscontiguous && annIdx >= 0) {
          val off = sigOffsets(annIdx).toInt
          val len = h.signals(annIdx).nrSamples * 2
          val tal = new String(buf, off, len, StandardCharsets.US_ASCII)
          val head = tal.split("\u0014\u0014", 2).head
          startUs + (head.toDouble * 1e6).toLong
        } else startUs + rec.toLong * durUs

      h.signals.zipWithIndex.iterator.filterNot(_._1.isAnnotation).flatMap { case (sig, sIdx) =>
        val base = sigOffsets(sIdx).toInt
        val n = sig.nrSamples
        val bit = sig.bitValue
        val off = sig.offset
        val rate = h.sampleRate(sIdx)
        (0 until n).iterator.map { i =>
          val lo = buf(base + 2 * i) & 0xff
          val hi = buf(base + 2 * i + 1)               // sign-extends: int16 LE
          val digital = (hi << 8) | lo
          val ts = recStartUs + i.toLong * durUs / n
          Row(split.path, sIdx, sig.label, sig.physDim, rate,
            rec.toLong, rec.toLong * n + i, ts, bit * (off + digital.toDouble))
        }
      }
    }
  }

  /** Executor-side TAL parsing for one record range. */
  private def readAnnotations(split: EdfSplit, h: EdfHeader,
                              confEntries: Seq[(String, String)]): Iterator[Row] = {
    val annIdx = h.signals.indexWhere(_.isAnnotation)
    if (annIdx < 0) return Iterator.empty
    val recBytes = h.recordBytes
    val sigOffsets = h.signals.scanLeft(0L)((acc, s) => acc + s.nrSamples * 2L)
    val p = new Path(split.path)
    val fs = p.getFileSystem(confFromEntries(confEntries))
    val in = fs.open(p)
    Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
    val off = sigOffsets(annIdx).toInt
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
