package graft

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only: multi-GB EDF evidence probe for the A1/A14 scale claims
  * (EdfFile.scala:19-23 — "a 100 GB EDF file becomes ~800 independent
  * splits", header-only driver planning, per-signal seek pruning).
  * All prior A-surface evidence ran on KB-scale `sample_data` files;
  * this main generates synthetic multi-GB EDF+C / EDF+D files and
  * MEASURES, per probe, wall time, result rows/splits, and bytes
  * actually transferred from the filesystem (JVM-wide Hadoop
  * `FileSystem` statistics — local[n] runs executors in-process, so
  * the delta captures driver AND task reads).
  *
  * Probes (one JSON line each):
  *   1. plan        — build the scan's partitions only: split count must
  *                    be ceil(fileBytes / targetSplitBytes) and the bytes
  *                    delta must be header-sized, NOT data-sized (the
  *                    "driver reads only headers" claim, measured).
  *   2. full_scan   — sum(value) over every channel: decode throughput
  *                    floor; bytes ≈ file size.
  *   3. channel_prune — 2 of nSig channels: per-signal seek reads must
  *                    cut bytes to ≈ 2/nSig of the file, not just rows.
  *   4. time_prune  — a 1% ts_us window: contiguous record-window
  *                    arithmetic at plan time must cut both splits and
  *                    bytes to ≈ 1%.
  *   5. chan_time   — both predicates: ratios multiply.
  *   6. edfd_plan_nosidecar / edfd_plan_sidecar — EDF+D with a planted
  *                    2h gap every `segRecs` records: a ts window inside
  *                    ONE segment plans full-file splits without the
  *                    onset sidecar, and only that segment's splits with
  *                    it (plus TAL-first skip bounding bytes either way).
  *   7. sink_write  — EdfSink.write of a channel slice, range-partitioned
  *                    into parts: distributed write throughput.
  *
  * Usage: sbt "runMain graft.EdfScaleProbe [workDir] [targetGiB] [nSig]"
  * (defaults /tmp/edf_scale, 4 GiB, 64 signals). Generation is a one-time
  * sequential write (~GB/s: wavetable arraycopy, no per-sample math) and
  * reuses an existing file of the right size on re-runs.
  */
object EdfScaleProbe {

  private def pad(s: String, n: Int): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.US_ASCII)
    require(b.length <= n, s"field '$s' overflows $n bytes")
    b ++ Array.fill(n - b.length)(' '.toByte)
  }

  /** Write an EDF header (fixed 256 B + ns·256 B column-major signal
    * headers — the layout EdfFile.parseHeader reads; reference
    * edf.py:34-55). `annNr` > 0 appends an "EDF Annotations" signal.
    */
  private def writeHeader(out: java.io.OutputStream, nSig: Int, samplesPerRec: Int,
                          nRec: Int, annNr: Int, reserved: String): Unit = {
    val ns = nSig + (if (annNr > 0) 1 else 0)
    out.write(pad("0", 8)); out.write(pad("probe-patient", 80)); out.write(pad("probe-rec", 80))
    out.write(pad("01.01.24", 8)); out.write(pad("00.00.00", 8))
    out.write(pad((256 + ns * 256).toString, 8)); out.write(pad(reserved, 44))
    out.write(pad(nRec.toString, 8)); out.write(pad("1", 8)); out.write(pad(ns.toString, 4))
    def field(w: Int, f: Int => String): Unit = (0 until ns).foreach(s => out.write(pad(f(s), w)))
    val isAnn = (s: Int) => annNr > 0 && s == nSig
    field(16, s => if (isAnn(s)) "EDF Annotations" else f"ch$s%03d")
    field(80, _ => "")                                   // transducer
    field(8, s => if (isAnn(s)) "" else "uV")            // physDim
    field(8, s => if (isAnn(s)) "-1" else "-3276.8")     // physMin
    field(8, s => if (isAnn(s)) "1" else "3276.7")       // physMax
    field(8, _ => "-32768"); field(8, _ => "32767")      // digMin / digMax
    field(80, _ => "")                                   // prefiltering
    field(8, s => if (isAnn(s)) annNr.toString else samplesPerRec.toString)
    field(32, _ => "")                                   // per-signal reserved
  }

  /** Generate an EDF file of nRec records: per-signal wavetables (sine +
    * seeded noise, int16 LE) sliced per record by arraycopy — generation
    * is memory-bandwidth-bound, no per-sample math. `gapEveryRecs` > 0
    * writes EDF+D with a TAL annotation signal and a 2h time jump every
    * that many records (discontiguous segments).
    */
  private[graft] def generate(path: String, nSig: Int, samplesPerRec: Int, nRec: Int,
                       gapEveryRecs: Int): Long = {
    val annNr = if (gapEveryRecs > 0) 16 else 0
    val recBytes = nSig * samplesPerRec * 2 + annNr * 2
    val expected = 256L + (nSig + (if (annNr > 0) 1 else 0)) * 256L + nRec.toLong * recBytes
    val f = new java.io.File(path)
    if (f.length() == expected) return expected // reuse across runs
    val rnd = new java.util.Random(42)
    val waveLen = samplesPerRec * 64 // one table per signal, prime-ish stride per record
    val tables = Array.tabulate(nSig) { s =>
      val t = new Array[Byte](waveLen * 2)
      var i = 0
      while (i < waveLen) {
        val v = (math.sin(2 * math.Pi * (s + 1) * i / 256.0) * 12000 + rnd.nextInt(2048) - 1024).toInt
        val c = math.max(-32768, math.min(32767, v))
        t(i * 2) = (c & 0xff).toByte; t(i * 2 + 1) = ((c >> 8) & 0xff).toByte
        i += 1
      }
      t
    }
    val out = new BufferedOutputStream(new FileOutputStream(path), 8 << 20)
    try {
      writeHeader(out, nSig, samplesPerRec, nRec, annNr, if (annNr > 0) "EDF+D" else "EDF+C")
      val rec = new Array[Byte](recBytes)
      var r = 0
      while (r < nRec) {
        var s = 0
        while (s < nSig) {
          val off = ((r.toLong * samplesPerRec) % (waveLen - samplesPerRec)).toInt * 2
          System.arraycopy(tables(s), off, rec, s * samplesPerRec * 2, samplesPerRec * 2)
          s += 1
        }
        if (annNr > 0) {
          // record onset: 1s cadence with a 2h jump between segments
          val onset = r.toDouble + (r / gapEveryRecs).toDouble * 7200.0
          val tal = ("+" + onset).getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0x14, 0x14, 0x00)
          java.util.Arrays.fill(rec, nSig * samplesPerRec * 2, recBytes, 0.toByte)
          System.arraycopy(tal, 0, rec, nSig * samplesPerRec * 2, tal.length)
        }
        out.write(rec)
        r += 1
      }
    } finally out.close()
    expected
  }

  /** JVM-wide Hadoop FS bytes-read counter (deprecated global statistics
    * API — still the one aggregation that sees every thread's reads,
    * which is exactly what a local[n] in-process probe needs).
    */
  @annotation.nowarn("cat=deprecation")
  private def fsRead(): Long = {
    import scala.jdk.CollectionConverters._
    FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
  }

  def main(args: Array[String]): Unit = {
    val work = args.lift(0).getOrElse("/tmp/edf_scale")
    val targetGiB = args.lift(1).map(_.toDouble).getOrElse(4.0)
    val nSig = args.lift(2).map(_.toInt).getOrElse(64)
    new java.io.File(work).mkdirs()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val samplesPerRec = 256
    val recBytes = nSig * samplesPerRec * 2
    val nRec = ((targetGiB * (1L << 30)) / recBytes).toInt
    val edfC = s"$work/probe_c.edf"
    val genT0 = System.nanoTime()
    val fileBytes = generate(edfC, nSig, samplesPerRec, nRec, gapEveryRecs = 0)
    val genSec = (System.nanoTime() - genT0) / 1e9
    println(s"""{"probe":"generate_c","file_gib":${fileBytes / 1073741824.0},"n_rec":$nRec,""" +
      s""""n_sig":$nSig,"sec":$genSec}""")

    def probeOn(name: String, denomBytes: Long, extra: String = "")(action: => Long): Long = {
      val b0 = fsRead(); val t0 = System.nanoTime()
      val n = action
      val sec = (System.nanoTime() - t0) / 1e9
      val bytes = fsRead() - b0
      println(s"""{"probe":"$name","sec":$sec,"result":$n,"bytes_read":$bytes,""" +
        s""""bytes_frac":${bytes.toDouble / denomBytes}$extra}""")
      n
    }
    def probe(name: String, extra: String = "")(action: => Long): Long =
      probeOn(name, fileBytes, extra)(action)

    def read(path: String) = spark.read.format("edf").load(path)
    val startUs = graft.sources.EdfFile.readHeader(edfC).startUs

    // 1. planning: split count + driver bytes (headers only — the claim).
    // Splits cover DATA records only, so the expectation excludes the
    // header bytes (at 64 signals the header alone once tipped the
    // ceil() to an expected 33rd split that can never exist).
    val headerBytes = 256L + nSig * 256L
    probe("plan", s""","expected_splits":${math.ceil((fileBytes - headerBytes) / (128.0 * (1 << 20))).toInt}""") {
      read(edfC).rdd.getNumPartitions.toLong
    }
    // 2. full-scan decode throughput floor
    probe("full_scan") {
      read(edfC).agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }
    // 3. per-signal seek: 2 of nSig channels → bytes ≈ 2/nSig
    probe("channel_prune", s""","expected_frac":${2.0 / nSig}""") {
      read(edfC).filter(col("channel").isin("ch000", "ch001"))
        .agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }
    // 4. record-window arithmetic: 1% ts window → splits AND bytes ≈ 1%
    val winLoUs = startUs + (nRec.toLong / 2) * 1000000L
    val winHiUs = winLoUs + (nRec.toLong / 100) * 1000000L
    probe("time_prune", s""","expected_frac":0.01""") {
      read(edfC).filter(col("ts_us") >= winLoUs && col("ts_us") < winHiUs)
        .agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }
    // 5. both predicates compose
    probe("chan_time_prune", s""","expected_frac":${0.01 * 2 / nSig}""") {
      read(edfC).filter(col("channel").isin("ch000", "ch001") &&
          col("ts_us") >= winLoUs && col("ts_us") < winHiUs)
        .agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }

    // ---- EDF+D: plan-time sidecar pruning on a discontiguous file ----
    val dSig = 8
    val dRecBytes = dSig * samplesPerRec * 2 + 32
    val dRec = ((targetGiB / 8 * (1L << 30)) / dRecBytes).toInt
    val segRecs = 4096
    val edfD = s"$work/probe_d.edf"
    val dBytes = generate(edfD, dSig, samplesPerRec, dRec, gapEveryRecs = segRecs)
    println(s"""{"probe":"generate_d","file_gib":${dBytes / 1073741824.0},"n_rec":$dRec,""" +
      s""""n_sig":$dSig,"segments":${dRec / segRecs + 1}}""")
    // a reused probe file keeps its previous run's sidecar — the
    // nosidecar probes must actually run without one
    val sidecarF = new java.io.File(graft.sources.EdfOnsetIndex.sidecarPath(edfD))
    sidecarF.delete()
    // Hadoop's ChecksumFileSystem names checksum files DOT-prefixed
    // (".name.crc"), not suffixed — delete the real one or a stale crc
    // survives and fails the next sidecar read
    new java.io.File(sidecarF.getParentFile, "." + sidecarF.getName + ".crc").delete()
    val dStartUs = graft.sources.EdfFile.readHeader(edfD).startUs
    // a ts window covering ONE mid-file segment (segment k starts at
    // k*(segRecs + 7200) seconds past start)
    val seg = dRec / segRecs / 2
    val segLoUs = dStartUs + (seg.toLong * (segRecs + 7200L)) * 1000000L
    val segHiUs = segLoUs + segRecs.toLong * 1000000L
    def dWindowed = read(edfD).filter(col("ts_us") >= segLoUs && col("ts_us") < segHiUs)
    probeOn("edfd_plan_nosidecar", dBytes, s""","file_frac":${segRecs.toDouble / dRec}""") {
      dWindowed.rdd.getNumPartitions.toLong
    }
    // TAL-first record skip still bounds BYTES without the sidecar
    probeOn("edfd_scan_nosidecar", dBytes) {
      dWindowed.agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }
    val scT0 = System.nanoTime()
    graft.sources.EdfOnsetIndex.write(edfD)
    println(s"""{"probe":"sidecar_write","sec":${(System.nanoTime() - scT0) / 1e9}}""")
    probeOn("edfd_plan_sidecar", dBytes, s""","file_frac":${segRecs.toDouble / dRec}""") {
      dWindowed.rdd.getNumPartitions.toLong
    }
    probeOn("edfd_scan_sidecar", dBytes) {
      dWindowed.agg(count(col("value")), sum(abs(col("value")))).head().getLong(0)
    }

    // ---- A14 sink: distributed write of a 4-channel slice. TWO timed
    // passes, min reported alongside both raw numbers: the host's
    // run-to-run noise measured up to ~5x on identical plans (see
    // SinkStageProbe), and the first pass additionally pays cold page
    // cache + JIT — min-of-2 is the same de-noising Bench uses.
    val slice = read(edfC).filter(col("channel").isin("ch000", "ch001", "ch002", "ch003"))
    val outDir = s"$work/sink_out"
    var manifest = ""
    val skSecs = (1 to 2).map { _ =>
      val skT0 = System.nanoTime()
      manifest = graft.sources.EdfSink.write(slice, outDir, maxSamplesPerFile = 4L << 20)
      (System.nanoTime() - skT0) / 1e9
    }
    val skSec = skSecs.min
    val written = {
      val d = new java.io.File(outDir)
      d.listFiles().map(_.length()).sum
    }
    println(s"""{"probe":"sink_write","sec":$skSec,"passes":[${skSecs.mkString(", ")}],""" +
      s""""bytes_written":$written,"mib_per_sec":${written / 1048576.0 / skSec},""" +
      s""""manifest":"$manifest"}""")

    // ---- A14 sink over EDF+D at probe scale (r16 verdict #7): the 4 GiB
    // sink probe is EDF+C (one chunk per channel); this drives the GAPPY
    // probe_d file through the same packed path and holds the resulting
    // chunk manifests to the generator's ANALYTIC segment layout — a 2h
    // gap every segRecs records means channel c's manifest must carry
    // exactly ceil(dRec/segRecs) chunks, chunk k at stored index
    // k*segRecs*samplesPerRec with start ts offset k*(segRecs+7200)s.
    val outDirD = s"$work/sink_out_d"
    val dT0 = System.nanoTime()
    graft.sources.EdfSink.write(read(edfD), outDirD)
    val dSec = (System.nanoTime() - dT0) / 1e9
    val dWritten = new java.io.File(outDirD).listFiles().map(_.length()).sum
    val expSegs = math.ceil(dRec.toDouble / segRecs).toInt
    var chunkErrs = 0L
    var checkedChunks = 0L
    (0 until dSig).foreach { ord =>
      val mName = if (ord == 0) "channel.json" else f"channel-$ord%05d.json"
      val m = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$outDirD/$mName")), java.nio.charset.StandardCharsets.UTF_8)
      val entries = """\{"index": (\d+), "start": (\d+)\}""".r.findAllMatchIn(m)
        .map(x => (x.group(1).toLong, x.group(2).toLong)).toSeq
      if (entries.size != expSegs) chunkErrs += 1
      entries.zipWithIndex.foreach { case ((idx, startTs), k) =>
        checkedChunks += 1
        val expIdx = k.toLong * segRecs * samplesPerRec
        val expTs = dStartUs + k.toLong * (segRecs + 7200L) * 1000000L
        if (idx != expIdx || startTs != expTs) chunkErrs += 1
      }
      if (!m.contains(s""""numValues", "value": "${dRec.toLong * samplesPerRec}""""))
        chunkErrs += 1
    }
    println(s"""{"probe":"sink_write_edfd","sec":$dSec,"bytes_written":$dWritten,""" +
      s""""mib_per_sec":${dWritten / 1048576.0 / dSec},"channels":$dSig,""" +
      s""""expected_chunks_per_channel":$expSegs,"chunks_checked":$checkedChunks,""" +
      s""""chunk_mismatches":$chunkErrs}""")
    require(chunkErrs == 0, s"EDF+D packed-sink chunk manifests diverged ($chunkErrs mismatches)")
    spark.stop()
  }
}
