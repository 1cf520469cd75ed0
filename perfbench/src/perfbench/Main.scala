package perfbench

import java.io.{File, RandomAccessFile}
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{EdfPipeline, GraftSession, SparkEntry, Tables}
import graft.sources.{EdfFile, EdfOnsetIndex, EdfSink}

/** One benchmark run in one JVM: `--workload`, `--seed`, `--seconds`,
  * `--trace 0|1`, `--scale full|smoke`, `--work <dir>` (all scratch lives
  * there), `--out <result.json>`, `--trace-out <spans.json>`.
  *
  * Set-up runs several times (new session, fresh inputs, registration) and
  * the median is reported; warm-up follows (three ingests, a fifth of a
  * fetch pass, or the mix's checked pass); then whole passes of
  * the workload run in a closed loop with one caller until `--seconds`
  * have passed. Every operation's output is checked outside its timed
  * region; the mix's query outputs are checked by the caller against the
  * DuckDB oracle.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    require(argv.length % 2 == 0, s"expected --key value pairs, got ${argv.mkString(" ")}")
    val m = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val run = new Run(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.getOrElse("scale", "full"), m("work"), m.get("trace-out"))
    Json.write(m("out"), run.execute())
    System.exit(0)
  }
}

/** A window fetch: channels of one file over [loUs, hiUs). */
final case class Fetch(file: Int, chans: Seq[Int], loUs: Long, hiUs: Long)

/** One timed operation of a measured pass; `traced` when the listener was on. */
final case class Op(name: String, secs: Double, traced: Boolean, span: Span)

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean, scale: String,
                work: String, traceOut: Option[String]) {
  require(Seq("edf_etl", "edf_window_reads", "query_mix").contains(workload),
    s"unknown workload $workload")
  require(Seq("full", "smoke").contains(scale), s"unknown scale $scale")
  private val smoke = scale == "smoke"
  private val nproc = Runtime.getRuntime.availableProcessors
  private val trace = new Trace(traced)
  private var spark: SparkSession = _

  // sizes: the EDF set, fetches per window pass, and the mix's table scale
  private val edf =
    if (smoke) EdfSet(seed, nSig = 4, recsC = 64, recsD = 64, segRecs = 16)
    else EdfSet(seed, nSig = 16, recsC = 1024, recsD = 512, segRecs = 128)
  private val fetchesPerPass = if (smoke) 10 else 50
  private val mixScale = if (smoke) 0.05 else 0.25
  private val mixQueries = Layers.queries

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer.empty[String]
  private def fail(n: Int, msg: String): Unit = {
    failed += n
    if (failures.size < 20) failures += msg
  }

  private val setupSecs = ArrayBuffer.empty[Double]
  /** Operations of each complete measured pass. */
  private val passes = ArrayBuffer.empty[Seq[Op]]
  /** Measured pass index; -1 during warm-up. */
  private var passNo = -1

  /** Time one operation; `i` is its fixed index within a pass. In a traced
    * run the listener is on for every other index, the pattern flipping
    * each pass, so each operation has traced and untraced samples for
    * `trace.overhead_frac`.
    */
  private def op(name: String, i: Int)(body: => Any): Op = {
    if (traced && passNo >= 0) trace.setListening((passNo + i) % 2 == 0)
    val secs = trace.timed(name)(body)
    Op(name, secs, trace.isListening, trace.lastClosed)
  }

  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMillis(): Long = gcBeans.map(_.getCollectionTime).sum
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]

  // ---------------------------------------------------------------- session

  private def newSession(): Unit = {
    if (spark != null) { trace.detach(); spark.stop() }
    spark = GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  // ----------------------------------------------------------------- inputs

  private var inputDir = ""
  private def edfC = s"$inputDir/set_c.edf"
  private def edfD = s"$inputDir/set_d.edf"
  private def mixDir = inputDir

  private def prepare(rep: Int): Unit = {
    inputDir = s"$work/input-$rep"
    new File(inputDir).mkdirs()
    workload match {
      case "query_mix" =>
        MixData.generate(spark, mixDir, seed, mixScale)
        Tables.register(spark, mixDir, db = "perfbench")
      case _ =>
        edf.write(0, edfC)
        edf.write(1, edfD)
        if (workload == "edf_window_reads") EdfOnsetIndex.ensure(spark, Seq(edfC, edfD))
    }
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
  private def dirBytes(f: File): Long =
    Option(f.listFiles()).map(_.map(c => if (c.isDirectory) dirBytes(c) else c.length).sum).getOrElse(0L)
  private def dropSidecar(edfPath: String): Unit = {
    val sc = new File(EdfOnsetIndex.sidecarPath(edfPath))
    sc.delete()
    new File(sc.getParentFile, "." + sc.getName + ".crc").delete()
  }

  // ---------------------------------------------------------------- edf_etl

  private def etlOut = s"$work/etl-out"

  /** One ingest of the set: EDF+C in overwrite mode, then EDF+D appended
    * (the reference's multi-file package workflow, base.py:131-133).
    * Each `process` call is one operation; a wrong output fails both.
    */
  private def etlPass(k: Int): Option[Seq[Op]] = {
    deleteTree(new File(etlOut))
    dropSidecar(edfD) // process() writes it: every ingest does the same work
    val ops = ArrayBuffer.empty[Op]
    val steps = Iterator(edfC -> "overwrite", edfD -> "append")
    var ok = true
    while (ok && steps.hasNext) {
      val (f, mode) = steps.next()
      attempted += 1
      try ops += op(s"EdfPipeline.process.$mode", ops.size)(EdfPipeline.process(spark, Seq(f), etlOut, mode))
      catch { case e: Throwable => fail(1, s"ingest $k $mode: $e"); ok = false }
    }
    if (!ok) None
    else checkEtl(etlOut, k) match {
      case Nil => Some(ops.toSeq)
      case errs => fail(2, s"ingest $k output: ${errs.take(3).mkString("; ")}"); None
    }
  }

  /** The output contract against the generator: per channel, the manifest's
    * value count, chunk index/start per planted gap, binary sizes, and
    * sampled float64 values equal to the reference calibration.
    */
  private def checkEtl(out: String, k: Int): List[String] = {
    val errs = ArrayBuffer.empty[String]
    val mapper = Json.mapper
    val nC = edf.recsC.toLong * edf.samplesPerRec
    val nAll = nC + edf.recsD.toLong * edf.samplesPerRec
    val expChunks = (0L, edf.recStartUs(0, 0)) +: (0 until edf.segments).map { s =>
      (nC + s.toLong * edf.segRecs * edf.samplesPerRec, edf.recStartUs(1, s * edf.segRecs))
    }
    if (!new File(s"$out/channels.json").isFile) errs += "no channels.json"
    val rnd = new SplittableRandom(seed * 1000003L + k)
    try (0 until edf.nSig).foreach { ord =>
      val mf = new File(out, if (ord == 0) "channel.json" else f"channel-$ord%05d.json")
      if (!mf.isFile) errs += s"missing ${mf.getName}"
      else {
        val m = mapper.readTree(mf)
        val c = m.get("name").asText.stripPrefix("ch").toInt
        val props = m.get("properties").elements.asScala.map(p => p.get("key").asText -> p.get("value")).toMap
        val num = props.get("numValues").map(_.asText.toLong).getOrElse(-1L)
        if (num != nAll) errs += s"${mf.getName}: numValues $num != $nAll"
        val chunks = m.get("contiguousChunks").elements.asScala
          .map(e => (e.get("index").asLong, e.get("start").asLong)).toSeq
        if (chunks != expChunks) errs += s"${mf.getName}: chunks ${chunks.take(6)} != ${expChunks.take(6)}"
        if (m.get("rate").asDouble != 256.0) errs += s"${mf.getName}: rate ${m.get("rate")}"
        val bins = props.get("binaryFiles").map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
          .map(b => new File(out, b))
        val sizes = bins.map(_.length)
        if (sizes.sum != nAll * 8) errs += s"${mf.getName}: binaries hold ${sizes.sum} bytes, expected ${nAll * 8}"
        else (0 until 16).foreach { _ =>
          val p = rnd.nextLong(nAll)
          val exp = if (p < nC) edf.physical(0, c, p) else edf.physical(1, c, p - nC)
          val got = readDouble(bins, sizes, p * 8)
          if (got != exp) errs += s"${mf.getName}: value[$p] $got != $exp"
        }
      }
    } catch { case e: Exception => errs += s"unreadable output: $e" }
    errs.toList
  }

  private def readDouble(files: Seq[File], sizes: Seq[Long], at: Long): Double = {
    var off = at; var i = 0
    while (off >= sizes(i)) { off -= sizes(i); i += 1 }
    val raf = new RandomAccessFile(files(i), "r")
    try {
      raf.seek(off)
      java.lang.Double.longBitsToDouble(java.lang.Long.reverseBytes(raf.readLong()))
    } finally raf.close()
  }

  // ------------------------------------------------------- edf_window_reads

  /** Traced fetches: (span, plan ms, filesystem bytes read, rows). */
  private val tracedFetches = ArrayBuffer.empty[(Span, Double, Long, Long)]

  /** A viewer-style fetch: 1-4 channels of one file over a 10-60 s window
    * starting anywhere in the file's records (EDF+D windows may span gaps).
    */
  private def fetchSpec(r: SplittableRandom): Fetch = {
    val f = r.nextInt(2)
    val chans = r.ints(0, edf.nSig).distinct.limit(1 + r.nextInt(4)).toArray.toSeq.sorted
    val lo = edf.recStartUs(f, r.nextInt(edf.recs(f))) + r.nextInt(1000000)
    Fetch(f, chans, lo, lo + (10 + r.nextInt(51)) * 1000000L)
  }

  private def windowPass(k: Int, n: Int): Option[Seq[Op]] = {
    val r = new SplittableRandom(seed * 7919L + k)
    val ops = (0 until n).flatMap(i => fetch(fetchSpec(r), i))
    if (ops.size == n) Some(ops) else None
  }

  private def fetch(q: Fetch, i: Int): Option[Op] = {
    attempted += 1
    try {
      var rows: Array[Row] = null
      var planMs = 0.0
      val fs0 = fsBytesRead()
      val o = op("fetch", i) {
        val df = spark.read.format("edf").load(if (q.file == 0) edfC else edfD)
          .filter(col("channel").isin(q.chans.map(edf.label): _*) &&
            col("ts_us") >= q.loUs && col("ts_us") < q.hiUs)
          .select("channel", "ts_us", "value")
        val p0 = System.nanoTime()
        df.queryExecution.executedPlan
        planMs = (System.nanoTime() - p0) / 1e6
        rows = df.collect()
      }
      if (o.traced) tracedFetches += ((o.span, planMs, fsBytesRead() - fs0, rows.length.toLong))
      val (n, sum, tsSum) = edf.expectedWindow(q.file, q.chans, q.loUs, q.hiUs)
      var gotSum = 0.0; var gotTs = 0L
      rows.foreach { row => gotSum += row.getDouble(2); gotTs += row.getLong(1) }
      if (rows.length != n || gotSum != sum || gotTs != tsSum) {
        fail(1, s"fetch $q: rows ${rows.length}/$n, sum $gotSum/$sum, ts $gotTs/$tsSum")
        None
      } else Some(o)
    } catch { case e: Throwable => fail(1, s"fetch $q: $e"); None }
  }

  @annotation.nowarn("cat=deprecation")
  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum

  // -------------------------------------------------------------- query_mix

  private def checkDir = s"$work/mix-check"
  private val checkedQueries = ArrayBuffer.empty[String]

  /** One pass over the 13 queries in a seeded order. The check pass writes
    * each result as parquet for the oracle compare; timed passes write to
    * the `noop` sink, which forces every output column.
    */
  private def mixPass(k: Int, check: Boolean): Option[Seq[Op]] = {
    val order = new scala.util.Random(seed * 31L + k).shuffle(mixQueries)
    val ops = order.flatMap { q =>
      attempted += 1
      try {
        var df: DataFrame = null
        val o = op(s"query.$q", mixQueries.indexOf(q)) {
          trace.span(s"query.$q.construct") { df = SparkEntry.queries(q)(spark, mixDir) }
          trace.span(s"query.$q.exec") {
            if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$q")
            else df.write.mode("overwrite").format("noop").save()
          }
        }
        if (check) checkedQueries += q
        Some(o)
      } catch { case e: Throwable => fail(1, s"query $q: $e"); None }
      // outside the timed region: no pass may read another's cached blocks
      finally spark.catalog.clearCache()
    }
    if (ops.size == mixQueries.size) Some(ops) else None
  }

  // -------------------------------------------------------------- the run

  private def pass(k: Int): Option[Seq[Op]] = workload match {
    case "edf_etl" => etlPass(k)
    case "edf_window_reads" => windowPass(k, fetchesPerPass)
    case "query_mix" => mixPass(k, check = false)
  }

  def execute(): Map[String, Any] = {
    val loadStart = loadavg()
    // a 0.2 s EDF set-up needs five samples for a steady median; the mix's
    // 2 s set-up gets three, so that a run stays within its time budget
    val setups = if (workload == "query_mix") 3 else 5
    (0 until setups).foreach { rep =>
      setupSecs += trace.timed("setup") { newSession(); prepare(rep) }
      if (rep > 0) deleteTree(new File(s"$work/input-${rep - 1}"))
    }
    trace.attach(spark.sparkContext)

    val warmSecs = trace.timed("warmup") {
      workload match {
        // an ingest keeps getting faster (JIT) over its first four or five passes
        case "edf_etl" => (1 to 3).foreach(_ => etlPass(-1))
        case "edf_window_reads" => windowPass(-1, fetchesPerPass / 5)
        case "query_mix" => mixPass(-1, check = true)
      }
    }
    System.gc() // once, so that warm-up garbage is not collected inside the first pass

    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())

    // closed loop, one caller
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // traced runs need two passes for the on/off pattern; window reads
    // take at least 100 fetches so that p90 has ten samples beyond it
    val minPasses = if (traced || workload == "edf_window_reads") 2 else 1
    val gc0 = gcMillis()
    trace.timed("measure") {
      passNo = 0
      while (passNo < minPasses || System.nanoTime() < deadline) {
        pass(passNo).foreach(passes += _)
        passNo += 1
      }
    }
    passNo = -1
    if (traced) trace.setListening(true)
    val gcSecs = (gcMillis() - gc0) / 1e3
    val peakHeapMiB = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    if (traced) {
      try layerProbes()
      catch { case e: Throwable => attempted += 1; fail(1, s"layer probes: $e") }
    }
    trace.drain()

    val loadEnd = loadavg()
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq)
    val ops = passes.flatten.map(_.secs).toSeq
    val passSecs = passes.map(_.map(_.secs).sum).toSeq
    if (!traced) {
      if (passes.isEmpty) fail(0, "no complete pass")
      else {
        result("metrics") = Map(
          "setup_s" -> m(Stats.median(setupSecs.toSeq), "s"),
          "pass_s" -> m(Stats.median(passSecs), "s"),
          "op_geomean_ms" -> m(Stats.geomean(ops) * 1e3, "ms"))
      }
    } else {
      layers("jvm.gc_s") = (gcSecs, "s")
      layers("jvm.peak_heap_mib") = (peakHeapMiB, "MiB")
      layers("jvm.peak_rss_mib") = (vmHwmKiB() / 1024.0, "MiB")
      overheadFrac().foreach(v => layers("trace.overhead_frac") = (v, "ratio"))
      val missing = Layers.all.map(_._1).filter(n => Layers.exercised(workload, n) && !layers.contains(n))
      if (missing.nonEmpty) fail(missing.size, s"no samples for ${missing.mkString(", ")}")
      result("metrics") = Layers.all.map { case (name, unit) =>
        name -> m(layers.get(name).map(_._1).getOrElse(0.0), unit)
      }.toMap
      traceOut.foreach(p => Json.write(p, Map("workload" -> workload, "seed" -> seed, "spans" -> trace.toJson)))
      result("self_s") = trace.spans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(trace.selfSeconds).sum }.toSeq.sortBy(-_._2).take(25)
    }
    result("samples") = Map("setup" -> setupSecs.size, "passes" -> passes.size, "ops" -> ops.size)
    result("ops") = passes.flatten.map(o => Seq(o.name, o.secs)).toSeq
    result("named_metrics") = namedMetrics(ops, passSecs)
    result("warmup_s") = warmSecs
    result("stamp") = Map("nproc" -> nproc, "mem_total_kib" -> memTotalKiB(),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version, "seed" -> seed,
      "scale" -> scale, "seconds" -> seconds, "trace" -> traced)
    if (workload == "query_mix")
      result("check") = Map("tables_dir" -> mixDir, "out_dir" -> checkDir,
        "tables" -> MixData.tables, "queries" -> checkedQueries.toSeq,
        "oracle_sql" -> checkedQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    trace.detach()
    spark.stop()
    result.toMap
  }

  private def m(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** This workload's end-to-end figures under their ROADMAP names, for the
    * human-readable summary; `n` is the sample count behind each timing.
    */
  private def namedMetrics(ops: Seq[Double], passSecs: Seq[Double]): Seq[Map[String, Any]] =
    if (traced || passSecs.isEmpty) Nil
    else {
      def e(name: String, v: Double, unit: String, n: Int) =
        Map("name" -> name, "value" -> v, "unit" -> unit, "n" -> n)
      val common = Seq(e("setup_s", Stats.median(setupSecs.toSeq), "s", setupSecs.size),
        e("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio", attempted.toInt),
        e("peak_rss_mib", vmHwmKiB() / 1024.0, "MiB", 1))
      common ++ (workload match {
        case "edf_etl" =>
          Seq(e("etl_mib_per_s", edf.totalBytes / 1048576.0 / Stats.median(passSecs), "MiB/s", passSecs.size),
            e("etl_bytes_out_per_in", dirBytes(new File(etlOut)).toDouble / edf.totalBytes, "ratio", 1))
        case "edf_window_reads" =>
          Seq(e("window_p50_ms", Stats.quantile(ops, 0.5) * 1e3, "ms", ops.size),
            e("window_p90_ms", Stats.quantile(ops, 0.9) * 1e3, "ms", ops.size))
        case "query_mix" =>
          Seq(e("mix_s", Stats.median(passSecs), "s", passSecs.size),
            e("mix_geomean_s", Stats.median(passes.map(p => Stats.geomean(p.map(_.secs))).toSeq), "s", passSecs.size))
      })
    }

  /** Traced over untraced time of the same operations, minus one: the
    * geometric mean over operation names of mean(on) / mean(off); None
    * unless every operation name has both samples.
    */
  private def overheadFrac(): Option[Double] = {
    val ratios = passes.flatten.groupBy(_.name).values.map { os =>
      val (on, off) = os.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some((on.map(_.secs).sum / on.size) / (off.map(_.secs).sum / off.size))
    }.toSeq
    if (ratios.isEmpty || ratios.contains(None)) None else Some(Stats.geomean(ratios.flatten) - 1.0)
  }

  // ------------------------------------------------------------ layer probes

  /** Traced runs time calls into each module's public functions directly,
    * with Spark work attributed through the listener.
    */
  private def layerProbes(): Unit = {
    trace.drain()
    val files = Seq(edfC, edfD)
    workload match {
      case "edf_etl" | "edf_window_reads" =>
        layers("edf_file.header_ms") = (Stats.median((1 to 20).map(_ =>
          trace.timed("EdfFile.readHeaders")(EdfFile.readHeaders(files)))) * 1e3, "ms")
        layers("onset_index.ensure_s") = (Stats.median((1 to 3).map { _ =>
          files.foreach(dropSidecar)
          trace.timed("EdfOnsetIndex.ensure")(EdfOnsetIndex.ensure(spark, files))
        }), "s")
      case _ =>
    }
    if (workload == "edf_etl") {
      etlLayers(files)
      // the window-read path's layers, from a short seeded fetch sequence
      val r = new SplittableRandom(seed * 7919L - 1)
      (0 until 20).foreach(i => fetch(fetchSpec(r), i))
    }
    if (tracedFetches.nonEmpty) {
      trace.drain()
      val fs = tracedFetches.toSeq
      layers("edf_scan.plan_ms") = (Stats.median(fs.map(_._2)), "ms")
      layers("edf_scan.splits") = (Stats.median(fs.map(f => trace.totals(Seq(f._1)).tasks.toDouble)), "count")
      // filesystem bytes read per byte of selected int16 samples
      layers("edf_scan.read_amplification") = (fs.map(_._3).sum.toDouble / math.max(1L, fs.map(_._4).sum * 2), "ratio")
    }
    if (workload == "query_mix") mixLayers()
  }

  private def etlLayers(files: Seq[String]): Unit = {
    val decode = (1 to 2).map { _ =>
      val b0 = fsBytesRead()
      val s = trace.timed("edf_scan.decode") {
        spark.read.format("edf").load(files: _*).write.mode("overwrite").format("noop").save()
      }
      (s, trace.lastClosed, fsBytesRead() - b0)
    }
    trace.drain()
    val dt = trace.totals(Seq(decode.last._2))
    layers("edf_scan.decode_s") = (Stats.median(decode.map(_._1)), "s")
    layers("edf_scan.bytes_read") = (decode.last._3.toDouble, "bytes")
    layers("edf_scan.task_s") = (dt.taskSeconds, "s")
    layers("edf_scan.max_task_over_median") = (dt.maxOverMedian, "ratio")

    deleteTree(new File(etlOut))
    attempted += 2
    val ws = trace.timed("EdfSink.write.overwrite")(EdfSink.write(spark.read.format("edf").load(edfC), etlOut))
    val wSpan = trace.lastClosed
    val as = trace.timed("EdfSink.write.append")(
      EdfSink.write(spark.read.format("edf").load(edfD), etlOut, mode = "append"))
    val aSpan = trace.lastClosed
    checkEtl(etlOut, -2) match {
      case Nil =>
      case errs => fail(2, s"sink probe output: ${errs.take(3).mkString("; ")}")
    }
    trace.drain()
    val st = trace.totals(Seq(wSpan, aSpan))
    val written = dirBytes(new File(etlOut)).toDouble
    layers("edf_sink.write_s") = (ws, "s")
    layers("edf_sink.append_s") = (as, "s")
    layers("edf_sink.jobs") = (st.jobs.toDouble, "count")
    layers("edf_sink.stages") = (st.stages.toDouble, "count")
    layers("edf_sink.task_s") = (st.taskSeconds, "s")
    layers("edf_sink.max_task_over_median") = (st.maxOverMedian, "ratio")
    layers("edf_sink.shuffle_write_bytes") = (st.shuffleWrite.toDouble, "bytes")
    layers("edf_sink.spill_bytes") = (st.spill.toDouble, "bytes")
    layers("edf_sink.driver_s") = (ws + as - trace.totals(Seq(wSpan)).jobUnionSeconds -
      trace.totals(Seq(aSpan)).jobUnionSeconds, "s")
    layers("edf_sink.bytes_written") = (written, "bytes")
    layers("edf_sink.bytes_out_per_in") = (written / edf.totalBytes, "ratio")
  }

  private def mixLayers(): Unit = {
    trace.drain()
    var taskS = 0.0; var wallS = 0.0; var jobs = 0
    val tracedOps = passes.flatten.filter(_.traced)
    tracedOps.groupBy(_.name).foreach { case (name, os) =>
      val spans = os.map(_.span).toSeq
      def kid(s: Span, part: String) = trace.children(s.id).find(_.name == s"$name.$part").get
      def med(f: Span => Double) = Stats.median(spans.map(f))
      layers(s"$name.construct_s") = (med(s => kid(s, "construct").seconds), "s")
      layers(s"$name.construct_jobs") = (med(s => trace.totals(Seq(kid(s, "construct"))).jobs.toDouble), "count")
      layers(s"$name.exec_s") = (med(s => kid(s, "exec").seconds), "s")
      layers(s"$name.jobs") = (med(s => trace.totals(Seq(s)).jobs.toDouble), "count")
      layers(s"$name.task_s") = (med(s => trace.totals(Seq(s)).taskSeconds), "s")
      layers(s"$name.max_task_over_median") = (med(s => trace.totals(Seq(s)).maxOverMedian), "ratio")
      layers(s"$name.shuffle_bytes") = (med(s => trace.totals(Seq(s)).shuffleWrite.toDouble), "bytes")
      spans.foreach { s =>
        val t = trace.totals(Seq(s))
        taskS += t.taskSeconds; wallS += s.seconds; jobs += t.jobs
      }
    }
    // per traced pass-equivalent: each query is traced once per two passes
    val tracedPasses = math.max(1.0, tracedOps.size.toDouble / mixQueries.size)
    layers("mix.core_util") = (taskS / (nproc * math.max(wallS, 1e-9)), "ratio")
    layers("mix.jobs") = (jobs.toDouble / tracedPasses, "count")
  }

  // ----------------------------------------------------------------- host

  private def procLine(file: String, key: String): Option[String] = try {
    Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
  } catch { case _: Exception => None }
  private def kib(file: String, key: String): Double =
    procLine(file, key).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
  private def vmHwmKiB(): Double = kib("/proc/self/status", "VmHWM:")
  private def memTotalKiB(): Double = kib("/proc/meminfo", "MemTotal:")
  private def loadavg(): Seq[Double] = try {
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
  } catch { case _: Exception => Nil }
}

/** Every per-layer metric a traced run reports, with its unit, in
  * BENCHMARK.json's order; a layer the workload does not exercise reports 0,
  * one it exercises without a sample fails the run.
  */
object Layers {
  /** The query mix: ROADMAP direction 3-5 targets with oracle SQL (the
    * heavy graph, dedup and text group, then the light stage-bound group).
    */
  val queries: Seq[String] = Seq("graph_cc", "graph_lpa", "triangle_count", "jaccard_join_exact",
    "dedup_clusters", "phrase_search", "funnel_latency", "anomaly_days", "mad_outlier",
    "ppl_bucket", "bpe_encode", "embed_quantize", "ts_gap_chunks")
  val all: Seq[(String, String)] = Seq(
    "edf_file.header_ms" -> "ms", "onset_index.ensure_s" -> "s",
    "edf_scan.plan_ms" -> "ms", "edf_scan.splits" -> "count",
    "edf_scan.read_amplification" -> "ratio", "edf_scan.decode_s" -> "s",
    "edf_scan.bytes_read" -> "bytes", "edf_scan.task_s" -> "s",
    "edf_scan.max_task_over_median" -> "ratio",
    "edf_sink.write_s" -> "s", "edf_sink.append_s" -> "s", "edf_sink.jobs" -> "count",
    "edf_sink.stages" -> "count", "edf_sink.task_s" -> "s",
    "edf_sink.max_task_over_median" -> "ratio", "edf_sink.shuffle_write_bytes" -> "bytes",
    "edf_sink.spill_bytes" -> "bytes", "edf_sink.driver_s" -> "s",
    "edf_sink.bytes_written" -> "bytes", "edf_sink.bytes_out_per_in" -> "ratio") ++
    queries.flatMap(q => Seq(s"query.$q.construct_s" -> "s", s"query.$q.construct_jobs" -> "count",
      s"query.$q.exec_s" -> "s", s"query.$q.jobs" -> "count", s"query.$q.task_s" -> "s",
      s"query.$q.max_task_over_median" -> "ratio", s"query.$q.shuffle_bytes" -> "bytes")) ++ Seq(
    "mix.core_util" -> "ratio", "mix.jobs" -> "count",
    "jvm.gc_s" -> "s", "jvm.peak_heap_mib" -> "MiB", "jvm.peak_rss_mib" -> "MiB",
    "trace.overhead_frac" -> "ratio")

  /** Whether `workload` exercises the layer behind metric `name`. */
  def exercised(workload: String, name: String): Boolean = {
    val common = Seq("jvm.", "trace.")
    val own = workload match {
      case "edf_etl" => Seq("edf_file.", "onset_index.", "edf_scan.", "edf_sink.")
      case "edf_window_reads" => Seq("edf_file.", "onset_index.", "edf_scan.plan_ms", "edf_scan.splits",
        "edf_scan.read_amplification")
      case _ => Seq("query.", "mix.")
    }
    (common ++ own).exists(name.startsWith)
  }
}

/** JSON files written with Jackson and its Scala module. */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}
