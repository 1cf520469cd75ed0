package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.EdfFile

/** A1 via DataSource V2: format("edf") registration, split planning,
  * column pruning pushed into the scan.
  */
class EdfDataSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  val sinEdf = EdfDFixtures.sinWaveEdf

  test("format(\"edf\") reads sin_wave.edf as its closed-form rows") {
    assertRows(spark.read.format("edf").load(sinEdf), EdfDFixtures.sinWaveRows, minRows = 2 * 12000)
  }

  test("multi-path load survives commas in file names (JSON paths option)") {
    val tmp = java.nio.file.Files.createTempDirectory("edfcomma")
    val withComma = s"$tmp/night,1.edf"
    java.nio.file.Files.copy(java.nio.file.Paths.get(sinEdf), java.nio.file.Paths.get(withComma))
    val v2 = spark.read.format("edf").load(withComma, sinEdf)
    assert(v2.count() == 2L * 2L * 12000L, "both files read despite comma in one path")
  }

  test("user schema: compatible subset honored, incompatible rejected") {
    import org.apache.spark.sql.types._
    val sub = StructType(Seq(StructField("channel", StringType), StructField("ts_us", LongType)))
    val got = spark.read.schema(sub).format("edf").load(sinEdf)
    assert(got.schema.fieldNames.toSeq == Seq("channel", "ts_us"))
    assert(got.count() == 2L * 12000L)
    val badType = StructType(Seq(StructField("ts_us", StringType)))
    val e1 = intercept[Exception] { spark.read.schema(badType).format("edf").load(sinEdf) }
    assert(e1.getMessage.contains("ts_us"))
    val badName = StructType(Seq(StructField("nope", LongType)))
    val e2 = intercept[Exception] { spark.read.schema(badName).format("edf").load(sinEdf) }
    assert(e2.getMessage.contains("no column"))
  }

  test("column pruning reaches the EDF scan") {
    val v2 = spark.read.format("edf").load(sinEdf).select(col("channel"), col("ts_us"))
    val scanDesc = v2.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=[channel,ts_us]"), s"pruned scan in:\n$scanDesc")
    // aggregate over metadata only — no value bytes needed
    val n = spark.read.format("edf").load(sinEdf)
      .groupBy(col("channel")).agg(count(lit(1)).as("n")).collect()
    assert(n.forall(_.getAs[Long]("n") == 12000L))
  }

  test("channel/ts filters are pushed and results match the unpruned read") {
    val h = EdfFile.readHeader(sinEdf)
    val ch = h.signals.filterNot(_.isAnnotation).head.label
    val tsHi = h.startUs + 2000000L  // first 2s
    val filtered = spark.read.format("edf").load(sinEdf)
      .filter(col("channel") === ch && col("ts_us") < tsHi)
    val scan = filtered.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan }
      .getOrElse(fail("no BatchScanExec in plan"))
    assert(scan.description().contains(s"EqualTo(channel,$ch)"), scan.description())
    assert(scan.description().contains("LessThan(ts_us"), scan.description())
    // expected from a genuinely UNPRUNED read filtered in Scala — an
    // identical filtered read would get the same pushdown and compare the
    // pruned path to itself, hiding rows dropped by over-aggressive pruning
    val expected = spark.read.format("edf").load(sinEdf)
      .orderBy(col("sample_idx")).collect()
      .filter(r => r.getAs[String]("channel") == ch && r.getAs[Long]("ts_us") < tsHi)
      .map(r => (r.getAs[Long]("ts_us"), r.getAs[Double]("value"))).toSeq
    val got = filtered.orderBy(col("sample_idx")).select(col("ts_us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected && got.nonEmpty)
  }

  test("ts_us bounds prune input partitions at planning time") {
    val h = EdfFile.readHeader(sinEdf)
    // one record per split; keep only the first ~10% of the time range
    val all = spark.read.format("edf")
      .option("targetSplitBytes", h.recordBytes.toString).load(sinEdf)
    val nAll = all.rdd.getNumPartitions
    val tsHi = h.startUs + (h.nbDataRec.toLong * (h.duration * 1e6).toLong) / 10
    val pruned = spark.read.format("edf")
      .option("targetSplitBytes", h.recordBytes.toString).load(sinEdf)
      .filter(col("ts_us") < tsHi)
    val nPruned = pruned.rdd.getNumPartitions
    assert(nAll == h.nbDataRec, s"per-record splits: $nAll")
    // ~10% of the records plus the conservatively-kept boundary record
    assert(nPruned <= nAll / 8 + 1, s"time filter pruned splits: $nPruned of $nAll")
    // pruning is conservative: row results identical to a post-filter
    assert(pruned.count() ==
      spark.read.format("edf").load(sinEdf).filter(col("ts_us") < tsHi).count())
  }

  test("many-file scan: 600 tiny EDFs plan with pooled header reads, split counts unchanged") {
    // the r15 verdict flagged planScan's serial per-path header loop
    // (100k files = 100k round-trips before planning); headers now fetch
    // through a driver thread pool. Semantics must be byte-identical:
    // same split count (one per tiny file — each is far below the 1 MiB
    // split floor), same rows, same order-derived file attribution.
    val tmp = java.nio.file.Files.createTempDirectory("edfmany")
    val n = 600
    val paths = (0 until n).map { i =>
      val p = f"$tmp/f$i%04d.edf"
      EdfDFixtures.makeEdfC(p, "00.00.00", Seq("C3"), nRecords = 2)
      p
    }
    val t0 = System.nanoTime()
    val df = spark.read.format("edf").load(paths: _*)
    val parts = df.rdd.getNumPartitions
    val planMs = (System.nanoTime() - t0) / 1e6
    assert(parts == n, s"one split per tiny file: $parts")
    assert(df.count() == n.toLong * 2 * 4, "2 records x 4 samples per file")
    // generous wall bound — the point is "does not scale with per-file
    // latency"; locally even serial is fast, so this only catches a
    // pathological regression (e.g. a per-file Spark job)
    assert(planMs < 60000, s"many-file planning stayed bounded: $planMs ms")
    val perFile = df.filter(col("file") === paths(17)).select(col("value")).collect()
    assert(perFile.length == 8, "per-file attribution intact after pooled reads")
  }

  // 1 data signal (4 samples/record) + annotation signal, one record per
  // TAL onset (the EdfFileSpec synthetic EDF+D layout; shared fixture)
  private def makeEdfD(path: String, onsets: Seq[Double]): Unit =
    EdfDFixtures.makeEdfD(path, onsets)

  test("EDF+D time filters skip records via their TAL onsets") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdts")
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))

    val h = EdfFile.readHeader(path)
    // window around the middle record only (9 s .. 12 s after start)
    val lo = h.startUs + 9000000L; val hi = h.startUs + 12000000L
    val got = spark.read.format("edf").load(path)
      .filter(col("ts_us") >= lo && col("ts_us") < hi)
      .orderBy(col("sample_idx")).select(col("value")).collect().map(_.getDouble(0))
    val expected = spark.read.format("edf").load(path)
      .orderBy(col("sample_idx")).collect()
      .filter(r => { val t = r.getAs[Long]("ts_us"); t >= lo && t < hi })
      .map(_.getAs[Double]("value"))
    assert(got.length == 4, s"exactly the middle record survives: ${got.toSeq}")
    assert(got.toSeq == expected.toSeq, "TAL-driven skip is row-exact")
  }

  test("keptRange binary-searches the v2 sidecar to exact record bounds") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdkept")
    val path = s"$tmp/disc.edf"
    // records span [onset, onset + 1s): 0-1, 10-11, 25-26, 40-41, 41-42
    makeEdfD(path, Seq(0.0, 10.0, 25.0, 40.0, 41.0))
    val h = EdfFile.readHeader(path)
    graft.sources.EdfOnsetIndex.write(path)
    val span = 1000000L
    def kept(loS: Long, hiS: Long): Option[(Int, Int)] =
      graft.sources.EdfOnsetIndex.keptRange(path, h,
        if (loS == Long.MinValue) loS else h.startUs + loS,
        if (hiS == Long.MaxValue) hiS else h.startUs + hiS, span)
    assert(kept(9000000L, 12000000L) == Some((1, 2)), "mid-window hits one record")
    assert(kept(Long.MinValue, Long.MaxValue) == Some((0, 5)), "unbounded keeps all")
    assert(kept(0L, 500000L) == Some((0, 1)), "window inside record 0")
    assert(kept(40500000L, 41500000L) == Some((3, 5)), "straddles the adjacent pair")
    assert(kept(100000000L, 200000000L) == Some((5, 5)), "past the end keeps nothing")
    assert(kept(Long.MinValue, 10000000L) == Some((0, 2)),
      "tsHi inclusive: record 1's onset == bound is kept")
    // a record whose span overlaps tsLo but whose onset precedes it is kept
    assert(kept(25500000L, 26500000L) == Some((2, 3)), "span-overlap at tsLo")
    // a JSON sidecar (the retired format) reads as absent: the scan
    // plans unpruned until ensure rewrites it in the one binary format
    java.nio.file.Files.write(java.nio.file.Paths.get(graft.sources.EdfOnsetIndex.sidecarPath(path)),
      s"""{"nbDataRec": 5, "onsetsUs": [${Seq(0L, 10L, 25L, 40L, 41L)
        .map(s => h.startUs + s * 1000000L).mkString(", ")}]}""".getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$tmp/.disc.edf.onsets.json.crc"))
    assert(kept(9000000L, 12000000L).isEmpty, "a JSON sidecar is no sidecar")
    def planned = spark.read.format("edf")
      .option("targetSplitBytes", h.recordBytes.toString).load(path)
      .filter(col("ts_us") >= h.startUs + 9000000L && col("ts_us") < h.startUs + 12000000L)
      .rdd.getNumPartitions
    assert(planned == 5, "JSON sidecar: every record planned")
    graft.sources.EdfOnsetIndex.ensure(spark, Seq(path))
    assert(kept(9000000L, 12000000L) == Some((1, 2)), "ensure rewrote the sidecar")
    assert(planned == 1, "the rewritten sidecar prunes at plan time")
  }

  test("a malformed EDF+D TAL onset fails with the file and the record") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdbadtal")
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))
    // header 768 B, records of 8 sample bytes + a 32-byte TAL: record 1's
    // TAL "+10.0" starts at 768 + 40 + 8; its "1" becomes "x"
    val raf = new java.io.RandomAccessFile(path, "rw")
    try { raf.seek(768 + 40 + 8 + 1); raf.write('x') } finally raf.close()
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
    val expected = s"$path: record 1: EDF+D TAL onset is not a number: '+x0.0'"
    val scan = intercept[Exception](spark.read.format("edf").load(path).collect())
    assert(messages(scan).contains(expected), messages(scan))
    val index = intercept[IllegalArgumentException](graft.sources.EdfOnsetIndex.write(path))
    assert(index.getMessage == expected)
  }

  test("keptRange memoizes per (path, mtime, length, window) across plan invocations") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdmemo")
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))
    val h = EdfFile.readHeader(path)
    graft.sources.EdfOnsetIndex.write(path)
    val lo = h.startUs + 9000000L; val hi = h.startUs + 12000000L
    val first = graft.sources.EdfOnsetIndex.keptRange(path, h, lo, hi, 1000000L)
    assert(first == Some((1, 2)))
    // corrupt the sidecar BYTES while pinning mtime + length — a re-read
    // would fail the magic check, so only a memo hit can still answer
    val sp = java.nio.file.Paths.get(graft.sources.EdfOnsetIndex.sidecarPath(path))
    val mtime = sp.toFile.lastModified()
    val garbage = new Array[Byte](java.nio.file.Files.size(sp).toInt)
    java.nio.file.Files.write(sp, garbage)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$tmp/.disc.edf.onsets.json.crc"))
    assert(sp.toFile.setLastModified(mtime))
    assert(graft.sources.EdfOnsetIndex.keptRange(path, h, lo, hi, 1000000L) == first,
      "same (path, mtime, length, window) answers from the memo, zero sidecar reads")
    // a DIFFERENT window misses the memo and sees the corruption -> None
    assert(graft.sources.EdfOnsetIndex.keptRange(path, h, lo, hi + 1L, 1000000L).isEmpty,
      "a new window re-reads the sidecar (and the corruption surfaces)")
  }

  test("keptRange's raw page reads still verify sidecar checksums") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdcrc")
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))
    val h = EdfFile.readHeader(path)
    graft.sources.EdfOnsetIndex.write(path)
    val lo = h.startUs + 9000000L; val hi = h.startUs + 12000000L
    assert(graft.sources.EdfOnsetIndex.keptRange(path, h, lo, hi, 1000000L) == Some((1, 2)))
    // flip one onset byte, leaving the .crc stale: the page read must
    // fail verification and planning must fall back (None), exactly as
    // the checksum-layer read would have
    val sp = java.nio.file.Paths.get(graft.sources.EdfOnsetIndex.sidecarPath(path))
    val bytes = java.nio.file.Files.readAllBytes(sp)
    bytes(20) = (bytes(20) ^ 0x40).toByte // inside onset 0
    java.nio.file.Files.write(sp, bytes)
    assert(graft.sources.EdfOnsetIndex.keptRange(path, h, lo, hi, 1000000L).isEmpty,
      "corrupted sidecar page fails CRC32 verification and falls back unpruned")
  }

  test("an onset sidecar prunes EDF+D input partitions at planning time") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdsidecar")
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))
    val h = EdfFile.readHeader(path)
    val lo = h.startUs + 9000000L; val hi = h.startUs + 12000000L
    def sliced = spark.read.format("edf")
      .option("targetSplitBytes", h.recordBytes.toString).load(path)
      .filter(col("ts_us") >= lo && col("ts_us") < hi)

    // without the sidecar every record is planned (reader-side TAL skip)
    assert(sliced.rdd.getNumPartitions == 3, "no sidecar: all 3 per-record splits planned")

    val side = graft.sources.EdfOnsetIndex.write(path)
    assert(side.endsWith("disc.edf.onsets.json"))
    // with it, only the record whose onset span intersects the window
    assert(sliced.rdd.getNumPartitions == 1, "sidecar: 2 of 3 EDF+D splits dropped at plan time")
    // pruning is conservative: rows identical to the unpruned read
    val got = sliced.orderBy(col("sample_idx")).collect().map(_.getAs[Double]("value")).toSeq
    val expected = spark.read.format("edf").load(path).orderBy(col("sample_idx")).collect()
      .filter(r => { val t = r.getAs[Long]("ts_us"); t >= lo && t < hi })
      .map(_.getAs[Double]("value")).toSeq
    assert(got == expected && got.size == 4, s"middle record only: $got")

    // a STALE sidecar (record count mismatch) must be ignored, not trusted
    java.nio.file.Files.write(java.nio.file.Paths.get(side),
      """{"nbDataRec": 2, "onsetsUs": [0, 1]}""".getBytes)
    assert(sliced.rdd.getNumPartitions == 3, "stale sidecar falls back to the full plan")
    assert(sliced.count() == 4, "and rows stay correct")
  }

  test("a channel filter seek-reads only that signal's slices (per-signal ranged read)") {
    // 2-signal file truncated INSIDE the last record: signal 0's slice
    // survives, signal 1's is cut. A whole-record reader must fail; the
    // pushed-down single-channel read never touches signal 1's bytes.
    val tmp = java.nio.file.Files.createTempDirectory("edftrunc")
    val path = s"$tmp/trunc.edf"
    java.nio.file.Files.copy(java.nio.file.Paths.get(sinEdf), java.nio.file.Paths.get(path))
    val h = EdfFile.readHeader(path)
    val sig0 = h.signals.head
    val fullLen = h.headerBytes + h.nbDataRec.toLong * h.recordBytes
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(path)) == fullLen)
    val cut = fullLen - h.recordBytes + sig0.nrSamples * 2  // keep sig0 of last record
    val raf = new java.io.RandomAccessFile(path, "rw")
    try raf.setLength(cut) finally raf.close()

    val onlySig0 = spark.read.format("edf").load(path)
      .filter(col("channel") === sig0.label)
    assert(onlySig0.count() == 12000L, "selected signal fully readable")
    val e = intercept[Exception] {
      spark.read.format("edf").load(path).agg(sum(col("value"))).collect()
    }
    assert(e.getMessage != null, s"whole-record read fails on truncated file: $e")
  }

  test("planning and reading use the session's Hadoop conf: a scheme registered only there") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftsession.impl", classOf[SessionOnlyLocalFs].getName)
    conf.set("fs.graftsession.impl.disable.cache", "true")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("edfscheme")
      EdfDFixtures.makeEdfC(s"$tmp/c.edf", "00.00.00", Seq("C3", "C4"))
      val path = s"graftsession://$tmp/c.edf"
      assert(spark.read.format("edf").load(path).count() == 2L * 3 * 4)
      assert(EdfFile.read(spark, Seq(path)).count() == 2L * 3 * 4)
      assert(EdfFile.channels(spark, Seq(path)).count() == 2L)
      val manifest = EdfPipeline.process(spark, Seq(path), s"graftsession://$tmp/out")
      assert(manifest.startsWith("graftsession:"), manifest)
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/out/channels.json")))
      // a stream over the directory reads the file through the same
      // scheme and names it as the batch read does
      val streamed = scala.collection.mutable.ArrayBuffer.empty[String]
      spark.readStream.format("edf").load(s"graftsession://$tmp")
        .select(col("file")).distinct()
        .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          streamed.synchronized(streamed ++= df.collect().map(_.getString(0))): Unit
        }
        .start().awaitTermination()
      val batch = spark.read.format("edf").load(path).select(col("file")).distinct().collect()
      assert(streamed.toSeq == batch.map(_.getString(0)).toSeq)
    } finally {
      conf.unset("fs.graftsession.impl")
      conf.unset("fs.graftsession.impl.disable.cache")
    }
  }

  test("a stream restarted on a checkpoint of bare paths does not re-admit its files") {
    val tmp = java.nio.file.Files.createTempDirectory("edflegacyoffset")
    EdfDFixtures.makeEdfC(s"$tmp/a.edf", "00.00.00", Seq("C3"))
    EdfDFixtures.makeEdfC(s"$tmp/b.edf", "01.00.00", Seq("C3"))
    val stream = new graft.sources.v2.EdfMicroBatchStream(Seq(s"file://$tmp/"), Array("file"),
      EdfFile.captureConfEntries(spark), graft.sources.v2.EdfPushdown(), 1L << 20)
    // the offset form checkpointed before streams named files under their root
    val legacy = stream.deserializeOffset(s"""["$tmp/a.edf"]""")
    val next = stream.latestOffset(legacy,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[graft.sources.v2.EdfStreamOffset]
    assert(next.files == Seq(s"file://$tmp/a.edf", s"file://$tmp/b.edf"))
  }

  // ---- row parity with the fixtures' closed-form rows: every DSv2
  // reader path, compared as row multisets

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  /** `got` holds exactly `expected` (full sample-schema rows) projected
    * onto its columns.
    */
  private def assertRows(got: org.apache.spark.sql.DataFrame,
                         expected: Seq[org.apache.spark.sql.Row], minRows: Int): Unit = {
    val idx = got.schema.fieldNames.toSeq.map(EdfFile.sampleSchema.fieldIndex)
    val (a, b) = (rowsOf(got), expected.map(r => idx.map(r.get)).sortBy(_.mkString("\u0000")))
    assert(a.size >= minRows, s"fixture yields rows: ${a.size}")
    assert(a.distinct.size == a.size, "no row repeats (a reused row escaping uncopied would)")
    assert(a == b)
  }

  /** EDF+C whose records mix rates (4, 12 and 4 samples per 1 s record;
    * 12 does not divide 1 000 000 µs, so the integer-µs step shows), read
    * one record per split so split boundaries are exercised too.
    */
  private lazy val mixedRate: (String, Long, Seq[org.apache.spark.sql.Row]) = {
    val tmp = java.nio.file.Files.createTempDirectory("edfparity")
    val p = s"$tmp/mixed.edf"
    val (labels, nr) = (Seq("A1", "B2", "C3"), Seq(4, 12, 4))
    EdfDFixtures.makeEdfC(p, "00.00.00", labels, nRecords = 5, samplesPerRecord = nr)
    (p, EdfFile.readHeader(p).recordBytes,
      EdfDFixtures.edfCRows(p, "00.00.00", labels, nRecords = 5, samplesPerRecord = nr))
  }

  private def v2Mixed = {
    val (p, recBytes, _) = mixedRate
    spark.read.format("edf").option("targetSplitBytes", recBytes.toString).load(p)
  }

  test("parity: full schema collected with no projection") {
    val v2 = v2Mixed
    assert(v2.rdd.getNumPartitions == 5, "one split per record")
    assertRows(v2, mixedRate._3, minRows = 5 * 20)
  }

  test("parity: user schema in non-schema column order") {
    import org.apache.spark.sql.types._
    val user = StructType(Seq(StructField("value", DoubleType), StructField("channel", StringType),
      StructField("ts_us", LongType), StructField("rate", DoubleType),
      StructField("sample_idx", LongType), StructField("channel_idx", IntegerType)))
    val v2 = spark.read.schema(user).format("edf")
      .option("targetSplitBytes", mixedRate._2.toString).load(mixedRate._1)
    assert(v2.schema.fieldNames.toSeq == user.fieldNames.toSeq)
    assertRows(v2, mixedRate._3, minRows = 5 * 20)
  }

  test("parity: a projection without value synthesizes rows from the header") {
    val cols = Seq("file", "channel_idx", "channel", "unit", "rate", "record_idx", "sample_idx", "ts_us")
    val v2 = v2Mixed.select(cols.map(col): _*)
    val scan = v2.queryExecution.executedPlan.toString
    assert(!scan.contains("value"), s"value pruned from the scan:\n$scan")
    assertRows(v2, mixedRate._3, minRows = 5 * 20)
  }

  test("parity: channel filters take the sliced read path") {
    // one signal; two adjacent signals (one read run); two separated
    // signals (two read runs)
    Seq(Seq("B2"), Seq("A1", "B2"), Seq("A1", "C3")).foreach { chans =>
      val v2 = v2Mixed.filter(col("channel").isin(chans: _*))
      assert(v2.queryExecution.executedPlan.toString.contains("(channel,"), s"pushed: $chans")
      assertRows(v2, mixedRate._3.filter(r => chans.contains(r.getAs[String]("channel"))), minRows = 5 * 4)
    }
  }

  test("parity: EDF+D with and without ts_us bounds") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdparity")
    val p = s"$tmp/disc.edf"
    val (onsets, labels, nr) = (Seq(0.0, 10.0, 25.0, 40.0), Seq("D1", "D2"), Seq(4, 8))
    EdfDFixtures.makeEdfD(p, onsets, labels, samplesPerRecord = nr)
    val h = EdfFile.readHeader(p)
    val expected = EdfDFixtures.edfDRows(p, onsets, labels, samplesPerRecord = nr)
    assertRows(spark.read.format("edf").load(p), expected, minRows = 4 * 12)
    // bounds cut inside records 1 and 2: records 0 and 3 are TAL-skipped
    val (lo, hi) = (h.startUs + 10500000L, h.startUs + 25500000L)
    val bounded = spark.read.format("edf").load(p).filter(col("ts_us") >= lo && col("ts_us") < hi)
    assert(bounded.queryExecution.executedPlan.toString.contains("GreaterThanOrEqual(ts_us"))
    assertRows(bounded, expected.filter { r => val t = r.getAs[Long]("ts_us"); t >= lo && t < hi },
      minRows = 12)
  }
  test("EDF+D count() reads the header and each record's TAL slice, no sample bytes") {
    val tmp = java.nio.file.Files.createTempDirectory("edfdcount")
    val p = s"$tmp/disc.edf"
    val onsets = (0 until 40).map(_ * 2.0)
    EdfDFixtures.makeEdfD(p, onsets, Seq("D1", "D2"), samplesPerRecord = Seq(64, 64))
    val h = EdfFile.readHeader(p)
    val talBytes = h.signals(h.annotationIndex).nrSamples * 2L
    @annotation.nowarn("cat=deprecation")
    def bytesRead(): Long = {
      import scala.jdk.CollectionConverters._
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesRead).sum
    }
    // one header read, as planning does it, measured on its own
    val b0 = bytesRead()
    EdfFile.readHeader(p, spark.sparkContext.hadoopConfiguration)
    val headerRead = bytesRead() - b0
    val b1 = bytesRead()
    assert(spark.read.format("edf").load(p).count() == 40L * 128)
    val countRead = bytesRead() - b1
    assert(countRead <= headerRead + h.nbDataRec * talBytes,
      s"count read $countRead bytes; header $headerRead + ${h.nbDataRec} TALs x $talBytes")
    // executors outside this JVM count their reads in their own statistics
    if (spark.sparkContext.isLocal)
      assert(countRead >= headerRead + h.nbDataRec * talBytes, s"every TAL slice read: $countRead")
  }
}

/** The local filesystem under a scheme that only a session's Hadoop conf
  * knows about (`fs.graftsession.impl`).
  */
class SessionOnlyLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftsession:///")
  override def getScheme: String = "graftsession"
}
