package graft

import java.nio.file.{Files, Paths}
import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{EdfFile, EdfSink}

/** A14: binary + manifest output contract vs the reference spec. */
class EdfSinkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("sink writes per-channel float64 binaries + schema-shaped manifest") {
    val outDir = Files.createTempDirectory("edfsink").toString
    val df = EdfFile.read(spark, Seq(EdfDFixtures.sinWaveEdf)).cache()
    EdfSink.write(df, outDir)

    val channels = df.select(col("channel")).distinct().collect().map(_.getString(0))
    assert(channels.length == 2)
    channels.foreach { ch =>
      val safe = ch.replaceAll("[^A-Za-z0-9._-]", "_")
      val bin = Paths.get(s"$outDir/$safe.ts.bin")
      assert(Files.exists(bin), s"binary for $ch")
      assert(Files.size(bin) == 12000L * 8, "12000 float64 samples")
    }
    // first value round-trips
    val ch0 = channels.sorted.head
    val expected = df.filter(col("channel") === ch0).orderBy(col("sample_idx"))
      .select(col("value")).limit(1).collect()(0).getDouble(0)
    val bytes = Files.readAllBytes(Paths.get(s"$outDir/${ch0.replaceAll("[^A-Za-z0-9._-]", "_")}.ts.bin"))
    val got = ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble
    assert(got == expected)

    val manifest = new String(Files.readAllBytes(Paths.get(s"$outDir/channels.json")))
    assert(manifest.contains("\"type\": \"CONTINUOUS\""))
    assert(manifest.contains("\"contiguousChunks\""))
    assert(manifest.contains("\"rate\": 800.0"))
    assert(Files.exists(Paths.get(s"$outDir/channel.json")))
    assert(Files.exists(Paths.get(s"$outDir/channel-00001.json")))
    df.unpersist()
  }

  test("re-running into a non-empty outDir replaces binaries (no stale bytes)") {
    val outDir = Files.createTempDirectory("edfrerun").toString
    val df = EdfFile.read(spark, Seq(EdfDFixtures.sinWaveEdf))
    EdfSink.write(df, outDir)
    // plant a stale orphaned temp dir + corrupt one committed binary
    val bins = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ts.bin"))
    Files.write(Paths.get(bins.head.getPath), Array[Byte](1, 2, 3))
    Files.createDirectories(Paths.get(s"$outDir/_tmp-9-9-attempt-9"))
    Files.write(Paths.get(s"$outDir/_tmp-9-9-attempt-9/junk.ts.bin"), Array[Byte](9))
    EdfSink.write(df, outDir)
    bins.foreach { b => assert(Files.size(b.toPath) == 12000L * 8, s"${b.getName} rewritten") }
    assert(!Files.exists(Paths.get(s"$outDir/_tmp-9-9-attempt-9")), "stale temp dirs swept")
  }

  // contiguous EDF: `labels` signals, nRecords x 4 samples @1s records
  // (4 Hz), digital values = record*4 + sample + channel offset
  private def makeEdfC(path: String, startTime: String, labels: Seq[String],
                       nRecords: Int = 3): Unit =
    EdfDFixtures.makeEdfC(path, startTime, labels, nRecords)

  test("append mode merges a second session into an existing output (reference base.py:146-221)") {
    val tmp = Files.createTempDirectory("edfappend")
    val s1 = s"$tmp/session1.edf"; val s2 = s"$tmp/session2.edf"
    makeEdfC(s1, "00.00.00", Seq("C3", "C4"))
    makeEdfC(s2, "01.00.00", Seq("C3", "C4", "EMG"))  // 1h later + a new channel
    val outDir = Files.createTempDirectory("edfappendout").toString

    EdfSink.write(EdfFile.read(spark, Seq(s1)), outDir)
    val before = Files.readAllBytes(Paths.get(s"$outDir/C3.ts.bin"))
    assert(before.length == 12 * 8)

    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append")

    // committed session-1 bytes untouched; session 2 landed as a new generation binary
    assert(Files.readAllBytes(Paths.get(s"$outDir/C3.ts.bin")).toSeq == before.toSeq)
    val gen = Paths.get(s"$outDir/C3-g01.ts.bin")
    assert(Files.exists(gen), "appended generation part written")
    assert(Files.size(gen) == 12 * 8)
    // appended bytes = session 2's own calibrated stream
    val s2first = EdfFile.read(spark, Seq(s2)).filter(col("channel") === "C3")
      .orderBy(col("sample_idx")).select(col("value")).limit(1).collect()(0).getDouble(0)
    val gotFirst = ByteBuffer.wrap(Files.readAllBytes(gen), 0, 8)
      .order(ByteOrder.LITTLE_ENDIAN).getDouble
    assert(gotFirst == s2first)

    // merged manifest: same channel identity, both sessions' chunks, stream positions continue
    val c3 = new String(Files.readAllBytes(Paths.get(s"$outDir/channel.json")))
    assert(c3.contains("\"name\": \"C3\""))
    assert("\\{\"index\": ".r.findAllIn(c3).size == 2, s"two contiguous chunks: $c3")
    assert(c3.contains("{\"index\": 12,"), s"appended chunk continues the value stream: $c3")
    assert(c3.contains("\"numValues\", \"value\": \"24\""))
    assert(c3.contains("C3.ts.bin") && c3.contains("C3-g01.ts.bin"))
    // start stays at session 1, end extends to session 2 (3600s later)
    val start = "\"start\": (\\d+)".r.findFirstMatchIn(c3).get.group(1).toLong
    val end = "\"end\": (\\d+)".r.findFirstMatchIn(c3).get.group(1).toLong
    assert(end - start == 3600L * 1000000L + 2750000L, s"end spans both sessions: $start..$end")

    // the unmatched incoming channel was created, existing ones not duplicated
    val all = new String(Files.readAllBytes(Paths.get(s"$outDir/channels.json")))
    assert("\"name\"".r.findAllIn(all).size == 3, s"C3, C4, EMG: $all")
    assert(all.contains("\"name\": \"EMG\""))
    assert(Files.exists(Paths.get(s"$outDir/channel-00002.json")), "new channel manifest appended")
  }

  test("append merges a second sample_data file into an existing output dir") {
    // test.edf's 11 channels share no labels with sin_wave.edf's 2 —
    // the reference's "no match found -> create new channel" path
    val outDir = Files.createTempDirectory("edfappend2").toString
    EdfSink.write(EdfFile.read(spark, Seq(EdfDFixtures.sinWaveEdf)), outDir)
    val sinBins = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".ts.bin"))
      .map(f => f.getName -> Files.size(f.toPath)).toMap
    EdfSink.write(EdfFile.read(spark, Seq(EdfDFixtures.testEdf)), outDir,
      mode = "append")
    val all = new String(Files.readAllBytes(Paths.get(s"$outDir/channels.json")))
    assert("\"name\"".r.findAllIn(all).size == 13, "2 sin_wave + 11 test channels")
    assert(all.contains("\"rate\": 800.0") && all.contains("\"rate\": 200.0"))
    // the first run's binaries are byte-identical after the append
    sinBins.foreach { case (name, size) =>
      assert(Files.size(Paths.get(s"$outDir/$name")) == size, s"$name untouched")
    }
    val bins = new java.io.File(outDir).listFiles().count(_.getName.endsWith(".ts.bin"))
    assert(bins == 13, s"13 channel binaries, got $bins")
  }

  test("append property: N sessions appended sequentially concatenate to the full stream") {
    // three sessions of DIFFERENT lengths, hours apart; after two appends
    // each channel's listed binaries must concatenate to the sessions'
    // streams in order, numValues must total, and each session must be
    // its own contiguous chunk with value-stream-continuing indices
    val tmp = Files.createTempDirectory("edfappendn")
    val specs = Seq(("00.00.00", 3), ("02.00.00", 5), ("07.30.00", 2))
    val paths = specs.zipWithIndex.map { case ((start, nRec), i) =>
      val p = s"$tmp/s$i.edf"; makeEdfC(p, start, Seq("C3", "C4"), nRecords = nRec); p
    }
    val outDir = Files.createTempDirectory("edfappendnout").toString
    EdfSink.write(EdfFile.read(spark, Seq(paths.head)), outDir)
    paths.tail.foreach(p => EdfSink.write(EdfFile.read(spark, Seq(p)), outDir, mode = "append"))

    Seq("C3", "C4").foreach { ch =>
      // expected byte stream: each session's values in sample order
      val expected = paths.flatMap { p =>
        EdfFile.read(spark, Seq(p)).filter(col("channel") === ch)
          .orderBy(col("sample_idx")).select(col("value")).collect().map(_.getDouble(0))
      }
      val manifest = new String(Files.readAllBytes(Paths.get(
        s"$outDir/channel${if (ch == "C3") "" else "-00001"}.json")))
      val bins = "\"binaryFiles\", \"value\": \\[([^\\]]+)\\]".r
        .findFirstMatchIn(manifest).get.group(1)
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
      assert(bins.length == 3, s"$ch lists one binary per session: ${bins.toSeq}")
      val gotBytes = bins.flatMap(b => Files.readAllBytes(Paths.get(s"$outDir/$b")))
      val bb = ByteBuffer.wrap(gotBytes).order(ByteOrder.LITTLE_ENDIAN)
      val got = (0 until gotBytes.length / 8).map(_ => bb.getDouble)
      assert(got == expected, s"$ch concatenated stream matches (${got.length}/${expected.length})")
      assert(manifest.contains(s""""numValues", "value": "${expected.length}""""),
        s"$ch numValues totals: $manifest")
      // one chunk per session, indices continuing the value stream: 0, 12, 32
      val idxs = "\\{\"index\": (\\d+)".r.findAllMatchIn(manifest).map(_.group(1).toLong).toSeq
      assert(idxs == Seq(0L, 12L, 32L), s"$ch chunk indices continue the stream: $idxs")
    }
  }

  test("packed dump handles adversarial input order: random shuffle == sorted bytes") {
    // the r16 packed exchange assumes nothing about arrival order: a
    // randomly re-partitioned sample relation exercises the pack's
    // flush-time block sort AND the reduce side's overlap heap merge
    // (blocks of one bin from different partitions interleave in
    // sample_idx). Output bytes must equal the naturally-ordered write.
    val tmp = Files.createTempDirectory("edfshuffled")
    val src = s"$tmp/s.edf"
    makeEdfC(src, "00.00.00", Seq("C3", "C4"), nRecords = 64)
    val samples = EdfFile.read(spark, Seq(src))
    val outA = s"$tmp/ordered"; val outB = s"$tmp/shuffled"
    EdfSink.write(samples, outA)
    EdfSink.write(samples.repartition(7, pmod(hash(col("sample_idx")), lit(7))), outB)
    Seq("C3.ts.bin", "C4.ts.bin", "channel.json", "channel-00001.json").foreach { f =>
      assert(Files.readAllBytes(Paths.get(s"$outA/$f")).toSeq ==
        Files.readAllBytes(Paths.get(s"$outB/$f")).toSeq, s"$f: shuffled == ordered")
    }
  }

  test("merge window overflow spills to sorted runs instead of failing (>1024 overlapping blocks)") {
    // a relation round-robin repartitioned >1024 ways scatters one
    // channel across every map partition, so every partition's block
    // spans the full sample_idx range and >1024 cursors overlap at the
    // reduce-side merge frontier — pre-r17 this threw; now the open
    // cursors merge-drain to an executor-local sorted run and the write
    // completes byte-identically to the ordered run (review r16 ADVICE)
    import org.apache.spark.sql.Row
    val n = 2200
    val base = 1577836800000000L
    val rows = (0 until n).map(i =>
      Row("f.edf", 0, "NC", "uV", 4.0, 0L, i.toLong, base + i * 250000L, i.toDouble))
    val ordered = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), EdfFile.sampleSchema)
    // RDD-level repartition: AQE would coalesce a DataFrame-level
    // round-robin exchange of this little data back to a few partitions
    // and never build the >1024-block overlap this test exists to hit
    val scattered = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1).repartition(1100), EdfFile.sampleSchema)
    val tmp = Files.createTempDirectory("edfspill")
    val outA = s"$tmp/ordered"; val outB = s"$tmp/scattered"
    EdfSink.write(ordered, outA)
    EdfSink.write(scattered, outB)
    assert(EdfSink.mergeSpillCount > 0,
      "the merge-window spill path was actually exercised")
    Seq("NC.ts.bin", "channel.json", "channels.json").foreach { f =>
      assert(Files.readAllBytes(Paths.get(s"$outA/$f")).toSeq ==
        Files.readAllBytes(Paths.get(s"$outB/$f")).toSeq, s"$f: scattered == ordered")
    }
    val m = new String(Files.readAllBytes(Paths.get(s"$outB/channel.json")))
    assert(m.contains(s""""numValues", "value": "$n""""), s"all $n values through the spill: $m")
  }

  test("append shift across a part boundary works at maxSamplesPerFile = MaxValue (negative idx)") {
    // review r16 ADVICE: a matched append whose raw sample_idx is
    // negative shifts across zero (raw -20..3, offset 12 existing values
    // -> -8..15). The pack routes on the SHIFTED idx, so the appended
    // session still lands in one generation binary, in sample_idx order.
    import org.apache.spark.sql.Row
    val base = 1577836800000000L
    def mk(idxs: Seq[Long], tsBase: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(idxs.map(i =>
        Row("f.edf", 0, "NC", "uV", 4.0, 0L, i, tsBase + (i - idxs.min) * 250000L, i.toDouble)), 2),
      EdfFile.sampleSchema)
    val outDir = Files.createTempDirectory("edfnegappend").toString
    EdfSink.write(mk(0L to 11L, base), outDir)
    EdfSink.write(mk(-20L to 3L, base + 3600L * 1000000L), outDir, mode = "append")
    val m = new String(Files.readAllBytes(Paths.get(s"$outDir/channel.json")))
    val bins = "\"binaryFiles\", \"value\": \\[([^\\]]+)\\]".r
      .findFirstMatchIn(m).get.group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
    assert(bins.length == 2, s"original + one generation binary: $bins")
    val sizes = bins.map(b => Files.size(Paths.get(s"$outDir/$b")))
    assert(sizes == Seq(12L * 8, 24L * 8), s"binary sizes: $sizes")
    // concatenating the listed binaries reproduces both sessions in idx order
    val gotBytes = bins.flatMap(b => Files.readAllBytes(Paths.get(s"$outDir/$b")).toSeq).toArray
    val bb = ByteBuffer.wrap(gotBytes).order(ByteOrder.LITTLE_ENDIAN)
    val got = (0 until gotBytes.length / 8).map(_ => bb.getDouble)
    assert(got == (0L to 11L).map(_.toDouble) ++ (-20L to 3L).map(_.toDouble),
      "concatenated stream = session1 ++ session2 in sample order")
    assert(m.contains("\"numValues\", \"value\": \"36\""), s"36 total values: $m")
    // the appended session is one chunk whose index continues the stream
    val idxs = "\\{\"index\": (\\d+)".r.findAllMatchIn(m).map(_.group(1).toLong).toSeq
    assert(idxs == Seq(0L, 12L), s"one appended chunk continuing the value stream: $m")
  }

  test("negative sample_idx routes consistently: plan floorDiv == pack floorDiv") {
    // write() accepts arbitrary sample relations: a NEGATIVE sample_idx
    // sorts into the channel's one binary like any other
    import org.apache.spark.sql.Row
    val rows = (-5L to 5L).map(i =>
      Row("f.edf", 0, "NC", "uV", 4.0, 0L, i, 1577836800000000L + i * 250000L, i.toDouble))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), EdfFile.sampleSchema)
    val out = Files.createTempDirectory("edfnegidx").toString
    EdfSink.write(df, out)
    val bins = new java.io.File(out).listFiles().map(_.getName).filter(_.endsWith(".ts.bin")).toSeq
    assert(bins == Seq("NC.ts.bin"), s"one binary: $bins")
    val bb = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$out/NC.ts.bin"))).order(ByteOrder.LITTLE_ENDIAN)
    val got = (0 until bb.capacity / 8).map(_ => bb.getDouble)
    assert(got == (-5L to 5L).map(_.toDouble), s"all 11 samples in sample_idx order: $got")
  }

  test("packed dump bounds pack memory on very wide inputs (>MaxOpenBins channels)") {
    // 300 channels exceed the pack's open-block cap (256): the fullest
    // block flushes early, blocks fragment, and the reduce-side merge
    // must still reassemble every channel byte-exactly
    val tmp = Files.createTempDirectory("edfwide")
    val src = s"$tmp/wide.edf"
    val labels = (0 until 300).map(i => f"W$i%03d")
    makeEdfC(src, "00.00.00", labels, nRecords = 2)
    val out = s"$tmp/out"
    EdfSink.write(EdfFile.read(spark, Seq(src)), out)
    val expected0 = EdfFile.read(spark, Seq(src)).filter(col("channel") === "W000")
      .orderBy(col("sample_idx")).select(col("value")).collect().map(_.getDouble(0))
    val got = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$out/W000.ts.bin")))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val gotVals = Array.fill(expected0.length)(got.getDouble)
    assert(gotVals.toSeq == expected0.toSeq, "W000 bytes exact through early flushes")
    assert(Files.size(Paths.get(s"$out/W299.ts.bin")) == 8L * 8, "every channel written")
    val idx = new String(Files.readAllBytes(Paths.get(s"$out/channels.json")))
    assert("\"name\"".r.findAllIn(idx).size == 300, "all 300 manifests assembled")
  }

  test("tagged append replay is idempotent: committed channels skip, partial crashes heal") {
    // the at-least-once foreachBatch contract (r15 ADVICE): a replayed
    // batch carries the same replayTag; channels whose manifests already
    // carry it are provably merged and skip — no overlap wedge, no
    // double append — while channels whose merge DIDN'T commit (mixed
    // partial-crash state) re-append normally
    val tmp = Files.createTempDirectory("edfreplay")
    val s1 = s"$tmp/s1.edf"; val s2 = s"$tmp/s2.edf"; val s3 = s"$tmp/s3.edf"
    makeEdfC(s1, "00.00.00", Seq("C3", "C4"))
    makeEdfC(s2, "01.00.00", Seq("C3", "C4"))
    makeEdfC(s3, "02.00.00", Seq("C3", "C4"))
    val outDir = Files.createTempDirectory("edfreplayout").toString
    // committed STATE = manifests + every binary a manifest references.
    // (A refused append has already committed its stage-1 binaries when
    // the manifest stage trips the overlap invariant — those orphans are
    // unreferenced junk, invisible to readers, and deliberately outside
    // this comparison.)
    def snapshot(): Map[String, Seq[Byte]] = {
      val dir = new java.io.File(outDir)
      val manifests = dir.listFiles().filter(_.getName.matches("channel.*\\.json")).map(_.getName)
      val referenced = manifests.flatMap { m =>
        """[A-Za-z0-9._-]+\.ts\.bin""".r
          .findAllIn(new String(Files.readAllBytes(Paths.get(s"$outDir/$m")))).toSeq
      }.toSet
      (manifests ++ referenced)
        .map(n => n -> Files.readAllBytes(Paths.get(s"$outDir/$n")).toSeq).toMap
    }

    EdfSink.write(EdfFile.read(spark, Seq(s1)), outDir)
    val preAppendManifest1 = Files.readAllBytes(Paths.get(s"$outDir/channel-00001.json"))
    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append", replayTag = Some("b1"))
    val committed = snapshot()
    assert(new String(committed("channel.json").toArray)
      .contains("\"appendTag\", \"value\": \"b1\""), "merged manifest records the batch tag")

    // exact replay (crash after sink commit, before checkpoint commit):
    // every channel carries b1 -> clean no-op, bytes identical
    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append", replayTag = Some("b1"))
    assert(snapshot() == committed, "full replay changed nothing")

    // an UNtagged re-append of the same data still trips the overlap
    // invariant — the guard only stands down on proven provenance
    intercept[Exception] {
      EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append")
    }
    // the failed attempt staged manifests away; heal by replaying the
    // tagged batch (its recovery path restores then skips), then verify
    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append", replayTag = Some("b1"))
    assert(snapshot() == committed, "post-wedge tagged replay restores the committed state")

    // MIXED partial-crash state: C4's manifest merge never committed
    // (restore its pre-append manifest, drop its generation binary);
    // replaying b1 must skip C3 (tagged) and re-append C4 only,
    // reconverging byte-for-byte
    Files.write(Paths.get(s"$outDir/channel-00001.json"), preAppendManifest1)
    Files.delete(Paths.get(s"$outDir/C4-g01.ts.bin"))
    // Hadoop's local ChecksumFileSystem keeps DOT-prefixed .crc sidecars;
    // a byte-level restore outside the FS API must drop them or the
    // replay's manifest read fails on a stale checksum
    Files.deleteIfExists(Paths.get(s"$outDir/.channel-00001.json.crc"))
    Files.deleteIfExists(Paths.get(s"$outDir/.C4-g01.ts.bin.crc"))
    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append", replayTag = Some("b1"))
    assert(snapshot() == committed, "mixed-state replay healed C4 without double-appending C3")

    // a NEW batch with a NEW tag appends normally on top
    EdfSink.write(EdfFile.read(spark, Seq(s3)), outDir, mode = "append", replayTag = Some("b2"))
    val c3 = new String(Files.readAllBytes(Paths.get(s"$outDir/channel.json")))
    assert(c3.contains("\"numValues\", \"value\": \"36\""), s"three sessions merged: $c3")
    assert(c3.contains("\"appendTag\", \"value\": \"b2\""), "tag advances with the new batch")
  }

  test("append refuses overlapping sessions (non-overlap invariant, reference base.py:87-95)") {
    val tmp = Files.createTempDirectory("edfoverlap")
    val s1 = s"$tmp/a.edf"; val s2 = s"$tmp/b.edf"
    makeEdfC(s1, "00.00.00", Seq("C3"))
    makeEdfC(s2, "00.00.01", Seq("C3"))  // starts INSIDE session 1 (0..2.75s)
    val outDir = Files.createTempDirectory("edfoverlapout").toString
    EdfSink.write(EdfFile.read(spark, Seq(s1)), outDir)
    val e = intercept[org.apache.spark.SparkException] {
      EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append")
    }
    assert(e.getMessage.contains("overlapping") ||
      Option(e.getCause).exists(_.getMessage.contains("overlapping")))
  }

  test("spike (UNIT) channels round-trip the reference spike contract (base.py:223-263)") {
    import spark.implicits._
    val spikes = Seq(
      ("rec.edf", "unit1", 1000L, 0, Seq(0.5, 1.5, 2.5)),
      ("rec.edf", "unit1", 2000L, 3, Seq(-1.0, 9.0, 4.25)),
      ("rec.edf", "unit1", 3000L, 255, Seq(7.0, 8.0, 6.5)),
      ("rec.edf", "unit2", 1500L, 1, Seq(2.0, 3.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val outDir = Files.createTempDirectory("edfspikes").toString
    val idx = graft.sources.EdfSink.writeSpikes(spikes, outDir)

    val bytes = Files.readAllBytes(Paths.get(s"$outDir/unit1.spikes.bin"))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // header: waveform_offset | num_spikes | num_samples
    assert(bb.getLong == 9L * 3, "waveform offset = spike-record bytes")
    assert(bb.getLong == 3L, "num_spikes")
    assert(bb.getLong == 3L, "num_samples")
    // spike records in ts order: int64 ts + uint8 unit
    val got = (0 until 3).map(_ => (bb.getLong, bb.get() & 0xff))
    assert(got == Seq((1000L, 0), (2000L, 3), (3000L, 255)), s"records: $got")
    // waveforms float64, spike order
    val wf = (0 until 9).map(_ => bb.getDouble)
    assert(wf == Seq(0.5, 1.5, 2.5, -1.0, 9.0, 4.25, 7.0, 8.0, 6.5), s"waveforms: $wf")
    assert(!bb.hasRemaining, "no trailing bytes")
    assert(Files.size(Paths.get(s"$outDir/unit2.spikes.bin")) == 24 + 9 * 1 + 2 * 8)

    val manifest = new String(Files.readAllBytes(Paths.get(idx)))
    assert(manifest.contains("\"type\": \"UNIT\""))
    assert(manifest.contains("\"name\": \"unit1\"") && manifest.contains("\"name\": \"unit2\""))
    assert(manifest.contains("\"start\": 1000") && manifest.contains("\"end\": 3000"))
    assert(manifest.contains("\"numSpikes\", \"value\": \"3\""))
    assert(Files.exists(Paths.get(s"$outDir/unit-channel.json")))
    assert(Files.exists(Paths.get(s"$outDir/unit-channel-00001.json")))
  }

  test("spike append adds a generation binary and merges the UNIT manifest") {
    import spark.implicits._
    val s1 = Seq(("rec.edf", "unit1", 1000L, 0, Seq(1.0, 2.0)),
                 ("rec.edf", "unit1", 2000L, 1, Seq(3.0, 4.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val s2 = Seq(("rec2.edf", "unit1", 9000L, 2, Seq(5.0, 6.0)),      // matches by name
                 ("rec2.edf", "unitX", 9500L, 0, Seq(7.0, 8.0)))      // new UNIT channel
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val outDir = Files.createTempDirectory("edfspikeapp").toString
    graft.sources.EdfSink.writeSpikes(s1, outDir)
    val before = Files.readAllBytes(Paths.get(s"$outDir/unit1.spikes.bin"))
    val idx = graft.sources.EdfSink.writeSpikes(s2, outDir, mode = "append")

    assert(Files.readAllBytes(Paths.get(s"$outDir/unit1.spikes.bin")).toSeq == before.toSeq,
      "committed spike block untouched")
    val gen = Paths.get(s"$outDir/unit1-g01.spikes.bin")
    assert(Files.exists(gen), "appended generation block written")
    assert(Files.size(gen) == 24 + 9 * 1 + 2 * 8)
    val m = new String(Files.readAllBytes(Paths.get(s"$outDir/unit-channel.json")))
    assert(m.contains("\"numSpikes\", \"value\": \"3\""), s"2 + 1 spikes: $m")
    assert(m.contains("unit1.spikes.bin") && m.contains("unit1-g01.spikes.bin"))
    assert(m.contains("\"start\": 1000") && m.contains("\"end\": 9000"))
    val all = new String(Files.readAllBytes(Paths.get(idx)))
    assert("\"name\"".r.findAllIn(all).size == 2, s"unit1 merged + unitX created: $all")
    assert(all.contains("\"name\": \"unitX\""))
  }

  test("spike append recovers from a crash between staging and manifest commit") {
    import spark.implicits._
    val s1 = Seq(("rec.edf", "unit1", 1000L, 0, Seq(1.0, 2.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val outDir = Files.createTempDirectory("edfspikecrash").toString
    graft.sources.EdfSink.writeSpikes(s1, outDir)
    val before = Files.readAllBytes(Paths.get(s"$outDir/unit-channel.json"))

    // simulate an append that died between staging the matched manifest
    // and the executor-side commit: the destination is a hole
    Files.move(Paths.get(s"$outDir/unit-channel.json"),
      Paths.get(s"$outDir/staged-unit-manifest-00000.json"))

    // the next run's sweep must restore unit1's manifest BEFORE the
    // ordinal scan — otherwise unit2 would silently take ordinal 0
    val s2 = Seq(("rec.edf", "unit2", 5000L, 1, Seq(3.0, 4.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val idx = graft.sources.EdfSink.writeSpikes(s2, outDir, mode = "append")

    assert(Files.readAllBytes(Paths.get(s"$outDir/unit-channel.json")).toSeq == before.toSeq,
      "crashed-run staged manifest restored intact at its ordinal")
    val all = new String(Files.readAllBytes(Paths.get(idx)))
    assert("\"name\"".r.findAllIn(all).size == 2, s"unit1 survived + unit2 created: $all")
    assert(all.contains("\"name\": \"unit1\"") && all.contains("\"name\": \"unit2\""))
    assert(new java.io.File(outDir).listFiles()
      .forall(!_.getName.startsWith("staged-unit-manifest-")), "no staged leftovers")
  }

  test("overwrite replaces only its own namespace: sample and spike manifests share an outDir") {
    import spark.implicits._
    val spikes = Seq(("rec.edf", "unit1", 1000L, 0, Seq(1.0, 2.0)),
                     ("rec.edf", "unit2", 1500L, 1, Seq(3.0, 4.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val tmp = Files.createTempDirectory("edfnsedf")
    val s1 = s"$tmp/s1.edf"
    makeEdfC(s1, "00.00.00", Seq("C3", "C4"))
    def files(outDir: String, keep: String => Boolean): Map[String, String] =
      new java.io.File(outDir).listFiles().map(_.getName).filter(keep)
        .map(n => n -> new String(Files.readAllBytes(Paths.get(s"$outDir/$n")))).toMap
    val unitFiles = (n: String) => n == "channels_unit.json" || n.startsWith("unit-channel")
    val sampleFiles = (n: String) => n == "channels.json" || n.matches("channel(-\\d{5})?\\.json")

    // spikes first, then a sample overwrite: the UNIT index and manifests survive
    val d1 = Files.createTempDirectory("edfns1").toString
    EdfSink.writeSpikes(spikes, d1)
    val unitBefore = files(d1, unitFiles)
    assert(unitBefore.keySet == Set("channels_unit.json", "unit-channel.json", "unit-channel-00001.json"))
    EdfSink.write(EdfFile.read(spark, Seq(s1)), d1)
    assert(files(d1, unitFiles) == unitBefore, "sample overwrite left the UNIT namespace intact")
    assert(files(d1, sampleFiles).keySet == Set("channels.json", "channel.json", "channel-00001.json"))

    // samples first, then a spike overwrite: the CONTINUOUS index and manifests survive
    val d2 = Files.createTempDirectory("edfns2").toString
    EdfSink.write(EdfFile.read(spark, Seq(s1)), d2)
    val sampleBefore = files(d2, sampleFiles)
    assert(sampleBefore.keySet == Set("channels.json", "channel.json", "channel-00001.json"))
    EdfSink.writeSpikes(spikes, d2)
    assert(files(d2, sampleFiles) == sampleBefore, "spike overwrite left the CONTINUOUS namespace intact")
    assert(files(d2, unitFiles).keySet == unitBefore.keySet)
  }

  test("spike append matches UNIT channels by trimmed, lowercased name only") {
    import spark.implicits._
    val s1 = Seq(("rec.edf", "unit1", 1000L, 0, Seq(1.0, 2.0)),
                 ("rec.edf", "unit1", 2000L, 1, Seq(3.0, 4.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    // UNIT channels carry rate 0.0: a 2 % rate rule would compare NaN and
    // create a second channel instead of merging
    val s2 = Seq(("rec2.edf", " Unit1", 9000L, 2, Seq(5.0, 6.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val outDir = Files.createTempDirectory("edfspikematch").toString
    EdfSink.writeSpikes(s1, outDir)
    val idx = EdfSink.writeSpikes(s2, outDir, mode = "append")

    val all = new String(Files.readAllBytes(Paths.get(idx)))
    assert("\"name\"".r.findAllIn(all).size == 1, s"one merged channel: $all")
    assert(all.contains("\"name\": \"unit1\""), s"the existing channel keeps its name: $all")
    assert(all.contains("\"numSpikes\", \"value\": \"3\""), s"2 + 1 spikes: $all")
    assert(all.contains("unit1.spikes.bin") && all.contains("unit1-g01.spikes.bin"))
    assert(Files.size(Paths.get(s"$outDir/unit1-g01.spikes.bin")) == 24 + 9 * 1 + 2 * 8)
    assert(!Files.exists(Paths.get(s"$outDir/unit-channel-00001.json")), "no second UNIT channel")
  }

  test("spike unit_id outside uint8 range fails loudly instead of truncating") {
    import spark.implicits._
    val bad = Seq(("rec.edf", "unit1", 1000L, 256, Seq(1.0, 2.0)))
      .toDF("file", "channel", "ts_us", "unit_id", "waveform")
    val outDir = Files.createTempDirectory("edfspikebad").toString
    val e = intercept[org.apache.spark.SparkException] {
      graft.sources.EdfSink.writeSpikes(bad, outDir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("out of uint8 range")), s"got: ${msgs(e)}")
  }

  test("tsSpikeWaveforms output reshapes into the spike sink") {
    val t = new Tables(spark, "/root/testdata/sf0.001")
    val spikes = graft.operators.TimeSeries.tsSpikeWaveforms(t)
      .filter(col("w_m2").isNotNull && col("w_p2").isNotNull)
      .select(lit("events").as("file"), col("event_type").as("channel"),
        col("ts_us"), lit(0).as("unit_id"),
        array(col("w_m2"), col("w_m1"), col("w_0"), col("w_p1"), col("w_p2")).as("waveform"))
    val outDir = Files.createTempDirectory("edfspikes2").toString
    graft.sources.EdfSink.writeSpikes(spikes, outDir)
    val n = spikes.count()
    val chans = spikes.select(col("channel")).distinct().collect().map(_.getString(0))
    val recBytes = chans.map { c =>
      val b = Files.readAllBytes(Paths.get(s"$outDir/$c.spikes.bin"))
      val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
      val off = bb.getLong; val ns = bb.getLong; val nsamp = bb.getLong
      assert(off == 9 * ns && nsamp == 5, s"channel $c header consistent")
      assert(b.length == 24 + 9 * ns + ns * 5 * 8, s"channel $c sized exactly")
      ns
    }.sum
    assert(recBytes == n, "every detected spike serialized")
  }

  test("filtered (non-dense sample_idx) input yields self-consistent chunk stats") {
    // artifact-removal shape: drop samples 4..7 of a 12-sample 4 Hz
    // channel — the surviving stream has a 1.25 s hole (> 2 periods =
    // 0.5 s), so the manifest must show exactly two chunks whose stats
    // come from the rows actually written, not from index arithmetic
    val tmp = Files.createTempDirectory("edffiltered")
    val src = s"$tmp/f.edf"
    makeEdfC(src, "00.00.00", Seq("C3"))
    val df = EdfFile.read(spark, Seq(src))
      .filter(col("sample_idx") < 4 || col("sample_idx") >= 8)
    val outDir = Files.createTempDirectory("edffilteredout").toString
    EdfSink.write(df, outDir)

    assert(Files.size(Paths.get(s"$outDir/C3.ts.bin")) == 8L * 8, "8 surviving samples")
    val m = new String(Files.readAllBytes(Paths.get(s"$outDir/channel.json")))
    // chunk index = position in the STORED value stream (base.py:336-342):
    // chunk 2 holds stored values 4..7, so its index is 4 — NOT the
    // original sample_idx 8, which would seek past EOF of the 8-value binary
    val idxs = "\\{\"index\": (\\d+)".r.findAllMatchIn(m).map(_.group(1).toLong).toSeq
    assert(idxs == Seq(0L, 4L), s"two chunks at stored-stream positions: $m")
    assert(m.contains("\"numValues\", \"value\": \"8\""), s"numValues counts actual rows: $m")
    val start = "\"start\": (\\d+)".r.findFirstMatchIn(m).get.group(1).toLong
    val end = "\"end\": (\\d+)".r.findFirstMatchIn(m).get.group(1).toLong
    assert(end - start == 2750000L, s"end is the last ACTUAL sample's ts: $start..$end")

    // append after a filtered run: the appended chunk's index continues
    // the STORED stream (8 values on disk), not the original sample_idx
    // space (12) — and sits strictly above every existing index, so the
    // merged chunk array stays sorted for non-dense history
    val s2 = s"$tmp/f2.edf"
    makeEdfC(s2, "01.00.00", Seq("C3"))
    EdfSink.write(EdfFile.read(spark, Seq(s2)), outDir, mode = "append")
    val mA = new String(Files.readAllBytes(Paths.get(s"$outDir/channel.json")))
    val idxA = "\\{\"index\": (\\d+)".r.findAllMatchIn(mA).map(_.group(1).toLong).toSeq
    assert(idxA == Seq(0L, 4L, 8L), s"appended chunk at stored offset 8: $mA")
    assert(mA.contains("\"numValues\", \"value\": \"20\""), s"8 kept + 12 appended: $mA")

    // a single dropped sample leaves a 2-period seam — NOT > 2 periods,
    // so the stream stays one chunk of 11 actual values
    val df2 = EdfFile.read(spark, Seq(src)).filter(col("sample_idx") =!= 5)
    val outDir2 = Files.createTempDirectory("edffiltered2").toString
    EdfSink.write(df2, outDir2)
    val m2 = new String(Files.readAllBytes(Paths.get(s"$outDir2/channel.json")))
    assert("\\{\"index\": ".r.findAllIn(m2).size == 1, s"one chunk: $m2")
    assert(m2.contains("\"numValues\", \"value\": \"11\""), s"numValues counts actual rows: $m2")
  }

  test("multi-file inputs with shared channel labels never interleave") {
    // same file twice under different paths = same channel labels twice
    val tmp = Files.createTempDirectory("edfmulti")
    val c1 = s"$tmp/night1.edf"; val c2 = s"$tmp/night2.edf"
    Files.copy(Paths.get(EdfDFixtures.sinWaveEdf), Paths.get(c1))
    Files.copy(Paths.get(EdfDFixtures.sinWaveEdf), Paths.get(c2))
    val outDir = Files.createTempDirectory("edfsink2").toString
    val df = EdfFile.read(spark, Seq(c1, c2))
    EdfSink.write(df, outDir)
    val bins = new java.io.File(outDir).listFiles().map(_.getName).filter(_.endsWith(".ts.bin")).sorted
    assert(bins.length == 4, s"2 files x 2 channels, got ${bins.toSeq}")
    assert(bins.forall(n => n.startsWith("night1__") || n.startsWith("night2__")))
    bins.foreach { n => assert(Files.size(Paths.get(s"$outDir/$n")) == 12000L * 8) }
  }

  test("an overwrite write runs three jobs: pack, writer and commit") {
    val tmp = Files.createTempDirectory("edfjobs")
    val src = s"$tmp/s.edf"
    makeEdfC(src, "00.00.00", Seq("C3", "C4"))
    val samples = EdfFile.read(spark, Seq(src))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      EdfSink.write(samples, s"$tmp/out")
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() == 3, s"jobs: ${jobs.get()}")
    Seq("C3", "C4").foreach(ch => assert(Files.size(Paths.get(s"$tmp/out/$ch.ts.bin")) == 12L * 8))
  }

  test("the pack reads a direct EDF scan's column batches and any other input's rows") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("edfroute")
    val src = s"$tmp/watch/r.edf"
    Files.createDirectories(Paths.get(s"$tmp/watch"))
    makeEdfC(src, "00.00.00", Seq("C3", "C4"))
    val packCols = Seq("file", "channel", "sample_idx", "ts_us", "value", "rate", "unit")
    def route(df: DataFrame) = EdfSink.columnarRoute(EdfSink.packProjection(df).queryExecution.executedPlan)

    // a batch read: the columnar child, its vectors mapped to the pack's columns
    val (child, ords) = route(EdfFile.read(spark, Seq(src))).getOrElse(fail("EdfFile.read must take the batch route"))
    assert(child.supportsColumnar)
    assert(ords.map(child.output(_).name).toSeq == packCols)

    // a stream micro-batch: the plan under the sink's write node
    val q = spark.readStream.format("edf").load(s"$tmp/watch")
      .writeStream.format("noop").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$tmp/ckpt").start()
    q.awaitTermination()
    val micro = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.children.head
    assert(micro.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec => s }.isDefined, micro.toString)
    val (microChild, microOrds) = EdfSink.columnarRoute(micro).getOrElse(fail(s"micro-batch plan:\n$micro"))
    assert(microOrds.map(microChild.output(_).name).toSeq == EdfFile.sampleSchema.fieldNames.toSeq)

    // rows built by createDataFrame, and a filtered scan, keep toRdd
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(EdfDFixtures.edfCRows(src, "00.00.00",
      Seq("C3", "C4"))), EdfFile.sampleSchema)
    assert(route(rows).isEmpty, "createDataFrame input packs its rows")
    assert(route(EdfFile.read(spark, Seq(src)).filter(col("sample_idx") < 4)).isEmpty,
      "a filtered scan packs the filter's rows")
  }
}
