package graft

import java.sql.Timestamp
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStream
import graft.streaming.EventStream.{Chunk, Event}

/** A13: Structured Streaming — windowed aggregation and stateful gap
  * sessionization driven synchronously through MemoryStream.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("windowedAgg aggregates event-time windows under a watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.windowedAgg(mem.toDF(), watermark = "5 minutes", win = "10 minutes")
      .writeStream.format("memory").queryName("winagg").outputMode("append").start()
    mem.addData(
      Event(1, ts(1), 1, "click", 10.0), Event(2, ts(2), 1, "click", 20.0),
      Event(3, ts(11), 1, "click", 30.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData(Event(4, ts(59), 1, "click", 40.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM winagg ORDER BY bucket_start").collect()
    q.stop()
    assert(rows.length >= 2, "first two windows emitted")
    assert(rows(0).getAs[Long]("n") == 2 && rows(0).getAs[Double]("avg_value") == 15.0)
    assert(rows(1).getAs[Long]("n") == 1 && rows(1).getAs[Double]("avg_value") == 30.0)
  }

  test("spikeDetect finds crossings across microbatch boundaries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.spikeDetect(mem.toDS(), threshold = 100.0)
      .writeStream.format("memory").queryName("spikes").outputMode("append").start()
    mem.addData(Event(1, ts(0), 1, "c", 50.0), Event(2, ts(1), 1, "c", 120.0)) // crossing in-batch
    q.processAllAvailable()
    mem.addData(Event(3, ts(2), 1, "c", 80.0))  // below
    q.processAllAvailable()
    mem.addData(Event(4, ts(3), 1, "c", 150.0)) // crossing ACROSS batches (state)
    q.processAllAvailable()
    val spikes = spark.sql("SELECT * FROM spikes ORDER BY tsUs").collect()
    q.stop()
    assert(spikes.length == 2)
    assert(spikes.map(_.getAs[Double]("value")).toSeq == Seq(120.0, 150.0))
  }

  test("streamingDedup drops duplicates across microbatches via state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.streamingDedup(mem.toDS())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    // batch 1: two distinct docs + an in-batch duplicate (whitespace noise)
    mem.addData(
      EventStream.Doc(3, "Hello  World"), EventStream.Doc(1, "hello world"),
      EventStream.Doc(2, "something else"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate + one fresh doc
    mem.addData(EventStream.Doc(4, " HELLO   world "), EventStream.Doc(5, "brand new"))
    q.processAllAvailable()
    val kept = spark.sql("SELECT docId FROM dedup ORDER BY docId").collect().map(_.getLong(0))
    q.stop()
    assert(kept.toSeq == Seq(1L, 2L, 5L),
      s"lowest-id first-seen survives, later duplicates dropped: ${kept.toSeq}")
  }

  test("streamingDedupWindowed drops dups inside the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingDedupWindowed(mem.toDS(), watermark = "5 minutes")
      .writeStream.format("memory").queryName("wdedup").outputMode("append").start()
    mem.addData(
      EventStream.TimedDoc(1, ts(0), "hello world"),
      EventStream.TimedDoc(2, ts(1), "HELLO  world"))   // dup within horizon
    q.processAllAvailable()
    mem.addData(EventStream.TimedDoc(3, ts(2), "fresh content"))
    q.processAllAvailable()
    val kept = spark.sql("SELECT docId FROM wdedup ORDER BY docId").collect().map(_.getLong(0))
    q.stop()
    assert(kept.length == 2 && kept.contains(3L) && !(kept.contains(1L) && kept.contains(2L)),
      s"one of the dup pair + the fresh doc survive: ${kept.toSeq}")
  }

  test("streamingDecontaminate flags streamed docs against the static benchmark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchSentence = "the capital of france is paris and everyone knows it"
    // static side: the benchmark's distinct 5-gram hashes (batch relation)
    val bench = Seq(benchSentence).toDF("text")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr("graft_shingle_hashes(text, 5)")).as("h"))
      .distinct()
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.streamingDecontaminate(mem.toDS(), bench)
      .writeStream.format("memory").queryName("decon").outputMode("update").start()
    mem.addData(EventStream.Doc(30, s"leaked text says $benchSentence verbatim"))
    q.processAllAvailable()
    mem.addData(EventStream.Doc(31, "a perfectly original document with novel phrasing"))
    // a benchmark member re-arriving on the stream is NOT contamination
    // (same corpus boundary as the batch operator's doc_id filter)
    mem.addData(EventStream.Doc(1, benchSentence))
    q.processAllAvailable()
    val got = spark.sql("SELECT docId, n_shared_grams FROM decon").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    assert(got.contains(30L) && got(30L) >= 6L, s"contaminated arrival flagged: $got")
    assert(!got.contains(31L), "clean arrival never enters state or output")
    assert(!got.contains(1L), "benchmark member re-arrival excluded, like the batch corpus filter")
    // batch parity: the same doc set through the batch operator flags
    // the same docs with the same counts
    val t = {
      val df = Seq(
        (1L, benchSentence),
        (30L, s"leaked text says $benchSentence verbatim"),
        (31L, "a perfectly original document with novel phrasing")).toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      val dir = java.nio.file.Files.createTempDirectory("sdecon").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir)
    }
    val batch = graft.operators.TextAnalysis.decontaminate(t, benchMaxId = 25L, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == got, s"stream == batch: $batch vs $got")
  }

  test("streamingNearDupLsh state is horizon-bounded: rows plateau while input grows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 10-minute horizon, event time advancing 5 min per microbatch: a
    // bucket claimed at T expires at T+10min and its timeout FIRES once
    // the watermark (maxEvent-10min) passes that — i.e. ~4 batches after
    // the claim. Live state is therefore the last ~5 batches' buckets
    // (a constant), while cumulative input grows linearly. This is the
    // O(horizon-buckets) claim measured, not asserted: we snapshot the
    // state store's numRowsTotal from query progress after every batch.
    val horizonMs = 600000L
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingNearDupLsh(mem.toDS(), watermarkMs = horizonMs)
      .writeStream.format("memory").queryName("lshstate").outputMode("append").start()
    val rnd = new scala.util.Random(7)
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def uniqueDoc(id: Long, minute: Int): EventStream.TimedDoc =
      EventStream.TimedDoc(id, new Timestamp(base + minute * 60000L),
        Seq.fill(30)(s"w${rnd.nextInt(1000000)}").mkString(" "))
    val nBatches = 20
    val perBatch = 5
    val stateRows = (0 until nBatches).map { b =>
      mem.addData((0 until perBatch).map(i =>
        uniqueDoc(b.toLong * perBatch + i, b * 5)): _*)
      q.processAllAvailable()
      val p = q.lastProgress
      p.stateOperators.map(_.numRowsTotal).sum
    }
    q.stop()
    // warm-up ends once the first expiries fire (~batch 5); from there the
    // state must be flat: the late-phase ceiling stays within noise of the
    // early plateau while input grew ~3x between the two snapshots
    val earlyPlateau = stateRows.slice(5, 8).max
    val latePhase = stateRows.slice(15, nBatches).max
    assert(latePhase <= earlyPlateau * 13 / 10,
      s"state rows plateau at the horizon bound, not the corpus " +
        s"(early=$earlyPlateau late=$latePhase trace=$stateRows)")
    // sanity on the measurement itself: state is nonzero and far below the
    // all-time bucket-claim count (nBatches*perBatch docs x 8 bands)
    assert(latePhase > 0 && latePhase < nBatches * perBatch * 8 / 2,
      s"state tracks live buckets, not all-time claims (late=$latePhase trace=$stateRows)")
  }

  test("streamingDecontaminate (TimedDoc, watermark-bounded) flags like batch; redelivery dedups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val benchSentence = "the capital of france is paris and everyone knows it"
    val bench = Seq(benchSentence).toDF("text")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr("graft_shingle_hashes(text, 5)")).as("h"))
      .distinct()
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingDecontaminate(mem.toDS(), bench, k = 5,
      benchMaxId = 25L, watermark = "30 minutes")
      .writeStream.format("memory").queryName("wdecon").outputMode("update").start()
    val leaked = s"leaked text says $benchSentence verbatim"
    mem.addData(EventStream.TimedDoc(30, ts(0), leaked))
    q.processAllAvailable()
    mem.addData(EventStream.TimedDoc(31, ts(1), "a perfectly original document with novel phrasing"))
    // benchmark member re-arriving on the stream is NOT contamination
    // (same corpus boundary as the batch operator's doc_id filter)
    mem.addData(EventStream.TimedDoc(1, ts(2), benchSentence))
    q.processAllAvailable()
    def snapshot(): Seq[(Long, Long)] = spark.sql("SELECT docId, n_shared_grams FROM wdecon")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val before = snapshot()
    val got = before.toMap
    assert(got.contains(30L) && got(30L) >= 6L, s"contaminated arrival flagged: $got")
    assert(!got.contains(31L), "clean arrival never enters state or output")
    assert(!got.contains(1L), "benchmark member re-arrival excluded, like the batch corpus filter")
    // an at-least-once redelivery of the SAME contaminated doc within the
    // watermark must be idempotent: dropDuplicatesWithinWatermark drops
    // every (docId, h) pair, the count aggregation state is untouched,
    // and update mode emits NOTHING new — the sink table is unchanged
    mem.addData(EventStream.TimedDoc(30, ts(3), leaked))
    q.processAllAvailable()
    val after = snapshot()
    q.stop()
    assert(after == before,
      s"in-watermark redelivery dedups exactly (before=$before after=$after)")
    // batch parity: the same doc set through the batch operator flags
    // the same docs with the same counts
    val t = {
      val df = Seq(
        (1L, benchSentence),
        (30L, leaked),
        (31L, "a perfectly original document with novel phrasing")).toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      val dir = java.nio.file.Files.createTempDirectory("wdecon").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir)
    }
    val batch = graft.operators.TextAnalysis.decontaminate(t, benchMaxId = 25L, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == after.toMap, s"stream == batch: $batch vs ${after.toMap}")
  }

  test("streamingNearDupLsh flags near-dup arrivals: parity with batch LSH") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog before breakfast " +
      "every single morning in the quiet garden by the old caretaker"
    val texts = Seq(
      1L -> base,
      2L -> base.replace("lazy", "sleepy"),       // near-dup of 1
      3L -> base.replace("garden", "meadow"),     // near-dup of 1 (and 2)
      4L -> "completely different content about watermark bounded state buckets")
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingNearDupLsh(mem.toDS())
      .writeStream.format("memory").queryName("slsh").outputMode("append").start()
    // id-ordered timely stream across TWO microbatches (cross-batch state)
    mem.addData(EventStream.TimedDoc(1, ts(0), texts(0)._2),
      EventStream.TimedDoc(2, ts(1), texts(1)._2))
    q.processAllAvailable()
    mem.addData(EventStream.TimedDoc(3, ts(2), texts(2)._2),
      EventStream.TimedDoc(4, ts(3), texts(3)._2))
    q.processAllAvailable()
    val flags = spark.sql("SELECT docId, firstDocId FROM slsh").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    q.stop()
    val flagged = flags.map(_._1).toSet
    assert(flags.forall(_._2 == 1L), s"every claim traces to the first arrival: ${flags.toSeq}")
    // batch parity: the same corpus through the batch LSH pipeline
    val t = {
      val df = texts.toDF("doc_id", "text")
        .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
        .withColumn("source", org.apache.spark.sql.functions.lit("t"))
        .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
      val dir = java.nio.file.Files.createTempDirectory("slsh").toString
      df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables(spark, dir)
    }
    val batchFlagged = graft.operators.Dedup.dedupMinhash(t)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged == batchFlagged && flagged.nonEmpty,
      s"stream flags the batch pipeline's higher-id pair members: $flagged vs $batchFlagged")
  }

  test("streamingNearDupLsh claims expire past the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(s: String): Timestamp = Timestamp.valueOf(s)
    val base = "the quick brown fox jumps over the lazy dog before breakfast " +
      "every single morning in the quiet garden by the old caretaker"
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingNearDupLsh(mem.toDS(), watermarkMs = 600000L)
      .writeStream.format("memory").queryName("slsh_exp").outputMode("append").start()
    mem.addData(EventStream.TimedDoc(1, at("2024-01-01 00:00:00"), base))
    q.processAllAvailable()
    // unrelated doc two hours on pushes the watermark far past doc 1's claim
    mem.addData(EventStream.TimedDoc(2, at("2024-01-01 02:00:00"),
      "totally unrelated filler that advances the event time watermark"))
    q.processAllAvailable()
    // a near-dup of doc 1 arriving after the horizon must NOT flag — the
    // claim lapsed (bounded-state semantic, same as streamingDedupWindowed)
    mem.addData(EventStream.TimedDoc(3, at("2024-01-01 02:00:01"), base.replace("lazy", "sleepy")))
    q.processAllAvailable()
    val flags = spark.sql("SELECT docId FROM slsh_exp").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(flags.isEmpty, s"no flags: doc 3's partner aged out of the horizon: $flags")
  }

  test("streamingHeavyHitters merges the sketch across microbatches per window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingHeavyHitters(mem.toDS(), capacity = 16,
      windowLen = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("hh").outputMode("append").start()
    // two microbatches inside the SAME window — counts must merge
    mem.addData(EventStream.TimedDoc(1, ts(0), "x x y"), EventStream.TimedDoc(2, ts(1), "x z"))
    q.processAllAvailable()
    mem.addData(EventStream.TimedDoc(3, ts(2), "x y"))
    q.processAllAvailable()
    // an event far past the window closes it (watermark advances)
    mem.addData(EventStream.TimedDoc(4, ts(120), "later stuff"))
    q.processAllAvailable()
    val got = spark.sql("SELECT token, cnt FROM hh ORDER BY cnt DESC, token").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    q.stop()
    assert(got.toSeq.take(3) == Seq(("x", 4L), ("y", 2L), ("z", 1L)),
      s"cross-batch merged counts for the closed window: ${got.toSeq}")
  }

  test("streamingDistinct: sketch merges across microbatches; stream == batch exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStream.TimedDoc]
    val q = EventStream.streamingDistinct(mem.toDS(), p = 12,
      windowLen = "10 minutes", watermark = "0 seconds")
      .writeStream.format("memory").queryName("hll_win").outputMode("append").start()
    val docs = Seq(
      EventStream.TimedDoc(1, ts(0), (0 until 400).map(i => s"tok$i").mkString(" ")),
      EventStream.TimedDoc(2, ts(1), (200 until 600).map(i => s"tok$i").mkString(" ")),
      EventStream.TimedDoc(3, ts(2), (0 until 100).map(i => s"tok$i").mkString(" ")))
    mem.addData(docs(0)); q.processAllAvailable()      // microbatch 1
    mem.addData(docs(1), docs(2)); q.processAllAvailable() // microbatch 2, same window
    mem.addData(EventStream.TimedDoc(4, ts(120), "closer")) // advance watermark
    q.processAllAvailable()
    val got = spark.sql("SELECT n_tokens, est_distinct FROM hll_win ORDER BY window_start LIMIT 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    q.stop()
    assert(got._1 == 900L, s"token volume: $got")
    // batch twin over the same rows: the sketch is a pure function of the
    // value set, so the incremental streaming merge must land on the SAME
    // estimate, not just a close one
    import org.apache.spark.sql.functions.{explode, expr}
    val batchEst = docs.toDF("docId", "tsv", "text")
      .select(explode(expr("split(trim(lower(text)), '\\\\s+')")).as("token"))
      .agg(expr("graft_hll(token, 12)")).collect().head.getLong(0)
    assert(got._2 == batchEst, s"stream ${got._2} != batch $batchEst")
    // true distinct is 600; p=12 keeps the estimate inside 3 sigma
    assert(math.abs(got._2 - 600).toDouble / 600 < 3 * 1.04 / math.sqrt(4096.0),
      s"estimate within bound: ${got._2}")
  }

  test("gapSessionize closes chunks across microbatches via state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.gapSessionize(mem.toDS(), gapUs = 5L * 60 * 1000000)
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    // batch 1: two events 1 min apart (same chunk)
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: event 20 min later -> closes first chunk
    mem.addData(Event(3, ts(21), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: another gap -> closes second chunk
    mem.addData(Event(4, ts(59), 1, "click", 1.0))
    q.processAllAvailable()
    val chunks = spark.sql("SELECT * FROM chunks ORDER BY startUs").as[Chunk].collect()
    q.stop()
    assert(chunks.length == 2)
    assert(chunks(0).nSamples == 2 && chunks(0).startUs == ts(0).getTime * 1000)
    assert(chunks(1).nSamples == 1 && chunks(1).startUs == ts(21).getTime * 1000)
  }

  // contiguous EDF: 3 records x 4 samples @1s records, values
  // record*4 + sample + 100*channel (the EdfSinkSpec generator, trimmed)
  /** Drop the replay-provenance appendTag property a streamed (tagged)
    * append records in merged manifests — the one deliberate byte delta
    * vs an untagged batch append.
    */
  private def stripTag(manifest: String): String =
    manifest.replaceAll(""",\s*\{"key": "appendTag", "value": "[^"]*"\}""", "")

  private def makeEdfC(path: String, startTime: String, labels: Seq[String]): Unit =
    EdfDFixtures.makeEdfC(path, startTime, labels)

  test("A13b: EDF files landing in a watched dir stream-ingest and append-match the batch path") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.{EdfFile, EdfSink}
    val tmp = Files.createTempDirectory("edfstream")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    val ckpt = tmp.resolve("ckpt").toString
    val outStream = tmp.resolve("outs").toString
    val outBatch = tmp.resolve("outb").toString
    val stage1 = s"$tmp/s1.edf"; val stage2 = s"$tmp/s2.edf"
    makeEdfC(stage1, "00.00.00", Seq("C3", "C4"))
    makeEdfC(stage2, "01.00.00", Seq("C3", "C4"))

    // batch oracle: write session 1, then batch-append session 2
    EdfSink.write(EdfFile.read(spark, Seq(stage1)), outBatch)
    EdfSink.write(EdfFile.read(spark, Seq(stage2)), outBatch, mode = "append")

    // in-flight/hidden files must be invisible to discovery
    Files.write(watch.resolve("_inflight.edf"), Array[Byte](1, 2, 3))
    Files.write(watch.resolve("notes.txt"), Array[Byte](4))

    def runOnce(): Unit = {
      val q = spark.readStream.format("edf").load(watch.toString)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (!df.isEmpty) EdfSink.write(df, outStream, mode = "append",
            replayTag = Some(s"stream-batch-$batchId")): Unit
        }
        .start()
      q.awaitTermination()
    }

    Files.copy(Paths.get(stage1), watch.resolve("s1.edf"))
    runOnce()
    assert(Files.exists(Paths.get(s"$outStream/C3.ts.bin")), "first session ingested")
    // session 2 lands mid-stream; the checkpointed offset must make the
    // next run ingest ONLY the new file (re-reading s1 would be refused
    // by the sink's overlap invariant and corrupt numValues)
    Files.copy(Paths.get(stage2), watch.resolve("s2.edf"))
    runOnce()
    // a run with nothing new must be a no-op
    runOnce()

    // streamed appends == batch appends, byte for byte: per-channel
    // manifests (chunks, numValues, generations) and binary streams.
    // The ONE deliberate delta: streamed merges carry the replay-
    // provenance appendTag property (at-least-once safety) — stripped
    // before comparing, and asserted present
    Seq("channel.json", "channel-00001.json").foreach { m =>
      val a = new String(Files.readAllBytes(Paths.get(s"$outStream/$m")))
      val b = new String(Files.readAllBytes(Paths.get(s"$outBatch/$m")))
      assert(a.contains("\"appendTag\""), s"$m: streamed merge records its batch tag")
      assert(stripTag(a) == b, s"$m: streamed vs batch append\n$a\nvs\n$b")
    }
    Seq("C3", "C4").foreach { ch =>
      Seq(s"$ch.ts.bin", s"$ch-g01.ts.bin").foreach { bin =>
        assert(Files.readAllBytes(Paths.get(s"$outStream/$bin")).toSeq ==
          Files.readAllBytes(Paths.get(s"$outBatch/$bin")).toSeq, s"$bin bytes")
      }
    }
  }

  test("EdfPipeline.processStream: live task loop == batch pipeline, byte for byte") {
    // the reference's end-to-end loop closed LIVE through the library
    // API (r14 verdict item 6): landing EDF files stream through
    // ingest -> append sink per micro-batch; output must be
    // byte-identical to EdfPipeline.process + append over the same files
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("edfpipe")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    val outStream = tmp.resolve("outs").toString
    val outBatch = tmp.resolve("outb").toString
    val stage1 = s"$tmp/p1.edf"; val stage2 = s"$tmp/p2.edf"
    makeEdfC(stage1, "00.00.00", Seq("F7", "F8"))
    makeEdfC(stage2, "01.00.00", Seq("F7", "F8"))

    EdfPipeline.process(spark, Seq(stage1), outBatch)
    EdfPipeline.process(spark, Seq(stage2), outBatch, mode = "append")

    Files.copy(Paths.get(stage1), watch.resolve("p1.edf"))
    EdfPipeline.processStream(spark, Seq(watch.toString), outStream,
      tmp.resolve("ckpt").toString, Trigger.AvailableNow()).awaitTermination()
    Files.copy(Paths.get(stage2), watch.resolve("p2.edf"))
    EdfPipeline.processStream(spark, Seq(watch.toString), outStream,
      tmp.resolve("ckpt").toString, Trigger.AvailableNow()).awaitTermination()

    Seq("channel.json", "channel-00001.json").foreach { m =>
      val a = new String(Files.readAllBytes(Paths.get(s"$outStream/$m")))
      val b = new String(Files.readAllBytes(Paths.get(s"$outBatch/$m")))
      // byte-identical modulo the streamed merges' replay-provenance tag
      assert(stripTag(a) == b, s"$m: processStream vs batch process+append")
    }
    Seq("F7", "F8").foreach { ch =>
      Seq(s"$ch.ts.bin", s"$ch-g01.ts.bin").foreach { bin =>
        assert(Files.readAllBytes(Paths.get(s"$outStream/$bin")).toSeq ==
          Files.readAllBytes(Paths.get(s"$outBatch/$bin")).toSeq, s"$bin bytes")
      }
    }
  }

  test("distinct stream lineages never skip each other's batches (tag carries stream identity)") {
    // review r16: a tag of just 'batch-N' collides across checkpoints —
    // a SECOND stream (fresh checkpoint, its own watch dir) appending to
    // the same outDir starts at batchId 0 too, matched channels would
    // carry the first stream's 'batch 0' tag, and its genuinely new
    // data would be silently skipped. The tag now embeds the
    // checkpoint-persisted query id, so lineage B's batch 0 appends.
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("edflineage")
    val dirA = Files.createDirectory(tmp.resolve("watchA"))
    val dirB = Files.createDirectory(tmp.resolve("watchB"))
    val out = tmp.resolve("out").toString
    val s1 = s"$tmp/s1.edf"; val s2 = s"$tmp/s2.edf"
    makeEdfC(s1, "00.00.00", Seq("C3", "C4"))
    makeEdfC(s2, "01.00.00", Seq("C3", "C4"))
    Files.copy(Paths.get(s1), dirA.resolve("s1.edf"))
    EdfPipeline.processStream(spark, Seq(dirA.toString), out,
      tmp.resolve("ckptA").toString, Trigger.AvailableNow()).awaitTermination()
    Files.copy(Paths.get(s2), dirB.resolve("s2.edf"))
    EdfPipeline.processStream(spark, Seq(dirB.toString), out,
      tmp.resolve("ckptB").toString, Trigger.AvailableNow()).awaitTermination()
    val c3 = new String(Files.readAllBytes(Paths.get(s"$out/channel.json")))
    assert(c3.contains("\"numValues\", \"value\": \"24\""),
      s"lineage B's batch 0 appended (not skipped on a colliding tag): $c3")
    assert(Files.exists(Paths.get(s"$out/C3-g01.ts.bin")), "B's generation binary landed")
  }

  test("A13b: streamed EDF+D files get onset sidecars, written in executor tasks") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("edfdstream")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    val path = s"$watch/disc.edf"
    EdfDFixtures.makeEdfD(path, Seq(0.0, 10.0, 25.0))
    // the sidecar write must run as a Spark job (executor tasks), never
    // driver-side record I/O: EdfOnsetIndex.ensure tags its job with a
    // description the listener can attribute (stage names only carry the
    // streaming query's call site)
    val jobDescs = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobDescs.synchronized {
          jobDescs += String.valueOf(
            Option(js.properties).map(_.getProperty("spark.job.description")).orNull)
        }: Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = spark.readStream.format("edf").load(watch.toString)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .format("noop")
        .start()
      q.awaitTermination()
      ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val side = Paths.get(graft.sources.EdfOnsetIndex.sidecarPath(path))
    assert(Files.exists(side), "streamed EDF+D file got its onset sidecar at land time")
    assert(jobDescs.synchronized(jobDescs.exists(_.contains("EdfOnsetIndex.ensure"))),
      s"sidecar written by an executor-side job (EdfOnsetIndex.ensure), " +
        s"jobs seen: ${jobDescs.synchronized(jobDescs.toList)}")
  }

  test("A13b: maxFilesPerTrigger drains a file burst over bounded micro-batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("edfburst")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    (1 to 5).foreach(i => makeEdfC(s"$watch/b$i.edf", s"0$i.00.00", Seq("C3", "C4")))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = spark.readStream.format("edf")
      .option("maxFilesPerTrigger", "2").load(watch.toString)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp.resolve("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect()
        if (rows.nonEmpty) got.synchronized {
          batches.incrementAndGet()
          got ++= rows.map(_.mkString("|"))
        }: Unit
      }
      .start()
    q.awaitTermination()
    assert(batches.get() >= 3, s"5 files at 2 per trigger need >= 3 batches, got ${batches.get()}")
    // the bounded drain covers exactly the burst: row multiset == batch read
    val expected = spark.read.format("edf")
      .load((1 to 5).map(i => s"$watch/b$i.edf"): _*).collect().map(_.mkString("|"))
    assert(got.sorted == expected.toSeq.sorted, "drained rows identical to a batch read")
  }

  test("streamingTransitions pairs across microbatch boundaries, never across users") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.streamingTransitions(mem.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    // batch 1: user 1 view->click in-batch; user 2 a lone view
    mem.addData(Event(1, ts(0), 1, "view", 0.0), Event(2, ts(1), 1, "click", 0.0),
      Event(3, ts(2), 2, "view", 0.0))
    q.processAllAvailable()
    // batch 2: user 1 continues (click->purchase ACROSS the boundary via
    // state); user 2's click pairs with its OWN last view, not user 1's
    mem.addData(Event(4, ts(3), 1, "purchase", 0.0), Event(5, ts(4), 2, "click", 0.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT userId, fromType, toType FROM trans ORDER BY us, userId")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    q.stop()
    assert(got == Seq((1L, "view", "click"), (1L, "click", "purchase"),
      (2L, "view", "click")), s"got $got")
  }

  test("streamingSessions closes on the gap across microbatches, keeps the open session in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200L // 2024-01-01 epoch seconds
    def tsS(s: Int) = new Timestamp((base + s) * 1000L)
    val mem = MemoryStream[Event]
    val q = EventStream.streamingSessions(mem.toDS(), gapUs = 10L * 1000000)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // batch 1: user 1 two close events (one open session); user 2 one
    mem.addData(Event(1, tsS(0), 1, "view", 0.0), Event(2, tsS(5), 1, "click", 0.0),
      Event(3, tsS(0), 2, "view", 0.0))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sess").count() == 0, "nothing closed yet")
    // batch 2: user 1 jumps past the gap -> session 1 closes via STATE;
    // user 2 stays within the gap -> still open
    mem.addData(Event(4, tsS(30), 1, "view", 0.0), Event(5, tsS(8), 2, "click", 0.0))
    q.processAllAvailable()
    val got = spark.sql("SELECT userId, sessionId, startUs, endUs, nEvents, nTypes FROM sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    q.stop()
    assert(got == Seq((1L, 1L, base * 1000000L, (base + 5) * 1000000L, 2L, 2L)), s"got $got")
  }

  test("streamingSessions closed sessions == batch userSessions (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three users, mixed inter-event gaps; 1800s default gap in batch op
    val rows = Seq(
      (1L, 0, 1L, "view"), (2L, 100, 1L, "click"), (3L, 4000, 1L, "view"),
      (4L, 4100, 1L, "purchase"), (5L, 50, 2L, "view"), (6L, 9000, 2L, "view"),
      (7L, 0, 3L, "click"))
    val base = 1704067200L // 2024-01-01 epoch seconds
    def tsS(s: Int) = new Timestamp((base + s) * 1000L)
    val mem = MemoryStream[Event]
    val q = EventStream.streamingSessions(mem.toDS())
      .writeStream.format("memory").queryName("sessp").outputMode("append").start()
    rows.take(4).foreach { case (id, s, u, et) => mem.addData(Event(id, tsS(s), u, et, 0.0)) }
    q.processAllAvailable()
    rows.drop(4).foreach { case (id, s, u, et) => mem.addData(Event(id, tsS(s), u, et, 0.0)) }
    q.processAllAvailable()
    // flush: one far-future sentinel per user closes every real session
    Seq(1L, 2L, 3L).zipWithIndex.foreach { case (u, i) =>
      mem.addData(Event(900 + i, tsS(1000000), u, "flush", 0.0))
    }
    q.processAllAvailable()
    val streamed = spark.sql(
      "SELECT userId, sessionId, startUs, endUs, nEvents, nTypes FROM sessp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    q.stop()
    val dir = java.nio.file.Files.createTempDirectory("sessev").toString
    rows.map { case (id, s, u, et) => (id, (base + s) * 1000000000L, u, et, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.userSessions(Tables(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streamingLatestState: late arrivals count but never displace; last upsert == batch latestState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200L // 2024-01-01 epoch seconds
    def tsS(s: Int) = new Timestamp((base + s) * 1000L)
    def usOf(s: Int) = (base + s) * 1000000L
    val mem = MemoryStream[Event]
    val q = EventStream.streamingLatestState(mem.toDS())
      .writeStream.format("memory").queryName("lst").outputMode("append").start()
    // batch 1: user 1 "s" at t=100s (v=5); user 2 "s" at t=10s (v=1)
    mem.addData(Event(1, tsS(100), 1, "s", 5.0), Event(2, tsS(10), 2, "s", 1.0))
    q.processAllAvailable()
    // batch 2: user 1 gets a LATE event (t=50 < state's t=100) AND a newer
    // one (t=200): the late row may only bump n_versions, the newer row wins
    mem.addData(Event(3, tsS(50), 1, "s", 9.0), Event(4, tsS(200), 1, "s", 7.0))
    q.processAllAvailable()
    val ups = spark.sql("SELECT userId, eventType, tsUs, eventId, value, nVersions FROM lst")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    q.stop()
    // one upsert per touched key per microbatch
    assert(ups.toSet == Set(
      (1L, "s", usOf(100), 1L, 5.0, 1L),
      (2L, "s", usOf(10), 2L, 1.0, 1L),
      (1L, "s", usOf(200), 4L, 7.0, 3L)), s"got $ups")
    // the final upsert per key equals batch latestState over ALL events
    val dir = java.nio.file.Files.createTempDirectory("lstev").toString
    Seq((1L, 100, 1L, 5.0), (2L, 10, 2L, 1.0), (3L, 50, 1L, 9.0), (4L, 200, 1L, 7.0))
      .map { case (id, s, u, v) => (id, (base + s) * 1000000000L, u, "s", v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.latestState(Tables(spark, dir))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSet
    val lastPerKey = ups.groupBy(u => (u._1, u._2)).map(_._2.maxBy(_._6)).toSet
    assert(lastPerKey == batch, s"stream $lastPerKey vs batch $batch")
  }

  test("streamingTransitions aggregated == batch eventTransitions (stream-batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 0, 1L, "view"), (2L, 10, 1L, "click"), (3L, 20, 1L, "view"),
      (4L, 30, 2L, "view"), (5L, 40, 2L, "click"), (6L, 50, 3L, "purchase"))
    val mem = MemoryStream[Event]
    val q = EventStream.streamingTransitions(mem.toDS())
      .writeStream.format("memory").queryName("transp").outputMode("append").start()
    // feed in two arbitrary microbatches
    rows.take(3).foreach { case (id, s, u, et) => mem.addData(Event(id, ts(s), u, et, 0.0)) }
    q.processAllAvailable()
    rows.drop(3).foreach { case (id, s, u, et) => mem.addData(Event(id, ts(s), u, et, 0.0)) }
    q.processAllAvailable()
    val streamed = spark.sql(
      """SELECT fromType, toType, count(*) AS n, count(DISTINCT userId) AS n_users
         FROM transp GROUP BY 1, 2""")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    q.stop()
    // batch twin over the same rows
    val dir = java.nio.file.Files.createTempDirectory("transev").toString
    rows.map { case (id, s, u, et) => (id, s.toLong * 1000000000L, u, et, 0.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.eventTransitions(Tables(spark, dir))
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streamingPhashDedup: band claim + exact hamming verify; horizon expiry unflags old media") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tmh(id: Long, minute: Int, ph: Long) =
      EventStream.TimedMediaHash(id, ts(minute), ph)
    val mem = MemoryStream[EventStream.TimedMediaHash]
    val q = EventStream.streamingPhashDedup(mem.toDS(), maxHamming = 6, watermarkMs = 600000L)
      .writeStream.format("memory").queryName("phflags").outputMode("append").start()
    // base claims its four band buckets
    mem.addData(tmh(1, 0, 0L))
    q.processAllAvailable()
    // 2: hamming-2 dup of base (shares bands 1-3) -> flagged vs 1.
    // 3: 2-bits-per-band spread -> shares NO band with base (miss), but its
    //    band-0 value (3) was just claimed by 2 in this same batch and
    //    hamming(3, spread)=6 -> flagged vs 2 (within-batch id order).
    // 4: 8 flips in band 0 -> shares bands 1-3 with BASE's claim, hamming
    //    8 > 6 -> the exact verify refuses the candidate, no flag.
    mem.addData(tmh(2, 1, 3L), tmh(3, 1, 0x0003000300030003L), tmh(4, 1, 255L))
    q.processAllAvailable()
    val mid = spark.sql("SELECT DISTINCT mediaId, firstId, hamming FROM phflags").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mid == Set((2L, 1L, 2), (3L, 2L, 6)),
      s"verify-refused and band-missed arrivals never flag: $mid")
    // push the watermark past the old claims (unrelated buckets), then a
    // near-exact re-encode of base arrives OUTSIDE the horizon: its
    // buckets expired, so it claims fresh instead of flagging...
    mem.addData(tmh(8, 40, 0x00ff00ff00ff00ffL))
    q.processAllAvailable()
    mem.addData(tmh(9, 41, 1L))
    q.processAllAvailable()
    // ...and the NEXT near-dup inside the new horizon flags against it
    mem.addData(tmh(10, 42, 1L))
    q.processAllAvailable()
    q.stop()
    val all = spark.sql("SELECT DISTINCT mediaId, firstId FROM phflags").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((2L, 1L), (3L, 2L), (10L, 9L)),
      s"old-horizon claims expire (9 claims fresh, never flags vs 1): $all")
  }

  test("streamingOutlier: expanding z-score across microbatches; warmup never flags") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.streamingOutlier(mem.toDS(), zCut = 3.0, minPrior = 30L)
      .writeStream.format("memory").queryName("soutlier").outputMode("append").start()
    // batch 1: 40 alternating normal samples on channel c; channel d gets
    // an extreme value while still INSIDE its warmup — it must stay silent
    val warm = (0 until 40).map { i =>
      Event(i.toLong, ts(i), 1, "c", if (i % 2 == 0) 10.0 else 12.0)
    }
    val under = (0 until 10).map { i =>
      Event(200L + i, ts(i), 1, "d", if (i == 5) 500.0 else 10.0)
    }
    mem.addData(warm ++ under: _*)
    q.processAllAvailable()
    // batch 2: one planted anomaly + one normal sample — the moments from
    // batch 1 must carry across the boundary for this flag to fire
    mem.addData(Event(100L, ts(41), 1, "c", 100.0), Event(101L, ts(42), 1, "c", 11.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM soutlier ORDER BY tsUs").collect()
    q.stop()
    // the test's own reference: moments of the 40 warm samples (cents)
    val cents = warm.map(e => math.floor(e.value * 100.0 + 0.5).toLong)
    val (n, sm, qm) = (cents.length.toLong, cents.sum, cents.map(c => c * c).sum)
    val mu = sm.toDouble / n / 100.0
    val variance = (qm.toDouble - sm.toDouble * sm.toDouble / n) / (n - 1) / 10000.0
    val zExp = math.floor((100.0 - mu) / math.sqrt(variance) * 1000.0 + 0.5) / 1000.0
    assert(rows.map(_.getAs[Long]("eventId")).toSeq == Seq(100L),
      s"exactly the planted anomaly flags (warmup extreme suppressed): ${rows.toSeq}")
    assert(rows.head.getAs[Double]("z") == zExp, s"z from the exact prior moments: $zExp")
  }

  test("streamingOutlier: scoring starts at EXACTLY minPrior prior samples") {
    // the r14 ADVICE off-by-one: `st.n > minPrior` silently required
    // minPrior+1 warm samples. Contract: the first minPrior samples warm
    // the state; sample minPrior+1 (with exactly minPrior priors) scores.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.streamingOutlier(mem.toDS(), zCut = 3.0, minPrior = 5L)
      .writeStream.format("memory").queryName("soutlier_edge").outputMode("append").start()
    // channel e: 5 alternating warm samples, then an extreme — 5 priors
    // == minPrior, MUST flag. channel f: 4 warm then extreme — silent.
    val e5 = (0 until 5).map(i => Event(i.toLong, ts(i), 1, "e", if (i % 2 == 0) 10.0 else 12.0))
    val f4 = (0 until 4).map(i => Event(50L + i, ts(i), 1, "f", if (i % 2 == 0) 10.0 else 12.0))
    mem.addData(e5 ++ f4: _*)
    q.processAllAvailable()
    mem.addData(Event(9L, ts(9), 1, "e", 500.0), Event(59L, ts(9), 1, "f", 500.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM soutlier_edge").collect()
    q.stop()
    assert(rows.map(_.getAs[Long]("eventId")).toSeq == Seq(9L),
      s"exactly-minPrior-priors sample scores; minPrior-1 stays warm: ${rows.toSeq}")
  }

  test("streamingAnnotate: stream-stream interval join matches across microbatches, respects tolerance and channel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sm = MemoryStream[Event]
    val am = MemoryStream[EventStream.Anno]
    val q = EventStream.streamingAnnotate(sm.toDS(), am.toDS(),
      watermark = "10 minutes", tolUs = 120L * 1000000)
      .writeStream.format("memory").queryName("sannot").outputMode("append").start()
    // the sample arrives FIRST, its annotation a microbatch later: the
    // buffered left side must still match (this is what the two-sided
    // state exists for)
    sm.addData(Event(1, ts(10), 1, "c", 5.0))
    q.processAllAvailable()
    am.addData(EventStream.Anno("c", ts(9), "seizure")) // 60s before: inside tol
    q.processAllAvailable()
    // outside tolerance (180s), and a same-instant annotation on the
    // WRONG channel: neither joins
    sm.addData(Event(2, ts(30), 1, "c", 6.0))
    am.addData(EventStream.Anno("c", ts(27), "spike"),
      EventStream.Anno("d", ts(30), "wrongtype"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sannot ORDER BY ts_us").collect()
    q.stop()
    assert(rows.length == 1, s"exactly the in-tolerance same-channel pair: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("eventId") == 1L &&
      rows.head.getAs[String]("label") == "seizure", s"${rows.head}")
  }

  test("streamingBalance: clamp state carries across microbatches; replay equals the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.streamingBalance(mem.toDS())
      .writeStream.format("memory").queryName("sbal").outputMode("append").start()
    val b1 = Seq(Event(0, ts(1), 1, "purchase", 10.0), Event(1, ts(2), 1, "click", 3.0),
      Event(9, ts(3), 1, "view", 99.0)) // untracked type: never emitted
    val b2 = Seq(Event(2, ts(4), 1, "error", 20.0), // raw -1300 -> clamp, ACROSS the batch boundary
      Event(3, ts(5), 1, "signup", 5.0))
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    val rows = spark.sql("SELECT * FROM sbal ORDER BY tsUs").collect()
      .map(r => (r.getAs[Long]("eventId"), r.getAs[Long]("balanceCents"), r.getAs[Boolean]("clamped")))
    q.stop()
    assert(rows.toSeq == Seq((0L, 1000L, false), (1L, 700L, false),
      (2L, 0L, true), (3L, 500L, false)), s"${rows.toSeq}")
    // row-for-row parity with the batch operator over the same events
    import org.apache.spark.sql.functions._
    val df = (b1 ++ b2).toDF()
      .select(col("eventId").as("event_id"),
        expr("unix_micros(ts) * 1000").as("ts"),
        col("userId").as("user_id"), col("eventType").as("event_type"), col("value"))
      .withColumn("props", lit("{}"))
    val dir = java.nio.file.Files.createTempDirectory("sbal").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.EventAnalytics.runningBalance(Tables(spark, dir)).collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getBoolean(5))).sortBy(_._1)
    assert(batch.toSeq == rows.sortBy(_._1).toSeq, s"stream==batch: ${batch.toSeq}")
  }
}
