package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline composition (the reference processor's task). */
class EdfPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("process() reproduces the reference output contract on test.edf") {
    val out = Files.createTempDirectory("edfpipe").toString
    val manifest = EdfPipeline.process(spark, Seq(EdfDFixtures.testEdf), out)
    assert(Files.exists(Paths.get(manifest)))
    val json = new String(Files.readAllBytes(Paths.get(manifest)))
    // reference tests/params.py: 11 channels @200 Hz
    assert("\"name\"".r.findAllIn(json).size == 11)
    assert(json.contains("\"rate\": 200.0"))
    assert(json.contains("\"type\": \"CONTINUOUS\""))
    val bins = new java.io.File(out).listFiles().count(_.getName.endsWith(".ts.bin"))
    assert(bins == 11)
  }

  test("process() writes the EDF+D onset sidecar at land time; re-reads prune") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("edfpiped")
    val path = s"$tmp/disc.edf"
    EdfDFixtures.makeEdfD(path, Seq(0.0, 10.0, 25.0))
    val out = Files.createTempDirectory("edfpipedout").toString
    EdfPipeline.process(spark, Seq(path), out)
    val side = Paths.get(graft.sources.EdfOnsetIndex.sidecarPath(path))
    assert(Files.exists(side), "sidecar materialized as part of processing")

    // a later time-bounded read prunes whole splits at PLANNING time
    val h = graft.sources.EdfFile.readHeader(path)
    val lo = h.startUs + 9000000L; val hi = h.startUs + 12000000L
    val sliced = spark.read.format("edf")
      .option("targetSplitBytes", h.recordBytes.toString).load(path)
      .filter(col("ts_us") >= lo && col("ts_us") < hi)
    assert(sliced.rdd.getNumPartitions == 1,
      "2 of 3 per-record splits dropped at plan time via the landed sidecar")
    assert(sliced.count() == 4, "middle record only, row-exact")
  }

  test("process() runs the sidecar indexing job for EDF+D input only") {
    val tmp = Files.createTempDirectory("edfpipeidx")
    EdfDFixtures.makeEdfC(s"$tmp/c.edf", "00.00.00", Seq("C3", "C4"))
    EdfDFixtures.makeEdfD(s"$tmp/d.edf", Seq(0.0, 10.0, 25.0))
    def indexingJobs(file: String): Seq[String] = {
      val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          descs.add(String.valueOf(Option(js.properties)
            .map(_.getProperty("spark.job.description")).orNull)): Unit
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        EdfPipeline.process(spark, Seq(file), Files.createTempDirectory("edfpipeidxout").toString)
        ListenerBus.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(!descs.isEmpty, "the listener saw the pipeline's jobs")
      descs.toArray(Array.empty[String]).toSeq.filter(_.startsWith("EdfOnsetIndex.ensure"))
    }
    assert(indexingJobs(s"$tmp/c.edf").isEmpty, "EDF+C input has no onsets to index")
    assert(indexingJobs(s"$tmp/d.edf").size == 1, "EDF+D input is indexed in one job")
    assert(indexingJobs(s"$tmp/d.edf").isEmpty, "a fresh sidecar is checked on the driver: no job")
  }

  test("process() + append equal the sink over closed-form rows") {
    // the DSv2 reader feeding the sink's pack must be invisible in the
    // output: every binary, manifest and channels.json byte equals
    // EdfSink.write over the fixtures' closed-form rows (data no decoder
    // produced), across an overwrite then a gap-carrying append with
    // mixed rates. sig2 spans several pack blocks, and its 12-sample
    // record runs do not divide PackBlock, so blocks fill and are
    // emitted mid-run.
    val tmp = Files.createTempDirectory("edfpipeparity")
    val c = s"$tmp/c.edf"; val d = s"$tmp/d.edf"
    val (labels, nr) = (Seq("sig1", "sig2"), Seq(4, 12))
    EdfDFixtures.makeEdfC(c, "00.00.00", labels, nRecords = 1200, samplesPerRecord = nr)
    // 600 records after the EDF+C end, with a 1 h gap after the 300th
    val onsets = (0 until 600).map(i => 1300.0 + i + (if (i >= 300) 3600 else 0))
    EdfDFixtures.makeEdfD(d, onsets, labels, samplesPerRecord = nr)
    val viaPipeline = s"$tmp/pipeline"; val viaRows = s"$tmp/rows"
    EdfPipeline.process(spark, Seq(c), viaPipeline)
    EdfPipeline.process(spark, Seq(d), viaPipeline, mode = "append")
    def closedForm(rows: Seq[org.apache.spark.sql.Row]) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, graft.sources.EdfFile.sampleSchema)
    }
    graft.sources.EdfSink.write(
      closedForm(EdfDFixtures.edfCRows(c, "00.00.00", labels, nRecords = 1200, samplesPerRecord = nr)), viaRows)
    graft.sources.EdfSink.write(
      closedForm(EdfDFixtures.edfDRows(d, onsets, labels, samplesPerRecord = nr)), viaRows, mode = "append")

    def files(dir: String): Map[String, Array[Byte]] = {
      val root = Paths.get(dir)
      val it = Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => root.relativize(f).toString -> Files.readAllBytes(f)).toMap
      } finally it.close()
    }
    val (got, want) = (files(viaPipeline), files(viaRows))
    assert(got.keySet == want.keySet)
    Seq("channels.json", "channel.json", "channel-00001.json", "sig1.ts.bin",
        "sig1-g01.ts.bin", "sig2-g01.ts.bin").foreach { f =>
      assert(want.contains(f), s"$f written: ${want.keySet.toSeq.sorted}")
    }
    want.keys.toSeq.sorted.foreach(f => assert(java.util.Arrays.equals(got(f), want(f)), s"$f bytes"))
    assert(want("sig2.ts.bin").length == 1200 * 12 * 8, "every sig2 sample written")
    assert(want("sig2-g01.ts.bin").length == 600 * 12 * 8, "every appended sig2 sample")
    val first = new String(want("channel.json"))
    assert("\"index\"".r.findAllIn(first).size == 3, s"one chunk per contiguous run: $first")
  }
}
