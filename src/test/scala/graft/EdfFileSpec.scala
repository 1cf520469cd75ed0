package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.EdfFile

/** A1/A2: EDF reader vs the reference's test params (reference
  * tests/params.py: test.edf = 11 channels x 120000 samples @200 Hz;
  * sin_wave.edf = 2 channels x 12000 @800 Hz) on in-repo stand-ins of its
  * sample files ([[EdfDFixtures.testEdf]], [[EdfDFixtures.sinWaveEdf]]),
  * plus a synthetic EDF+D file exercising the discontiguous-timestamp path.
  */
class EdfFileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  val testEdf = EdfDFixtures.testEdf
  val sinEdf  = EdfDFixtures.sinWaveEdf

  test("header parse matches reference test params (test.edf)") {
    val h = EdfFile.readHeader(testEdf)
    assert(h.reserved == "EDF+C")
    assert(h.nbDataRec == 600)
    assert(h.duration == 1.0)
    assert(h.signals.size == 12)
    val data = h.signals.filterNot(_.isAnnotation)
    assert(data.size == 11)
    assert(data.forall(_.nrSamples == 200)) // 200 Hz at 1s records
  }

  test("channels() yields 11 rows at 200 Hz for test.edf") {
    val ch = EdfFile.channels(spark, Seq(testEdf)).collect()
    assert(ch.length == 11)
    assert(ch.forall(_.getAs[Double]("rate") == 200.0))
    assert(ch.forall(!_.getAs[Boolean]("discontiguous")))
  }

  test("read() parses sin_wave.edf: 2 channels x 12000 samples @800 Hz") {
    val df = EdfFile.read(spark, Seq(sinEdf)).cache()
    val perChannel = df.groupBy(col("channel")).agg(count(lit(1)).as("n")).collect()
    assert(perChannel.length == 2)
    assert(perChannel.forall(_.getAs[Long]("n") == 12000L))
    val rates = df.select(col("rate")).distinct().collect().map(_.getDouble(0))
    assert(rates.toSet == Set(800.0))
    // timestamps strictly increasing per channel with uniform 1250us step
    val steps = df.filter(col("channel_idx") === 0)
      .select(col("sample_idx"), col("ts_us")).orderBy(col("sample_idx")).limit(1000).collect()
    steps.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) - a.getLong(1) == 1250L, "800 Hz => 1250us period")
    }
    df.unpersist()
  }

  test("read() calibrates digital to physical range (test.edf)") {
    val h = EdfFile.readHeader(testEdf)
    val data = h.signals.filterNot(_.isAnnotation)
    val df = EdfFile.read(spark, Seq(testEdf))
    val mm = df.agg(min(col("value")), max(col("value"))).collect()(0)
    val lo = data.map(_.physMin).min
    val hi = data.map(_.physMax).max
    assert(mm.getDouble(0) >= lo - 1e-6 && mm.getDouble(1) <= hi + 1e-6,
      s"values [${mm.getDouble(0)}, ${mm.getDouble(1)}] within physical range [$lo, $hi]")
    assert(df.count() == 11L * 120000L)
  }

  test("record-range splits partition the read without overlap") {
    // force tiny splits: each record is its own split
    val h = EdfFile.readHeader(sinEdf)
    val df = EdfFile.read(spark, Seq(sinEdf), targetSplitBytes = h.recordBytes)
    assert(df.rdd.getNumPartitions == h.nbDataRec, "one split per record, as the DSv2 scan plans")
    assert(df.count() == 2L * 12000L)
    val dup = df.groupBy(col("channel_idx"), col("sample_idx")).count().filter(col("count") > 1).count()
    assert(dup == 0L, "no sample read twice across splits")
  }

  // --- synthetic EDF+D: 1 data signal (4 samples/record) + annotation signal,
  // digital values record*4 + sample ---
  private def makeEdfD(path: String, onsets: Seq[Double],
                       talEntry: Int => Option[(Double, Double, String)] = _ => None): Unit =
    EdfDFixtures.makeEdfD(path, onsets, talEntry = talEntry)

  test("EDF+D: per-record TAL onsets drive discontiguous timestamps") {
    val tmp = java.nio.file.Files.createTempDirectory("edfd").toString
    val path = s"$tmp/disc.edf"
    makeEdfD(path, Seq(0.0, 10.0, 25.0))
    val h = EdfFile.readHeader(path)
    assert(h.isDiscontiguous)
    val rows = EdfFile.read(spark, Seq(path))
      .orderBy(col("sample_idx")).collect()
    assert(rows.length == 12)
    val start = h.startUs
    // record onsets 0s,10s,25s; 4 samples per 1s record => 250000us step
    val expected = Seq(0L, 10000000L, 25000000L).flatMap(o => (0 until 4).map(i => start + o + i * 250000L))
    assert(rows.map(_.getAs[Long]("ts_us")).toSeq == expected)
    // gap between record 0 end and record 1 start is 9.25s, not 0.25s
    assert(rows(4).getAs[Long]("ts_us") - rows(3).getAs[Long]("ts_us") == 9250000L)
  }

  test("hostile headers fail with the file and the field named") {
    val tmp = java.nio.file.Files.createTempDirectory("edfhostile")
    // one data signal: the signal count sits at byte 252, the record
    // duration at 244, signal 0's digital min/max at 376/384 and its
    // samples per record at 472
    def variant(name: String)(patch: Array[Byte] => Array[Byte]): String = {
      val p = s"$tmp/$name.edf"
      EdfDFixtures.makeEdfC(p, "00.00.00", Seq("C3"))
      val path = java.nio.file.Paths.get(p)
      java.nio.file.Files.write(path, patch(java.nio.file.Files.readAllBytes(path)))
      p
    }
    def put(b: Array[Byte], off: Int, width: Int, v: String): Array[Byte] = {
      System.arraycopy(v.padTo(width, ' ').getBytes("US-ASCII"), 0, b, off, width); b
    }
    val cases = Seq(
      variant("short")(_.take(100)) -> "truncated EDF header",
      variant("nsalpha")(put(_, 252, 4, "ab")) -> "'number of signals' is not a number: 'ab'",
      variant("nsneg")(put(_, 252, 4, "-1")) -> "'number of signals' is negative: -1",
      variant("duration")(put(_, 244, 8, "x.5")) -> "'duration of a data record' is not a number: 'x.5'",
      variant("digrange")(b => put(put(b, 376, 8, "7"), 384, 8, "7")) ->
        "'digital minimum' and 'digital maximum' of signal 0 ('C3') are both 7.0",
      variant("nrneg")(put(_, 472, 8, "-4")) -> "'number of samples of signal 0' is negative: -4",
      // 10^8 samples per record in a file of three 4-sample records: a
      // reader would allocate 200 MB per record buffer before reading
      variant("nrhuge")(put(_, 472, 8, "99999999")) ->
        "'number of samples' give 199999998 bytes per data record, more than the file's 24 data bytes")
    cases.foreach { case (p, field) =>
      val e = intercept[IllegalArgumentException](EdfFile.readHeader(p))
      assert(e.getMessage.contains(p) && e.getMessage.contains(field), e.getMessage)
    }
    // the scan's planner surfaces the same error once an action plans it
    val e = intercept[IllegalArgumentException](EdfFile.read(spark, Seq(cases(3)._1)).count())
    assert(e.getMessage.contains(cases(3)._2), e.getMessage)
  }

  test("annotations() extracts TAL onsets") {
    val tmp = java.nio.file.Files.createTempDirectory("edfd2").toString
    val path = s"$tmp/disc2.edf"
    makeEdfD(path, Seq(0.0, 10.0))
    val ann = EdfFile.annotations(spark, Seq(path)).orderBy(col("record_idx")).collect()
    assert(ann.length == 2)
    assert(ann.map(_.getAs[Double]("onset_s")).toSeq == Seq(0.0, 10.0))
  }

  test("annotations() parses TAL durations and texts") {
    val tmp = java.nio.file.Files.createTempDirectory("edfd3").toString
    val path = s"$tmp/disc3.edf"
    makeEdfD(path, Seq(0.0, 10.0), talEntry = r => Some((r * 10 + 0.5, 1.25, s"spike $r")))
    val ann = EdfFile.annotations(spark, Seq(path))
      .orderBy(col("record_idx"), col("onset_s")).collect()
      .map(r => (r.getAs[Long]("record_idx"), r.getAs[Double]("onset_s"),
        Option(r.getAs[java.lang.Double]("duration_s")).map(_.doubleValue), Option(r.getAs[String]("text"))))
    // each record's timekeeping TAL has no duration or text; its extra entry has both
    assert(ann.toSeq == Seq(
      (0L, 0.0, None, None), (0L, 0.5, Some(1.25), Some("spike 0")),
      (1L, 10.0, None, None), (1L, 10.5, Some(1.25), Some("spike 1"))))
  }
}
