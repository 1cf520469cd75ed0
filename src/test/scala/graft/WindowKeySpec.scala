package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TimeSeries

/** Channel-key parameterization probe (SURVEY §2 A-surface, the 100 TB
  * window-parallelism story): the ordered-window ts operators accept a
  * caller-supplied composite channel key — here (file_id, channel), the
  * shape the A1 EDF reader produces — and
  *
  *  1. produce EXACTLY the rows of an equivalent single-column-key run
  *     (concat key), so the composite path needs no separate oracle, and
  *  2. spread the ordered-window work across tasks in proportion to key
  *     cardinality (listener-asserted per-task shuffle-read bounds),
  *     where a constant key provably serializes the same volume through
  *     ONE task — the exact ceiling the parameterization removes.
  *
  * Volume: 128 keys × 1 000 rows = 128 000 rows, ≥100× any key's volume.
  */
class WindowKeySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  /** (event_id, ts, file_id, channel, value) with a planted 3 h gap at
    * each key's midpoint (sampling step 60 s, gap threshold 2 h → every
    * key splits into exactly two chunks).
    */
  private def compositeEvents(nFiles: Int, nCh: Int, perKey: Int): DataFrame = {
    import spark.implicits._
    val rows = for {
      f <- 0 until nFiles; c <- 0 until nCh; i <- 0 until perKey
    } yield {
      val gapOffset = if (i >= perKey / 2) 3L * 3600 else 0L
      (((f * nCh + c).toLong * perKey + i),
        (i * 60L + gapOffset + f * 7L + c * 3L) * 1000000000L,
        s"f$f", s"ch$c",
        10.0 + ((i + f + c) % 9) * 0.5)
    }
    rows.toDF("event_id", "ts", "file_id", "channel", "value")
  }

  /** Canonical row set with the key columns folded to one string — makes
    * composite-key output directly comparable to a concat-key run.
    */
  private def canon(df: DataFrame, keys: Seq[String]): Set[String] = {
    val others = df.columns.filterNot(keys.contains).sorted.toIndexedSeq
    df.select(concat_ws("#", keys.map(col): _*) +: others.map(col): _*)
      .collect().map(_.mkString("|")).toSet
  }

  test("composite (file_id, channel) key matches the single-key run row-for-row") {
    val ev = compositeEvents(4, 4, 200).cache()
    val single = ev.withColumn("ck", concat_ws("#", col("file_id"), col("channel")))
    val comp = Seq("file_id", "channel")
    try {
      val ops: Seq[(String, (DataFrame, Seq[String]) => DataFrame)] = Seq(
        "ts_gap_chunks" -> ((df, k) => TimeSeries.tsGapChunks(df, 2L * 3600 * 1000000, k)),
        "ts_channel_stats" -> ((df, k) => TimeSeries.tsChannelStats(df, k)),
        "ts_spike" -> ((df, k) => TimeSeries.tsSpike(df, 13.0, k)),
        "ts_spike_waveforms" -> ((df, k) => TimeSeries.tsSpikeWaveforms(df, 13.0, k)),
        "ts_session_window" -> ((df, k) => TimeSeries.tsSessionWindow(df, 2L * 3600 * 1000000, k)),
        "ts_moving" -> ((df, k) => TimeSeries.tsMoving(df, 5, k)),
        "ts_interp" -> ((df, k) => TimeSeries.tsInterp(df, 3600L * 1000000, k)),
        "ts_weighted" -> ((df, k) => TimeSeries.tsWeighted(df, 600L * 1000000, k)),
        "lttb" -> ((df, k) => TimeSeries.lttb(df, 8, k)),
        "ts_chunker" -> ((df, k) => TimeSeries.tsChunker(df, 50L, k)))
      ops.foreach { case (name, op) =>
        val got = canon(op(ev, comp), comp)
        val want = canon(op(single, Seq("ck")), Seq("ck"))
        assert(got == want,
          s"$name: composite-key rows == single-key rows " +
            s"(got ${got.size}, want ${want.size}; e.g. ${(want -- got).take(2)})")
        assert(got.nonEmpty, s"$name produced rows")
      }
      // sanity on the planted structure: every key has exactly 2 gap chunks
      val chunks = TimeSeries.tsGapChunks(ev, 2L * 3600 * 1000000, comp)
        .groupBy(col("file_id"), col("channel")).count().collect()
      assert(chunks.length == 16 && chunks.forall(_.getLong(2) == 2L),
        "planted midpoint gap splits every (file, channel) into 2 chunks")
    } finally { ev.unpersist(); () }
  }

  /** Per-task (stageId, shuffle records read) via listener. */
  private def taskReads(action: => Unit): Seq[Long] = {
    val rows = ArrayBuffer.empty[Long]
    val l = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = rows.synchronized {
        val m = te.taskMetrics
        if (m != null) { rows += m.shuffleReadMetrics.recordsRead; () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { action; ListenerBus.drain(spark.sparkContext); rows.synchronized(rows.toSeq) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("composite key lifts the ordered-window parallelism ceiling (per-task bounds)") {
    val nRows = 128L * 1000L
    val ev = compositeEvents(16, 8, 1000).cache()
    ev.count()
    // AQE would coalesce this KB-scale shuffle into ONE partition (its
    // 64 MB advisory target dwarfs the whole stream) and mask exactly the
    // distribution this probe measures; at cluster scale the same shuffle
    // is hundreds of MB per partition and never coalesces to one.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try {
      // constant key = the old hard ceiling: ONE task sorts the full stream
      val ceiling = taskReads {
        TimeSeries.tsMoving(ev.withColumn("one", lit("k")), 5, Seq("one"))
          .write.mode("overwrite").format("noop").save()
      }
      assert(ceiling.max >= nRows,
        s"constant key serializes all $nRows rows through one task (max=${ceiling.max})")
      // composite key: 128 keys over 4 shuffle partitions → every task's
      // window input is bounded far below the stream (hash-uniform ≈ 32k;
      // 60k allows hash imbalance but forbids any near-global task)
      val spread = taskReads {
        TimeSeries.tsMoving(ev, 5, Seq("file_id", "channel"))
          .write.mode("overwrite").format("noop").save()
      }
      assert(spread.max <= 60000L,
        s"composite-key window input spreads across tasks (max=${spread.max}, total=$nRows)")
    } finally { spark.conf.set(coalesceKey, prev); ev.unpersist(); () }
  }
}
