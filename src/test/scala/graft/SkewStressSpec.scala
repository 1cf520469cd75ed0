package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, TextAnalysis}

/** Skew stress: planted pathological corpora (one boilerplate paragraph
  * repeated 10^5 times; one degenerate LSH bucket holding 500 docs) with
  * per-task shuffle-record assertions via a SparkListener — the local
  * stand-in for "no straggler task at 100 TB". Shuffle RECORDS, not task
  * wall time, because record counts are deterministic while local timing
  * is JIT/GC noise.
  */
class SkewStressSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  /** Collects (stageId, shuffle records read, shuffle records written)
    * per finished task.
    */
  private final class TaskShuffleListener extends SparkListener {
    val rows = ArrayBuffer.empty[(Int, Long, Long)]
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      val m = te.taskMetrics
      if (m != null) rows += ((te.stageId,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten))
    }
  }

  /** Run `action` under a fresh listener; return its task rows. */
  private def withTaskMetrics(action: => Unit): Seq[(Int, Long, Long)] = {
    val l = new TaskShuffleListener
    spark.sparkContext.addSparkListener(l)
    try {
      action
      ListenerBus.drain(spark.sparkContext)
      l.synchronized(l.rows.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def docsTable(rows: Seq[(Long, String)]): Tables = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("skewdocs").toString
    rows.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    new Tables(spark, dir)
  }

  test("hot LSH bucket: the bucket cap bounds per-task join output") {
    // 500 byte-identical docs -> identical MinHash signatures -> all 500
    // land in the SAME bucket of EVERY band. Uncapped that is ~125k
    // candidate pairs computed by whichever tasks own those buckets;
    // capped those buckets are dropped before the self-join.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val hot = (0L until 500L).map(i => i -> boiler)
    val unique = (500L until 5500L).map(i =>
      i -> s"document $i carries its own content token$i alpha$i beta gamma delta")
    val t = docsTable(hot ++ unique)

    val uncapped = withTaskMetrics {
      Dedup.dedupMinhash(t, maxBucket = 0).write.mode("overwrite").format("noop").save()
    }
    val cappedPairs = Dedup.dedupMinhash(t, maxBucket = 100)
    val capped = withTaskMetrics {
      cappedPairs.write.mode("overwrite").format("noop").save()
    }

    // the pathology is real: uncapped, SOME task materializes the hot
    // bucket's quadratic pair set (500 choose 2 = 124,750 per band)
    val uncappedMaxWrite = uncapped.map(_._3).max
    assert(uncappedMaxWrite >= 100000L,
      s"uncapped hot-bucket task writes the quadratic pair set: max=$uncappedMaxWrite")
    // capped, NO task sees more than the uniform band repartition load
    // (5500 docs x 8 bands / 4 partitions = 11k records, bounded at 50k)
    val cappedMaxWrite = capped.map(_._3).max
    val cappedMaxRead = capped.map(_._2).max
    assert(cappedMaxWrite <= 50000L,
      s"capped: no task writes a quadratic blowup: max=$cappedMaxWrite")
    assert(cappedMaxRead <= 50000L,
      s"capped: no task reads a quadratic blowup: max=$cappedMaxRead")
    // and the output is the non-degenerate pairs only
    val n = cappedPairs.count()
    assert(n < 5000L, s"hot-bucket pairs dropped from candidates: $n")
  }

  test("hot paragraph: partial aggregation collapses 10^5 repeats before the shuffle") {
    // 10,000 docs x 10 copies of the same boilerplate paragraph = 100k
    // hot instances (+1 unique paragraph per doc). A row_number window
    // on the hash key would stream all 100k through ONE task; the
    // min_by partial aggregate sends one row per map task instead.
    val boiler = "subscribe to our newsletter for updates"
    val docs = (0L until 10000L).map { i =>
      i -> (Seq.fill(10)(boiler) :+ s"unique paragraph of document $i").mkString("\n")
    }
    val t = docsTable(docs)
    val out = TextAnalysis.paragraphDedup(t).cache()

    val metrics = withTaskMetrics {
      out.write.mode("overwrite").format("noop").save()
    }
    val maxRead = metrics.map(_._2).max
    assert(maxRead <= 50000L,
      s"no task reads the 100k hot-paragraph stream (max per-task shuffle read: $maxRead)")

    // correctness under the skew: the boilerplate survives exactly once
    // corpus-wide (doc 0, pos 0), every other doc keeps only its unique
    // paragraph
    val kept = out.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("kept_text")).toMap
    assert(kept(0L).startsWith(boiler), "first occurrence survives in doc 0")
    assert(kept(1L) == "unique paragraph of document 1", s"doc 1 keeps only its own: ${kept(1L)}")
    assert(out.filter(col("kept_text").contains(boiler)).count() == 1L,
      "hot paragraph kept exactly once corpus-wide")
    out.unpersist()
  }

  test("hot winnow fingerprint: maxDocsPerFp bounds per-task pair output") {
    // 400 docs all containing the same long boilerplate run -> every
    // selected fingerprint of that run is shared by all 400 docs. With
    // the cap disabled (huge), whichever tasks own those fingerprint
    // buckets materialize ~C(400,2) pairs PER shared fingerprint; with
    // the cap below the sharer count, the boilerplate fingerprints are
    // anti-joined away before the self-join and no task goes quadratic.
    // filler tokens are multiplicative-hash digits, NOT the raw id: raw
    // ids give docs sharing a decimal suffix a real >= 24-codepoint
    // common run ("07 content ..."), which is exactly the kind of
    // incidental true positive this operator is supposed to find — here
    // it would just blur the capped/uncapped contrast being measured
    val boiler = "this legal disclaimer paragraph is appended verbatim to every single document in the corpus"
    def tok(i: Long, salt: Long): Long = (i * 2654435761L + salt * 40503L) % 999983L
    val hot = (0L until 400L).map(i => i -> s"doc ${tok(i, 1)} body ${tok(i, 2)}. $boiler")
    val unique = (400L until 2400L).map(i =>
      i -> s"document ${tok(i, 3)} original ${tok(i, 4)} content ${tok(i, 5)} end ${tok(i, 6)}")
    val t = docsTable(hot ++ unique)

    val uncapped = withTaskMetrics {
      Dedup.substringDedup(t, maxDocsPerFp = Long.MaxValue)
        .write.mode("overwrite").format("noop").save()
    }
    val capped = withTaskMetrics {
      Dedup.substringDedup(t, maxDocsPerFp = 100L)
        .write.mode("overwrite").format("noop").save()
    }

    // at this corpus size the fingerprint side broadcasts and the pair
    // aggregate's map-side partials spread the C(400,2) distinct pair
    // keys across map tasks — so the pathology shows up in TOTAL shuffle
    // volume (the pair set must cross the wire somewhere), while the
    // per-task maximum stays bounded by partial aggregation in both
    // runs. Assert both: totals prove the cap removes the quadratic
    // volume; the per-task bound proves neither plan funnels it through
    // one straggler.
    val uncappedSumWrite = uncapped.map(_._3).sum
    assert(uncappedSumWrite >= 60000L,
      s"uncapped: the quadratic pair set reaches the shuffle: sum=$uncappedSumWrite")
    // the capped run still pays the corpus-sized fingerprint-count
    // aggregation (~17k records here) — the contrast is the missing
    // pair volume, so bound it relative to the uncapped run
    val cappedSumWrite = capped.map(_._3).sum
    assert(cappedSumWrite * 3 <= uncappedSumWrite,
      s"capped: boilerplate fingerprints dropped before pairing: " +
        s"sum=$cappedSumWrite vs uncapped $uncappedSumWrite")
    assert(capped.map(_._3).max <= 20000L && uncapped.map(_._3).max <= 60000L,
      "no single task funnels the pair volume in either plan")
    // correctness contrast: uncapped emits the full boilerplate clique,
    // capped drops the 400-sharer fingerprints before pairing
    val uncappedCount = Dedup.substringDedup(t, maxDocsPerFp = Long.MaxValue).count()
    val cappedCount = Dedup.substringDedup(t, maxDocsPerFp = 100L).count()
    assert(uncappedCount >= 400L * 399L / 2,
      s"uncapped finds the full boilerplate clique: $uncappedCount")
    // a RESIDUE of boiler pairs legitimately survives: windows straddling
    // the doc-specific prefix select an early-boiler hash only for the
    // subset of docs whose prefix hashes are larger, and a sub-cap-sized
    // subset is kept — real exact matches, just not the full clique
    assert(cappedCount * 10 <= uncappedCount,
      s"capped output is not clique-sized: $cappedCount (uncapped $uncappedCount)")
  }
}
