package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import graft.sources.EdfFile.EdfHeader

/** Plan-time pruning sidecar for EDF+D files (A1 scale path).
  *
  * EDF+D record onsets live inside each record's own TAL prefix
  * (reference edf.py record-offset parsing), so time-bound pushdown can
  * only prune record READS — the DSv2 reader seek-reads the TAL slice
  * first and skips out-of-range records, but every planned partition
  * still opens the file. This sidecar materializes the onsets once into
  * a small file next to the EDF (`<file>.edf.onsets.json`, 8 bytes per
  * record vs the record's KBs of samples), letting the scan's split
  * planner drop whole EDF+D splits at PLANNING time — the discontiguous
  * counterpart of the contiguous-file window arithmetic in
  * [[graft.sources.v2.EdfPushdown.recordWindow]].
  *
  * One format (the name keeps its historical `.json` suffix): an 8-byte
  * magic, the int64 record count, then one int64 onset (µs) per record,
  * all big-endian. Fixed-width records are the point — planning
  * BINARY-SEARCHES the query window with O(log n) positioned 8-byte
  * reads instead of parsing the whole sidecar: a 100 GB EDF+D's
  * ~10⁷-record index costs ~25 probes per plan, not a ~100 MB driver
  * read (the r10 probe measured 4.7 MB of plan-time sidecar bytes at
  * just 0.5 GB of EDF+D).
  *
  * Staleness safety: a sidecar counts only when its 16-byte head holds
  * the magic and the header's `nbDataRec`, and its length covers that
  * many onsets. Anything else — a rewritten EDF, an orphaned or
  * truncated sidecar, an older JSON sidecar — reads as absent: planning
  * falls back to the conservative full plan, and [[ensure]] rewrites it.
  * Pruning remains conservative with the sidecar too — a boundary
  * record is kept and Spark's residual filter trims its rows.
  */
object EdfOnsetIndex {

  def sidecarPath(edfPath: String): String = edfPath + ".onsets.json"

  private val MAGIC: Array[Byte] = "GFONIDX1".getBytes(StandardCharsets.US_ASCII)

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when a sidecar's first 16 bytes and its length describe the
    * records of `h`.
    */
  private def headMatches(head: Array[Byte], fileLen: Long, h: EdfHeader): Boolean = {
    val n = java.nio.ByteBuffer.wrap(head, 8, 8).getLong
    java.util.Arrays.equals(java.util.Arrays.copyOf(head, 8), MAGIC) &&
      n == h.nbDataRec.toLong && fileLen >= 16L + 8L * n
  }

  /** Scan every record's TAL onset (annotation-slice seek-reads only —
    * sample bytes are never transferred: len(TAL) of the record's KBs)
    * and write the sidecar. One sequential pass, run once per file at
    * land time; at fleet scale run it per-file in tasks (it needs only
    * the Hadoop conf, no Spark session). A malformed onset fails naming
    * the file and the record.
    */
  def write(path: String, conf: Configuration = new Configuration()): String =
    write(path, EdfFile.readHeader(path, conf), conf)

  private def write(path: String, h: EdfHeader, conf: Configuration): String = {
    require(h.isDiscontiguous, s"$path is contiguous — record onsets are header arithmetic, no sidecar needed")
    val annIdx = h.annotationIndex
    require(annIdx >= 0, s"$path has no annotation signal to carry TAL onsets")
    val annOff = h.signalOffsets(annIdx)
    val len = h.signals(annIdx).nrSamples * 2
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // sub-chunk positioned reads: without openSeekable the checksum
    // layer + 4 KiB buffer would transfer ~the whole file for KB-scale
    // records (measured by a since-deleted probe; tools/edf_scale_r1*.json)
    val in = EdfFile.openSeekable(fs, p, len)
    val onsets = try {
      val buf = new Array[Byte](len)
      (0 until h.nbDataRec).map { rec =>
        in.readFully(h.headerBytes + rec.toLong * h.recordBytes + annOff, buf)
        h.talOnsetUs(buf, 0, path, rec)
      }
    } finally in.close()
    // the binary-search read path requires the monotonicity EDF+D
    // mandates of record onsets — enforce it at index time, loudly
    onsets.iterator.sliding(2).withPartial(false).foreach { w =>
      require(w(0) <= w(1), s"$path: record onsets not monotonic (${w(0)} > ${w(1)})")
    }
    val out = new Path(sidecarPath(path))
    val os = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(out, true), 1 << 16))
    try {
      os.write(MAGIC)
      os.writeLong(h.nbDataRec.toLong)
      onsets.foreach(os.writeLong)
    } finally os.close()
    out.toString
  }

  /** Cross-invocation memo of keptRange answers, keyed by (path, sidecar
    * mtime, sidecar length, window): planning the same (file, window)
    * repeatedly — re-plans of one query, AQE re-optimizations, several
    * queries over the same slice — pays the sidecar search ONCE. A
    * rewritten sidecar changes mtime/length, so staleness invalidates by
    * key. Bounded LRU (driver-side, a few thousand small entries max).
    */
  private val rangeMemo =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long, Long, Long, Long, Long), Option[(Int, Int)]](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long, Long, Long, Long, Long), Option[(Int, Int)]]): Boolean =
          size() > 4096
      })

  /** The record range `[lo, hi)` a `[tsLo, tsHi]` window keeps — a
    * record survives when `[onset, onset + spanUs)` intersects the
    * window (onsets are monotonic, so the kept set is one run). The
    * sidecar answers with O(log n) probes over PAGE-granular positioned
    * reads (2 KiB pages, cached for the call — the two boundary searches
    * share pages, and each filesystem read transfers one page instead of
    * paying the KiB-scale floor per 8-byte value); answers memoize
    * across plan invocations per (path, mtime, window). None =
    * no/stale/unreadable sidecar — callers plan unpruned.
    */
  def keptRange(path: String, h: EdfHeader, tsLo: Long, tsHi: Long, spanUs: Long,
                conf: Configuration = new Configuration()): Option[(Int, Int)] = {
    val p = new Path(sidecarPath(path))
    try {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val st = fs.getFileStatus(p)
      val fileLen = st.getLen
      if (fileLen < 16) return None
      // nbDataRec is in the key: an EDF rewritten under an untouched
      // sidecar must miss the memo and re-hit the staleness check below
      val memoKey = (p.toString, st.getModificationTime, fileLen,
        h.nbDataRec.toLong, tsLo, tsHi, spanUs)
      val hit = rangeMemo.get(memoKey)
      if (hit != null) return hit
      // 2 KiB pages = 256 onsets: the boundary searches' first ~9 probes
      // land on distinct pages, the rest converge within shared ones —
      // ~22 pages ≈ 45 KB cold. Reads go through the RAW filesystem in
      // exact page units with page checksums verified against the .crc
      // file HERE (16 crc bytes per page): the checksum LAYER's
      // positioned reads cost 8-10 KB each regardless of
      // io.file.buffer.size (measured by a since-deleted probe), which
      // made the search 160 KB instead of 45; integrity is kept, the
      // floor is not.
      val PageBytes = 2048
      val in = PageReader.open(fs, p, PageBytes)
      try {
        // onsets sit at 16 + 8i — 8-aligned, and pages are a multiple of
        // 8, so a value never straddles a page boundary
        val pages = scala.collection.mutable.Map.empty[Int, Array[Byte]]
        def page(pg: Int): Array[Byte] = pages.getOrElseUpdate(pg, {
          val off = pg.toLong * PageBytes
          val len = math.min(PageBytes.toLong, fileLen - off).toInt
          in.readPage(off, len)
        })
        def at(off: Long): Long = {
          val pg = (off / PageBytes).toInt
          java.nio.ByteBuffer.wrap(page(pg), (off - pg.toLong * PageBytes).toInt, 8).getLong
        }
        if (!headMatches(page(0), fileLen, h)) return None
        def onset(i: Int): Long = at(16L + 8L * i)
        val nRec = h.nbDataRec
        val lo =
          if (tsLo == Long.MinValue) 0
          else {
            var a = 0; var b = nRec
            while (a < b) {
              val m = (a + b) >>> 1
              if (onset(m) + spanUs > tsLo) b = m else a = m + 1
            }
            a
          }
        val hi =
          if (tsHi == Long.MaxValue) nRec
          else {
            var a = lo; var b = nRec
            while (a < b) {
              val m = (a + b) >>> 1
              if (onset(m) <= tsHi) a = m + 1 else b = m
            }
            a
          }
        val ans = Some((lo, hi))
        rangeMemo.put(memoKey, ans)
        ans
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Exact-size positioned page reads with checksum integrity but
    * without the checksum LAYER's per-read floor: on a
    * ChecksumFileSystem whose .crc sidecar exists, pages read through
    * the RAW filesystem and verify against the .crc file's CRC32 chunk
    * sums directly (the .crc layout is public Hadoop: 4-byte magic
    * 'crc\0' + int32 bytesPerChecksum + one 4-byte CRC32 per chunk).
    * A checksum mismatch throws — keptRange's catch falls back to
    * unpruned planning, exactly as the layered read would have. Any
    * layout surprise (different magic, chunk size not dividing the
    * page) falls back to the plain layered stream.
    */
  private final class PageReader(dataIn: org.apache.hadoop.fs.FSDataInputStream,
                                 sumIn: org.apache.hadoop.fs.FSDataInputStream,
                                 bytesPerSum: Int) {
    def readPage(off: Long, len: Int): Array[Byte] = {
      val b = new Array[Byte](len)
      dataIn.readFully(off, b)
      if (sumIn != null && off % bytesPerSum == 0) {
        val firstChunk = off / bytesPerSum
        val nChunks = (len + bytesPerSum - 1) / bytesPerSum
        val sums = new Array[Byte](4 * nChunks)
        sumIn.readFully(8L + 4L * firstChunk, sums)
        val crc = new java.util.zip.CRC32()
        var i = 0
        while (i < nChunks) {
          crc.reset()
          crc.update(b, i * bytesPerSum, math.min(bytesPerSum, len - i * bytesPerSum))
          val stored = java.nio.ByteBuffer.wrap(sums, 4 * i, 4).getInt
          if (stored != crc.getValue.toInt)
            throw new java.io.IOException(
              s"sidecar checksum mismatch at chunk ${firstChunk + i}")
          i += 1
        }
      }
      b
    }
    def close(): Unit = { dataIn.close(); if (sumIn != null) sumIn.close() }
  }

  private object PageReader {
    def open(fs: org.apache.hadoop.fs.FileSystem, p: Path, pageBytes: Int): PageReader =
      fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem =>
          val raw = c.getRawFileSystem
          val crcPath = c.getChecksumFile(p)
          if (!raw.exists(crcPath)) return new PageReader(raw.open(p, pageBytes), null, 1)
          val sumIn = raw.open(crcPath, 1024)
          val hdr = new Array[Byte](8)
          try sumIn.readFully(0, hdr)
          catch { case e: Exception => sumIn.close(); throw e }
          val magicOk = hdr(0) == 'c' && hdr(1) == 'r' && hdr(2) == 'c' && hdr(3) == 0
          val bps = java.nio.ByteBuffer.wrap(hdr, 4, 4).getInt
          if (magicOk && bps > 0 && pageBytes % bps == 0)
            new PageReader(raw.open(p, pageBytes), sumIn, bps)
          else { // unknown layout: keep the layered stream's verification
            sumIn.close()
            new PageReader(fs.open(p, pageBytes), null, 1)
          }
        case other => new PageReader(other.open(p, pageBytes), null, 1)
      }
  }

  /** True when `path` (header `h`) has no readable sidecar whose head
    * matches the header: one stat and one 16-byte read.
    */
  private def needed(path: String, h: EdfHeader, conf: Configuration): Boolean =
    try {
      val p = new Path(sidecarPath(path))
      val fs = p.getFileSystem(conf)
      val fileLen = if (fs.exists(p)) fs.getFileStatus(p).getLen else 0L
      fileLen < 16 || {
        val head = new Array[Byte](16)
        val in = fs.open(p)
        try in.readFully(0, head) finally in.close()
        !headMatches(head, fileLen, h)
      }
    } catch { case _: java.io.IOException => true } // e.g. a checksum mismatch

  /** Land-time indexing for a batch of landed files: ensure every EDF+D
    * member has a fresh sidecar (no-op for contiguous files and
    * already-indexed ones). The driver reads the headers through the
    * session's Hadoop conf, and hands them to [[indexStale]]. It is
    * BEST-EFFORT: a file that can't be indexed (unreadable header,
    * corrupt TAL, read-only directory) plans unpruned, never wrong, and
    * a WARN names the file and the cause.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, files: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val headers =
      try EdfFile.readHeaders(files, conf)
      catch { case _: Exception => // find and name the unreadable ones
        files.flatMap { f =>
          try Some(f -> EdfFile.readHeader(f, conf))
          catch { case e: Exception => warn(f, e); None }
        }
      }
    indexStale(spark, headers)
  }

  /** [[ensure]] over `(path, header)` pairs the caller already read. The
    * driver picks the indexable EDF+D files whose sidecar is missing or
    * stale, and launches a job only when there are any, each task handed
    * its file's header; the TAL reads run per file in those executor
    * tasks — the driver never touches record bytes. Task count tracks
    * the cluster (`defaultParallelism`), not a fixed constant, so a
    * 1000-executor fleet indexes a landing burst at fleet width.
    */
  private[sources] def indexStale(spark: org.apache.spark.sql.SparkSession,
                                  headers: Seq[(String, EdfHeader)]): Unit = {
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    // only EDF+D files with a TAL signal carry onsets to index
    val targets = headers.filter { case (f, h) =>
      h.isDiscontiguous && h.annotationIndex >= 0 && needed(f, h, conf)
    }
    if (targets.nonEmpty) {
      val entries = EdfFile.captureConfEntries(spark)
      // tag the job so the UI (and tests) can attribute the indexing
      // work to this path rather than whatever query triggered it
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"EdfOnsetIndex.ensure: land-time sidecar indexing of ${targets.size} file(s)")
      try sc.parallelize(targets, math.max(1, math.min(targets.size, sc.defaultParallelism)))
        .foreach { case (f, h) =>
          try { write(f, h, EdfFile.confFromEntries(entries)); () }
          catch { case e: Exception => warn(f, e) }
        }
      finally sc.setJobDescription(prev)
    }
  }

  private def warn(path: String, e: Exception): Unit =
    log.warn(s"EDF onset sidecar not written for $path (the file plans unpruned): $e")
}
