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
  * a tiny JSON file next to the EDF (`<file>.edf.onsets.json`, ~10
  * bytes/record vs the record's KBs of samples), letting
  * `planInputPartitions` drop whole EDF+D splits at PLANNING time —
  * the discontiguous counterpart of the contiguous-file window
  * arithmetic in [[graft.sources.v2.EdfPushdown.recordWindow]].
  *
  * Staleness safety: the sidecar records `nbDataRec`; a mismatch with
  * the file's header (file rewritten, sidecar orphaned) makes `read`
  * return None and planning falls back to the conservative full plan.
  * Pruning remains conservative with the sidecar too — a boundary
  * record is kept and Spark's residual filter trims its rows.
  */
object EdfOnsetIndex {

  def sidecarPath(edfPath: String): String = edfPath + ".onsets.json"

  /** v2 sidecar layout (fixed-width, range-searchable): 8-byte magic +
    * int64 nbDataRec + int64 onset per record (big-endian). Fixed-width
    * records are the point — planning BINARY-SEARCHES the query window
    * with O(log n) positioned 8-byte reads instead of parsing the whole
    * sidecar: a 100 GB EDF+D's ~10⁷-record index costs ~25 probes per
    * plan, not a ~100 MB driver read (the r10 probe measured 4.7 MB of
    * plan-time sidecar bytes at just 0.5 GB of EDF+D). The legacy JSON
    * layout is still READ (fleets with landed v1 sidecars plan
    * correctly, paying the old full parse) but no longer written.
    */
  private val MAGIC: Array[Byte] = "GFONIDX1".getBytes(StandardCharsets.US_ASCII)

  /** Scan every record's TAL onset (annotation-slice seek-reads only —
    * sample bytes are never transferred: len(TAL) of the record's KBs)
    * and write the sidecar. One sequential pass, run once per file at
    * land time; at fleet scale run it per-file in tasks (it needs only
    * the Hadoop conf, no Spark session).
    */
  def write(path: String, conf: Configuration = new Configuration()): String = {
    val h = EdfFile.readHeader(path, conf)
    require(h.isDiscontiguous, s"$path is contiguous — record onsets are header arithmetic, no sidecar needed")
    val annIdx = h.signals.indexWhere(_.isAnnotation)
    require(annIdx >= 0, s"$path has no annotation signal to carry TAL onsets")
    val sigOffsets = h.signals.scanLeft(0L)((acc, s) => acc + s.nrSamples * 2L)
    val annOff = sigOffsets(annIdx)
    val len = h.signals(annIdx).nrSamples * 2
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // sub-chunk positioned reads: without openSeekable the checksum
    // layer + 4 KiB buffer would transfer ~the whole file for KB-scale
    // records (measured by EdfScaleProbe)
    val in = EdfFile.openSeekable(fs, p, len)
    val onsets = try {
      val buf = new Array[Byte](len)
      (0 until h.nbDataRec).map { rec =>
        in.readFully(h.headerBytes + rec.toLong * h.recordBytes + annOff, buf)
        val tal = new String(buf, 0, len, StandardCharsets.US_ASCII)
        val head = tal.split("\u0014\u0014", 2).head
        h.startUs + (head.toDouble * 1e6).toLong
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
    * window (onsets are monotonic, so the kept set is one run). v2
    * sidecars answer with O(log n) probes over PAGE-granular positioned
    * reads (2 KiB pages, cached for the call — the two boundary searches
    * share pages, and each filesystem read transfers one page instead of
    * paying the KiB-scale floor per 8-byte value); answers memoize
    * across plan invocations per (path, mtime, window). Legacy JSON
    * sidecars fall back to the full parse. None = no/stale/unreadable
    * sidecar — callers plan unpruned.
    */
  def keptRange(path: String, h: EdfHeader, tsLo: Long, tsHi: Long, spanUs: Long,
                conf: Configuration = new Configuration()): Option[(Int, Int)] = {
    val p = new Path(sidecarPath(path))
    try {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val st = fs.getFileStatus(p)
      val fileLen = st.getLen
      if (fileLen < 16) return legacyRange(path, h, tsLo, tsHi, spanUs, conf)
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
        if (!java.util.Arrays.equals(java.util.Arrays.copyOf(page(0), 8), MAGIC))
          return legacyRange(path, h, tsLo, tsHi, spanUs, conf)
        val n = at(8L)
        if (n != h.nbDataRec.toLong || fileLen < 16L + 8L * n) return None
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

  /** Range bounds off a legacy (v1 JSON) sidecar — full parse + linear
    * scan, correctness-identical to v2's search on monotonic onsets.
    */
  private def legacyRange(path: String, h: EdfHeader, tsLo: Long, tsHi: Long,
                          spanUs: Long, conf: Configuration): Option[(Int, Int)] =
    read(path, h, conf).map { onsets =>
      val lo =
        if (tsLo == Long.MinValue) 0
        else {
          val i = onsets.indexWhere(_ + spanUs > tsLo)
          if (i < 0) onsets.length else i
        }
      val hi =
        if (tsHi == Long.MaxValue) onsets.length
        else {
          val i = onsets.lastIndexWhere(_ <= tsHi)
          math.max(i + 1, lo)
        }
      (lo, hi)
    }

  /** True when `path` is an EDF+D file that needs (and can get) a
    * sidecar it doesn't have yet: discontiguous, TAL-bearing, and no
    * fresh sidecar present.
    */
  def needed(path: String, conf: Configuration): Boolean = {
    val h = EdfFile.readHeader(path, conf)
    h.isDiscontiguous && h.signals.exists(_.isAnnotation) && read(path, h, conf).isEmpty
  }

  /** Land-time indexing for a batch of landed files: ensure every EDF+D
    * member has a fresh sidecar (no-op for contiguous files and
    * already-indexed ones). Runs per-file in executor tasks — the
    * driver never touches record bytes — and is BEST-EFFORT: a file
    * that can't be indexed (corrupt header, read-only directory) is
    * skipped, since planning without a sidecar is merely unpruned,
    * never wrong.
    */
  def ensure(spark: org.apache.spark.sql.SparkSession, files: Seq[String]): Unit =
    ensure(spark.sparkContext, EdfFile.captureConfEntries(spark), files)

  /** Same, for callers that already hold captured conf entries (the
    * streaming micro-batch planner). Task count tracks the cluster
    * (`defaultParallelism`), not a fixed constant, so a 1000-executor
    * fleet indexes a landing burst at fleet width.
    */
  def ensure(sc: org.apache.spark.SparkContext, entries: Seq[(String, String)],
             files: Seq[String]): Unit =
    if (files.nonEmpty) {
      // tag the job so the UI (and tests) can attribute the indexing
      // work to this path rather than whatever query triggered it
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"EdfOnsetIndex.ensure: land-time sidecar indexing of ${files.size} file(s)")
      try sc.parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
        .foreach { f =>
          val conf = EdfFile.confFromEntries(entries)
          try if (needed(f, conf)) { write(f, conf); () }
          catch { case _: Exception => () }
        }
      finally sc.setJobDescription(prev)
    }

  /** Absolute record onsets (µs) from the sidecar, or None when it is
    * missing, unreadable, or stale (record count differs from the
    * header) — callers fall back to unpruned planning.
    */
  def read(path: String, h: EdfHeader, conf: Configuration = new Configuration()): Option[Array[Long]] = {
    val p = new Path(sidecarPath(path))
    try {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val bytes = try {
        val size = fs.getFileStatus(p).getLen.toInt
        val b = new Array[Byte](size); in.readFully(0, b); b
      } finally in.close()
      if (bytes.length >= 16 &&
          java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, 8), MAGIC)) {
        val bb = java.nio.ByteBuffer.wrap(bytes, 8, bytes.length - 8)
        val n = bb.getLong
        return if (n != h.nbDataRec.toLong || bytes.length < 16L + 8L * n) None
        else Some(Array.fill(h.nbDataRec)(bb.getLong))
      }
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(bytes, StandardCharsets.UTF_8))
      val n = node.get("nbDataRec").asInt(-1)
      val arr = node.get("onsetsUs")
      if (n != h.nbDataRec || arr == null || !arr.isArray || arr.size != h.nbDataRec) None
      else Some(Array.tabulate(arr.size)(arr.get(_).asLong))
    } catch { case _: Exception => None }
  }
}
