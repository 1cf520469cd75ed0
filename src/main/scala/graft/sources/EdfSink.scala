package graft.sources

import java.io.BufferedOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A14: the reference processor's output contract as a distributed sink.
  *
  * Writes, per channel: a binary file of float64 LE sample values
  * (reference base.py:265-294 `write_channel_data`) and a JSON metadata
  * manifest matching timeseries-channel.schema.json (name, start, end,
  * unit, rate, type, group, lastAnnotation, contiguousChunks, properties;
  * reference base.py:47-65).
  *
  * Scale shape: sample data is hash-partitioned by (channel, part) and
  * each task streams whole parts to their files (a part never splits
  * across tasks). Channel MANIFESTS are also assembled distributedly:
  * each channel's contiguous-chunk array is streamed to its manifest file
  * by the executor that owns the channel's chunk rows (a gap-heavy 100 TB
  * corpus can have millions of chunks per channel — they never visit the
  * driver), and the driver only stream-concatenates the finished
  * per-channel manifest files into `channels.json` (file-level I/O,
  * memory O(copy buffer)). The only driver-side plan state is the
  * (file, channel, part) name index — bounded by channels × parts,
  * independent of both sample and chunk volume. Single channels larger
  * than one task should own are range-partitioned on sample_idx into
  * numbered part files via `maxSamplesPerFile`.
  *
  * CHANNEL DIRECTORY: `write` (CONTINUOUS channels) and `writeSpikes`
  * (UNIT channels) share one directory protocol, parameterised by a
  * [[Namespace]]:
  * {{{
  *              manifests                 index               staged copy              count      binary
  * CONTINUOUS   channel[-NNNNN].json      channels.json       staged-manifest-N        numValues  .ts.bin
  * UNIT         unit-channel[-NNNNN].json channels_unit.json  staged-unit-manifest-N   numSpikes  .spikes.bin
  * }}}
  * Every file of one namespace is named so no pattern of the other
  * matches it, so both writers can share one outDir and an overwrite
  * run replaces only its own namespace. The protocol's steps, in order:
  * crash recovery (restore staged manifests, sweep temp dirs), read the
  * existing manifests, match incoming channels, plan final binary names
  * and ordinals, stage matched manifests and pre-clean, commit (binaries
  * and manifests, executor-side, rendered by one renderer), then check
  * every rewritten manifest exists and concatenate the index.
  *
  * APPEND MODE (reference base.py:146-221 `get_or_create_channel` /
  * `_get_platform_channel`): `mode = "append"` fuzzy-matches incoming
  * channels against the namespace's existing manifests — lowercase-
  * trimmed name equality, same type, and for CONTINUOUS channels rate
  * within 2 % (`abs(1 - r/r') < 0.02`; UNIT channels have no rate), first
  * match in manifest order wins. Matched channels APPEND:
  * new samples land in new generation files (`-gNN`) listed after the
  * existing binaries (object stores have no byte-append — the reference's
  * `open(file,'ab')` becomes "add a generation and extend `binaryFiles`";
  * concatenating the listed files in order reproduces the reference's
  * appended byte stream), chunk indices continue the channel's value
  * stream (offset by the existing `numValues`), and the merged manifest
  * keeps the existing chunks followed by the new ones (non-overlap
  * asserted: appended data must start after the channel's existing end,
  * reference base.py:87-95). Unmatched incoming channels are created new,
  * and untouched existing channels pass through with their manifests and
  * binaries intact — like the reference, append never rewrites committed
  * sample bytes.
  *
  * Cluster-safe output protocol: all I/O goes through the Hadoop
  * FileSystem API (the Hadoop conf is captured on the driver and rebuilt
  * executor-side, so object-store credentials/endpoints reach the tasks
  * and output lands in the shared filesystem, never a task-local disk).
  * Each task writes to a task-attempt temp directory under outDir and
  * commits each finished file by rename; if a speculative or retried
  * attempt already committed the same file, the loser detects the
  * existing destination and discards its temp file, so concurrent
  * attempts can never truncate or interleave a committed stream.
  */
object EdfSink {

  /** Gap boundary: delta-ts > 2x the sampling period (reference
    * base.py:322-342). Detection is FUSED into the binary dump pass (see
    * `write` step 1): the dump's shuffle already delivers every
    * (file, channel, part) stream to one task sorted by sample_idx, so
    * the task detects boundaries between consecutive rows for free while
    * streaming values to the binary file, and emits one SEGMENT row per
    * contiguous run it saw. No second pass over sample volume exists —
    * the old design's sample-volume lag self-join re-derived ordering
    * the dump's sort had already established (the probe-measured 5 MiB/s
    * sink floor).
    *
    * Segment rows are chunk-cardinality, never sample-cardinality (see
    * [[discSegSchema]]). `gap_before` = false marks a part's FIRST
    * segment, whose continuity with the previous part is unknown to the
    * writing task; the manifest assembly (which receives each channel's
    * segments sorted by start_index) merges such a segment into its
    * predecessor when the seam shows no gap. Chunk stats (end_ts, n)
    * come from the rows actually streamed, so filtered/non-dense
    * sample_idx input yields self-consistent manifests — a missing
    * index is a chunk boundary only if it leaves a real time gap.
    */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** A manifest namespace of the channel directory (see the object doc).
    * `sampled` channels carry a rate (matched within 2 %) and may split
    * into `-partNNNNN` files, so their generation files always carry a
    * part number; spike channels have neither and write one file per
    * generation.
    */
  private final case class Namespace(
      chanType: String,
      stem: String,
      index: String,
      staged: String,
      countKey: String,
      binSuffix: String,
      sampled: Boolean) {
    def manifestName(ord: Int): String = if (ord == 0) s"$stem.json" else f"$stem-$ord%05d.json"
    def stagedName(ord: Int): String = f"$staged$ord%05d.json"
  }
  private val Continuous = Namespace("CONTINUOUS", "channel", "channels.json",
    "staged-manifest-", "numValues", ".ts.bin", sampled = true)
  private val Spikes = Namespace("UNIT", "unit-channel", "channels_unit.json",
    "staged-unit-manifest-", "numSpikes", ".spikes.bin", sampled = false)

  /** Binary file name for a (file, channel): the reference's
    * `<channel><suffix>` for single-file runs; prefixed with the source
    * file stem when several files share channel labels (the normal
    * session-split EDF case) so streams never interleave.
    */
  private def binName(file: String, channel: String, multiFile: Boolean, suffix: String): String = {
    val safe = channel.replaceAll("[^A-Za-z0-9._-]", "_")
    if (!multiFile) s"$safe$suffix"
    else {
      val stem = file.split("/").last.replaceAll("\\.edf$", "").replaceAll("[^A-Za-z0-9._-]", "_")
      s"${stem}__$safe$suffix"
    }
  }

  /** Distinct (file, channel) -> collision-free binary file name. Labels
    * that differ only in sanitized-away characters ('C3 A' vs 'C3:A')
    * would map to one name; such groups get a stable ordinal suffix.
    * Uniqueness is asserted before any data is written.
    */
  private def planNames(keys: Seq[(String, String)], multiFile: Boolean,
                        suffix: String): Map[(String, String), String] = {
    val names = keys.groupBy(k => binName(k._1, k._2, multiFile, suffix)).flatMap {
      case (name, Seq(only)) => Seq(only -> name)
      case (name, clashed) =>
        clashed.sorted.zipWithIndex.map { case (k, i) =>
          k -> (name.stripSuffix(suffix) + f"__c$i%02d" + suffix)
        }
    }
    require(names.values.toSet.size == names.size,
      s"channel binary names not unique after disambiguation: ${names.values.toSeq.sorted}")
    names
  }

  /** Commit a finished temp file: first attempt to rename wins; a loser
    * (speculative/retried task that raced a committed copy) deletes its
    * temp file and moves on — both attempts wrote identical content
    * because a (file, channel) group is wholly owned by one partition.
    * An existing destination can ONLY be a racing attempt from this run:
    * [[prepareDir]] pre-deletes every planned destination (and
    * [[recoverDir]] sweeps stale task-attempt temp dirs) before any task
    * starts, so a re-run into a non-empty outDir can never silently keep
    * a previous run's bytes.
    */
  private def commit(fs: FileSystem, tmp: Path, dest: Path): Unit = {
    if (!fs.rename(tmp, dest)) {
      if (fs.exists(dest)) fs.delete(tmp, false)
      else throw new java.io.IOException(s"rename $tmp -> $dest failed")
    }
  }

  /** Stream-append src's bytes onto an open stream (64 KiB buffer). */
  private def copyFile(fs: FileSystem, src: Path, out: java.io.OutputStream): Unit = {
    val in = fs.open(src)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
    } finally in.close()
  }

  /** An existing channel parsed (driver-side, chunk-free) from its
    * committed manifest file. `count` is the namespace's count property.
    */
  private case class ExistingChannel(
      ord: Int,
      name: String,
      unit: String,
      rate: Double,
      chanType: String,
      start: Long,
      end: Long,
      binaryFiles: Seq[String],
      count: Option[Long],
      appendTag: Option[String] = None)

  private val descSchema = StructType(Seq(
    StructField("name", StringType), StructField("start", LongType),
    StructField("end", LongType), StructField("unit", StringType),
    StructField("rate", DoubleType), StructField("type", StringType),
    StructField("properties", ArrayType(StructType(Seq(
      StructField("key", StringType), StructField("value", StringType)))))))

  /** Crash recovery, before anything reads the directory. A staged
    * manifest with no committed destination is the surviving original of
    * a crashed append — restore it (this keeps the ordinal sequence
    * hole-free, so [[readExisting]] never silently drops channels); with
    * a committed destination the crashed run had already merged — drop
    * it. Then sweep orphaned temp state (task-attempt dirs and whole
    * job-temp dirs both carry the _tmp- prefix).
    */
  private def recoverDir(fs: FileSystem, outPath: Path, ns: Namespace): Unit = {
    fs.mkdirs(outPath)
    fs.globStatus(new Path(outPath, s"${ns.staged}*.json")).foreach { s =>
      val ord = s.getPath.getName.stripPrefix(ns.staged).stripSuffix(".json").toInt
      val dest = new Path(outPath, ns.manifestName(ord))
      if (!fs.exists(dest)) fs.rename(s.getPath, dest)
      else fs.delete(s.getPath, false)
    }
    fs.globStatus(new Path(outPath, "_tmp-*")).foreach(s => fs.delete(s.getPath, true))
  }

  /** Parse the namespace's committed manifests (ordinal order) WITHOUT
    * their chunk arrays — driver state stays channel-cardinality however
    * chunk-heavy the history is. Returns Nil when the directory has no
    * prior run.
    */
  private def readExisting(spark: SparkSession, fs: FileSystem, outPath: Path,
                           ns: Namespace): Seq[ExistingChannel] = {
    val paths = Iterator.from(0).map(i => new Path(outPath, ns.manifestName(i)))
      .takeWhile(fs.exists).toSeq
    if (paths.isEmpty) return Nil
    val rows = spark.read.schema(descSchema).option("multiLine", true)
      .json(paths.map(_.toString): _*)
      .withColumn("src", input_file_name())
      .collect()
    val byFile = rows.map(r => r.getAs[String]("src").split("/").last -> r).toMap
    paths.zipWithIndex.map { case (p, i) =>
      val r = byFile.getOrElse(p.getName,
        throw new IllegalStateException(s"manifest ${p.getName} unreadable"))
      val props = Option(r.getAs[Seq[org.apache.spark.sql.Row]]("properties")).getOrElse(Seq.empty)
        .map(pr => pr.getAs[String]("key") -> pr.getAs[String]("value")).toMap
      // "binaryFiles" is a JSON array rendered into a string property
      val bins = props.get("binaryFiles")
        .map(_.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
        .orElse(props.get("binaryFile").map(Seq(_)))
        .getOrElse(Seq.empty)
      ExistingChannel(i, r.getAs[String]("name"), r.getAs[String]("unit"),
        r.getAs[Double]("rate"), Option(r.getAs[String]("type")).getOrElse(ns.chanType),
        r.getAs[Long]("start"), r.getAs[Long]("end"), bins,
        props.get(ns.countKey).map(_.toLong),
        props.get("appendTag"))
    }
  }

  /** The reference's fuzzy channel-match rule (base.py:186-200): name
    * equal after lowercase+trim, same type, and for sampled channels rate
    * within 2 %; first manifest-order match wins.
    */
  private def matchExisting(existing: Seq[ExistingChannel], channel: String, rate: Double,
                            ns: Namespace): Option[ExistingChannel] =
    existing.find(ex =>
      ex.name.toLowerCase.trim == channel.toLowerCase.trim &&
        ex.chanType.toLowerCase.trim == ns.chanType.toLowerCase &&
        (!ns.sampled || math.abs(1.0 - rate / ex.rate) < 0.02))

  /** One run's reconcile against the destination (channel-cardinality,
    * driver-side): the existing channel each incoming channel continues,
    * the final binary name of every (file, channel, part), and every
    * output ordinal.
    */
  private case class DirPlan(
      ns: Namespace,
      existing: Seq[ExistingChannel],
      matched: Map[(String, String), ExistingChannel],
      newKeys: Seq[(String, String)],
      baseNames: Map[(String, String), String],   // new channels' unsuffixed names
      names: Map[(String, String, Long), String], // (file, channel, part) -> final binary
      ords: Map[(String, String), Int]) {
    def matchedOrds: Seq[Int] = matched.values.map(_.ord).toSeq.sorted
  }

  /** Plan the incoming channels `(key, rate, parts)`. New channels take
    * the overwrite naming (`planNames`, plus `-partNNNNN` when a channel
    * has several parts); matched channels continue as generation files
    * after the existing binaries, never overwriting them. Ordinals:
    * existing channels keep theirs, new channels append after in sorted
    * (file, channel) order — the index order.
    */
  private def planDir(ns: Namespace, existing: Seq[ExistingChannel],
                      incoming: Seq[((String, String), Double, Seq[Long])]): DirPlan = {
    val sorted = incoming.sortBy(_._1)
    val keys = sorted.map(_._1)
    val matched = sorted.flatMap { case (k, rate, _) =>
      matchExisting(existing, k._2, rate, ns).map(k -> _)
    }.toMap
    matched.groupBy(_._2.ord).foreach { case (_, ms) =>
      require(ms.size == 1,
        s"append mode: ${ms.size} incoming channels match existing '${ms.head._2.name}' — " +
          s"append one session per channel at a time: ${ms.keys.toSeq.sorted}")
    }
    val newKeys = keys.filterNot(matched.contains)
    val baseNames = planNames(newKeys, keys.map(_._1).distinct.size > 1, ns.binSuffix)
    val names: Map[(String, String, Long), String] = sorted.flatMap { case (k, _, ps) =>
      val parts = ps.sorted
      def suffixed(base: String, tag: String) = base.stripSuffix(ns.binSuffix) + tag + ns.binSuffix
      matched.get(k) match {
        case Some(ex) =>
          val base = ex.binaryFiles.headOption.getOrElse(binName(k._1, k._2, multiFile = false, ns.binSuffix))
            .stripSuffix(ns.binSuffix)
            .replaceAll(if (ns.sampled) "(-g\\d{2})?(-part\\d{5})?$" else "(-g\\d{2})?$", "") + ns.binSuffix
          val gen = f"-g${ex.binaryFiles.size}%02d"
          parts.zipWithIndex.map { case (p, i) =>
            (k._1, k._2, p) -> suffixed(base, if (ns.sampled) f"$gen-part$i%05d" else gen)
          }
        case None =>
          parts.map { p =>
            (k._1, k._2, p) ->
              (if (parts.size == 1) baseNames(k) else suffixed(baseNames(k), f"-part$p%05d"))
          }
      }
    }.toMap
    // part suffixes could in principle collide with a sibling channel's
    // sanitized name — uniqueness must hold over the FINAL names, and in
    // append mode new names must also miss every committed binary
    require(names.values.toSet.size == names.size,
      s"binary names not unique after part suffixing: ${names.values.toSeq.sorted}")
    val committed = existing.flatMap(_.binaryFiles).toSet
    val clash = names.values.toSeq.filter(committed.contains)
    require(clash.isEmpty, s"append mode: planned binaries collide with committed ones: $clash " +
      "(an unmatched incoming channel shares a sanitized name with an existing channel — rename it)")
    val ords = matched.map { case (k, ex) => k -> ex.ord } ++
      newKeys.zipWithIndex.map { case (k, i) => k -> (existing.size + i) }
    DirPlan(ns, existing, matched, newKeys, baseNames, names, ords)
  }

  /** Before the commit job. Stage matched channels' manifests out of the
    * way (driver rename): an append's commit reads the existing chunk
    * array from the staged copy while the merged manifest commits to the
    * now-free destination — immune to task retries re-reading a
    * half-overwritten file, and recoverable by [[recoverDir]] if this
    * run dies mid-way. Then pre-clean final destinations so the commit's
    * renames can never silently lose to a previous run's files.
    * Overwrite: planned destinations, any other part layout of the same
    * base names, and this namespace's manifests and index (only its own:
    * the other namespace in the same outDir is untouched). Append: only
    * this run's planned NEW files and the NEW ordinals' manifest slots
    * (stale output from a crashed run).
    */
  private def prepareDir(fs: FileSystem, outPath: Path, plan: DirPlan, overwrite: Boolean): Unit = {
    val ns = plan.ns
    def delete(name: String): Boolean = fs.delete(new Path(outPath, name), false)
    def deleteGlob(pattern: String): Unit =
      fs.globStatus(new Path(outPath, pattern)).foreach(s => fs.delete(s.getPath, false))
    plan.matchedOrds.foreach { o =>
      val dest = new Path(outPath, ns.stagedName(o))
      fs.delete(dest, false)
      require(fs.rename(new Path(outPath, ns.manifestName(o)), dest),
        s"failed to stage existing manifest ${ns.manifestName(o)}")
    }
    plan.names.values.foreach(delete)
    if (overwrite) {
      plan.baseNames.values.foreach { base =>
        delete(base)
        if (ns.sampled) deleteGlob(base.stripSuffix(ns.binSuffix) + "-part*" + ns.binSuffix)
      }
      delete(ns.manifestName(0)); deleteGlob(s"${ns.stem}-*.json"); delete(ns.index)
    } else {
      plan.newKeys.foreach(k => delete(ns.manifestName(plan.ords(k))))
    }
  }

  /** One `contiguousChunks` entry, comma-separated from its predecessor. */
  private def writeChunk(out: java.io.OutputStream, first: Boolean, index: Long, start: Long): Unit = {
    if (!first) out.write(", ".getBytes(StandardCharsets.UTF_8))
    out.write(s"""{"index": $index, "start": $start}""".getBytes(StandardCharsets.UTF_8))
  }

  /** Render one channel manifest to `tmp` and commit it to its ordinal's
    * destination — the one manifest format of both namespaces.
    * `chunks` writes the `contiguousChunks` entries (UNIT channels have
    * none); `extra` properties follow the namespace's count property and
    * the replay `appendTag` comes last.
    */
  private def commitManifest(fs: FileSystem, tmp: Path, outDir: String, ns: Namespace, ord: Int,
      name: String, start: Long, end: Long, unit: String, rate: Double,
      binaryFiles: Seq[String], count: Long, extra: Seq[(String, String)],
      appendTag: Option[String])(chunks: java.io.OutputStream => Unit): Unit = {
    val out = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
    try {
      out.write(s"""{"name": ${jsonStr(name)}, "start": $start, "end": $end, "unit": ${jsonStr(unit)},
                   | "rate": $rate, "type": "${ns.chanType}", "group": "default", "lastAnnotation": 0,
                   | "contiguousChunks": [""".stripMargin.getBytes(StandardCharsets.UTF_8))
      chunks(out)
      val props = (Seq(
        "binaryFile" -> jsonStr(binaryFiles.head),
        "binaryFiles" -> binaryFiles.map(jsonStr).mkString("[", ", ", "]"),
        ns.countKey -> jsonStr(count.toString)) ++
        extra.map { case (k, v) => k -> jsonStr(v) })
        .map { case (k, v) => s"""{"key": "$k", "value": $v}""" }
        .mkString(",\n                ")
      // the appendTag line is indented one space less than its siblings
      // in the committed format; kept so output bytes stay stable
      val tag = appendTag.map(t => s""",\n               {"key": "appendTag", "value": ${jsonStr(t)}}""")
        .getOrElse("")
      out.write(s"""],\n "properties": [$props$tag]}""".getBytes(StandardCharsets.UTF_8))
    } finally out.close()
    commit(fs, tmp, new Path(outDir, ns.manifestName(ord)))
  }

  /** After the commit job: every rewritten manifest must exist (an
    * untouched existing channel keeps its old manifest — nothing rewrites
    * it); then drop the staged copies and stream-concatenate the
    * namespace's committed manifests into its index — a bounded-buffer
    * copy, never a parse or a collect. Returns the index path.
    */
  private def finishDir(fs: FileSystem, outPath: Path, plan: DirPlan): String = {
    val ns = plan.ns
    require(plan.ords.values.forall(o => fs.exists(new Path(outPath, ns.manifestName(o)))),
      s"${ns.chanType} manifest assembly incomplete")
    plan.matchedOrds.foreach(o => fs.delete(new Path(outPath, ns.stagedName(o)), false))
    val idxPath = new Path(outPath, ns.index)
    val idxOut = new BufferedOutputStream(fs.create(idxPath, true), 1 << 16)
    try {
      idxOut.write('['.toInt)
      (0 until plan.existing.size + plan.newKeys.size).foreach { o =>
        if (o > 0) idxOut.write(",\n".getBytes(StandardCharsets.UTF_8))
        copyFile(fs, new Path(outPath, ns.manifestName(o)), idxOut)
      }
      idxOut.write(']'.toInt)
    } finally idxOut.close()
    idxPath.toString
  }

  /** The record-packed block relation for a raw sample projection
    * `(file, channel, sample_idx, ts_us, value, rate, unit)`:
    * map-side PACK into per-(file, channel, part) blocks of up to
    * [[PackBlock]] samples. Routing state (append match -> sample_idx
    * shift, replay-tag skip) is resolved INSIDE the pack loop from the
    * broadcast existing-channel set with a last-run cache, so the sink
    * plans nothing from a separate data scan: the r16 design decoded
    * every sample TWICE (a plan scan to discover (file, channel, part)
    * keys, then the pack) and the plan scan had become the measured
    * ceiling — 4.5 s of the 4 GiB probe's 5.2 s wall (r16 verdict #1).
    * Discovery now rides the pack itself: each reduce task reports the
    * bins it actually wrote, and the driver reconciles names/ordinals
    * at commit time (channel-cardinality work, zero extra sample I/O).
    *
    * The pack reads [[packInput]]: the scan's column batches when the
    * projection sits directly on a columnar scan, else the projection's
    * rows. Consecutive samples almost always share their key (the EDF
    * scan emits one batch per (record, channel) run), so the pack caches
    * the last key and its open block. A row's run check compares the
    * `file`/`channel` strings by reference first and by bytes only when
    * the references differ: a constant vector returns the same
    * `UTF8String` for its whole run, so a batch row costs no memcmp. The
    * broadcast match and the open-block map are consulted only on run
    * boundaries.
    */
  private[graft] val PackBlock = 4096
  private[graft] val MaxOpenBins = 256 // bound pack memory on very wide inputs
  private[graft] val packSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("part", LongType, nullable = false),
    StructField("first_idx", LongType, nullable = false),
    StructField("idxs", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("tss", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("vals", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("rate", DoubleType, nullable = false),
    StructField("unit", StringType, nullable = false)))

  private def packedBlocks(projected: DataFrame,
      bExisting: org.apache.spark.broadcast.Broadcast[Seq[ExistingChannel]],
      bExOffsets: org.apache.spark.broadcast.Broadcast[Map[Int, Long]],
      replayTag: Option[String],
      maxSamplesPerFile: Long): DataFrame = {
    val spark = projected.sparkSession
    val packedRdd = packInput(projected).mapPartitions { it =>
        import org.apache.spark.sql.catalyst.InternalRow
        import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
        import org.apache.spark.unsafe.types.UTF8String
        final class PackBuf(val rate: Double, val unit: String) {
          val idx = new Array[Long](PackBlock)
          val ts = new Array[Long](PackBlock)
          val value = new Array[Double](PackBlock)
          var n = 0
        }
        val open = new java.util.HashMap[(String, String, Long), PackBuf]()
        val existing = bExisting.value
        val exOff = bExOffsets.value
        // per-(file, channel) route memo: (sample_idx shift, replay skip).
        // The append match is the same deterministic matchExisting the
        // driver reconcile re-applies to the discovered keys.
        val routeMemo = new java.util.HashMap[(String, String), (Long, Boolean)]()
        // run cache: last (file, channel) -> route, last part -> key
        // tuple, and that key's open block (null until looked up, and
        // again once the block is emitted) — the open-block map is hashed
        // once per run, not once per sample
        var lastFile: UTF8String = null
        var lastChan: UTF8String = null
        var lastFileRef: UTF8String = null
        var lastChanRef: UTF8String = null
        var lastFileStr: String = null
        var lastChanStr: String = null
        var lastOff = 0L
        var lastSkip = false
        var lastPart = Long.MinValue
        var lastKey: (String, String, Long) = null
        var lastBuf: PackBuf = null
        def newRun(f: UTF8String, c: UTF8String, rate: Double): Unit = {
          // clone: a row's UTF8Strings may point into a reused row buffer;
          // the references serve only the identity check
          lastFileRef = f; lastChanRef = c
          lastFile = f.clone(); lastChan = c.clone()
          lastFileStr = lastFile.toString; lastChanStr = lastChan.toString
          val mk = (lastFileStr, lastChanStr)
          var r = routeMemo.get(mk)
          if (r == null) {
            r = matchExisting(existing, lastChanStr, rate, Continuous) match {
              case Some(ex) =>
                (exOff.getOrElse(ex.ord, 0L), replayTag.exists(t => ex.appendTag.contains(t)))
              case None => (0L, false)
            }
            routeMemo.put(mk, r)
          }
          lastOff = r._1; lastSkip = r._2
          lastPart = Long.MinValue; lastKey = null; lastBuf = null
        }
        def emit(key: (String, String, Long), b: PackBuf): InternalRow = {
          val n = b.n
          // ascending check; a non-EDF-ordered arrival sorts its block
          var sorted = true; var dense = true
          var i = 1
          while (i < n && (sorted || dense)) {
            val d = b.idx(i) - b.idx(i - 1)
            if (d < 0) { sorted = false; dense = false }
            else if (d != 1) dense = false
            i += 1
          }
          var (idxA, tsA, valA) =
            (java.util.Arrays.copyOf(b.idx, n), java.util.Arrays.copyOf(b.ts, n),
              java.util.Arrays.copyOf(b.value, n))
          if (!sorted) {
            val perm = Array.range(0, n).sortBy(idxA(_))
            val (i2, t2, v2) = (new Array[Long](n), new Array[Long](n), new Array[Double](n))
            var k = 0
            while (k < n) { i2(k) = idxA(perm(k)); t2(k) = tsA(perm(k)); v2(k) = valA(perm(k)); k += 1 }
            idxA = i2; tsA = t2; valA = v2
            dense = { var ok = true; var j = 1
              while (ok && j < n) { ok = idxA(j) - idxA(j - 1) == 1; j += 1 }; ok }
          }
          val row = new GenericInternalRow(9)
          row.update(0, UTF8String.fromString(key._1))
          row.update(1, UTF8String.fromString(key._2))
          row.setLong(2, key._3)
          row.setLong(3, idxA(0))
          row.update(4, if (dense) null else UnsafeArrayData.fromPrimitiveArray(idxA))
          row.update(5, UnsafeArrayData.fromPrimitiveArray(tsA))
          row.update(6, UnsafeArrayData.fromPrimitiveArray(valA))
          row.setDouble(7, b.rate)
          row.update(8, UTF8String.fromString(b.unit))
          b.n = 0
          row
        }
        new Iterator[InternalRow] {
          private val out = new scala.collection.mutable.ArrayDeque[InternalRow](4)
          private var drained = false
          private def pump(): Unit = {
            while (out.isEmpty && it.hasNext) {
              val r = it.next()
              val f = r.getUTF8String(0); val c = r.getUTF8String(1)
              if (lastFile == null || !((f eq lastFileRef) || f.equals(lastFile)) ||
                  !((c eq lastChanRef) || c.equals(lastChan)))
                newRun(f, c, r.getDouble(5))
              if (!lastSkip) {
                val sampleIdx = r.getLong(2) + lastOff
                val part = Math.floorDiv(sampleIdx, maxSamplesPerFile)
                if (part != lastPart || lastKey == null) {
                  lastPart = part
                  lastKey = (lastFileStr, lastChanStr, part)
                  lastBuf = null
                }
                if (lastBuf == null) lastBuf = open.get(lastKey)
                if (lastBuf == null) {
                  if (open.size >= MaxOpenBins) {
                    // flush the fullest open block to bound memory at
                    // (MaxOpenBins x PackBlock x 24 B) on very wide inputs
                    var maxK: (String, String, Long) = null; var maxN = -1
                    val e = open.entrySet().iterator()
                    while (e.hasNext) {
                      val en = e.next()
                      if (en.getValue.n > maxN) { maxN = en.getValue.n; maxK = en.getKey }
                    }
                    out.append(emit(maxK, open.remove(maxK)))
                  }
                  lastBuf = new PackBuf(r.getDouble(5), r.getUTF8String(6).toString)
                  open.put(lastKey, lastBuf)
                }
                val b = lastBuf
                b.idx(b.n) = sampleIdx; b.ts(b.n) = r.getLong(3); b.value(b.n) = r.getDouble(4)
                b.n += 1
                if (b.n == PackBlock) {
                  open.remove(lastKey); out.append(emit(lastKey, b)); lastBuf = null
                }
              }
            }
            if (out.isEmpty && !drained && !it.hasNext) {
              drained = true
              val e = open.entrySet().iterator()
              while (e.hasNext) { val en = e.next(); out.append(emit(en.getKey, en.getValue)) }
              open.clear()
            }
          }
          override def hasNext: Boolean = { if (out.isEmpty) pump(); out.nonEmpty }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            out.removeHead()
          }
        }
      }
    org.apache.spark.sql.graft.DatasetShim
      .internalCreateDataFrame(spark, packedRdd, packSchema)
  }

  /** The raw sample projection the pack reads. */
  private[graft] def packProjection(samples: DataFrame): DataFrame =
    samples.select(
      col("file"), col("channel"), col("sample_idx"), col("ts_us"), col("value"),
      col("rate"), col("unit"))

  /** The pack's input rows, in `projected`'s column order. When
    * `projected` executes as a plain-attribute projection (or none) over
    * a `ColumnarToRow` boundary, the rows are views of the columnar
    * child's batches, with the vectors reordered to the projection's
    * columns: no row is copied into an `UnsafeRow`. Any other plan
    * (shuffled, filtered or `createDataFrame` input) yields its `toRdd`.
    */
  private def packInput(projected: DataFrame): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    columnarRoute(projected.queryExecution.executedPlan) match {
      case Some((child, ords)) =>
        child.executeColumnar().mapPartitions { batches =>
          import scala.jdk.CollectionConverters._
          batches.flatMap { b =>
            new org.apache.spark.sql.vectorized.ColumnarBatch(ords.map(b.column), b.numRows).rowIterator().asScala
          }
        }
      case None => projected.queryExecution.toRdd
    }

  /** The columnar child of `plan` and, per output column of `plan`, its
    * ordinal in that child's output, when `plan` is a `ColumnarToRowExec`
    * (under `WholeStageCodegenExec` or not) with at most a `ProjectExec`
    * of plain attributes above it; else None.
    */
  private[graft] def columnarRoute(plan: org.apache.spark.sql.execution.SparkPlan)
      : Option[(org.apache.spark.sql.execution.SparkPlan, Array[Int])] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
    import org.apache.spark.sql.execution.{ColumnarToRowExec, ProjectExec, WholeStageCodegenExec}
    def ordinals(out: Seq[Attribute], child: Seq[Attribute]): Option[Array[Int]] = {
      val ords = out.map(a => child.indexWhere(_.exprId == a.exprId))
      if (ords.contains(-1)) None else Some(ords.toArray)
    }
    val body = plan match {
      case w: WholeStageCodegenExec => w.child
      case p => p
    }
    body match {
      case c: ColumnarToRowExec => ordinals(c.output, c.child.output).map((c.child, _))
      case ProjectExec(list, c: ColumnarToRowExec) if list.forall(_.isInstanceOf[AttributeReference]) =>
        ordinals(list.map(_.toAttribute), c.child.output).map((c.child, _))
      case _ => None
    }
  }

  /** Packed blocks + the exchange: hash repartition on the
    * (file, channel, part) bin key and a BLOCK-cardinality sort on
    * (bin, first_idx). The keys are the raw strings — at block
    * cardinality (1 row per 4096 samples) the hash/compare cost of a
    * string key is noise, and it frees the sink from any pre-computed
    * key -> id map (the r16 plan scan this design deleted).
    */
  private def packedDump(projected: DataFrame,
      bExisting: org.apache.spark.broadcast.Broadcast[Seq[ExistingChannel]],
      bExOffsets: org.apache.spark.broadcast.Broadcast[Map[Int, Long]],
      replayTag: Option[String],
      maxSamplesPerFile: Long): DataFrame =
    packedBlocks(projected, bExisting, bExOffsets, replayTag, maxSamplesPerFile)
      .repartition(col("file"), col("channel"), col("part"))
      .sortWithinPartitions(col("file"), col("channel"), col("part"), col("first_idx"))

  /** Intermediate rows between the bin-writing reduce and the manifest
    * assembly: kind 0 = per-bin DISCOVERY (the bin's key, rate/unit, and
    * the temp binary it committed under the job dir), kind 1 = SEGMENT
    * (one contiguous run observed while streaming the bin — chunk
    * cardinality, never sample cardinality). Sorted (file, channel,
    * kind, start_index) so each channel's assembly sees its discoveries
    * before its segments.
    */
  private val discSegSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("kind", IntegerType, nullable = false),
    StructField("part", LongType, nullable = false),
    StructField("start_index", LongType, nullable = false),
    StructField("start_ts", LongType, nullable = false),
    StructField("end_ts", LongType, nullable = true),
    StructField("n", LongType, nullable = true),
    StructField("gap_before", BooleanType, nullable = false),
    StructField("rate", DoubleType, nullable = true),
    StructField("unit", StringType, nullable = true),
    StructField("tmp_bin", StringType, nullable = true)))

  /** One incoming channel as its assembly task discovered + summarized
    * it: the reconcile step's whole input (channel-cardinality).
    */
  private case class Discovered(
      file: String, channel: String, rate: Double, unit: String,
      start: Long, end: Long, newValues: Long, nChunks: Long,
      parts: Seq[(Long, String)]) // (part, temp binary name under jobTmp)

  /** Test observability: merge-window spills, counted through a Spark
    * accumulator so executor-JVM spills aggregate back to the driver
    * under ANY master (local[n] and local-cluster alike) — specs assert
    * the spill path was actually exercised, not merely that output
    * stayed correct. Reassigned per write() call; reads are last-write.
    */
  @volatile private[graft] var mergeSpillAcc: org.apache.spark.util.LongAccumulator = _
  private[graft] def mergeSpillCount: Long = {
    val a = mergeSpillAcc
    if (a == null) 0L else a.value
  }

  private def sha1Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }
  private def binTmpName(file: String, channel: String, part: Long): String =
    "bin-" + sha1Hex(file + "\u0000" + channel + "\u0000" + part)
  private def chunkTmpName(file: String, channel: String): String =
    "chunks-" + sha1Hex(file + "\u0000" + channel)

  /** Stream the `contiguousChunks` (index, start) pairs out of a
    * committed manifest without materializing the array (Jackson
    * streaming — on Spark's classpath). Executor-side: the commit task
    * that merges an append reads the staged original here.
    */
  private def streamExistingChunks(fs: FileSystem, p: Path)(emit: (Long, Long) => Unit): Unit = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    val in = fs.open(p)
    try {
      val jp = new JsonFactory().createParser(in: java.io.InputStream)
      require(jp.nextToken() == JsonToken.START_OBJECT, s"manifest $p is not a JSON object")
      var t = jp.nextToken()
      while (t == JsonToken.FIELD_NAME) {
        val name = jp.currentName()
        val v = jp.nextToken()
        if (name == "contiguousChunks" && v == JsonToken.START_ARRAY) {
          var e = jp.nextToken()
          while (e == JsonToken.START_OBJECT) {
            var idx = 0L; var st = 0L
            var f = jp.nextToken()
            while (f == JsonToken.FIELD_NAME) {
              val fn = jp.currentName(); jp.nextToken()
              if (fn == "index") idx = jp.getLongValue
              else if (fn == "start") st = jp.getLongValue
              else jp.skipChildren()
              f = jp.nextToken()
            }
            emit(idx, st)
            e = jp.nextToken()
          }
        } else if (v == JsonToken.START_ARRAY || v == JsonToken.START_OBJECT) {
          jp.skipChildren(): Unit
        }
        t = jp.nextToken()
      }
      jp.close()
    } finally in.close()
  }

  /** One output channel's commit work: rename its job-temp binaries to
    * their final names and compose + commit its manifest. Built by the
    * driver reconcile, executed by the (channel-cardinality) commit job.
    */
  private case class CommitTask(
      ord: Int,
      name: String,
      unit: String,
      rate: Double,
      binRenames: Seq[(String, String)], // (temp name under jobTmp, final name)
      binaryFiles: Seq[String],          // existing parts first, then new, concat order
      exNumValues: Long,
      exStart: Option[Long],
      exEnd: Option[Long],
      appendTag: Option[String],
      stagedManifest: Option[String],    // matched channels: staged original to merge
      chunkTmp: String,                  // bare new-chunk entries under jobTmp
      newStart: Long,
      newEnd: Long,
      newValues: Long,
      nChunksNew: Long)

  /** Write the binary + manifest output for a sample DataFrame
    * (schema = EdfFile.sampleSchema). Returns the manifest path.
    *
    * Chunk stats (start/end ts, counts) are derived from the rows
    * actually streamed, so FILTERED input (artifact-removed samples,
    * value-thresholded slices — sample_idx with mid-stream holes) yields
    * self-consistent manifests: a missing index opens a new chunk only
    * when it leaves a time gap > 2 sampling periods, exactly the
    * reference's gap rule over the surviving samples.
    *
    * `maxSamplesPerFile` bounds how much of one channel a single task
    * owns: channels larger than the bound are range-partitioned on
    * sample_idx into numbered part files (`<name>-part00001.ts.bin` …),
    * so a 30 M-sample reference chunk — or a 100 GB channel — writes with
    * full parallelism instead of through one task. Concatenating the
    * parts in order reproduces the single-file byte stream.
    *
    * `mode` is "overwrite" (default; destination pre-cleaned) or
    * "append" (reference append mode, see object doc).
    *
    * Input ORDER tolerance: the packed exchange restores exact
    * per-sample order however the input partitions interleave. Up to
    * `MaxMergeCursors` (1024) simultaneously overlapping blocks per bin
    * (~4M samples of interleaving) merge in memory; anything beyond
    * spills to executor-local sorted runs — arbitrarily disordered
    * input is always correct, merely slower.
    */
  def write(samples: DataFrame, outDir: String,
            maxSamplesPerFile: Long = Long.MaxValue,
            mode: String = "overwrite",
            replayTag: Option[String] = None): String = {
    require(maxSamplesPerFile > 0, s"maxSamplesPerFile must be positive, got $maxSamplesPerFile")
    require(mode == "overwrite" || mode == "append", s"mode must be overwrite|append, got $mode")
    require(replayTag.isEmpty || mode == "append", "replayTag only applies to append mode")
    val spark = samples.sparkSession
    val spillAcc = spark.sparkContext.longAccumulator("graft.sink.mergeSpills")
    mergeSpillAcc = spillAcc
    val confEntries = EdfFile.captureConfEntries(spark)
    val outPath = new Path(outDir)
    val driverFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDir(driverFs, outPath, Continuous)
    val existing: Seq[ExistingChannel] =
      if (mode == "append") readExisting(spark, driverFs, outPath, Continuous) else Nil
    // append offset per existing ordinal: the channel's committed value
    // count (manifest property; fallback = committed binary sizes —
    // channel-cardinality file stats). Used identically by the pack
    // (sample_idx shift) and the assembly (stored-stream positions).
    val exOffsets: Map[Int, Long] = existing.map { ex =>
      ex.ord -> ex.count.getOrElse(
        ex.binaryFiles.map(b => driverFs.getFileStatus(new Path(outPath, b)).getLen / 8).sum)
    }.toMap
    val bExisting = spark.sparkContext.broadcast(existing)
    val bExOffsets = spark.sparkContext.broadcast(exOffsets)

    val jobTmpName = s"_tmp-job-${java.util.UUID.randomUUID().toString.take(8)}"
    val jobTmp = new Path(outPath, jobTmpName)
    driverFs.mkdirs(jobTmp)
    val outDirStr = outPath.toString
    val jobTmpStr = jobTmp.toString

    // ---- THE job: the sink's ONLY pass over sample volume. ----
    // map:    pack samples into per-(file, channel, part) blocks, append
    //         routing (shift/skip) resolved inline from the broadcast
    //         existing set — no separate plan scan (r16 verdict #1).
    // shuffle hash on the bin key, BLOCK-cardinality sort on first_idx.
    // reduce: merge-stream each bin's blocks to a temp binary under the
    //         job dir (exact per-sample order restored by a heap merge
    //         that degenerates to plain block streaming outside
    //         adversarially interleaved input) and emit the bin's
    //         DISCOVERY row + contiguous-run SEGMENT rows.
    // shuffle (file, channel) — each channel's one assembly task merges
    //         part-seam segments, streams the channel's new chunk
    //         entries to a job-temp file, and returns a channel-summary
    //         row; collecting those summaries (channel-cardinality) is
    //         what triggers the job.
    val dumpDf = packedDump(packProjection(samples), bExisting, bExOffsets, replayTag, maxSamplesPerFile)

    val segRows: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
      dumpDf.queryExecution.toRdd.mapPartitions { it0 =>
        val tc = TaskContext.get()
        // Binary SAMPLE bytes bypass the local ChecksumFileSystem layer
        // (same rationale as EdfFile.openSeekable, write side): Hadoop's
        // FSOutputSummer pushes every byte through 512-B checksum chunks
        // and writes a .crc sidecar — measurable drag at GB/s output
        // rates, and the read path already handles crc-less binaries.
        // Cluster filesystems (HDFS, object stores) are not
        // ChecksumFileSystems and pass through untouched. Manifests keep
        // the checksummed path (tiny, and append-mode re-READS them
        // through the checksum layer).
        val fs = new Path(jobTmpStr).getFileSystem(EdfFile.confFromEntries(confEntries)) match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }
        val attemptDir = new Path(jobTmpStr,
          s"attempt-b-${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}")
        val spillFiles = new scala.collection.mutable.ArrayBuffer[java.io.File]()
        // failure cleanup: the iterator below cannot use try/finally
        // around consumption (the downstream shuffle writer drives it)
        tc.addTaskCompletionListener[Unit] { _ =>
          try fs.delete(attemptDir, true) catch { case _: Exception => () }
          spillFiles.foreach(f => { f.delete(): Unit })
        }
        // a cursor mid-merge: an overlapping in-memory block, or a
        // spilled sorted run read back from executor-local disk
        sealed abstract class Cur {
          def idx: Long; def ts: Long; def v: Double
          def advance(): Boolean // false once exhausted
        }
        final class BlockCur(first: Long, idxA: Array[Long],
                             tsA: Array[Long], valA: Array[Double]) extends Cur {
          private var pos = 0
          def idx: Long = if (idxA == null) first + pos else idxA(pos)
          def ts: Long = tsA(pos)
          def v: Double = valA(pos)
          def advance(): Boolean = { pos += 1; pos < valA.length }
        }
        final class SpillCur(f: java.io.File, n: Long) extends Cur {
          private val in = new java.io.DataInputStream(
            new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16))
          private var remaining = n
          private var i = 0L; private var t = 0L; private var x = 0.0
          load()
          private def load(): Unit = {
            i = in.readLong(); t = in.readLong(); x = in.readDouble(); remaining -= 1
          }
          def idx: Long = i; def ts: Long = t; def v: Double = x
          def advance(): Boolean =
            if (remaining > 0) { load(); true }
            else { in.close(); f.delete(); false }
        }
        new Iterator[org.apache.spark.sql.Row] {
          private val buf = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)
          private val pending = new scala.collection.mutable.ArrayDeque[org.apache.spark.sql.Row](4)
          private var curFile: org.apache.spark.unsafe.types.UTF8String = null
          private var curChan: org.apache.spark.unsafe.types.UTF8String = null
          private var curPart = 0L
          private var curFileStr: String = null
          private var curChanStr: String = null
          private var gapUs = 0L
          private var tmp: Path = null
          private var tmpName: String = null
          private var out: java.io.OutputStream = null
          private var segStartIdx = 0L; private var segStartTs = 0L
          private var segGapBefore = false; private var segN = 0L
          private var prevTs = 0L
          private var binFresh = false
          private var drained = false

          // one-block lookahead: the sort's output iterator REUSES its
          // UnsafeRow, so a peeked block materializes its arrays at once
          private var peeked = false
          private var nFile: org.apache.spark.unsafe.types.UTF8String = null
          private var nChan: org.apache.spark.unsafe.types.UTF8String = null
          private var nPart = 0L; private var nFirst = 0L
          private var nIdx: Array[Long] = null
          private var nTs: Array[Long] = null
          private var nVal: Array[Double] = null
          private var nRate = 0.0; private var nUnit: String = null
          private def peek(): Boolean = peeked || {
            if (it0.hasNext) {
              val r = it0.next()
              nFile = r.getUTF8String(0).clone(); nChan = r.getUTF8String(1).clone()
              nPart = r.getLong(2); nFirst = r.getLong(3)
              nIdx = if (r.isNullAt(4)) null else r.getArray(4).toLongArray()
              nTs = r.getArray(5).toLongArray()
              nVal = r.getArray(6).toDoubleArray()
              nRate = r.getDouble(7); nUnit = r.getUTF8String(8).toString
              peeked = true
            }
            peeked
          }
          private def peekedIsCur: Boolean =
            curFile != null && nPart == curPart && nFile.equals(curFile) && nChan.equals(curChan)
          private val heap = new java.util.PriorityQueue[Cur](4,
            new java.util.Comparator[Cur] {
              override def compare(a: Cur, b: Cur): Int =
                java.lang.Long.compare(a.idx, b.idx)
            })

          private def flushBuf(): Unit = if (buf.position() > 0) {
            out.write(buf.array(), 0, buf.position()); buf.clear()
          }
          private def emitSeg(): Unit = if (segN > 0) {
            pending.append(org.apache.spark.sql.Row(
              curFileStr, curChanStr, 1, curPart, segStartIdx, segStartTs, prevTs, segN,
              segGapBefore, null, null, null))
            segN = 0
          }
          private def closeBin(): Unit = if (out != null) {
            flushBuf(); out.close(); out = null
            commit(fs, tmp, new Path(jobTmpStr, tmpName))
          }
          private def openBin(): Unit = {
            curFile = nFile; curChan = nChan; curPart = nPart
            curFileStr = curFile.toString; curChanStr = curChan.toString
            gapUs = (2e6 / nRate).toLong
            tmpName = binTmpName(curFileStr, curChanStr, curPart)
            tmp = new Path(attemptDir, tmpName)
            out = fs.create(tmp, true)
            binFresh = true
            // the bin's DISCOVERY row: key, rate/unit, temp binary name
            pending.append(org.apache.spark.sql.Row(
              curFileStr, curChanStr, 0, curPart, nFirst, 0L, null, null, false,
              nRate, nUnit, tmpName))
          }
          private def consume(idx: Long, ts: Long, v: Double): Unit = {
            if (binFresh) {
              segStartIdx = idx; segStartTs = ts; segGapBefore = false
              binFresh = false
            } else if (ts - prevTs > gapUs) {
              emitSeg()
              segStartIdx = idx; segStartTs = ts; segGapBefore = true
            }
            prevTs = ts
            segN += 1
            if (buf.remaining() < 8) flushBuf()
            buf.putDouble(v)
          }
          // heap merge for overlapping same-bin blocks: admits every
          // block whose first_idx precedes the frontier, so the emitted
          // sample order equals a full per-sample sort's whatever the
          // cross-partition interleaving. RESUMABLE (one sample per
          // step-loop iteration): a merge group spanning a gap-heavy bin
          // hands its segment rows to the consumer as they arise, never
          // buffering them for the whole group. Memory is bounded by
          // MaxMergeCursors open blocks (~4M samples); input MORE
          // disordered than that (e.g. a relation round-robin
          // repartitioned >1024 ways scatters every bin across all map
          // partitions) SPILLS: the open cursors merge-drain to one
          // sorted run on executor-local disk and re-enter the heap as a
          // single streaming cursor — unbounded disorder degrades to
          // external-merge I/O instead of failing (review r16 ADVICE).
          // Each spill absorbs >=MaxMergeCursors-1 block cursors, so a
          // bin pays at most blocks/(MaxMergeCursors-1) extra read+write
          // passes of its own bytes.
          private val MaxMergeCursors = 1024
          private var merging = false
          private def spillHeap(): Unit = {
            spillAcc.add(1L)
            val f = java.io.File.createTempFile("graft-sink-spill-", ".run")
            spillFiles += f
            val sOut = new java.io.DataOutputStream(
              new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
            var n = 0L
            while (!heap.isEmpty) {
              val c = heap.poll()
              sOut.writeLong(c.idx); sOut.writeLong(c.ts); sOut.writeDouble(c.v); n += 1
              if (c.advance()) heap.add(c)
            }
            sOut.close()
            heap.add(new SpillCur(f, n))
          }
          private def mergeStep(): Unit = {
            while (pending.isEmpty && !heap.isEmpty) {
              while (peek() && peekedIsCur && nFirst <= heap.peek().idx) {
                if (heap.size() >= MaxMergeCursors) spillHeap()
                heap.add(new BlockCur(nFirst, nIdx, nTs, nVal)); peeked = false
              }
              val c = heap.poll()
              consume(c.idx, c.ts, c.v)
              if (c.advance()) heap.add(c)
            }
            if (heap.isEmpty) merging = false
          }
          private def pump(): Unit = {
            while (pending.isEmpty && (merging || peek())) {
              if (merging) mergeStep()
              else {
                if (!peekedIsCur) { emitSeg(); closeBin(); openBin() }
                val (first, idxA, tsA, valA) = (nFirst, nIdx, nTs, nVal)
                peeked = false
                val n = valA.length
                val lastIdx = if (idxA == null) first + n - 1 else idxA(n - 1)
                if (peek() && peekedIsCur && nFirst <= lastIdx) {
                  heap.add(new BlockCur(first, idxA, tsA, valA))
                  merging = true
                } else {
                  var i = 0
                  if (idxA == null) {
                    while (i < n) { consume(first + i, tsA(i), valA(i)); i += 1 }
                  } else {
                    while (i < n) { consume(idxA(i), tsA(i), valA(i)); i += 1 }
                  }
                }
              }
            }
            if (pending.isEmpty && !drained) {
              drained = true
              emitSeg(); closeBin()
              fs.delete(attemptDir, true)
            }
          }
          override def hasNext: Boolean = { if (pending.isEmpty) pump(); pending.nonEmpty }
          override def next(): org.apache.spark.sql.Row = {
            if (!hasNext) throw new NoSuchElementException
            pending.removeHead()
          }
        }
      }

    // 2. distributed manifest-chunk assembly: every channel's discovery
    // + segment rows land in one partition pre-sorted by (kind,
    // start_index); the owning task MERGES part-seam segments (a part's
    // first segment with no time gap to its predecessor continues the
    // predecessor's chunk), streams the channel's NEW chunk entries to a
    // job-temp file (never holding them in memory), and emits one
    // summary row. Because the segments are the dump's map-side output,
    // this stage is the reduce side of the dump's own shuffle: the whole
    // discovery+write is ONE job, one pass over sample volume.
    val segDf = spark.createDataFrame(segRows, discSegSchema)
    val summaries: Seq[Discovered] = segDf
      .repartition(col("file"), col("channel"))
      .sortWithinPartitions(col("file"), col("channel"), col("kind"), col("start_index"))
      .rdd.mapPartitions { rows =>
        val tc = TaskContext.get()
        val fs = new Path(jobTmpStr).getFileSystem(EdfFile.confFromEntries(confEntries))
        val attemptDir = new Path(jobTmpStr,
          s"attempt-a-${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}")
        tc.addTaskCompletionListener[Unit] { _ =>
          try fs.delete(attemptDir, true) catch { case _: Exception => () }
        }
        val existing = bExisting.value
        val exOff = bExOffsets.value
        val outBuf = new scala.collection.mutable.ArrayBuffer[Discovered]()
        var file: String = null; var channel: String = null
        var rate = 0.0; var unit: String = null
        var parts = List.empty[(Long, String)]
        var start = Long.MaxValue; var end = Long.MinValue
        var prevEnd = Long.MinValue; var nChunks = 0L; var newValues = 0L
        var gapUs = Long.MaxValue
        // chunk 'index' is the chunk's position within the STORED value
        // stream (reference base.py:336-342) — append offset + running
        // sum of emitted values. Identical to sample_idx for dense
        // input; reference-correct (and within the binary's bounds) for
        // filtered/non-dense input where sample_idx has holes.
        var storedPos = 0L
        // pending NEW chunk being extended across part seams
        var havePend = false
        var pendStartTs = 0L; var pendEndTs = 0L; var pendN = 0L
        var chunkTmp: Path = null
        var chunkOut: BufferedOutputStream = null
        def flushPend(): Unit = if (havePend) {
          writeChunk(chunkOut, nChunks == 0, storedPos, pendStartTs)
          nChunks += 1
          storedPos += pendN
          newValues += pendN
          if (pendStartTs < start) start = pendStartTs
          if (pendEndTs > end) end = pendEndTs
          havePend = false
        }
        def finishChannel(): Unit = if (channel != null) {
          flushPend()
          chunkOut.close(); chunkOut = null
          commit(fs, chunkTmp, new Path(jobTmpStr, chunkTmpName(file, channel)))
          outBuf += Discovered(file, channel, rate, unit, start, end, newValues, nChunks,
            parts.reverse)
          channel = null
        }
        rows.foreach { r =>
          val f = r.getString(0); val c = r.getString(1)
          if (c != channel || f != file) {
            finishChannel()
            file = f; channel = c
            rate = 0.0; unit = null; parts = Nil
            start = Long.MaxValue; end = Long.MinValue
            nChunks = 0L; newValues = 0L
            val ex = matchExisting(existing, c, r.getDouble(9), Continuous)
            prevEnd = ex.map(_.end).getOrElse(Long.MinValue)
            storedPos = ex.map(e => exOff.getOrElse(e.ord, 0L)).getOrElse(0L)
            chunkTmp = new Path(attemptDir, "chunks")
            chunkOut = new BufferedOutputStream(fs.create(chunkTmp, true), 1 << 16)
          }
          if (r.getInt(2) == 0) {
            // discovery row: first one fixes the channel's rate/unit
            if (unit == null) {
              rate = r.getDouble(9); unit = r.getString(10)
              gapUs = (2e6 / rate).toLong
            }
            parts ::= (r.getLong(3), r.getString(11))
          } else {
            val startTs = r.getLong(5)
            val endTs = r.getLong(6)
            // non-overlap invariant (reference base.py:87-95): appended
            // chunks start strictly after everything already committed
            require(startTs > prevEnd, s"overlapping chunks in channel $channel")
            prevEnd = endTs
            if (havePend && !r.getBoolean(8) && startTs - pendEndTs <= gapUs) {
              // part-seam continuation: the segment's part began with
              // no time gap to the previous part's tail — same chunk
              pendEndTs = endTs; pendN += r.getLong(7)
            } else {
              flushPend()
              havePend = true
              pendStartTs = startTs
              pendEndTs = endTs; pendN = r.getLong(7)
            }
          }
        }
        finishChannel()
        outBuf.iterator
      }.collect().toSeq.sortBy(d => (d.file, d.channel))

    // ---- driver reconcile: channel-cardinality, zero sample I/O ----
    val plan = planDir(Continuous, existing,
      summaries.map(d => ((d.file, d.channel), d.rate, d.parts.map(_._1))))
    prepareDir(driverFs, outPath, plan, overwrite = mode == "overwrite")
    val commitTasks: Seq[CommitTask] = summaries.map { d =>
      val binRenames = d.parts.sortBy(_._1).map { case (p, tmpN) =>
        (tmpN, plan.names((d.file, d.channel, p)))
      }
      val newBins = binRenames.map(_._2)
      plan.matched.get((d.file, d.channel)) match {
        case Some(ex) =>
          CommitTask(ex.ord, ex.name, ex.unit, ex.rate,
            binRenames, ex.binaryFiles ++ newBins,
            exOffsets(ex.ord), Some(ex.start), Some(ex.end), replayTag,
            Some(Continuous.stagedName(ex.ord)), chunkTmpName(d.file, d.channel),
            d.start, d.end, d.newValues, d.nChunks)
        case None =>
          CommitTask(plan.ords((d.file, d.channel)), d.channel, d.unit, d.rate,
            binRenames, newBins, 0L, None, None, replayTag,
            None, chunkTmpName(d.file, d.channel),
            d.start, d.end, d.newValues, d.nChunks)
      }
    }

    // ---- commit job: channel-cardinality renames + manifest compose ----
    if (commitTasks.nonEmpty) {
      val slices = math.min(commitTasks.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(commitTasks, slices).foreach { t =>
        val tc = TaskContext.get()
        val fs = new Path(outDirStr).getFileSystem(EdfFile.confFromEntries(confEntries))
        val attemptDir = new Path(jobTmpStr, s"attempt-c-${tc.partitionId()}-${tc.taskAttemptId()}")
        try {
          // binaries: job-temp -> final. commit() makes retries and
          // speculative duplicates idempotent (both attempts rename the
          // SAME job-temp source; the loser sees the committed dest).
          t.binRenames.foreach { case (tmpN, dest) =>
            commit(fs, new Path(jobTmpStr, tmpN), new Path(outDirStr, dest))
          }
          // manifest: existing chunks (from the staged original, streamed
          // — never materialized) then new chunks; header fields were
          // computed at reconcile
          commitManifest(fs, new Path(attemptDir, f"manifest-${t.ord}%05d"), outDirStr,
            Continuous, t.ord, t.name,
            math.min(t.newStart, t.exStart.getOrElse(Long.MaxValue)),
            math.max(t.newEnd, t.exEnd.getOrElse(Long.MinValue)),
            t.unit, t.rate, t.binaryFiles, t.exNumValues + t.newValues, Nil, t.appendTag) { out =>
            var wrote = 0L
            t.stagedManifest.foreach { sm =>
              streamExistingChunks(fs, new Path(outDirStr, sm)) { (idx, st) =>
                writeChunk(out, wrote == 0, idx, st)
                wrote += 1
              }
            }
            if (t.nChunksNew > 0) {
              if (wrote > 0) out.write(", ".getBytes(StandardCharsets.UTF_8))
              // copy WITHOUT deleting: a task retry must find it again
              copyFile(fs, new Path(jobTmpStr, t.chunkTmp), out)
            }
          }
        } finally {
          try fs.delete(attemptDir, true) catch { case _: Exception => () }
        }
      }
    }
    driverFs.delete(jobTmp, true)
    finishDir(driverFs, outPath, plan)
  }

  /** A8b sink: UNIT (spike) channel serialization in the reference's
    * spike contract (base.py:223-263 `write_spike_data`). Input columns:
    * `file, channel, ts_us (long), unit_id (int), waveform
    * (array<double>)` — [[graft.operators.TimeSeries.tsSpikeWaveforms]]
    * output reshapes to this with one `array(...)` select.
    *
    * Per (file, channel) binary layout, all little-endian:
    * {{{
    * waveform_offset int64   -- bytes of the spike-record region (9 * n)
    * num_spikes      int64
    * num_samples     int64   -- waveform samples per spike
    * spike records:  timestamp int64 + unit uint8, each
    * waveforms:      num_spikes x num_samples float64
    * }}}
    * One divergence, deliberate: the reference stacks waveforms by
    * PREPENDING (`np.vstack((spike.waveforms, wf))`, base.py:248-251),
    * which stores them in reverse spike order while the records are
    * forward — a latent bug nothing in the reference reads back. We
    * write waveforms in spike-record order.
    *
    * Scale shape: one shuffle keyed by (file, channel); each owning task
    * streams records and waveforms to two temp files (counts are only
    * known at stream end — the header + record + waveform compose happens
    * at commit, nothing buffers in memory) and commits the channel's UNIT
    * manifest (start/end from first/last spike, reference
    * base.py:253-261). Directory handling — recovery, append matching
    * (name only), generation names, ordinals, staging and the
    * `channels_unit.json` index — is the channel-directory protocol of
    * the object doc, in its UNIT namespace. Returns the index path.
    */
  def writeSpikes(spikes: DataFrame, outDir: String, mode: String = "overwrite"): String = {
    require(mode == "overwrite" || mode == "append", s"mode must be overwrite|append, got $mode")
    val spark = spikes.sparkSession
    val confEntries = EdfFile.captureConfEntries(spark)
    val outPath = new Path(outDir)
    val driverFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDir(driverFs, outPath, Spikes)
    val existing = if (mode == "append") readExisting(spark, driverFs, outPath, Spikes) else Nil
    // one binary (part 0) per channel per run
    val keys = spikes.select(col("file"), col("channel")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val plan = planDir(Spikes, existing, keys.map(k => (k, 0.0, Seq(0L))))
    prepareDir(driverFs, outPath, plan, overwrite = mode == "overwrite")
    val bPlan = spark.sparkContext.broadcast(plan)
    val outDirStr = outPath.toString

    spikes
      .select(col("file"), col("channel"), col("ts_us"), col("unit_id"), col("waveform"))
      .repartition(col("file"), col("channel"))
      .sortWithinPartitions(col("file"), col("channel"), col("ts_us"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val tc = TaskContext.get()
        // spike waveform volume takes the same raw-FS write path as the
        // sample binaries (see the sample writer's rationale); the tiny
        // UNIT manifests ride along — pre-cleans all go through the
        // checksum-aware driver FS, so no stale .crc pair can survive
        val fs = new Path(outDirStr).getFileSystem(EdfFile.confFromEntries(confEntries)) match {
          case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
          case other => other
        }
        val attemptDir = new Path(outDirStr,
          s"_tmp-s${tc.stageId()}-${tc.partitionId()}-attempt-${tc.taskAttemptId()}")
        var key: (String, String) = null
        var recTmp: Path = null; var wfTmp: Path = null
        var recOut: BufferedOutputStream = null; var wfOut: BufferedOutputStream = null
        var nSpikes = 0L; var nSamples = -1L
        var firstTs = 0L; var lastTs = 0L
        val b8 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        def putLong(out: java.io.OutputStream, v: Long): Unit = {
          b8.clear(); b8.putLong(v); out.write(b8.array())
        }
        def putDouble(out: java.io.OutputStream, v: Double): Unit = {
          b8.clear(); b8.putDouble(v); out.write(b8.array())
        }
        def finishChannel(): Unit = if (key != null) {
          recOut.close(); recOut = null
          wfOut.close(); wfOut = null
          val tmp = new Path(attemptDir, "composed")
          val out = new BufferedOutputStream(fs.create(tmp, true), 1 << 16)
          putLong(out, 9L * nSpikes)   // waveform_offset = len(spike record region)
          putLong(out, nSpikes)
          putLong(out, math.max(nSamples, 0L))
          copyFile(fs, recTmp, out)
          copyFile(fs, wfTmp, out)
          out.close()
          val p = bPlan.value
          val bin = p.names((key._1, key._2, 0L))
          commit(fs, tmp, new Path(outDirStr, bin))
          // UNIT channel manifest (reference base.py:253-261: channel
          // start/end extend to the spike horizon; append merges the
          // existing descriptor and lists every generation binary)
          val ex = p.matched.get(key)
          require(ex.forall(firstTs > _.end),
            s"appended spikes must start after channel ${key._2}'s existing end")
          commitManifest(fs, new Path(attemptDir, "manifest"), outDirStr, Spikes, p.ords(key),
            ex.fold(key._2)(_.name),
            ex.fold(firstTs)(e => math.min(firstTs, e.start)),
            ex.fold(lastTs)(e => math.max(lastTs, e.end)),
            "uV", 0.0, ex.fold(Seq.empty[String])(_.binaryFiles) :+ bin,
            ex.flatMap(_.count).getOrElse(0L) + nSpikes,
            Seq("numSamples" -> math.max(nSamples, 0L).toString), None)(_ => ())
          key = null
        }
        try {
          rows.foreach { r =>
            val k = (r.getString(0), r.getString(1))
            if (k != key) {
              finishChannel()
              key = k; nSpikes = 0L; nSamples = -1L
              recTmp = new Path(attemptDir, "records"); wfTmp = new Path(attemptDir, "waveforms")
              recOut = new BufferedOutputStream(fs.create(recTmp, true), 1 << 16)
              wfOut = new BufferedOutputStream(fs.create(wfTmp, true), 1 << 16)
            }
            val ts = r.getLong(2)
            if (nSpikes == 0L) firstTs = ts
            lastTs = ts
            putLong(recOut, ts)
            val unitId = r.getInt(3)
            // uint8 on disk — out-of-range must fail loudly (the
            // reference's bytearray([unit]) raises), never truncate
            require(unitId >= 0 && unitId <= 255,
              s"unit_id $unitId out of uint8 range in channel ${key._2}")
            recOut.write(unitId)
            val wf = r.getSeq[Any](4)
            if (nSamples < 0) nSamples = wf.size.toLong
            require(wf.size.toLong == nSamples,
              s"ragged waveforms in channel ${key._2}: ${wf.size} vs $nSamples")
            wf.foreach {
              case null => putDouble(wfOut, Double.NaN)
              case d: Double => putDouble(wfOut, d)
              case other => throw new IllegalArgumentException(s"waveform element $other")
            }
            nSpikes += 1
          }
          finishChannel()
        } finally {
          if (recOut != null) recOut.close()
          if (wfOut != null) wfOut.close()
          fs.delete(attemptDir, true)
        }
      }

    finishDir(driverFs, outPath, plan)
  }
}
