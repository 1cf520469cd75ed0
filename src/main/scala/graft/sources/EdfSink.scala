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
  * Scale shape: each writer hash-partitions its input by
  * (file, channel), so one task owns each channel. The task streams the
  * channel to its binary under the run's job-temp dir (the sample writer
  * also streams its contiguous-chunk entries to a chunk file: a
  * gap-heavy 100 TB corpus can have millions of chunks per channel, and
  * they never visit the driver) and returns one summary row. A
  * channel-cardinality commit job then renames the binaries and composes
  * the manifests, and the driver stream-concatenates the committed
  * manifests into the index (file-level I/O, memory O(copy buffer)).
  * Driver state is bounded by channels, independent of both sample and
  * chunk volume.
  *
  * CHANNEL DIRECTORY: `write` (CONTINUOUS channels) and `writeSpikes`
  * (UNIT channels) share one directory protocol and one commit path
  * ([[writeDir]]), parameterised by a [[Namespace]]:
  * {{{
  *              manifests                 index               staged copy              count      binary
  * CONTINUOUS   channel[-NNNNN].json      channels.json       staged-manifest-N        numValues  .ts.bin
  * UNIT         unit-channel[-NNNNN].json channels_unit.json  staged-unit-manifest-N   numSpikes  .spikes.bin
  * }}}
  * Every file of one namespace is named so no pattern of the other
  * matches it, so both writers can share one outDir and an overwrite
  * run replaces only its own namespace. The protocol's steps, in order:
  * recover (restore staged manifests, sweep temp dirs; an append reads
  * the manifest headers on the driver and broadcasts them); discover (the
  * writer job: each task commits its channels' binaries under the
  * job-temp dir and returns one [[Discovered]] row per channel);
  * reconcile on the driver (match, plan final binary names and ordinals,
  * stage matched manifests, pre-clean); commit (one job renames the
  * binaries and composes every rewritten manifest with one renderer);
  * finish (check every rewritten manifest exists, concatenate the index).
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
  * Each task writes to a task-attempt temp directory under the run's
  * job-temp dir and commits each finished file by rename; if a speculative or retried
  * attempt already committed the same file, the loser detects the
  * existing destination and discards its temp file, so concurrent
  * attempts can never truncate or interleave a committed stream.
  */
object EdfSink {

  /** Gap boundary: delta-ts > 2x the sampling period (reference
    * base.py:322-342). Detection is FUSED into the binary dump pass (see
    * `write`): the dump's shuffle already delivers every (file, channel)
    * stream to one task sorted by sample_idx, so the task detects
    * boundaries between consecutive rows for free while streaming values
    * to the binary file, and writes one chunk entry per contiguous run it
    * sees. No second pass over sample volume exists — the old design's
    * sample-volume lag self-join re-derived ordering the dump's sort had
    * already established (the probe-measured 5 MiB/s sink floor).
    *
    * Chunk stats come from the rows actually streamed, so
    * filtered/non-dense sample_idx input yields self-consistent manifests
    * — a missing index is a chunk boundary only if it leaves a real time
    * gap.
    */
  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  /** A manifest namespace of the channel directory (see the object doc).
    * `sampled` channels carry a rate (matched within 2 %) and contiguous
    * chunks; spike channels have neither. Both write one binary per
    * channel per run.
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
    * writer tasks commit into the run's own job-temp dir, and
    * [[prepareDir]] pre-deletes every planned final destination before
    * the commit job starts, so a re-run into a non-empty outDir can never
    * silently keep a previous run's bytes.
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

  /** An existing channel, from its committed manifest's header (read on
    * the driver, chunk array streamed past). `count` is the namespace's
    * count property, the count an append continues from: the sample pack
    * shifts sample_idx by it and the commit adds the new count to it.
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
      count: Long,
      appendTag: Option[String] = None)

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

  private lazy val manifestJson = new com.fasterxml.jackson.core.JsonFactoryBuilder()
    .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS).build()

  /** Parse one committed manifest with Jackson's streaming parser (on
    * Spark's classpath), in O(1) memory in its chunk count: returns its
    * scalar header fields and its properties (a value's string, or its
    * array's strings), and hands each `contiguousChunks` entry
    * (index, start) to `onChunk` as it is read. The driver reads headers
    * with a no-op `onChunk`; the commit task that merges an append
    * streams the staged original's chunks. A file that is not valid JSON
    * fails with an `IllegalArgumentException` naming it.
    */
  private def readManifest(fs: FileSystem, p: Path)(onChunk: (Long, Long) => Unit)
      : (Map[String, String], Map[String, Seq[String]]) = {
    import com.fasterxml.jackson.core.{JsonProcessingException, JsonToken}
    def bad(why: String) = new IllegalArgumentException(s"manifest $p is not valid JSON: $why")
    val in = fs.open(p)
    try {
      val jp = manifestJson.createParser(in: java.io.InputStream)
      val header = Map.newBuilder[String, String]
      val props = Map.newBuilder[String, Seq[String]]
      // each field of the object the parser has just opened, with its value
      // token current; a value `f` leaves unread is skipped whole
      def fields(f: String => Unit): Unit =
        while (jp.nextToken() == JsonToken.FIELD_NAME) {
          val n = jp.currentName(); jp.nextToken(); f(n); jp.skipChildren()
        }
      def objects(f: => Unit): Unit =
        if (jp.currentToken() == JsonToken.START_ARRAY) while (jp.nextToken() == JsonToken.START_OBJECT) f
      def values(): Seq[String] =
        if (jp.currentToken() != JsonToken.START_ARRAY) Option(jp.getValueAsString).toSeq
        else Iterator.continually(jp.nextToken()).takeWhile(t => t != null && t != JsonToken.END_ARRAY)
          .map { _ => val v = jp.getText; jp.skipChildren(); v }.toSeq
      if (jp.nextToken() != JsonToken.START_OBJECT) throw bad("not an object")
      fields {
        case "contiguousChunks" => objects {
          var idx, st = 0L
          fields {
            case "index" => idx = jp.getLongValue
            case "start" => st = jp.getLongValue
            case _ => ()
          }
          onChunk(idx, st)
        }
        case "properties" => objects {
          var k: String = null; var v = Seq.empty[String]
          fields {
            case "key" => k = jp.getValueAsString
            case "value" => v = values()
            case _ => ()
          }
          Option(k).foreach(props += _ -> v)
        }
        case f => Option(jp.getValueAsString).foreach(header += f -> _)
      }
      if (jp.currentToken() != JsonToken.END_OBJECT) throw bad("the object does not close")
      (header.result(), props.result())
    } catch {
      case e: JsonProcessingException => throw bad(e.getOriginalMessage)
    } finally in.close()
  }

  /** The namespace's committed manifests, in ordinal order, as existing
    * channels (driver state stays channel-cardinality however
    * chunk-heavy the history is). Returns Nil when the directory has no
    * prior run. A manifest that lacks a header field, or whose field or
    * count does not parse, fails with an `IllegalArgumentException`
    * naming it. A CONTINUOUS manifest without a count falls back to its
    * binaries' sizes (channel-cardinality file stats).
    */
  private def readExisting(fs: FileSystem, outPath: Path, ns: Namespace): Seq[ExistingChannel] =
    Iterator.from(0).map(i => new Path(outPath, ns.manifestName(i))).takeWhile(fs.exists)
      .zipWithIndex.map { case (p, i) =>
        val (head, props) = readManifest(fs, p)((_, _) => ())
        def field[T](k: String, v: Option[String])(parse: String => Option[T]): T =
          v.flatMap(parse).getOrElse(throw new IllegalArgumentException(s"manifest $p lacks a well-formed '$k'"))
        def str(k: String) = field(k, head.get(k))(Some(_))
        def long(k: String) = field(k, head.get(k))(_.toLongOption)
        val bins = props.get("binaryFiles").orElse(props.get("binaryFile")).getOrElse(Nil)
        ExistingChannel(i, str("name"), str("unit"), field("rate", head.get("rate"))(_.toDoubleOption),
          head.getOrElse("type", ns.chanType), long("start"), long("end"), bins,
          props.get(ns.countKey).map(v => field(ns.countKey, v.headOption)(_.toLongOption)).getOrElse(
            if (!ns.sampled) 0L else bins.map(b => fs.getFileStatus(new Path(outPath, b)).getLen / 8).sum),
          props.get("appendTag").flatMap(_.headOption))
      }.toSeq

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
    * the final binary name of every (file, channel), and every output
    * ordinal.
    */
  private case class DirPlan(
      ns: Namespace,
      existing: Seq[ExistingChannel],
      matched: Map[(String, String), ExistingChannel],
      newKeys: Seq[(String, String)],
      names: Map[(String, String), String], // (file, channel) -> final binary
      ords: Map[(String, String), Int]) {
    def matchedOrds: Seq[Int] = matched.values.map(_.ord).toSeq.sorted
  }

  /** Plan the incoming channels `(key, rate)`. New channels take the
    * overwrite naming (`planNames`); matched channels continue as
    * generation files `<base>-gNN<suffix>` after the existing binaries,
    * never overwriting them. Ordinals: existing channels keep theirs, new
    * channels append after in sorted (file, channel) order — the index
    * order.
    */
  private def planDir(ns: Namespace, existing: Seq[ExistingChannel],
                      incoming: Seq[((String, String), Double)]): DirPlan = {
    val sorted = incoming.sortBy(_._1)
    val keys = sorted.map(_._1)
    val matched = sorted.flatMap { case (k, rate) =>
      matchExisting(existing, k._2, rate, ns).map(k -> _)
    }.toMap
    matched.groupBy(_._2.ord).foreach { case (_, ms) =>
      require(ms.size == 1,
        s"append mode: ${ms.size} incoming channels match existing '${ms.head._2.name}' — " +
          s"append one session per channel at a time: ${ms.keys.toSeq.sorted}")
    }
    val newKeys = keys.filterNot(matched.contains)
    val names = planNames(newKeys, keys.map(_._1).distinct.size > 1, ns.binSuffix) ++
      matched.map { case (k, ex) =>
        val base = ex.binaryFiles.headOption.getOrElse(binName(k._1, k._2, multiFile = false, ns.binSuffix))
          .stripSuffix(ns.binSuffix).replaceAll("(-g\\d{2})?$", "")
        k -> f"$base-g${ex.binaryFiles.size}%02d${ns.binSuffix}"
      }
    // a generation suffix could in principle collide with a sibling
    // channel's sanitized name — uniqueness must hold over the FINAL
    // names, and in append mode new names must also miss every committed
    // binary
    require(names.values.toSet.size == names.size,
      s"binary names not unique after generation suffixing: ${names.values.toSeq.sorted}")
    val committed = existing.flatMap(_.binaryFiles).toSet
    val clash = names.values.toSeq.filter(committed.contains)
    require(clash.isEmpty, s"append mode: planned binaries collide with committed ones: $clash " +
      "(an unmatched incoming channel shares a sanitized name with an existing channel — rename it)")
    val ords = matched.map { case (k, ex) => k -> ex.ord } ++
      newKeys.zipWithIndex.map { case (k, i) => k -> (existing.size + i) }
    DirPlan(ns, existing, matched, newKeys, names, ords)
  }

  /** Before the commit job. Stage matched channels' manifests out of the
    * way (driver rename): an append's commit reads the existing chunk
    * array from the staged copy while the merged manifest commits to the
    * now-free destination — immune to task retries re-reading a
    * half-overwritten file, and recoverable by [[recoverDir]] if this
    * run dies mid-way. Then pre-clean final destinations so the commit's
    * renames can never silently lose to a previous run's files.
    * Overwrite: planned destinations, and this namespace's manifests and
    * index (only its own: the other namespace in the same outDir is
    * untouched). Append: only this run's planned NEW files and the NEW
    * ordinals' manifest slots (stale output from a crashed run).
    */
  private def prepareDir(fs: FileSystem, outPath: Path, plan: DirPlan, overwrite: Boolean): Unit = {
    val ns = plan.ns
    def delete(name: String): Boolean = fs.delete(new Path(outPath, name), false)
    plan.matchedOrds.foreach { o =>
      val dest = new Path(outPath, ns.stagedName(o))
      fs.delete(dest, false)
      require(fs.rename(new Path(outPath, ns.manifestName(o)), dest),
        s"failed to stage existing manifest ${ns.manifestName(o)}")
    }
    plan.names.values.foreach(delete)
    if (overwrite) {
      delete(ns.manifestName(0))
      fs.globStatus(new Path(outPath, s"${ns.stem}-*.json")).foreach(s => fs.delete(s.getPath, false))
      delete(ns.index)
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
      s"${ns.chanType} manifest commit incomplete")
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
    * map-side PACK into per-(file, channel) blocks of up to
    * [[PackBlock]] samples. Routing state (append match -> sample_idx
    * shift, replay-tag skip) is resolved INSIDE the pack loop from the
    * broadcast existing-channel set with a last-run cache, so the sink
    * plans nothing from a separate data scan: the r16 design decoded
    * every sample TWICE (a plan scan to discover (file, channel)
    * keys, then the pack) and the plan scan had become the measured
    * ceiling — 4.5 s of the 4 GiB probe's 5.2 s wall (r16 verdict #1).
    * Discovery now rides the pack itself: each reduce task reports the
    * channels it actually wrote, and the driver reconciles names/ordinals
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
    StructField("first_idx", LongType, nullable = false),
    StructField("idxs", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("tss", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("vals", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("rate", DoubleType, nullable = false),
    StructField("unit", StringType, nullable = false)))

  private def packedDump(projected: DataFrame,
      bExisting: org.apache.spark.broadcast.Broadcast[Seq[ExistingChannel]],
      replayTag: Option[String]): DataFrame = {
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
        val open = new java.util.HashMap[(String, String), PackBuf]()
        val existing = bExisting.value
        // per-(file, channel) route memo: (sample_idx shift, replay skip).
        // The append match is the same deterministic matchExisting the
        // driver reconcile re-applies to the discovered keys.
        val routeMemo = new java.util.HashMap[(String, String), (Long, Boolean)]()
        // run cache: last (file, channel) -> route, key tuple, and that
        // key's open block (null until looked up, and again once the
        // block is emitted) — the open-block map is hashed once per run,
        // not once per sample
        var lastFile: UTF8String = null
        var lastChan: UTF8String = null
        var lastFileRef: UTF8String = null
        var lastChanRef: UTF8String = null
        var lastOff = 0L
        var lastSkip = false
        var lastKey: (String, String) = null
        var lastBuf: PackBuf = null
        def newRun(f: UTF8String, c: UTF8String, rate: Double): Unit = {
          // clone: a row's UTF8Strings may point into a reused row buffer;
          // the references serve only the identity check
          lastFileRef = f; lastChanRef = c
          lastFile = f.clone(); lastChan = c.clone()
          val mk = (lastFile.toString, lastChan.toString)
          var r = routeMemo.get(mk)
          if (r == null) {
            r = matchExisting(existing, mk._2, rate, Continuous) match {
              case Some(ex) =>
                (ex.count, replayTag.exists(t => ex.appendTag.contains(t)))
              case None => (0L, false)
            }
            routeMemo.put(mk, r)
          }
          lastOff = r._1; lastSkip = r._2
          lastKey = mk; lastBuf = null
        }
        def emit(key: (String, String), b: PackBuf): InternalRow = {
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
          val row = new GenericInternalRow(8)
          row.update(0, UTF8String.fromString(key._1))
          row.update(1, UTF8String.fromString(key._2))
          row.setLong(2, idxA(0))
          row.update(3, if (dense) null else UnsafeArrayData.fromPrimitiveArray(idxA))
          row.update(4, UnsafeArrayData.fromPrimitiveArray(tsA))
          row.update(5, UnsafeArrayData.fromPrimitiveArray(valA))
          row.setDouble(6, b.rate)
          row.update(7, UTF8String.fromString(b.unit))
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
                if (lastBuf == null) lastBuf = open.get(lastKey)
                if (lastBuf == null) {
                  if (open.size >= MaxOpenBins) {
                    // flush the fullest open block to bound memory at
                    // (MaxOpenBins x PackBlock x 24 B) on very wide inputs
                    var maxK: (String, String) = null; var maxN = -1
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
    // the exchange: hash repartition on the (file, channel) key and a
    // BLOCK-cardinality sort on (file, channel, first_idx). The keys are
    // the raw strings — at block cardinality (1 row per 4096 samples) the
    // hash/compare cost of a string key is noise, and it frees the sink
    // from any pre-computed key -> id map (the r16 plan scan this design
    // deleted).
    org.apache.spark.sql.graft.DatasetShim
      .internalCreateDataFrame(spark, packedRdd, packSchema)
      .repartition(col("file"), col("channel"))
      .sortWithinPartitions(col("file"), col("channel"), col("first_idx"))
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

  /** One incoming channel as its writer task streamed it: the reconcile
    * step's whole input (channel-cardinality). The task has committed
    * the channel's binary under the job dir ([[binTmpName]]; a CONTINUOUS
    * channel also its chunk entries, [[chunkTmpName]]). `count` is this
    * run's values or spikes; `extra` properties follow the namespace's
    * count property in the manifest.
    */
  private case class Discovered(
      file: String, channel: String, rate: Double, unit: String,
      start: Long, end: Long, count: Long, extra: Seq[(String, String)] = Nil)

  /** Test observability: merge-window spills, counted through a Spark
    * accumulator so executor-JVM spills aggregate back to the driver
    * under ANY master (local[n] and local-cluster alike) — specs assert
    * the spill path was actually exercised, not merely that output
    * stayed correct. Reassigned per write() call; reads are last-write.
    */
  @volatile private[graft] var mergeSpillAcc: org.apache.spark.util.LongAccumulator = _
  private[graft] def mergeSpillCount: Long = Option(mergeSpillAcc).fold(0L)(_.value)

  private def sha1Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }
  private def binTmpName(file: String, channel: String): String =
    "bin-" + sha1Hex(file + "\u0000" + channel)
  private def chunkTmpName(file: String, channel: String): String =
    "chunks-" + sha1Hex(file + "\u0000" + channel)

  /** One output channel's commit work: rename its job-temp binary to its
    * final name `binary` and compose + commit its manifest at ordinal
    * `ord`, merging the existing channel `ex` when it continues one.
    * Built by the driver reconcile, executed by the (channel-cardinality)
    * commit job.
    */
  private case class CommitTask(d: Discovered, ord: Int, binary: String, ex: Option[ExistingChannel])

  /** What a writer job gets from [[writeDir]]: the namespace's existing
    * channels (broadcast; empty for an overwrite), the job-temp dir its
    * tasks commit under, and the driver's Hadoop conf entries.
    */
  private final case class WriterRun(
      existing: org.apache.spark.broadcast.Broadcast[Seq[ExistingChannel]],
      jobTmp: String,
      confEntries: Seq[(String, String)]) {

    /** The job-temp dir's file system, rebuilt in a task, without the
      * local ChecksumFileSystem layer (same rationale as
      * EdfFile.openSeekable, write side): Hadoop's FSOutputSummer pushes
      * every byte through 512-B checksum chunks and writes a .crc
      * sidecar — measurable drag at GB/s output rates for binaries, and
      * the read path handles crc-less binaries. Manifests keep the
      * checksummed path (the commit job's).
      */
    def rawFs: FileSystem = new Path(jobTmp).getFileSystem(EdfFile.confFromEntries(confEntries)) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
  }

  /** The channel-directory protocol of the object doc for one run in
    * namespace `ns`: recover and read the existing manifest headers, run
    * `writer` (the discover job, which commits each channel's binary
    * under the job-temp dir and returns its [[Discovered]] rows), then
    * reconcile, run the commit job and finish. Returns the index path.
    */
  private def writeDir(spark: SparkSession, outDir: String, ns: Namespace, mode: String,
                       appendTag: Option[String])(writer: WriterRun => Seq[Discovered]): String = {
    require(mode == "overwrite" || mode == "append", s"mode must be overwrite|append, got $mode")
    require(appendTag.isEmpty || mode == "append", "replayTag only applies to append mode")
    val confEntries = EdfFile.captureConfEntries(spark)
    val outPath = new Path(outDir)
    val driverFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverDir(driverFs, outPath, ns)
    val existing = if (mode == "append") readExisting(driverFs, outPath, ns) else Nil
    val jobTmp = new Path(outPath, s"_tmp-job-${java.util.UUID.randomUUID().toString.take(8)}")
    driverFs.mkdirs(jobTmp)
    val outDirStr = outPath.toString
    val jobTmpStr = jobTmp.toString
    val plan = try {
      val discovered = writer(WriterRun(spark.sparkContext.broadcast(existing), jobTmpStr, confEntries))
        .sortBy(d => (d.file, d.channel))

      // ---- reconcile, on the driver: channel-cardinality, zero data I/O ----
      val plan = planDir(ns, existing, discovered.map(d => ((d.file, d.channel), d.rate)))
      prepareDir(driverFs, outPath, plan, overwrite = mode == "overwrite")
      val commitTasks = discovered.map { d =>
        val key = (d.file, d.channel)
        CommitTask(d, plan.ords(key), plan.names(key), plan.matched.get(key))
      }

      // ---- commit job: channel-cardinality renames + manifest compose ----
      if (commitTasks.nonEmpty) {
        val slices = math.min(commitTasks.size,
          math.max(1, spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(commitTasks, slices).foreach { case CommitTask(d, ord, binary, ex) =>
          val tc = TaskContext.get()
          val fs = new Path(outDirStr).getFileSystem(EdfFile.confFromEntries(confEntries))
          val attemptDir = new Path(jobTmpStr, s"attempt-c-${tc.partitionId()}-${tc.taskAttemptId()}")
          try {
            // binary: job-temp -> final. commit() makes retries and
            // speculative duplicates idempotent (both attempts rename the
            // SAME job-temp source; the loser sees the committed dest).
            commit(fs, new Path(jobTmpStr, binTmpName(d.file, d.channel)), new Path(outDirStr, binary))
            // manifest: a matched channel keeps its name, unit and rate;
            // existing chunks (from the staged original, streamed — never
            // materialized) then new chunks
            commitManifest(fs, new Path(attemptDir, f"manifest-$ord%05d"), outDirStr, ns, ord,
              ex.fold(d.channel)(_.name), ex.fold(d.start)(e => math.min(d.start, e.start)),
              ex.fold(d.end)(e => math.max(d.end, e.end)), ex.fold(d.unit)(_.unit),
              ex.fold(d.rate)(_.rate), ex.fold(Seq.empty[String])(_.binaryFiles) :+ binary,
              ex.fold(0L)(_.count) + d.count, d.extra, appendTag) { out =>
              var wrote = 0L
              ex.foreach { e =>
                readManifest(fs, new Path(outDirStr, ns.stagedName(e.ord))) { (idx, st) =>
                  writeChunk(out, wrote == 0, idx, st)
                  wrote += 1
                }: Unit
              }
              if (ns.sampled) {
                if (wrote > 0) out.write(", ".getBytes(StandardCharsets.UTF_8))
                // copy WITHOUT deleting: a task retry must find it again
                copyFile(fs, new Path(jobTmpStr, chunkTmpName(d.file, d.channel)), out)
              }
            }
          } finally {
            try fs.delete(attemptDir, true) catch { case _: Exception => () }
          }
        }
      }
      plan
    } finally driverFs.delete(jobTmp, true)
    finishDir(driverFs, outPath, plan)
  }

  /** Write the binary + manifest output for a sample DataFrame
    * (schema = EdfFile.sampleSchema). Returns the index path.
    *
    * Three jobs per call, in overwrite and append mode alike: the pack's
    * shuffle map, the writer (the discover step of [[writeDir]]: one task
    * owns each channel and commits its binary and chunk entries under the
    * job-temp dir) and the commit job. An append reads the existing
    * manifest headers on the driver, with no job.
    *
    * Chunk stats (start/end ts, counts) are derived from the rows
    * actually streamed, so FILTERED input (artifact-removed samples,
    * value-thresholded slices — sample_idx with mid-stream holes) yields
    * self-consistent manifests: a missing index opens a new chunk only
    * when it leaves a time gap > 2 sampling periods, exactly the
    * reference's gap rule over the surviving samples.
    *
    * `mode` is "overwrite" (default; destination pre-cleaned) or
    * "append" (reference append mode, see object doc).
    *
    * Input ORDER tolerance: the packed exchange restores exact
    * per-sample order however the input partitions interleave. Up to
    * `MaxMergeCursors` (1024) simultaneously overlapping blocks per
    * channel (~4M samples of interleaving) merge in memory; anything
    * beyond spills to executor-local sorted runs — arbitrarily
    * disordered input is always correct, merely slower.
    */
  def write(samples: DataFrame, outDir: String,
            mode: String = "overwrite",
            replayTag: Option[String] = None): String = {
    val spillAcc = samples.sparkSession.sparkContext.longAccumulator("graft.sink.mergeSpills")
    mergeSpillAcc = spillAcc
    writeDir(samples.sparkSession, outDir, Continuous, mode, replayTag)(
      sampleWriter(samples, replayTag, spillAcc))
  }

  /** The sample writer's discover job (see `write`). */
  private def sampleWriter(samples: DataFrame, replayTag: Option[String],
      spillAcc: org.apache.spark.util.LongAccumulator)(run: WriterRun): Seq[Discovered] = {
    // ---- THE job: the sink's ONLY pass over sample volume. ----
    // map:    pack samples into per-(file, channel) blocks, append
    //         routing (shift/skip) resolved inline from the broadcast
    //         existing set — no separate plan scan (r16 verdict #1).
    // shuffle hash on (file, channel), BLOCK-cardinality sort on first_idx.
    // reduce: the one task that owns a channel merge-streams its blocks
    //         to a temp binary under the job dir (exact per-sample order
    //         restored by a heap merge that degenerates to plain block
    //         streaming outside adversarially interleaved input), streams
    //         its chunk entries to a temp chunk file beside it (never
    //         holding them in memory), and returns one summary row;
    //         collecting those summaries (channel-cardinality) is what
    //         triggers the job.
    val dumpRows = packedDump(packProjection(samples), run.existing, replayTag).queryExecution.toRdd
    dumpRows.mapPartitions { blocks =>
      import org.apache.spark.unsafe.types.UTF8String
      val tc = TaskContext.get()
      val fs = run.rawFs
      val attemptDir = new Path(run.jobTmp,
        s"attempt-b-${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}")
      val spillFiles = new scala.collection.mutable.ArrayBuffer[java.io.File]()
      val existing = run.existing.value
      val buf = ByteBuffer.allocate(1 << 16).order(ByteOrder.LITTLE_ENDIAN)

      /** One channel's new output: its samples go to a temp binary,
        * one `contiguousChunks` entry per contiguous run to a temp
        * chunk file, both committed under the job dir by `finish`.
        */
      final class ChannelOut(val file: UTF8String, val channel: UTF8String, rate: Double, unit: String) {
        private val fileStr = file.toString
        private val chanStr = channel.toString
        private val gapUs = (2e6 / rate).toLong
        private val ex = matchExisting(existing, chanStr, rate, Continuous)
        // chunk 'index' is the chunk's position within the STORED value
        // stream (reference base.py:336-342) — append offset + values
        // written so far. Identical to sample_idx for dense input;
        // reference-correct (and within the binary's bounds) for
        // filtered/non-dense input where sample_idx has holes.
        private val offset = ex.fold(0L)(_.count)
        // non-overlap invariant (reference base.py:87-95): appended
        // chunks start strictly after everything already committed,
        // and each chunk after its predecessor's end
        private var prevEnd = ex.fold(Long.MinValue)(_.end)
        private val binTmp = new Path(attemptDir, "bin")
        private val chunkTmp = new Path(attemptDir, "chunks")
        private val bin = fs.create(binTmp, true)
        private val chunks = new BufferedOutputStream(fs.create(chunkTmp, true), 1 << 16)
        private var start = Long.MaxValue; private var end = Long.MinValue
        private var n = 0L
        private var prevTs = 0L

        private def flushBuf(): Unit = if (buf.position() > 0) {
          bin.write(buf.array(), 0, buf.position()); buf.clear()
        }
        private def endChunk(): Unit = { prevEnd = prevTs; if (prevTs > end) end = prevTs }
        def add(ts: Long, v: Double): Unit = {
          if (n == 0 || ts - prevTs > gapUs) {
            if (n > 0) endChunk()
            require(ts > prevEnd, s"overlapping chunks in channel $chanStr")
            writeChunk(chunks, n == 0, offset + n, ts)
            if (ts < start) start = ts
          }
          prevTs = ts
          n += 1
          if (buf.remaining() < 8) flushBuf()
          buf.putDouble(v)
        }
        def finish(): Discovered = {
          endChunk()
          flushBuf(); bin.close(); chunks.close()
          commit(fs, binTmp, new Path(run.jobTmp, binTmpName(fileStr, chanStr)))
          commit(fs, chunkTmp, new Path(run.jobTmp, chunkTmpName(fileStr, chanStr)))
          Discovered(fileStr, chanStr, rate, unit, start, end, n)
        }
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

      // one-block lookahead: the sort's output iterator REUSES its
      // UnsafeRow, so a peeked block materializes its arrays at once
      var peeked = false
      var nFile: UTF8String = null
      var nChan: UTF8String = null
      var nFirst = 0L
      var nIdx: Array[Long] = null
      var nTs: Array[Long] = null
      var nVal: Array[Double] = null
      var nRate = 0.0; var nUnit: String = null
      def peek(): Boolean = peeked || {
        if (blocks.hasNext) {
          val r = blocks.next()
          nFile = r.getUTF8String(0).clone(); nChan = r.getUTF8String(1).clone()
          nFirst = r.getLong(2)
          nIdx = if (r.isNullAt(3)) null else r.getArray(3).toLongArray()
          nTs = r.getArray(4).toLongArray()
          nVal = r.getArray(5).toDoubleArray()
          nRate = r.getDouble(6); nUnit = r.getUTF8String(7).toString
          peeked = true
        }
        peeked
      }
      var cur: ChannelOut = null
      def peekedIsCur: Boolean = cur != null && nFile.equals(cur.file) && nChan.equals(cur.channel)

      // heap merge for overlapping blocks of one channel: admits every
      // block whose first_idx precedes the frontier, so the emitted
      // sample order equals a full per-sample sort's whatever the
      // cross-partition interleaving. Memory is bounded by
      // MaxMergeCursors open blocks (~4M samples); input MORE
      // disordered than that (e.g. a relation round-robin
      // repartitioned >1024 ways scatters every channel across all map
      // partitions) SPILLS: the open cursors merge-drain to one sorted
      // run on executor-local disk and re-enter the heap as a single
      // streaming cursor — unbounded disorder degrades to external-merge
      // I/O instead of failing. Each spill absorbs
      // >=MaxMergeCursors-1 block cursors, so a channel pays at most
      // blocks/(MaxMergeCursors-1) extra read+write passes of its own
      // bytes.
      val MaxMergeCursors = 1024
      val heap = new java.util.PriorityQueue[Cur](4,
        new java.util.Comparator[Cur] {
          override def compare(a: Cur, b: Cur): Int = java.lang.Long.compare(a.idx, b.idx)
        })
      def spillHeap(): Unit = {
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
      def merge(): Unit = while (!heap.isEmpty) {
        while (peek() && peekedIsCur && nFirst <= heap.peek().idx) {
          if (heap.size() >= MaxMergeCursors) spillHeap()
          heap.add(new BlockCur(nFirst, nIdx, nTs, nVal)); peeked = false
        }
        val c = heap.poll()
        cur.add(c.ts, c.v)
        if (c.advance()) heap.add(c)
      }

      val done = new scala.collection.mutable.ArrayBuffer[Discovered]()
      try {
        while (peek()) {
          if (!peekedIsCur) {
            if (cur != null) done += cur.finish()
            cur = new ChannelOut(nFile, nChan, nRate, nUnit)
          }
          val (first, idxA, tsA, valA) = (nFirst, nIdx, nTs, nVal)
          peeked = false
          val n = valA.length
          val lastIdx = if (idxA == null) first + n - 1 else idxA(n - 1)
          if (peek() && peekedIsCur && nFirst <= lastIdx) {
            heap.add(new BlockCur(first, idxA, tsA, valA))
            merge()
          } else {
            var i = 0
            while (i < n) { cur.add(tsA(i), valA(i)); i += 1 }
          }
        }
        if (cur != null) done += cur.finish()
      } finally {
        try fs.delete(attemptDir, true) catch { case _: Exception => () }
        spillFiles.foreach(f => { f.delete(): Unit })
      }
      done.iterator
    }.collect().toSeq
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
    * Scale shape: one shuffle keyed by (file, channel), the only
    * evaluation of `spikes`; each owning task streams records and
    * waveforms to two temp files (counts are only known at stream end —
    * the header + record + waveform compose happens once the channel
    * ends, nothing buffers in memory) and commits the composed binary
    * under the job-temp dir. The commit job of [[writeDir]] then renames
    * it and commits the channel's UNIT manifest (start/end from
    * first/last spike, reference base.py:253-261), as it does for sample
    * channels. Directory handling — recovery, append matching (name
    * only), generation names, ordinals, staging and the
    * `channels_unit.json` index — is the channel-directory protocol of
    * the object doc, in its UNIT namespace. Returns the index path.
    */
  def writeSpikes(spikes: DataFrame, outDir: String, mode: String = "overwrite"): String =
    writeDir(spikes.sparkSession, outDir, Spikes, mode, None) { run =>
      spikes
        .select(col("file"), col("channel"), col("ts_us"), col("unit_id"), col("waveform"))
        .repartition(col("file"), col("channel"))
        .sortWithinPartitions(col("file"), col("channel"), col("ts_us"))
        .rdd.mapPartitions { rows =>
          val tc = TaskContext.get()
          val fs = run.rawFs
          val attemptDir = new Path(run.jobTmp,
            s"attempt-s-${tc.stageId()}-${tc.partitionId()}-${tc.taskAttemptId()}")
          val existing = run.existing.value
          var key: (String, String) = null
          val recTmp = new Path(attemptDir, "records"); val wfTmp = new Path(attemptDir, "waveforms")
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
          val done = new scala.collection.mutable.ArrayBuffer[Discovered]()
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
            commit(fs, tmp, new Path(run.jobTmp, binTmpName(key._1, key._2)))
            done += Discovered(key._1, key._2, 0.0, "uV", firstTs, lastTs, nSpikes,
              Seq("numSamples" -> math.max(nSamples, 0L).toString))
            key = null
          }
          try {
            rows.foreach { r =>
              val k = (r.getString(0), r.getString(1))
              val ts = r.getLong(2)
              if (k != key) {
                finishChannel()
                // non-overlap invariant (reference base.py:87-95): a matched
                // channel's appended spikes start after its existing end
                require(matchExisting(existing, k._2, 0.0, Spikes).forall(ts > _.end),
                  s"appended spikes must start after channel ${k._2}'s existing end")
                key = k; nSpikes = 0L; nSamples = -1L
                recOut = new BufferedOutputStream(fs.create(recTmp, true), 1 << 16)
                wfOut = new BufferedOutputStream(fs.create(wfTmp, true), 1 << 16)
              }
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
          done.iterator
        }.collect().toSeq
    }
}
