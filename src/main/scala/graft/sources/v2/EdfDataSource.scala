package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.EdfFile
import graft.sources.EdfFile.EdfHeader

/** DataSource V2 registration of the EDF reader: `spark.read.format("edf")
  * .load(path)` (SURVEY.md §2 A1 as a first-class source).
  *
  * Scan planning mirrors EdfFile.read — header-only driver work, (file,
  * record-range) input partitions — plus V2 column pruning AND filter
  * pushdown:
  *
  *  - when the `value` column is NOT requested the partition reader
  *    synthesizes rows from header arithmetic alone, never touching
  *    sample bytes (a count(*) over 100 TB of EDF reads ~KB of headers);
  *  - `channel` / `channel_idx` predicates restrict which signals are
  *    DECODED: the reader seeks to each selected signal's slice inside
  *    the record instead of reading the whole interleaved record (the
  *    reference's ranged single-signal read, edf.py:120 `read_signal(i,
  *    start, end)`) — a one-channel query over a 43-channel file reads
  *    1/43rd of the sample bytes;
  *  - `record_idx` / `ts_us` bounds prune whole records — and whole
  *    input partitions at planning time — for contiguous files, where
  *    `record -> time` is header arithmetic. EDF+D record onsets live in
  *    per-record TALs, so its time pruning happens in the READER: the
  *    TAL slice is seek-read first and an out-of-range record's sample
  *    bytes are never transferred (record_idx plan-time pruning still
  *    applies).
  *
  * Pushdown is PRUNING-ONLY (the parquet row-group model): every filter
  * is returned to Spark for re-evaluation, so a half-covered record or a
  * same-label signal can never leak wrong rows; `pushedFilters` reports
  * what the scan used, and the scan description carries it into
  * `.explain` output.
  */
class EdfDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "edf"

  // accept user-specified schemas (validated in getTable below)
  override def supportsExternalMetadata(): Boolean = true

  /** The `paths` option is the JSON string array DataFrameReader.load(…)
    * encodes — parse it with a real JSON parser (paths may contain commas,
    * quotes, escapes), never by splitting on ','.
    */
  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
      require(node != null && node.isArray, s"'paths' option must be a JSON string array, got: $js")
      (0 until node.size).map { i =>
        val e = node.get(i)
        require(e.isTextual, s"'paths' option must contain only strings, got element: $e")
        e.asText
      }
    }.getOrElse(Seq.empty)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = EdfFile.sampleSchema

  /** A user-supplied schema is honored when it is a name/type-compatible
    * subset of the sample schema (the reader materializes by field name,
    * so any projection is cheap) and rejected loudly otherwise — rows must
    * never be reinterpreted under a schema the scan doesn't produce.
    *
    * Name matching honors the session's resolver (`spark.sql.caseSensitive`,
    * default case-insensitive) — `schema("CHANNEL string")` must be
    * accepted wherever `select("CHANNEL")` resolves. Matched fields are
    * canonicalized to the source's own casing so the by-name partition
    * reader recognizes them.
    */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val full = EdfFile.sampleSchema
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    val canonical = schema.fields.map { f =>
      val ref = full.fields.find(r => resolver(r.name, f.name)).getOrElse(throw new IllegalArgumentException(
        s"edf source has no column '${f.name}'; available: ${full.fieldNames.mkString(", ")}"))
      require(ref.dataType == f.dataType,
        s"edf column '${f.name}' is ${ref.dataType.simpleString}, user schema requests ${f.dataType.simpleString}")
      f.copy(name = ref.name)
    }
    new EdfTable(paths(new CaseInsensitiveStringMap(properties)), StructType(canonical))
  }
}

/** The scan-relevant subset of the pushed filters: signal keep-sets and
  * inclusive record/time bounds. Conjunction of everything present.
  */
final case class EdfPushdown(
    channels: Option[Set[String]] = None,
    channelIdx: Option[Set[Int]] = None,
    recLo: Long = 0L,
    recHi: Long = Long.MaxValue,
    tsLo: Long = Long.MinValue,
    tsHi: Long = Long.MaxValue) extends Serializable {

  def isEmpty: Boolean = this == EdfPushdown()

  def keepSignal(label: String, idx: Int): Boolean =
    channels.forall(_.contains(label)) && channelIdx.forall(_.contains(idx))

  /** Effective [lo, hi) record window for one file. Time bounds translate
    * to records only for contiguous files (record r spans
    * `[startUs + r·dur, startUs + (r+1)·dur)`); conservative by design —
    * a boundary record is kept and Spark's re-filter trims it.
    */
  def recordWindow(h: EdfHeader, durUs: Long): (Int, Int) = {
    var lo = math.max(0L, recLo)
    var hi = math.min(h.nbDataRec.toLong, if (recHi == Long.MaxValue) Long.MaxValue else recHi + 1)
    if (!h.isDiscontiguous && durUs > 0) {
      if (tsLo != Long.MinValue && tsLo > h.startUs)
        lo = math.max(lo, (tsLo - h.startUs) / durUs)
      if (tsHi != Long.MaxValue)
        hi = math.min(hi, math.max(0L, (tsHi - h.startUs) / durUs + 1))
    }
    (math.min(lo, h.nbDataRec.toLong).toInt, math.max(hi, math.min(lo, h.nbDataRec.toLong)).toInt)
  }
}

object EdfPushdown {

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l); case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong); case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Split the pushed conjuncts into (used-for-pruning, everything) —
    * the full input is always returned as residual for Spark to
    * re-evaluate (pruning-only contract).
    */
  def from(filters: Array[Filter]): (EdfPushdown, Array[Filter]) = {
    var pd = EdfPushdown()
    val used = Array.newBuilder[Filter]
    def keep(cur: Option[Set[String]], vs: Set[String]) =
      Some(cur.map(_.intersect(vs)).getOrElse(vs))
    def keepI(cur: Option[Set[Int]], vs: Set[Int]) =
      Some(cur.map(_.intersect(vs)).getOrElse(vs))
    filters.foreach {
      case f @ EqualTo("channel", v: String) =>
        pd = pd.copy(channels = keep(pd.channels, Set(v))); used += f
      case f @ In("channel", vs) if vs.forall(v => v == null || v.isInstanceOf[String]) =>
        pd = pd.copy(channels = keep(pd.channels,
          vs.collect { case s: String => s }.toSet)); used += f
      case f @ EqualTo("channel_idx", v) if asLong(v).isDefined =>
        pd = pd.copy(channelIdx = keepI(pd.channelIdx, Set(asLong(v).get.toInt))); used += f
      case f @ In("channel_idx", vs) if vs.forall(v => v == null || asLong(v).isDefined) =>
        pd = pd.copy(channelIdx = keepI(pd.channelIdx,
          vs.flatMap(asLong).map(_.toInt).toSet)); used += f
      case f @ EqualTo("record_idx", v) if asLong(v).isDefined =>
        val l = asLong(v).get
        pd = pd.copy(recLo = math.max(pd.recLo, l), recHi = math.min(pd.recHi, l)); used += f
      case f @ GreaterThan("record_idx", v) if asLong(v).isDefined =>
        pd = pd.copy(recLo = math.max(pd.recLo, asLong(v).get + 1)); used += f
      case f @ GreaterThanOrEqual("record_idx", v) if asLong(v).isDefined =>
        pd = pd.copy(recLo = math.max(pd.recLo, asLong(v).get)); used += f
      case f @ LessThan("record_idx", v) if asLong(v).isDefined =>
        pd = pd.copy(recHi = math.min(pd.recHi, asLong(v).get - 1)); used += f
      case f @ LessThanOrEqual("record_idx", v) if asLong(v).isDefined =>
        pd = pd.copy(recHi = math.min(pd.recHi, asLong(v).get)); used += f
      case f @ EqualTo("ts_us", v) if asLong(v).isDefined =>
        val l = asLong(v).get
        pd = pd.copy(tsLo = math.max(pd.tsLo, l), tsHi = math.min(pd.tsHi, l)); used += f
      case f @ GreaterThan("ts_us", v) if asLong(v).isDefined =>
        pd = pd.copy(tsLo = math.max(pd.tsLo, asLong(v).get + 1)); used += f
      case f @ GreaterThanOrEqual("ts_us", v) if asLong(v).isDefined =>
        pd = pd.copy(tsLo = math.max(pd.tsLo, asLong(v).get)); used += f
      case f @ LessThan("ts_us", v) if asLong(v).isDefined =>
        pd = pd.copy(tsHi = math.min(pd.tsHi, asLong(v).get - 1)); used += f
      case f @ LessThanOrEqual("ts_us", v) if asLong(v).isDefined =>
        pd = pd.copy(tsHi = math.min(pd.tsHi, asLong(v).get)); used += f
      case _ => ()
    }
    (pd, used.result())
  }
}

final class EdfTable(paths: Seq[String], tableSchema: StructType) extends Table with SupportsRead {
  override def name(): String = s"edf(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdfScanBuilder(paths, tableSchema,
      Option(options.get("targetSplitBytes")).map(_.toLong).getOrElse(128L << 20),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt).getOrElse(0))
}

final class EdfScanBuilder(paths: Seq[String], tableSchema: StructType, targetSplitBytes: Long,
    maxFilesPerTrigger: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var pushdown: EdfPushdown = EdfPushdown()

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (pd, used) = EdfPushdown.from(filters)
    pushdown = pd
    pushed = used
    filters // pruning-only: Spark re-evaluates everything
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new EdfScan(paths, required, pushdown, pushed, targetSplitBytes, maxFilesPerTrigger)
}

final class EdfScan(paths: Seq[String], required: StructType, pushdown: EdfPushdown,
    pushed: Array[Filter], targetSplitBytes: Long, maxFilesPerTrigger: Int = 0)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new EdfMicroBatchStream(paths, required.fieldNames,
      EdfFile.captureConfEntries(org.apache.spark.sql.SparkSession.active),
      pushdown, targetSplitBytes, maxFilesPerTrigger)
  override def description(): String =
    s"EdfScan(paths=${paths.size}, columns=[${required.fieldNames.mkString(",")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] =
    EdfSplitPlanner.planScan(paths, pushdown, targetSplitBytes).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val entries = org.apache.spark.sql.SparkSession.active match {
      case s => EdfFile.captureConfEntries(s)
    }
    new EdfReaderFactory(required.fieldNames, entries, pushdown)
  }
}

final case class EdfInputPartition(path: String, recordLo: Int, recordHi: Int) extends InputPartition

/** Shared split planning for the batch scan and the micro-batch stream:
  * header-window pruning (contiguous files), then — for EDF+D files with
  * time bounds pushed — onset-sidecar pruning: records whose
  * `[onset, onset + duration)` span misses the pushed `[tsLo, tsHi]`
  * window are dropped at PLANNING time, and splits are planned over the
  * surviving record runs only (without the sidecar every EDF+D split is
  * planned and the reader's TAL seek-skip does the pruning per record).
  */
private[v2] object EdfSplitPlanner {
  /** Plan a whole SCAN's splits with the bytes-per-core cap sized on the
    * scan's TOTAL kept bytes — not per file. Per-file sizing over-splits
    * a many-small-file scan (1000 x 64 MiB files would each fan out to
    * parallelism splits when the file count alone saturates the cores);
    * the single-small-file case still fans out because the total IS that
    * file. Headers are read once per path here and reused by splitsFor.
    */
  def planScan(paths: Seq[String], pushdown: EdfPushdown,
               targetSplitBytes: Long): Seq[InputPartition] = {
    // headers fetched through a driver-side thread pool: planning a
    // 100k-file lake must not serialize 100k tiny round-trips (r15
    // verdict #4); pruning semantics are unchanged — same headers,
    // same order
    val metas = EdfFile.readHeaders(paths).map { case (p, h) =>
      val (winLo, winHi) = pushdown.recordWindow(h, (h.duration * 1e6).toLong)
      (p, h, winLo, winHi)
    }
    val parallelism = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism).getOrElse(1)
    val totalKept = metas.map { case (_, h, lo, hi) =>
      math.max(0L, (hi - lo).toLong) * math.max(1L, h.recordBytes)
    }.sum
    val eff = EdfFile.effectiveSplitBytes(targetSplitBytes, totalKept, parallelism)
    metas.flatMap { case (p, h, lo, hi) => splitsFor(p, pushdown, eff, Some((h, lo, hi))) }
  }

  def splitsFor(path: String, pushdown: EdfPushdown, targetSplitBytes: Long,
                meta: Option[(graft.sources.EdfFile.EdfHeader, Int, Int)] = None): Seq[InputPartition] = {
    val (h, winLo, winHi) = meta.getOrElse {
      val hdr = EdfFile.readHeader(path)
      val (lo, hi) = pushdown.recordWindow(hdr, (hdr.duration * 1e6).toLong)
      (hdr, lo, hi)
    }
    val durUs = (h.duration * 1e6).toLong
    val recsPerSplit = math.max(1,
      (math.max(1L, targetSplitBytes) / math.max(1L, h.recordBytes)).toInt)
    val hasTsBounds = pushdown.tsLo != Long.MinValue || pushdown.tsHi != Long.MaxValue
    val keep: Int => Boolean =
      if (h.isDiscontiguous && hasTsBounds)
        // monotonic onsets make the kept set one contiguous run — the
        // sidecar answers it with O(log n) positioned reads, so planning
        // bytes stay ~constant however chunk-heavy the file's history is
        graft.sources.EdfOnsetIndex.keptRange(path, h,
            pushdown.tsLo, pushdown.tsHi, math.max(1L, durUs)) match {
          case Some((klo, khi)) => rec => rec >= klo && rec < khi
          case None => _ => true
        }
      else _ => true
    // runs of kept records, each chunked at the split size
    val splits = Seq.newBuilder[InputPartition]
    var lo = winLo
    while (lo < winHi) {
      if (!keep(lo)) lo += 1
      else {
        var hi = lo + 1
        while (hi < winHi && hi - lo < recsPerSplit && keep(hi)) hi += 1
        splits += EdfInputPartition(path, lo, hi)
        lo = hi
      }
    }
    splits.result()
  }
}

final class EdfReaderFactory(fields: Array[String],
    confEntries: Seq[(String, String)], pushdown: EdfPushdown) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[EdfInputPartition]
    new EdfPartitionReader(p, fields, confEntries, pushdown)
  }
}

/** Offset for the EDF file stream: the set of files fully ingested so
  * far, carried as a sorted JSON array. Self-contained — recovery from a
  * checkpointed offset needs no side state. At directory scales where
  * the listing itself is big, production would keep a compacted
  * seen-file log under the checkpoint (the built-in FileStreamSource
  * model) and carry only a log index here; the processing model below
  * (new-files diff -> record-range splits) is unchanged by that swap.
  */
final case class EdfStreamOffset(files: Seq[String]) extends streaming.Offset {
  override def json(): String =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(files.toArray)
}

object EdfStreamOffset {
  def fromJson(json: String): EdfStreamOffset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    require(node != null && node.isArray, s"bad EDF stream offset: $json")
    EdfStreamOffset((0 until node.size).map(node.get(_).asText))
  }
}

/** A13b: file-arrival-driven EDF ingest (the reference processor's
  * trigger model — a processor run per landed file, base.py's CLI
  * entry) as a Structured Streaming micro-batch source.
  *
  * Each micro-batch ingests the files that appeared in the watched
  * path(s) since the last committed offset; a file is planned into the
  * same (file, record-range) input partitions — and read by the same
  * EdfPartitionReader, with the same column pruning and channel/time
  * pushdown — as the batch scan, so a streamed read of N files is
  * plan-identical to a batch read of the same N files. Hidden files
  * (`.`/`_` prefixes, in-flight uploads by convention) are skipped;
  * non-EDF names in a watched directory are ignored.
  *
  * Backpressure: `maxFilesPerTrigger` (option; 0 = unbounded) caps the
  * files admitted per micro-batch via Spark's admission-control
  * interface — a 10k-file landing burst drains as bounded batches
  * instead of one giant plan (the built-in FileStreamSource knob).
  * Under Trigger.AvailableNow the file set is snapshotted up front
  * (`prepareForTriggerAvailableNow`) so the drain terminates even if
  * files keep landing.
  */
final class EdfMicroBatchStream(roots: Seq[String], fields: Array[String],
    confEntries: Seq[(String, String)], pushdown: EdfPushdown,
    targetSplitBytes: Long, maxFilesPerTrigger: Int = 0)
    extends streaming.MicroBatchStream with streaming.SupportsTriggerAvailableNow {

  private def discover(): Seq[String] = {
    val conf = EdfFile.confFromEntries(confEntries)
    roots.flatMap { r =>
      val p = new Path(r)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter(s => s.isFile && {
            val n = s.getPath.getName
            !n.startsWith(".") && !n.startsWith("_") && n.toLowerCase.endsWith(".edf")
          })
          .map(_.getPath.toUri.getPath)
      else Seq(fs.getFileStatus(p).getPath.toUri.getPath)
    }.distinct.sorted
  }

  /** Set under Trigger.AvailableNow: the drain processes exactly the
    * files visible at start, in bounded batches, then stops.
    */
  @volatile private var availableNowCap: Option[Set[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(discover().toSet)

  private def visible(): Seq[String] =
    availableNowCap match {
      case Some(cap) => discover().filter(cap)
      case None      => discover()
    }

  override def getDefaultReadLimit: streaming.ReadLimit =
    if (maxFilesPerTrigger > 0) streaming.ReadLimit.maxFiles(maxFilesPerTrigger)
    else streaming.ReadLimit.allAvailable()

  override def initialOffset(): streaming.Offset = EdfStreamOffset(Seq.empty)

  override def latestOffset(): streaming.Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  override def latestOffset(start: streaming.Offset,
                            limit: streaming.ReadLimit): streaming.Offset = {
    val seen = start.asInstanceOf[EdfStreamOffset].files
    val seenSet = seen.toSet
    val fresh = visible().filterNot(seenSet)
    val admitted = limit match {
      case mf: streaming.ReadMaxFiles => fresh.take(mf.maxFiles())
      case _                          => fresh
    }
    EdfStreamOffset((seen ++ admitted).sorted)
  }

  override def reportLatestOffset(): streaming.Offset = EdfStreamOffset(visible())

  override def deserializeOffset(json: String): streaming.Offset = EdfStreamOffset.fromJson(json)

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[EdfStreamOffset].files.toSet
    val fresh = end.asInstanceOf[EdfStreamOffset].files.filterNot(seen)
    // land-time indexing: newly-landed EDF+D files get their onset
    // sidecar written before planning (best-effort — an unindexable file
    // just plans unpruned), so this batch AND every later read prune at
    // planning time. The TAL seek-reads run as EXECUTOR tasks
    // (EdfOnsetIndex.ensure — the driver never touches record bytes);
    // batch size is bounded by maxFilesPerTrigger. If no session is
    // active on the planning thread (custom execution pools), fall back
    // to the driver-side loop rather than silently skipping: unindexed
    // EDF+D files would plan unpruned FOREVER, a permanent regression
    // worse than one bounded batch of driver I/O.
    if (fresh.nonEmpty) {
      // best-effort stays the semantic (an unindexable file plans
      // unpruned, correctly) — but a PERMANENTLY failing sidecar write
      // must be visible, so every swallowed exception logs at WARN with
      // the path it affects instead of vanishing.
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      try org.apache.spark.sql.SparkSession.getActiveSession match {
        case Some(s) =>
          graft.sources.EdfOnsetIndex.ensure(s.sparkContext, confEntries, fresh)
        case None =>
          val conf = EdfFile.confFromEntries(confEntries)
          fresh.foreach { f =>
            try if (graft.sources.EdfOnsetIndex.needed(f, conf)) {
              graft.sources.EdfOnsetIndex.write(f, conf); ()
            } catch {
              case e: Exception =>
                log.warn(s"EDF onset sidecar write failed for $f " +
                  s"(file will plan unpruned): ${e.getMessage}")
            }
          }
      } catch {
        case e: Exception =>
          log.warn(s"EDF onset sidecar indexing failed for batch of " +
            s"${fresh.length} file(s), e.g. ${fresh.head} " +
            s"(batch plans unpruned): ${e.getMessage}")
      }
    }
    EdfSplitPlanner.planScan(fresh, pushdown, targetSplitBytes).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EdfReaderFactory(fields, confEntries, pushdown)

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Streams one record-range. If `value` is not in the projection, rows are
  * synthesized from header arithmetic without reading sample bytes. With a
  * channel keep-set pushed down, only the selected signals' byte slices
  * are seek-read inside each record (plus the TAL slice for EDF+D) — the
  * deselected signals' bytes are never transferred. With no keep-set the
  * whole record reads in one call (fewer seeks beats sliced reads when
  * every slice is needed anyway).
  *
  * The per-sample loop does no name matching, boxing or hashing: the
  * projection is resolved once into one column kind per output field,
  * each signal's calibration constants and rate are computed once, and
  * `get()` returns ONE reused row filled with primitive setters. That row
  * is valid until the next `next()` call — the scan's unsafe projection
  * copies it before anything downstream buffers rows. Columns that are
  * constant over a (record, signal) run are written once per run.
  */
final class EdfPartitionReader(part: EdfInputPartition, fields: Array[String],
    confEntries: Seq[(String, String)], pushdown: EdfPushdown) extends PartitionReader[InternalRow] {
  import EdfPartitionReader._

  private val needsValue = fields.contains("value")
  private val h: EdfHeader = EdfFile.readHeader(part.path)
  private val recBytes = h.recordBytes
  private val sigOffsets = h.signals.scanLeft(0L)((acc, s) => acc + s.nrSamples * 2L)
  private val annIdx = h.signals.indexWhere(_.isAnnotation)
  private val durUs = (h.duration * 1e6).toLong
  private val dataSignals = h.signals.zipWithIndex.filterNot(_._1.isAnnotation)
  private val selected = dataSignals.filter { case (s, i) => pushdown.keepSignal(s.label, i) }
  private val sliced = selected.size < dataSignals.size
  private val fileUtf = UTF8String.fromString(part.path)
  private val labels = h.signals.map(s => UTF8String.fromString(s.label)).toArray
  private val units = h.signals.map(s => UTF8String.fromString(s.physDim)).toArray

  // per-signal constants, indexed by signal position in the header
  private val selIdx: Array[Int] = selected.map(_._2).toArray
  private val nrSamples: Array[Int] = h.signals.map(_.nrSamples).toArray
  private val bitValue: Array[Double] = h.signals.map(_.bitValue).toArray
  private val offset: Array[Double] = h.signals.map(_.offset).toArray
  private val rate: Array[Double] = h.signals.indices.map(h.sampleRate).toArray

  // output columns split by how often they change: once per (record,
  // signal) run, or per sample
  private val (runOrds, runKinds) = columns(fields, perSample = false)
  private val (sampleOrds, sampleKinds) = columns(fields, perSample = true)
  private val row = new SpecificInternalRow(fields.toSeq.map(f => EdfFile.sampleSchema(f).dataType))

  // whole-record buffer (unpruned path) vs per-run slices
  private val buf = if (!sliced) new Array[Byte](recBytes.toInt) else null
  private val hasTsBounds = pushdown.tsLo != Long.MinValue || pushdown.tsHi != Long.MaxValue
  // EDF+D TAL slice buffer: needed whenever the whole record is NOT read
  // anyway (sliced path), and also whenever time bounds were pushed --
  // reading the TAL alone first lets out-of-range records be skipped
  // without ever transferring their sample bytes (the EDF+D counterpart
  // of the contiguous record-window pruning done at plan time)
  private val talBuf =
    if (h.isDiscontiguous && annIdx >= 0 && (sliced || hasTsBounds))
      new Array[Byte](h.signals(annIdx).nrSamples * 2)
    else null
  // maximal contiguous runs of selected signals: ONE positioned read per
  // run instead of one per signal — fewer seeks, and exact transfer when
  // neighbors are co-selected (on an object store each run is one range
  // request). Each entry: (byte offset within the record, run buffer).
  // Each member signal decodes straight out of its run buffer.
  private val sigBytes = new Array[Array[Byte]](h.signals.size)
  private val sigBase = new Array[Int](h.signals.size)
  private val sigRuns: Seq[(Long, Array[Byte])] =
    if (sliced && needsValue) {
      val runs = Seq.newBuilder[(Long, Array[Byte])]
      var members = List.empty[(Int, Int)]
      var runStart = -1L
      var runLen = 0
      def close(): Unit = if (members.nonEmpty) {
        val rbuf = new Array[Byte](runLen)
        members.foreach { case (i, o) => sigBytes(i) = rbuf; sigBase(i) = o }
        runs += ((runStart, rbuf))
      }
      selected.foreach { case (s, i) =>
        val off = sigOffsets(i)
        val len = s.nrSamples * 2
        if (members.nonEmpty && runStart + runLen == off) {
          members = (i, runLen) :: members; runLen += len
        } else {
          close()
          members = List((i, 0)); runStart = off; runLen = len
        }
      }
      close()
      runs.result()
    } else {
      if (buf != null) selIdx.foreach { i => sigBytes(i) = buf; sigBase(i) = sigOffsets(i).toInt }
      Seq.empty
    }

  private var opened = false
  private lazy val in = {
    val pth = new Path(part.path)
    opened = true
    val fs = pth.getFileSystem(EdfFile.confFromEntries(confEntries))
    // The seek-read paths (channel slices, TAL peeks) issue sub-KB
    // positioned reads, which both the local checksum layer and the
    // default 4 KiB stream buffer inflate to 4 KiB transfers each —
    // measured 8x byte inflation on a 2-of-64-channel scan of a 4 GiB
    // file. EdfFile.openSeekable routes around both; the whole-record
    // sequential path keeps the default open (large reads bypass
    // buffers, and checksum verification is cheap when sequential).
    val smallestRead = (Option(talBuf).map(_.length) ++ sigRuns.map(_._2.length)).reduceOption(_ min _)
    smallestRead match {
      case Some(n) => EdfFile.openSeekable(fs, pth, n)
      case None => fs.open(pth)
    }
  }

  private var rec = part.recordLo - 1
  private var sigPos = 0      // index into selIdx
  private var sampleIdx = 0
  private var recStartUs = 0L

  private def parseTal(bytes: Array[Byte], off: Int): Long = {
    val len = h.signals(annIdx).nrSamples * 2
    val tal = new String(bytes, off, len, java.nio.charset.StandardCharsets.US_ASCII)
    h.startUs + (tal.split("\u0014\u0014", 2).head.toDouble * 1e6).toLong
  }

  private def readRecordData(recBase: Long): Unit =
    if (!sliced) {
      if (needsValue) in.readFully(recBase, buf)
    } else if (needsValue) {
      sigRuns.foreach { case (off, rbuf) => in.readFully(recBase + off, rbuf) }
    }

  private def advanceRecord(): Boolean = {
    var found = false
    while (!found) {
      rec += 1
      if (rec >= part.recordHi) { sigPos = selIdx.length; return false }
      val recBase = h.headerBytes + rec * recBytes
      if (talBuf != null) {
        in.readFully(recBase + sigOffsets(annIdx), talBuf)
        recStartUs = parseTal(talBuf, 0)
        // conservative span check: a record whose [onset, onset + dur]
        // misses the pushed bounds is skipped entirely
        if (!hasTsBounds ||
            (recStartUs <= pushdown.tsHi && recStartUs + durUs >= pushdown.tsLo)) {
          readRecordData(recBase)
          found = true
        }
      } else {
        if (!sliced) {
          if (needsValue || h.isDiscontiguous) in.readFully(recBase, buf)
        } else readRecordData(recBase)
        recStartUs =
          if (h.isDiscontiguous && annIdx >= 0) parseTal(buf, sigOffsets(annIdx).toInt)
          else h.startUs + rec.toLong * durUs
        found = true
      }
    }
    sigPos = 0
    sampleIdx = 0
    true
  }

  override def next(): Boolean = {
    if (sigPos >= selIdx.length) return false
    if (rec < part.recordLo && !advanceRecord()) return false
    var s = selIdx(sigPos)
    while (sampleIdx >= nrSamples(s)) {
      sigPos += 1; sampleIdx = 0
      if (sigPos >= selIdx.length && !advanceRecord()) return false
      s = selIdx(sigPos)
    }
    val i = sampleIdx
    if (i == 0) {
      var c = 0
      while (c < runOrds.length) {
        val o = runOrds(c)
        (runKinds(c): @annotation.switch) match {
          case FileCol       => row.update(o, fileUtf)
          case ChannelIdxCol => row.setInt(o, s)
          case ChannelCol    => row.update(o, labels(s))
          case UnitCol       => row.update(o, units(s))
          case RateCol       => row.setDouble(o, rate(s))
          case RecordIdxCol  => row.setLong(o, rec.toLong)
        }
        c += 1
      }
    }
    val n = nrSamples(s)
    var c = 0
    while (c < sampleOrds.length) {
      val o = sampleOrds(c)
      (sampleKinds(c): @annotation.switch) match {
        case SampleIdxCol => row.setLong(o, rec.toLong * n + i)
        case TsUsCol      => row.setLong(o, recStartUs + i.toLong * durUs / n)
        case ValueCol =>
          val bytes = sigBytes(s)
          val base = sigBase(s)
          val lo = bytes(base + 2 * i) & 0xff
          val hi = bytes(base + 2 * i + 1)
          row.setDouble(o, bitValue(s) * (offset(s) + ((hi << 8) | lo).toDouble))
      }
      c += 1
    }
    sampleIdx += 1
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (opened) { try in.close() catch { case _: Throwable => } }
}

private[v2] object EdfPartitionReader {
  // output column kinds; run kinds are constant over a (record, signal) run
  final val FileCol = 0
  final val ChannelIdxCol = 1
  final val ChannelCol = 2
  final val UnitCol = 3
  final val RateCol = 4
  final val RecordIdxCol = 5
  final val SampleIdxCol = 6
  final val TsUsCol = 7
  final val ValueCol = 8

  private def kindOf(field: String): Int = field match {
    case "file"        => FileCol
    case "channel_idx" => ChannelIdxCol
    case "channel"     => ChannelCol
    case "unit"        => UnitCol
    case "rate"        => RateCol
    case "record_idx"  => RecordIdxCol
    case "sample_idx"  => SampleIdxCol
    case "ts_us"       => TsUsCol
    case "value"       => ValueCol
    case other => throw new IllegalArgumentException(s"edf source has no column '$other'")
  }

  /** (output ordinals, kinds) of the per-run or the per-sample columns. */
  private def columns(fields: Array[String], perSample: Boolean): (Array[Int], Array[Int]) = {
    val cols = fields.indices.map(o => (o, kindOf(fields(o)))).filter(c => (c._2 >= SampleIdxCol) == perSample)
    (cols.map(_._1).toArray, cols.map(_._2).toArray)
  }
}
