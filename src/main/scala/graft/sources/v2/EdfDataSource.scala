package graft.sources.v2

import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.EdfFile
import graft.sources.EdfFile.EdfHeader

/** DataSource V2 registration of the EDF reader: `spark.read.format("edf")
  * .load(path)` (SURVEY.md §2 A1 as a first-class source).
  *
  * Scan planning is header-only driver work: [[EdfSplitPlanner]] reads
  * each file's header once, through the session's Hadoop conf, and plans
  * (file, record-range) input partitions that carry that header, so
  * readers never re-read it. `EdfFile.read` is this scan. The scan is
  * columnar: [[EdfPartitionReader]] hands Spark one `ColumnarBatch` per
  * (record, signal) run, and Spark inserts `ColumnarToRow` for row
  * consumers, while `EdfSink`'s pack reads the batches themselves. On
  * top come V2 column pruning AND filter pushdown:
  *
  *  - when the `value` column is NOT requested the partition reader
  *    synthesizes columns from header arithmetic alone, never touching
  *    sample bytes (a count(*) over 100 TB of EDF+C reads ~KB of headers;
  *    over EDF+D it reads each record's TAL slice for the onset);
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
  def recordWindow(h: EdfHeader): (Int, Int) = {
    val durUs = h.recordUs
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
  // columnar even when planning leaves no partitions, so the plan shape
  // (ColumnarToRow over the scan) never depends on the data
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): streaming.MicroBatchStream =
    new EdfMicroBatchStream(paths, required.fieldNames,
      EdfFile.captureConfEntries(SparkSession.active),
      pushdown, targetSplitBytes, maxFilesPerTrigger)
  override def description(): String =
    s"EdfScan(paths=${paths.size}, columns=[${required.fieldNames.mkString(",")}], " +
      s"PushedFilters: [${pushed.mkString(", ")}])"

  override def planInputPartitions(): Array[InputPartition] =
    EdfSplitPlanner.planScan(SparkSession.active, paths, pushdown, targetSplitBytes).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new EdfReaderFactory(required.fieldNames, EdfFile.captureConfEntries(SparkSession.active), pushdown)
}

/** Records `[recordLo, recordHi)` of `path`, with the header the planner
  * read, so executors never reopen the file for it.
  */
final case class EdfInputPartition(path: String, recordLo: Int, recordHi: Int, header: EdfHeader)
    extends InputPartition

/** The one EDF split planner, shared by the batch scan (which
  * `EdfFile.read` is), the micro-batch stream and `EdfFile.annotations`:
  * header-window pruning (contiguous files),
  * then — for EDF+D files with time bounds pushed — onset-sidecar
  * pruning: records whose `[onset, onset + duration)` span misses the
  * pushed `[tsLo, tsHi]` window are dropped at PLANNING time, and splits
  * are planned over the surviving record runs only (without the sidecar
  * every EDF+D split is planned and the reader's TAL seek-skip does the
  * pruning per record). Headers and sidecars are read through the
  * session's Hadoop conf, so a filesystem registered only there plans
  * like any other.
  */
private[sources] object EdfSplitPlanner {

  /** Split sizing with a bytes-per-core cap (Spark's
    * FilePartition.maxSplitBytes shape): min(target, max(1 MiB,
    * dataBytes/parallelism)). A file set smaller than cores x target
    * must still fan out, or a 64 MiB file parses on ONE core while the
    * rest idle (measured: the whole pipeline serialized behind that
    * single map task); 1 MiB is the seek-cost floor, the idea of
    * spark.sql.files.openCostInBytes.
    */
  private def effectiveSplitBytes(target: Long, dataBytes: Long, parallelism: Int): Long =
    math.min(math.max(1L, target),
      math.max(1L << 20, dataBytes / math.max(1, parallelism)))

  /** Plan a whole SCAN's splits with the bytes-per-core cap sized on the
    * scan's TOTAL kept bytes — not per file. Per-file sizing over-splits
    * a many-small-file scan (1000 x 64 MiB files would each fan out to
    * parallelism splits when the file count alone saturates the cores);
    * the single-small-file case still fans out because the total IS that
    * file. Each path's header is read once, here.
    */
  def planScan(spark: SparkSession, paths: Seq[String], pushdown: EdfPushdown,
               targetSplitBytes: Long): Seq[EdfInputPartition] =
    // headers fetched through a driver-side thread pool: planning a
    // 100k-file lake must not serialize 100k tiny round-trips (r15
    // verdict #4); pruning semantics are unchanged — same headers,
    // same order
    planHeaders(spark, EdfFile.readHeaders(paths, spark.sparkContext.hadoopConfiguration),
      pushdown, targetSplitBytes)

  /** [[planScan]] over `(path, header)` pairs the caller already read. */
  def planHeaders(spark: SparkSession, headers: Seq[(String, EdfHeader)], pushdown: EdfPushdown,
                  targetSplitBytes: Long): Seq[EdfInputPartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val metas = headers.map { case (p, h) =>
      val (winLo, winHi) = pushdown.recordWindow(h)
      (p, h, winLo, winHi)
    }
    val totalKept = metas.map { case (_, h, lo, hi) =>
      math.max(0L, (hi - lo).toLong) * math.max(1L, h.recordBytes)
    }.sum
    val eff = effectiveSplitBytes(targetSplitBytes, totalKept, spark.sparkContext.defaultParallelism)
    val hasTsBounds = pushdown.tsLo != Long.MinValue || pushdown.tsHi != Long.MaxValue
    metas.flatMap { case (path, h, winLo, winHi) =>
      val recsPerSplit = math.max(1, (eff / math.max(1L, h.recordBytes)).toInt)
      val keep: Int => Boolean =
        if (h.isDiscontiguous && hasTsBounds)
          // monotonic onsets make the kept set one contiguous run — the
          // sidecar answers it with O(log n) positioned reads, so planning
          // bytes stay ~constant however chunk-heavy the file's history is
          graft.sources.EdfOnsetIndex.keptRange(path, h,
              pushdown.tsLo, pushdown.tsHi, math.max(1L, h.recordUs), conf) match {
            case Some((klo, khi)) => rec => rec >= klo && rec < khi
            case None => _ => true
          }
        else _ => true
      // runs of kept records, each chunked at the split size
      val splits = Seq.newBuilder[EdfInputPartition]
      var lo = winLo
      while (lo < winHi) {
        if (!keep(lo)) lo += 1
        else {
          var hi = lo + 1
          while (hi < winHi && hi - lo < recsPerSplit && keep(hi)) hi += 1
          splits += EdfInputPartition(path, lo, hi, h)
          lo = hi
        }
      }
      splits.result()
    }
  }
}

/** The scan is columnar only: every partition is read as
  * [[EdfPartitionReader]] batches, and Spark inserts `ColumnarToRow`
  * for row consumers.
  */
final class EdfReaderFactory(fields: Array[String],
    confEntries: Seq[(String, String)], pushdown: EdfPushdown) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new EdfPartitionReader(partition.asInstanceOf[EdfInputPartition], fields, confEntries, pushdown)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "the edf scan is columnar: supportColumnarReads is true, so Spark reads it through createColumnarReader")
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

  /** Landed files, each named under its root as the root was given
    * (scheme and authority included), so a streamed file's `file` column
    * and the path it is read through match a batch read of that name.
    */
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
          .map(st => s"${r.stripSuffix("/")}/${st.getPath.getName}")
      else Seq(r)
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

  /** Offsets checkpointed before file names kept their root's scheme
    * hold bare absolute paths (`/dir/x.edf`). Each such entry is renamed
    * under the root it was listed from, as [[discover]] names it, so a
    * restarted stream still recognises the files it already ingested.
    */
  override def deserializeOffset(json: String): streaming.Offset = {
    val conf = EdfFile.confFromEntries(confEntries)
    val rootPaths = roots.map { r =>
      val p = new Path(r)
      (r.stripSuffix("/"), p.getFileSystem(conf).makeQualified(p).toUri.getPath.stripSuffix("/"))
    }
    EdfStreamOffset(EdfStreamOffset.fromJson(json).files.map { f =>
      if (new Path(f).toUri.getScheme != null) f
      else rootPaths.collectFirst {
        case (r, rp) if f == rp || f.startsWith(rp + "/") => r + f.drop(rp.length)
      }.getOrElse(f)
    })
  }

  override def planInputPartitions(start: streaming.Offset,
                                   end: streaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[EdfStreamOffset].files.toSet
    val fresh = end.asInstanceOf[EdfStreamOffset].files.filterNot(seen)
    // land-time indexing: newly-landed EDF+D files get their onset
    // sidecar written before planning (best-effort — an unindexable file
    // plans unpruned, and its task logs a WARN naming it), so this batch
    // AND every later read prune at planning time. The TAL seek-reads
    // run as EXECUTOR tasks (the driver never touches record bytes);
    // batch size is bounded by maxFilesPerTrigger. Spark runs a stream's
    // planning inside its session (`StreamExecution.runStream`), so the
    // active session is always there. Indexing and planning share one
    // header read per file.
    val spark = SparkSession.active
    val headers = EdfFile.readHeaders(fresh, spark.sparkContext.hadoopConfiguration)
    graft.sources.EdfOnsetIndex.indexStale(spark, headers)
    EdfSplitPlanner.planHeaders(spark, headers, pushdown, targetSplitBytes).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EdfReaderFactory(fields, confEntries, pushdown)

  override def commit(end: streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Reads one record-range as columnar batches, one batch per (record,
  * signal) run. Columns that are constant over a run (`file`,
  * `channel_idx`, `channel`, `unit`, `rate`, `record_idx`) are
  * [[ConstantColumnVector]]s set once per run; `sample_idx`, `ts_us` and
  * `value` are reused on-heap vectors, each filled by one loop over the
  * signal's contiguous int16 block. Their capacity is the largest
  * samples-per-record among the selected signals, a header field the
  * planner already parsed. A batch is valid until the next `next()`
  * call.
  *
  * Sample bytes are read only when `value` is projected; other columns
  * come from header arithmetic. With a channel keep-set pushed down, only
  * the selected signals' byte slices are seek-read inside each record;
  * with no keep-set the whole record reads in one call (fewer seeks beats
  * sliced reads when every slice is needed anyway). An EDF+D record's
  * onset comes from its TAL slice, which is read alone first whenever the
  * whole record is not read anyway or time bounds were pushed; an
  * out-of-range record's sample bytes are then never transferred.
  */
final class EdfPartitionReader(part: EdfInputPartition, fields: Array[String],
    confEntries: Seq[(String, String)], pushdown: EdfPushdown) extends PartitionReader[ColumnarBatch] {

  private val needsValue = fields.contains("value")
  private val h: EdfHeader = part.header
  private val recBytes = h.recordBytes
  private val sigOffsets = h.signalOffsets
  private val annIdx = h.annotationIndex
  private val durUs = h.recordUs
  private val dataSignals = h.signals.zipWithIndex.filterNot(_._1.isAnnotation)
  private val selected = dataSignals.filter { case (s, i) => pushdown.keepSignal(s.label, i) }
  private val sliced = selected.size < dataSignals.size
  private val labels = h.signals.map(s => UTF8String.fromString(s.label)).toArray
  private val units = h.signals.map(s => UTF8String.fromString(s.physDim)).toArray

  // per-signal constants, indexed by signal position in the header
  private val selIdx: Array[Int] = selected.map(_._2).toArray
  private val nrSamples: Array[Int] = h.signals.map(_.nrSamples).toArray
  private val bitValue: Array[Double] = h.signals.map(_.bitValue).toArray
  private val offset: Array[Double] = h.signals.map(_.offset).toArray
  private val rate: Array[Double] = h.signals.indices.map(h.sampleRate).toArray

  // one vector per output field, in projection order
  private val capacity = math.max(1, selIdx.foldLeft(0)((m, s) => math.max(m, nrSamples(s))))
  private val vectors: Array[ColumnVector] = fields.map { f =>
    val t = EdfFile.sampleSchema(f).dataType
    if (f == "sample_idx" || f == "ts_us" || f == "value") new OnHeapColumnVector(capacity, t)
    else new ConstantColumnVector(capacity, t)
  }
  private val batch = new ColumnarBatch(vectors)
  private def vector[V <: ColumnVector](f: String): V =
    fields.indexOf(f) match { case -1 => null.asInstanceOf[V]; case o => vectors(o).asInstanceOf[V] }
  private val fileVec = vector[ConstantColumnVector]("file")
  private val channelIdxVec = vector[ConstantColumnVector]("channel_idx")
  private val channelVec = vector[ConstantColumnVector]("channel")
  private val unitVec = vector[ConstantColumnVector]("unit")
  private val rateVec = vector[ConstantColumnVector]("rate")
  private val recordIdxVec = vector[ConstantColumnVector]("record_idx")
  private val sampleIdxVec = vector[OnHeapColumnVector]("sample_idx")
  private val tsUsVec = vector[OnHeapColumnVector]("ts_us")
  private val valueVec = vector[OnHeapColumnVector]("value")
  if (fileVec != null) fileVec.setUtf8String(UTF8String.fromString(part.path))

  // whole-record buffer (all signals' samples needed) vs per-run slices
  private val wholeRecord = needsValue && !sliced
  private val buf = if (wholeRecord) new Array[Byte](recBytes.toInt) else null
  private val hasTsBounds = pushdown.tsLo != Long.MinValue || pushdown.tsHi != Long.MaxValue
  // EDF+D TAL slice buffer: read alone whenever the whole record is not
  // read anyway, and also whenever time bounds were pushed -- reading the
  // TAL first lets out-of-range records be skipped without transferring
  // their sample bytes (the EDF+D counterpart of the contiguous
  // record-window pruning done at plan time)
  private val talBuf =
    if (h.isDiscontiguous && annIdx >= 0 && (!wholeRecord || hasTsBounds))
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
  private var sigPos = selIdx.length // index into selIdx; past the end = next record
  private var recStartUs = 0L

  private def readSamples(recBase: Long): Unit =
    if (wholeRecord) in.readFully(recBase, buf)
    else if (needsValue) sigRuns.foreach { case (off, rbuf) => in.readFully(recBase + off, rbuf) }

  /** Move to the next record in range whose samples are wanted; false
    * once the range is exhausted.
    */
  private def advanceRecord(): Boolean = {
    while (true) {
      rec += 1
      if (rec >= part.recordHi) return false
      val recBase = h.headerBytes + rec * recBytes
      if (talBuf != null) {
        in.readFully(recBase + sigOffsets(annIdx), talBuf)
        recStartUs = h.talOnsetUs(talBuf, 0, part.path, rec)
        // conservative span check: a record whose [onset, onset + dur]
        // misses the pushed bounds is skipped entirely
        if (!hasTsBounds ||
            (recStartUs <= pushdown.tsHi && recStartUs + durUs >= pushdown.tsLo)) {
          readSamples(recBase)
          return true
        }
      } else {
        readSamples(recBase)
        recStartUs =
          if (h.isDiscontiguous && annIdx >= 0) h.talOnsetUs(buf, sigOffsets(annIdx).toInt, part.path, rec)
          else h.startUs + rec.toLong * durUs
        return true
      }
    }
    false
  }

  override def next(): Boolean = {
    if (selIdx.isEmpty) return false
    var found = false
    while (!found) {
      sigPos += 1
      if (sigPos >= selIdx.length) {
        if (!advanceRecord()) return false
        sigPos = 0
      }
      found = nrSamples(selIdx(sigPos)) > 0
    }
    fill(selIdx(sigPos))
    true
  }

  /** Set the batch to signal `s` of the current record. */
  private def fill(s: Int): Unit = {
    val n = nrSamples(s)
    if (channelIdxVec != null) channelIdxVec.setInt(s)
    if (channelVec != null) channelVec.setUtf8String(labels(s))
    if (unitVec != null) unitVec.setUtf8String(units(s))
    if (rateVec != null) rateVec.setDouble(rate(s))
    if (recordIdxVec != null) recordIdxVec.setLong(rec.toLong)
    if (sampleIdxVec != null) {
      val first = rec.toLong * n
      var i = 0
      while (i < n) { sampleIdxVec.putLong(i, first + i); i += 1 }
    }
    if (tsUsVec != null) {
      var i = 0
      while (i < n) { tsUsVec.putLong(i, recStartUs + i.toLong * durUs / n); i += 1 }
    }
    if (valueVec != null) {
      val bytes = sigBytes(s)
      val base = sigBase(s)
      val bv = bitValue(s)
      val off = offset(s)
      var i = 0
      while (i < n) {
        val lo = bytes(base + 2 * i) & 0xff
        val hi = bytes(base + 2 * i + 1)
        valueVec.putDouble(i, bv * (off + ((hi << 8) | lo).toDouble))
        i += 1
      }
    }
    batch.setNumRows(n)
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    batch.close()
    if (opened) { try in.close() catch { case _: Throwable => } }
  }
}
