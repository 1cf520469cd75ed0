package graft

import org.apache.spark.sql.SparkSession
import graft.sources.{EdfFile, EdfSink}

/** The reference processor's end-to-end task as one composed pipeline
  * (reference: processor/edf_processor/processor.py:10-69): read EDF
  * file(s) → calibrated, timestamped samples → per-channel binary dumps +
  * channel JSON manifests with gap-derived contiguous chunks.
  *
  * A user of Pennsieve/processor-EDF runs `EdfPipeline.process(spark,
  * files, outDir)` and gets the same output contract, computed
  * distributively: header-only planning on the driver, record-range
  * parallel parsing, one shuffle to group channels for the sink.
  */
object EdfPipeline {

  /** Process EDF files into the reference output contract; returns the
    * manifest path. `mode = "append"` merges into an existing output —
    * the reference's multi-run workflow (`inputs['mode']`,
    * base.py:131-133): channels fuzzy-matched by name/type/rate get
    * their new session appended; the rest are created.
    */
  def process(spark: SparkSession, files: Seq[String], outDir: String,
              mode: String = "overwrite"): String = {
    // land-time indexing: EDF+D inputs get their onset sidecar written as
    // part of processing (the reference processor materializes outputs at
    // process time), so later time-bounded reads prune at PLANNING without
    // any operator remembering to index first
    graft.sources.EdfOnsetIndex.ensure(spark, files)
    EdfSink.write(EdfFile.read(spark, files), outDir, mode = mode)
  }

  /** The reference task loop, LIVE (A13b + A14b composed): watch
    * director(y/ies) for landing EDF files, and per micro-batch append
    * the new files' calibrated samples into the same output contract
    * [[process]] writes — per-channel binaries + crash-consistent JSON
    * manifests (the append sink's staged-manifest protocol recovers a
    * batch that dies mid-merge; the checkpointed source offset makes a
    * restarted query re-admit only unprocessed files, which the sink's
    * overlap invariant independently enforces).
    *
    * The returned query runs until stopped (or until the drain finishes
    * under `Trigger.AvailableNow()` — the "process what has landed, then
    * exit" mode the reference's one-shot task loop corresponds to).
    * `maxFilesPerTrigger` bounds a landing burst per micro-batch.
    *
    * StreamingSpec asserts the contract that matters: a streamed file
    * sequence produces byte-identical binaries and manifests to batch
    * [[process]] + append over the same files.
    */
  def processStream(spark: SparkSession, watchRoots: Seq[String], outDir: String,
                    checkpoint: String,
                    trigger: org.apache.spark.sql.streaming.Trigger =
                      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                    maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(watchRoots.nonEmpty, "processStream: at least one watch root required")
    val reader = spark.readStream.format("edf")
    val withCap = if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString) else reader
    // multiple roots ride the same JSON-array "paths" option
    // DataFrameReader.load(paths*) encodes (the source parses it with a
    // real JSON parser); a single root uses the plain path form
    val withPaths =
      if (watchRoots.size == 1) withCap
      else {
        val arr = new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(watchRoots.toArray)
        withCap.option("paths", arr)
      }
    val src = if (watchRoots.size == 1) withPaths.load(watchRoots.head) else withPaths.load()
    src
      .writeStream.trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        // empty admissions (a trigger with no new files) must not touch
        // the output — an append of zero rows is a manifest no-op anyway,
        // but skipping it avoids rewriting manifests every idle trigger.
        // The replayTag makes the at-least-once contract safe: a batch
        // that committed its sink write but crashed before the
        // checkpoint commit is replayed with the same batchId and the
        // same deterministic file set, and the sink skips every channel
        // whose manifest already carries this batch's tag (committed
        // atomically with the merge) instead of tripping its own
        // non-overlap invariant and wedging the query.
        //
        // The tag is keyed by the STREAM's persisted identity, not just
        // the batch number: batchId alone restarts at 0 for every fresh
        // checkpoint, so a second stream appending into the same outDir
        // would collide with the first stream's 'batch 0' tag and
        // silently SKIP its own new data (review r16). The checkpoint's
        // metadata id is written by Spark at first start, survives
        // restarts of the same query (same id on replay — the property
        // the skip needs), and regenerates when a checkpoint is deleted
        // or a different one is used (so distinct lineages never share
        // tags). Read lazily: the metadata file exists once the first
        // batch runs.
        if (!df.isEmpty)
          EdfSink.write(df, outDir, mode = "append",
            replayTag = Some(s"stream-${streamIdentity(df.sparkSession, checkpoint)}-$batchId")): Unit
      }
      .start()
  }

  /** The stream's durable identity: the query id Spark persists in
    * `<checkpoint>/metadata` ({"id":"<uuid>"}) — stable across restarts
    * of the same checkpointed query, fresh for a new/recreated
    * checkpoint.
    *
    * Failure posture (review r16 ADVICE): only a MISSING metadata file
    * falls back to a hash of the checkpoint path (a fresh checkpoint
    * whose first batch hasn't persisted it yet — still lineage-distinct,
    * since distinct lineages use distinct checkpoint paths). A metadata
    * file that EXISTS but cannot be read or parsed fails loudly instead:
    * two lineages reusing one checkpoint path under a transient read
    * error would otherwise both land on the path hash, collide their
    * replay tags, and silently skip the second lineage's batch-0 data —
    * the exact bug class the identity tag exists to prevent.
    */
  private[graft] def streamIdentity(spark: SparkSession, checkpoint: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val txt =
      try {
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close())
      } catch {
        case _: java.io.FileNotFoundException => None
      }
    txt match {
      case None => Integer.toHexString(checkpoint.hashCode)
      case Some(t) =>
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(t).map(_.group(1)).getOrElse(
          throw new IllegalStateException(
            s"checkpoint metadata $p exists but carries no query id — refusing to derive a " +
              "replay tag that could collide across stream lineages"))
    }
  }

  /** CLI: runMain graft.EdfPipeline [--append] <out_dir> <file.edf> [more.edf...] */
  def main(args: Array[String]): Unit = {
    val mode = if (args.contains("--append")) "append" else "overwrite"
    val rest = args.filterNot(_ == "--append")
    require(rest.length >= 2, "usage: EdfPipeline [--append] <out_dir> <file.edf> [more...]")
    val spark = GraftSession.getOrCreate()
    val manifest = process(spark, rest.drop(1).toSeq, rest(0), mode)
    println(s"[edf-pipeline] wrote $manifest")
    spark.stop()
  }
}
