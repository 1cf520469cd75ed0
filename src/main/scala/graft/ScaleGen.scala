package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev harness: derive a k-times larger copy of a testdata directory for
  * at-scale evidence runs (`runMain graft.ScaleGen <src> <dst> [k]`).
  *
  * Each fact-table row is replicated k times with every join key shifted
  * by `copy * KEY_SPAN`, so key relationships (orders->customer,
  * lineitem->orders/part/supplier, events->user) keep their exact
  * fanout — the scaled corpus is k disjoint replicas of the original
  * graph, which makes aggregate invariants exactly checkable:
  * a group-by over non-key columns must report k-times the source
  * counts/sums. Dimension tables (region, nation) stay fixed, so
  * dim-join fanout grows k-times like real growth would. Document texts
  * get a per-copy suffix paragraph (near-dup clusters of size k, not
  * exact dups); embeddings get a deterministic first-component nudge.
  */
object ScaleGen {

  private val KeySpan = 100000000L

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleGen <srcDir> <dstDir> [multiplier] [tables]")
    val src = args(0); val dst = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    // optional table subset, e.g. "documents,embeddings" for a probe run
    // that only needs the corpus tables at a big multiplier. Names are
    // trimmed and validated — a typo must fail loudly, not silently
    // produce a partial directory.
    val subset: Option[Set[String]] =
      args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // optional 5th arg: number of part files per table. Default 1 keeps
    // the single-file layout the DuckDB oracle harness expects. Probe
    // corpora (sf10/sf30 Bench runs, no DuckDB involved) should use 32:
    // a single ~40 MB file is ONE parquet row group, so every scan of it
    // is one task no matter what maxPartitionBytes says — the linear
    // corpus paths then serialize on a 32-core host exactly the way a
    // 1000-executor cluster would starve on a one-file table.
    val nFiles = args.lift(4).map(_.toInt).getOrElse(1)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, src, dst, k, subset, nFiles)
    spark.stop()
  }

  /** The derivation body, callable in-process (AtScaleSpec derives its
    * sf1 evidence corpus through this instead of shelling out — same
    * determinism, same session).
    */
  def generate(spark: SparkSession, src: String, dst: String, k: Int,
               subset: Option[Set[String]] = None, nFiles: Int = 1): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    subset.foreach { s =>
      val unknown = s -- Tables.names.toSet
      require(unknown.isEmpty,
        s"unknown table(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
          s"known: ${Tables.names.mkString(", ")}")
    }
    val tables: String => Boolean = subset.map(s => s: String => Boolean).getOrElse(_ => true)
    subset.foreach { s =>
      val skipped = Tables.names.filterNot(s)
      if (skipped.nonEmpty) println(
        s"[scalegen] subset run — NOT regenerating: ${skipped.mkString(", ")} " +
          "(any prior copies in dst keep their old multiplier; mixed-multiplier " +
          "dirs are only safe for probes that touch the regenerated tables)")
    }

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single-file layout: the DuckDB oracle harness reads
    // `<dir>/<table>.parquet` as ONE file, like the driver's testdata.
    // Compute stays parallel; only the final write funnels through one
    // task (fine for an evidence derivation, not a production sink).
    def write(t: String)(df: => DataFrame): Unit = if (tables(t)) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
      val dest = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      if (nFiles > 1) {
        // directory-of-parts layout: `<dst>/<t>.parquet/` with nFiles
        // part files. spark.read.parquet treats file and directory
        // identically, so Bench and the specs need no change.
        fs.delete(dest, true)
        df.repartition(nFiles).write.mode("overwrite").parquet(dest.toString)
      } else {
        val tmpDir = s"$dst/_gen_$t"
        df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
        val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$tmpDir/part-*.parquet")).head.getPath
        fs.delete(dest, true)
        require(fs.rename(part, dest), s"rename $part -> $dest failed")
        fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
      }
      println(s"[scalegen] $t: ${spark.read.parquet(dest.toString).count()} rows")
    }

    // dims pass through unchanged
    Seq("region", "nation").foreach(t => write(t)(read(t)))

    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame = {
      val copies = explode(sequence(lit(0), lit(k - 1))).as("copy")
      val withCopy = df.select(col("*"), copies)
      keyCols.foldLeft(withCopy) { (d, c) =>
        d.withColumn(c, col(c) + col("copy") * KeySpan)
      }
    }

    write("customer")(replicate(read("customer"), Seq("c_custkey")).drop("copy"))
    write("supplier")(replicate(read("supplier"), Seq("s_suppkey")).drop("copy"))
    write("part")(replicate(read("part"), Seq("p_partkey")).drop("copy"))
    write("orders")(replicate(read("orders"), Seq("o_orderkey", "o_custkey")).drop("copy"))
    write("lineitem")(replicate(read("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")).drop("copy"))
    // read through Tables.events so ts is int64 nanos REGARDLESS of how
    // the source encodes it (driver testdata has shipped both
    // TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds); write it
    // back as a real TIMESTAMP(MICROS) column so DuckDB-side oracles
    // bind epoch_ns(ts) exactly like on the driver's testdata.
    // Tables.events re-normalizes to long nanos on read.
    write("events")(replicate(Tables(spark, src).events, Seq("event_id", "user_id"))
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .drop("copy"))

    // near-dup clusters of size k (copy 0 keeps the original text)
    write("documents")(
      replicate(read("documents"), Seq("doc_id"))
        .withColumn("text",
          when(col("copy") === 0, col("text"))
            .otherwise(concat(col("text"), lit("\nreplica note "), col("copy"))))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("copy"))

    // distinct-but-close vectors: nudge component 0 by copy * 0.01
    write("embeddings")(
      replicate(read("embeddings"), Seq("vec_id"))
        .withColumn("embedding",
          transform(col("embedding"),
            (x, i) => when(i === 0, x + col("copy").cast("float") * lit(0.01f)).otherwise(x)))
        .drop("copy"))
  }
}
