package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults target local[32] testing but are chosen to survive a real
  * cluster: AQE (runtime coalescing + skew-join splitting) stays on, UTC
  * session time zone for oracle parity, and shuffle partitions default to
  * the local core count rather than Spark's 200 (on a cluster, set
  * `spark.sql.shuffle.partitions` ≈ 2-3x total cores or rely on AQE
  * coalescing from a high initial value).
  *
  * The `file:` scheme is bound to [[graft.sources.NioLocalFileSystem]],
  * which sets local permissions by syscall instead of forking `chmod`
  * per create and mkdir. Hadoop caches `FileSystem` instances per scheme
  * for the life of the JVM, whatever conf asks later, so the binding
  * holds when a graft session creates the JVM's first `file:` file
  * system, as the benchmark, the specs and `EdfPipeline.main` do; a JVM
  * that touched `file:` earlier keeps Hadoop's own class.
  */
object GraftSession {
  /** `SPARK_GRAFT_MASTER` overrides every caller's master — the lever
    * that re-runs the whole spec suite under `local-cluster[n,c,mem]`
    * (real multi-JVM executors: broadcasts, shuffle rows, and
    * TypedImperativeAggregate buffers actually serialize across process
    * boundaries — the one execution axis plain local[n] never exercises).
    * local-cluster workers fork executor JVMs that need the caller's
    * classpath (test classes included) and the JDK-17 module opens,
    * neither of which spark-submit is around to inject.
    */
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val m = sys.env.getOrElse("SPARK_GRAFT_MASTER", master)
    val b = SparkSession
      .builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(m)
      .appName("graft")
    if (m.startsWith("local-cluster")) {
      val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      b.config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", opens): Unit
    }
    b
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet; read as int64 nanos (exact,
      // and oracle-comparable via epoch_ns) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // propagate catalog row-count statistics (ANALYZE TABLE) into plan
      // stats so self-sizing operators (Similarity.corpusRows) can answer
      // cardinality from metadata instead of a plan-build-time scan
      .config("spark.sql.cbo.planStats.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
