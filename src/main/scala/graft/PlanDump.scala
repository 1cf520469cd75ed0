package graft

/** Dev harness: write `.explain("formatted")` for named queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * plans/rNN/. Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>
  * [--no-stats-ok] (suffix = "before" | "after"). Reads the data dir from
  * SPARK_GRAFT_SF_DIR like Bench so plans reflect the benched scale.
  *
  * Stats registration failure is FATAL by default (review r17 ADVICE):
  * a stats-free dump can silently plan different shapes than the bench
  * (broadcast decisions, self-sizing operators), so committed plan
  * evidence must never come from one unintentionally. `--no-stats-ok`
  * opts into a stats-free dump and stamps the marker into every written
  * file so the evidence says so itself.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [--no-stats-ok]")
    val outDir = args(0)
    val suffix = args(1)
    val selected = SparkEntry.select(Some(args(2)))
    val noStatsOk = args.contains("--no-stats-ok")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var statsMarker = ""
    try Tables.register(spark, sfDir, db = "graft_bench")
    catch { case e: Throwable =>
      if (!noStatsOk) throw new IllegalStateException(
        s"stats registration failed — dumped plans would reflect stats-free planning " +
          s"that can differ from the benched shapes; pass --no-stats-ok to dump anyway: ${e.getMessage}", e)
      statsMarker = s"-- STATS REGISTRATION SKIPPED (${e.getMessage}): stats-free planning --\n"
      System.err.println(s"[plandump] stats registration skipped: ${e.getMessage}")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val txt = statsMarker + df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
