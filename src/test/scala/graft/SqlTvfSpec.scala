package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-only surface: flagship operators registered as table-valued
  * functions via SparkSessionExtensions.injectTableFunction — a user
  * with nothing but a SQL connection can reach the engine.
  */
class SqlTvfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** Block until every event already posted to the async listener bus has
    * been delivered. `LiveListenerBus.waitUntilEmpty` is private[spark]
    * (public in bytecode), so reach it reflectively — deterministic,
    * unlike a fixed sleep on a loaded machine.
    */
  private def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    ()
  }

  test("graft_curate runs from pure SQL and matches the DataFrame API") {
    val sql = spark.sql(s"SELECT * FROM graft_curate('$sf') ORDER BY doc_id").collect()
    val api = graft.operators.TextAnalysis.curate(new Tables(spark, sf))
      .orderBy("doc_id").collect()
    assert(sql.nonEmpty && sql.toSeq == api.toSeq, s"${sql.length} rows, SQL == API")
  }

  test("graft_corpus_stats and graft_lang_id run from pure SQL") {
    assert(spark.sql(s"SELECT * FROM graft_corpus_stats('$sf')").collect().nonEmpty)
    val langs = spark.sql(
      s"SELECT pred_lang, count(*) AS n FROM graft_lang_id('$sf') GROUP BY pred_lang").collect()
    assert(langs.nonEmpty, "TVF output composes with outer SQL")
  }

  test("graft_ann_topk takes literal args and composes in SQL") {
    val top3 = spark.sql(s"SELECT * FROM graft_ann_topk('$sf', 0, 3)").collect()
    assert(top3.length == 3)
    val api = graft.operators.Similarity.annTopK(new Tables(spark, sf), 0L, 3).collect()
    assert(top3.toSeq == api.toSeq)
  }

  test("graft_dedup_minhash pairs from SQL match the API") {
    val sql = spark.sql(s"SELECT * FROM graft_dedup_minhash('$sf')").count()
    val api = graft.operators.Dedup.dedupMinhash(new Tables(spark, sf)).count()
    assert(sql == api)
  }

  test("graft_q reaches the whole query surface from SQL") {
    val sql = spark.sql(s"SELECT * FROM graft_q('q1_pricing', '$sf')").collect()
    val api = SparkEntry.queries("q1_pricing")(spark, sf).collect()
    assert(sql.nonEmpty && sql.toSeq == api.toSeq)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_q('no_such_query', '$sf')").collect()
    }
    assert(e.getMessage.contains("unknown graft query") && e.getMessage.contains("q1_pricing"),
      s"unknown name lists the surface: ${e.getMessage.take(200)}")
  }

  test("one registry declares each query: its plan, boundary sort and oracle") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    assert(SparkEntry.queries.size == 177)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("approx_stats", "bpe_train", "embed_whiten", "hll_distinct", "pq_whiten"),
      "exactly the documented rows-only queries have no oracle")
    def rootSort(df: org.apache.spark.sql.DataFrame): Option[Sort] =
      Some(df.queryExecution.logical).collect { case s: Sort => s }
    val sorted = rootSort(SparkEntry.queries("q1_pricing")(spark, sf))
      .getOrElse(fail("q1_pricing has no boundary sort at its root"))
    assert(sorted.global)
    assert(sorted.order.map(_.child.sql) == Seq("l_returnflag", "l_linestatus"))
    assert(rootSort(graft.operators.Analytics.q1Pricing(new Tables(spark, sf))).isEmpty,
      "the library plan carries no boundary sort")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_q('no_such_query', '$sf')").collect()
    }
    assert(SparkEntry.queries.keys.forall(e.getMessage.contains),
      s"unknown name lists every available query: ${e.getMessage.take(200)}")
  }

  test("Tables.register makes TVF plan-time sizing stats-backed: zero jobs") {
    // without registration, graft_q('embed_neardup', dir) pays a count()
    // job DURING SQL ANALYSIS (the maxAllPairs guard asks corpus
    // cardinality; bare parquet has no stats). Registering the dir as
    // ANALYZE'd external catalog tables makes the same SQL resolve with
    // zero jobs — the 100 TB contract for SQL users.
    Tables.register(spark, sf, db = "graft_sqltvf")
    // register's ANALYZE jobs are still draining on the async listener
    // bus; let them land BEFORE attaching the counter or they get
    // delivered to it and fail the zero-jobs assertion spuriously.
    // waitUntilEmpty (vs a fixed sleep) is deterministic on loaded CI.
    drainListenerBus()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // spark.sql analyzes eagerly: the TVF builds the operator plan here
      val df = spark.sql(s"SELECT * FROM graft_q('embed_neardup', '$sf')")
      drainListenerBus() // listener bus is async; drain before asserting
      assert(jobs.get() == 0,
        s"stats-backed registration must remove the plan-build cardinality scan, saw ${jobs.get()} job(s)")
      assert(df.count() > 0, "and the registered plan still executes")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      // leave no cross-suite catalog resolution surprises behind
      Tables.names.foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_sqltvf.`$n`"))
      spark.sql("DROP DATABASE IF EXISTS graft_sqltvf")
      Tables.deregister(sf)
    }
  }

  test("graft_edf_ingest drives the streaming task loop from pure SQL; output == API run") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("tvfingest")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    val outSql = tmp.resolve("outsql").toString
    val outApi = tmp.resolve("outapi").toString
    val src = s"$tmp/s1.edf"
    EdfDFixtures.makeEdfC(src, "00.00.00", Seq("C3", "C4"))
    Files.copy(Paths.get(src), watch.resolve("s1.edf"))

    val rows = spark.sql(
      s"SELECT name, start, rate FROM graft_edf_ingest('$watch', '$outSql') ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq("C3", "C4"), s"ingested channels: ${rows.toSeq}")
    assert(rows.forall(_._3 == 4.0), "rates from the committed manifests")

    // parity with the library API loop on the same landing set. The two
    // runs are distinct stream LINEAGES (different checkpoints), so
    // their replay-provenance appendTags differ by design — strip the
    // tag value before comparing manifests; binaries must be identical
    graft.EdfPipeline.processStream(spark, Seq(watch.toString), outApi,
      s"$tmp/ckptapi").awaitTermination()
    def stripTag(s: String): String =
      s.replaceAll(""",\s*\{"key": "appendTag", "value": "[^"]*"\}""", "")
    Seq("C3.ts.bin", "C4.ts.bin").foreach { f =>
      assert(Files.readAllBytes(Paths.get(s"$outSql/$f")).toSeq ==
        Files.readAllBytes(Paths.get(s"$outApi/$f")).toSeq, s"$f: SQL == API bytes")
    }
    assert(stripTag(new String(Files.readAllBytes(Paths.get(s"$outSql/channels.json")))) ==
      stripTag(new String(Files.readAllBytes(Paths.get(s"$outApi/channels.json")))),
      "channels.json: SQL == API modulo lineage tags")

    // one-shot semantics: re-running the statement with the same
    // checkpoint admits nothing new and returns the SAME manifest rows
    val again = spark.sql(
      s"SELECT name, start, rate FROM graft_edf_ingest('$watch', '$outSql') ORDER BY name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == rows.toSeq, "idempotent re-run over a drained watch dir")
  }

  test("graft_edf_ingest defers the drain to execution: EXPLAIN and schema are side-effect free") {
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("tvfdefer")
    val watch = Files.createDirectory(tmp.resolve("watch"))
    val out = tmp.resolve("out").toString
    EdfDFixtures.makeEdfC(s"$tmp/s1.edf", "00.00.00", Seq("C3"))
    Files.copy(Paths.get(s"$tmp/s1.edf"), watch.resolve("s1.edf"))

    // analysis-only touchpoints (r16 ADVICE: these used to RUN the drain)
    val stmt = s"SELECT * FROM graft_edf_ingest('$watch', '$out')"
    val plan = spark.sql(s"EXPLAIN $stmt").collect().map(_.getString(0)).mkString
    assert(plan.contains("EdfIngest"), s"plan shows the deferred node: $plan")
    val schema = spark.sql(stmt).schema // analyzes, does not execute
    assert(schema.fieldNames.toSeq == Seq("name", "start", "end", "unit", "rate", "type"))
    assert(!Files.exists(Paths.get(s"$out/channels.json")),
      "EXPLAIN / schema inspection must not ingest")

    // execution runs the drain exactly as before
    val rows = spark.sql(stmt).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("C3"), "executing the statement ingests")
    assert(Files.exists(Paths.get(s"$out/channels.json")))
  }

  test("two concurrent graft_edf_ingest calls run isolated (child-session-per-drain)") {
    import java.nio.file.{Files, Paths}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val tmp = Files.createTempDirectory("tvfconc")
    val runs = Seq("a", "b").map { tag =>
      val watch = Files.createDirectory(tmp.resolve(s"watch$tag"))
      EdfDFixtures.makeEdfC(s"$tmp/s$tag.edf", "00.00.00",
        if (tag == "a") Seq("C3", "C4") else Seq("EMG"))
      Files.copy(Paths.get(s"$tmp/s$tag.edf"), watch.resolve(s"s$tag.edf"))
      (tag, watch, tmp.resolve(s"out$tag").toString)
    }
    val futs = runs.map { case (tag, watch, out) =>
      Future {
        spark.sql(s"SELECT name FROM graft_edf_ingest('$watch', '$out') ORDER BY name")
          .collect().map(_.getString(0)).toSeq
      }.map(tag -> _)
    }
    val got = Await.result(Future.sequence(futs), 120.seconds).toMap
    assert(got("a") == Seq("C3", "C4"), s"run a: ${got("a")}")
    assert(got("b") == Seq("EMG"), s"run b: ${got("b")}")
    runs.foreach { case (_, _, out) =>
      assert(Files.exists(Paths.get(s"$out/channels.json")), s"$out committed")
    }
  }

  test("two stream lineages appending into one outDir via the TVF never collide replay tags") {
    // the silent-loss bug class the r16 self-review caught lives here:
    // lineage B's batch 0 must not be skipped because lineage A's batch 0
    // already stamped the shared outDir — the replay tag is keyed by the
    // checkpoint's persisted query id, not the batch number
    import java.nio.file.{Files, Paths}
    val tmp = Files.createTempDirectory("tvflineage")
    val out = tmp.resolve("out").toString
    val watchA = Files.createDirectory(tmp.resolve("watchA"))
    val watchB = Files.createDirectory(tmp.resolve("watchB"))
    EdfDFixtures.makeEdfC(s"$tmp/sA.edf", "00.00.00", Seq("C3", "C4"))
    EdfDFixtures.makeEdfC(s"$tmp/sB.edf", "02.00.00", Seq("C3", "C4")) // 2h later, same channels
    Files.copy(Paths.get(s"$tmp/sA.edf"), watchA.resolve("sA.edf"))
    Files.copy(Paths.get(s"$tmp/sB.edf"), watchB.resolve("sB.edf"))

    // distinct lineages: distinct watch dirs AND distinct checkpoints,
    // one shared output — the reference's sessions-accumulate workflow
    spark.sql(s"SELECT * FROM graft_edf_ingest('$watchA', '$out', '$tmp/ckptA')").collect()
    spark.sql(s"SELECT * FROM graft_edf_ingest('$watchB', '$out', '$tmp/ckptB')").collect()

    val c3 = new String(Files.readAllBytes(Paths.get(s"$out/channel.json")))
    assert(c3.contains("\"numValues\", \"value\": \"24\""),
      s"both lineages' sessions merged (12 + 12 values): $c3")
    assert("\\{\"index\": ".r.findAllIn(c3).size == 2, s"one chunk per session: $c3")
    // and an exact REPLAY of lineage B (same checkpoint, drained watch)
    // stays a no-op rather than double-appending
    spark.sql(s"SELECT * FROM graft_edf_ingest('$watchB', '$out', '$tmp/ckptB')").collect()
    val again = new String(Files.readAllBytes(Paths.get(s"$out/channel.json")))
    assert(again == c3, "drained-lineage replay changed nothing")
  }

  test("non-literal TVF args fail analysis loudly") {
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_curate(concat('a', 'b'))").collect()
    }
    assert(e.getMessage != null)
  }
}
