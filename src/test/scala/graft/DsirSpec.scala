package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis

/** C38/C38b DSIR tests: hand-computed importance weights on a tiny
  * corpus (feature buckets re-derived in the test from the shared
  * rolling hash), the n_feats = 2n−1 featurization invariant, the
  * deterministic Gumbel key formula, rerun determinism, and the bucket
  * gate.
  */
class DsirSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def docs(rows: Seq[(Long, String, String)]): Tables = {
    import spark.implicits._
    val df = rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("test"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("dsirdocs").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables(spark, dir)
  }

  private val P = 1000000007L
  private def rh(s: String): Long =
    s.codePoints.toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % P)
  private def feats(text: String, b: Int = 1024): Seq[Long] = {
    val ws = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val bigs = ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    (ws ++ bigs).map(t => rh(t) % b)
  }
  private def r3(x: Double): Double = math.floor(x * 1000.0 + 0.5) / 1000.0
  private def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  test("dsir_weights matches hand-computed add-alpha importance weights") {
    val rows = Seq((1L, "a b", "en"), (2L, "a c", "de"), (3L, "b b", "en"))
    val t = docs(rows)
    // reference model computed independently from the same formula
    val all = rows.flatMap { case (_, tx, _) => feats(tx) }
    val tgt = rows.filter(_._3 == "en").flatMap { case (_, tx, _) => feats(tx) }
    val cA = all.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val cT = tgt.groupBy(identity).view.mapValues(_.size.toDouble).toMap
    val denomA = all.size + 0.5 * 1024
    val denomT = tgt.size + 0.5 * 1024
    def w(bk: Long): Double =
      math.log((cT.getOrElse(bk, 0.0) + 0.5) / denomT) -
        math.log((cA(bk) + 0.5) / denomA)
    val expected = rows.map { case (id, tx, lang) =>
      id -> ((if (lang == "en") 1L else 0L),
        feats(tx).size.toLong,
        r3(feats(tx).foldLeft(0.0)((acc, bk) => acc + w(bk))))
    }.toMap
    val got = TextAnalysis.dsirWeights(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    // target-looking docs must outscore the off-target doc
    assert(got(1L)._3 > got(2L)._3 && got(3L)._3 > got(2L)._3)
  }

  test("featurization: n_feats = 2n-1 for n >= 1 tokens; empty docs score 0") {
    val t = docs(Seq((1L, "one two three", "en"), (2L, "solo", "en"),
      (3L, "", "de"), (4L, "   ", "de")))
    val got = TextAnalysis.dsirWeights(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L)._1 == 5L) // 3 uni + 2 big
    assert(got(2L)._1 == 1L) // 1 uni + 0 big
    assert(got(3L) == ((0L, 0.0)))
    assert(got(4L) == ((0L, 0.0)))
  }

  test("dsir_select: deterministic Gumbel key from the id hash, stable across reruns") {
    val rows = (1L to 20L).map(i => (i, s"tok$i common", if (i % 2 == 0) "en" else "de"))
    val t = docs(rows)
    val sel1 = TextAnalysis.dsirSelect(t, k = 5)
    val r1 = sel1.collect().map(r => (r.getLong(0), r.getDouble(3)))
    val r2 = TextAnalysis.dsirSelect(t, k = 5).collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(r1.toSeq == r2.toSeq, "selection must be a pure function of (corpus, ids)")
    assert(r1.length == 5)
    // key formula: logw + (-ln(-ln(u))), u from the multiplicative id hash
    val logw = TextAnalysis.dsirWeights(t).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    def key(id: Long): Double = {
      val hm = ((id % P + P) % P * 2654435761L) % P
      val u = (hm.toDouble + 0.5) / P.toDouble
      logw(id) - math.log(-math.log(u))
    }
    val expectTop = rows.map(_._1).sortBy(id => (-key(id), id)).take(5)
    assert(r1.map(_._1).toSeq == expectTop)
    r1.foreach { case (id, gk) => assert(gk == r3(key(id))) }
  }

  test("k larger than the corpus returns every document") {
    val t = docs(Seq((1L, "a", "en"), (2L, "b", "de")))
    assert(TextAnalysis.dsirSelect(t, k = 100).count() == 2)
  }

  test("bucket-count gate refuses b outside (0, 65536]") {
    val t = docs(Seq((1L, "a", "en")))
    intercept[IllegalArgumentException] { TextAnalysis.dsirWeights(t, b = 0) }
    intercept[IllegalArgumentException] { TextAnalysis.dsirWeights(t, b = 65537) }
  }

  test("C38c streaming gate scores identically to batch and keeps no state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val fitRows = Seq((1L, "good clean prose here", "en"), (2L, "spam spam spam", "de"),
      (3L, "more clean prose", "en"))
    val model = TextAnalysis.dsirFit(docs(fitRows))
    // stream carries one doc with buckets the model never saw (held-out
    // fallback) plus re-scored fit docs
    val arrivals = Seq(EventStream.Doc(1L, "good clean prose here"),
      EventStream.Doc(2L, "spam spam spam"),
      EventStream.Doc(9L, "utterly novel unseen wording"))
    val mem = MemoryStream[EventStream.Doc]
    val q = EventStream.streamingDsirScore(mem.toDS(), model)
      .writeStream.format("memory").queryName("dsirgate").outputMode("append").start()
    mem.addData(arrivals: _*)
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators
    val got = spark.sql("SELECT * FROM dsirgate ORDER BY docId").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    q.stop()
    assert(stateRows.isEmpty, "scoring must be stateless (no state operators)")
    // batch twin over the same arrivals through the same model
    val batch = arrivals.map(d => (d.docId, d.text)).toDF("docId", "text")
      .select(col("docId"), TextAnalysis.dsirNFeats(model).as("n_feats"),
        graft.functions.roundHalfUp(TextAnalysis.dsirScoreCol(model), 3).as("logw"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == batch, "stream == batch scoring parity")
    // the gate itself: only docs at/above the threshold pass
    val mem2 = MemoryStream[EventStream.Doc]
    val cut = got(1L)._2
    val q2 = EventStream.streamingDsirScore(mem2.toDS(), model, minLogw = cut)
      .writeStream.format("memory").queryName("dsirgate2").outputMode("append").start()
    mem2.addData(arrivals: _*)
    q2.processAllAvailable()
    val kept = spark.sql("SELECT docId FROM dsirgate2").collect().map(_.getLong(0)).toSet
    q2.stop()
    assert(kept == got.filter(_._2._2 >= cut).keySet)
  }

  test("quality classifier separates a planted separable corpus") {
    // positives share vocabulary; negatives share a disjoint one — an
    // easily separable problem 8 GD iterations must solve exactly
    val pos = (0L until 20L).map(i => (i, s"good clean prose text sample $i", "en"))
    val neg = (20L until 40L).map(i => (i, s"zz$i qq xx junkjunk spam$i", "de"))
    val t = docs(pos ++ neg)
    val got = TextAnalysis.qualityClassifier(t, labelExpr = "lang = 'en'",
      b = 256, iters = 12, lr = 1.0)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    got.foreach { case (id, (label, keep)) =>
      assert(keep == (label == 1L), s"doc $id misclassified: label=$label keep=$keep")
    }
  }

  test("classifierScore is the deterministic pseudo-weight fold (hand-check)") {
    val t = docs(Seq((1L, "a b", "en"), (2L, "", "en")))
    val b = 1024
    def w(bk: Long): Double = ((bk * 2654435761L) % 1000L - 500L).toDouble / 1000.0
    val fs = feats("a b", b) // uni a, uni b, bigram "a b"
    val expectZ = fs.foldLeft(0.0)((acc, bk) => acc + w(bk))
    val got = TextAnalysis.classifierScore(t, b).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got(1L)._1 == 3L)
    assert(got(1L)._2 == r4(expectZ), s"logit: ${got(1L)._2} vs ${r4(expectZ)}")
    assert(got(1L)._3 == (expectZ >= 0))
    assert(got(2L) == ((0L, 0.0, true)), s"empty doc: ${got(2L)}")
  }

  test("native featurize/score kernels match the HOF formulations row-for-row") {
    val rnd = new scala.util.Random(23)
    val words = Seq("spark", "Stream", "a", "ÉTÉ", "b12", "x,y", "zz")
    // whitespace-torture corpus: tabs, runs, leading/trailing, empty,
    // single-token, and non-ASCII lowercase-mapping docs
    val rows = (0L until 120L).map { i =>
      val seps = Seq(" ", "  ", "\t", " \t ")
      val n = rnd.nextInt(8)
      val body = Seq.fill(n)(words(rnd.nextInt(words.size)))
        .mkString(seps(rnd.nextInt(seps.size)))
      (i, if (i % 17 == 0) "" else s"${if (i % 5 == 0) "\t " else ""}$body",
        if (i % 2 == 0) "en" else "de")
    }
    val t = docs(rows)
    val b = 64
    val nf = t.documents.select(col("doc_id"),
        TextAnalysis.dsirFeatsHof(b).as("h"),
        expr(s"graft_dsir_feats(text, ${b}L)").as("n")).collect()
    nf.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"feats diverge for doc ${r.getLong(0)}: ${r.getSeq[Long](1)} vs ${r.getSeq[Long](2)}")
    }
    val m = TextAnalysis.dsirFit(t, targetExpr = "lang = 'en'", b = b)
    val sc = t.documents.select(col("doc_id"),
        TextAnalysis.dsirScoreColHof(m).as("h"),
        TextAnalysis.dsirScoreCol(m).as("n")).collect()
    sc.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2),
        s"score diverges (must be bit-identical) for doc ${r.getLong(0)}")
    }
  }

  test("dsir_weights' n_feats and logw share one dsirScore kernel table") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    val t = docs(Seq((1L, "a b", "en"), (2L, "a c", "de")))
    val plan = TextAnalysis.dsirWeights(t).queryExecution.executedPlan
    val tables = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect {
      case s: StaticInvoke if s.functionName == "dsirScore" =>
        s.arguments.collect { case Literal(w: Array[Double], _) => w }
    }.flatten)
    assert(tables.size == 2, s"one kernel call per projection: $plan")
    // one array, so the two calls are equal and subexpression elimination shares them
    assert(tables.forall(_ eq tables.head), s"${tables.size} calls, distinct tables")
  }
}
