package graft

import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** C18: k-means over PLANTED well-separated blobs — every blob must land
  * in one cluster, distinct blobs in distinct clusters, deterministically.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  private def embeddings(rows: Seq[(Long, Seq[Float], String)]): Tables = {
    import spark.implicits._
    val df = rows.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("emb").toString
    df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    Tables(spark, dir)
  }

  test("embedNearDup refuses oversized corpora, pointing at the LSH path") {
    val rows = (0L until 20L).map(i => (i, Seq.tabulate(4)(d => (i + d).toFloat), "x"))
    val t = embeddings(rows)
    val e = intercept[IllegalArgumentException] {
      Similarity.embedNearDup(t, threshold = 0.9, maxAllPairs = 10L)
    }
    assert(e.getMessage.contains("embedNearDupLsh"), s"refusal names the scale path: ${e.getMessage}")
    // within the cap the baseline still plans and runs
    Similarity.embedNearDup(t, threshold = 0.9, maxAllPairs = 100L).count()
    // pin the default budget: 100k rows = ≤5e9 pairs ≈ 500 core-seconds,
    // the documented ceiling for a recall baseline (see the Scaladoc
    // derivation) — a silent bump back to 1M would be a 100x cost change
    val dflt = Similarity.getClass.getMethod("embedNearDup$default$3")
      .invoke(Similarity).asInstanceOf[Long]
    assert(dflt == 100000L, s"default maxAllPairs budget changed: $dflt")
  }

  test("corpusRows answers from catalog statistics without running a job") {
    import spark.implicits._
    // a prior JVM's warehouse dir survives the (in-memory) catalog —
    // clear both or CREATE TABLE refuses the orphaned location
    spark.sql("DROP TABLE IF EXISTS emb_stats")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, "emb_stats"))
    (0L until 123L).map(i => (i, Seq.fill(4)(i.toFloat), "x"))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").saveAsTable("emb_stats")
    spark.sql("ANALYZE TABLE emb_stats COMPUTE STATISTICS")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // the ANALYZE jobs above must reach the bus before the counter attaches
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      assert(Similarity.corpusRows(spark.table("emb_stats")) == 123L)
      ListenerBus.drain(spark.sparkContext)
      assert(jobs.get() == 0, "stats-backed cardinality must not scan")
      // control: a stat-less source falls back to count() — a real job —
      // proving the listener would have seen a scan above
      val dir = java.nio.file.Files.createTempDirectory("embnostat").toString
      spark.table("emb_stats").write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      ListenerBus.drain(spark.sparkContext)
      val afterWrite = jobs.get()
      assert(Similarity.corpusRows(spark.read.parquet(s"$dir/embeddings.parquet")) == 123L)
      ListenerBus.drain(spark.sparkContext)
      assert(jobs.get() > afterWrite, "fallback path runs a count job")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("kmeans separates planted blobs and is deterministic") {
    // three orthogonal-ish directions in 8-d, 20 jittered members each;
    // ids arranged so the deterministic init picks one seed per blob
    val dirs = Seq(
      Seq(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f),
      Seq(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f, 0f, 0f, 1f, 0f))
    val rows = for {
      blob <- 0 until 3
      i <- 0 until 20
    } yield {
      val jitter = dirs(blob).zipWithIndex.map { case (x, d) =>
        x + 0.05f * (((blob * 20 + i) * 31 + d) % 7 - 3)
      }
      ((i * 3 + blob).toLong, jitter, s"blob$blob")
    }
    val t = embeddings(rows)
    val got = Similarity.kmeans(t, k = 3, maxIter = 5).collect()
      .map(r => (r.getString(1), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (label, cells) =>
      assert(cells.size == 1, s"$label all in one cluster, got $cells")
    }
    assert(got.values.flatten.toSet.size == 3, s"three distinct clusters: $got")
    val again = Similarity.kmeans(t, k = 3, maxIter = 5).collect().map(_.getLong(2)).toSeq
    val first = Similarity.kmeans(t, k = 3, maxIter = 5).collect().map(_.getLong(2)).toSeq
    assert(again == first, "deterministic across runs")
  }

  test("cell assignment: literal-fold and broadcast-join paths agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i =>
      (i, Seq.fill(16)(rnd.nextFloat() * 2 - 1), s"l${i % 3}")) :+
      ((200L, Seq.fill(16)(0.0f), "zero"))  // zero-norm: NaN cosine everywhere
    val df = vecs.toDF("vec_id", "embedding", "label")
    val cents = vecs.take(8).map { case (i, v, _) => (i, v) }.toArray
    def cells(maxLit: Long) =
      Similarity.assignCells(df, "vec_id", "embedding", cents, maxLit)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
    val lit = cells(Long.MaxValue)
    val joined = cells(0L)
    assert(lit == joined, "tie-break and NaN handling identical across paths")
    assert(lit(200L) == cents.head._1, "all-NaN vector lands deterministically in cell 0")
  }

  test("literal-fold assignment survives a 500k-float codebook (plan-size O(1))") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val d = 512
    val cents = Array.tabulate(1024)(i => (i.toLong, Seq.fill(d)(rnd.nextFloat())))
    val df = (0L until 64L).map(i => (i, cents((i * 16 % 1024).toInt)._2)).toDF("vec_id", "embedding")
    val out = Similarity.assignCells(df, "vec_id", "embedding", cents)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
    // each row IS a centroid — cosine 1.0 with itself must win
    assert((0L until 64L).forall(i => out(i) == (i * 16 % 1024)),
      s"each vector assigned to its own centroid cell")
  }

  test("LSH-blocked near-dup recalls planted pairs vs the all-pairs truth") {
    // 60 deterministic pseudo-random 16-d vectors + 20 jittered copies
    // (cos ≈ 0.999); one shared label makes embedNearDup the exact
    // all-pairs brute force to measure recall against
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(d => ((seed * 31 + d) * 2654435761L % 1000L - 500L) / 500.0f)
    val base = (0 until 60).map(i => (i.toLong, vec(i), "all"))
    val dups = (0 until 20).map { i =>
      val v = vec(i).zipWithIndex.map { case (x, d) => x + 0.02f * ((i + d) % 3 - 1) }
      (100L + i, v, "all")
    }
    val t = embeddings(base ++ dups)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val truth = pairs(Similarity.embedNearDup(t, threshold = 0.9))
    val lsh = pairs(Similarity.embedNearDupLsh(t, threshold = 0.9))
    assert(truth.size >= 20, s"planted pairs present in truth: ${truth.size}")
    assert(lsh.subsetOf(truth), s"exact verification admits no false pairs: ${lsh -- truth}")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall (${lsh.size}/${truth.size})")
  }

  test("knnGraph: in-block ranking, id-asc ties, singleton blocks emit nothing") {
    // label x: v0 along e1, v1 near-clone of v0, v2/v3 both orthogonal
    // (equal sim 0 from v0 -> id-asc tie order); label y: singleton
    val t = embeddings(Seq(
      (0L, Seq(1f, 0f), "x"),
      (1L, Seq(0.99f, 0.14f), "x"),
      (2L, Seq(0f, 1f), "x"),
      (3L, Seq(0f, 2f), "x"),
      (10L, Seq(1f, 0f), "y")))
    val got = Similarity.knnGraph(t, k = 3).orderBy("vec_id", "rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val v0 = got.filter(_._1 == 0L).map(x => (x._2, x._3)).toSeq
    assert(v0 == Seq((1L, 1L), (2L, 2L), (3L, 3L)),
      s"v0: clone first, then the orthogonal pair in id order: $v0")
    // v2/v3 are scalar multiples: each ranks the other at sim 1.0 first
    val v2 = got.filter(_._1 == 2L).map(x => (x._2, x._3)).head
    assert(v2 == ((1L, 3L)), s"v2's nearest is its scalar multiple v3: $v2")
    assert(!got.exists(_._1 == 10L), "singleton block contributes no rows")
  }

  test("knnGraphLsh: planted near-dup partners surface at rank 1") {
    def vec(seed: Long): Seq[Float] =
      (0 until 16).map(d => ((seed * 31 + d) * 2654435761L % 1000L - 500L) / 500.0f)
    val base = (0 until 60).map(i => (i.toLong, vec(i), "all"))
    val dups = (0 until 20).map { i =>
      val v = vec(i).zipWithIndex.map { case (x, d) => x + 0.02f * ((i + d) % 3 - 1) }
      (100L + i, v, "all")
    }
    val t = embeddings(base ++ dups)
    val rank1 = Similarity.knnGraphLsh(t, k = 3).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    // each jittered copy's best neighbor is its source (cos ~0.999) —
    // IF the pair collided in some band; demand >= 18/20 surfacing to
    // leave room for band-miss on this self-sized tiny config.
    // (The reverse direction is NOT planted: the deterministic generator
    // is affine in the seed — vec(a)[d] = (591a + 761d) mod 1000 — so a
    // BASE vector's true nearest is often another base vector at a tiny
    // constant offset, e.g. seeds 22 apart; the copy only ranks second.)
    val hits = (0 until 20).count(i => rank1.get(100L + i).contains(i.toLong))
    assert(hits >= 18, s"planted partners at rank 1: $hits/20")
    // graph-level recall vs the exact kNN graph (one shared label makes
    // knnGraph the global brute force): rank-1 must agree on >= 90%
    val exact1 = Similarity.knnGraph(t, k = 3).collect()
      .filter(_.getLong(2) == 1L).map(r => r.getLong(1) -> r.getLong(3)).toMap
    val agree = exact1.count { case (v, nbr) => rank1.get(v).contains(nbr) }
    assert(agree >= (exact1.size * 9) / 10,
      s"rank-1 agreement with exact graph: $agree/${exact1.size}")
  }

  test("mmrSelect demotes redundant near-duplicates that pure relevance top-k would take") {
    // q points along x; ids 1 and 2 are the SAME direction (sim 1.0),
    // id 3 is relevant-but-diverse
    val t = embeddings(Seq(
      (0L, Seq(1f, 0f), "q"),
      (1L, Seq(0.99f, 0.14f), "a"),
      (2L, Seq(1.98f, 0.28f), "a_dup"),   // exact scalar multiple of id 1
      (3L, Seq(0.6f, 0.8f), "b")))
    val got = Similarity.mmrSelect(t, queryVecId = 0L, n = 10, k = 3,
      lambda = 0.5, mu = 0.7).collect().map(r => (r.getLong(0), r.getLong(1)))
    // step 1: ids 1/2 tie on relevance -> id asc; step 2: the exact dup's
    // mmr = 0.5*0.99 - 0.7*1.0 loses to the diverse 0.5*0.6 - 0.7*0.706;
    // step 3: the dup finally admits
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)),
      s"diverse pick beats the duplicate: ${got.toSeq}")
    // pure relevance order would have been 1, 2, 3
    val rel = Similarity.annTopK(t, 0L, 3).collect().map(_.getLong(0)).toSeq
    assert(rel == Seq(1L, 2L, 3L), s"baseline confirms MMR changed the pick: $rel")
  }

  test("hardNegatives excludes the query's own label and ranks cross-label by similarity") {
    // query v0 (label a); v1 is a same-label near-clone (MUST be excluded
    // even though it is the global nearest); v2/v3 are cross-label with
    // v2 strictly closer than v3; v4 is cross-label but anti-aligned
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), "a"),
      (1L, Seq(1f, 0.01f, 0f, 0f), "a"),
      (2L, Seq(1f, 0.2f, 0f, 0f), "b"),
      (3L, Seq(1f, 1f, 0f, 0f), "b"),
      (4L, Seq(-1f, 0f, 0f, 0f), "c"))
    val t = embeddings(rows)
    val got = Similarity.hardNegatives(t, nQueries = 1, k = 3)
      .orderBy("q_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 2L), (0L, 2L, 3L), (0L, 3L, 4L)),
      s"hardest cross-label negatives in similarity order, same-label clone excluded: ${got.toSeq}")
  }

  test("embCorr: perfect pair ranks first, planted partial correlation exact, ties break on (i, j)") {
    // dims as columns over 4 vectors: dim1=[1,2,3,4], dim2=2*dim1 (corr 1),
    // dim3=[1,-1,1,-1] (corr -0.4472 with both)
    val rows = Seq(
      (0L, Seq(1f, 2f, 1f), "x"), (1L, Seq(2f, 4f, -1f), "x"),
      (2L, Seq(3f, 6f, 1f), "x"), (3L, Seq(4f, 8f, -1f), "x"))
    val got = Similarity.embCorr(embeddings(rows), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 4L, 1.0),
      (1L, 3L, 4L, -0.4472),
      (2L, 3L, 4L, -0.4472)), s"got ${got.toSeq}")
  }

  test("embedWhiten closes the emb_corr loop: flag -> whiten -> decorrelated, unit variance") {
    import org.apache.spark.sql.functions._
    // planted rank-2 structure in d=6: every vector is a fixed mixing of
    // two independent pseudo-random sources, so 4 eigenvalues are ~0 and
    // the correlation audit must light up before whitening
    def z1(i: Long) = ((i * 2654435761L) % 1000).toDouble / 1000.0 - 0.5
    def z2(i: Long) = ((i * 40503L + 7L) % 997).toDouble / 997.0 - 0.5
    val rows = (0L until 200L).map { i =>
      val (a, b) = (z1(i), z2(i))
      (i, Seq(3 * a, a + 2 * b, -a, b, 2 * a - b, 0.5 * b).map(_.toFloat), "x")
    }
    val t = embeddings(rows)
    val flagged = Similarity.embCorr(t, k = 5).collect().map(r => math.abs(r.getDouble(3)))
    assert(flagged.head > 0.9, s"planted correlation flagged: ${flagged.toSeq}")

    // variance concentration: only the 2 informative eigendirections
    // survive the minVariance cut — the whitened output IS 2-dimensional
    val w = Similarity.embedWhiten(t).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).map(_._2)
    assert(w.head.size == 2, s"rank-2 corpus whitens to 2 dims, got ${w.head.size}")

    // empirical covariance of the whitened output == I (same-moments
    // whitening is exact up to the Jacobi tolerance)
    val n = w.length.toDouble
    val mu = Array.tabulate(2)(k => w.map(_(k)).sum / n)
    for (p <- 0 until 2; q <- p until 2) {
      val c = w.map(v => (v(p) - mu(p)) * (v(q) - mu(q))).sum / n
      val want = if (p == q) 1.0 else 0.0
      assert(math.abs(c - want) < 1e-8, s"cov($p,$q)=$c, want $want")
    }

    // and the audit on the whitened relation reports ~zero everywhere
    val dir = java.nio.file.Files.createTempDirectory("embw").toString
    Similarity.embedWhiten(t).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val after = Similarity.embCorr(Tables(spark, dir), k = 5).collect()
      .map(r => math.abs(r.getDouble(3)))
    assert(after.forall(_ <= 0.01), s"whitened corpus decorrelated: ${after.toSeq}")

    // outDims keeps the TOP-variance direction only
    val w1 = Similarity.embedWhiten(t, outDims = 1).collect().head.getSeq[Double](1)
    assert(w1.size == 1, s"outDims=1 -> 1 component, got ${w1.size}")
  }

  test("graft_moments matches hand-computed count/sums/cross-products (single-pass whiten moments)") {
    // exact small-integer floats: no summation-order ambiguity, so the
    // single-buffer aggregate must reproduce the moments bit-for-bit
    val t = embeddings(Seq(
      (0L, Seq(1f, 2f, 3f), "x"), (1L, Seq(4f, 5f, 6f), "x"),
      (2L, Seq(7f, 8f, 9f), "x"), (3L, Seq(0f, 1f, 0f), "x")))
    val m = t.embeddings
      .agg(org.apache.spark.sql.functions.expr("graft_moments(embedding)"))
      .head().getSeq[Double](0).toArray
    val vs = Seq(Seq(1d, 2d, 3d), Seq(4d, 5d, 6d), Seq(7d, 8d, 9d), Seq(0d, 1d, 0d))
    assert(m(0) == 3.0 && m(1) == 4.0, s"d=3, n=4: got ${m.toSeq.take(2)}")
    for (i <- 0 until 3)
      assert(m(2 + i) == vs.map(_(i)).sum, s"sx($i)")
    var idx = 5
    for (i <- 0 until 3; j <- i until 3) {
      assert(m(idx) == vs.map(v => v(i) * v(j)).sum, s"sxy($i,$j)")
      idx += 1
    }
  }

  test("embedWhiten refuses a ragged corpus loudly (mixed embedding dimensions)") {
    // a short vector contributes to fewer diagonal moment groups, so the
    // per-dimension counts disagree — silently-wrong covariances before
    // the r15 ADVICE fix; now a loud require
    val rows = Seq(
      (0L, Seq(1f, 2f, 3f), "x"), (1L, Seq(4f, 5f, 6f), "x"),
      (2L, Seq(7f, 8f), "x")) // ragged: d=2 instead of 3
    val e = intercept[IllegalArgumentException] {
      Similarity.embedWhiten(embeddings(rows)).collect()
    }
    assert(e.getMessage.contains("ragged"), s"loud ragged-dimension error: ${e.getMessage}")
  }

  test("embedWhiten handles a DUPLICATED dimension (equal-diagonal Jacobi block)") {
    // cov of (a, a, b) has the 2x2 block [[v,v],[v,v]]: theta == 0 in the
    // Jacobi rotation — the r15 review found signum(0) made this block a
    // silent no-op, so 'whitened' output stayed correlated at 1.0
    def z1(i: Long) = ((i * 2654435761L) % 1000).toDouble / 1000.0 - 0.5
    def z2(i: Long) = ((i * 40503L + 7L) % 997).toDouble / 997.0 - 0.5
    val rows = (0L until 150L).map { i =>
      val (a, b) = (z1(i), z2(i))
      (i, Seq(a, a, b).map(_.toFloat), "x")
    }
    val t = embeddings(rows)
    val w = Similarity.embedWhiten(t).collect().map(_.getSeq[Double](1))
    assert(w.head.size == 2, s"duplicated dim drops: rank 2, got ${w.head.size}")
    val n = w.length.toDouble
    val mu = Array.tabulate(2)(k => w.map(_(k)).sum / n)
    for (p <- 0 until 2; q <- p until 2) {
      val c = w.map(v => (v(p) - mu(p)) * (v(q) - mu(q))).sum / n
      val want = if (p == q) 1.0 else 0.0
      assert(math.abs(c - want) < 1e-8, s"cov($p,$q)=$c, want $want")
    }
  }
}
