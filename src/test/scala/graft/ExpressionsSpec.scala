package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.native

/** D3: native Catalyst expressions — values match the HOF formulations
  * they replaced, codegen + interpreted paths agree, nulls propagate.
  */
class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
    .getOrCreate()

  test("cosine_sim matches the HOF zip_with/aggregate fold exactly") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)),
      (Array(0.5f, -0.25f, 0.125f), Array(0.1f, 0.2f, 0.3f))).toDF("a", "b")
    val got = df.select(native.cosine_sim(col("a"), col("b"))).collect().map(_.getDouble(0))
    val ref = df.select(
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
        / (sqrt(expr("aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
          * sqrt(expr("aggregate(b, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))))
      .collect().map(_.getDouble(0))
    assert(got.toSeq == ref.toSeq, "bit-identical to HOF fold")
  }

  test("rolling_hash matches the per-char HOF fold and handles empties/nulls") {
    import spark.implicits._
    val df = Seq(Some("ab"), Some(""), Some("hello world"), None).toDF("s")
    val got = df.select(native.rolling_hash(col("s"))).collect()
    assert(got(0).getLong(0) == (97 * 31 + 98) % 1000000007L)
    assert(got(1).getLong(0) == 0L)
    assert(got(3).isNullAt(0), "null in, null out")
    val ref = df.filter(col("s").isNotNull).select(
      expr("aggregate(split(s, ''), CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + ascii(x)) % 1000000007)"))
      .collect().map(_.getLong(0))
    assert(got.take(3).map(_.getLong(0)).toSeq == ref.toSeq)
  }

  test("stopword_hits matches the per-profile HOF formulation, one pass") {
    import spark.implicits._
    val df = Seq("The quick the and a fox", "der und das ist", "", "  \n ").toDF("text")
    val got = df.select(expr("graft_stopword_hits(text, 'the,a,of|der,die,und,das,ist')"))
      .collect().map(_.getSeq[Long](0))
    val ref = df.select(
      expr("size(filter(split(trim(lower(text)), '\\\\s+'), w -> w IN ('the','a','of')))").cast("long"),
      expr("size(filter(split(trim(lower(text)), '\\\\s+'), w -> w IN ('der','die','und','das','ist')))").cast("long"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    got.map(_.toSeq).zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      assert(g == r, s"row $i: kernel $g vs HOF $r")
    }
    assert(got(0).toSeq == Seq(3L, 0L), "case-insensitive: 'The'+'the'+'a' = 3 hits")
  }

  test("shingle hashes keep trailing empty tokens like Spark/DuckDB split") {
    import spark.implicits._
    // space-trim leaves the trailing \n; split must yield [hello, world, '']
    val df = Seq("hello world\n", "\nhello world", "hello world").toDF("text")
    val got = df.select(expr("graft_shingle_hashes(text, 2)")).collect().map(_.getSeq[Long](0))
    val ref = df.select(expr(
      """array_distinct(transform(
           CASE WHEN size(split(trim(lower(text)), '\\s+')) < 2
                THEN array(array_join(split(trim(lower(text)), '\\s+'), ' '))
                ELSE transform(sequence(0, size(split(trim(lower(text)), '\\s+')) - 2),
                  i -> concat(element_at(split(trim(lower(text)), '\\s+'), i + 1), ' ',
                              element_at(split(trim(lower(text)), '\\s+'), i + 2)))
           END,
           s -> aggregate(split(s, ''), CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + ascii(x)) % 1000000007)))"""))
      .collect().map(_.getSeq[Long](0))
    got.zip(ref).zipWithIndex.foreach { case ((g, r), i) =>
      assert(g == r, s"row $i: kernel $g vs HOF $r")
    }
    assert(got(0) != got(2), "trailing newline changes the shingle set (extra empty token)")
  }

  test("graft_topk aggregate: bounded, mergeable, deterministic ties") {
    import spark.implicits._
    // 1000 rows over 8 partitions forces partial-aggregate merges
    val df = (0L until 1000L).map(i => (i % 3, (i % 97).toDouble, i)).toDF("g", "score", "id")
      .repartition(8)
    val got = df.groupBy(col("g"))
      .agg(expr("graft_topk(struct(score, id), 4)").as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getDouble(0), e.getLong(1)))).toMap
    // ground truth: top 4 by (score desc, id asc) per group
    val truth = (0L until 1000L).map(i => (i % 3, (i % 97).toDouble, i))
      .groupBy(_._1).view.mapValues(_.toSeq
        .sortBy { case (_, s, id) => (-s, id) }.take(4).map(t => (t._2, t._3))).toMap
    (0L until 3L).foreach { g =>
      assert(got(g) == truth(g), s"group $g: ${got(g)} vs ${truth(g)}")
    }
    // groups smaller than k return all rows
    val small = Seq((1L, 5.0, 10L), (1L, 7.0, 11L)).toDF("g", "score", "id")
      .groupBy(col("g")).agg(expr("graft_topk(struct(score, id), 4)").as("top"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
    assert(small.map(e => (e.getDouble(0), e.getLong(1))) == Seq((7.0, 11L), (5.0, 10L)))
    // NaN ranks largest (SQL sort order) and never poisons the buffer
    val withNaN = Seq((1L, Double.NaN, 1L), (1L, 1.0, 2L), (1L, 5.0, 3L), (1L, 3.0, 4L))
      .toDF("g", "score", "id")
      .groupBy(col("g")).agg(expr("graft_topk(struct(score, id), 2)").as("top"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
      .map(e => (e.getDouble(0), e.getLong(1)))
    assert(withNaN.length == 2 && withNaN(0)._1.isNaN && withNaN(1) == ((5.0, 3L)),
      s"NaN first, then the true best: $withNaN")
    // wrong input type fails analysis, not execution
    val e = intercept[Exception] {
      Seq((1L, 1, 2)).toDF("g", "score", "id")
        .groupBy(col("g")).agg(expr("graft_topk(struct(score, id), 2)")).collect()
    }
    assert(e.getMessage.contains("struct<double, bigint>"), e.getMessage)
  }

  test("sortable_bits preserves double ordering") {
    import spark.implicits._
    val vs = Seq(Double.NegativeInfinity, -1e300, -2.0, -1.0, -1e-300, -0.0,
      0.0, 1e-300, 1.0, 2.0, 1e300, Double.PositiveInfinity)
    val got = vs.toDF("v").select(expr("graft_sortable_bits(v)")).collect().map(_.getLong(0))
    assert(got.toSeq == got.sorted.toSeq, s"sortable bits must be monotone: ${got.toSeq}")
    assert(got.distinct.length == vs.length, "distinct doubles map to distinct longs")
  }

  test("minhash_sig and simhash48 match their HOF formulations") {
    import spark.implicits._
    val df = Seq(Array(17L, 9341L, 77777L, 123456789L)).toDF("hs")
    val gotSig = df.select(native.minhash_sig(col("hs"), 8)).collect()(0).getSeq[Long](0)
    val refSig = df.select(expr(
      """transform(sequence(0, 7), j -> array_min(transform(hs, x ->
         ((((2*j+1)*777767L) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937L) % 1000000007) % 1000000007)))"""))
      .collect()(0).getSeq[Long](0)
    assert(gotSig == refSig)
    val gotSim = df.select(native.simhash48(col("hs"))).collect()(0).getLong(0)
    val refSim = df.select(expr(
      """aggregate(sequence(0, 47), CAST(0 AS BIGINT), (acc, j) ->
         acc + CASE WHEN aggregate(transform(hs, h -> 2 * (shiftright((h * 2654435761L) % 281474976710656L, j) & 1) - 1),
                      CAST(0 AS BIGINT), (a, v) -> a + v) > 0
                    THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END)"""))
      .collect()(0).getLong(0)
    assert(gotSim == refSim)
  }

  test("shingle kernel matches the SQL-trim formulation on tab/newline edges") {
    import spark.implicits._
    val df = Seq("\tleading tab here now", "trail space ", "  mid  runs\nhere x y").toDF("text")
    val kernel = df.select(expr("graft_shingle_hashes(text, 3)")).collect().map(_.getSeq[Long](0).toSet)
    val hof = df.select(expr(
      """array_distinct(transform(
           CASE WHEN size(split(trim(lower(text)), '\\s+')) < 3
                THEN array(concat_ws(' ', split(trim(lower(text)), '\\s+')))
                ELSE transform(sequence(0, size(split(trim(lower(text)), '\\s+'))-3),
                       i -> concat_ws(' ', element_at(split(trim(lower(text)), '\\s+'), i+1),
                                           element_at(split(trim(lower(text)), '\\s+'), i+2),
                                           element_at(split(trim(lower(text)), '\\s+'), i+3))) END,
           s -> graft_rolling_hash(s)))""")).collect().map(_.getSeq[Long](0).toSet)
    assert(kernel.toSeq == hof.toSeq, "kernel == SQL trim/split semantics incl. whitespace edges")
  }

  test("native expressions run inside whole-stage codegen") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val df = emb.select(native.cosine_sim(col("embedding"), col("embedding")).as("c"),
      native.rolling_hash(col("vec_id").cast("string")).as("h"))
    val hasCodegen = df.queryExecution.executedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasCodegen, s"expected codegen span in:\n${df.queryExecution.executedPlan}")
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-9), "self-cosine = 1")
  }

  test("IVF with learned centroids recalls at least as well as first-k seeding") {
    val t = Tables(spark, "/root/testdata/sf0.01")
    val brute = graft.operators.Similarity.annTopK(t, k = 10).collect().map(_.getLong(0)).toSet
    def recall(df: org.apache.spark.sql.DataFrame) =
      (brute & df.collect().map(_.getLong(0)).toSet).size.toDouble / brute.size
    // no exact-determinism assert: avg() partial-merge order across jobs
    // is not bit-guaranteed, and a last-ulp centroid shift may flip one
    // assignment — both runs must just clear the recall floor
    val learned = recall(graft.operators.Similarity.annIvfKmeans(t, nCells = 16, nProbe = 4, k = 10))
    val again = recall(graft.operators.Similarity.annIvfKmeans(t, nCells = 16, nProbe = 4, k = 10))
    assert(learned >= 0.5 && again >= 0.5,
      s"probing 1/4 of learned cells recalls half the top-k: $learned / $again")
  }

  test("IVF recall: probed search finds most of brute-force top-k") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val brute = graft.operators.Similarity.annTopK(t, k = 10).collect().map(_.getLong(0)).toSet
    val ivf = graft.operators.Similarity.annIvf(t, nCells = 16, nProbe = 8, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall (probing half the cells)")
  }

  test("graft_keep_first and graft_dsir_feats are SQL-reachable with exact semantics") {
    import spark.implicits._
    val got = spark.sql(
      """SELECT graft_keep_first(array('A ', 'a', 'b', 'B', 'a')) AS k,
                graft_dsir_feats('x y', 1024L) AS f""").collect()(0)
    assert(got.getSeq[String](0) == Seq("A ", "b"), s"keep_first: ${got.getSeq[String](0)}")
    // feats = [h('x')%b, h('y')%b, h('x y')%b] with the base-31 rolling hash
    def rh(s: String): Long = s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    assert(got.getSeq[Long](1) == Seq(rh("x") % 1024, rh("y") % 1024, rh("x y") % 1024),
      s"dsir_feats: ${got.getSeq[Long](1)}")
  }

  test("every row kernel gives equal rows generated and interpreted, and null for null") {
    import spark.implicits._
    import graft.functions.KernelCall
    import org.apache.spark.sql.types._
    // one SQL call per registered row kernel; the registry check below
    // makes a newly registered kernel fail here until it is listed
    val sqlCalls = Map(
      "graft_cosine" -> "graft_cosine(a, b)",
      "graft_rolling_hash" -> "graft_rolling_hash(s)",
      "graft_minhash_sig" -> "graft_minhash_sig(hs, 4)",
      "graft_simhash" -> "graft_simhash(hs, 48)",
      "graft_shingle_hashes" -> "graft_shingle_hashes(s, 2)",
      "graft_minhash_bands" -> "graft_minhash_bands(hs, 2, 2)",
      "graft_stopword_hits" -> "graft_stopword_hits(s, 'the,a|fox')",
      "graft_winnow" -> "graft_winnow(s, 3, 2)",
      "graft_nfc" -> "graft_nfc(s)",
      "graft_char_entropy" -> "graft_char_entropy(s)",
      "graft_sortable_bits" -> "graft_sortable_bits(d)",
      "graft_keep_first" -> "graft_keep_first(segs)",
      "graft_dsir_feats" -> "graft_dsir_feats(s, 64)",
      "graft_simhash_blocks" -> "graft_simhash_blocks(hs, 48, 4, 12)")
    val registered = spark.catalog.listFunctions().collect()
      .filter(f => f.name.startsWith("graft_") && f.className == "graft.functions.Kernels")
      .map(_.name).toSet
    assert(registered == sqlCalls.keySet, s"registered row kernels: $registered")
    // the operator-only kernels, with small constant tables
    val codeDist = StructType(Seq(StructField("c", LongType, nullable = false),
      StructField("d", DoubleType, nullable = false)))
    val opCalls = Seq(
      KernelCall.column("hyperplaneBands", KernelCall.LongArray, col("a"),
        Array(1.0, -1.0, 0.5, 0.0, 1.0, -2.0), 2, 1),
      KernelCall.column("nearestCentroid", IntegerType, col("a"),
        Array(1.0f, 0.0f, 0.0f, 0.0f, 1.0f, 1.0f), 2, 3),
      KernelCall.column("pqEncode", ArrayType(codeDist, containsNull = false), col("a"),
        Array(0.0, 0.0, 0.0, 1.0, 2.0, 3.0), 1, 2, 3),
      KernelCall.column("pqAdc", DoubleType, col("a"), col("hs"),
        Array(0.0, 0.0, 0.0, 1.0, 2.0, 3.0), 1, 2, 3),
      KernelCall.column("randProj", ArrayType(DoubleType, containsNull = false), col("a"), 4),
      KernelCall.column("dsirScore", StructType(Seq(StructField("n_feats", LongType, nullable = false),
        StructField("score", DoubleType, nullable = false))), col("s"), Array.tabulate(64)(_ * 0.5), 64L))
    // a shuffle keeps the projection off the driver-side LocalRelation
    // folding, which would evaluate it interpreted in both runs
    val df = Seq(
      (0, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(3.0f, 2.0f, 1.0f)), Some("The quick  fox, the fox\u00e9"),
        Some(Array(1L, 0L, 77777L, 9341L)), Some(-2.5), Some(Array("a ", "A", "b"))),
      (1, None, None, None, None, None, None))
      .toDF("id", "a", "b", "s", "hs", "d", "segs").repartition(2)
    val cols = sqlCalls.values.toSeq.sorted.map(expr) ++ opCalls
    def run(conf: (String, String)*): Seq[org.apache.spark.sql.Row] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try df.select(col("id") +: cols: _*).orderBy(col("id")).collect().toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val generated = run("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = run("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(generated == interpreted)
    val Seq(values, nulls) = generated
    (1 to cols.size).foreach { i =>
      assert(!values.isNullAt(i), s"column $i: a value in gives a value out")
      assert(nulls.isNullAt(i), s"column $i: null in gives null out")
    }
  }
}
