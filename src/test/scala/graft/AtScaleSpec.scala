package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** At-scale (sf1) evidence for the two operators excluded from the sf1
  * DuckDB oracle sweep for ORACLE-side cost, not engine cost (r14
  * verdict): `graph_lpa` (unrolled-CTE oracle OOMs DuckDB at sf1) and
  * `jaccard_join_exact` (the brute-force oracle is quadratic). Both get
  * independent checks here that run under `sbt test`, so the at-scale
  * claim is in the test count, not just committed probe JSON.
  *
  * The sf1 corpus is DERIVED deterministically (ScaleGen, 10× sf0.1,
  * only the two tables these checks read) and cached under /tmp across
  * runs — first run pays ~1 min of generation, later runs reuse it.
  */
class AtScaleSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder("local[32]", 32).getOrCreate()

  private val KeySpan = 100000000L // ScaleGen's per-copy key shift

  private lazy val sf1Dir: String = {
    val dst = "/tmp/graft_atscale_sf1"
    val need = Set("lineitem", "documents")
    val missing = need.filterNot(t => new java.io.File(s"$dst/$t.parquet").exists)
    if (missing.nonEmpty)
      ScaleGen.generate(spark, "/root/testdata/sf0.1", dst, 10, Some(missing))
    dst
  }

  /** Cross-algorithm invariant check for B34 (`graph_lpa`) where the
    * unrolled-CTE oracle exceeds the oracle engine's memory (observed:
    * DuckDB OOM at sf1). Labels originate as node ids and propagate ONLY
    * along edges, so "same LPA label ⟹ same connected component" is a
    * theorem — checkable by joining LPA labels against B31's
    * star-contraction components (an INDEPENDENT algorithm) over the same
    * edge relation, at any scale, with no SQL oracle.
    *
    * Requires: (1) zero labels spanning >1 component; (2) communities
    * refine components (≥ count, every component hosts ≥1 community);
    * (3) label relation covers exactly the graph's nodes. Returns
    * (nodes, communities, components, ccRounds).
    */
  private def lpaInvariant(sfDir: String, iters: Int): (Long, Long, Long, Int) = {
    val t = Tables(spark, sfDir)
    val (e, _, _) = operators.Analytics.coPurchaseOriented(t)
    val edges = e.select(col("a"), col("b")).persist()
    try {
      val lpa = operators.Analytics.lpaLabels(edges, iters)
      val (cc, rounds) = Dedup.starComponents(
        edges.select(col("a").as("id_a"), col("b").as("id_b")), 20)
      // starComponents output is (node, cluster) — rename before joining
      val ccr = cc.select(col("node").as("cnode"), col("cluster"))
      val joined = lpa.join(ccr, col("node") === col("cnode"))
        .select(col("node"), col("lbl"), col("cluster")).persist()
      try {
        val nNodes = joined.count()
        val spanning = joined.groupBy(col("lbl"))
          .agg(countDistinct(col("cluster")).as("ncc"))
          .filter(col("ncc") > 1).count()
        val nComm = joined.select(col("lbl")).distinct().count()
        val nComp = joined.select(col("cluster")).distinct().count()
        val nodes = edges.select(col("a").as("n")).unionAll(edges.select(col("b")))
          .distinct().count()
        require(spanning == 0L, s"INVARIANT VIOLATED: $spanning labels span >1 component")
        require(nComm >= nComp, s"communities must refine components: $nComm < $nComp")
        require(nNodes == nodes, s"label cover mismatch: $nNodes labeled vs $nodes graph nodes")
        (nNodes, nComm, nComp, rounds)
      } finally joined.unpersist()
    } finally edges.unpersist()
  }

  test("graph_lpa at sf1: same label => same star-contraction component (cross-algorithm)") {
    // LPA labels vs B31 star contraction — two independent algorithms
    // over the same sf1 co-purchase edge relation. The theorem: labels
    // propagate only along edges, so a label can never span components.
    val (nodes, nComm, nComp, rounds) = lpaInvariant(sf1Dir, iters = 5)
    assert(nodes > 0 && nComp > 0, s"non-degenerate graph: $nodes nodes, $nComp components")
    assert(nComm >= nComp, s"communities refine components: $nComm >= $nComp")
    assert(rounds >= 1, s"star contraction did distributed rounds: $rounds")
  }

  /** Independent reimplementation of the operator's Jaccard definition:
    * distinct k-shingle rolling hashes (base 31 mod 1e9+7) over
    * whitespace-split lowercase trimmed text — plain Scala collections,
    * no Catalyst kernel, no SQL.
    */
  private def shingleHashes(text: String, k: Int = 3): Set[Long] = {
    val P = 1000000007L
    val toks = text.trim.toLowerCase.split("\\s+", -1)
    val shingles =
      if (toks.length < k) Seq(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSeq
    shingles.map(_.foldLeft(0L)((acc, ch) => (acc * 31 + ch.toLong) % P)).toSet
  }

  private def bruteJaccard(a: String, b: String): Double = {
    val (ha, hb) = (shingleHashes(a), shingleHashes(b))
    val inter = (ha & hb).size.toDouble
    inter / (ha.size + hb.size - inter)
  }

  test("jaccard_join_exact at sf1: sampled pairs agree with brute-force Jaccard") {
    val t = Tables(spark, sf1Dir)
    val out = Dedup.jaccardJoinExact(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out.nonEmpty, "sf1 replica clusters must produce exact-join pairs")

    // deterministic probe pairs, three families:
    //  (a) 25 evenly-spaced OUTPUT pairs — reported jaccard must equal
    //      the brute-force value (4-dp HALF_UP) and clear the threshold;
    //  (b) ScaleGen replica-cluster pairs (orig, orig + c·KeySpan) — the
    //      COMPLETENESS probe: membership must equal bf >= 0.5 exactly
    //      (long docs land above the threshold, short docs below — both
    //      directions occur naturally);
    //  (c) cross-cluster pairs (different source docs) — must be absent
    //      unless bf >= 0.5.
    val outKeys = out.keys.toSeq.sorted
    val posSample = (0 until 25).map(i => outKeys(i * outKeys.size / 25))

    val origIds = spark.read.parquet(s"$sf1Dir/documents.parquet")
      .filter(col("doc_id") < KeySpan).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    val probeOrigs = (0 until 30).map(i => origIds(i * origIds.length / 30))
    val clusterPairs = probeOrigs.flatMap(o =>
      Seq((o, o + KeySpan), (o + 2 * KeySpan, o + 7 * KeySpan)))
    val crossPairs = probeOrigs.sliding(2).collect {
      case Seq(a, b) => (math.min(a, b + 3 * KeySpan), math.max(a, b + 3 * KeySpan))
    }.toSeq

    val wanted = (posSample ++ clusterPairs ++ crossPairs).toSet
    val ids = wanted.flatMap(p => Seq(p._1, p._2))
    val texts = spark.read.parquet(s"$sf1Dir/documents.parquet")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts.size == ids.size, s"all probe ids resolve: ${ids.size - texts.size} missing")

    wanted.foreach { case (a, b) =>
      val bf = bruteJaccard(texts(a), texts(b))
      val inOut = out.contains((a, b))
      assert(inOut == (bf >= 0.5),
        s"membership agreement for ($a,$b): bf=$bf inOutput=$inOut")
      if (inOut) {
        val expected = math.floor(bf * 10000.0 + 0.5) / 10000.0
        assert(out((a, b)) == expected,
          s"reported jaccard for ($a,$b): got ${out((a, b))}, brute-force $expected")
      }
    }
  }
}
