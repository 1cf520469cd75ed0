package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.roundHalfUp

/** Near-duplicate detection for LLM training corpora (SURVEY.md §2 C2-C4).
  *
  * All signature math is pure higher-order column algebra (transform /
  * aggregate / array_min) over a shared polynomial shingle hash — no UDFs,
  * fully codegen'd, and bit-for-bit reproducible in the DuckDB oracle.
  *
  * Scale shape: signatures are computed in a single narrow pass (no
  * shuffle); candidate generation is the only shuffle, on (band, hash)
  * keys — the LSH trick that turns the O(n²) pair space into O(n·bands)
  * with bounded buckets. The exact-verify stage (Jaccard) runs only on
  * LSH survivors via an inverted-index join, never a cross product.
  */
object Dedup {

  private val P = 1000000007L

  /** array<long> of distinct shingle hashes (k word shingles), via the
    * single-pass Kernels.shingleHashes kernel (bit-identical to
    * `array_distinct(transform(<shingles>, s -> rollingHash(s)))` — the
    * expression-tree form re-ran the tokenizing split per shingle element).
    */
  private def shingleHashExpr(k: Int): String = s"graft_shingle_hashes(text, $k)"

  /** MinHash signature: sig[j] = min over shingle hashes x of
    * ((a_j·x) mod P + b_j) mod P with a_j = (2j+1)·777767 mod P,
    * b_j = (31j+7)·999999937 mod P — the native Kernels.minhashSig kernel
    * (one fused loop; same values as the HOF/oracle formulation).
    */
  private def minhashSigExpr(nPerms: Int): String =
    s"graft_minhash_sig(hs, $nPerms)"

  /** C2 (signature parity check): first `nPerms` MinHash signature values
    * per document as columns — a dense, non-empty oracle target proving
    * the permutation math matches the oracle engine exactly.
    */
  def minhashSig(t: Tables, k: Int = 3, nPerms: Int = 8): DataFrame = {
    val sigCols = (0 until nPerms).map(j => expr(s"element_at(sig, ${j + 1})").as(s"sig_$j"))
    t.documents
      .withColumn("hs", expr(shingleHashExpr(k)))
      .withColumn("sig", expr(minhashSigExpr(nPerms)))
      .select((col("doc_id") +: sigCols): _*)
  }

  /** C2: MinHash + LSH banding near-dup candidate pairs.
    *
    * nPerms = nBands · rowsPerBand. Pairs sharing ≥1 band bucket are
    * candidates; output carries how many bands agreed. One shuffle on
    * (band_idx, band_hash); hot buckets are bounded by the band hash
    * domain.
    *
    * `maxBucket > 0` drops LSH buckets with more members than the cap
    * before the self-join — the hot-bucket guard at corpus scale: a
    * bucket with thousands of members is a degenerate hash (boilerplate,
    * empty docs) whose m² candidate pairs are noise; the drop-list is
    * hot-bucket-sized (tiny) and anti-joined broadcast. The cap is ON
    * by default ([[DefaultMaxBucket]]) — a boilerplate-heavy real corpus
    * (license pages, empty docs) WILL hot-bucket at scale, and the
    * default path must not be quadratic in the hottest bucket. Dropping
    * is never silent: [[minhashHotBuckets]] is the companion accounting
    * relation (same cap ⇒ exactly the buckets this query skipped, with
    * member counts), and the oracle SQL mirrors the drop bit-for-bit.
    * Pass `maxBucket = 0` to explicitly opt out (exact LSH — every
    * colliding pair surfaces, quadratic hot buckets and all).
    */
  def dedupMinhash(t: Tables, k: Int = 3, nBands: Int = 8, rowsPerBand: Int = 4,
                   maxBucket: Int = DefaultMaxBucket): DataFrame =
    dedupMinhashDocs(t.documents, k, nBands, rowsPerBand, maxBucket)

  /** Default LSH hot-bucket cap for [[dedupMinhash]]. A band bucket's
    * expected honest population is its near-dup cluster size — tens, not
    * thousands (C80's design math puts the threshold-τ collision mass in
    * clusters the exact verify can afford). 1024 is ~2 orders of
    * magnitude above any honest cluster the synthetic and sf1 corpora
    * contain while still refusing the degenerate boilerplate bucket
    * (m=10⁵ empty docs ⇒ 5·10⁹ pairs PER BAND uncapped). Explicitly
    * opt out with `maxBucket = 0` when completeness over a known-small
    * corpus is the contract.
    */
  val DefaultMaxBucket: Int = 1024

  /** Hot-bucket drop accounting for [[dedupMinhash]] — the (band_idx,
    * band_hash, bn) relation of LSH buckets whose population exceeds
    * `maxBucket`, i.e. exactly the buckets the same-parameter
    * [[dedupMinhash]] run skipped. The C75 loud-gate philosophy applied
    * to a drop-semantics operator: truncation is queryable, not silent —
    * a pipeline logs/persists this relation next to the pair output so
    * the "these docs were too degenerate to pair" set is auditable
    * (remedy: route them through dedup_exact, which handles identical
    * boilerplate at O(n)). Cost: the band relation's groupBy, which the
    * capped dedup run pays anyway (one narrow signature scan + one
    * shuffle on the band keys); no pair join.
    */
  def minhashHotBuckets(t: Tables, k: Int = 3, nBands: Int = 8, rowsPerBand: Int = 4,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket > 0, s"minhashHotBuckets: maxBucket must be positive, got $maxBucket")
    t.documents
      .withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"),
        posexplode(expr(s"graft_minhash_bands(hs, $nBands, $rowsPerBand)")).as(Seq("band_idx", "band_hash")))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket)
  }

  /** Per-document LSH band-hash array — the persistable signature STATE of
    * the near-dup pipeline (what an incremental refresh carries forward for
    * unchanged docs instead of re-reading their text). Narrow and
    * shuffle-free; element values are bit-identical to the bands exploded
    * inside [[dedupMinhash]].
    */
  private[graft] def minhashBands(docs: DataFrame, k: Int, nBands: Int, rowsPerBand: Int): DataFrame =
    docs.withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"), expr(s"graft_minhash_bands(hs, $nBands, $rowsPerBand)").as("bands"))

  private[graft] def dedupMinhashDocs(docs: DataFrame, k: Int, nBands: Int, rowsPerBand: Int,
                   maxBucket: Int): DataFrame = {
    // bands exploded INLINE in the generator (not via the materialized
    // [[minhashBands]] array): a named array column survives the Generate
    // into the band shuffle and doubled this query's sf1 wall time —
    // measured, not hypothetical. The incremental path pays that array
    // deliberately (it IS the persisted state); the batch path must not.
    val bands = docs
      .withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"),
        posexplode(expr(s"graft_minhash_bands(hs, $nBands, $rowsPerBand)")).as(Seq("band_idx", "band_hash")))
    // identical repartitioning on both sides -> Catalyst's ReuseExchange
    // computes the signature pipeline once and reads it twice
    val all = bands.repartition(col("band_idx"), col("band_hash"))
    val parted = if (maxBucket <= 0) all else {
      val hot = all.groupBy(col("band_idx"), col("band_hash"))
        .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
        .select(col("band_idx"), col("band_hash"))
      all.join(broadcast(hot), Seq("band_idx", "band_hash"), "left_anti")
    }
    val a = parted.select(col("band_idx"), col("band_hash"), col("doc_id").as("id_a"))
    val b = parted.select(col("band_idx").as("bi"), col("band_hash").as("bh"), col("doc_id").as("id_b"))
    a.join(b, col("band_idx") === col("bi") && col("band_hash") === col("bh") && col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** C80: LSH banding parameter designer — given a target Jaccard
    * threshold τ and a signature budget, choose (bands, rowsPerBand)
    * and report the detection S-curve. The parameter-choice step every
    * MinHash deployment does on paper, made explicit and testable:
    * the banding threshold approximates (1/b)^(1/r), and
    * P(candidate | J) = 1 − (1 − J^r)^b exactly. The chosen design
    * minimizes |threshold(b,r) − τ| subject to b·r ≤ maxPerms, breaking
    * ties toward MORE bands (recall-favoring — a missed true pair is
    * silent, a surviving false candidate dies in the exact verify).
    *
    * Driver-side closed-form math (the signature budget is a few dozen
    * ints — there is nothing to distribute); returns the design plus
    * the curve so a pipeline can LOG its expected recall at the
    * similarity it cares about instead of guessing.
    */
  def lshDesign(tau: Double, maxPerms: Int = 64,
                curveAt: Seq[Double] = Seq(0.3, 0.5, 0.7, 0.8, 0.9, 0.95)):
      (Int, Int, Seq[(Double, Double)]) = {
    require(tau > 0.0 && tau < 1.0, s"tau must be in (0,1), got $tau")
    require(maxPerms >= 2, s"maxPerms must allow at least 2 permutations")
    val designs = for {
      r <- 1 to maxPerms
      b <- 1 to maxPerms / r
      if b * r >= 2
    } yield (b, r, math.pow(1.0 / b, 1.0 / r))
    val (b, r, _) = designs.minBy { case (b, r, thr) =>
      (math.abs(thr - tau), -b) // tie: more bands = higher recall
    }
    def pCand(j: Double): Double = 1.0 - math.pow(1.0 - math.pow(j, r), b)
    (b, r, curveAt.map(j => j -> pCand(j)))
  }

  /** C50: source-level similarity matrix — the corpus-composition
    * diagnostic that tells a curation pipeline which providers/dumps
    * substantially overlap (e.g. two CommonCrawl snapshots, a mirror
    * site) BEFORE paying a doc-level cross-source dedup. A source's
    * signature is the slot-wise MIN of its documents' MinHash
    * signatures — exactly the MinHash of the UNION of the documents'
    * shingle sets — so slot agreement between two sources estimates the
    * Jaccard similarity of their union shingle sets.
    *
    * Scale shape: one narrow signature pass over the corpus, then a
    * `(source, slot) → min` aggregation whose map-side partial bounds
    * every task's shuffle output at #sources × nPerms rows regardless of
    * corpus size; the pairwise stage self-joins a relation of that same
    * bounded size (broadcast). Nothing downstream of the first aggregate
    * ever scales with rows.
    */
  def sourceSimilarity(t: Tables, k: Int = 3, nPerms: Int = 32): DataFrame = {
    val slots = t.documents
      .withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("source"), posexplode(expr(minhashSigExpr(nPerms))).as(Seq("j", "v")))
      .groupBy(col("source"), col("j"))
      .agg(min(col("v")).as("v"))
    val a = slots.select(col("source").as("src_a"), col("j"), col("v").as("va"))
    val b = slots.select(col("source").as("src_b"), col("j").as("jb"), col("v").as("vb"))
    a.join(broadcast(b), col("j") === col("jb") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("n_agree"))
      .select(col("src_a"), col("src_b"), col("n_agree"),
        roundHalfUp(col("n_agree").cast("double") / nPerms, 4).as("est_jaccard"))
  }

  /** 48-bit SimHash from distinct shingle hashes (bit j set when the
    * ±1 vote sum over hash bit j is positive). 48 bits keeps every
    * intermediate comfortably inside signed-64 for both engines.
    */
  private def simhashExpr: String = "graft_simhash(hs, 48)"

  /** C3 (signature parity check): per-document 48-bit SimHash value. */
  def simhash(t: Tables, k: Int = 3): DataFrame =
    t.documents
      .withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))

  /** C3: SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    *
    * Pigeonhole blocking: with 4 blocks of 12 bits, any pair at Hamming
    * ≤ 3 matches exactly on ≥1 block — so the join runs on (block_idx,
    * block_value) buckets, O(n·4) keys instead of O(n²) pairs, then the
    * exact bit_count(xor) filter verifies.
    */
  def dedupSimhash(t: Tables, k: Int = 3, maxHamming: Int = 3): DataFrame = {
    val blocks = t.documents
      .withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"), expr(simhashExpr).as("simhash"),
        posexplode(expr("graft_simhash_blocks(hs, 48, 4, 12)")).as(Seq("block_idx", "block_val")))
    val parted = blocks.repartition(col("block_idx"), col("block_val"))
    val a = parted.select(col("block_idx"), col("block_val"), col("doc_id").as("id_a"), col("simhash").as("sim_a"))
    val b = parted.select(col("block_idx").as("bi"), col("block_val").as("bv"), col("doc_id").as("id_b"), col("simhash").as("sim_b"))
    a.join(b, col("block_idx") === col("bi") && col("block_val") === col("bv") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)  // before distinct: survivors only hit the shuffle
      .distinct()
  }

  /** C2c: apply the dedup decision — the corpus after dropping duplicates.
    *
    * Keep rule (greedy-by-id, the standard corpus-dedup policy): a doc is
    * dropped if it is an exact duplicate of a lower doc_id, or appears as
    * the higher id of a verified near-dup pair (LSH candidates with exact
    * Jaccard ≥ threshold). Survivor set = documents anti-joined against
    * the drop list; one broadcast-sized anti join at any corpus scale
    * (drop list ≈ duplicate count, not corpus size).
    */
  def dedupApply(t: Tables, k: Int = 3, jaccardThreshold: Double = 0.8): DataFrame = {
    // (doc_id, hash) pairs only — a window over md5 would drag the full
    // document text through its exchange; this shuffles 48-byte rows
    val hashes = t.documents
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("h"))
    val keeps = hashes.groupBy(col("h")).agg(min(col("doc_id")).as("keep"))
      .withColumnRenamed("h", "kh")
    // null-safe join: null-text docs hash to NULL and must still dedup
    // against each other (SQL window/group semantics put NULLs together)
    val exactDrops = hashes.join(keeps, col("h") <=> col("kh"))
      .filter(col("doc_id") =!= col("keep"))
      .select(col("doc_id"))
    val nearDrops = ngramJaccard(t, k, threshold = jaccardThreshold).select(col("id_b").as("doc_id"))
    val drops = exactDrops.unionAll(nearDrops).distinct()
    t.documents.join(drops, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Connected components over an undirected pair graph by ALTERNATING
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", 2014):
    *
    *   large-star(u): every neighbor v > u re-points at
    *                  m = min(N(u) ∪ {u});
    *   small-star(u): every downward neighbor (v ≤ u) and u itself
    *                  re-point at m = min(N⁻(u) ∪ {u}).
    *
    * Unlike min-label propagation — whose every round re-joins the FULL
    * pair-sized edge relation — star rounds rewrite the edge relation
    * itself, so a w-wide clique collapses to a w-edge star after one
    * large+small round and each subsequent round runs on the SHRUNKEN
    * graph. Convergence is O(log² n) rounds worst-case (trees/chains),
    * one round for cliques — the shape that made propagation
    * super-pair-linear on clique-dense corpora. At the fixpoint the edge
    * set is exactly (node → component-min) stars.
    *
    * Returns (labels relation (node, cluster), rounds used). Every round
    * is localCheckpointed so lineage stays flat; set equality for the
    * fixpoint test is checked distributedly (count + one-sided except).
    *
    * Small-graph short circuit: star rounds pay fixed per-round costs
    * (two shuffles, a localCheckpoint, a fixpoint job) that dwarf the
    * actual work when the pair graph is tiny — at sf0.1 the whole edge
    * relation is a few thousand rows, and three distributed rounds cost
    * more than the corpus scan that produced them. When the
    * deduplicated edge count is ≤ `maxLocalEdges` (default 100k edges —
    * orders of magnitude above any testdata SF's pair graph, yet small
    * enough that the collected tuples plus JVM row overhead stay in the
    * same budget class as the collected hyperplanes/centroids
    * elsewhere), the edges are pulled to the driver and labeled by
    * union-find in microseconds, returning rounds = -1: a sentinel
    * distinguishing "no distributed rounds ran" from a distributed run
    * that converged in k rounds, so cross-round bench artifacts never
    * read the gated path as a zero-round convergence. The label relation
    * goes back out via a parallelized RDD, not a driver-embedded
    * LocalRelation, so the downstream plan never serializes the labels
    * into itself. The distributed path is untouched above the gate (the
    * count replaces the old isEmpty job on the already-checkpointed
    * relation, so the gate itself adds no job), and the sf3/sf10 scale
    * evidence runs entirely on it.
    */
  private[graft] def starComponents(pairs: DataFrame, maxIter: Int,
                                    maxLocalEdges: Long = 100000L,
                                    preDeduped: Boolean = false): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val n = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = n.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      // no distinct here: smallStar's groupBy/min tolerates duplicate
      // edges and its own final distinct restores set semantics — one
      // fewer shuffle per round
      n.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge downward (src ≥ dst), then re-point src and all
      // its downward neighbors at the minimum
      val down = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = down.groupBy(col("src")).agg(min(col("dst")).as("m"))
      down.join(mins, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionAll(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // preDeduped: the caller guarantees pairs are already DISTINCT with
    // id_a ≠ id_b (e.g. graphCC's checkpointed canonical edge set, or
    // ngramJaccard output which is distinct by its groupBy construction)
    // — the orientation swap preserves distinctness, so the extra
    // edge-sized dedup exchange is skipped
    val canon = pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
    var e = (if (preDeduped) canon else canon.distinct())
      .localCheckpoint()
    val nEdges = e.count()
    if (nEdges <= maxLocalEdges) return (localUnionFind(e), -1)
    var iter = 0
    var converged = nEdges == 0L
    var eCnt = nEdges
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // two-tier fixpoint test: both relations are DISTINCT edge sets, so
      // equal cardinality plus next ⊆ e ⇔ equality. The count on the
      // just-checkpointed relation is shuffle-free, and a round that
      // changed the edge count (the common case mid-contraction) skips
      // the except entirely — where the old symmetric-difference job
      // shuffled BOTH relations TWICE every round. Exactness is
      // unchanged: the except still confirms any count-equal round.
      val nextCnt = next.count()
      converged = nextCnt == eCnt && next.except(e).isEmpty
      e = next
      eCnt = nextCnt
      iter += 1
    }
    // partially-merged clusters must never be returned silently
    require(converged,
      s"connected components did not converge in $maxIter star rounds; raise maxIter")
    // fixpoint edges are (node → root) stars; roots label themselves
    val labels = e.select(col("src").as("node"), col("dst").as("cluster"))
      .unionAll(e.select(col("dst").as("node")).distinct()
        .join(e.select(col("src").as("node")), Seq("node"), "left_anti")
        .select(col("node"), col("node").as("cluster")))
    (labels, iter)
  }

  /** Driver-side union-find over a gate-checked broadcast-sized edge
    * relation (see [[starComponents]]): path-halving find + union by
    * rank, then each node labels with its component MINIMUM — exactly
    * the star fixpoint's (node → component-min) labeling, so the two
    * paths are interchangeable (asserted over every graph shape in
    * DedupSpec against an independent reference).
    */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val rank = scala.collection.mutable.HashMap.empty[Long, Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (wa, wb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (wa < wb) parent(ra) = rb
        else if (wa > wb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = wa + 1 }
      }
    }
    val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val minOfRoot = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
    }
    val labels = nodes.map(n => (n, minOfRoot(find(n)))).toIndexedSeq
    // ship the labels back as a parallelized RDD, NOT a Seq.toDF
    // LocalRelation: at the gate ceiling the label set is ~2× the edge
    // count, and a LocalRelation embeds every row in the downstream
    // plan tree (serialized with the plan, window-partitioned on the
    // driver's copy) — the RDD scan keeps the plan O(1) and the rows
    // distributed from the first downstream shuffle on
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      labels.length / 25000 + 1))
    spark.sparkContext.parallelize(labels, slices).toDF("node", "cluster")
  }

  /** C17: near-dup cluster assignment — connected components over the
    * verified near-dup pair graph (LSH candidates with exact Jaccard ≥
    * threshold) via [[starComponents]], restricted to nodes that appear
    * in a pair (duplicate-sized, not corpus-sized). cluster_id = min
    * doc_id of the component (star root). Docs outside any pair are
    * their own singleton cluster via the final left join. Round count is
    * recorded in [[graft.IterationLog]] ("dedup_clusters") so scale
    * probes can report convergence behavior; -1 means the pair graph
    * gated to the driver-local union-find path (no distributed rounds),
    * keeping distributed round counts comparable across bench artifacts.
    */
  def dedupClusters(t: Tables, k: Int = 3, jaccardThreshold: Double = 0.8,
                    maxIter: Int = 20): DataFrame = {
    val pairs = ngramJaccard(t, k, threshold = jaccardThreshold).select(col("id_a"), col("id_b"))
    // preDeduped: ngramJaccard pairs are distinct by construction
    // (groupBy(id_a, id_b) aggregate) with id_a < id_b strict
    val (labels, iters) = starComponents(pairs, maxIter, preDeduped = true)
    graft.IterationLog.record("dedup_clusters", iters)
    val sized = t.documents.select(col("doc_id"))
      .join(labels.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster"), col("doc_id")))
    sized
      .withColumn("cluster_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** C66: leakage-safe train/validation split — the assignment unit is
    * the NEAR-DUP CLUSTER (C17's labels), not the document: a random
    * per-doc split puts one member of a duplicate pair in train and its
    * twin in validation, silently turning the eval set into memorized
    * training data. Splitting on a deterministic hash of the cluster id
    * keeps every near-dup family on one side.
    *
    * The bucket hash is pure bounded integer arithmetic —
    * ((cluster_id mod p) · K) mod 97 with p = 1e9+7 keeping the product
    * inside int64 under ANSI overflow checking — so the assignment is
    * bit-identical cross-engine and stable across reruns/backfills
    * (re-splitting a grown corpus moves only docs whose CLUSTER
    * changed). Scale = C17's cost plus a zero-shuffle projection.
    */
  def leakageSafeSplit(t: Tables, k: Int = 3, jaccardThreshold: Double = 0.8,
                       trainBuckets: Int = 87): DataFrame = {
    require(trainBuckets > 0 && trainBuckets < 97, s"trainBuckets in (0,97): $trainBuckets")
    dedupClusters(t, k, jaccardThreshold)
      .withColumn("split",
        when(expr("((cluster_id % 1000000007) * 2654435761) % 97") < trainBuckets, lit("train"))
          .otherwise(lit("val")))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** C72: near-dup cluster-size histogram — the duplication-structure
    * audit run before choosing dedup policy: how many clusters exist at
    * each size, and how many documents they hold. A corpus whose mass
    * sits in a few giant clusters needs boilerplate/template handling;
    * long-tail 2-doc clusters are ordinary near-dups — this is the
    * query that tells them apart (and sizes the expected row reduction
    * of [[dedupApply]] before paying for it).
    *
    * Scale shape: C17's cluster assignment, then two map-side-combinable
    * count collapses — docs → cluster cardinality → size cardinality.
    * The per-doc `cluster_size` window C17 materializes is NOT used
    * (Catalyst prunes the window expression out of the plan entirely —
    * plan-audited window-free), so the histogram costs cluster labeling
    * plus two thin aggregations, no doc-cardinality sort anywhere.
    */
  def clusterHist(t: Tables, k: Int = 3, jaccardThreshold: Double = 0.8): DataFrame = {
    val sizes = dedupClusters(t, k, jaccardThreshold)
      .select(col("doc_id"), col("cluster_id"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** C4: exact shingle-set Jaccard as the verify stage over MinHash-LSH
    * candidates — the scalable two-phase near-dup pipeline: LSH bounds the
    * pair space to O(n·bands) candidates, then the exact intersection runs
    * only on survivors via an inverted-index join (never a cross product).
    */
  def ngramJaccard(t: Tables, k: Int = 3, nBands: Int = 8, rowsPerBand: Int = 4,
                   threshold: Double = 0.0): DataFrame =
    ngramJaccardDocs(t.documents, k, nBands, rowsPerBand, threshold)

  private[graft] def ngramJaccardDocs(docs: DataFrame, k: Int, nBands: Int, rowsPerBand: Int,
                   threshold: Double): DataFrame = {
    val cands = dedupMinhashDocs(docs, k, nBands, rowsPerBand, 0).select(col("id_a"), col("id_b"))
    verifyJaccard(cands, docs, k, threshold)
  }

  /** Corpora at or below this row count skip the verify stage's
    * candidate-endpoint restriction: at small scale nearly every doc is a
    * candidate endpoint, so the left-semi + distinct is pure overhead
    * (measured 1.85x on dedup_apply at sf0.1, where 5k docs are ~all
    * endpoints), while above it the restriction is what keeps the verify
    * stage duplicate-sized instead of corpus-sized. 100k rows ≈ the same
    * order as one executor's comfortable shingle-scan slice — below that
    * the restricted and unrestricted scans cost the same anyway.
    */
  private val verifyRestrictGate = 100000L

  /** Exact-Jaccard verify stage over a candidate pair relation — shared
    * by the full and incremental paths. The shingle/count relations are
    * left-semi-restricted to candidate ENDPOINT ids before the shingle
    * kernel runs, so the expensive work (shingle hashing, the exploded
    * shingle shuffle into the intersection join) scales with the
    * candidate set — duplicate-cardinality — not the corpus: at 100 TB
    * the non-candidate majority of the text never re-enters the verify
    * stage after candidate generation's single scan. Stats-gated
    * ([[verifyRestrictGate]], the corpusRows precedent): small corpora
    * skip the restriction because its endpoint set ≈ the corpus.
    */
  private def verifyJaccard(cands: DataFrame, docs: DataFrame, k: Int,
                   threshold: Double): DataFrame = {
    val restrict = Similarity.corpusRows(docs) > verifyRestrictGate
    val cdocs =
      if (!restrict) docs
      else {
        val candIds = cands.select(col("id_a").as("doc_id"))
          .unionAll(cands.select(col("id_b").as("doc_id"))).distinct()
        docs.join(candIds, Seq("doc_id"), "left_semi")
      }
    // intersection ARRAY-SIDE (r18; the triangle_count adjacency
    // pattern): `hs` is the per-doc DISTINCT shingle-hash array, so
    // |A ∩ B| = size(array_intersect(hs_a, hs_b)) exactly — the
    // former shape exploded the shingle stream and pushed a
    // pair×shingle row stream through a second (id_b, h) shuffle join
    // plus a (id_a, id_b) count aggregation plus two more per-side
    // size joins. Now the candidate relation makes exactly TWO
    // doc_id-keyed joins to pick up each side's array (the same bytes
    // the exploded rows carried, in far fewer rows), and the
    // intersection + both sizes compute row-local with no further
    // exchange: 4 joins + 1 aggregation + the exploded shuffle → 2
    // joins. Measured 208 s → see OPTIMIZATION_r18.md (sf1, where the
    // pair×shingle stream was the single most expensive relation in
    // the whole bench).
    val sh = cdocs.select(col("doc_id"), expr(shingleHashExpr(k)).as("hs"))
    cands
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("jac", col("common").cast("double") /
        (size(col("hs_a")).cast("long") + size(col("hs_b")).cast("long") - col("common")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), roundHalfUp(col("jac"), 4).as("jaccard"))
  }

  /** C75: EXACT all-pairs similarity join — every document pair with
    * shingle-set Jaccard ≥ threshold, with PROVABLY COMPLETE output
    * (no LSH recall loss): the distributed re-expression of prefix
    * filtering (AllPairs, Bayardo et al. WWW 2007; PPJoin, Xiao et al.
    * WWW 2008). [[ngramJaccard]] trades recall for the banded-candidate
    * bound (a pair missing every band is silently lost); this operator
    * is the exact complement for the runs where "complete" is the
    * contract — legal dedup attestations, eval-set decontamination
    * audits.
    *
    * Completeness: tokens order globally by (df asc, hash) — rarest
    * first — and each doc contributes only its first |d| − ⌈τ·|d|⌉ + 1
    * tokens (its PREFIX) to candidate generation. If J(A,B) ≥ τ then
    * |A∩B| ≥ τ·max(|A|,|B|), and a shared token must fall inside both
    * prefixes (else each doc's intersection fits in its ⌈τ·|d|⌉−1
    * suffix — too small); so the prefix self-join generates every
    * qualifying pair, and the exact verify keeps precisely those ≥ τ.
    *
    * Scale shape: everything is hash-only past the tokenizing scan —
    * text never crosses an exchange. The df join keys on the shingle
    * hash (vocabulary-sized relation; AQE broadcasts when small), the
    * per-doc rank is one doc-keyed window, and the candidate self-join
    * runs on the PREFIX relation (≈ (1−τ) of the token stream) with
    * both sides reading one repartition (ReuseExchange). df-ascending
    * ordering puts hot boilerplate shingles LAST, so they enter a
    * prefix only for docs with no rarer token; `maxPrefixBucket` > 0
    * refuses a pathological prefix bucket loudly BEFORE the pair join
    * (remedy: dedup_exact first, or raise the threshold — note a
    * hot-bucket blowup usually means the output itself is
    * quadratically large, which no exact algorithm can avoid).
    */
  def jaccardJoinExact(t: Tables, k: Int = 3, threshold: Double = 0.5,
                       maxPrefixBucket: Int = 0,
                       maxCandidates: Long = 2000000000L): DataFrame =
    jaccardJoinExactDocs(t.documents, k, threshold, maxPrefixBucket, maxCandidates)

  private[graft] def jaccardJoinExactDocs(docs: DataFrame, k: Int, threshold: Double,
                       maxPrefixBucket: Int, maxCandidates: Long = 2000000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardJoinExact: threshold must be in (0, 1], got $threshold")
    val toks = docs.withColumn("hs", expr(shingleHashExpr(k)))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    val dfh = toks.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
    val ranked = toks.join(dfh, Seq("h"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("dfh"), col("h"))))
    // when a gate below will run (the default), materialize the prefix
    // relation ONCE: the gate's aggregation job and the candidate join
    // both read the checkpointed blocks instead of each re-running the
    // tokenize → df-join → two-window prefix pipeline from the parquet
    // scan (the before-plan, plans/r17/jaccard_join_exact_before.txt,
    // shows the documents scan 24×). Plan-only callers (gates = 0) keep
    // the fully lazy form.
    val gated = maxPrefixBucket > 0 || maxCandidates > 0
    val prefixRaw = ranked
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + lit(1L))
      .select(col("doc_id"), col("h"))
    val prefix = if (gated) prefixRaw.localCheckpoint() else prefixRaw
    // BOTH gates — hot-bucket and total candidate volume — in ONE fused
    // aggregation job over the bucket-count relation (they read the same
    // groupBy; r14 ADVICE flagged the two-job form recomputing the prefix
    // pipeline twice). Σ_h C(prefix_bucket_h, 2) IS the exact pair count
    // the join below will generate — the sf10 probe measured 500k docs
    // exhausting 64 GB of shuffle disk, so an over-budget run must refuse
    // with the remedy named BEFORE the join, not die mid-spill.
    // NOTE (construction-time job): when either gate is enabled — the
    // default — CONSTRUCTING this DataFrame runs that gate aggregation
    // eagerly and can throw here; that is the contract (refuse before
    // cost, loudly). Plan-only callers (explain/audit) pass
    // maxPrefixBucket = 0 AND maxCandidates = 0 to skip the job.
    if (gated) {
      val g = prefix.groupBy(col("h")).agg(count(lit(1)).as("pn"))
        .agg(coalesce(max(col("pn")), lit(0L)).as("hot"),
          coalesce(max_by(col("h"), col("pn")), lit(-1L)).as("hot_h"),
          coalesce(sum(col("pn").cast("double") * (col("pn") - 1.0) / 2.0), lit(0.0)).as("total"))
        .head()
      val (hot, hotH, total) = (g.getLong(0), g.getLong(1), g.getDouble(2))
      require(maxPrefixBucket <= 0 || hot <= maxPrefixBucket,
        s"jaccardJoinExact: prefix token $hotH lands in $hot prefixes " +
          s"(> maxPrefixBucket=$maxPrefixBucket); the pair join would be quadratic in that " +
          "bucket. Run dedup_exact first or raise the threshold (a hot prefix bucket " +
          "usually means the exact output itself is quadratic).")
      require(maxCandidates <= 0 || total <= maxCandidates.toDouble,
        f"jaccardJoinExact: prefix filtering still yields ~$total%.3g candidate pairs " +
          s"(> maxCandidates=$maxCandidates). Exact/complete all-pairs at this scale needs " +
          "shuffle disk to match (the sf10 probe died of spill at ~2e9 candidates on 64 GB); " +
          "unless completeness is the contract, run dedupMinhash (LSH, recall-bounded) or " +
          "raise the threshold; or raise maxCandidates with disk provisioned for the spill.")
    }
    // identical repartitioning on both sides -> ReuseExchange (the
    // dedupMinhashDocs precedent): the prefix pipeline computes once
    val parted = prefix.repartition(col("h"))
    val a = parted.select(col("h"), col("doc_id").as("id_a"))
    val b = parted.select(col("h").as("hb"), col("doc_id").as("id_b"))
    val candsRaw = a.join(b, col("h") === col("hb") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // the verify stage reads the candidate relation two-to-three times
    // (endpoint restriction, the intersection join, the final left join);
    // when the gate job has already paid for the prefix pipeline,
    // materialize the candidates once too (pair-count-sized rows)
    val cands = if (gated) candsRaw.localCheckpoint() else candsRaw
    verifyJaccard(cands, docs, k, threshold)
  }

  /** C33b: incremental near-dup pair maintenance — [[ngramJaccard]]
    * composed over the C32/C33 refresh machinery so a snapshot refresh
    * re-LSHes only the dirty fraction of the corpus:
    *
    *  - the per-doc band state ([[minhashBands]]) refreshes through
    *    [[TextAnalysis.refreshIncremental]]: recomputed for added+changed
    *    docs, carried verbatim for unchanged, tombstoned for removed;
    *  - candidate generation joins DIRTY bands against the full refreshed
    *    band relation (dirty×all, bounded by the same band-hash buckets
    *    as the batch path) — a pair between two UNCHANGED docs cannot
    *    have changed, so it carries forward from `prevPairs` instead
    *    (both endpoints left-semi-checked against the unchanged set);
    *  - the exact-Jaccard verify runs only on dirty-touching candidates,
    *    with the text scan left-semi-restricted to candidate endpoint
    *    ids — unchanged text bordering no dirty candidate is never read
    *    past corpus_delta's md5.
    *
    * At a fixed refresh dirty-rate d this turns the per-refresh cost from
    * O(corpus) signature work + O(all pairs) verification into
    * O(d·corpus) + O(pairs touching dirty docs): the composition that
    * makes continuous fuzzy dedup affordable at 100 TB.
    *
    * LSH banding is per-document-deterministic, so a both-unchanged pair
    * collides in the refreshed bands iff it collided in prev — the output
    * is row-identical to `ngramJaccard(cur)` plus `src` provenance
    * (`fresh` = re-verified this refresh, `carried` = previous output
    * verbatim). DedupSpec asserts exactly that parity, and via a
    * poisoned-jaccard sentinel that carried pairs are never recomputed.
    *
    * `prevBands` = [[minhashBands]] of the previous snapshot (same k /
    * nBands / rowsPerBand); `prevPairs` = the previous refresh's pair
    * output (`id_a`, `id_b`, `jaccard`).
    */
  def ngramJaccardIncremental(cur: DataFrame, prev: DataFrame,
      prevBands: DataFrame, prevPairs: DataFrame,
      k: Int = 3, nBands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.0): DataFrame = {
    // bandState stays LAZY deliberately (measured r18): although four
    // consumers read it, the two unchanged-endpoint semi joins below
    // prune to (doc_id, src) — no band math runs for them — and the
    // candidate join's two sides share the exchange. Materializing it
    // (localCheckpoint) forced the FULL band computation + row
    // materialization once for every column and benched ~10 % slower
    // than the pruned lazy reads at sf0.1.
    val bandState = TextAnalysis.refreshIncremental(cur, prev, prevBands)(
      minhashBands(_, k, nBands, rowsPerBand))
    val expl = bandState.select(col("doc_id"), col("src"),
      posexplode(col("bands")).as(Seq("band_idx", "band_hash")))
    val dirty = expl.filter(col("src") === "fresh")
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("id_d"))
    val all = expl.select(col("band_idx").as("bi"), col("band_hash").as("bh"),
      col("doc_id").as("id_o"))
    // candidate pairs materialized once too: the verify stage reads the
    // candidate relation two-to-three times (endpoint restriction,
    // intersection join, final left join) — pair-count-sized rows
    val cands = dirty.join(all,
        col("band_idx") === col("bi") && col("band_hash") === col("bh") &&
          col("id_d") =!= col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("id_a"),
        greatest(col("id_d"), col("id_o")).as("id_b"))
      .distinct()
      .localCheckpoint()
    val fresh = verifyJaccard(cands, cur, k, threshold)
      .withColumn("src", lit("fresh"))
    // unchanged set read off the refreshed band state itself (src =
    // 'carried'); column pruning reduces this branch to the delta's
    // id routing — no band math re-runs for it
    val unchangedIds = bandState.filter(col("src") === "carried").select("doc_id")
    val carried = prevPairs
      .join(unchangedIds.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(unchangedIds.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .withColumn("src", lit("carried"))
    fresh.unionByName(carried)
  }

  /** Whitespace-normalized lowercase text — the character stream winnowing
    * fingerprints hash over. SQL-function form (not a kernel) so the
    * oracle engine states the identical normalization.
    */
  private def winnowNorm: Column =
    lower(trim(regexp_replace(col("text"), "\\s+", " ")))

  /** C34 (parity surface): exploded winnowing fingerprint relation
    * (doc_id, fp) — the dense oracle target proving the rolling-hash +
    * sliding-min arithmetic matches the oracle engine's windowed
    * `list_reduce` formulation value-for-value before any join touches it.
    */
  def substringFingerprints(t: Tables, l: Int = 24, w: Int = 8): DataFrame =
    t.documents.select(col("doc_id"),
      explode(call_function("graft_winnow", winnowNorm, lit(l), lit(w))).as("fp"))

  /** C34: exact-substring duplicate detection via winnowing fingerprints —
    * the distributed re-expression of suffix-array substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — the reference pipeline family's exact-substring pass).
    * The winnowing invariant (Schleimer et al., SIGMOD 2003): any two
    * documents sharing an exact normalized substring of ≥ l+w−1
    * codepoints are GUARANTEED to share a selected fingerprint, and
    * selected density is bounded at ≈ 2/(w+1) per position — so candidate
    * generation is a hash-only bucket join over a corpus-fraction-sized
    * relation (text never travels past the scan), the same shape as the
    * proven MinHash path, instead of a single-node suffix-array build.
    *
    * `maxDocsPerFp` is the mega-bucket guard (dedupMinhash.maxBucket
    * precedent): a boilerplate fingerprint shared by every doc would
    * degenerate to O(n²) pairs, so fingerprints spanning more docs are
    * dropped from pairing (anti-join of a tiny hot list; mirrored in the
    * oracle SQL so both engines see identical pairs).
    *
    * Output: (id_a, id_b, n_shared) — doc pairs and how many distinct
    * selected fingerprints they share; n_shared ≥ 2 ⇒ either one long
    * shared run or several independent shared runs.
    */
  /** C52: near-containment detection — the DIRECTIONAL companion to
    * [[substringDedup]]: containment(A→B) = |shared winnow fingerprints|
    * / |A's fingerprints|, the asymmetric overlap that symmetric
    * Jaccard/pair counts miss. A short doc quoted wholesale inside a
    * long wrapper page scores near 1.0 in the A→B direction while the
    * pair's Jaccard stays tiny — exactly the quote/wrapper/aggregator
    * reuse a curation pipeline wants to catch without flagging the
    * wrapper itself as a duplicate.
    *
    * Same scale skeleton as C34 (hash-only fingerprint bucket join,
    * hot-fingerprint boilerplate cap); the denominator counts only
    * pairing-ELIGIBLE (post-cap) fingerprints on both engines, and the
    * per-doc size join keys on doc_id — an even hash join, never a
    * window. Both directions emit (A⊂B and B⊂A are different rows).
    */
  def containment(t: Tables, l: Int = 24, w: Int = 8,
                  minContain: Double = 0.5, maxDocsPerFp: Long = 1000L): DataFrame = {
    // persist: the fingerprint relation feeds the hot-fp census, both
    // sides of the pair join and the per-doc size count — four reads of
    // one winnow-kernel scan. Corpus-fingerprint-sized (≈ 2/(w+1) of the
    // character volume as 16-byte rows), LRU-evictable.
    val fps = substringFingerprints(t, l, w).persist()
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocsPerFp).select(col("fp"))
    val cool = fps.join(hot, Seq("fp"), "left_anti")
    val sizes = cool.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val shared = cool.select(col("fp"), col("doc_id").as("id_a"))
      .join(cool.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared.join(sizes.select(col("doc_id").as("id_a"), col("n_fp")), Seq("id_a"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        roundHalfUp(col("n_shared").cast("double") / col("n_fp"), 4).as("containment"))
      .filter(col("containment") >= minContain)
  }

  def substringDedup(t: Tables, l: Int = 24, w: Int = 8,
                     maxDocsPerFp: Long = 1000L): DataFrame = {
    // persist: hot-fp census + both pair-join sides read the winnow scan
    // (see containment)
    val fps = substringFingerprints(t, l, w).persist()
    val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocsPerFp).select(col("fp"))
    val cool = fps.join(hot, Seq("fp"), "left_anti")
    cool.select(col("fp"), col("doc_id").as("id_a"))
      .join(cool.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }
}
