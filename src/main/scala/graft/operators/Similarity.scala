package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.functions.{KernelCall, roundHalfUp}

/** Similarity search over the `embeddings` table (SURVEY.md §2 C5-C7).
  *
  * Math is done in double precision with sequential folds (higher-order
  * `aggregate` / `zip_with`) so the result is reproducible and
  * oracle-comparable. Query vectors / centroids travel as broadcast-sized
  * one-row plans, never collected per-row.
  */
object Similarity {

  /** Cosine similarity via the native `Kernels.cosineF` kernel (one fused
    * JIT loop per row; sequential double fold — bit-identical to the
    * zip_with/aggregate HOF formulation and the DuckDB oracle).
    */
  private def cos(a: String, b: String): Column = expr(s"graft_cosine($a, $b)")

  /** Corpus cardinality for parameter self-sizing: answered from plan
    * statistics first — catalog tables with ANALYZE TABLE row counts
    * reach here via `spark.sql.cbo.planStats.enabled` (on by default in
    * GraftSession) with NO job — falling back to a `count()` scan only
    * for stat-less sources (e.g. bare parquet paths). At 100 TB a
    * plan-build-time corpus scan is real money; stats-backed tables
    * never pay it.
    */
  private[graft] def corpusRows(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.stats.rowCount
      .map(_.toLong).filter(_ > 0L)
      .getOrElse(df.count())

  /** C6: brute-force cosine top-k against one query vector (vec_id = 0).
    *
    * The query vector joins in as a broadcast single-row relation; the scan
    * side computes dot + norms in one pass and top-k goes through
    * TakeOrderedAndProject (bounded k, no global sort). At 100 TB this is
    * the exact-scoring baseline; C7 (IVF) is the pruned path.
    */
  def annTopK(t: Tables, queryVecId: Long = 0L, k: Int = 10): DataFrame = {
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val sim = roundHalfUp(cos("embedding", "q_embedding"), 4)
    t.embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** C68: MMR diverse selection (maximal marginal relevance, Carbonell &
    * Goldstein 1998) — the data-selection/RAG shape "most relevant to
    * the query, least redundant with what's already picked": greedily
    * take argmax of λ·rel(c) − μ·max_{s∈S} sim(c, s) for k steps.
    *
    * λ and μ are SEPARATE parameters, not λ and 1−λ: `1.0 - 0.7` is
    * 0.30000000000000004 in IEEE754 while the SQL literal `0.3` is not —
    * the oracle and the engine must evaluate the SAME constants or the
    * argmax can flip on near-ties. All rel/sim inputs are rounded to
    * 4 dp first (the ann_topk convention), so the greedy arithmetic
    * runs on bit-identical doubles cross-engine, with vec_id breaking
    * exact ties.
    *
    * Scale shape: the corpus-sized work is C6's scored scan + bounded
    * top-n shortlist (TakeOrderedAndProject); the greedy loop is
    * DRIVER-side over the collected n-row shortlist — k·n bounded
    * cosine evaluations on ≤ n vectors (the budget_select/centroid
    * precedent: driver compute over a deliberately bounded relation,
    * never the corpus). The oracle unrolls the same k steps as
    * GENERATED CTEs (`mmrSql`).
    */
  def mmrSelect(t: Tables, queryVecId: Long = 0L, n: Int = 50, k: Int = 10,
                lambda: Double = 0.7, mu: Double = 0.3): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val short = t.embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), roundHalfUp(cos("embedding", "q_embedding"), 4).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Float](2).toArray))
    // sequential-fold cosine in double — the list_sum/graft_cosine order
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      r4(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double, Array[Float])]
    val remaining = scala.collection.mutable.ArrayBuffer(short: _*)
    var step = 0
    while (step < k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, rel, v) =>
        val pen = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => cos4(v, s._4)).max
        (id, rel, lambda * rel - mu * pen, v)
      }
      val best = scored.minBy { case (id, _, mmr, _) => (-mmr, id) }
      selected += best
      remaining.remove(remaining.indexWhere(_._1 == best._1))
      step += 1
    }
    selected.zipWithIndex.toSeq
      .map { case ((id, rel, mmr, _), i) => (i + 1L, id, rel, r4(mmr)) }
      .toDF("rk", "vec_id", "rel", "mmr")
  }

  /** C5: embedding near-duplicate pairs — cosine above threshold inside
    * label blocks. Blocking bounds the pair count (n² within block, not
    * global); at scale the block key would be an LSH bucket (see
    * Dedup.minhash) or IVF cell instead of a label.
    *
    * This is the documented ALL-PAIRS baseline (measured 57.9x at 10x
    * data vs LSH's 6.5x): `maxAllPairs` refuses corpora where the
    * quadratic blowup would silently burn a cluster — use
    * [[embedNearDupLsh]] past that size.
    *
    * Budget derivation for the 100k default: label blocking caps pairs
    * at n²/2 in the worst (single-label) case, so 100k rows → ≤ 5×10⁹
    * fused-cosine evaluations ≈ 500 core-seconds at ~10⁷ 64-dim
    * cosines/core/s — under a minute on one 32-core executor, the most
    * a "baseline to measure recall against" should ever cost. One more
    * decade (1M rows) is 5×10¹¹ pairs ≈ 14 core-HOURS: that is a
    * cluster-burning job nobody should trigger by default, so the guard
    * trips first. Override explicitly when a recall study knowingly
    * pays more.
    */
  def embedNearDup(t: Tables, threshold: Double = 0.9,
                   maxAllPairs: Long = 100000L): DataFrame = {
    val n = corpusRows(t.embeddings)
    require(n <= maxAllPairs,
      s"embedNearDup is the all-pairs O(n^2) baseline: corpus has $n rows " +
        s"(> maxAllPairs=$maxAllPairs). Use embedNearDupLsh — the LSH-blocked " +
        "scale path with the same output contract — for corpora this size.")
    val a = t.embeddings.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = t.embeddings.select(col("label").as("label_b"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    val sim = roundHalfUp(cos("ea", "eb"), 4)
    a.join(b, col("label") === col("label_b") && col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"), sim.as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** C5b: the SCALE path for embedding near-dup — random-hyperplane LSH
    * blocking instead of [[embedNearDup]]'s label blocks. Two vectors
    * agree on hyperplane i's sign bit with probability 1 − θ/π (θ =
    * their angle), so banding the `nPlanes`-bit signature into
    * `nPlanes/bandBits` bands makes near-parallel vectors collide in
    * some band with high probability (cos 0.95 → ≥99% at 12 planes ×
    * 3-bit bands) while far pairs rarely do — candidate generation is
    * O(n·bands) bucket joins, never n².
    *
    * Determinism/oracle: hyperplanes are the first `nPlanes` corpus
    * vectors (broadcast as plan literals, like the IVF centroids), the
    * sign uses the raw double dot product (cosine's NaN on zero-norm
    * vectors would order differently across engines; the dot is 0 → one
    * fixed side), and degenerate hot buckets (> `maxBucket` members) are
    * dropped by a broadcast anti-join before the self-join — the same
    * cap rule as MinHash LSH (Dedup.maxBucket).
    *
    * Shapes: signatures are one narrow pass (nPlanes folded dots per
    * row); the band self-join shuffles (band, bucket, id) rows ONLY —
    * embeddings never travel through the candidate join — and exact
    * cosine runs once per DISTINCT candidate pair after re-joining the
    * vectors by id (the ngramJaccard inverted-index shape): a pair
    * colliding in all 4 bands still costs one cosine, not four.
    *
    * Sizing at scale: bucket population ≈ n / 2^bandBits per band, so
    * bandBits GROWS with the corpus. The default (`bandBits = 0`)
    * SELF-SIZES: bandBits = bitLength((n−1) / 32), clamped to [3, 15] —
    * the smallest width keeping expected buckets ≤ 32 members, computed
    * with integer-exact math the DuckDB oracle reproduces via
    * `LENGTH(BIN((count(*)−1)//32))` (no float log2 boundary risk), so
    * Spark and oracle pick identical parameters at every SF. Measured:
    * without self-sizing a 10x corpus ran the bucket joins ~63x longer
    * (n²/2^bandBits growth); with it the query scales ~linearly.
    *
    * Recall per band is p^bandBits (p = 1 − θ/π), so growing bandBits
    * at a FIXED band count loses recall with n — measured on ScaleGen's
    * planted cliques: 0.974 at sf3 (bandBits 11) fell to 0.819 at sf10
    * (bandBits 13, same 4 bands). The band count therefore self-sizes
    * WITH the width: nBands = 4 + 2·max(0, bandBits − 11) (integer
    * arithmetic the oracle mirrors), re-measured 0.936 at sf10 with the
    * grown 8 bands (measured by a since-deleted probe; figures in
    * tools/lsh_recall_r11.json). Bands are independent per-band
    * bucket values — NOT bits of one packed long — so the plane count
    * nBands·bandBits has no 62-bit ceiling. All band values come from
    * ONE native single-pass kernel (Kernels.hyperplaneBands) whose plane
    * matrix is a codegen reference object: projection cost is linear in
    * planes, and end-to-end cost tracks the candidate-pair volume the
    * added bands surface. Measured at sf10 (200k vectors, 13-bit bands;
    * tools/lsh_recall_r12.json): 4 / 8 / 16 bands = 91M / 166M / 346M
    * candidate pairs, recall 0.819 / 0.936 / 0.988, wall 294 / 396 /
    * 957 s — the grown-band recall costs 1.35x the 4-band wall, not the
    * 5.65x round 11 measured when the per-plane HOF projection (104
    * aggregate/zip_with expressions) fell out of whole-stage codegen.
    * The `maxBucket` cap sweep at the same scale: 16384 and 4096 do not
    * bind (largest bucket ≤ 4096 — candidate volume is the corpus's own
    * sign-space clustering, not a degenerate bucket), and 1024 trades
    * 0.9 pp recall (0.9358 → 0.9277) for 34 % fewer candidates — not
    * taken as default, the cap stays a mega-bucket guard.
    */
  def embedNearDupLsh(t: Tables, threshold: Double = 0.9, nPlanes: Int = 0,
                      bandBits: Int = 0, maxBucket: Long = 100000L): DataFrame = {
    val cand = embedNearDupLshCandidates(t, nPlanes, bandBits, maxBucket)
    val ea = t.embeddings.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val eb = t.embeddings.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    cand.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), roundHalfUp(cos("ea", "eb"), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** The LSH path's banded bucket relation (vec_id, band, bval) after
    * self-sizing and the tiny-corpus clamp. Candidate volume per bucket
    * population was measured by a since-deleted probe
    * (tools/lsh_recall_r12.json `collision_pairs`).
    */
  private def embedNearDupLshBanded(t: Tables, nPlanes: Int = 0,
                                           bandBits: Int = 0): DataFrame = {
    val bb =
      if (bandBits > 0) bandBits
      else {
        val n = math.max(1L, corpusRows(t.embeddings))
        val q = (n - 1L) / 32L
        math.max(3, math.min(15, 64 - java.lang.Long.numberOfLeadingZeros(q)))
      }
    val np0 = if (nPlanes > 0) nPlanes else (4 + 2 * math.max(0, bb - 11)) * bb
    require(np0 % bb == 0, s"bad plane/band split: $np0/$bb")
    val planes0 = t.embeddings.orderBy(col("vec_id")).limit(np0)
      .select(col("embedding")).collect().map(_.getSeq[Float](0))
    require(planes0.nonEmpty, "embedNearDupLsh: empty embedding corpus")
    // tiny-corpus clamp (oracle-mirrored arithmetic): fewer vectors than
    // planes shrinks the BAND COUNT first (≥1), and below one band's
    // width the band narrows to the corpus size — both engines degrade
    // identically instead of one failing loudly and the other silently
    val avail = planes0.length
    val (bbEff, nBands) =
      if (avail >= np0) (bb, np0 / bb)
      else if (avail >= bb) (bb, avail / bb)
      else (avail, 1)
    val np = nBands * bbEff
    // pad every plane to a common stride so the flattened matrix slices
    // cleanly (embeddings are fixed-dim; this guards ragged input)
    val dims = planes0.map(_.length).max
    val planesFlat: Seq[Double] = planes0.take(np).flatMap { p =>
      p.map(_.toDouble).padTo(dims, 0.0)
    }
    // ALL band bucket values in one native single-pass kernel
    // (Kernels.hyperplaneBands): band b's value = the sign bits of its
    // own bbEff planes — an independent long per band (no packed-signature bit
    // ceiling). The plane matrix is a codegen reference object, so plan
    // size and generated code stay O(1) in plane count; the HOF
    // formulation this replaces built np separate aggregate(zip_with)
    // expressions that fell out of whole-stage codegen at sf10's grown
    // 8-band config and cost 5.65x wall for 2x bands (lsh_recall_r11).
    val bandsCol = KernelCall.column("hyperplaneBands", KernelCall.LongArray,
      col("embedding"), planesFlat.toArray, nBands, bbEff)
    t.embeddings
      .select(col("vec_id"), posexplode(bandsCol).as(Seq("band", "bval")))
  }

  /** Distinct candidate pairs of the LSH path (colliding pairs after the
    * hot-bucket cap) — the relation the exact-cosine verify runs over.
    */
  private[graft] def embedNearDupLshCandidates(t: Tables, nPlanes: Int = 0,
                                               bandBits: Int = 0,
                                               maxBucket: Long = 100000L): DataFrame = {
    val banded = embedNearDupLshBanded(t, nPlanes, bandBits)
    val hot = banded.groupBy(col("band"), col("bval")).count()
      .filter(col("count") > maxBucket).select(col("band"), col("bval"))
    val ok = banded.join(broadcast(hot), Seq("band", "bval"), "left_anti")
    ok.select(col("band"), col("bval"), col("vec_id").as("id_a"))
      .join(ok.select(col("band"), col("bval"), col("vec_id").as("id_b")), Seq("band", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** C7: IVF-style ANN — deterministic centroids (the first `nCells`
    * vectors, a k-means|| seeding stand-in), assign every vector to its
    * nearest cell, then search only the query's top-`nProbe` cells.
    *
    * Centroids are broadcast; assignment is one narrow pass; the probed
    * search touches ~nProbe/nCells of the data — the 100 TB path where
    * brute force (C6) is the correctness baseline.
    */
  /** The centroid vectors as ONE literal Column (array<array<float>>).
    * A non-primitive Literal is codegen'd as a single reference object —
    * the plan and generated code stay O(1) in k·d, so a learned codebook
    * of thousands of cells never blows codegen or plan-serialization
    * limits (the old SQL-text `array(array(CAST(..)))` unrolled into
    * k·d expression nodes and capped the pattern at ~10³ entries).
    */
  private def centArrCol(centRows: Array[(Long, Seq[Float])]): Column =
    typedLit(centRows.toSeq.map(_._2))

  /** Fold the centroid set into a narrow per-row argmax expression —
    * cell assignment becomes a map-only pass (no crossJoin, no window,
    * no shuffle). First-max scan == (sim desc, position asc) tie-break;
    * a row whose cosines are ALL NaN (zero-norm/NaN vector) still gets
    * a deterministic cell (position 0).
    *
    * Runs through the native `Kernels.nearestCentroid` kernel (one JIT loop
    * per row; the interpreted aggregate() fold was the dominant cost of
    * sf10 semdedup — 200k rows × 196 cells = 39M cosine folds);
    * [[nearestCellColHof]] is the parity twin.
    */
  private def nearestCellCol(centRows: Array[(Long, Seq[Float])], vecCol: String): Column = {
    val cellIds = typedLit(centRows.toSeq.map(_._1))
    val dims = centRows.head._2.size
    val flat = new Array[Float](centRows.length * dims)
    for (c <- centRows.indices; j <- 0 until dims) flat(c * dims + j) = centRows(c)._2(j)
    require(flat.length == centRows.length * dims, s"centroids: ${flat.length} != ${centRows.length}*$dims")
    val pos = KernelCall.column("nearestCentroid", IntegerType, col(vecCol), flat, centRows.length, dims)
    element_at(cellIds, pos + lit(1))
  }

  /** HOF formulation of [[nearestCellCol]] — the independent parity
    * reference for the native kernel (SemDedupPqSpec fuzz-asserts
    * identical assignments, including NaN and exact-tie rows).
    */
  private[graft] def nearestCellColHof(centRows: Array[(Long, Seq[Float])], vecCol: String): Column = {
    val centArr = centArrCol(centRows)
    val cellIds = typedLit(centRows.toSeq.map(_._1))
    val best = aggregate(
      sequence(lit(0), lit(centRows.length - 1)),
      struct(lit(0).as("best"), lit(Double.NegativeInfinity).as("bestSim")),
      (acc, i) => {
        val sim = call_function("graft_cosine", col(vecCol), element_at(centArr, i + lit(1)))
        when(sim > acc("bestSim"), struct(i.as("best"), sim.as("bestSim"))).otherwise(acc)
      })
    element_at(cellIds, best("best").cast("int") + lit(1))
  }

  /** Literal-fold cell assignment ships the centroid value inside every
    * TASK's serialized plan; above this many floats (4 MiB of task
    * binary) the codebook instead ships ONCE per executor as a broadcast
    * join. SimilaritySpec asserts path parity.
    */
  private[graft] val maxLiteralCentroidFloats: Long = 1L << 20

  /** Assign each row of `df` its nearest centroid as `cell_id` —
    * literal-fold (zero-shuffle map pass) when the codebook is small
    * enough to ride the task binary, broadcast-join argmax above the
    * gate. `key` must be a unique row id (drives the fallback's argmax
    * regroup; the join path shuffles one row per input row, partial-agg
    * collapsed map-side).
    */
  private[graft] def assignCells(df: DataFrame, key: String, vecCol: String,
      centRows: Array[(Long, Seq[Float])],
      maxLitFloats: Long = maxLiteralCentroidFloats): DataFrame = {
    val nFloats = centRows.length.toLong * centRows.headOption.map(_._2.size).getOrElse(0)
    if (nFloats <= maxLitFloats)
      df.withColumn("cell_id", nearestCellCol(centRows, vecCol).cast("long"))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val centDf = centRows.toSeq.zipWithIndex
        .map { case ((cid, v), pos) => (pos, cid, v) }.toDF("_pos", "_cid", "_cent")
      val others = df.columns.filter(_ != key).toSeq
      // lexicographic max over (sim, -pos, cid): highest cosine, then
      // first position — the literal fold's exact tie-break. NaN cosines
      // map to -Infinity so a zero-norm vector still lands in cell 0.
      val cand = struct(
        nanvl(call_function("graft_cosine", col(vecCol), col("_cent")),
          lit(Double.NegativeInfinity)).as("sim"),
        (-col("_pos")).as("np"), col("_cid").as("cid"))
      df.crossJoin(broadcast(centDf))
        .groupBy(col(key))
        .agg(max(cand).as("_best"), first(struct(others.map(col): _*)).as("_carry"))
        .select(col(key) +: others.map(c => col(s"_carry.$c").as(c))
          :+ col("_best.cid").as("cell_id"): _*)
    }
  }

  def annIvf(t: Tables, queryVecId: Long = 0L, nCells: Int = 16, nProbe: Int = 4, k: Int = 10): DataFrame = {
    // centroids are broadcast-sized BY CONSTRUCTION (SURVEY §4)
    val centRows = t.embeddings.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cent"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    probedSearch(t, centRows, queryVecId, nProbe, k)
  }

  /** Shared IVF probe-and-search over any centroid set: zero-shuffle cell
    * assignment, query's top-nProbe cells probed, exact scoring inside.
    */
  private def probedSearch(t: Tables, centRows: Array[(Long, Seq[Float])],
                           queryVecId: Long, nProbe: Int, k: Int): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val assigned = assignCells(
      t.embeddings.select(col("vec_id"), col("embedding")), "vec_id", "embedding", centRows)
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val qCells = centRows.toSeq.toDF("cell_id", "cent").crossJoin(broadcast(q))
      .select(col("cell_id"), cos("cent", "q_embedding").as("qs"))
      .orderBy(col("qs").desc, col("cell_id")).limit(nProbe)
      .select(col("cell_id"))
    val sim = roundHalfUp(cos("embedding", "q_embedding"), 4)
    assigned.join(broadcast(qCells), Seq("cell_id"))
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), sim.as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** (q_id, vec_id, sim) for every (query, corpus vector) pair — queries
    * broadcast, one narrow scoring pass.
    */
  private def batchScores(t: Tables, nQueries: Int): DataFrame = {
    val qs = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    t.embeddings.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), roundHalfUp(cos("embedding", "qe"), 4).as("sim"))
  }

  /** C7b: IVF probed search over LEARNED centroids — the kmeans (C18)
    * refinement of annIvf's first-k seeding: cells actually partition
    * the vector space, so the same nProbe budget recalls more of the
    * true top-k. Rows-only driver check (iterative centroids have no
    * SQL oracle); the recall gain is asserted in SimilaritySpec.
    */
  def annIvfKmeans(t: Tables, queryVecId: Long = 0L, nCells: Int = 16, nProbe: Int = 4,
                   k: Int = 10, trainIters: Int = 3): DataFrame =
    probedSearch(t, kmeansCentroids(t, nCells, trainIters), queryVecId, nProbe, k)

  /** C73: k-NN graph construction, exact within blocks — for every
    * vector, its k most cosine-similar neighbors inside the same block
    * (here the `label` column; a dedup cluster id, IVF cell or LSH
    * bucket slots into the same plan). The k-NN graph is the substrate
    * of graph-based curation — SemDeDup-style pruning, connected-
    * component near-dup clusters over embeddings, label propagation —
    * and the blocked-exact form is the correctness baseline the
    * LSH-blocked [[knnGraphLsh]] is judged against.
    *
    * Scale shape: the pair space is an equi-join on the block key
    * (never a global cross product), so cost is Σ block², bounded by
    * the blocking choice, and selection goes through the native bounded
    * `graft_topk` aggregate — map tasks reduce to k-entry buffers
    * before the exchange, no window sort at any cardinality.
    */
  def knnGraph(t: Tables, k: Int = 5, maxRows: Long = 100000L): DataFrame = {
    // same budget stance as embedNearDup: block² cost needs a blocking
    // the caller actually controls — refuse silently-quadratic corpora
    val n = corpusRows(t.embeddings)
    require(n <= maxRows,
      s"knnGraph pairs within blocks (Σ block²): corpus has $n rows " +
        s"(> maxRows=$maxRows). Use knnGraphLsh — the LSH-candidate scale " +
        "path with the same output contract — for corpora this size.")
    val b = t.embeddings.select(col("label").as("label_b"),
      col("vec_id").as("nbr_id"), col("embedding").as("eb"))
    t.embeddings.select(col("label"), col("vec_id"), col("embedding"))
      .join(b, col("label") === col("label_b") && col("vec_id") =!= col("nbr_id"))
      .select(col("label"), col("vec_id"), col("nbr_id"),
        roundHalfUp(cos("embedding", "eb"), 4).as("sim"))
      .groupBy(col("label"), col("vec_id"))
      .agg(expr(s"graft_topk(struct(sim, nbr_id), $k)").as("top"))
      .select(col("label"), col("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("label"), col("vec_id"), (col("pos") + 1).cast("long").as("rk"),
        col("e.id").as("nbr_id"), col("e.score").as("sim"))
  }

  /** C73b: the SCALE path for k-NN graph construction — neighbor
    * candidates come from the random-hyperplane LSH bands
    * ([[embedNearDupLshCandidates]]: self-sized width and band count,
    * hot-bucket cap), so the pair space is O(n·bands·bucket) instead of
    * any block². Each candidate pair feeds BOTH endpoints' neighbor
    * lists (the graph is symmetric in candidates, not in rank), then
    * the bounded `graft_topk` heap picks per-node top-k — identical
    * output contract to [[knnGraph]] minus the block restriction.
    * Candidate recall is the LSH recall story measured by a
    * since-deleted probe (tools/lsh_recall_r11.json); a node whose true neighbor never collides in any
    * band misses it here — the planted-cluster spec pins the
    * within-cluster case at recall 1.0.
    */
  def knnGraphLsh(t: Tables, k: Int = 5, nPlanes: Int = 0, bandBits: Int = 0,
                  maxBucket: Long = 100000L): DataFrame = {
    val cand = embedNearDupLshCandidates(t, nPlanes, bandBits, maxBucket)
    val sym = cand.select(col("id_a").as("vec_id"), col("id_b").as("nbr_id"))
      .unionByName(cand.select(col("id_b").as("vec_id"), col("id_a").as("nbr_id")))
    val a = t.embeddings.select(col("vec_id"), col("embedding").as("ea"))
    val b = t.embeddings.select(col("vec_id").as("nbr_id"), col("embedding").as("eb"))
    sym.join(a, Seq("vec_id")).join(b, Seq("nbr_id"))
      .select(col("vec_id"), col("nbr_id"), roundHalfUp(cos("ea", "eb"), 4).as("sim"))
      .groupBy(col("vec_id"))
      .agg(expr(s"graft_topk(struct(sim, nbr_id), $k)").as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rk"),
        col("e.id").as("nbr_id"), col("e.score").as("sim"))
  }

  /** C22: batch ANN — cosine top-k for MANY query vectors at once (the
    * training-dedup / batch-inference shape). Queries broadcast; scoring
    * is one narrow pass. Top-k selection is TWO-LEVEL so parallelism is
    * never capped at the query count: a first window over (query,
    * vec-hash bucket) keeps each bucket's top k at query×64 parallelism,
    * then the final window ranks only the 64·k survivors per query.
    * Any global top-k row is in its bucket's top-k, so the two-level
    * result is exact and partitioning-independent.
    */
  def annBatch(t: Tables, nQueries: Int = 5, k: Int = 5, buckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = batchScores(t, nQueries)
      .withColumn("b", pmod(col("vec_id"), lit(buckets.toLong)))
    val local = Window.partitionBy(col("q_id"), col("b"))
      .orderBy(col("sim").desc, col("vec_id"))
    val global = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("lrk", row_number().over(local)).filter(col("lrk") <= k)
      .withColumn("rk", row_number().over(global).cast("long")).filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** C22b: the same batch top-k through the native `graft_topk` bounded
    * aggregate (TypedImperativeAggregate) — every map task reduces its
    * rows to a k-entry buffer BEFORE the exchange, so the whole selection
    * is one shuffle of k-sized buffers per query: the optimal distributed
    * top-k, no window sort anywhere. Same output and oracle as
    * [[annBatch]]; ties broken identically ((sim desc, vec_id asc) is the
    * aggregate's ranking order).
    */
  def annBatchAgg(t: Tables, nQueries: Int = 5, k: Int = 5): DataFrame =
    batchScores(t, nQueries)
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(struct(sim, vec_id), $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rk"),
        col("e.id").as("vec_id"), col("e.score").as("sim"))

  /** C49: hard-negative mining — for each query vector, the top-k most
    * cosine-similar corpus vectors carrying a DIFFERENT label (the
    * contrastive-training shape: a query's hardest negatives are the
    * near-misses outside its own class/cluster; see e.g. DPR/Contriever
    * training recipes). The label here stands in for whatever positive
    * grouping the pipeline has — a dedup cluster id or a source would
    * slot into the same plan.
    *
    * Shape is [[annBatchAgg]]'s: queries broadcast, ONE narrow scoring
    * pass with the label-exclusion predicate fused into it (negatives
    * are filtered before any state accrues), and selection through the
    * native bounded `graft_topk` aggregate — every map task reduces to a
    * k-entry buffer per query BEFORE the exchange, so the shuffle moves
    * k-sized buffers and no window sort runs. `vec_id == q_id` needs no
    * explicit exclusion: a row always shares its own label.
    */
  def hardNegatives(t: Tables, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val qs = t.embeddings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("label").as("q_label"))
    t.embeddings.select(col("vec_id"), col("embedding"), col("label"))
      .crossJoin(broadcast(qs))
      .filter(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), roundHalfUp(cos("embedding", "qe"), 4).as("sim"))
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(struct(sim, vec_id), $k)").as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rk"),
        col("e.id").as("vec_id"), col("e.score").as("sim"))
  }

  /** C18: spherical k-means clustering of the embedding corpus (Lloyd's
    * iterations, cosine assignment, elementwise-mean update) —
    * deterministic init from the first k vectors, so results are
    * reproducible run to run.
    *
    * Scale shape per iteration: assignment is a narrow map (centroids
    * folded into the same argmax expression as IVF — zero shuffle);
    * the update is one (cell, dim)-keyed aggregation whose result is
    * k·d rows — broadcast-sized by definition, collected to rebuild the
    * next centroid literal. Empty cells keep their previous centroid.
    * Driver work is O(k·d·iters); data passes are maxIter + 1 scans.
    */
  /** Lloyd's iterations → final centroid set (shared by kmeans and the
    * learned-centroid IVF). Deterministic first-k init.
    */
  private def kmeansCentroids(t: Tables, k: Int, maxIter: Int): Array[(Long, Seq[Float])] = {
    var centRows: Array[(Long, Seq[Float])] =
      t.embeddings.orderBy(col("vec_id")).limit(k).select(col("embedding")).collect()
        .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Float](0)) }
    for (_ <- 0 until maxIter) {
      val assigned = assignCells(
        t.embeddings.select(col("vec_id"), col("embedding")), "vec_id", "embedding", centRows)
      val updated = assigned
        .select(col("cell_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell_id"), col("pos")).agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getLong(0)).map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toSeq)
        }
      centRows = centRows.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    centRows
  }

  def kmeans(t: Tables, k: Int = 8, maxIter: Int = 5): DataFrame = {
    val centRows = kmeansCentroids(t, k, maxIter)
    // sim recomputes ONE cosine against the chosen centroid (cell ids are
    // 0..k-1 = array position), not a second k-wide argmax scan
    assignCells(t.embeddings.select(col("vec_id"), col("label"), col("embedding")),
        "vec_id", "embedding", centRows)
      .withColumn("sim_to_centroid", roundHalfUp(
        call_function("graft_cosine", col("embedding"),
          element_at(centArrCol(centRows), col("cell_id").cast("int") + lit(1))), 4))
      .select(col("vec_id"), col("label"), col("cell_id"), col("sim_to_centroid"))
  }

  /** C39: affine int8 scalar quantization of the embedding column — the
    * compression step that makes 100 TB of vectors storable and
    * SIMD-scannable (4× smaller than float32, distance kernels on u8).
    * Per-dimension affine codes over the corpus min/max range:
    *
    *   code_i = clamp(⌊(v_i − lo_i) / (hi_i − lo_i) · 255 + 0.5⌋, 0, 255)
    *   recon_i = lo_i + code_i · (hi_i − lo_i) / 255
    *
    * (constant dimensions — hi == lo — code to 0 and reconstruct
    * exactly). Emits the first four codes as a parity surface plus the
    * per-vector reconstruction MSE.
    *
    * Scale shape: the stats pass is a dimension-bounded aggregate
    * (posexplode → min/max over ≤ dims keys, map-side combinable) with
    * a ≤ dims-row collect; encoding is then a SINGLE zero-shuffle
    * narrow scan — lo/hi ride as two literal array Columns (the same
    * literal-fold pattern as C38/A21) and codes + reconstruction error
    * are in-array folds. All float math is pure +/−/·// in a fixed
    * fold order, so the oracle compare is bit-stable end to end — no
    * transcendental functions, no rounding dependence.
    */
  def embedQuantize(t: Tables): DataFrame = {
    val stats = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(min(col("v").cast("double")).as("lo"), max(col("v").cast("double")).as("hi"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val loLit = typedLit(stats.map(_._2).toSeq)
    val hiLit = typedLit(stats.map(_._3).toSeq)
    val codes = transform(col("embedding"), (v, i) => {
      val lo = element_at(loLit, i + lit(1))
      val hi = element_at(hiLit, i + lit(1))
      when(hi === lo, lit(0)).otherwise(
        least(greatest(floor((v.cast("double") - lo) / (hi - lo) * lit(255.0) + lit(0.5)),
          lit(0.0)), lit(255.0))).cast("int")
    })
    val recon = transform(col("codes"), (c, i) => {
      val lo = element_at(loLit, i + lit(1))
      val hi = element_at(hiLit, i + lit(1))
      lo + c.cast("double") * (hi - lo) / lit(255.0)
    })
    val sqErr = zip_with(col("embedding"), col("recon"),
      (a, b) => (a.cast("double") - b) * (a.cast("double") - b))
    t.embeddings
      .withColumn("codes", codes)
      .withColumn("recon", recon)
      .select(col("vec_id"),
        // get() not element_at(): null-safe under ANSI for sub-4-dim
        // vectors (mirrors the oracle's out-of-range list index -> NULL)
        get(col("codes"), lit(0)).as("code_0"),
        get(col("codes"), lit(1)).as("code_1"),
        get(col("codes"), lit(2)).as("code_2"),
        get(col("codes"), lit(3)).as("code_3"),
        roundHalfUp(aggregate(sqErr, lit(0.0d), (acc, x) => acc + x) /
          size(col("embedding")), 8).as("mse"))
  }

  /** C41: semantic deduplication — SemDeDup (Abbas et al. 2023): cluster
    * the embedding corpus, then prune within-cluster cosine near-dups,
    * keeping the member FARTHEST from its centroid (the paper's rule:
    * centroid-near members are the redundant "prototypical" copies;
    * far members carry the cluster's diversity). The pruned corpus is
    * the training set; near-dup text variants C2-C4 can't see (same
    * meaning, different words) die here.
    *
    * Drop rule, deterministic: for every within-cell pair with rounded
    * cosine ≥ `threshold`, the member with the HIGHER rounded
    * centroid-similarity is dropped (tie → the higher vec_id). A vector
    * is kept iff no pair drops it. Pair-local (not connected-component)
    * dropping matches the paper's per-cluster ε-sweep and keeps the
    * operator a single join + distinct — no iteration.
    *
    * Scale shape: cell assignment is the C7 zero-shuffle literal-fold
    * (broadcast-join fallback above the codebook gate); the pair join
    * shuffles on cell_id ONLY — with nCells sized so expected cell
    * population n/nCells stays bounded (the paper runs ~100k clusters
    * at billion scale), within-cell pairs are (n/nCells)² per cell, the
    * same budget-bounded blocking as C5's label blocks. `maxExpectedCell`
    * refuses configurations whose expected cell would blow that budget —
    * raise nCells, not the gate. The drop list is duplicate-sized; the
    * final membership join is a broadcast-friendly semi shape.
    *
    * Deterministic first-k centroids (cell_id = position) keep the whole
    * operator SQL-expressible for the oracle; swap in kmeansCentroids
    * (C18) for learned cells — same plan shape, rows-only check.
    *
    * `nCells = 0` (default) SELF-SIZES with the corpus — the C5b
    * band-width precedent: nCells = max(16, ⌈n/1024⌉), integer-exact
    * arithmetic the oracle mirrors via a computed LIMIT, so expected
    * cell population stays ~1024 at every SF instead of the gate firing
    * the first time the corpus outgrows a fixed cell count.
    */
  def semDedup(t: Tables, nCells: Int = 0, threshold: Double = 0.25,
               maxExpectedCell: Long = 4096L): DataFrame = {
    val n = corpusRows(t.embeddings)
    val cells = if (nCells > 0) nCells
      else math.max(16L, (n + 1023L) / 1024L).toInt
    require(n / math.max(cells, 1) <= maxExpectedCell,
      s"semDedup: expected cell population ${n / math.max(cells, 1)} exceeds " +
        s"maxExpectedCell=$maxExpectedCell — the within-cell pair stage is " +
        "quadratic in cell population; raise nCells (the paper uses ~100k " +
        "clusters at billion scale), don't raise the gate.")
    val centRows: Array[(Long, Seq[Float])] =
      t.embeddings.orderBy(col("vec_id")).limit(cells).select(col("embedding"))
        .collect().zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Float](0)) }
    val assigned = assignCells(
      t.embeddings.select(col("vec_id"), col("label"), col("embedding")),
      "vec_id", "embedding", centRows)
      .withColumn("sim_centroid", roundHalfUp(
        call_function("graft_cosine", col("embedding"),
          element_at(centArrCol(centRows), col("cell_id").cast("int") + lit(1))), 4))
    val a = assigned.select(col("cell_id"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("sim_centroid").as("sc_a"))
    val b = assigned.select(col("cell_id").as("cell_b"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("sim_centroid").as("sc_b"))
    val dropped = a.join(b, col("cell_id") === col("cell_b") && col("id_a") < col("id_b"))
      .filter(roundHalfUp(cos("ea", "eb"), 4) >= threshold)
      .select(when(col("sc_a") > col("sc_b"), col("id_a"))
        .otherwise(col("id_b")).as("vec_id"))
      .distinct()
    assigned
      .join(dropped.withColumn("_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("cell_id"), col("sim_centroid"),
        col("_dup").isNull.as("kept"))
  }

  /** Per-subspace PQ codebooks from the first `ksub` corpus vectors
    * (deterministic — the C7/C5b "first-k" seeding rule, which keeps the
    * whole encoder SQL-expressible): codebook m's entry c is centroid
    * vector c's m-th subvector. Returns (codebooks[m][ksub][sub], sub).
    */
  private def pqCodebooks(t: Tables, m: Int, ksub: Int): (Array[Seq[Seq[Double]]], Int) =
    pqCodebooksFrom(t.embeddings, m, ksub)

  /** Codebooks from any (vec_id, embedding array<float>) relation. */
  private def pqCodebooksFrom(emb: DataFrame, m: Int, ksub: Int): (Array[Seq[Seq[Double]]], Int) = {
    val base = emb.orderBy(col("vec_id")).limit(ksub)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).map(_.toDouble))
    require(base.length == ksub,
      s"pq: corpus has ${base.length} vectors < ksub=$ksub")
    val dims = base.head.size
    require(dims % m == 0, s"pq: dims=$dims not divisible by m=$m subspaces")
    val sub = dims / m
    ((0 until m).map { s =>
      base.toSeq.map(v => v.slice(s * sub, (s + 1) * sub).toSeq)
    }.toArray, sub)
  }

  /** Squared L2 distance between `vecCol`'s subspace-`s` subvector and
    * codebook entry (s, c) — a fixed-order sequential fold (j ascending),
    * bit-identical to the oracle's list_reduce.
    */
  private def pqSubDist(vecCol: Column, s: Column, c: Column,
                        sub: Int, cbLit: Column): Column =
    aggregate(sequence(lit(1), lit(sub)), lit(0.0d), (acc, j) => {
      val v = element_at(vecCol, s * lit(sub) + j).cast("double")
      val w = element_at(element_at(element_at(cbLit, s.cast("int") + lit(1)),
        c.cast("int") + lit(1)), j)
      acc + (v - w) * (v - w)
    })

  /** Per-subspace (code, dist²) encoding of `vecCol` — argmin over the
    * ksub codebook entries, strict-< first-min scan (ties keep the
    * lowest code, the oracle's ORDER BY d2, c). HOF formulation, kept as
    * the independent parity reference for the native kernel below.
    */
  private[graft] def pqEncColHof(vecCol: Column, m: Int, ksub: Int, sub: Int,
                                 cbLit: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), s =>
      aggregate(sequence(lit(0), lit(ksub - 1)),
        struct(lit(0L).as("c"), lit(Double.PositiveInfinity).as("d")),
        (acc, cIdx) => {
          val d = pqSubDist(vecCol, s, cIdx, sub, cbLit)
          when(d < acc("d"), struct(cIdx.cast("long").as("c"), d.as("d"))).otherwise(acc)
        }))

  /** Flatten codebooks to the kernel layout cb[((s·ksub)+c)·sub + j]. */
  private def pqFlat(cbs: Array[Seq[Seq[Double]]], m: Int, ksub: Int, sub: Int): Array[Double] = {
    val flat = new Array[Double](m * ksub * sub)
    for (s <- 0 until m; c <- 0 until ksub; j <- 0 until sub)
      flat((s * ksub + c) * sub + j) = cbs(s)(c)(j)
    require(flat.length == m * ksub * sub, s"pq codebook: ${flat.length} != $m*$ksub*$sub")
    flat
  }

  /** Native-kernel twin of [[pqEncColHof]] — one tight JIT loop per row
    * (the interpreted nested-HOF folds were the whole cost of pq_encode
    * at sf10), bit-identical by construction (same fold order; parity
    * fuzz-tested in SemDedupPqSpec).
    */
  private def pqEncCol(vecCol: Column, cbs: Array[Seq[Seq[Double]]],
                       m: Int, ksub: Int, sub: Int): Column =
    KernelCall.column("pqEncode", ArrayType(
      StructType(Seq(StructField("c", LongType, nullable = false),
        StructField("d", DoubleType, nullable = false))), containsNull = false),
      vecCol, pqFlat(cbs, m, ksub, sub), m, ksub, sub)

  /** Native ADC distance of `q_embedding` to the PQ `codes` column
    * (bit-identical to the HOF twin: subspaces ascending, each
    * dist²(q_sub, codebook[own code])).
    */
  private def pqAdcCol(cbs: Array[Seq[Seq[Double]]], m: Int, ksub: Int, sub: Int): Column =
    KernelCall.column("pqAdc", DoubleType, col("q_embedding"), col("codes"),
      pqFlat(cbs, m, ksub, sub), m, ksub, sub)

  /** C42: product quantization encoding (Jégou et al. TPAMI 2011) — the
    * compression step past C39's scalar quantization: split each vector
    * into `m` subspaces, encode each subvector as its nearest codebook
    * entry. m=4 × ksub=16 stores a 64-dim float vector in m·log2(ksub) =
    * 16 BITS (vs 256 bytes float32, 64 bytes int8) — the memory shape
    * that makes exhaustive 100 TB vector scans possible, and the encode
    * half of the IVF-PQ index every production ANN system runs.
    *
    * Emits per-vector codes plus the total squared reconstruction error
    * / dims (the PQ distortion, directly comparable to C39's mse).
    *
    * Scale shape: the codebooks are a ksub-row bounded collect folded
    * back as ONE literal Column (m·ksub·sub doubles — the A21/C38
    * literal-fold pattern), so encoding is a ZERO-SHUFFLE narrow scan:
    * no join, no exchange, parallelism = input partitions at any corpus
    * size. All arithmetic is fixed-order sequential folds (subspaces
    * ascending, codebook entries ascending, dimensions ascending) — the
    * oracle compare is bit-stable, and code selection (strict-< argmin)
    * cannot flip across engines.
    */
  /** Shared output projection over the per-subspace `enc` column. */
  private def pqProject(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      get(transform(col("enc"), e => e("c")), lit(0)).as("code_0"),
      get(transform(col("enc"), e => e("c")), lit(1)).as("code_1"),
      get(transform(col("enc"), e => e("c")), lit(2)).as("code_2"),
      get(transform(col("enc"), e => e("c")), lit(3)).as("code_3"),
      roundHalfUp(aggregate(col("enc"), lit(0.0d), (acc, e) => acc + e("d")) /
        size(col("embedding")), 8).as("qerr"))

  def pqEncode(t: Tables, m: Int = 4, ksub: Int = 16): DataFrame = {
    val (cbs, sub) = pqCodebooks(t, m, ksub)
    pqProject(t.embeddings
      .withColumn("enc", pqEncCol(col("embedding"), cbs, m, ksub, sub)))
  }

  /** C79c: PQ over WHITENED embeddings — the composition [[embedWhiten]]
    * exists for (OPQ-lite; Ge et al. CVPR 2013 motivates the rotation):
    * PQ splits the vector into `m` independent sub-quantizers, which
    * wastes bit budget when variance concentrates in a few correlated
    * input dims — after whitening every component carries unit variance
    * and the sub-quantizers share the load, so RELATIVE distortion
    * (reconstruction error over per-dim variance) drops on anisotropic
    * corpora (asserted on a planted corpus in SemDedupPqSpec).
    *
    * Kept components are truncated DOWN to a multiple of `m` (whitening
    * orders them by descending variance, so the truncation drops the
    * least-informative tail — the PCA-truncation everybody runs before
    * PQ anyway). Scale shape composes the audited pieces: one bounded
    * moment exchange + driver eigensolve (C79b), then a ZERO-SHUFFLE
    * literal-fold rotate feeding the native PQ kernel — no extra pass,
    * no join, parallelism = input partitions at any corpus size.
    */
  def pqEncodeWhitened(t: Tables, m: Int = 4, ksub: Int = 16,
                       minVariance: Double = 1e-9): DataFrame = {
    val (mu, rot0) = whitenRotation(t, 0, minVariance)
    val dKeep = (rot0.length / m) * m
    require(dKeep >= m,
      s"pqEncodeWhitened: only ${rot0.length} eigendirections clear minVariance — fewer than m=$m")
    val whitened = applyWhitening(t, mu, rot0.take(dKeep))
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val (cbs, sub) = pqCodebooksFrom(whitened, m, ksub)
    pqProject(whitened
      .withColumn("enc", pqEncCol(col("embedding"), cbs, m, ksub, sub)))
  }

  /** HOF-formulation twin of [[pqEncode]] — the independent parity
    * reference for the native kernel (SemDedupPqSpec asserts row
    * identity on seeded random vectors).
    */
  private[graft] def pqEncodeHof(t: Tables, m: Int = 4, ksub: Int = 16): DataFrame = {
    val (cbs, sub) = pqCodebooks(t, m, ksub)
    pqProject(t.embeddings
      .withColumn("enc", pqEncColHof(col("embedding"), m, ksub, sub, typedLit(cbs.toSeq))))
  }

  /** C42b: asymmetric-distance (ADC) top-k search over PQ codes — the
    * query half of IVF-PQ: each corpus vector is represented by its PQ
    * codes; its approximate distance to the query is the sum over
    * subspaces of dist²(query subvector, codebook[code]) — the query
    * side stays EXACT (asymmetric), the corpus side pays only the code
    * lookup. In a materialized deployment the per-subspace
    * query-to-codebook table (m·ksub floats) is computed once and every
    * corpus row costs m table lookups — here codes are derived in the
    * same scan to keep the operator self-contained and oracle-checkable.
    *
    * Scale shape: one zero-shuffle narrow scan (codebooks + query ride
    * as literals/broadcast) + TakeOrderedAndProject — the brute-force
    * C6 shape, at 1/128th the bytes per row once codes are materialized.
    * Recall vs exact top-k is asserted in SimilaritySpec.
    */
  /** C43c: IVF-PQ probed search — the full architecture every production
    * ANN system (FAISS IVFPQ and descendants) runs at billion scale: the
    * IVF coarse quantizer (C7) prunes the scan to nProbe/nCells of the
    * corpus, then PQ asymmetric distances (C43b) score the survivors at
    * code-lookup cost. Composes the audited pieces: zero-shuffle
    * literal-fold cell assignment, broadcast probed-cell list, native
    * PQ-encode + ADC kernels, bounded ordered take.
    *
    * Scale shape: cost per query = |corpus|·(nProbe/nCells) code
    * scans — with both the cell pruning and the 128× code compression,
    * this is the operator that makes interactive search over 100 TB of
    * vectors arithmetic instead of aspiration. Fully deterministic
    * (first-k centroids AND first-k codebooks), hence SQL-expressible
    * and oracle-checked like C7/C43 — recall vs exact top-k asserted in
    * SemDedupPqSpec.
    */
  def annIvfPq(t: Tables, queryVecId: Long = 0L, nCells: Int = 16, nProbe: Int = 4,
               m: Int = 4, ksub: Int = 16, k: Int = 10): DataFrame = {
    val spark = t.embeddings.sparkSession
    import spark.implicits._
    val centRows = t.embeddings.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cell_id"), col("embedding").as("cent"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val (cbs, sub) = pqCodebooks(t, m, ksub)
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val qCells = centRows.toSeq.toDF("cell_id", "cent").crossJoin(broadcast(q))
      .select(col("cell_id"), cos("cent", "q_embedding").as("qs"))
      .orderBy(col("qs").desc, col("cell_id")).limit(nProbe)
      .select(col("cell_id"))
    val assigned = assignCells(
      t.embeddings.select(col("vec_id"), col("embedding")), "vec_id", "embedding", centRows)
    val adist = pqAdcCol(cbs, m, ksub, sub)
    assigned.join(broadcast(qCells), Seq("cell_id"))
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("codes",
        transform(pqEncCol(col("embedding"), cbs, m, ksub, sub), e => e("c")))
      .select(col("vec_id"), roundHalfUp(adist, 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id"))
      .limit(k)
  }

  def annPq(t: Tables, queryVecId: Long = 0L, m: Int = 4, ksub: Int = 16,
            k: Int = 10): DataFrame = {
    val (cbs, sub) = pqCodebooks(t, m, ksub)
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val adist = pqAdcCol(cbs, m, ksub, sub)
    t.embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("codes",
        transform(pqEncCol(col("embedding"), cbs, m, ksub, sub), e => e("c")))
      .select(col("vec_id"), roundHalfUp(adist, 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id"))
      .limit(k)
  }

  /** C43d: two-stage retrieval — PQ/ADC shortlist, exact re-rank (the
    * "refine" stage every production IVF-PQ deployment runs: approximate
    * distances order the full corpus cheaply, then the top `nShort`
    * candidates are re-scored with exact cosine so the final top-k ranks
    * on true similarity, recovering most of the recall PQ compression
    * gave up).
    *
    * Scale shape: stage 1 is [[annPq]]'s zero-shuffle code scan +
    * bounded ordered take (at 100 TB the scan reads 16-bit codes, not
    * vectors); stage 2 re-scores only the nShort survivors — the full
    * vectors of a bounded candidate set, i.e. the expensive arithmetic
    * runs on k-scale rows, never corpus-scale. nShort = corpus degrades
    * to exact search by construction (pinned in SemDedupPqSpec).
    */
  def pqRefine(t: Tables, queryVecId: Long = 0L, m: Int = 4, ksub: Int = 16,
               nShort: Int = 50, k: Int = 10): DataFrame = {
    val (cbs, sub) = pqCodebooks(t, m, ksub)
    val q = t.embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_embedding"))
    val adist = pqAdcCol(cbs, m, ksub, sub)
    val short = t.embeddings.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .withColumn("codes",
        transform(pqEncCol(col("embedding"), cbs, m, ksub, sub), e => e("c")))
      .select(col("vec_id"), col("embedding"), col("q_embedding"),
        roundHalfUp(adist, 6).as("adist"))
      .orderBy(col("adist").asc, col("vec_id"))
      .limit(nShort)
    short
      .select(col("vec_id"), col("adist"),
        roundHalfUp(cos("embedding", "q_embedding"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** C45: Johnson–Lindenstrauss random projection of the embedding
    * column to `r` dimensions — the dimensionality-reduction step that
    * makes downstream ANN/clustering affordable when the native
    * embedding dimension is large (JL: pairwise distances are preserved
    * within (1±ε) for r = O(ln n / ε²), independent of the input
    * dimension). The projection matrix is Achlioptas's sparse scheme
    * (Achlioptas, JCSS 2003): entries √3·{+1, −1, 0} with probability
    * {1/6, 1/6, 2/3} — two thirds of the multiplies vanish, and the
    * matrix never needs to be sampled or stored: entry (i, j) derives
    * from the engine's shared multiplicative hash of the flat index
    * i·d + j, so both engines (and every executor, with no broadcast at
    * all) reconstruct the identical matrix from two integer constants.
    *
    * Scale shape: a SINGLE zero-shuffle narrow scan — no stats pass, no
    * join, no exchange of any kind (plan-audited); per-row cost is the
    * r·d fold. The fold runs j ascending inside each output dimension,
    * and the only float ops are +/− of input values and one final
    * multiply by √(3/r), so the DuckDB oracle compare is bit-stable.
    * Emits the first four projected components as the parity surface
    * plus the projected L2 norm (≈ the input norm in expectation —
    * the spec checks the JL distortion on planted vectors).
    */
  def embedProject(t: Tables, r: Int = 16): DataFrame = {
    require(r > 0 && r <= 4096, s"embedProject target dim must be in (0, 4096], got $r")
    // native single-pass kernel (one JIT loop for the r·d fold);
    // [[embedProjectProjHof]] is the independent parity reference
    val proj = KernelCall.column("randProj", ArrayType(DoubleType, containsNull = false),
      col("embedding"), r)
    projectOutput(t.embeddings.withColumn("proj", proj))
  }

  /** The HOF formulation of [[embedProject]]'s projection column —
    * retained as the kernel's independent parity reference (fuzz-tested
    * for row identity in ProjectSpec).
    */
  private[graft] def embedProjectProjHof(r: Int): Column = {
    val scale = math.sqrt(3.0 / r)
    val d = size(col("embedding"))
    // weight(i, j) from the shared multiplicative hash: 0 -> +1, 1 -> -1,
    // 2..5 -> 0 (the 1/6, 1/6, 2/3 Achlioptas split on a uniform residue)
    val proj = transform(sequence(lit(0L), lit(r - 1L)), i => {
      val folded = aggregate(sequence(lit(0), d - 1), lit(0.0d), (acc, j) => {
        val m = ((i * d.cast("long") + j.cast("long")) * lit(2654435761L)) %
          lit(1000000007L) % lit(6L)
        val x = get(col("embedding"), j).cast("double")
        acc + when(m === lit(0L), x).when(m === lit(1L), -x).otherwise(lit(0.0d))
      })
      lit(scale) * folded
    })
    // d == 0 guard: sequence(0, -1) would DESCEND in Spark while the
    // oracle's generate_series(1, 0) is empty — both sides then agree
    // the projection of an empty vector is the r-dim zero vector
    when(d === 0, typedLit(Seq.fill(r)(0.0d))).otherwise(proj)
  }

  private[graft] def projectOutput(withProj: DataFrame): DataFrame = {
    val pn = sqrt(aggregate(col("proj"), lit(0.0d), (acc, x) => acc + x * x))
    withProj.select(col("vec_id"),
      roundHalfUp(get(col("proj"), lit(0)), 6).as("proj_0"),
      roundHalfUp(get(col("proj"), lit(1)), 6).as("proj_1"),
      roundHalfUp(get(col("proj"), lit(2)), 6).as("proj_2"),
      roundHalfUp(get(col("proj"), lit(3)), 6).as("proj_3"),
      roundHalfUp(pn, 4).as("pnorm"))
  }

  /** C79: embedding-dimension correlation audit — the Pearson correlation
    * of every dimension PAIR across the corpus, top-k by |corr|: the
    * decorrelation / whitening pre-check an embedding pipeline runs
    * before PQ or random projection (C22/C50 assume roughly isotropic
    * dimensions; a highly correlated pair says variance is concentrated
    * and a rotation or PCA step belongs before quantization).
    *
    * Scale shape: the d²/2 products per vector are IRREDUCIBLE (every
    * Σxᵢxⱼ needs them) — what must NOT scale with the corpus is the
    * shuffle, and it doesn't: the exploded pair stream aggregates
    * map-side onto d(d+1)/2 keys (d=64 → 2080 groups), so the exchange
    * carries ~2080 rows per task regardless of corpus size, and the
    * top-k is a bounded TakeOrdered. Nothing corpus-sized ever shuffles.
    *
    * Determinism: float→double casts and per-pair products are exact;
    * moment sums are doubles under the ts_corr/A16 precedent (4-dp round
    * absorbs last-ulp aggregation-order drift), correlations derive from
    * raw moments as ONE fixed-order expression (never an engine corr()
    * whose internal algorithm differs), zero-variance dimensions filter
    * OUT before any division, and ordering ties break on (i, j) over the
    * ROUNDED score.
    */
  def embCorr(t: Tables, k: Int = 25): DataFrame = {
    // two chained generators emit ONLY the upper triangle: the second
    // explode runs over slice(e, i+2, …) — no i≥j row is ever produced
    val x = t.embeddings
      .select(posexplode(col("embedding")).as(Seq("i0", "xf")), col("embedding").as("e"))
      .select((col("i0") + 1).cast("long").as("i"), col("xf").cast("double").as("xi"),
        expr("slice(e, cast(i0 + 2 as int), size(e) - i0 - 1)").as("rest"))
    val pairs = x
      .select(col("i"), col("xi"), posexplode(col("rest")).as(Seq("j0", "yf")))
      .select(col("i"), (col("i") + col("j0") + 1).cast("long").as("j"),
        col("xi"), col("yf").cast("double").as("xj"))
    val m = pairs.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"),
        sum(col("xi") * col("xi")).as("sxx"), sum(col("xj") * col("xj")).as("syy"),
        sum(col("xi") * col("xj")).as("sxy"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.filter(vx > 0.0 && vy > 0.0)
      .select(col("i").as("dim_i"), col("j").as("dim_j"), col("n"),
        roundHalfUp((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(vx) * sqrt(vy)), 4).as("corr"))
      .orderBy(abs(col("corr")).desc, col("dim_i"), col("dim_j"))
      .limit(k)
  }

  /** C79b: PCA whitening — the consumer [[embCorr]] exists to trigger
    * (its scaladoc: "a rotation or PCA step belongs before
    * quantization"): rotate embeddings onto the covariance eigenbasis
    * and rescale each component by 1/√λ, so the output dimensions are
    * decorrelated with ~unit variance. This is the standard OPQ-lite
    * preprocessing before product quantization (C43): PQ splits the
    * vector into sub-blocks and quantizes each independently, which
    * wastes its bit budget when variance concentrates in a few
    * correlated input dims — after whitening every dimension carries
    * equal variance and the sub-quantizers share the load.
    *
    * Scale shape, two stages:
    *  1. moments — the [[embCorr]] pair stream INCLUDING the diagonal:
    *     map-side combine onto d(d+1)/2 keys (d=64 → 2080 groups), so
    *     the exchange is constant-size however big the corpus;
    *  2. rotate — the d×d eigenproblem is solved on the DRIVER (cyclic
    *     Jacobi over a d² ≤ 4096-double matrix — there is nothing to
    *     distribute) and the rotation is folded into the plan as a
    *     LITERAL matrix: the apply pass is one zero-shuffle narrow scan
    *     of codegen'd zip_with/aggregate folds, no broadcast variable,
    *     no second stats job.
    *
    * Determinism: eigenvector sign is fixed (largest-|component| entry
    * made positive), ties in eigenvalue order break by first-dim index,
    * and the fold order inside each output component is the array
    * order — the same plan on the same corpus is bit-stable. No DuckDB
    * oracle (the eigensolve is not SQL-expressible); the spec plants a
    * correlated corpus and asserts the closed loop: emb_corr flags it,
    * whiten decorrelates it, emb_corr on the output reports ~zero, and
    * component variances come out ~1 in eigenvalue-descending order.
    *
    * `outDims` keeps the top-variance components (0 = all d);
    * `minVariance` drops near-degenerate eigendirections (a dimension
    * that never varies carries no information and 1/√λ would explode).
    */
  def embedWhiten(t: Tables, outDims: Int = 0,
                  minVariance: Double = 1e-9): DataFrame = {
    val (mu, rot) = whitenRotation(t, outDims, minVariance)
    applyWhitening(t, mu, rot)
  }

  /** The whitening transform itself — mean vector + rotation rows
    * (eigenvalue-descending, 1/√λ-scaled, sign-fixed) — computed from
    * the distributed moment pass + driver-side Jacobi eigensolve.
    * Exposed separately so compositions ([[pqEncodeWhitened]]) can
    * inspect/truncate the kept components without a second moment job.
    */
  private[graft] def whitenRotation(t: Tables, outDims: Int,
                                    minVariance: Double): (Array[Double], Seq[Seq[Double]]) = {
    // single-buffer moment pass (graft_moments, guide §2.3): count, sums
    // and the d(d+1)/2 cross-product sums accumulate in ONE primitive
    // buffer per task — the previous shape double-posexploded every row
    // into its 2080 (i, j) pairs (at d=64) and hash-aggregated the pair
    // stream, which was the whole cost of this job. The ragged-corpus
    // guard (review r15 ADVICE) lives inside the aggregate: mixed
    // embedding dimensions fail loudly at update/merge time.
    val mom = try {
      t.embeddings
        .agg(expr("graft_moments(embedding)").as("m"))
        .head().getSeq[Double](0).toArray
    } catch {
      // the ragged-dimension require fires inside the task; unwrap the
      // documented loud IllegalArgumentException from Spark's wrapper
      case e: Throwable =>
        val cause = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .find(c => c.getMessage != null && c.getMessage.contains("ragged embedding dimensions"))
        cause match {
          case Some(c) => throw new IllegalArgumentException(c.getMessage, e)
          case None => throw e
        }
    }
    require(mom.length > 2 && mom(1) > 0.0, "embedWhiten: empty embeddings relation")
    val d = mom(0).toInt
    val n = mom(1)
    val mu = new Array[Double](d)
    var i = 0
    while (i < d) { mu(i) = mom(2 + i) / n; i += 1 }
    val cov = Array.ofDim[Double](d, d)
    var idx = 2 + d
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = mom(idx) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1
        j += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov)
    // eigenpairs by descending variance; deterministic sign
    val order = eigVals.indices.sortBy(k => (-eigVals(k), k))
      .filter(k => eigVals(k) > minVariance)
    val kept = if (outDims > 0) order.take(outDims) else order
    require(kept.nonEmpty,
      s"embedWhiten: no eigendirection clears minVariance=$minVariance")
    val rot: Seq[Seq[Double]] = kept.map { k =>
      val v = Array.tabulate(d)(i => eigVecs(i)(k))
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val sgn = if (v(pivot) < 0) -1.0 else 1.0
      val scale = sgn / math.sqrt(eigVals(k))
      v.map(_ * scale).toSeq
    }
    (mu, rot)
  }

  /** Apply a whitening transform as a zero-shuffle literal-fold scan. */
  private[graft] def applyWhitening(t: Tables, mu: Array[Double],
                                    rot: Seq[Seq[Double]]): DataFrame = {
    val rLit = typedLit(rot)
    val muLit = typedLit(mu.toSeq)
    val centered = zip_with(col("embedding"), muLit, (xf, m) => xf.cast("double") - m)
    val whitened = transform(rLit, row =>
      aggregate(zip_with(row, col("c"), (a, b) => a * b), lit(0.0d), (acc, z) => acc + z))
    t.embeddings
      .withColumn("c", centered)
      .select(col("vec_id"), whitened.as("embedding"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — returns
    * (eigenvalues, eigenvector-columns). Driver-side by design: the
    * input is the d×d covariance [[embedWhiten]] collected (≤ 4096
    * doubles at d=64); converges quadratically, sweeps bounded.
    */
  private[graft] def jacobiEigen(m: Array[Array[Double]],
                                 maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (p <- 0 until d; q <- p + 1 until d) s += a(p)(q) * a(p)(q)
      s
    }
    var sweep = 0
    while (sweep < maxSweeps && off() > 1e-22) {
      for (p <- 0 until d - 1; q <- p + 1 until d) {
        if (math.abs(a(p)(q)) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          // theta == 0 (equal diagonal entries, e.g. a duplicated or
          // standardized dimension pair) must rotate by 45 deg (t = 1);
          // signum(0) = 0 would make the sweep a silent no-op and leave
          // the block un-diagonalized forever (caught by review r15)
          val t =
            if (theta == 0.0) 1.0
            else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }
}
