package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators._

/** Driver contract — see SURVEY.md §2 for the operator inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(Tables(spark, "/root/testdata/sf0.001"))

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables(s, dir))

  /** One declared query: the library plan, the driver-boundary order and
    * the DuckDB oracle.
    *
    * `order` is the oracle-determinism sort, applied HERE — at the
    * driver/verify boundary — not inside the operator APIs. The DuckDB
    * hash-compare needs a total row order, but a library caller composing
    * operators into a pipeline must not pay a full-corpus range exchange +
    * sort for it (at 100 TB that sort would be the most expensive stage of
    * an otherwise exchange-free plan). Keys mirror the oracle's ORDER BY
    * exactly. `Nil` means the query carries a SEMANTIC order (top-k:
    * q3_shipping, ann_topk, ann_ivf, ann_ivf_kmeans, vocab_topk) or none.
    *
    * `oracle` is DuckDB-runnable SQL with the same aliases, the same
    * rounding and the same ORDER BY (SURVEY.md §6); `None` marks a
    * documented rows-only query.
    */
  private final case class Declared(
      plan: (SparkSession, String) => DataFrame,
      order: Seq[Column],
      oracle: Option[String])

  /** One entry per implemented operator from SURVEY.md §2. Lazy: the
    * oracles read helper vals declared further down this object.
    */
  private lazy val declared: Map[String, Declared] = Map(
    // oracle: SQL-unrolled training loop (kmeansOracle)
    "kmeans" -> Declared(q(Similarity.kmeans(_)), Seq(col("vec_id")), Some(kmeansOracle(k = 8, iters = 5))),
    // oracle: SQL-unrolled GD (float32-rounded per-iteration weights)
    "quality_classifier" -> Declared(q(TextAnalysis.qualityClassifier(_)),
      Seq(col("doc_id")), Some(qualityClassifierOracle(b = 1024, iters = 8, lr = 0.5))),
    // oracle: SQL-unrolled centroid training
    "ann_ivf_kmeans" -> Declared(q(Similarity.annIvfKmeans(_)),
      Nil, Some(annIvfKmeansOracle(nCells = 16, iters = 3, nProbe = 4, k = 10))),
    "q1_pricing" -> Declared(q(Analytics.q1Pricing),
      Seq(col("l_returnflag"), col("l_linestatus")), Some(
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         round(avg(l_extendedprice),4) AS avg_price,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1,2 ORDER BY 1,2""")),
    "ngram_jaccard" -> Declared(q(Dedup.ngramJaccard(_)),
      Seq(col("id_a"), col("id_b")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id<b.doc_id
                   GROUP BY 1,2),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         cm AS (SELECT c.id_a, c.id_b, count(*) AS common
                FROM cands c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b AND sb.h = sa.h
                GROUP BY 1,2),
         j AS (SELECT c.id_a, c.id_b, coalesce(cm.common, 0) AS common, na.nh AS nh_a, nb.nh AS nh_b
               FROM cands c LEFT JOIN cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
               JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id)
         SELECT id_a, id_b, floor((CAST(common AS DOUBLE)/(nh_a + nh_b - common))*10000.0 + 0.5)/10000.0 AS jaccard
         FROM j ORDER BY id_a, id_b""")),
    // C75: the oracle is the BRUTE-FORCE complete answer (inverted-index
    // join over ALL shingles, no prefix logic) — so the compare holds the
    // operator's prefix filtering to provable completeness, not to a
    // mirrored implementation
    "jaccard_join_exact" -> Declared(q(Dedup.jaccardJoinExact(_)),
      Seq(col("id_a"), col("id_b")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
               FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2),
         j AS (SELECT id_a, id_b, common, na.nh AS nh_a, nb.nh AS nh_b
               FROM p JOIN n na ON id_a = na.doc_id JOIN n nb ON id_b = nb.doc_id)
         SELECT id_a, id_b, floor((CAST(common AS DOUBLE)/(nh_a + nh_b - common))*10000.0 + 0.5)/10000.0 AS jaccard
         FROM j WHERE CAST(common AS DOUBLE)/(nh_a + nh_b - common) >= 0.5
         ORDER BY id_a, id_b""")),
    // incremental == full recompute (the hash-compare IS the parity
    // proof): same pair pipeline as ngram_jaccard over the current
    // corpus, plus src provenance mirroring the simulatedPrev id rules
    // (dirty = added %13=5 | changed %17=3; a pair is carried iff BOTH
    // endpoints are unchanged)
    "neardup_incremental" -> Declared(q { t =>
      val docs = t.documents.select(col("doc_id"), col("text"))
      val prev = TextAnalysis.simulatedPrev(docs)
      Dedup.ngramJaccardIncremental(docs, prev,
        Dedup.minhashBands(prev, 3, 8, 4),
        Dedup.ngramJaccardDocs(prev, 3, 8, 4, 0.0))
    }, Seq(col("id_a"), col("id_b")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id<b.doc_id
                   GROUP BY 1,2),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         cm AS (SELECT c.id_a, c.id_b, count(*) AS common
                FROM cands c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b AND sb.h = sa.h
                GROUP BY 1,2),
         j AS (SELECT c.id_a, c.id_b, coalesce(cm.common, 0) AS common, na.nh AS nh_a, nb.nh AS nh_b
               FROM cands c LEFT JOIN cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
               JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id)
         SELECT id_a, id_b, floor((CAST(common AS DOUBLE)/(nh_a + nh_b - common))*10000.0 + 0.5)/10000.0 AS jaccard,
           CASE WHEN id_a % 13 <> 5 AND id_a % 17 <> 3 AND id_b % 13 <> 5 AND id_b % 17 <> 3
                THEN 'carried' ELSE 'fresh' END AS src
         FROM j ORDER BY id_a, id_b""")),
    "dedup_apply" -> Declared(q(Dedup.dedupApply(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id<b.doc_id
                   GROUP BY 1,2),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         cm AS (SELECT c.id_a, c.id_b, count(*) AS common
                FROM cands c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b AND sb.h = sa.h
                GROUP BY 1,2),
         j AS (SELECT c.id_a, c.id_b, coalesce(cm.common, 0) AS common, na.nh AS nh_a, nb.nh AS nh_b
               FROM cands c LEFT JOIN cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
               JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id),
         drops AS (
           SELECT doc_id FROM (
             SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text,'\s+',' ','g'))))) AS keep
             FROM documents) x WHERE doc_id <> keep
           UNION
           SELECT id_b AS doc_id FROM j WHERE CAST(common AS DOUBLE)/(nh_a + nh_b - common) >= 0.8)
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM drops)
         ORDER BY doc_id""")),
    "sample_stratified" -> Declared(q(Sampling.sampleStratified(_)),
      Seq(col("doc_id")), Some(
      """WITH r(lang, rate) AS (SELECT * FROM (VALUES ('en',500),('de',300),('es',200),('fr',100),('zh',50)) v(lang, rate))
         SELECT doc_id, lang, (((doc_id % 1000000007 + 1000000007) % 1000000007) * 2654435761) % 1000000007 % 1000 AS bucket, n_chars
         FROM documents JOIN r USING (lang)
         WHERE (((doc_id % 1000000007 + 1000000007) % 1000000007) * 2654435761) % 1000000007 % 1000 < rate
         ORDER BY doc_id""")),
    "corpus_stats" -> Declared(q(TextAnalysis.corpusStats),
      Seq(col("lang")), Some(
      """SELECT lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4) AS p50_chars,
           round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4) AS p90_chars
         FROM documents GROUP BY 1 ORDER BY 1""")),
    "ann_batch" -> Declared(q(Similarity.annBatch(_)), Seq(col("q_id"), col("rk")), Some(annBatchOracle)),
    "ann_batch_agg" -> Declared(q(Similarity.annBatchAgg(_)),
      Seq(col("q_id"), col("rk")), Some(annBatchOracle)),
    "hard_negatives" -> Declared(q(Similarity.hardNegatives(_)),
      Seq(col("q_id"), col("rk")), Some(
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS q_label FROM embeddings WHERE vec_id < 5),
         s AS (SELECT q_id, vec_id, floor((
             list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
           FROM embeddings, q WHERE label <> q_label),
         r AS (SELECT q_id, vec_id, sim,
                 CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
               FROM s)
         SELECT q_id, rk, vec_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, rk""")),
    "source_similarity" -> Declared(q(Dedup.sourceSimilarity(_)),
      Seq(col("src_a"), col("src_b")), Some(
      """WITH tk AS (SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT source, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT source, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         slots AS (SELECT source, j, min(sig[j+1]) AS v
           FROM sigs, (SELECT unnest(generate_series(0, 31)) AS j) jj GROUP BY 1, 2)
         SELECT a.source AS src_a, b.source AS src_b,
           CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           floor((CAST(sum(CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS DOUBLE)/32)*10000.0 + 0.5)/10000.0 AS est_jaccard
         FROM slots a JOIN slots b ON a.j = b.j AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    "curriculum_bands" -> Declared(q(Sampling.curriculumBands(_)),
      Seq(col("doc_id")), Some(
      """WITH sc AS (SELECT doc_id,
             CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS score
           FROM documents),
         h AS (SELECT score, count(*) AS cnt FROM sc GROUP BY 1),
         nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
         cum AS (SELECT score, sum(cnt) OVER (ORDER BY score) AS cum FROM h),
         cut AS (SELECT i, min(score) AS c
           FROM cum, (SELECT unnest(generate_series(1, 3)) AS i) ii, nn
           WHERE cum >= (i*n + 3) // 4 GROUP BY i),
         cutd AS (SELECT DISTINCT c FROM cut)
         SELECT sc.doc_id, CAST(sc.score AS BIGINT) AS score,
           CAST(sum(CASE WHEN sc.score > cutd.c THEN 1 ELSE 0 END) AS BIGINT) AS band
         FROM sc CROSS JOIN cutd
         GROUP BY 1, 2 ORDER BY doc_id""")),
    "mix_plan" -> Declared(q(Sampling.mixPlan(_)),
      Seq(col("lang")), Some(
      """WITH w(lang, weight) AS (SELECT * FROM (VALUES ('en',0.4),('de',0.2),('es',0.2),('fr',0.1),('zh',0.1)) v(lang, weight)),
         a AS (SELECT lang, count(*) AS n_docs,
                 CAST(sum(CASE WHEN length(trim(text))=0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),'\s+')) END) AS BIGINT) AS n_tokens
               FROM documents GROUP BY 1),
         j AS (SELECT a.lang, n_docs, n_tokens, weight,
                 min(n_tokens / weight) OVER () AS budget
               FROM a JOIN w ON a.lang = w.lang)
         SELECT lang, n_docs, n_tokens, weight,
           CAST(floor(weight * budget) AS BIGINT) AS take_tokens,
           floor((weight * budget / n_tokens)*10000.0 + 0.5)/10000.0 AS rate
         FROM j ORDER BY lang""")),
    "dedup_clusters" -> Declared(q(Dedup.dedupClusters(_)),
      Seq(col("doc_id")), Some(clusterAssignSql +
      """
         SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM assigned ORDER BY doc_id""")),
    "cluster_hist" -> Declared(q(Dedup.clusterHist(_)),
      Seq(col("cluster_size")), Some(clusterAssignSql +
      """, cs AS (SELECT cluster_id, count(*) AS cluster_size FROM assigned GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         FROM cs GROUP BY 1 ORDER BY cluster_size""")),
    "split_safe" -> Declared(q(Dedup.leakageSafeSplit(_)),
      Seq(col("doc_id")), Some(clusterAssignSql +
      """
         SELECT doc_id, cluster_id,
           CASE WHEN ((cluster_id % 1000000007) * 2654435761) % 97 < 87 THEN 'train' ELSE 'val' END AS split
         FROM assigned ORDER BY doc_id""")),
    "window_funnel" -> Declared(q(EventAnalytics.windowFunnel(_)),
      Seq(col("stage")), Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
         s1 AS (SELECT user_id, min(us) AS t, min(us) AS t0 FROM e WHERE event_type='view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.us) AS t, min(s1.t0) AS t0 FROM e JOIN s1
                ON e.user_id=s1.user_id AND e.us > s1.t AND e.us <= s1.t0 + 21600000000
                WHERE e.event_type='click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.us) AS t, min(s2.t0) AS t0 FROM e JOIN s2
                ON e.user_id=s2.user_id AND e.us > s2.t AND e.us <= s2.t0 + 21600000000
                WHERE e.event_type='purchase' GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, count(*) AS n_users FROM s1
           UNION ALL SELECT 2, 'click', count(*) FROM s2
           UNION ALL SELECT 3, 'purchase', count(*) FROM s3) u
         ORDER BY stage""")),
    "q3_shipping" -> Declared(q(Analytics.q3Shipping),
      Nil, Some(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         WHERE c_mktsegment='BUILDING'
           AND o_orderdate < TIMESTAMP '1998-03-15'
           AND l_shipdate > TIMESTAMP '1998-03-15'
         GROUP BY 1,2,3 ORDER BY revenue DESC, l_orderkey LIMIT 10""")),
    "q5_volume" -> Declared(q(Analytics.q5Volume),
      Seq(col("r_name"), col("n_name")), Some(
      """SELECT r_name, n_name,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey=o_orderkey
         JOIN customer ON o_custkey=c_custkey
         JOIN supplier ON l_suppkey=s_suppkey AND c_nationkey=s_nationkey
         JOIN nation ON s_nationkey=n_nationkey
         JOIN region ON n_regionkey=r_regionkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY 1,2 ORDER BY 1,2""")),
    "win_running" -> Declared(q(Analytics.winRunning),
      Seq(col("o_custkey"), col("rn")), Some(
      """SELECT o_orderkey, o_custkey,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_spend
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""")),
    "agg_distinct" -> Declared(q(Analytics.aggDistinct),
      Seq(col("l_returnflag")), Some(
      """SELECT l_returnflag,
         count(DISTINCT l_orderkey) AS n_orders,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1 ORDER BY 1""")),
    "cube_rollup" -> Declared(q(Analytics.cubeRollup),
      Seq(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first), Some(
      """SELECT o_orderstatus, o_orderpriority,
         round(sum(o_totalprice),2) AS total, count(*) AS n
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    "semi_anti" -> Declared(q(Analytics.semiAnti),
      Seq(col("c_custkey")), Some(
      """SELECT c_custkey,
         CAST(CASE WHEN EXISTS(SELECT 1 FROM orders
           WHERE o_custkey=c_custkey AND o_orderpriority='1-URGENT') THEN 1 ELSE 0 END AS BIGINT) AS has_urgent
         FROM customer ORDER BY c_custkey""")),
    "topn_group" -> Declared(q(Analytics.topnGroup),
      Seq(col("c_mktsegment"), col("rk")), Some(
      """SELECT c_mktsegment, rk, c_custkey, acctbal FROM (
           SELECT c_mktsegment,
             CAST(row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rk,
             c_custkey, round(c_acctbal,2) AS acctbal
           FROM customer) sub
         WHERE rk <= 3 ORDER BY c_mktsegment, rk""")),
    "pivot_events" -> Declared(q(Analytics.pivotEvents),
      Seq(col("user_id")), Some(
      """SELECT user_id,
         count(*) FILTER (WHERE event_type='click') AS n_click,
         round(coalesce(sum(value) FILTER (WHERE event_type='click'),0),2) AS v_click,
         count(*) FILTER (WHERE event_type='view') AS n_view,
         round(coalesce(sum(value) FILTER (WHERE event_type='view'),0),2) AS v_view,
         count(*) FILTER (WHERE event_type='purchase') AS n_purchase,
         round(coalesce(sum(value) FILTER (WHERE event_type='purchase'),0),2) AS v_purchase,
         count(*) FILTER (WHERE event_type='signup') AS n_signup,
         round(coalesce(sum(value) FILTER (WHERE event_type='signup'),0),2) AS v_signup,
         count(*) FILTER (WHERE event_type='error') AS n_error,
         round(coalesce(sum(value) FILTER (WHERE event_type='error'),0),2) AS v_error
         FROM events GROUP BY 1 ORDER BY 1""")),
    "percentiles" -> Declared(q(Analytics.percentiles),
      Seq(col("l_returnflag")), Some(
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5),4) AS p50_price,
         round(quantile_cont(l_extendedprice, 0.9),4) AS p90_price,
         round(quantile_cont(l_quantity, 0.5),4) AS p50_qty
         FROM lineitem GROUP BY 1 ORDER BY 1""")),
    // rows-only: sketches have no exact oracle
    "approx_stats" -> Declared(q(Analytics.approxStats), Seq(col("l_returnflag")), None),
    "range_join" -> Declared(q(Analytics.rangeJoin),
      Seq(col("band")), Some(
      """SELECT band, count(*) AS n_parts, round(avg(p_retailprice),4) AS avg_price
         FROM part JOIN (VALUES (0.0,905.0,'low'),(905.0,912.0,'mid'),(912.0,1e9,'high')) b(lo,hi,band)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY 1 ORDER BY 1""")),
    "ts_calibrate" -> Declared(q(TimeSeries.calibrate(_)),
      Seq(col("event_id")), Some(
      """SELECT event_id, digital, floor((bit*(off+digital))*1000000.0 + 0.5)/1000000.0 AS physical FROM (
           SELECT event_id, value AS digital,
             (500.0 - (-500.0))/(32767.0 - (-32768.0)) AS bit,
             500.0/((500.0 - (-500.0))/(32767.0 - (-32768.0))) - 32767.0 AS off
           FROM events) sub ORDER BY event_id""")),
    "ts_expand" -> Declared(q(TimeSeries.tsExpand(_)),
      Seq(col("user_id"), col("k")), Some(
      """WITH ch AS (SELECT user_id, min(epoch_ns(ts)//1000) AS start_us, count(*) AS n
                     FROM events GROUP BY 1),
         ex AS (SELECT user_id, start_us, unnest(generate_series(0, n-1)) AS k FROM ch)
         SELECT user_id, k, start_us + k*100000 AS ts_us FROM ex ORDER BY user_id, k""")),
    "ts_gap_chunks" -> Declared(q(TimeSeries.tsGapChunks(_)),
      Seq(col("event_type"), col("chunk_id")), Some(
      """WITH e AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT event_type, event_id, us,
                 CASE WHEN lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) IS NULL
                       OR us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) > 7200000000
                      THEN 1 ELSE 0 END AS is_new FROM e),
         g AS (SELECT event_type, us,
                 CAST(sum(is_new) OVER (PARTITION BY event_type ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_id FROM f)
         SELECT event_type, chunk_id, min(us) AS start_us, max(us) AS end_us, count(*) AS n_samples
         FROM g GROUP BY 1,2 ORDER BY 1,2""")),
    // B33: brute-force overlap join (no grid cells) — holds the cell-join
    // operator to exact completeness, the C75 oracle philosophy
    "interval_join" -> Declared(q(TimeSeries.chunkOverlaps(_)),
      Seq(col("type_a"), col("chunk_a"), col("type_b"), col("chunk_b")), Some(
      """WITH e AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT event_type, event_id, us,
                 CASE WHEN lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) IS NULL
                       OR us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id) > 7200000000
                      THEN 1 ELSE 0 END AS is_new FROM e),
         g AS (SELECT event_type, us,
                 CAST(sum(is_new) OVER (PARTITION BY event_type ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS chunk_id FROM f),
         c AS (SELECT event_type, chunk_id, min(us) AS start_us, max(us) AS end_us
               FROM g GROUP BY 1,2)
         SELECT a.event_type AS type_a, a.chunk_id AS chunk_a,
           b.event_type AS type_b, b.chunk_id AS chunk_b,
           least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us) AS overlap_us
         FROM c a JOIN c b ON a.event_type < b.event_type
           AND a.start_us <= b.end_us AND b.start_us <= a.end_us
         ORDER BY 1, 2, 3, 4""")),
    "ts_channel_stats" -> Declared(q(TimeSeries.tsChannelStats(_)),
      Seq(col("event_type")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         s AS (SELECT event_type, min(us) AS start_us, max(us) AS end_us, count(*) AS num_values,
                 floor(avg(value)*10000.0 + 0.5)/10000.0 AS avg_value,
                 floor(stddev_samp(value)*10000.0 + 0.5)/10000.0 AS stddev_value
               FROM e GROUP BY 1),
         d AS (SELECT event_type,
                 (us - lag(us) OVER (PARTITION BY event_type ORDER BY us, event_id))//1000000 AS diff_s
               FROM e),
         c AS (SELECT event_type, diff_s, count(*) AS cnt FROM d
               WHERE diff_s IS NOT NULL AND diff_s > 0 GROUP BY 1,2),
         m AS (SELECT event_type, diff_s AS mode_period_s, floor((1.0/diff_s)*1000000.0 + 0.5)/1000000.0 AS rate_hz,
                 row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, diff_s ASC) AS rk FROM c)
         SELECT s.event_type, start_us, end_us, num_values, avg_value, stddev_value, mode_period_s, rate_hz
         FROM s JOIN m ON s.event_type = m.event_type AND rk = 1 ORDER BY 1""")),
    "ts_resample" -> Declared(q(TimeSeries.tsResample(_)),
      Seq(col("event_type"), col("bucket_us")), Some(
      """SELECT event_type, ((epoch_ns(ts)//1000)//3600000000)*3600000000 AS bucket_us,
         count(*) AS n, floor(avg(value)*10000.0 + 0.5)/10000.0 AS avg_value,
         floor(min(value)*100.0 + 0.5)/100.0 AS min_value, floor(max(value)*100.0 + 0.5)/100.0 AS max_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),
    "skew_agg" -> Declared(q(Analytics.skewAgg(_)),
      Seq(col("event_type")), Some(
      """SELECT event_type, round(sum(value),2) AS total_value, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""")),
    "ts_session_window" -> Declared(q(TimeSeries.tsSessionWindow(_)),
      Seq(col("event_type"), col("start_us")), Some(
      // sessionize over DISTINCT timestamps (multiplicity summed at the
      // end): duplicate (event_type, ts) rows — routine once ScaleGen
      // replicates the corpus — would make the two window sorts order
      // ties independently and split phantom sessions
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000 AS us, count(*) AS cnt
                    FROM events GROUP BY 1, 2),
         f AS (SELECT event_type, us, cnt,
                 CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 7200000000
                      THEN 1 ELSE 0 END AS is_new
               FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us)),
         g AS (SELECT event_type, us, cnt,
                 CAST(sum(is_new) OVER (PARTITION BY event_type ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid FROM f)
         SELECT event_type, min(us) AS start_us, max(us) + 7200000000 AS end_us,
           CAST(sum(cnt) AS BIGINT) AS n
         FROM g GROUP BY event_type, sid ORDER BY event_type, start_us""")),
    "ts_moving" -> Declared(q(TimeSeries.tsMoving(_)),
      Seq(col("event_type"), col("ts_us")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events)
         SELECT event_type, event_id, us AS ts_us,
           floor((avg(value) OVER w)*10000.0 + 0.5)/10000.0 AS mov_avg,
           min(value) OVER w AS mov_min,
           max(value) OVER w AS mov_max
         FROM e
         WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, ts_us""")),
    "ts_seasonal" -> Declared(q(TimeSeries.tsSeasonal(_)),
      Seq(col("event_type"), col("hod")), Some(
      """WITH e AS (SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
                 epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
         b2 AS (SELECT *, (bucket_us // 3600000000) % 24 AS hod FROM b),
         p AS (SELECT event_type, hod, CAST(sum(s) AS BIGINT) AS ps, CAST(sum(c) AS BIGINT) AS pc,
                 CAST(count(*) AS BIGINT) AS n_buckets
               FROM b2 GROUP BY 1, 2),
         j AS (SELECT b2.event_type, b2.hod, p.n_buckets, p.pc,
                 (CAST(p.ps AS DOUBLE) / p.pc) / 100.0 AS phase_mean,
                 abs((CAST(b2.s AS DOUBLE) / b2.c) / 100.0 - (CAST(p.ps AS DOUBLE) / p.pc) / 100.0) AS dev
               FROM b2 JOIN p ON b2.event_type = p.event_type AND b2.hod = p.hod)
         SELECT event_type, hod, max(n_buckets) AS n_buckets, max(pc) AS n_events,
           floor(max(phase_mean) * 10000.0 + 0.5) / 10000.0 AS phase_mean,
           floor(max(dev) * 10000.0 + 0.5) / 10000.0 AS max_dev
         FROM j GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ts_ohlc" -> Declared(q(TimeSeries.tsOhlc(_)),
      Seq(col("event_type"), col("bucket_us")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 event_id, value, us FROM e)
         SELECT event_type, bucket_us,
           floor(min_by(value, printf('%020d%020d', us, event_id)) * 100.0 + 0.5) / 100.0 AS open,
           floor(max(value) * 100.0 + 0.5) / 100.0 AS high,
           floor(min(value) * 100.0 + 0.5) / 100.0 AS low,
           floor(max_by(value, printf('%020d%020d', us, event_id)) * 100.0 + 0.5) / 100.0 AS close,
           CAST(count(*) AS BIGINT) AS n
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ts_corr" -> Declared(q(TimeSeries.tsCorr(_)),
      Seq(col("type_a"), col("type_b")), Some(
      """WITH h AS (SELECT event_type, (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS bucket_us,
                      avg(value) AS v
                    FROM events GROUP BY 1,2)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           round(corr(a.v, b.v), 4) AS corr, count(*) AS n_buckets
         FROM h a JOIN h b ON a.bucket_us = b.bucket_us AND a.event_type < b.event_type
         GROUP BY 1,2 ORDER BY 1,2""")),
    "ts_xcorr_lag" -> Declared(q(TimeSeries.tsXcorrLag(_)),
      Seq(col("type_a"), col("type_b"), col("lag")), Some(
      """WITH h AS (SELECT event_type, (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS bucket_us,
                      avg(value) AS v
                    FROM events GROUP BY 1,2),
         l AS (SELECT unnest(generate_series(-3, 3)) AS lag)
         SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(l.lag AS BIGINT) AS lag,
           floor(corr(a.v, b.v)*10000.0 + 0.5)/10000.0 AS xcorr, count(*) AS n_buckets
         FROM h a CROSS JOIN l JOIN h b
           ON a.bucket_us + l.lag * 3600000000 = b.bucket_us AND a.event_type < b.event_type
         GROUP BY 1,2,3 ORDER BY 1,2,3""")),
    "ts_interp" -> Declared(q(TimeSeries.tsInterp(_)),
      Seq(col("event_type"), col("bucket_us")), Some(
      """WITH h AS (SELECT event_type, (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS bucket_us,
                      floor(avg(value)*10000.0 + 0.5)/10000.0 AS v
                    FROM events GROUP BY 1,2),
         g AS (SELECT event_type, unnest(generate_series(min(bucket_us), max(bucket_us), 3600000000)) AS bucket_us
               FROM h GROUP BY event_type),
         j AS (SELECT g.event_type, g.bucket_us, h.v FROM g LEFT JOIN h
               ON g.event_type = h.event_type AND g.bucket_us = h.bucket_us),
         f AS (SELECT event_type, bucket_us, v,
                 last_value(v IGNORE NULLS) OVER wa AS prev_v,
                 last_value(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS) OVER wa AS prev_b,
                 first_value(v IGNORE NULLS) OVER wd AS next_v,
                 first_value(CASE WHEN v IS NOT NULL THEN bucket_us END IGNORE NULLS) OVER wd AS next_b
               FROM j
               WINDOW wa AS (PARTITION BY event_type ORDER BY bucket_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                      wd AS (PARTITION BY event_type ORDER BY bucket_us ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT event_type, bucket_us,
           CASE WHEN v IS NOT NULL THEN v
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE floor((prev_v + (next_v - prev_v) * (CAST(bucket_us - prev_b AS DOUBLE)/(next_b - prev_b)))*10000.0 + 0.5)/10000.0
           END AS v_filled,
           (v IS NULL) AS was_gap
         FROM f ORDER BY event_type, bucket_us""")),
    "ts_spike_waveforms" -> Declared(q(TimeSeries.tsSpikeWaveforms(_)),
      Seq(col("event_type"), col("ts_us")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT event_type, event_id, us, value,
                 lag(value, 1) OVER w AS w_m1, lag(value, 2) OVER w AS w_m2,
                 lead(value, 1) OVER w AS w_p1, lead(value, 2) OVER w AS w_p2
               FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id))
         SELECT event_type, event_id, us AS ts_us, w_m2, w_m1, value AS w_0, w_p1, w_p2
         FROM f WHERE w_m1 < 180.0 AND value >= 180.0 ORDER BY event_type, ts_us""")),
    "ts_spike" -> Declared(q(TimeSeries.tsSpike(_)),
      Seq(col("event_type"), col("ts_us")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT event_type, event_id, us, value,
                 lag(value) OVER (PARTITION BY event_type ORDER BY us, event_id) AS prev_value FROM e)
         SELECT event_type, event_id, us AS ts_us, value FROM f
         WHERE prev_value < 180.0 AND value >= 180.0 ORDER BY event_type, ts_us""")),
    "ts_asof" -> Declared(q(TimeSeries.tsAsof),
      Seq(col("event_id")), Some(
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS p_us, value FROM events
                    WHERE event_type='purchase'),
         c AS (SELECT user_id, epoch_ns(ts)//1000 AS c_us, value AS c_val FROM events
               WHERE event_type='click')
         SELECT p.event_id, p.user_id, p.p_us, p.value, c.c_us AS last_click_us, c.c_val AS last_click_val
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_us >= c.c_us
         ORDER BY p.event_id""")),
    "ts_asof_native" -> Declared(q(TimeSeries.tsAsofNative),
      Seq(col("event_id")), Some(
      """WITH p AS (SELECT event_id, user_id, epoch_ns(ts)//1000 AS p_us, value FROM events
                    WHERE event_type='purchase'),
         c AS (SELECT user_id, epoch_ns(ts)//1000 AS c_us, value AS c_val FROM events
               WHERE event_type='click')
         SELECT p.event_id, p.user_id, p.p_us, p.value, c.c_us AS last_click_us, c.c_val AS last_click_val
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.p_us >= c.c_us
         ORDER BY p.event_id""")),
    "ts_bandpower" -> Declared(q(TimeSeries.tsBandpower(_)),
      Seq(col("event_type")), Some(
      """WITH s AS (SELECT event_type, min(epoch_ns(ts)//1000) AS start_us FROM events GROUP BY 1),
         b AS (SELECT e.event_type, value,
                 CAST(epoch_ns(ts)//1000 - start_us AS DOUBLE) / 1000000.0 AS tsec
               FROM events e JOIN s ON e.event_type = s.event_type)
         SELECT event_type, count(*) AS n,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(1.0/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(1.0/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_day,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(1.0/3600.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(1.0/3600.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_hour
         FROM b GROUP BY 1 ORDER BY 1""")),
    "ts_spectrum" -> Declared(q(TimeSeries.tsSpectrum(_)),
      Seq(col("event_type"), col("bin")), Some(
      """WITH s AS (SELECT event_type, min(epoch_ns(ts)//1000) AS start_us FROM events GROUP BY 1),
         b AS (SELECT e.event_type, value,
                 CAST(epoch_ns(ts)//1000 - start_us AS DOUBLE) / 1000000.0 AS tsec
               FROM events e JOIN s ON e.event_type = s.event_type),
         agg AS (SELECT event_type, count(*) AS n,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(1/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(1/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_1,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(2/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(2/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_2,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(3/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(3/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_3,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(4/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(4/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_4,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(5/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(5/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_5,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(6/86400.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(6/86400.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_6
           FROM b GROUP BY 1)
         SELECT event_type, CAST(1 AS BIGINT) AS bin, n, amp_1 AS amp FROM agg
         UNION ALL SELECT event_type, 2, n, amp_2 FROM agg
         UNION ALL SELECT event_type, 3, n, amp_3 FROM agg
         UNION ALL SELECT event_type, 4, n, amp_4 FROM agg
         UNION ALL SELECT event_type, 5, n, amp_5 FROM agg
         UNION ALL SELECT event_type, 6, n, amp_6 FROM agg
         ORDER BY event_type, bin""")),
    "ts_spectrogram" -> Declared(q(TimeSeries.tsSpectrogram(_)),
      Seq(col("event_type"), col("win_us"), col("bin")), Some(
      """WITH b AS (SELECT event_type, value,
                 (epoch_ns(ts)//1000 // 21600000000) * 21600000000 AS win_us,
                 CAST(epoch_ns(ts)//1000 - (epoch_ns(ts)//1000 // 21600000000) * 21600000000 AS DOUBLE) / 1000000.0 AS tsec
               FROM events),
         agg AS (SELECT event_type, win_us, count(*) AS n,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(1/21600.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(1/21600.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_1,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(2/21600.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(2/21600.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_2,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(3/21600.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(3/21600.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_3,
           floor(2.0*sqrt(pow(sum(value*cos(2.0*pi()*(4/21600.0)*tsec)),2) + pow(sum(value*sin(2.0*pi()*(4/21600.0)*tsec)),2))/count(*)*10000.0 + 0.5)/10000.0 AS amp_4
           FROM b GROUP BY 1, 2)
         SELECT event_type, win_us, CAST(1 AS BIGINT) AS bin, n, amp_1 AS amp FROM agg
         UNION ALL SELECT event_type, win_us, 2, n, amp_2 FROM agg
         UNION ALL SELECT event_type, win_us, 3, n, amp_3 FROM agg
         UNION ALL SELECT event_type, win_us, 4, n, amp_4 FROM agg
         ORDER BY event_type, win_us, bin""")),
    "ts_hjorth" -> Declared(q(TimeSeries.tsHjorth(_)),
      Seq(col("event_type")), Some(
      """WITH b AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us,
                 CAST(floor(value*100.0 + 0.5) AS BIGINT) AS c FROM events),
         d1t AS (SELECT event_type, event_id, us, c,
                   c - lag(c) OVER (PARTITION BY event_type ORDER BY us, event_id) AS d1 FROM b),
         d2t AS (SELECT event_type, c, d1,
                   d1 - lag(d1) OVER (PARTITION BY event_type ORDER BY us, event_id) AS d2 FROM d1t),
         a AS (SELECT event_type,
                 count(c) AS n0, CAST(sum(c) AS DOUBLE) AS s0, CAST(sum(CAST(c AS HUGEINT)*c) AS DOUBLE) AS q0,
                 count(d1) AS n1, CAST(sum(d1) AS DOUBLE) AS s1, CAST(sum(CAST(d1 AS HUGEINT)*d1) AS DOUBLE) AS q1,
                 count(d2) AS n2, CAST(sum(d2) AS DOUBLE) AS s2, CAST(sum(CAST(d2 AS HUGEINT)*d2) AS DOUBLE) AS q2
               FROM d2t GROUP BY 1)
         SELECT event_type, n0 AS n,
           floor(((q0 - s0*s0/n0)/n0)/10000.0*10000.0 + 0.5)/10000.0 AS activity,
           floor(sqrt(((q1 - s1*s1/n1)/n1)/((q0 - s0*s0/n0)/n0))*10000.0 + 0.5)/10000.0 AS mobility,
           floor((sqrt(((q2 - s2*s2/n2)/n2)/((q1 - s1*s1/n1)/n1)) / sqrt(((q1 - s1*s1/n1)/n1)/((q0 - s0*s0/n0)/n0)))*10000.0 + 0.5)/10000.0 AS complexity
         FROM a ORDER BY event_type""")),
    "ts_epoch_features" -> Declared(q(TimeSeries.tsEpochFeatures(_)),
      Seq(col("event_type"), col("epoch_us")), Some(
      """WITH b AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us,
                 CAST(floor(value*100.0 + 0.5) AS BIGINT) AS c,
                 (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS epoch_us
               FROM events),
         d1 AS (SELECT *, c - lag(c) OVER w AS d FROM b
                WINDOW w AS (PARTITION BY event_type, epoch_us ORDER BY us, event_id)),
         d2 AS (SELECT *, d * lag(d) OVER w < 0 AS turn FROM d1
                WINDOW w AS (PARTITION BY event_type, epoch_us ORDER BY us, event_id))
         SELECT event_type, epoch_us, count(*) AS n,
           floor(CAST(sum(c) AS DOUBLE)/count(*)/100.0*10000.0 + 0.5)/10000.0 AS mean,
           floor(sqrt(CAST(sum(CAST(c AS HUGEINT)*c) AS DOUBLE)/count(*))/100.0*10000.0 + 0.5)/10000.0 AS rms,
           floor(CAST(coalesce(sum(abs(d)), 0) AS DOUBLE)/100.0*10000.0 + 0.5)/10000.0 AS line_length,
           CAST(coalesce(sum(CASE WHEN turn THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_turns
         FROM d2 GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ts_car" -> Declared(q(TimeSeries.tsCar(_)),
      Seq(col("event_type"), col("bucket_us")), Some(
      """WITH e AS (SELECT event_type, CAST(floor(value*100.0 + 0.5) AS BIGINT) AS cents,
                 epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
         w AS (SELECT *, CAST(sum(s) OVER p AS BIGINT) AS s_all,
                 CAST(sum(c) OVER p AS BIGINT) AS c_all,
                 CAST(count(*) OVER p AS BIGINT) AS n_channels
               FROM b WINDOW p AS (PARTITION BY bucket_us))
         SELECT event_type, bucket_us, c AS n, n_channels,
           floor(((CAST(s AS DOUBLE)/c)/100.0)*10000.0 + 0.5)/10000.0 AS v_mean,
           floor(((CAST(s AS DOUBLE)/c)/100.0 - (CAST(s_all AS DOUBLE)/c_all)/100.0)*10000.0 + 0.5)/10000.0 AS v_car
         FROM w ORDER BY 1, 2""")),
    "ts_detrend" -> Declared(q(TimeSeries.tsDetrend(_)),
      Seq(col("event_type")), Some(
      """WITH e AS (SELECT event_type, CAST(floor(value*100.0 + 0.5) AS BIGINT) AS c,
                 epoch_ns(ts)//1000//1000000 - 1704067200 AS t FROM events),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t) AS DOUBLE) AS st, CAST(sum(CAST(t AS HUGEINT)*t) AS DOUBLE) AS stt,
                 CAST(sum(c) AS DOUBLE) AS sc, CAST(sum(CAST(c AS HUGEINT)*c) AS DOUBLE) AS scc,
                 CAST(sum(CAST(t AS HUGEINT)*c) AS DOUBLE) AS stc
               FROM e GROUP BY 1),
         d AS (SELECT event_type, n, sc,
                 stt - st*st/n AS sxx, stc - st*sc/n AS sxy, scc - sc*sc/n AS syy
               FROM s)
         SELECT event_type, n,
           floor(sc/n/100.0*10000.0 + 0.5)/10000.0 AS mean,
           CASE WHEN sxx = 0 THEN NULL
                ELSE floor(sxy/sxx*86400.0/100.0*10000.0 + 0.5)/10000.0 END AS slope_per_day,
           CASE WHEN sxx = 0 THEN NULL
                ELSE floor(sqrt((syy - sxy*sxy/sxx)/n)/100.0*10000.0 + 0.5)/10000.0 END AS resid_rms
         FROM d ORDER BY 1""")),
    "readability" -> Declared(q(TextAnalysis.readability(_)),
      Seq(col("doc_id")), Some(
      """WITH d AS (SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[^ \t\n\r\f\x0B]+')) AS BIGINT) AS w,
                 greatest(CAST(1 AS BIGINT), CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS s,
                 CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS vg,
                 CAST(len(regexp_extract_all(lower(text), '[^ \t\n\r\f\x0B]*[aeiouy][^ \t\n\r\f\x0B]*')) AS BIGINT) AS vw
               FROM documents),
         f AS (SELECT doc_id, w AS n_words, s AS n_sents, vg + (w - vw) AS n_syll FROM d),
         r AS (SELECT *,
                 CASE WHEN n_words = 0 THEN NULL
                      ELSE floor((206.835 - 1.015*(CAST(n_words AS DOUBLE)/n_sents)
                        - 84.6*(CAST(n_syll AS DOUBLE)/n_words))*10000.0 + 0.5)/10000.0 END AS fre,
                 CASE WHEN n_words = 0 THEN NULL
                      ELSE floor((0.39*(CAST(n_words AS DOUBLE)/n_sents)
                        + 11.8*(CAST(n_syll AS DOUBLE)/n_words) - 15.59)*10000.0 + 0.5)/10000.0 END AS fk_grade
               FROM f)
         SELECT doc_id, n_words, n_sents, n_syll, fre, fk_grade,
           CASE WHEN fre IS NULL THEN 'empty' WHEN fre >= 70.0 THEN 'easy'
                WHEN fre >= 50.0 THEN 'standard' WHEN fre >= 30.0 THEN 'difficult'
                ELSE 'very_difficult' END AS band
         FROM r ORDER BY doc_id""")),
    "attribution" -> Declared(q(EventAnalytics.attribution(_)),
      Seq(col("model"), col("touch_type")), Some(
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts)//1000 AS us FROM events),
         k AS (SELECT *, CASE WHEN event_type IN ('view','click','signup')
                 THEN printf('%020d%020d|%s', us, event_id, event_type) END AS tkey FROM e),
         w AS (SELECT event_type, value,
                 max(tkey) OVER win AS last_key, min(tkey) OVER win AS first_key
               FROM k WINDOW win AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)),
         p AS (SELECT CAST(floor(value*100.0 + 0.5) AS BIGINT) AS cents,
                 coalesce(substr(last_key, 42), '(none)') AS last_type,
                 coalesce(substr(first_key, 42), '(none)') AS first_type
               FROM w WHERE event_type = 'purchase'),
         u AS (SELECT 'last' AS model, last_type AS touch_type, cents FROM p
               UNION ALL SELECT 'first', first_type, cents FROM p)
         SELECT model, touch_type, CAST(count(*) AS BIGINT) AS n_conv,
           floor(CAST(sum(cents) AS DOUBLE)/100.0*100.0 + 0.5)/100.0 AS revenue
         FROM u GROUP BY 1, 2 ORDER BY 1, 2""")),
    "pit_join" -> Declared(q(EventAnalytics.pitJoin(_)),
      Seq(col("event_id")), Some(
      """WITH e AS (SELECT event_id, user_id, event_type, value, epoch_ns(ts)//1000 AS us FROM events),
         c AS (SELECT user_id, event_id, us, value,
                 lag(value) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pv
               FROM e WHERE event_type = 'click'),
         ch AS (SELECT user_id, event_id, us, value FROM c WHERE pv IS NULL OR pv <> value),
         d AS (SELECT user_id, value AS state_value, us AS valid_from_us,
                 lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS valid_to_us,
                 CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS state_version
               FROM ch),
         p AS (SELECT event_id, user_id, us, value FROM e WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.us AS ts_us, p.value,
           d.state_value, d.state_version, p.us - d.valid_from_us AS state_age_us
         FROM p LEFT JOIN d ON p.user_id = d.user_id
           AND d.valid_from_us <= p.us AND (d.valid_to_us IS NULL OR p.us < d.valid_to_us)
         ORDER BY p.event_id""")),
    "emb_corr" -> Declared(q(Similarity.embCorr(_)),
      Nil, Some(
      """WITH x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) AS i FROM embeddings),
         p AS (SELECT a.i AS i, b.i AS j, a.v AS xi, b.v AS xj
               FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i > a.i),
         m AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n,
                 sum(xi) AS sx, sum(xj) AS sy, sum(xi*xi) AS sxx,
                 sum(xj*xj) AS syy, sum(xi*xj) AS sxy
               FROM p GROUP BY 1, 2)
         SELECT i AS dim_i, j AS dim_j, n,
           floor(((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)))*10000.0 + 0.5)/10000.0 AS corr
         FROM m WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
         ORDER BY abs(corr) DESC, dim_i, dim_j LIMIT 25""")),
    // rows-only by design (driver-side eigensolve is not SQL-expressible;
    // planted closed-loop ScalaTest in SimilaritySpec instead)
    "embed_whiten" -> Declared(q(t => Similarity.embedWhiten(t)
      .select(col("vec_id"),
        col("embedding").getItem(0).as("w_0"),
        col("embedding").getItem(1).as("w_1"),
        col("embedding").getItem(2).as("w_2"),
        col("embedding").getItem(3).as("w_3"))), Nil, None),
    "ts_coherence" -> Declared(q(TimeSeries.tsCoherence(_)),
      Seq(col("type_a"), col("type_b"), col("bin")), Some(
      """WITH e AS (SELECT event_type, value, epoch_ns(ts)//1000 AS us FROM events),
         sp AS (SELECT event_type, min(us) AS mn, max(us) AS mx FROM e GROUP BY 1),
         x AS (SELECT event_type, value, us,
                 unnest([(us // 21600000000) * 21600000000,
                         ((us + 10800000000) // 21600000000) * 21600000000 - 10800000000]) AS win_us
               FROM e),
         b AS (SELECT event_type, win_us, value,
                 CAST(us - win_us AS DOUBLE)/1000000.0 AS tsec,
                 0.5 - 0.5*cos(2.0*pi()*(CAST(us - win_us AS DOUBLE)/1000000.0)/21600.0) AS w
               FROM x),
         a AS (SELECT event_type, win_us,
                 sum(w*value*cos(2.0*pi()*(1/21600.0)*tsec)) AS cv_1, sum(w*cos(2.0*pi()*(1/21600.0)*tsec)) AS c0_1,
                 sum(w*value*sin(2.0*pi()*(1/21600.0)*tsec)) AS sv_1, sum(w*sin(2.0*pi()*(1/21600.0)*tsec)) AS s0_1,
                 sum(w*value*cos(2.0*pi()*(2/21600.0)*tsec)) AS cv_2, sum(w*cos(2.0*pi()*(2/21600.0)*tsec)) AS c0_2,
                 sum(w*value*sin(2.0*pi()*(2/21600.0)*tsec)) AS sv_2, sum(w*sin(2.0*pi()*(2/21600.0)*tsec)) AS s0_2,
                 sum(w*value*cos(2.0*pi()*(3/21600.0)*tsec)) AS cv_3, sum(w*cos(2.0*pi()*(3/21600.0)*tsec)) AS c0_3,
                 sum(w*value*sin(2.0*pi()*(3/21600.0)*tsec)) AS sv_3, sum(w*sin(2.0*pi()*(3/21600.0)*tsec)) AS s0_3,
                 sum(w*value*cos(2.0*pi()*(4/21600.0)*tsec)) AS cv_4, sum(w*cos(2.0*pi()*(4/21600.0)*tsec)) AS c0_4,
                 sum(w*value*sin(2.0*pi()*(4/21600.0)*tsec)) AS sv_4, sum(w*sin(2.0*pi()*(4/21600.0)*tsec)) AS s0_4,
                 sum(w*w) AS w2, sum(value) AS sv, count(*) AS n
               FROM b GROUP BY 1, 2),
         c AS (SELECT a.* FROM a JOIN sp ON a.event_type = sp.event_type
               WHERE a.win_us >= sp.mn AND a.win_us + 21600000000 <= sp.mx + 1),
         spec AS (SELECT event_type, win_us, CAST(1 AS BIGINT) AS bin, cv_1 - (sv / n) * c0_1 AS cc, sv_1 - (sv / n) * s0_1 AS ss FROM c
               UNION ALL SELECT event_type, win_us, 2, cv_2 - (sv / n) * c0_2, sv_2 - (sv / n) * s0_2 FROM c
               UNION ALL SELECT event_type, win_us, 3, cv_3 - (sv / n) * c0_3, sv_3 - (sv / n) * s0_3 FROM c
               UNION ALL SELECT event_type, win_us, 4, cv_4 - (sv / n) * c0_4, sv_4 - (sv / n) * s0_4 FROM c),
         j AS (SELECT a.event_type AS type_a, b.event_type AS type_b, a.bin,
                 a.cc AS ca, a.ss AS sa, b.cc AS cb, b.ss AS sb
               FROM spec a JOIN spec b ON a.win_us = b.win_us AND a.bin = b.bin
                 AND a.event_type < b.event_type),
         g AS (SELECT type_a, type_b, bin, CAST(count(*) AS BIGINT) AS n_windows,
                 sum(ca*cb + sa*sb) AS xre, sum(sa*cb - ca*sb) AS xim,
                 sum(ca*ca + sa*sa) AS pxx, sum(cb*cb + sb*sb) AS pyy
               FROM j GROUP BY 1, 2, 3)
         SELECT type_a, type_b, bin, n_windows,
           floor(((xre*xre + xim*xim)/(pxx*pyy))*10000.0 + 0.5)/10000.0 AS coherence
         FROM g WHERE n_windows >= 2 AND pxx > 0 AND pyy > 0
         ORDER BY 1, 2, 3""")),
    "ts_welch" -> Declared(q(TimeSeries.tsWelch(_)),
      Seq(col("event_type"), col("bin")), Some(
      """WITH e AS (SELECT event_type, value, epoch_ns(ts)//1000 AS us FROM events),
         sp AS (SELECT event_type, min(us) AS mn, max(us) AS mx FROM e GROUP BY 1),
         x AS (SELECT event_type, value, us,
                 unnest([(us // 21600000000) * 21600000000,
                         ((us + 10800000000) // 21600000000) * 21600000000 - 10800000000]) AS win_us
               FROM e),
         b AS (SELECT event_type, win_us, value,
                 CAST(us - win_us AS DOUBLE)/1000000.0 AS tsec,
                 0.5 - 0.5*cos(2.0*pi()*(CAST(us - win_us AS DOUBLE)/1000000.0)/21600.0) AS w
               FROM x),
         a AS (SELECT event_type, win_us,
                 sum(w*value*cos(2.0*pi()*(1/21600.0)*tsec)) AS cv_1, sum(w*cos(2.0*pi()*(1/21600.0)*tsec)) AS c0_1,
                 sum(w*value*sin(2.0*pi()*(1/21600.0)*tsec)) AS sv_1, sum(w*sin(2.0*pi()*(1/21600.0)*tsec)) AS s0_1,
                 sum(w*value*cos(2.0*pi()*(2/21600.0)*tsec)) AS cv_2, sum(w*cos(2.0*pi()*(2/21600.0)*tsec)) AS c0_2,
                 sum(w*value*sin(2.0*pi()*(2/21600.0)*tsec)) AS sv_2, sum(w*sin(2.0*pi()*(2/21600.0)*tsec)) AS s0_2,
                 sum(w*value*cos(2.0*pi()*(3/21600.0)*tsec)) AS cv_3, sum(w*cos(2.0*pi()*(3/21600.0)*tsec)) AS c0_3,
                 sum(w*value*sin(2.0*pi()*(3/21600.0)*tsec)) AS sv_3, sum(w*sin(2.0*pi()*(3/21600.0)*tsec)) AS s0_3,
                 sum(w*value*cos(2.0*pi()*(4/21600.0)*tsec)) AS cv_4, sum(w*cos(2.0*pi()*(4/21600.0)*tsec)) AS c0_4,
                 sum(w*value*sin(2.0*pi()*(4/21600.0)*tsec)) AS sv_4, sum(w*sin(2.0*pi()*(4/21600.0)*tsec)) AS s0_4,
                 sum(w*w) AS w2, sum(value) AS sv, count(*) AS n
               FROM b GROUP BY 1, 2),
         c AS (SELECT a.* FROM a JOIN sp ON a.event_type = sp.event_type
               WHERE a.win_us >= sp.mn AND a.win_us + 21600000000 <= sp.mx + 1),
         p AS (SELECT event_type, CAST(1 AS BIGINT) AS bin, ((cv_1 - (sv / n) * c0_1) * (cv_1 - (sv / n) * c0_1) + (sv_1 - (sv / n) * s0_1) * (sv_1 - (sv / n) * s0_1)) / w2 AS p FROM c
               UNION ALL SELECT event_type, 2, ((cv_2 - (sv / n) * c0_2) * (cv_2 - (sv / n) * c0_2) + (sv_2 - (sv / n) * s0_2) * (sv_2 - (sv / n) * s0_2)) / w2 FROM c
               UNION ALL SELECT event_type, 3, ((cv_3 - (sv / n) * c0_3) * (cv_3 - (sv / n) * c0_3) + (sv_3 - (sv / n) * s0_3) * (sv_3 - (sv / n) * s0_3)) / w2 FROM c
               UNION ALL SELECT event_type, 4, ((cv_4 - (sv / n) * c0_4) * (cv_4 - (sv / n) * c0_4) + (sv_4 - (sv / n) * s0_4) * (sv_4 - (sv / n) * s0_4)) / w2 FROM c)
         SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n_windows,
           floor(sum(p)/count(*)*10000.0 + 0.5)/10000.0 AS psd
         FROM p GROUP BY 1, 2 ORDER BY 1, 2""")),
    "ts_fir" -> Declared(q(TimeSeries.tsFir(_)),
      Seq(col("event_type"), col("bucket_us")), Some {
      // the SAME driver-computed tap literals the Spark plan folds in —
      // the filter design needs no cross-engine math (Double.toString
      // round-trips, so DuckDB parses the identical double)
      val taps = graft.operators.TimeSeries.firTaps(0.1, 0.3, 21)
      val conv = taps.zipWithIndex.map { case (h, j) =>
        if (j == 0) s"($h)*v" else s"($h)*lag(v, $j) OVER w"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_type, CAST(floor(value*100.0 + 0.5) AS BIGINT) AS cents,
               epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
         g AS (SELECT event_type, bucket_us, (CAST(s AS DOUBLE)/c)/100.0 AS v FROM b),
         f AS (SELECT event_type, bucket_us, v, $conv AS y, lag(v, 20) OVER w AS oldest
               FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us))
         SELECT event_type, bucket_us, floor(v*10000.0 + 0.5)/10000.0 AS v,
           floor(y*10000.0 + 0.5)/10000.0 AS filtered
         FROM f WHERE oldest IS NOT NULL ORDER BY 1, 2"""
    }),
    "ts_artifacts" -> Declared(q(TimeSeries.tsArtifacts(_)),
      Seq(col("event_type"), col("epoch_us")), Some(
      """WITH b AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us,
                 CAST(floor(value*100.0 + 0.5) AS BIGINT) AS c,
                 (epoch_ns(ts)//1000 // 3600000000) * 3600000000 AS epoch_us FROM events),
         d AS (SELECT *, c - lag(c) OVER (PARTITION BY event_type, epoch_us
                 ORDER BY us, event_id) AS d FROM b),
         g AS (SELECT event_type, epoch_us, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN abs(c) > 15000 THEN 1 ELSE 0 END) AS BIGINT) AS n_amp,
                 CAST(sum(CASE WHEN abs(d) > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_grad
               FROM d GROUP BY 1, 2)
         SELECT event_type, epoch_us, n, n_amp, n_grad,
           (n_amp > 0 OR n_grad > 0) AS rejected
         FROM g ORDER BY 1, 2""")),
    "rolling_actives" -> Declared(q(EventAnalytics.rollingActives(_)),
      Seq(col("day_us")), Some(
      """WITH ud AS (SELECT DISTINCT user_id,
                 (epoch_ns(ts)//1000 // 86400000000) * 86400000000 AS day_us FROM events),
         dau AS (SELECT day_us, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
         proj AS (SELECT DISTINCT user_id, day_us + k * 86400000000 AS day_us
                  FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS k) ks),
         wau AS (SELECT day_us, CAST(count(*) AS BIGINT) AS active_7d FROM proj GROUP BY 1)
         SELECT dau.day_us, dau.dau, wau.active_7d
         FROM dau JOIN wau USING (day_us) ORDER BY 1""")),
    "ts_bursts" -> Declared(q(TimeSeries.tsBursts(_)),
      Seq(col("event_type"), col("start_us")), Some {
      // shares ts_fir's generated tap literals and CTE chain, then:
      // rectified moving-average envelope -> threshold -> integer
      // gap-chunk run assembly -> duration gate
      val taps = graft.operators.TimeSeries.firTaps(0.1, 0.3, 21)
      val conv = taps.zipWithIndex.map { case (h, j) =>
        if (j == 0) s"($h)*v" else s"($h)*lag(v, $j) OVER w"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_type, CAST(floor(value*100.0 + 0.5) AS BIGINT) AS cents,
               epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
         g AS (SELECT event_type, bucket_us, (CAST(s AS DOUBLE)/c)/100.0 AS v FROM b),
         f AS (SELECT event_type, bucket_us, $conv AS y, lag(v, 20) OVER w AS oldest
               FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us)),
         fr AS (SELECT event_type, bucket_us, floor(y*10000.0 + 0.5)/10000.0 AS filtered
                FROM f WHERE oldest IS NOT NULL),
         en AS (SELECT event_type, bucket_us,
                  floor(avg(abs(filtered)) OVER (PARTITION BY event_type ORDER BY bucket_us
                    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)*10000.0 + 0.5)/10000.0 AS env
                FROM fr),
         q AS (SELECT * FROM en WHERE env >= 2.0),
         r AS (SELECT *, lag(bucket_us) OVER (PARTITION BY event_type ORDER BY bucket_us) AS prev
               FROM q),
         rid AS (SELECT *, CAST(sum(CASE WHEN prev IS NULL OR bucket_us - prev > 3600000000
                   THEN 1 ELSE 0 END) OVER (PARTITION BY event_type ORDER BY bucket_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS burst_id
               FROM r),
         bu AS (SELECT event_type, burst_id, min(bucket_us) AS start_us,
                  max(bucket_us) + 3600000000 AS end_us, CAST(count(*) AS BIGINT) AS n_buckets,
                  max(env) AS peak_env
                FROM rid GROUP BY 1, 2)
         SELECT event_type, start_us, end_us, n_buckets, peak_env
         FROM bu WHERE n_buckets >= 3 ORDER BY 1, 2"""
    }),
    "ts_decimate" -> Declared(q(TimeSeries.tsDecimate(_)),
      Seq(col("event_type"), col("bucket_us")), Some {
      // lowpass taps (lo = 0) shared verbatim with the plan, then the
      // integer row_number stride on the filtered grid
      val taps = graft.operators.TimeSeries.firTaps(0.0, 0.125, 21)
      val conv = taps.zipWithIndex.map { case (h, j) =>
        if (j == 0) s"($h)*v" else s"($h)*lag(v, $j) OVER w"
      }.mkString(" + ")
      s"""WITH e AS (SELECT event_type, CAST(floor(value*100.0 + 0.5) AS BIGINT) AS cents,
               epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT event_type, (us // 3600000000) * 3600000000 AS bucket_us,
                 CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY 1, 2),
         g AS (SELECT event_type, bucket_us, (CAST(s AS DOUBLE)/c)/100.0 AS v FROM b),
         f AS (SELECT event_type, bucket_us, $conv AS y, lag(v, 20) OVER w AS oldest
               FROM g WINDOW w AS (PARTITION BY event_type ORDER BY bucket_us)),
         fr AS (SELECT event_type, bucket_us, floor(y*10000.0 + 0.5)/10000.0 AS value,
                  row_number() OVER (PARTITION BY event_type ORDER BY bucket_us) AS rn
                FROM f WHERE oldest IS NOT NULL)
         SELECT event_type, bucket_us, value FROM fr WHERE (rn - 1) % 4 = 0
         ORDER BY 1, 2"""
    }),
    "running_balance" -> Declared(q(EventAnalytics.runningBalance(_)),
      Seq(col("user_id"), col("event_id")), Some(
      """WITH RECURSIVE e AS (SELECT user_id, event_id, epoch_ns(ts)//1000 AS us,
                 (CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE -1 END)
                   * CAST(floor(value*100.0 + 0.5) AS BIGINT) AS delta,
                 row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)//1000, event_id) AS rn
               FROM events WHERE event_type IN ('purchase','signup','click','error')),
         r AS (SELECT user_id, event_id, us, delta, rn,
                 greatest(CAST(0 AS BIGINT), delta) AS balance, delta < 0 AS clamped
               FROM e WHERE rn = 1
               UNION ALL
               SELECT e.user_id, e.event_id, e.us, e.delta, e.rn,
                 greatest(CAST(0 AS BIGINT), r.balance + e.delta), r.balance + e.delta < 0
               FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
         SELECT user_id, event_id, us AS ts_us, delta AS delta_cents,
           balance AS balance_cents, clamped
         FROM r ORDER BY user_id, event_id""")),
    "ts_outlier" -> Declared(q(TimeSeries.tsOutlier(_)),
      Seq(col("event_type"), col("ts_us"), col("event_id")), Some(
      """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
                    FROM events GROUP BY 1),
         z AS (SELECT e.event_type, event_id, epoch_ns(ts)//1000 AS ts_us, value,
                 floor(((value - mu)/sigma)*1000.0 + 0.5)/1000.0 AS zscore
               FROM events e JOIN s ON e.event_type = s.event_type)
         SELECT event_type, event_id, ts_us, value, zscore
         FROM z WHERE abs(zscore) >= 3.0
         ORDER BY event_type, ts_us, event_id""")),
    "ts_histogram" -> Declared(q(TimeSeries.tsHistogram(_)),
      Seq(col("event_type"), col("bucket")), Some(
      """SELECT event_type,
           least(CAST(19 AS BIGINT), greatest(CAST(0 AS BIGINT), CAST(floor((value - 0.0)/20.0) AS BIGINT))) AS bucket,
           count(*) AS n, floor(min(value)*100.0 + 0.5)/100.0 AS min_value, floor(max(value)*100.0 + 0.5)/100.0 AS max_value
         FROM events GROUP BY 1,2 ORDER BY 1,2""")),
    "ts_annotations" -> Declared(q(TimeSeries.tsAnnotations(_)),
      Seq(col("event_type")), Some(
      """SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k FROM (
           SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) sub
         WHERE k >= 50 GROUP BY 1 ORDER BY 1""")),
    "channel_match" -> Declared(q(TimeSeries.channelMatch),
      Seq(col("event_type")), Some(
      """WITH h0 AS (SELECT event_type, count(*) AS n, min(epoch_ns(ts)//1000) AS s,
                       max(epoch_ns(ts)//1000) AS e FROM events WHERE event_id % 2 = 0 GROUP BY 1),
         h1 AS (SELECT event_type, count(*) AS n, min(epoch_ns(ts)//1000) AS s,
                  max(epoch_ns(ts)//1000) AS e FROM events WHERE event_id % 2 = 1 GROUP BY 1),
         a AS (SELECT event_type, n*3600000000.0/(e - s) AS rate_a FROM h0 WHERE e > s),
         b AS (SELECT event_type, n*3600000000.0/(e - s) AS rate_b FROM h1 WHERE e > s)
         SELECT a.event_type, floor(rate_a*1000000.0 + 0.5)/1000000.0 AS rate_a, floor(rate_b*1000000.0 + 0.5)/1000000.0 AS rate_b
         FROM a JOIN b ON a.event_type = b.event_type AND abs(1.0 - rate_a/rate_b) < 0.02
         ORDER BY a.event_type""")),
    "ts_chunker" -> Declared(q(TimeSeries.tsChunker(_)),
      Seq(col("event_type"), col("chunk_id")), Some(
      """WITH e AS (SELECT event_type, event_id, epoch_ns(ts)//1000 AS us FROM events),
         r AS (SELECT event_type, us,
                 (row_number() OVER (PARTITION BY event_type ORDER BY us, event_id) - 1)//500 AS chunk_id
               FROM e)
         SELECT event_type, chunk_id, min(us) AS start_us, max(us) AS end_us, count(*) AS n_samples
         FROM r GROUP BY 1,2 ORDER BY 1,2""")),
    "token_count" -> Declared(q(TextAnalysis.tokenCount),
      Seq(col("doc_id")), Some(
      """SELECT doc_id,
         CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_re_tokens
         FROM documents ORDER BY doc_id""")),
    "quality_score" -> Declared(q(TextAnalysis.qualityScore),
      Seq(col("doc_id")), Some(
      """WITH b AS (SELECT doc_id, length(text) AS n_chars,
           CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_words,
           length(regexp_replace(text,'\s','','g')) AS n_nonspace,
           len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
             w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(regexp_extract_all(text,'[.!?,;:]')) AS n_punct
         FROM documents)
         SELECT doc_id, n_chars, n_words,
           CASE WHEN n_words=0 THEN 0.0 ELSE floor((CAST(n_nonspace AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 END AS avg_word_len,
           CASE WHEN n_words=0 THEN 0.0 ELSE floor((CAST(n_stop AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 END AS stop_ratio,
           CASE WHEN n_chars=0 THEN 0.0 ELSE floor((CAST(n_punct AS DOUBLE)/n_chars)*10000.0 + 0.5)/10000.0 END AS punct_ratio,
           floor((0.4*least(CAST(n_words AS DOUBLE)/100.0, 1.0)
             + 0.3*(CASE WHEN n_words=0 THEN 0.0 ELSE floor((CAST(n_stop AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 END)*5.0
             + 0.3*(1.0 - CASE WHEN n_chars=0 THEN 0.0 ELSE floor((CAST(n_punct AS DOUBLE)/n_chars)*10000.0 + 0.5)/10000.0 END))*10000.0 + 0.5)/10000.0 AS quality
         FROM b ORDER BY doc_id""")),
    "lang_id" -> Declared(q(TextAnalysis.langId),
      Seq(col("doc_id")), Some(
      """SELECT doc_id, lang AS true_lang,
         len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), w -> w IN ('der','die','und','das','ist'))) AS s_de,
         len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), w -> w IN ('the','a','and','of','to'))) AS s_en,
         len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), w -> w IN ('el','la','de','que','y'))) AS s_es,
         len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), w -> w IN ('le','la','de','et','un'))) AS s_fr,
         len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'), w -> w IN ('de5','shi4','bu4','le5','zai4'))) AS s_zh,
         CASE WHEN s_de >= greatest(s_en,s_es,s_fr,s_zh) THEN 'de'
              WHEN s_en >= greatest(s_es,s_fr,s_zh) THEN 'en'
              WHEN s_es >= greatest(s_fr,s_zh) THEN 'es'
              WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang
         FROM documents ORDER BY doc_id""")),
    "fingerprint" -> Declared(q(TextAnalysis.fingerprint),
      Seq(col("doc_id")), Some(
      """WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text,'\s+',' ','g'))) AS norm FROM documents)
         SELECT doc_id, md5(norm) AS md5_hash,
           CASE WHEN length(norm)=0 THEN CAST(0 AS BIGINT) ELSE
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(norm,''), x -> CAST(ascii(x) AS BIGINT))),
               (acc, x) -> (acc*31 + x) % 1000000007) END AS poly_hash
         FROM n ORDER BY doc_id""")),
    "text_repetition" -> Declared(q(TextAnalysis.textRepetition(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id,
             CASE WHEN length(trim(text))=0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) END AS n_toks,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
           FROM documents),
         hs AS (SELECT doc_id, n_toks, list_distinct(list_transform(
             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk)
         SELECT doc_id, n_toks,
           CASE WHEN n_toks < 2 THEN CAST(1 AS BIGINT) ELSE n_toks - 1 END AS n_grams,
           CAST(len(hs) AS BIGINT) AS n_distinct,
           floor((1.0 - CAST(len(hs) AS DOUBLE)/(CASE WHEN n_toks < 2 THEN 1 ELSE n_toks - 1 END))*10000.0 + 0.5)/10000.0 AS rep_ratio
         FROM hs ORDER BY doc_id""")),
    "tfidf_top" -> Declared(q(TextAnalysis.tfidfTop),
      Seq(col("doc_id")), Some(
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),'\s+')) AS term
                      FROM documents),
         tok2 AS (SELECT doc_id, term FROM tok WHERE length(term) > 0),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2 GROUP BY 1,2),
         df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tok2) GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, tf.term, tf, df,
                  floor((tf * ln((n_docs + 1.0)/(df + 1.0)))*10000.0 + 0.5)/10000.0 AS score
                FROM tf JOIN df ON tf.term = df.term, n),
         rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rk FROM sc)
         SELECT doc_id, term, tf, df, score FROM rk WHERE rk = 1 ORDER BY doc_id""")),
    "pii_count" -> Declared(q(TextAnalysis.piiCount),
      Seq(col("doc_id")), Some(
      """SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(text, '(\+\d{1,2}[-. ]?)?(\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3,4}[-. ]\d{4}([^0-9]|$)')) AS n_phones,
           (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            + len(regexp_extract_all(text, 'https?://[^\s]+'))
            + len(regexp_extract_all(text, '(\+\d{1,2}[-. ]?)?(\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3,4}[-. ]\d{4}([^0-9]|$)'))) > 0 AS has_pii
         FROM documents ORDER BY doc_id""")),
    "pii_redact" -> Declared(q(TextAnalysis.piiRedact),
      Seq(col("doc_id")), Some(
      """SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             'https?://[^\s]+', '[URL]', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '(\+\d{1,2}[-. ]?)?(\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3,4}[-. ]\d{4}([^0-9]|$)', '[PHONE]\3', 'g') AS redacted,
           len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
           len(regexp_extract_all(regexp_replace(text,
             'https?://[^\s]+', '[URL]', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(regexp_replace(regexp_replace(text,
             'https?://[^\s]+', '[URL]', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '(\+\d{1,2}[-. ]?)?(\(\d{3}\)[-. ]?|\d{3}[-. ])\d{3,4}[-. ]\d{4}([^0-9]|$)')) AS n_phones
         FROM documents ORDER BY doc_id""")),
    "decontaminate_fuzzy" -> Declared(q(TextAnalysis.decontaminateFuzzy(_)),
      Seq(col("doc_id"), col("bench_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         cands AS (SELECT c.doc_id AS doc_id, b.doc_id AS bench_id
                   FROM bands c JOIN bands b ON c.band_idx=b.band_idx AND c.band_hash=b.band_hash
                     AND c.doc_id >= 25 AND b.doc_id < 25
                   GROUP BY 1,2),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         cm AS (SELECT c.doc_id, c.bench_id, count(*) AS common
                FROM cands c JOIN s sa ON sa.doc_id = c.doc_id JOIN s sb ON sb.doc_id = c.bench_id AND sb.h = sa.h
                GROUP BY 1,2),
         j AS (SELECT c.doc_id, c.bench_id, coalesce(cm.common, 0) AS common, na.nh AS nh_a, nb.nh AS nh_b
               FROM cands c LEFT JOIN cm ON c.doc_id = cm.doc_id AND c.bench_id = cm.bench_id
               JOIN n na ON c.doc_id = na.doc_id JOIN n nb ON c.bench_id = nb.doc_id)
         SELECT doc_id, bench_id, floor((CAST(common AS DOUBLE)/(nh_a + nh_b - common))*10000.0 + 0.5)/10000.0 AS jaccard
         FROM j WHERE CAST(common AS DOUBLE)/(nh_a + nh_b - common) >= 0.5 ORDER BY doc_id, bench_id""")),
    "corpus_delta" -> Declared(q(TextAnalysis.corpusDelta(_: graft.Tables)),
      Seq(col("doc_id")), Some(
      """WITH cur AS (SELECT doc_id, text FROM documents),
         prev AS (
           SELECT doc_id, CASE WHEN doc_id % 17 = 3 THEN text || ' [edited]' ELSE text END AS text
           FROM documents WHERE doc_id % 13 != 5
           UNION ALL
           SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id, text
           FROM documents WHERE doc_id % 19 = 2
         ),
         j AS (SELECT coalesce(c.doc_id, p.doc_id) AS doc_id,
                 md5(c.text) AS h_cur, md5(p.text) AS h_prev
               FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id)
         SELECT doc_id,
           CASE WHEN h_prev IS NULL THEN 'added'
                WHEN h_cur IS NULL THEN 'removed'
                WHEN h_cur = h_prev THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM j ORDER BY doc_id""")),
    "refresh_incremental" -> Declared(q(TextAnalysis.refreshIncremental(_: graft.Tables)),
      Seq(col("doc_id")), Some(
      """WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text,'\s+',' ','g'))) AS norm FROM documents)
         SELECT doc_id, md5(norm) AS md5_hash,
           CASE WHEN length(norm)=0 THEN CAST(0 AS BIGINT) ELSE
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(norm,''), x -> CAST(ascii(x) AS BIGINT))),
               (acc, x) -> (acc*31 + x) % 1000000007) END AS poly_hash,
           CASE WHEN doc_id % 13 = 5 OR doc_id % 17 = 3 THEN 'fresh' ELSE 'carried' END AS src
         FROM n ORDER BY doc_id""")),
    "decontaminate" -> Declared(q(TextAnalysis.decontaminate(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-5), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         bench AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id < 25),
         corpus AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id >= 25)
         SELECT c.doc_id, count(DISTINCT c.h) AS n_shared_grams
         FROM corpus c JOIN bench b ON c.h = b.h
         GROUP BY 1 ORDER BY 1""")),
    // the bloom prefilter is exact after its confirm join — same oracle
    "decontaminate_bloom" -> Declared(q(TextAnalysis.decontaminateBloom(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-5), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         bench AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id < 25),
         corpus AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id >= 25)
         SELECT c.doc_id, count(DISTINCT c.h) AS n_shared_grams
         FROM corpus c JOIN bench b ON c.h = b.h
         GROUP BY 1 ORDER BY 1""")),
    "mix_apply" -> Declared(q(Sampling.mixApply(_)),
      Seq(col("doc_id")), Some(
      """WITH w(lang, weight) AS (SELECT * FROM (VALUES ('en',0.4),('de',0.2),('es',0.2),('fr',0.1),('zh',0.1)) v(lang, weight)),
         a AS (SELECT lang, count(*) AS n_docs,
                 CAST(sum(CASE WHEN length(trim(text))=0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),'\s+')) END) AS BIGINT) AS n_tokens
               FROM documents GROUP BY 1),
         j AS (SELECT a.lang, n_tokens, weight,
                 min(n_tokens / weight) OVER () AS budget
               FROM a JOIN w ON a.lang = w.lang),
         r AS (SELECT lang, floor((weight * budget / n_tokens)*10000.0 + 0.5)/10000.0 AS rate FROM j),
         b AS (SELECT doc_id, lang,
                 (((doc_id % 1000000007) + 1000000007) % 1000000007 * 2654435761) % 1000000007 % 1000 AS bucket
               FROM documents)
         SELECT b.doc_id, b.lang, b.bucket FROM b JOIN r ON b.lang = r.lang
         WHERE b.bucket < r.rate * 1000 ORDER BY b.doc_id""")),
    "dedup_exact" -> Declared(q(TextAnalysis.dedupExact),
      Seq(col("content_hash")), Some(
      """SELECT md5(lower(trim(regexp_replace(text,'\s+',' ','g')))) AS content_hash,
         min(doc_id) AS keep_doc_id, count(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY 1""")),
    "ann_topk" -> Declared(q(Similarity.annTopK(_)),
      Nil, Some(
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, floor((
           list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
         FROM embeddings, q WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10""")),
    "embed_neardup" -> Declared(q(Similarity.embedNearDup(_, threshold = 0.25)),
      Seq(col("label"), col("id_a"), col("id_b")), Some(
      """WITH s AS (
           SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, floor((
             list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1,len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
           FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
         SELECT label, id_a, id_b, sim FROM s WHERE sim >= 0.25 ORDER BY label, id_a, id_b""")),
    "embed_neardup_lsh" -> Declared(q(Similarity.embedNearDupLsh(_, threshold = 0.25)),
      Seq(col("id_a"), col("id_b")), Some(lshCandCte + s""",
         s AS (SELECT id_a, id_b, $lshCosSim AS sim
           FROM cand JOIN embeddings a ON a.vec_id = cand.id_a JOIN embeddings b ON b.vec_id = cand.id_b)
         SELECT id_a, id_b, sim FROM s WHERE sim >= 0.25 ORDER BY id_a, id_b""")),
    "knn_graph" -> Declared(q(Similarity.knnGraph(_)),
      Seq(col("vec_id"), col("rk")), Some(
      s"""WITH p AS (SELECT a.label, a.vec_id, b.vec_id AS nbr_id, $lshCosSim AS sim
               FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rk FROM p)
         SELECT label, vec_id, CAST(rk AS BIGINT) AS rk, nbr_id, sim
         FROM r WHERE rk <= 5 ORDER BY vec_id, rk""")),
    "knn_graph_lsh" -> Declared(q(Similarity.knnGraphLsh(_)),
      Seq(col("vec_id"), col("rk")), Some(lshCandCte + s""",
         sym AS (SELECT id_a AS vid, id_b AS nid FROM cand UNION ALL SELECT id_b, id_a FROM cand),
         sc AS (SELECT sym.vid AS vec_id, sym.nid AS nbr_id, $lshCosSim AS sim
                FROM sym JOIN embeddings a ON a.vec_id = sym.vid JOIN embeddings b ON b.vec_id = sym.nid),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nbr_id) AS rk FROM sc)
         SELECT vec_id, CAST(rk AS BIGINT) AS rk, nbr_id, sim
         FROM r WHERE rk <= 5 ORDER BY vec_id, rk""")),
    "minhash_sig" -> Declared(q(Dedup.minhashSig(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 7), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs)
         SELECT doc_id, sig[1] AS sig_0, sig[2] AS sig_1, sig[3] AS sig_2, sig[4] AS sig_3, sig[5] AS sig_4, sig[6] AS sig_5, sig[7] AS sig_6, sig[8] AS sig_7 FROM sigs ORDER BY doc_id""")),
    "dedup_minhash" -> Declared(q(Dedup.dedupMinhash(_)),
      Seq(col("id_a"), col("id_b")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         hot AS (SELECT band_idx, band_hash FROM bands GROUP BY 1,2 HAVING count(*) > 1024),
         kept AS (SELECT bands.* FROM bands WHERE NOT EXISTS (
             SELECT 1 FROM hot WHERE hot.band_idx = bands.band_idx AND hot.band_hash = bands.band_hash))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_bands
         FROM kept a JOIN kept b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id<b.doc_id
         GROUP BY 1,2 ORDER BY 1,2""")),
    "minhash_hot_buckets" -> Declared(q(Dedup.minhashHotBuckets(_, maxBucket = 1)),
      Seq(col("band_idx"), col("band_hash")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, CAST(band_idx AS INTEGER) AS band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi)
         SELECT band_idx, band_hash, count(*) AS bn FROM bands
         GROUP BY 1,2 HAVING count(*) > 1 ORDER BY 1,2""")),
    "simhash_sig" -> Declared(q(Dedup.simhash(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk)
         SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,47), j ->
             CASE WHEN list_sum(list_transform(hs, h -> 2*((((h * 2654435761) % 281474976710656) >> j) & 1) - 1)) > 0
                  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash FROM hs ORDER BY doc_id""")),
    "dedup_simhash" -> Declared(q(Dedup.dedupSimhash(_)),
      Seq(col("id_a"), col("id_b")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sh AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0,47), j ->
             CASE WHEN list_sum(list_transform(hs, h -> 2*((((h * 2654435761) % 281474976710656) >> j) & 1) - 1)) > 0
                  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash FROM hs),
         bl AS (SELECT doc_id, simhash, block_idx, (simhash >> (12*block_idx)) & 4095 AS block_val
                FROM sh, (SELECT unnest(generate_series(0,3)) AS block_idx) bi)
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM bl a JOIN bl b ON a.block_idx=b.block_idx AND a.block_val=b.block_val AND a.doc_id<b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY 1,2""")),
    "ann_ivf" -> Declared(q(Similarity.annIvf(_)),
      Nil, Some(
      """WITH cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings ORDER BY vec_id LIMIT 16),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         assigned AS (SELECT vec_id, embedding, cell_id FROM (
             SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY (list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))))) DESC, c.cell_id) AS rk
             FROM embeddings e, cents c) s WHERE rk = 1),
         qcells AS (SELECT cell_id FROM (SELECT c.cell_id, (list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))))) AS qs FROM cents c, q) s
                    ORDER BY qs DESC, cell_id LIMIT 4)
         SELECT vec_id, floor(((list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))))))*10000.0 + 0.5)/10000.0 AS sim
         FROM assigned JOIN qcells USING (cell_id), q
         WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 10""")),
    "funnel" -> Declared(q(EventAnalytics.funnel(_)),
      Seq(col("stage")), Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
         s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type='view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 ON e.user_id=s1.user_id AND e.us > s1.t
                WHERE e.event_type='click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s2 ON e.user_id=s2.user_id AND e.us > s2.t
                WHERE e.event_type='purchase' GROUP BY 1)
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name, count(*) AS n_users FROM s1
           UNION ALL SELECT 2, 'click', count(*) FROM s2
           UNION ALL SELECT 3, 'purchase', count(*) FROM s3) u
         ORDER BY stage""")),
    "retention" -> Declared(q(EventAnalytics.retention),
      Seq(col("cohort_day"), col("day_offset")), Some(
      """WITH d AS (SELECT DISTINCT user_id, (epoch_ns(ts)//1000)//86400000000 AS day FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
         SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
         FROM d JOIN c USING (user_id) GROUP BY 1,2 ORDER BY 1,2""")),
    "grouping_sets" -> Declared(q(Analytics.groupingSets),
      Seq(col("gid"), col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first), Some(
      """SELECT CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
         o_orderstatus, o_orderpriority,
         round(sum(o_totalprice),2) AS total, count(*) AS n
         FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),(o_orderpriority),())
         ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),
    "mad_outlier" -> Declared(q(TimeSeries.madOutlier(_)),
      Seq(col("event_type"), col("ts_us"), col("event_id")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         med AS (SELECT event_type, round(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS med FROM e GROUP BY 1),
         dev AS (SELECT e.event_type, e.event_id, e.value, e.us, med.med, abs(e.value - med.med) AS adev
                 FROM e JOIN med USING (event_type)),
         mad AS (SELECT event_type, round(quantile_cont(CAST(adev AS DOUBLE), 0.5), 4) AS mad FROM dev GROUP BY 1)
         SELECT event_type, event_id, us AS ts_us, value,
           floor(0.6745*(value - med)/mad*1000 + 0.5)/1000.0 AS robust_z
         FROM dev JOIN mad USING (event_type)
         WHERE mad > 0 AND abs(floor(0.6745*(value - med)/mad*1000 + 0.5)/1000.0) >= 3.5
         ORDER BY event_type, ts_us, event_id""")),
    "ts_weighted" -> Declared(q(TimeSeries.tsWeighted(_)),
      Seq(col("event_type"), col("ts_us"), col("event_id")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         c AS (SELECT *, CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM e),
         w AS (SELECT event_type, event_id, us,
                 count(*) OVER fr AS n_trailing,
                 sum(cents) OVER fr AS s_cents
               FROM c WINDOW fr AS (PARTITION BY event_type ORDER BY us
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW))
         SELECT event_type, event_id, us AS ts_us, CAST(n_trailing AS BIGINT) AS n_trailing,
           floor(CAST(s_cents AS DOUBLE)/(n_trailing*100.0)*10000 + 0.5)/10000.0 AS avg_trailing
         FROM w ORDER BY event_type, ts_us, event_id""")),
    "lttb" -> Declared(q(TimeSeries.lttb(_)),
      Seq(col("event_type"), col("bucket")), Some(
      """WITH e AS (SELECT event_type, event_id, value, epoch_ns(ts)//1000 AS us FROM events),
         b AS (SELECT *, CAST(floor(value*100+0.5) AS BIGINT) AS cents,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY us, event_id) AS BIGINT) - 1 AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n,
                 min(us) OVER (PARTITION BY event_type) AS us0
               FROM e),
         bb AS (SELECT *, (rn * 20) // n AS bucket FROM b),
         m AS (SELECT event_type, bucket,
                 CAST(sum(us - us0) AS DOUBLE)/count(*) AS mx,
                 CAST(sum(cents) AS DOUBLE)/(count(*)*100.0) AS my
               FROM bb GROUP BY 1,2),
         an AS (SELECT event_type, bucket,
                 lag(mx) OVER wb AS px, lag(my) OVER wb AS py,
                 lead(mx) OVER wb AS nx, lead(my) OVER wb AS ny
                FROM m WINDOW wb AS (PARTITION BY event_type ORDER BY bucket)),
         scored AS (SELECT bb.event_type, bb.bucket, bb.us, bb.event_id, bb.value, bb.rn,
                 CAST(bb.us - bb.us0 AS DOUBLE) AS x, bb.cents/100.0 AS y,
                 an.px, an.py, an.nx, an.ny
               FROM bb JOIN an USING (event_type, bucket)),
         pick AS (SELECT *, row_number() OVER (PARTITION BY event_type, bucket ORDER BY
                 CASE WHEN px IS NULL THEN rn ELSE -1 END,
                 CASE WHEN nx IS NULL THEN -rn ELSE -1 END,
                 abs((px-nx)*(y-py) - (px-x)*(py-ny)) DESC, us, event_id) AS rk
               FROM scored)
         SELECT event_type, bucket, us AS ts_us, value FROM pick WHERE rk = 1
         ORDER BY event_type, bucket""")),
    "vocab_topk" -> Declared(q(TextAnalysis.vocabTopk(_)),
      Nil, Some(
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                      FROM documents)
         SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM tok WHERE len(token) > 0 GROUP BY 1 ORDER BY tf DESC, token LIMIT 20""")),
    "paragraph_dedup" -> Declared(q(TextAnalysis.paragraphDedup(_)),
      Seq(col("doc_id")), Some(
      """WITH p0 AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM documents),
         px AS (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM p0),
         k AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ps[i] AS para,
                 md5(lower(trim(ps[i]))) AS h FROM px),
         kept AS (SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
                                 FROM k) r WHERE rk = 1),
         reb AS (SELECT doc_id, count(*) AS n_kept, string_agg(para, chr(10) ORDER BY pos) AS kept_text
                 FROM kept GROUP BY 1),
         np AS (SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_paras FROM documents)
         SELECT np.doc_id, np.n_paras, coalesce(reb.n_kept, 0) AS n_kept,
           coalesce(reb.kept_text, '') AS kept_text
         FROM np LEFT JOIN reb ON np.doc_id = reb.doc_id ORDER BY np.doc_id""")),
    "user_sessions" -> Declared(q(EventAnalytics.userSessions(_)),
      Seq(col("user_id"), col("session_id")), Some(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_id FROM f)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id, min(us) AS start_us,
           max(us) AS end_us, count(*) AS n_events, count(DISTINCT event_type) AS n_types
         FROM s GROUP BY 1,2 ORDER BY 1,2""")),
    "latest_state" -> Declared(q(EventAnalytics.latestState),
      Seq(col("user_id"), col("event_type")), Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us, event_id, value FROM events),
         m AS (SELECT user_id, event_type,
                 max(struct_pack(us := us, event_id := event_id, value := value)) AS r,
                 count(*) AS n_versions
               FROM e GROUP BY 1,2)
         SELECT user_id, event_type, r.us AS ts_us, r.event_id AS event_id, r.value AS value,
           CAST(n_versions AS BIGINT) AS n_versions
         FROM m ORDER BY user_id, event_type""")),
    "scd2_build" -> Declared(q(EventAnalytics.scd2Build),
      Seq(col("user_id"), col("event_type"), col("version")), Some(
      """WITH b AS (SELECT user_id, event_type, event_id, epoch_ns(ts)//1000 AS us, value FROM events),
         chg AS (SELECT *, lag(value) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS pv
                 FROM b),
         c AS (SELECT * FROM chg WHERE pv IS NULL OR pv <> value),
         iv AS (SELECT user_id, event_type, value, us AS valid_from_us,
                  lead(us) OVER w AS valid_to_us,
                  CAST(row_number() OVER w AS BIGINT) AS version
                FROM c WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id))
         SELECT user_id, event_type, value, valid_from_us, valid_to_us, version,
           valid_to_us IS NULL AS is_current
         FROM iv ORDER BY user_id, event_type, version""")),
    "gopher_rules" -> Declared(q(TextAnalysis.gopherRules(_)),
      Seq(col("doc_id")), Some(
      """WITH b AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                    FROM documents),
         m AS (SELECT doc_id,
                 CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_words,
                 CAST(len(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
                 CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS BIGINT) AS n_stop_distinct,
                 CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
               FROM b)
         SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_nonspace, n_stop_distinct,
           n_alpha, n_distinct,
           (n_words >= 25 AND n_words <= 80) AS word_count_ok,
           (n_words > 0 AND 3*n_words <= n_nonspace AND n_nonspace <= 10*n_words) AS word_len_ok,
           (n_stop_distinct >= 2) AS stop_ok,
           (n_words > 0 AND 5*n_alpha >= 4*n_words) AS alpha_ok,
           (n_words > 0 AND 2*n_distinct >= n_words) AS distinct_ok,
           ((n_words >= 25 AND n_words <= 80) AND
            (n_words > 0 AND 3*n_words <= n_nonspace AND n_nonspace <= 10*n_words) AND
            (n_stop_distinct >= 2) AND
            (n_words > 0 AND 5*n_alpha >= 4*n_words) AND
            (n_words > 0 AND 2*n_distinct >= n_words)) AS pass
         FROM m ORDER BY doc_id""")),
    "curate" -> Declared(q(TextAnalysis.curate(_)),
      Seq(col("doc_id")), Some(
      """WITH b AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
             CASE WHEN length(trim(text))=0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(len(regexp_split_to_array(trim(text),'\s+')) AS BIGINT) END AS n_words,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(text,'\s','','g')) AS BIGINT) AS n_nonspace
           FROM documents),
         m AS (SELECT doc_id, n_words, n_chars, n_nonspace,
             len(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
             len(regexp_extract_all(text,'[.!?,;:]')) AS n_punct,
             CAST(len(list_intersect(toks, ['the','a','of','and','to','in','is','it'])) AS BIGINT) AS n_stop_distinct,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             len(list_filter(toks, w -> w IN ('der','die','und','das','ist'))) AS s_de,
             len(list_filter(toks, w -> w IN ('the','a','and','of','to'))) AS s_en,
             len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS s_es,
             len(list_filter(toks, w -> w IN ('le','la','de','et','un'))) AS s_fr,
             len(list_filter(toks, w -> w IN ('de5','shi4','bu4','le5','zai4'))) AS s_zh,
             CAST(len(list_distinct(list_transform(
               CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(generate_series(0, len(toks)-2), i -> toks[i+1] || ' ' || toks[i+2]) END,
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007)))) AS BIGINT) AS n_distinct_grams
           FROM b),
         s AS (SELECT *,
             CASE WHEN n_words=0 THEN 0.0 ELSE floor((CAST(n_stop AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 END AS stop_ratio,
             CASE WHEN n_chars=0 THEN 0.0 ELSE floor((CAST(n_punct AS DOUBLE)/n_chars)*10000.0 + 0.5)/10000.0 END AS punct_ratio
           FROM m),
         f AS (SELECT doc_id,
             CASE WHEN s_de >= greatest(s_en,s_es,s_fr,s_zh) THEN 'de'
                  WHEN s_en >= greatest(s_es,s_fr,s_zh) THEN 'en'
                  WHEN s_es >= greatest(s_fr,s_zh) THEN 'es'
                  WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang,
             floor((0.4*least(CAST(n_words AS DOUBLE)/100.0, 1.0)
               + 0.3*stop_ratio*5.0 + 0.3*(1.0 - punct_ratio))*10000.0 + 0.5)/10000.0 AS quality,
             floor((1.0 - CAST(n_distinct_grams AS DOUBLE)/(CASE WHEN n_words < 2 THEN 1 ELSE n_words - 1 END))*10000.0 + 0.5)/10000.0 AS rep_ratio,
             ((n_words >= 25 AND n_words <= 80) AND
              (n_words > 0 AND 3*n_words <= n_nonspace AND n_nonspace <= 10*n_words) AND
              (n_stop_distinct >= 2) AND
              (n_words > 0 AND 5*n_alpha >= 4*n_words) AND
              (n_words > 0 AND 2*n_distinct >= n_words)) AS gopher_pass
           FROM s)
         SELECT doc_id, pred_lang, quality, rep_ratio, gopher_pass,
           (gopher_pass AND quality >= 0.5 AND rep_ratio <= 0.2) AS keep
         FROM f ORDER BY doc_id""")),
    "heavy_hitters" -> Declared(q(TextAnalysis.heavyHitters(_)),
      Seq(col("cnt").desc, col("token")), Some(
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
                      FROM documents)
         SELECT token, count(*) AS cnt FROM tok WHERE len(token) > 0
         GROUP BY 1 ORDER BY cnt DESC, token""")),
    "pack_sequences" -> Declared(q(Sampling.packSequences(_)),
      Seq(col("doc_id")), Some(
      """WITH d AS (SELECT doc_id,
                 CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens
               FROM documents),
         c AS (SELECT *, coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev FROM d)
         SELECT doc_id, n_tokens, CAST(prev // 512 AS BIGINT) AS seq_id,
                CAST(prev % 512 AS BIGINT) AS offset
         FROM c ORDER BY doc_id""")),
    "corpus_shuffle" -> Declared(q(Sampling.corpusShuffle(_)),
      Seq(col("rank")), Some(
      """WITH h AS (SELECT doc_id,
                 (((doc_id % 1000000007) + 1000000007) % 1000000007 * 2654435761) % 1000000007 AS h
               FROM documents)
         SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rank, doc_id, h
         FROM h ORDER BY rank""")),
    "substring_fp" -> Declared(q(Dedup.substringFingerprints(_)),
      Seq(col("doc_id"), col("fp")), Some(winnowFpSql + " SELECT doc_id, fp FROM fpd ORDER BY doc_id, fp")),
    "substring_dedup" -> Declared(q(Dedup.substringDedup(_)),
      Seq(col("id_a"), col("id_b")), Some(winnowFpSql +
      """, cool AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 1000)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM fpd a JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
         JOIN cool c ON c.fp = a.fp
         GROUP BY 1, 2 ORDER BY id_a, id_b""")),
    "containment" -> Declared(q(Dedup.containment(_)),
      Seq(col("id_a"), col("id_b")), Some(winnowFpSql +
      """, hot AS (SELECT fp FROM fpd GROUP BY fp HAVING count(*) > 1000),
         cf AS (SELECT f.doc_id, f.fp FROM fpd f ANTI JOIN hot h USING (fp)),
         sz AS (SELECT doc_id, count(*) AS n_fp FROM cf GROUP BY 1),
         sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
                FROM cf a JOIN cf b ON a.fp = b.fp AND a.doc_id <> b.doc_id GROUP BY 1, 2),
         sc AS (SELECT sh.id_a, sh.id_b, CAST(sh.n_shared AS BIGINT) AS n_shared,
                  floor((CAST(sh.n_shared AS DOUBLE)/sz.n_fp)*10000.0 + 0.5)/10000.0 AS containment
                FROM sh JOIN sz ON sz.doc_id = sh.id_a)
         SELECT id_a, id_b, n_shared, containment FROM sc
         WHERE containment >= 0.5 ORDER BY id_a, id_b""")),
    "normalize_text" -> Declared(q(TextAnalysis.normalizeText(_)),
      Seq(col("doc_id")), Some(
      """WITH n AS (SELECT doc_id, text,
             nfc_normalize(regexp_replace(trim(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')), '\s+', ' ', 'g')) AS norm_text
           FROM documents)
         SELECT doc_id, norm_text, (norm_text <> text) AS changed,
           length(norm_text) AS n_chars_norm
         FROM n ORDER BY doc_id""")),
    "bm25_search" -> Declared(q(TextAnalysis.bm25Search(_)),
      Nil, Some(bm25Sql +
      """ SELECT doc_id, n_terms, score FROM bm
         ORDER BY score DESC, doc_id LIMIT 20""")),
    // C67 is DEFINED row-identical to C35 (same formulas over the
    // materialized index) — shared oracle string, the C22/C22b precedent
    "bm25_indexed" -> Declared(((s, dir) => TextAnalysis.bm25IndexedQuery(Tables(s, dir), dir)),
      Nil, Some(bm25Sql +
      """ SELECT doc_id, n_terms, score FROM bm
         ORDER BY score DESC, doc_id LIMIT 20""")),
    // C67b's segmented state (base minus every 97th doc + that delta)
    // equals the full corpus BY CONSTRUCTION — same shared string again
    "bm25_delta" -> Declared(((s, dir) => TextAnalysis.bm25DeltaQuery(Tables(s, dir), dir)),
      Nil, Some(bm25Sql +
      """ SELECT doc_id, n_terms, score FROM bm
         ORDER BY score DESC, doc_id LIMIT 20""")),
    "bm25_compact" -> Declared(((s, dir) => TextAnalysis.bm25CompactQuery(Tables(s, dir), dir)),
      Nil, Some(bm25Sql +
      """ SELECT doc_id, n_terms, score FROM bm
         ORDER BY score DESC, doc_id LIMIT 20""")),
    "source_cap" -> Declared(q(Sampling.sourceCap(_)),
      Seq(col("source"), col("rk")), Some(
      """WITH h AS (SELECT source, doc_id,
                 (((doc_id % 1000000007) + 1000000007) % 1000000007 * 2654435761) % 1000000007 AS h
               FROM documents),
         r AS (SELECT source, doc_id, h,
                 CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk
               FROM h)
         SELECT source, rk, doc_id, h FROM r WHERE rk <= 10 ORDER BY source, rk""")),
    "ngram_lm" -> Declared(q(TextAnalysis.ngramLm(_)),
      Nil, Some(lmSql +
      """ SELECT b.w1, b.w2, b.cnt, c.ctx,
           floor(ln((b.cnt + 0.5) / (c.ctx + 128.5)) * 1000.0 + 0.5) / 1000.0 AS logp
         FROM big b JOIN ctx c USING (w1) ORDER BY w1, w2""")),
    "lm_score" -> Declared(q(TextAnalysis.lmScore(_)),
      Nil, Some(lmSql +
      """, sc AS (SELECT p.doc_id, ln((b.cnt + 0.5) / (c.ctx + 128.5)) AS lp
           FROM pairs p JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
                        JOIN ctx c ON p.w1 = c.w1)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           floor((sum(lp) / count(*)) * 1000.0 + 0.5) / 1000.0 AS avg_logp,
           floor(exp(-(sum(lp) / count(*))) * 100.0 + 0.5) / 100.0 AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""")),
    "dsir_weights" -> Declared(q(TextAnalysis.dsirWeights(_)),
      Seq(col("doc_id")), Some(dsirSql +
      """ SELECT doc_id, in_target, n_feats,
           floor(raw * 1000.0 + 0.5) / 1000.0 AS logw
         FROM s ORDER BY doc_id""")),
    "dsir_select" -> Declared(q(TextAnalysis.dsirSelect(_)),
      Nil, Some(dsirSql +
      """, sel AS (SELECT doc_id, in_target,
             floor(raw * 1000.0 + 0.5) / 1000.0 AS logw,
             ((doc_id % 1000000007 + 1000000007) % 1000000007 * 2654435761) % 1000000007 AS hm
           FROM s),
         kd AS (SELECT doc_id, in_target, logw,
             logw / 1.0 - ln(-ln((CAST(hm AS DOUBLE) + 0.5) / 1000000007.0)) AS gk
           FROM sel)
         SELECT doc_id, in_target, logw, floor(gk * 1000.0 + 0.5) / 1000.0 AS gumbel_key
         FROM kd ORDER BY gk DESC, doc_id LIMIT 200""")),
    "sample_weighted" -> Declared(q(Sampling.sampleWeighted(_)),
      Nil, Some(
      """WITH b AS (SELECT doc_id, source, n_chars + 1 AS weight,
                 ((doc_id % 1000000007 + 1000000007) % 1000000007 * 2654435761) % 1000000007 AS hm
               FROM documents),
         kd AS (SELECT doc_id, source, weight,
                 -ln((CAST(hm AS DOUBLE) + 0.5) / 1000000007.0) / CAST(weight AS DOUBLE) AS k
               FROM b)
         SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
           floor(k * 1000000000.0 + 0.5) / 1000000000.0 AS key
         FROM kd ORDER BY k, doc_id LIMIT 100""")),
    "embed_quantize" -> Declared(q(Similarity.embedQuantize(_)),
      Seq(col("vec_id")), Some(
      """WITH ex AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i, embedding
             FROM embeddings),
         ex2 AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM ex),
         st AS (SELECT i, min(v) AS lo, max(v) AS hi FROM ex2 GROUP BY i),
         lh AS (SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM st),
         cd AS (SELECT vec_id, embedding,
             list_transform(generate_series(1, len(embedding)), i ->
               CASE WHEN his[i] = los[i] THEN 0
                    ELSE CAST(least(greatest(floor((CAST(embedding[i] AS DOUBLE) - los[i])
                             / (his[i] - los[i]) * 255.0 + 0.5), 0.0), 255.0) AS INT) END) AS codes
           FROM embeddings, lh),
         rc AS (SELECT vec_id, embedding, codes,
             list_transform(generate_series(1, len(embedding)), i ->
               los[i] + CAST(codes[i] AS DOUBLE) * (his[i] - los[i]) / 255.0) AS recon
           FROM cd, lh)
         SELECT vec_id, codes[1] AS code_0, codes[2] AS code_1, codes[3] AS code_2, codes[4] AS code_3,
           floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)), i ->
                 (CAST(embedding[i] AS DOUBLE) - recon[i]) * (CAST(embedding[i] AS DOUBLE) - recon[i]))),
             (a, b) -> a + b) / len(embedding) * 100000000.0 + 0.5) / 100000000.0 AS mse
         FROM rc ORDER BY vec_id""")),
    "zorder_layout" -> Declared(q(Analytics.zorderLayout(_)),
      Seq(col("zbucket")), Some(
      """WITH z AS (SELECT l_partkey, l_suppkey, """ +
        graft.operators.Analytics.zorderKeySql("l_partkey", "l_suppkey", 16) +
      """ AS zkey FROM lineitem)
         SELECT CAST(zkey >> 16 AS BIGINT) AS zbucket, CAST(count(*) AS BIGINT) AS n_rows,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         FROM z GROUP BY 1 ORDER BY zbucket""")),
    "skew_profile" -> Declared(q(Analytics.skewProfile),
      Seq(col("digits")), Some(
      """WITH k AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1)
         SELECT CAST(length(CAST(cnt AS VARCHAR)) AS BIGINT) AS digits,
           CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt
         FROM k GROUP BY 1 ORDER BY digits""")),
    "assoc_rules" -> Declared(q(Analytics.assocRules(_)),
      Seq(col("lift").desc, col("antecedent"), col("consequent")), Some(
      """WITH i AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS item FROM lineitem),
         nb AS (SELECT count(DISTINCT ok) AS nb FROM i),
         s AS (SELECT item, count(*) AS supp FROM i GROUP BY 1),
         p AS (SELECT a.item AS ia, b.item AS ib, count(*) AS supp_ab
               FROM i a JOIN i b ON a.ok = b.ok AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT ia AS antecedent, ib AS consequent, supp_ab FROM p
               UNION ALL SELECT ib, ia, supp_ab FROM p)
         SELECT d.antecedent, d.consequent, d.supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
           floor((CAST(d.supp_ab AS DOUBLE) / sa.supp) * 10000.0 + 0.5) / 10000.0 AS conf,
           floor((CAST(d.supp_ab AS DOUBLE) * nb.nb / sa.supp / sb.supp) * 10000.0 + 0.5) / 10000.0 AS lift
         FROM d JOIN s sa ON d.antecedent = sa.item JOIN s sb ON d.consequent = sb.item CROSS JOIN nb
         ORDER BY lift DESC, antecedent, consequent LIMIT 50""")),
    "rfm_segments" -> Declared(q(Analytics.rfmSegments),
      Seq(col("c_custkey")), Some(
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
         m AS (SELECT o_custkey AS c_custkey,
                 CAST(min(date_diff('day', CAST(o_orderdate AS DATE), (SELECT mxd FROM mx))) AS BIGINT) AS recency_days,
                 count(*) AS frequency,
                 CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_cents
               FROM orders GROUP BY 1),
         c AS (SELECT
                 round(quantile_cont(CAST(recency_days AS DOUBLE), 0.25), 4) AS r25,
                 round(quantile_cont(CAST(recency_days AS DOUBLE), 0.50), 4) AS r50,
                 round(quantile_cont(CAST(recency_days AS DOUBLE), 0.75), 4) AS r75,
                 round(quantile_cont(CAST(frequency AS DOUBLE), 0.25), 4) AS f25,
                 round(quantile_cont(CAST(frequency AS DOUBLE), 0.50), 4) AS f50,
                 round(quantile_cont(CAST(frequency AS DOUBLE), 0.75), 4) AS f75,
                 round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.25), 4) AS m25,
                 round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.50), 4) AS m50,
                 round(quantile_cont(CAST(monetary_cents AS DOUBLE), 0.75), 4) AS m75
               FROM m)
         SELECT m.c_custkey, m.recency_days, m.frequency, m.monetary_cents,
           CASE WHEN m.recency_days <= c.r25 THEN 1 WHEN m.recency_days <= c.r50 THEN 2
                WHEN m.recency_days <= c.r75 THEN 3 ELSE 4 END AS r_band,
           CASE WHEN m.frequency <= c.f25 THEN 1 WHEN m.frequency <= c.f50 THEN 2
                WHEN m.frequency <= c.f75 THEN 3 ELSE 4 END AS f_band,
           CASE WHEN m.monetary_cents <= c.m25 THEN 1 WHEN m.monetary_cents <= c.m50 THEN 2
                WHEN m.monetary_cents <= c.m75 THEN 3 ELSE 4 END AS m_band
         FROM m CROSS JOIN c ORDER BY m.c_custkey""")),
    "chunk_text" -> Declared(q(TextAnalysis.chunkText(_)),
      Seq(col("doc_id"), col("chunk_id")), Some(
      """WITH wd AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0) AS ws FROM documents),
         cr AS (SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // 48)) AS cid
               FROM wd WHERE len(ws) > 0),
         ck AS (SELECT doc_id, CAST(cid AS BIGINT) AS chunk_id,
                 ws[cid * 48 + 1 : cid * 48 + 64] AS toks FROM cr)
         SELECT doc_id, chunk_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           array_to_string(toks, ' ') AS chunk_text
         FROM ck ORDER BY doc_id, chunk_id""")),
    "bpe_pairs" -> Declared(q(Bpe.bpePairs(_)),
      Nil, Some(
      """WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS word FROM documents),
         d AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY 1),
         p AS (SELECT freq, unnest(list_transform(generate_series(1, len(word) - 1),
               i -> substring(word, i, 2))) AS pair FROM d)
         SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM p
         GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""")),
    // rows-only: the merge-learning loop has no SQL oracle; BpeSpec pins
    // the textbook merges on a planted corpus
    "bpe_train" -> Declared(q(Bpe.bpeTrain(_)), Nil, None),
    "bpe_encode" -> Declared(q(Bpe.bpeEncode(_, bpeFrozenMerges)),
      Seq(col("doc_id")), Some {
      val sep = "\u001f"
      val enc = graft.operators.Bpe.encodeSqlExpr(bpeFrozenMerges, "w")
      """WITH wd AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0) AS ws FROM documents),
         e AS (SELECT doc_id, ws, list_transform(ws, w -> """ + enc + """) AS encs FROM wd),
         e2 AS (SELECT doc_id, ws, encs,
                CASE WHEN len(encs) = 0 THEN NULL ELSE string_split(encs[1], '""" + sep + """') END AS ft
              FROM e)
         SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(encs, s -> CAST(len(string_split(s, '""" + sep + """')) - 2 AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS n_bpe,
           CASE WHEN ft IS NULL THEN NULL ELSE array_to_string(ft[2:len(ft)-1], ' ') END AS first_enc
         FROM e2 ORDER BY doc_id"""
    }),
    "pmi_top" -> Declared(q(TextAnalysis.pmiTop(_)),
      Nil, Some(
      """WITH tok0 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
               FROM documents),
         tokr AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM tok0),
         tok AS (SELECT doc_id, i AS pos, ws[i] AS token FROM tokr WHERE len(ws[i]) > 0),
         pairs AS (SELECT doc_id,
                 lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                 token AS w2
               FROM tok),
         pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pairs
               WHERE w1 IS NOT NULL GROUP BY 1, 2),
         l AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS cl FROM pc GROUP BY 1),
         r AS (SELECT w2, CAST(sum(cnt) AS BIGINT) AS cr FROM pc GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM pc)
         SELECT p.w1, p.w2, p.cnt, l.cl, r.cr,
           floor(ln((CAST(p.cnt AS DOUBLE) * tot) / (CAST(l.cl AS DOUBLE) * r.cr))
             * 10000.0 + 0.5) / 10000.0 AS pmi
         FROM pc p JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN n
         WHERE p.cnt >= 5
         ORDER BY pmi DESC, w1, w2 LIMIT 50""")),
    "embed_project" -> Declared(q(Similarity.embedProject(_)),
      Seq(col("vec_id")), Some(
      """WITH p AS (SELECT vec_id,
             list_transform(generate_series(0, 15), i ->
               sqrt(3.0/16.0) * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(generate_series(1, len(embedding)), j ->
                   CASE (CAST(i AS BIGINT)*len(embedding) + (j-1)) * 2654435761 % 1000000007 % 6
                     WHEN 0 THEN CAST(embedding[j] AS DOUBLE)
                     WHEN 1 THEN -CAST(embedding[j] AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END)),
                 (a, b) -> a + b)) AS proj
           FROM embeddings)
         SELECT vec_id,
           floor(proj[1] * 1000000.0 + 0.5) / 1000000.0 AS proj_0,
           floor(proj[2] * 1000000.0 + 0.5) / 1000000.0 AS proj_1,
           floor(proj[3] * 1000000.0 + 0.5) / 1000000.0 AS proj_2,
           floor(proj[4] * 1000000.0 + 0.5) / 1000000.0 AS proj_3,
           floor(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(proj, x -> x * x)), (a, b) -> a + b)) * 10000.0 + 0.5) / 10000.0 AS pnorm
         FROM p ORDER BY vec_id""")),
    // word-granularity separator: the synthetic corpus is single-line, so
    // " " is the segment split that actually exercises keep-first/reassemble
    "line_dedup" -> Declared(q(TextAnalysis.lineDedup(_, sep = " ")),
      Seq(col("doc_id")), Some(
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS segs FROM documents),
         n AS (SELECT doc_id, segs, list_transform(segs, x -> lower(trim(x))) AS nm FROM s),
         k AS (SELECT doc_id, segs,
                 list_filter(segs, (x, i) -> list_position(nm, lower(trim(x))) = i) AS kept
               FROM n)
         SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segs, CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, ' ') AS kept_text
         FROM k ORDER BY doc_id""")),
    "rrf_fusion" -> Declared(q(TextAnalysis.rrfFusion(_)),
      Seq(col("rk")), Some(bm25Sql +
      """, bmt AS (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 50),
         bmr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS bm25_rank FROM bmt),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         dsc AS (SELECT vec_id, floor((list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
           FROM embeddings, qv WHERE vec_id <> 0),
         dst AS (SELECT vec_id, sim FROM dsc ORDER BY sim DESC, vec_id LIMIT 50),
         dsr AS (SELECT vec_id AS doc_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS dense_rank FROM dst),
         f AS (SELECT coalesce(bmr.doc_id, dsr.doc_id) AS doc_id, bm25_rank, dense_rank,
                 floor((coalesce(CAST(1.0 AS DOUBLE)/(60 + bm25_rank), 0.0)
                      + coalesce(CAST(1.0 AS DOUBLE)/(60 + dense_rank), 0.0)) * 1000000.0 + 0.5)/1000000.0 AS rrf
               FROM bmr FULL OUTER JOIN dsr ON bmr.doc_id = dsr.doc_id),
         ft AS (SELECT doc_id, bm25_rank, dense_rank, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 20)
         SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk,
           doc_id, bm25_rank, dense_rank, rrf
         FROM ft ORDER BY rk""")),
    "semdedup" -> Declared(q(Similarity.semDedup(_)),
      Seq(col("vec_id")), Some(
      """WITH cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell_id, embedding AS cent
               FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
                     LIMIT (SELECT greatest(16, (count(*) + 1023) // 1024) FROM embeddings))),
         asg AS (SELECT vec_id, label, embedding, cell_id, sc FROM (
             SELECT e.vec_id, e.label, e.embedding, c.cell_id,
               floor((list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sc,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY (list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))))) DESC, c.cell_id) AS rk
             FROM embeddings e, cents c) s WHERE rk = 1),
         dr AS (SELECT DISTINCT CASE WHEN a.sc > b.sc THEN a.vec_id ELSE b.vec_id END AS vec_id
                FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
                WHERE floor((list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
                    * sqrt(list_sum(list_transform(generate_series(1,len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 >= 0.25)
         SELECT g.vec_id, g.label, g.cell_id, g.sc AS sim_centroid, dr.vec_id IS NULL AS kept
         FROM asg g LEFT JOIN dr ON g.vec_id = dr.vec_id ORDER BY g.vec_id""")),
    "pq_encode" -> Declared(q(Similarity.pqEncode(_)),
      Seq(col("vec_id")), Some(pqSql +
      """ SELECT vec_id,
           max(CASE WHEN s=0 THEN c END) AS code_0,
           max(CASE WHEN s=1 THEN c END) AS code_1,
           max(CASE WHEN s=2 THEN c END) AS code_2,
           max(CASE WHEN s=3 THEN c END) AS code_3,
           floor((max(CASE WHEN s=0 THEN d2 END) + max(CASE WHEN s=1 THEN d2 END)
                + max(CASE WHEN s=2 THEN d2 END) + max(CASE WHEN s=3 THEN d2 END))
               / max(dims) * 100000000.0 + 0.5) / 100000000.0 AS qerr
         FROM bz GROUP BY vec_id ORDER BY vec_id""")),
    // rows-only by design (composes the eigensolve above with C43's PQ;
    // OPQ-lite distortion-drop + determinism ScalaTests in SemDedupPqSpec)
    "pq_whiten" -> Declared(q(Similarity.pqEncodeWhitened(_)), Nil, None),
    "ann_pq" -> Declared(q(Similarity.annPq(_)),
      Seq(col("adist"), col("vec_id")), Some(pqSql +
      """, qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ad AS (SELECT b.vec_id, b.s,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(qe)//4), j ->
                 (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE))
                 * (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE)))),
               (a, x) -> a + x) AS qd
           FROM bz b JOIN cb ON cb.c = b.c, qv
           WHERE b.vec_id <> 0),
         tot AS (SELECT vec_id,
             floor((max(CASE WHEN s=0 THEN qd END) + max(CASE WHEN s=1 THEN qd END)
                  + max(CASE WHEN s=2 THEN qd END) + max(CASE WHEN s=3 THEN qd END)) * 1000000.0 + 0.5)/1000000.0 AS adist
           FROM ad GROUP BY vec_id)
         SELECT vec_id, adist FROM tot ORDER BY adist, vec_id LIMIT 10""")),
    "pq_refine" -> Declared(q(Similarity.pqRefine(_)),
      Seq(col("sim").desc, col("vec_id")), Some(pqSql +
      """, qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ad AS (SELECT b.vec_id, b.s,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(qe)//4), j ->
                 (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE))
                 * (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE)))),
               (a, x) -> a + x) AS qd
           FROM bz b JOIN cb ON cb.c = b.c, qv
           WHERE b.vec_id <> 0),
         tot AS (SELECT vec_id,
             floor((max(CASE WHEN s=0 THEN qd END) + max(CASE WHEN s=1 THEN qd END)
                  + max(CASE WHEN s=2 THEN qd END) + max(CASE WHEN s=3 THEN qd END)) * 1000000.0 + 0.5)/1000000.0 AS adist
           FROM ad GROUP BY vec_id),
         short AS (SELECT vec_id, adist FROM tot ORDER BY adist, vec_id LIMIT 50),
         ex AS (SELECT s.vec_id, s.adist, floor((
             list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
           FROM short s JOIN embeddings e ON e.vec_id = s.vec_id, qv)
         SELECT vec_id, adist, sim FROM ex ORDER BY sim DESC, vec_id LIMIT 10""")),
    "ann_ivf_pq" -> Declared(q(Similarity.annIvfPq(_)),
      Seq(col("adist"), col("vec_id")), Some(pqSql +
      """, cents AS (SELECT vec_id AS cell_id, embedding AS cent FROM embeddings ORDER BY vec_id LIMIT 16),
         qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         assigned AS (SELECT vec_id, cell_id FROM (
             SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY (list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(generate_series(1,len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE)*CAST(e.embedding[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))))) DESC, c.cell_id) AS rk
             FROM embeddings e, cents c) s WHERE rk = 1),
         qcells AS (SELECT cell_id FROM (SELECT c.cell_id, (list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))) / (sqrt(list_sum(list_transform(generate_series(1,len(c.cent)), i -> CAST(c.cent[i] AS DOUBLE)*CAST(c.cent[i] AS DOUBLE)))) * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))))) AS qs FROM cents c, qv) s
                    ORDER BY qs DESC, cell_id LIMIT 4),
         ad AS (SELECT b.vec_id, b.s,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, len(qe)//4), j ->
                 (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE))
                 * (CAST(qe[b.s*(len(qe)//4)+j] AS DOUBLE) - CAST(cb.cent[b.s*(len(qe)//4)+j] AS DOUBLE)))),
               (a, x) -> a + x) AS qd
           FROM bz b JOIN cb ON cb.c = b.c, qv
           WHERE b.vec_id <> 0),
         tot AS (SELECT vec_id,
             floor((max(CASE WHEN s=0 THEN qd END) + max(CASE WHEN s=1 THEN qd END)
                  + max(CASE WHEN s=2 THEN qd END) + max(CASE WHEN s=3 THEN qd END)) * 1000000.0 + 0.5)/1000000.0 AS adist
           FROM ad GROUP BY vec_id)
         SELECT t.vec_id, t.adist
         FROM tot t JOIN assigned a ON a.vec_id = t.vec_id JOIN qcells qc ON qc.cell_id = a.cell_id
         ORDER BY t.adist, t.vec_id LIMIT 10""")),
    "classifier_score" -> Declared(q(TextAnalysis.classifierScore(_)),
      Seq(col("doc_id")), Some(
      """WITH tok0 AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> len(t) > 0) AS ws
           FROM documents),
         ft AS (SELECT doc_id, list_transform(
             ws || list_transform(generate_series(1, greatest(len(ws) - 1, 0)), i -> ws[i] || ' ' || ws[i+1]),
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(s, ''), x -> CAST(ascii(x) AS BIGINT))),
                  (acc, x) -> (acc * 31 + x) % 1000000007) % 1024) AS feats
           FROM tok0),
         sc AS (SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(feats, bk -> CAST((bk * 2654435761) % 1000 - 500 AS DOUBLE) / 1000.0)),
               (a, c) -> a + c) AS z
           FROM ft)
         SELECT doc_id, n_feats, floor(z * 10000.0 + 0.5) / 10000.0 AS logit, z >= 0 AS keep
         FROM sc ORDER BY doc_id""")),
    "canonical_select" -> Declared(q(TextAnalysis.canonicalSelect(_)),
      Seq(col("doc_id")), Some(
      """WITH sc AS (SELECT doc_id,
             md5(lower(trim(regexp_replace(text,'\s+',' ','g')))) AS content_hash,
             CAST(CASE source WHEN 'src3' THEN 0 WHEN 'src7' THEN 1 WHEN 'src11' THEN 2
                  ELSE 3 END AS BIGINT) AS pri
           FROM documents),
         b AS (SELECT content_hash,
             (min(struct_pack(p := pri, d := doc_id))).d AS keep_doc_id,
             count(*) AS n_copies
           FROM sc GROUP BY 1)
         SELECT sc.doc_id, sc.content_hash, b.keep_doc_id, b.n_copies,
           sc.doc_id = b.keep_doc_id AS is_canonical
         FROM sc JOIN b USING (content_hash) ORDER BY doc_id""")),
    "boilerplate_segs" -> Declared(q(TextAnalysis.boilerplateSegs(_)),
      Seq(col("doc_id")), Some(
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS segs FROM documents),
         nn AS (SELECT count(*) AS n FROM documents),
         f AS (SELECT seg, count(*) AS df FROM (
             SELECT doc_id, unnest(list_distinct(list_transform(segs, s -> lower(trim(s))))) AS seg
             FROM d) s
           WHERE len(seg) > 0 GROUP BY 1),
         bl AS (SELECT coalesce(list(seg), []) AS b
           FROM f, nn WHERE df >= (n * 300 + 999) // 1000),
         k AS (SELECT doc_id, segs,
             list_filter(segs, s -> NOT list_contains(b, lower(trim(s)))) AS kept
           FROM d CROSS JOIN bl)
         SELECT doc_id, CAST(len(segs) AS BIGINT) AS n_segs,
           CAST(len(kept) AS BIGINT) AS n_kept,
           coalesce(array_to_string(kept, ' '), '') AS kept_text
         FROM k ORDER BY doc_id""")),
    "ngram_counts" -> Declared(q(TextAnalysis.ngramCounts(_)),
      Nil, Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END) AS gram
           FROM tk)
         SELECT gram, count(*) AS tf, count(DISTINCT doc_id) AS df
         FROM g WHERE len(gram) > 0 GROUP BY 1 ORDER BY tf DESC, gram LIMIT 20""")),
    "ppl_bucket" -> Declared(q(TextAnalysis.pplBucket(_)),
      Seq(col("doc_id")), Some(lmSql +
      """, sc AS (SELECT p.doc_id, ln((b.cnt + 0.5) / (c.ctx + 128.5)) AS lp
           FROM pairs p JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
                        JOIN ctx c ON p.w1 = c.w1),
         ds AS (SELECT doc_id, floor(exp(-(sum(lp) / count(*))) * 100.0 + 0.5) / 100.0 AS ppl
           FROM sc GROUP BY doc_id),
         dl AS (SELECT ds.doc_id, d.lang, ds.ppl FROM ds JOIN documents d USING (doc_id)),
         h AS (SELECT lang, ppl, count(*) AS cnt FROM dl GROUP BY 1, 2),
         nn AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY 1),
         cm AS (SELECT lang, ppl, sum(cnt) OVER (PARTITION BY lang ORDER BY ppl) AS cum FROM h),
         ct AS (SELECT cm.lang, ii.i, min(cm.ppl) AS c
           FROM cm JOIN nn USING (lang)
           CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS i) ii
           WHERE cm.cum >= (ii.i * nn.n + 2) // 3 GROUP BY 1, 2),
         ctd AS (SELECT DISTINCT lang, c FROM ct)
         SELECT dl.doc_id, dl.lang, dl.ppl,
           CAST(sum(CASE WHEN dl.ppl > ctd.c THEN 1 ELSE 0 END) AS BIGINT) AS band
         FROM dl JOIN ctd USING (lang)
         GROUP BY 1, 2, 3 ORDER BY doc_id""")),
    "budget_select" -> Declared(q(Sampling.budgetSelect(_)),
      Seq(col("doc_id")), Some(
      """WITH b AS (SELECT doc_id, source, length(text) AS n_chars,
           CASE WHEN length(trim(text))=0 THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_words,
           len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
             w -> w IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(regexp_extract_all(text,'[.!?,;:]')) AS n_punct
         FROM documents),
         q AS (SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_tokens,
           floor((0.4*least(CAST(n_words AS DOUBLE)/100.0, 1.0)
             + 0.3*(CASE WHEN n_words=0 THEN 0.0 ELSE floor((CAST(n_stop AS DOUBLE)/n_words)*10000.0 + 0.5)/10000.0 END)*5.0
             + 0.3*(1.0 - CASE WHEN n_chars=0 THEN 0.0 ELSE floor((CAST(n_punct AS DOUBLE)/n_chars)*10000.0 + 0.5)/10000.0 END))*10000.0 + 0.5)/10000.0 AS quality
         FROM b),
         w AS (SELECT *, coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM q)
         SELECT doc_id, source, n_tokens, quality, cum_before < 500 AS selected
         FROM w ORDER BY doc_id""")),
    "entropy_score" -> Declared(q(TextAnalysis.entropyScore(_)),
      Seq(col("doc_id")), Some(
      """WITH cs AS (SELECT doc_id, list_transform(
             list_filter(string_split(text, ''), c -> len(c) > 0), c -> unicode(c)) AS cps
           FROM documents),
         g AS (SELECT doc_id, cp, count(*) AS c FROM (SELECT doc_id, unnest(cps) AS cp FROM cs) s GROUP BY 1, 2),
         n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_cps, count(*) AS n_distinct FROM g GROUP BY 1),
         e AS (SELECT g.doc_id,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(-(CAST(c AS DOUBLE)/n_cps) * ln(CAST(c AS DOUBLE)/n_cps) ORDER BY cp)),
               (a, b) -> a + b) AS h
           FROM g JOIN n USING (doc_id) GROUP BY g.doc_id,
             n.n_cps)
         SELECT d.doc_id,
           coalesce(n.n_cps, 0) AS n_cps, coalesce(n.n_distinct, 0) AS n_distinct,
           coalesce(floor(e.h * 10000.0 + 0.5) / 10000.0, 0.0) AS entropy
         FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN e USING (doc_id)
         ORDER BY d.doc_id""")),
    "source_kl" -> Declared(q(TextAnalysis.sourceKl(_)),
      Seq(col("source")), Some(
      """WITH tok AS (SELECT source, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
             x -> len(x) > 0)) AS w
           FROM documents),
         v AS (SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY 1 ORDER BY c DESC, w LIMIT 256) t),
         m AS (SELECT source, CASE WHEN v.w IS NULL THEN '<unk>' ELSE tok.w END AS w
           FROM tok LEFT JOIN v ON tok.w = v.w),
         sc AS (SELECT source, w, count(*) AS cnt FROM m GROUP BY 1, 2),
         ns AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM sc GROUP BY 1),
         cw AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS c FROM sc GROUP BY 1),
         nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM sc),
         term AS (SELECT sc.source, sc.w,
             (CAST(sc.cnt AS DOUBLE)/ns.n) * ln((CAST(sc.cnt AS DOUBLE)/ns.n) / (CAST(cw.c AS DOUBLE)/nn.tot)) AS kt
           FROM sc JOIN ns USING (source) JOIN cw USING (w) CROSS JOIN nn),
         k AS (SELECT source, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(kt ORDER BY w)),
             (a, b) -> a + b) AS kl
           FROM term GROUP BY 1)
         SELECT k.source, ns.n AS n_tokens, floor(k.kl * 10000.0 + 0.5) / 10000.0 AS kl
         FROM k JOIN ns USING (source) ORDER BY source""")),
    "html_strip" -> Declared(q(TextAnalysis.htmlStrip),
      Seq(col("doc_id")), Some(
      """WITH s AS (SELECT doc_id,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(
                 regexp_replace(text, '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')) AS clean,
             length(text) AS raw_len
           FROM documents)
         SELECT doc_id, clean, raw_len, length(clean) AS clean_len,
           floor(((raw_len - length(clean)) * 1.0 / greatest(raw_len, 1)) * 10000.0 + 0.5) / 10000.0 AS markup_frac
         FROM s ORDER BY doc_id""")),
    "ngram_diversity" -> Declared(q(TextAnalysis.ngramDiversity),
      Seq(col("source"), col("n")), Some(
      """WITH toks AS (SELECT source,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         uni AS (SELECT source, 1 AS n, unnest(tk) AS gram FROM toks),
         bi AS (SELECT source, 2 AS n,
             unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS gram
           FROM toks WHERE len(tk) >= 2),
         g AS (SELECT source, n, gram, count(*) AS c
           FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u GROUP BY 1, 2, 3)
         SELECT source, n, CAST(sum(c) AS BIGINT) AS total, count(*) AS distinct_grams,
           floor((count(*) * 1.0 / CAST(sum(c) AS BIGINT)) * 10000.0 + 0.5) / 10000.0 AS diversity
         FROM g GROUP BY 1, 2 ORDER BY source, n""")),
    // rows-only: DuckDB's HLL is a different sketch; HllSpec pins the 3-sigma
    // error bound
    "hll_distinct" -> Declared(q(TextAnalysis.hllDistinct(_)), Seq(col("source")), None),
    "cooccur_top" -> Declared(q(TextAnalysis.cooccurTop(_)),
      Nil, Some(
      """WITH toks AS (SELECT
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0) AS tk
           FROM documents),
         p1 AS (SELECT unnest(list_transform(range(1, len(tk)),
               i -> {'w1': tk[i], 'w2': tk[i+1]})) AS p, CAST(2 AS BIGINT) AS u
           FROM toks WHERE len(tk) >= 2),
         p2 AS (SELECT unnest(list_transform(range(1, len(tk) - 1),
               i -> {'w1': tk[i], 'w2': tk[i+2]})) AS p, CAST(1 AS BIGINT) AS u
           FROM toks WHERE len(tk) >= 3),
         a AS (SELECT (p).w1 AS w1, (p).w2 AS w2, u FROM p1
           UNION ALL SELECT (p).w1, (p).w2, u FROM p2),
         g AS (SELECT w1, w2, count(*) AS cnt, CAST(sum(u) AS BIGINT) AS units
           FROM a GROUP BY 1, 2)
         SELECT w1, w2, cnt, units,
           floor((units / 2.0) * 10000.0 + 0.5) / 10000.0 AS weight
         FROM g ORDER BY units DESC, w1, w2 LIMIT 50""")),
    "zipf_fit" -> Declared(q(TextAnalysis.zipfFit(_)),
      Nil, Some(
      """WITH c AS (SELECT w, count(*) AS c FROM (
             SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0)) AS w
             FROM documents) s
           GROUP BY 1 ORDER BY c DESC, w LIMIT 128),
         rk AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
             ln(CAST(c AS DOUBLE)) AS y, row_number() OVER (ORDER BY c DESC, w) AS r
           FROM c),
         sums AS (SELECT CAST(count(*) AS INTEGER) AS n_terms,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x ORDER BY r)), (a, b) -> a + b) AS sx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(y ORDER BY r)), (a, b) -> a + b) AS sy,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * x ORDER BY r)), (a, b) -> a + b) AS sxx,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(x * y ORDER BY r)), (a, b) -> a + b) AS sxy
           FROM rk),
         fit AS (SELECT n_terms, sx, sy,
             (sxy * n_terms - sx * sy) / (sxx * n_terms - sx * sx) AS slope_raw
           FROM sums WHERE n_terms >= 2)
         SELECT n_terms,
           floor(slope_raw * 10000.0 + 0.5) / 10000.0 AS slope,
           floor(((sy - slope_raw * sx) / n_terms) * 10000.0 + 0.5) / 10000.0 AS intercept
         FROM fit""")),
    "graph_pagerank" -> Declared(q(Analytics.graphPagerank(_)), Nil, Some(pagerankSql(5, 20))),
    "mmr_select" -> Declared(q(Similarity.mmrSelect(_)), Nil, Some(mmrSql(50, 10, "0.7", "0.3"))),
    "domain_counts" -> Declared(q(TextAnalysis.domainCounts(_)),
      Nil, Some(
      """WITH u AS (SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[^\s]+', 0)) AS url
           FROM documents),
         h AS (SELECT doc_id,
             regexp_replace(regexp_extract(url, 'https?://([^/:?#\s]+)', 1), '^www\.', '') AS domain
           FROM u),
         m AS (SELECT domain, doc_id, count(*) AS c FROM h WHERE len(domain) > 0 GROUP BY 1, 2)
         SELECT domain, CAST(sum(c) AS BIGINT) AS mentions, count(*) AS n_docs
         FROM m GROUP BY 1 ORDER BY mentions DESC, domain LIMIT 50""")),
    "tok_fertility" -> Declared(q(TextAnalysis.tokFertility),
      Seq(col("lang")), Some(
      """WITH b AS (SELECT lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re,
             strlen(text) AS bytes
           FROM documents),
         g AS (SELECT lang, count(*) AS n_docs, CAST(sum(ws) AS BIGINT) AS n_ws_tokens,
             CAST(sum(re) AS BIGINT) AS n_re_tokens, CAST(sum(bytes) AS BIGINT) AS n_bytes
           FROM b GROUP BY 1)
         SELECT lang, n_docs, n_ws_tokens, n_re_tokens, n_bytes,
           floor((n_re_tokens * 1.0 / greatest(n_ws_tokens, 1)) * 10000.0 + 0.5) / 10000.0 AS fertility,
           floor((n_bytes * 1.0 / greatest(n_re_tokens, 1)) * 10000.0 + 0.5) / 10000.0 AS bytes_per_token
         FROM g ORDER BY lang""")),
    "graph_cc" -> Declared(q(Analytics.graphCC(_)),
      Seq(col("n_nodes").desc, col("component")), Some(graphCcSql)),
    "graph_lpa" -> Declared(q(Analytics.graphLpa(_)), Nil, Some(lpaSql(5, 20))),
    "phrase_search" -> Declared(q(TextAnalysis.phraseSearch(_)), Nil, Some(phraseSql("table hash", 20))),
    "phrase_indexed" -> Declared(((s, dir) => TextAnalysis.phraseIndexedQuery(Tables(s, dir), dir)),
      Nil, Some(phraseSql("table hash", 20))),
    "triangle_count" -> Declared(q(Analytics.triangleCount(_)),
      Nil, Some(
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS s FROM lineitem),
         e AS (SELECT DISTINCT a.s AS a, b.s AS b FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
         deg AS (SELECT n, count(*) AS d FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) u GROUP BY 1),
         o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS src,
                      CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS dst
               FROM e JOIN deg da ON e.a = da.n JOIN deg db ON e.b = db.n),
         w AS (SELECT o1.src AS src, o1.dst AS x, o2.dst AS y
               FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
         c AS (SELECT count(*) AS n_triangles FROM w
               SEMI JOIN (SELECT src AS x, dst AS y FROM o
                          UNION ALL SELECT dst AS x, src AS y FROM o) oo USING (x, y))
         SELECT (SELECT count(*) FROM deg) AS n_nodes,
                (SELECT count(*) FROM e) AS n_edges,
                n_triangles
         FROM c""")),
    "session_paths" -> Declared(q(EventAnalytics.sessionPaths(_)),
      Seq(col("n_sessions").desc, col("path")), Some(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
         f AS (SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000 OR lag(us) OVER w IS NULL
                 THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) AS session_id FROM f),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id ORDER BY us, event_id) AS rn FROM s),
         p AS (SELECT user_id, session_id, string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 5 GROUP BY 1, 2)
         SELECT path, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users
         FROM p GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20""")),
    "anomaly_days" -> Declared(q(EventAnalytics.anomalyDays(_)),
      Seq(col("event_type"), col("day")), Some(
      """WITH d AS (SELECT event_type, epoch_ns(ts)//1000//86400000000 AS day, count(*) AS n_events
                    FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, round(quantile_cont(CAST(n_events AS DOUBLE), 0.5),4) AS med
               FROM d GROUP BY 1),
         e AS (SELECT d.*, m.med, abs(n_events - med) AS dev FROM d JOIN m USING (event_type)),
         md AS (SELECT event_type, round(quantile_cont(dev, 0.5),4) AS mad FROM e GROUP BY 1)
         SELECT e.event_type, e.day, e.n_events, e.med, md.mad
         FROM e JOIN md USING (event_type)
         WHERE e.dev > 2.0 * md.mad
         ORDER BY 1, 2""")),
    "funnel_latency" -> Declared(q(EventAnalytics.funnelLatency(_)),
      Seq(col("stage")), Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us FROM events),
         s1 AS (SELECT user_id, min(us) AS t FROM e WHERE event_type='view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s1 ON e.user_id=s1.user_id AND e.us > s1.t
                WHERE e.event_type='click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.us) AS t FROM e JOIN s2 ON e.user_id=s2.user_id AND e.us > s2.t
                WHERE e.event_type='purchase' GROUP BY 1),
         u AS (SELECT CAST(1 AS BIGINT) AS stage, 'view>click' AS transition, s2.t - s1.t AS lat
                 FROM s1 JOIN s2 ON s1.user_id = s2.user_id
               UNION ALL
               SELECT 2, 'click>purchase', s3.t - s2.t
                 FROM s2 JOIN s3 ON s2.user_id = s3.user_id)
         , st AS (SELECT stage, transition, CAST(count(*) AS BIGINT) AS n_users,
                  floor((CAST(sum(lat) AS DOUBLE) / count(*)) * 10000.0 + 0.5)/10000.0 AS mean_us
                FROM u GROUP BY 1,2),
         q AS (SELECT transition, CAST(lat AS DOUBLE) AS v,
                 CAST(row_number() OVER (PARTITION BY transition ORDER BY lat) AS BIGINT) AS rn,
                 CAST(count(*) OVER (PARTITION BY transition) AS BIGINT) AS n
               FROM u),
         -- quantile_cont is numerically a DIFFERENT expression tree; at
         -- ~4e11 us latencies the 4 dp round needs ~16 significant digits,
         -- so the oracle mirrors the engine's exact interpolation
         -- lo + frac*(hi-lo) term for term (caught live at sf1)
         pq0 AS (SELECT transition,
                 max(CASE WHEN rn = CAST(floor((n-1)*CAST(0.5 AS DOUBLE)) AS BIGINT)+1 THEN v END)
                   + ((max(n)-1)*CAST(0.5 AS DOUBLE) - floor((max(n)-1)*CAST(0.5 AS DOUBLE))) *
                     (max(CASE WHEN rn = least(CAST(floor((n-1)*CAST(0.5 AS DOUBLE)) AS BIGINT)+2, n) THEN v END)
                      - max(CASE WHEN rn = CAST(floor((n-1)*CAST(0.5 AS DOUBLE)) AS BIGINT)+1 THEN v END)) AS r50,
                 max(CASE WHEN rn = CAST(floor((n-1)*CAST(0.9 AS DOUBLE)) AS BIGINT)+1 THEN v END)
                   + ((max(n)-1)*CAST(0.9 AS DOUBLE) - floor((max(n)-1)*CAST(0.9 AS DOUBLE))) *
                     (max(CASE WHEN rn = least(CAST(floor((n-1)*CAST(0.9 AS DOUBLE)) AS BIGINT)+2, n) THEN v END)
                      - max(CASE WHEN rn = CAST(floor((n-1)*CAST(0.9 AS DOUBLE)) AS BIGINT)+1 THEN v END)) AS r90
               FROM q GROUP BY transition),
         -- the engine's deterministic rounding contract (exactQuantiles):
         -- floor half-up idiom under |x| < 1e14, pass-through above
         pq AS (SELECT transition,
                 CASE WHEN abs(r50) < 100000000000000.0 THEN floor(r50 * 10000.0 + 0.5) / 10000.0 ELSE r50 END AS p50_us,
                 CASE WHEN abs(r90) < 100000000000000.0 THEN floor(r90 * 10000.0 + 0.5) / 10000.0 ELSE r90 END AS p90_us
               FROM pq0)
         SELECT stage, transition, n_users, mean_us, p50_us, p90_us
         FROM st JOIN pq USING (transition) ORDER BY stage""")),
    "event_transitions" -> Declared(q(EventAnalytics.eventTransitions(_)),
      Seq(col("n").desc, col("from_type"), col("to_type")), Some(
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts)//1000 AS us, event_id FROM events),
         p AS (SELECT user_id, event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
               FROM e)
         SELECT from_type, to_type, count(*) AS n, count(DISTINCT user_id) AS n_users
         FROM p WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY n DESC, from_type, to_type LIMIT 20""")),
    "props_profile" -> Declared(q(EventAnalytics.propsProfile(_)),
      Seq(col("event_type")), Some(
      """WITH e AS (SELECT event_type,
             CAST(NULLIF(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS INT) AS k
           FROM events)
         SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
           count(DISTINCT k) AS n_distinct, min(k) AS k_min, max(k) AS k_max,
           floor(avg(CAST(k AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS k_mean
         FROM e GROUP BY 1 ORDER BY event_type""")),
    "novelty_score" -> Declared(q(TextAnalysis.noveltyScore(_)),
      Seq(col("doc_id")), Some(
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         ref AS (SELECT DISTINCT s.h FROM s JOIN documents d USING (doc_id)
                 WHERE d.source IN ('src0','src1','src2','src3')),
         pr AS (SELECT s.doc_id, count(*) AS n,
                  sum(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS known
                FROM s LEFT JOIN ref r ON s.h = r.h GROUP BY 1)
         SELECT doc_id, CAST(n AS BIGINT) AS n_shingles,
           floor((1.0 - CAST(known AS DOUBLE)/n) * 10000.0 + 0.5) / 10000.0 AS novelty
         FROM pr ORDER BY doc_id"""))
  )

  /** Every declared query: its library plan plus its driver-boundary sort. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map { case (name, d) =>
      name -> ((s: SparkSession, dir: String) => {
        val df = d.plan(s, dir)
        if (d.order.isEmpty) df else df.orderBy(d.order: _*)
      })
    }

  /** The DuckDB oracle of every declared query that has one. */
  lazy val oracleSql: Map[String, String] =
    declared.collect { case (name, Declared(_, _, Some(sql))) => name -> sql }

  /** The declared queries named in the comma-separated `names` (all of
    * them when absent), sorted by name; fails fast on an unknown name.
    */
  def select(names: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    wanted.foreach { ns =>
      val unknown = ns -- queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    queries.toSeq.sortBy(_._1).filter { case (name, _) => wanted.forall(_.contains(name)) }
  }

  /** ann_batch and ann_batch_agg are documented oracle-identical — one
    * shared string so they can never silently desynchronize.
    */
  private val annBatchOracle =
    """WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
       s AS (SELECT q_id, vec_id, floor((
           list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1,len(embedding)), i -> CAST(embedding[i] AS DOUBLE)*CAST(embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1,len(qe)), i -> CAST(qe[i] AS DOUBLE)*CAST(qe[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0 AS sim
         FROM embeddings, q WHERE vec_id <> q_id),
       r AS (SELECT q_id, vec_id, sim,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rk
             FROM s)
       SELECT q_id, rk, vec_id, sim FROM r WHERE rk <= 5 ORDER BY q_id, rk"""

  /** Exact cosine between two list columns in DuckDB SQL — the same
    * left-to-right double accumulation over float elements as the
    * graft_cosine kernel (Kernels.cosineF), so values agree bit-for-bit.
    */
  private def cosSql(e: String, c: String): String =
    s"(list_sum(list_transform(generate_series(1,len($e)), i -> CAST($e[i] AS DOUBLE)*CAST($c[i] AS DOUBLE))) / " +
      s"(sqrt(list_sum(list_transform(generate_series(1,len($e)), i -> CAST($e[i] AS DOUBLE)*CAST($e[i] AS DOUBLE)))) * " +
      s"sqrt(list_sum(list_transform(generate_series(1,len($c)), i -> CAST($c[i] AS DOUBLE)*CAST($c[i] AS DOUBLE))))))"

  /** SQL-UNROLLED k-means (r16 verdict #8): the training loop
    * (Similarity.kmeansCentroids) is deterministic — first-k init in
    * vec_id order, a fixed iteration count, argmax-cosine assignment
    * with first-position tie-break, float32-rounded per-cell means,
    * empty cells keeping their previous centroid — so each iteration
    * unrolls into two CTEs (assign against cent{i-1}; mean into cent{i})
    * and DuckDB can mirror the whole refinement. Float32 rounding of
    * the means (CAST AS REAL) absorbs cross-engine summation-order ulps,
    * the same way the 4-decimal sim rounding does for scores.
    */
  private def kmeansCentroidCtes(k: Int, iters: Int): String = {
    val init =
      s"""cent0 AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell_id, embedding AS cent
         FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k) ik)"""
    val steps = (1 to iters).map { it =>
      s"""asg$it AS (SELECT vec_id, cell_id FROM (
           SELECT e.vec_id, c.cell_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cell_id) AS rk
           FROM embeddings e, cent${it - 1} c) s WHERE rk = 1),
       upd$it AS (SELECT cell_id, list(mr ORDER BY pos) AS cent FROM (
           SELECT cell_id, pos, CAST(avg(v) AS REAL) AS mr FROM (
             SELECT a.cell_id, CAST(unnest(e.embedding) AS DOUBLE) AS v,
                    generate_subscripts(e.embedding, 1) AS pos
             FROM asg$it a JOIN embeddings e USING (vec_id)) ex
           GROUP BY cell_id, pos) mm GROUP BY cell_id),
       cent$it AS (SELECT p.cell_id, COALESCE(u.cent, p.cent) AS cent
           FROM cent${it - 1} p LEFT JOIN upd$it u ON p.cell_id = u.cell_id)"""
    }
    (init +: steps).mkString(",\n       ")
  }

  private def kmeansOracle(k: Int, iters: Int): String =
    s"""WITH ${kmeansCentroidCtes(k, iters)},
       asgF AS (SELECT vec_id, cell_id FROM (
           SELECT e.vec_id, c.cell_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cell_id) AS rk
           FROM embeddings e, cent$iters c) s WHERE rk = 1)
       SELECT e.vec_id, e.label, a.cell_id,
              floor((${cosSql("e.embedding", "c.cent")})*10000.0 + 0.5)/10000.0 AS sim_to_centroid
       FROM embeddings e JOIN asgF a USING (vec_id) JOIN cent$iters c ON a.cell_id = c.cell_id
       ORDER BY e.vec_id"""

  /** SQL-UNROLLED logistic-regression GD (the kmeans precedent, r17
    * verdict #8): classifierTrain is deterministic once each iteration's
    * updated weights/bias are float32-rounded — zero init, fixed
    * iteration count, the C44b feature hash and in-feature-order score
    * fold both engines already mirror bit-exactly (classifier_score),
    * integer-exact n. The REAL cast per iteration absorbs the two
    * engines' gradient summation-order and exp() last-ulp differences,
    * so each iteration unrolls into CTEs (score → resid → per-bucket
    * gradient list → updated weight list) and the final logits compare
    * hash-exact. Buckets never touched by a gradient row keep their
    * previous (already float32) value — coalesce(g, 0) reproduces that.
    */
  private def qualityClassifierOracle(b: Int, iters: Int, lr: Double): String = {
    val featCtes =
      """tok0 AS (SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> len(t) > 0) AS ws
           FROM documents),
         ft AS MATERIALIZED (SELECT doc_id, list_transform(
             ws || list_transform(generate_series(1, greatest(len(ws) - 1, 0)), i -> ws[i] || ' ' || ws[i+1]),
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(s, ''), x -> CAST(ascii(x) AS BIGINT))),
                  (acc, x) -> (acc * 31 + x) % 1000000007) % """ + b + """) AS feats
           FROM tok0),
         lbl AS MATERIALIZED (SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y FROM documents),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         w0 AS (SELECT list_transform(generate_series(1, """ + b + """), x -> CAST(0.0 AS REAL)) AS wl,
                       CAST(0.0 AS REAL) AS bias)"""
    def zCte(alias: String, wi: Int): String =
      s"""$alias AS MATERIALIZED (SELECT f.doc_id, l.y,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(f.feats, bk -> CAST(w.wl[CAST(bk AS INT) + 1] AS DOUBLE))),
             (a, c) -> a + c) + CAST(w.bias AS DOUBLE) AS z
         FROM ft f JOIN lbl l USING (doc_id) CROSS JOIN w$wi w)"""
    val steps = (1 to iters).map { it =>
      s"""${zCte(s"z$it", it - 1)},
         r$it AS MATERIALIZED (SELECT doc_id, 1.0 / (1.0 + exp(-z)) - y AS resid FROM z$it),
         g$it AS (SELECT bk, sum(resid) AS g FROM (
             SELECT unnest(f.feats) AS bk, r.resid FROM ft f JOIN r$it r USING (doc_id)) GROUP BY bk),
         gl$it AS (SELECT list(coalesce(g.g, 0.0) ORDER BY gs.bk) AS gl FROM
             (SELECT unnest(generate_series(0, ${b - 1})) AS bk) gs LEFT JOIN g$it g USING (bk)),
         gb$it AS (SELECT coalesce(sum(resid), 0.0) AS gb FROM r$it),
         w$it AS MATERIALIZED (SELECT
             list_transform(generate_series(0, ${b - 1}), bk ->
               CAST(CAST(w.wl[CAST(bk AS INT) + 1] AS DOUBLE) - $lr * gl.gl[CAST(bk AS INT) + 1] / nn.n AS REAL)) AS wl,
             CAST(CAST(w.bias AS DOUBLE) - $lr * gb.gb / nn.n AS REAL) AS bias
           FROM w${it - 1} w, gl$it gl, gb$it gb, nn)"""
    }
    s"""WITH $featCtes,
       ${steps.mkString(",\n       ")},
       ${zCte("zF", iters)}
       SELECT z.doc_id, CAST(lang = 'en' AS BIGINT) AS label,
         floor(z.z * 10000.0 + 0.5) / 10000.0 AS logit, z.z >= 0 AS keep
       FROM zF z JOIN documents USING (doc_id) ORDER BY z.doc_id"""
  }

  private def annIvfKmeansOracle(nCells: Int, iters: Int, nProbe: Int, k: Int): String =
    s"""WITH ${kmeansCentroidCtes(nCells, iters)},
       q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       assigned AS (SELECT vec_id, embedding, cell_id FROM (
           SELECT e.vec_id, e.embedding, c.cell_id,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cell_id) AS rk
           FROM embeddings e, cent$iters c) s WHERE rk = 1),
       qcells AS (SELECT cell_id FROM (
           SELECT c.cell_id, ${cosSql("c.cent", "qe")} AS qs FROM cent$iters c, q) s
         ORDER BY qs DESC, cell_id LIMIT $nProbe)
       SELECT vec_id, floor((${cosSql("embedding", "qe")})*10000.0 + 0.5)/10000.0 AS sim
       FROM assigned JOIN qcells USING (cell_id), q
       WHERE vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT $k"""

  /** DuckDB SQL for B21's fixed-point PageRank, the `iters` iterations
    * unrolled as CTEs GENERATED from one loop (the zorderKeySql
    * precedent) so the oracle's integer arithmetic cannot drift from the
    * Scala loop's. `//` (DuckDB) and `div` (Spark) are both truncating
    * integer division — identical on the non-negative ranks here.
    */
  private def pagerankSql(iters: Int, k: Int): String = {
    val scale = 1000000000000L
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT r.node, r.deg, r.n,
            (($scale * 15 // 100) // r.n) + (85 * coalesce(f.inflow, 0)) // 100 AS rank
          FROM r${i - 1} r LEFT JOIN (
            SELECT e.dst AS node, CAST(sum(r.rank // r.deg) AS BIGINT) AS inflow
            FROM r${i - 1} r JOIN e ON r.node = e.src GROUP BY 1) f USING (node))"""
    }.mkString(",\n         ")
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         -- MATERIALIZED is load-bearing: DuckDB 1.0 inlines plain CTEs and
         -- every iteration references its predecessor twice, so 5 rounds
         -- re-derive the edge join 2^5 times (exhausted 77 GB of spill at
         -- sf1 before this)
         e AS MATERIALIZED (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         d AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
         nn AS (SELECT count(*) AS n FROM d),
         r0 AS (SELECT node, deg, n, $scale // n AS rank FROM d CROSS JOIN nn),
         $iterCtes
         SELECT node, deg, rank FROM r$iters ORDER BY rank DESC, node LIMIT $k"""
  }

  /** Shared hyperplane-LSH candidate CTE chain (embed_neardup_lsh /
    * knn_graph_lsh): self-sized band width + count, the tiny-corpus
    * clamp, sign-bit banding, hot-bucket cap, ending at the
    * `cand(id_a, id_b)` relation. One string so the k-NN graph can
    * never use a different candidate definition than the near-dup
    * pipeline it feeds.
    */
  private val lshCandCte: String =
    """WITH par0 AS (SELECT GREATEST(3, LEAST(15,
               LENGTH(BIN(CAST((GREATEST(count(*), 1) - 1) // 32 AS BIGINT))))) AS bb,
             count(*) AS cnt
           FROM embeddings),
         par AS (SELECT CASE WHEN cnt >= bb THEN bb ELSE GREATEST(cnt, 1) END AS bb,
             CASE WHEN cnt >= bb THEN LEAST(4 + 2 * GREATEST(0, bb - 11), cnt // bb)
                  ELSE 1 END AS nb
           FROM par0),
         pl0 AS (SELECT embedding AS p, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS i
           FROM embeddings),
         pl AS (SELECT pl0.p, pl0.i FROM pl0, par WHERE pl0.i < par.nb * par.bb),
         banded AS (SELECT e.vec_id, CAST(pl.i // par.bb AS INT) AS band,
             CAST(sum(CASE WHEN list_sum(list_transform(generate_series(1, len(e.embedding)),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(pl.p[j] AS DOUBLE))) >= 0
                  THEN CAST(1 AS BIGINT) << CAST(pl.i % par.bb AS INT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bval
           FROM embeddings e CROSS JOIN pl CROSS JOIN par
           GROUP BY e.vec_id, pl.i // par.bb),
         hot AS (SELECT band, bval FROM banded GROUP BY 1, 2 HAVING count(*) > 100000),
         ok AS (SELECT b.* FROM banded b ANTI JOIN hot USING (band, bval)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM ok a JOIN ok b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id)"""

  /** Exact-cosine scoring text over `a.embedding`/`b.embedding` aliases,
    * with the shared 4 dp floor-rounding — one string so every consumer
    * (near-dup verify, k-NN ranking) folds the identical arithmetic.
    */
  private val lshCosSim: String =
    """floor((
             list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1,len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE)*CAST(a.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1,len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0"""

  /** Shared near-dup cluster-labeling CTE chain (dedup_clusters /
    * split_safe): shingle → minhash → band join → Jaccard verify →
    * recursive component labeling → per-doc cluster assignment, ending
    * at the `assigned(doc_id, cluster_id)` relation. One string so the
    * C66 split can never use a different cluster definition than C17.
    */
  private val clusterAssignSql: String =
    """WITH RECURSIVE tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
         hs AS (SELECT doc_id, list_distinct(list_transform(
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(0, len(toks)-3), i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END,
             s -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(s,''), x -> CAST(ascii(x) AS BIGINT))), (acc, x) -> (acc*31+x) % 1000000007))) AS hs
           FROM tk),
         sigs AS (SELECT doc_id, list_transform(generate_series(0, 31), j ->
             list_min(list_transform(hs, x -> ((((2*j+1)*777767) % 1000000007 * x) % 1000000007 + ((31*j+7)*999999937) % 1000000007) % 1000000007))) AS sig FROM hs),
         bands AS (SELECT doc_id, band_idx,
             ((((sig[4*band_idx+1]) * 31 + sig[4*band_idx+2]) % 1000000007 * 31 + sig[4*band_idx+3]) % 1000000007 * 31 + sig[4*band_idx+4]) % 1000000007 AS band_hash
           FROM sigs, (SELECT unnest(generate_series(0,7)) AS band_idx) bi),
         cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands a JOIN bands b ON a.band_idx=b.band_idx AND a.band_hash=b.band_hash AND a.doc_id<b.doc_id
                   GROUP BY 1,2),
         s AS (SELECT doc_id, unnest(hs) AS h FROM hs),
         n AS (SELECT doc_id, count(*) AS nh FROM s GROUP BY 1),
         cm AS (SELECT c.id_a, c.id_b, count(*) AS common
                FROM cands c JOIN s sa ON sa.doc_id = c.id_a JOIN s sb ON sb.doc_id = c.id_b AND sb.h = sa.h
                GROUP BY 1,2),
         j AS (SELECT c.id_a, c.id_b, coalesce(cm.common, 0) AS common, na.nh AS nh_a, nb.nh AS nh_b
               FROM cands c LEFT JOIN cm ON c.id_a = cm.id_a AND c.id_b = cm.id_b
               JOIN n na ON c.id_a = na.doc_id JOIN n nb ON c.id_b = nb.doc_id),
         e AS (SELECT id_a AS a, id_b AS b FROM j WHERE CAST(common AS DOUBLE)/(nh_a + nh_b - common) >= 0.8
               UNION ALL
               SELECT id_b, id_a FROM j WHERE CAST(common AS DOUBLE)/(nh_a + nh_b - common) >= 0.8),
         r AS (SELECT a AS node, a AS lbl FROM e
               UNION
               SELECT e.a, r.lbl FROM e JOIN r ON r.node = e.b),
         cl AS (SELECT node, min(lbl) AS cluster_id FROM r GROUP BY 1),
         assigned AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                      FROM documents d LEFT JOIN cl ON d.doc_id = cl.node)"""

  /** DuckDB SQL for C68's greedy MMR selection, the k steps unrolled as
    * GENERATED CTEs (the pagerankSql precedent). λ/μ arrive as decimal
    * strings so both engines parse the identical IEEE754 constants
    * (`1.0 - 0.7` ≠ the literal `0.3` in doubles). All rel/sim terms
    * round to 4 dp before the greedy arithmetic — matching the Scala
    * driver loop exactly, so the argmax at every step agrees bit-wise.
    */
  private def mmrSql(n: Int, k: Int, lambda: String, mu: String): String = {
    def cos4(a: String, b: String): String =
      s"""floor((list_sum(list_transform(generate_series(1,len($a)), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1,len($a)), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1,len($b)), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE))))))*10000.0 + 0.5)/10000.0"""
    val steps = (1 to k).map { i =>
      val pre = if (i == 1) ""
        else s"pre$i AS MATERIALIZED (${(1 until i).map(j => s"SELECT * FROM sel$j").mkString(" UNION ALL ")}),\n         "
      val pen = if (i == 1) "0.0"
        else s"coalesce((SELECT max(${cos4("c.embedding", "p.embedding")}) FROM pre$i p), 0.0)"
      val notin = if (i == 1) "" else s"WHERE c.vec_id NOT IN (SELECT vec_id FROM pre$i) "
      s"""${pre}sel$i AS MATERIALIZED (SELECT c.vec_id, c.embedding, c.rel, $lambda*c.rel - $mu*$pen AS mmr
           FROM cand c ${notin}ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
    }.mkString(",\n         ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         cand AS MATERIALIZED (SELECT vec_id, embedding, ${cos4("embedding", "qe")} AS rel
           FROM embeddings, q WHERE vec_id <> 0 ORDER BY rel DESC, vec_id LIMIT $n),
         $steps
         SELECT rk, vec_id, rel, floor(mmr*10000.0+0.5)/10000.0 AS mmr FROM (
           ${(1 to k).map(i => s"SELECT CAST($i AS BIGINT) AS rk, vec_id, rel, mmr FROM sel$i").mkString(" UNION ALL ")}) u
         ORDER BY rk"""
  }

  /** Shared BM25 CTE chain (bm25_search / rrf_fusion): term filter,
    * doc-length stats, per-term Okapi weights, and the fixed-order
    * pivoted per-doc summation — one string so the lexical arm of the
    * RRF fusion can never desynchronize from the standalone BM25 query.
    */
  /** B31 oracle: min-label propagation unrolled a fixed 20 rounds — an
    * INDEPENDENT algorithm from the engine's star contraction (DuckDB
    * 1.0 has no keyed recursion, and an unkeyed recursive closure is
    * reachability-pair-sized). 20 rounds bounds the min-label BFS radius
    * the compare tolerates; the co-purchase graph's dense overlap
    * converges in a handful (verified at both SFs), and the engine side
    * asserts true fixpoint loudly, so disagreement = non-convergence,
    * never silence.
    */
  private val graphCcSql: String = {
    // MATERIALIZED is load-bearing: DuckDB 1.0 inlines plain CTEs, and
    // each round references its predecessor twice — 2^20 expansions
    val rounds = (1 to 20).map { i =>
      s"""l$i AS MATERIALIZED (SELECT l.node, least(l.lbl, coalesce(m.ml, l.lbl)) AS lbl
            FROM l${i - 1} l LEFT JOIN (
              SELECT ed.b AS node, min(p.lbl) AS ml
              FROM l${i - 1} p JOIN ed ON p.node = ed.a GROUP BY ed.b) m
            ON l.node = m.node)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS s FROM lineitem),
       e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
       ed AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM ed),
       $rounds
       SELECT lbl AS component, CAST(count(*) AS BIGINT) AS n_nodes
       FROM l20 GROUP BY lbl ORDER BY n_nodes DESC, component LIMIT 20"""
  }

  /** B34: the LPA rounds unrolled as generated MATERIALIZED CTEs (the
    * graph_cc/pagerank precedent). Vote counts and the (−count, label)
    * tie rule are pure integers, so the struct-min pick is bit-identical
    * to Spark's min(struct) — every label must agree, not just the
    * census.
    */
  private def lpaSql(iters: Int, k: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
            SELECT node, w.l AS lbl FROM (
              SELECT b AS node, min(struct_pack(nc := -c, l := lbl)) AS w FROM (
                SELECT ed.b, p.lbl, count(*) AS c
                FROM ed JOIN l${i - 1} p ON p.node = ed.a GROUP BY 1, 2) v
              GROUP BY 1) m)"""
    }.mkString(",\n         ")
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS s FROM lineitem),
       e AS MATERIALIZED (SELECT DISTINCT a.s AS a, b.s AS b FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s),
       ed AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
       l0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lbl FROM ed),
       $rounds
       SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
       FROM l$iters GROUP BY lbl ORDER BY n_nodes DESC, community LIMIT $k"""
  }

  /** C67d: the phrase-occurrence count generated from the SAME word list
    * the Spark operators use (the zorder SQL-from-one-loop trick), shared
    * verbatim by the scan floor and the positional-index query — the two
    * are DEFINED row-identical, so one oracle string holds both.
    */
  private def phraseSql(phrase: String, k: Int): String = {
    val words = phrase.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val cond = words.zipWithIndex
      .map { case (w, j) => s"toks[i + $j] = '$w'" }.mkString(" AND ")
    s"""WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks FROM documents),
       c AS (SELECT doc_id, len(list_filter(generate_series(1, len(toks) - ${words.length - 1}),
               i -> $cond)) AS n_hits FROM tk)
       SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits FROM c WHERE n_hits > 0
       ORDER BY n_hits DESC, doc_id LIMIT $k"""
  }

  private val bm25Sql: String =
    """WITH terms(term) AS (SELECT * FROM (VALUES ('spark'), ('stream'), ('filter'))),
       d AS (SELECT doc_id,
               CASE WHEN len(trim(text)) = 0 THEN 0
                 ELSE CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) END AS dl,
               lower(text) AS lt
             FROM documents),
       st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d),
       p AS (SELECT doc_id, dl, unnest(regexp_split_to_array(trim(lt), '\s+')) AS term FROM d),
       tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
              FROM p JOIN terms USING (term) GROUP BY 1, 2),
       dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       w AS (SELECT doc_id, term,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1.0))
                 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
             FROM tf JOIN dfq USING (term) CROSS JOIN st),
       s AS (SELECT doc_id, count(*) AS n_terms,
               max(CASE WHEN term = 'spark' THEN w END) AS w0,
               max(CASE WHEN term = 'stream' THEN w END) AS w1,
               max(CASE WHEN term = 'filter' THEN w END) AS w2
             FROM w GROUP BY 1),
       bm AS (SELECT doc_id, n_terms,
               floor((coalesce(w0, 0.0) + coalesce(w1, 0.0) + coalesce(w2, 0.0)) * 10000.0 + 0.5) / 10000.0 AS score
             FROM s)"""

  /** Shared PQ CTE chain (pq_encode / ann_pq): first-16 per-subspace
    * codebooks (cb), squared subvector distances as SEQUENTIAL
    * list_reduce folds (the exact j-ascending fold the Spark aggregate()
    * performs — code selection compares bit-identical doubles, so the
    * argmin cannot flip across engines), and the per-(vector, subspace)
    * argmin (bz). m=4, ksub=16 mirror the driver query's defaults.
    */
  private val pqSql: String =
    """WITH cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c, embedding AS cent
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       sp AS (SELECT unnest(generate_series(0, 3)) AS s),
       enc AS (SELECT e.vec_id, sp.s, cb.c, len(e.embedding) AS dims,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, len(e.embedding)//4), j ->
               (CAST(e.embedding[sp.s*(len(e.embedding)//4)+j] AS DOUBLE) - CAST(cb.cent[sp.s*(len(e.embedding)//4)+j] AS DOUBLE))
               * (CAST(e.embedding[sp.s*(len(e.embedding)//4)+j] AS DOUBLE) - CAST(cb.cent[sp.s*(len(e.embedding)//4)+j] AS DOUBLE)))),
             (a, x) -> a + x) AS d2
         FROM embeddings e, sp, cb),
       best AS (SELECT vec_id, s, c, d2, dims,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rk FROM enc),
       bz AS (SELECT vec_id, s, c, d2, dims FROM best WHERE rk = 1)"""

  /** Shared DSIR CTE chain (dsir_weights / dsir_select): hashed n-gram
    * featurization (unigrams then bigrams, rolling base-31 mod 1e9+7
    * into 1024 buckets), target/raw bucket distributions with add-0.5
    * smoothing (512.0 = α·b), and the per-doc importance weight folded
    * IN FEATURE-LIST ORDER via list_reduce — the exact left fold the
    * Spark aggregate() HOF performs, so the float sums are bit-stable
    * across engines, not just round-close. The bucket→weight map rides
    * as a one-row MAP relation, mirroring the literal-map Column the
    * Spark side folds into its scan.
    */
  private val dsirSql: String =
    """WITH tok0 AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS in_target,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> len(t) > 0) AS ws
           FROM documents),
       ft AS (SELECT doc_id, in_target,
             list_transform(
               ws || list_transform(generate_series(1, greatest(len(ws) - 1, 0)), i -> ws[i] || ' ' || ws[i+1]),
               s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(s, ''), x -> CAST(ascii(x) AS BIGINT))),
                    (acc, x) -> (acc * 31 + x) % 1000000007) % 1024) AS feats
           FROM tok0),
       ex AS (SELECT in_target, unnest(feats) AS bk FROM ft),
       cnt AS (SELECT bk, CAST(count(*) AS DOUBLE) AS ca,
             CAST(sum(in_target) AS DOUBLE) AS ct FROM ex GROUP BY bk),
       tot AS (SELECT sum(ca) AS ta, sum(ct) AS tt FROM cnt),
       w AS (SELECT bk, ln((ct + 0.5) / (tt + 512.0)) - ln((ca + 0.5) / (ta + 512.0)) AS w
           FROM cnt, tot),
       m AS (SELECT map(list(bk ORDER BY bk), list(w ORDER BY bk)) AS mp,
             (SELECT ln(0.5 / (tt + 512.0)) - ln(0.5 / (ta + 512.0)) FROM tot) AS wu FROM w),
       s AS (SELECT doc_id, in_target, CAST(len(feats) AS BIGINT) AS n_feats,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(feats, x -> coalesce(mp[x][1], wu))), (a, c) -> a + c) AS raw
           FROM ft, m)"""

  /** Shared bigram-LM CTE chain (ngram_lm / lm_score): the windowed
    * lag() formulation of the SAME pair stream the array-side zip_with
    * kernel produces — vocabulary = top-256 tokens by (count, token),
    * OOV -> '<unk>' BEFORE pairing, begin marker '<s>' injected by the
    * coalesce AFTER mapping (so a literal '<s>' token in the text still
    * vocabulary-maps — the corner the operators/TextAnalysis.scala
    * scaladoc calls out). 128.5 = k·(V+1) with k = 0.5, V = 256.
    */
  /** Frozen merge table for the bpe_encode driver query — the C44b
    * frozen-artifact precedent: common English merges in rank order,
    * literal on both engines. bpeTrain-produced merges run through the
    * same code path (BpeSpec round-trips them).
    */
  private[graft] val bpeFrozenMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("r", "e"),
    ("o", "n"), ("e", "r"), ("an", "d"), ("in", "g"), ("o", "r"))

  private val lmSql: String =
    """WITH tok0 AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
               FROM documents),
       tokr AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM tok0),
       tok AS (SELECT doc_id, i AS pos, ws[i] AS token FROM tokr WHERE len(ws[i]) > 0),
       uni AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
       voc AS (SELECT token FROM uni ORDER BY cnt DESC, token LIMIT 256),
       m AS (SELECT t.doc_id, t.pos,
               CASE WHEN v.token IS NOT NULL THEN t.token ELSE '<unk>' END AS m
             FROM tok t LEFT JOIN voc v ON t.token = v.token),
       pairs AS (SELECT doc_id,
               coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), '<s>') AS w1,
               m AS w2
             FROM m),
       big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt FROM pairs GROUP BY 1, 2),
       ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx FROM big GROUP BY 1)"""

  /** Shared winnowing-fingerprint CTE chain (substring_fp /
    * substring_dedup): the oracle engine evaluates the windowed
    * list_reduce formulation of the SAME arithmetic the one-pass
    * graft_winnow kernel computes — base-257 polynomial position hashes
    * of every 24-codepoint window of the whitespace-normalized lowercase
    * text, mod 2⁶¹−1 (128-bit residues on the oracle side, multiplyHigh
    * folding in the kernel), then the min of every 8 consecutive position
    * hashes, distinct per doc.
    */
  private val winnowFpSql: String =
    """WITH nrm AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS s
               FROM documents),
       cp AS (SELECT doc_id,
                list_transform(range(1, length(s) + 1),
                  i -> CAST(unicode(substr(s, i, 1)) AS HUGEINT)) AS cs
              FROM nrm),
       hx AS (SELECT doc_id,
                list_transform(range(1, len(cs) - 24 + 2),
                  i -> list_reduce(cs[i : i + 23],
                         (a, c) -> (a * 257 + c) % CAST(2305843009213693951 AS HUGEINT))) AS hs
              FROM cp WHERE len(cs) >= 24),
       sel AS (SELECT doc_id,
                 unnest(list_transform(range(1, greatest(len(hs) - 8 + 1, 1) + 1),
                   j -> list_aggregate(hs[j : least(j + 7, len(hs))], 'min'))) AS fp
               FROM hx),
       fpd AS (SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM sel)"""
}
