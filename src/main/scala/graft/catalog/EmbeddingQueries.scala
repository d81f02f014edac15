package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.ops.{Multimodal, Similarity}
import QuerySupport._

/** Embedding, vector-search and multimodal queries (LLM pipeline). */
private[graft] object EmbeddingQueries extends QueryFamily {

  /** Shared CTE chain for the SemDeDup oracles: embeddings + the
    * iterations=0 coarse quantizer (cells = the 8 lowest-id vectors,
    * sequential squared-L2 argmin, (dist, cell) tie-break) + the
    * within-cell cosine >= 0.4 pair set — q_semantic_dedup and
    * q_semantic_keepbest differ only in the keep rule applied to
    * `pairs(ida, idb)`.
    */
  private val SemanticPairCtesSql =
    """e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      |          FROM e ORDER BY vec_id LIMIT 8),
      |d AS (SELECT e.vec_id, c.cell,
      |        list_sum(list_transform(list_zip(e.v, c.v),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |      FROM e CROSS JOIN cents c),
      |asg AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
      |          FROM d)
      |        WHERE rk = 1),
      |pairs AS (SELECT a.vec_id AS ida, b.vec_id AS idb
      |          FROM e a JOIN asg aa ON a.vec_id = aa.vec_id
      |               JOIN asg bb ON aa.cell = bb.cell
      |               JOIN e b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
      |          WHERE list_cosine_similarity(a.v, b.v) >= 0.4)""".stripMargin

  /** The full IVF-PQ re-derivation (coarse 16-cell routing, probe top-4,
    * per-block codebooks/codes, scaled ADC tables, ranked candidates in
    * `r`) — shared by q_embed_ivfpq (reads `r` at k=5) and q_ann_rerank
    * (takes `r` at k=20 as the candidate stage, then exact-reranks).
    */
  private val IvfPqCtesSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |base AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
      |         FROM e ORDER BY vec_id LIMIT 16),
      |dc AS (SELECT e.vec_id, b.cell,
      |         list_sum(list_transform(list_zip(e.v, b.v),
      |           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |       FROM e CROSS JOIN base b),
      |casg AS (SELECT vec_id, cell FROM (
      |           SELECT vec_id, cell,
      |                  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
      |           FROM dc)
      |         WHERE rk = 1),
      |probe AS (SELECT vec_id AS query_id, cell FROM (
      |            SELECT vec_id, cell,
      |                   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
      |            FROM dc)
      |          WHERE rk <= 4 AND vec_id < 10),
      |blk AS (SELECT unnest(generate_series(0, 3)) AS b),
      |cb AS (SELECT b, cell, v[(b*16+1):(b*16+16)] AS c FROM base CROSS JOIN blk),
      |sub AS (SELECT vec_id, b, v[(b*16+1):(b*16+16)] AS s FROM e CROSS JOIN blk),
      |dpq AS (SELECT sub.vec_id, sub.b, cb.cell,
      |          list_sum(list_transform(list_zip(sub.s, cb.c),
      |            p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
      |        FROM sub JOIN cb ON sub.b = cb.b),
      |pasg AS (SELECT vec_id, b, cell FROM (
      |           SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, cell) AS rk
      |           FROM dpq)
      |         WHERE rk = 1),
      |qt AS (SELECT vec_id AS query_id, b, cell,
      |         CAST(floor(dist * 1e12 + 0.5) AS BIGINT) AS sd
      |       FROM dpq WHERE vec_id < 10),
      |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |         FROM casg a JOIN probe p ON a.cell = p.cell AND p.query_id <> a.vec_id),
      |adc AS (SELECT c.query_id, c.neighbor_id, CAST(sum(qt.sd) AS BIGINT) AS scaled_adc
      |        FROM cand c JOIN pasg n ON n.vec_id = c.neighbor_id
      |             JOIN qt ON qt.query_id = c.query_id AND qt.b = n.b AND qt.cell = n.cell
      |        GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, scaled_adc,
      |        row_number() OVER (PARTITION BY query_id
      |          ORDER BY scaled_adc, neighbor_id) AS rank
      |      FROM adc)""".stripMargin

  /** Exact brute-force top-k aggregate (the ANN queries' oracle side):
    * n_exact / n_queries reproduced exactly; recall_ok is the in-query
    * invariant the approximate side must satisfy.
    */
  private val AnnExactSideSql =
    """SELECT count(*) AS n_exact, count(DISTINCT query_id) AS n_queries, true AS recall_ok
      |FROM (
      |  SELECT q.vec_id AS query_id,
      |         row_number() OVER (PARTITION BY q.vec_id
      |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                                           CAST(c.embedding AS DOUBLE[])) DESC,
      |                    c.vec_id ASC) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
      |WHERE rank <= 5""".stripMargin

  /** Per-group embedding centroids via the custom
    * [[graft.functions.VectorMean]] AGGREGATE (TypedImperativeAggregate
    * with map-side combine — one (count, sums[dim]) buffer per group per
    * task instead of dim scalar rows). Element-wise half-up rounding makes
    * the distributed float sum comparable; the oracle rebuilds the same
    * means with unnest + avg-per-position. The vector is emitted as a
    * comma-joined string of the rounded 1e4-scaled INTEGER values (not an
    * array column): integer-stringification is bit-exact cross-engine and
    * the driver's pandas row-sort cannot hash array cells.
    */
  query("q_embed_centroids",
      // generate_subscripts + unnest expand in lockstep, giving (pos, x)
      // pairs; list(... ORDER BY pos) reassembles the rounded mean vector
      """WITH e AS (
        |  SELECT vec_id % 4 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (
        |  SELECT grp, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
        |m AS (SELECT grp, pos, avg(x) AS mx FROM u GROUP BY 1, 2),
        |c AS (SELECT grp,
        |        string_agg(CAST(CAST(floor(mx * 10000 + 0.5) AS BIGINT) AS VARCHAR),
        |                   ',' ORDER BY pos) AS centroid
        |      FROM m GROUP BY 1),
        |n AS (SELECT grp, count(*) AS n FROM e GROUP BY 1)
        |SELECT c.grp, n.n, c.centroid FROM c JOIN n ON c.grp = n.grp ORDER BY c.grp""".stripMargin) { (spark, dir) =>
    t(spark, dir, "embeddings")
      .select(pmod(col("vec_id"), lit(4)).as("grp"),
        col("embedding").cast("array<double>").as("v"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        concat_ws(",", transform(graft.functions.VectorMean(col("v")),
          x => floor(x * 10000 + lit(0.5)).cast("long").cast("string"))).as("centroid"))
      .orderBy("grp")
  }

  /** Per-group embedding DISPERSION — the outlier diagnostic a curation
    * pipeline runs before trusting an embedding column: centroid per group
    * (the [[graft.functions.VectorMean]] aggregate), then every vector's
    * codegen cosine to its group centroid, aggregated to avg/min (min =
    * the worst outlier). Composes the custom aggregate with the custom
    * scalar expression in one plan: agg → broadcast join → codegen scoring.
    */
  query("q_embed_dispersion",
      """WITH e AS (
        |  SELECT vec_id % 4 AS grp, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |u AS (SELECT grp, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
        |m AS (SELECT grp, pos, avg(x) AS mx FROM u GROUP BY 1, 2),
        |c AS (SELECT grp, list(mx ORDER BY pos) AS cent FROM m GROUP BY 1),
        |s AS (SELECT e.grp, list_cosine_similarity(e.v, c.cent) AS cos
        |      FROM e JOIN c ON e.grp = c.grp)
        |SELECT grp, count(*) AS n,
        |       floor(avg(cos) * 1000 + 0.5) / 1000 AS avg_cos,
        |       floor(min(cos) * 1000 + 0.5) / 1000 AS min_cos
        |FROM s GROUP BY grp ORDER BY grp""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
      .select(pmod(col("vec_id"), lit(4)).as("grp"),
        col("embedding").cast("array<double>").as("v"))
    val cents = emb.groupBy("grp").agg(graft.functions.VectorMean(col("v")).as("c"))
    emb.join(broadcast(cents), "grp")
      .select(col("grp"), graft.functions.CosineSimilarity(col("v"), col("c")).as("cos"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), r(avg("cos"), 3).as("avg_cos"),
        r(min("cos"), 3).as("min_cos"))
      .orderBy("grp")
  }

  query("q_embed_topk",
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                           CAST(c.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Recall of an ANN result set vs the exact brute-force top-k, folded to
    * one oracle-checkable row: the oracle reproduces the EXACT side
    * (n_exact, n_queries — same ranking as q_embed_topk) and the recall
    * boolean is an in-query invariant over that exact set.
    */
  private def annRecallRow(
      exact: DataFrame, approx: DataFrame, minRecall: Double): DataFrame =
    exact.select("query_id", "neighbor_id")
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1).as("__hit"))
          .dropDuplicates("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        countDistinct(col("query_id")).as("n_queries"),
        (sum(coalesce(col("__hit"), lit(0))).cast("double") /
          count(lit(1)).cast("double") >= minRecall).as("recall_ok"))

  query("q_embed_lsh", AnnExactSideSql) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
      dim = 64, nPlanes = 3, tables = 16)
    annRecallRow(exact, approx, 0.9)
  }

  query("q_embed_ivf", AnnExactSideSql) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val model = graft.ops.IvfIndex.train(emb, "vec_id", "embedding", nLists = 16, iterations = 3)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val approx = graft.ops.IvfIndex.search(model, emb, queries, "vec_id", "embedding", 5, nProbe = 8)
    annRecallRow(exact, approx, 0.9)
  }

  /** Embedding-cosine near-duplicate detection (dedup family): exact
    * all-pairs on a bounded id-subset so the DuckDB oracle can reproduce it
    * (the unbounded scale path is LSH/IVF blocking, q_embed_lsh/_ivf).
    */
  query("q_embed_neardup",
      """SELECT count(*) AS n_pairs, floor(avg(c) * 1000 + 0.5) / 1000 AS avg_cos FROM (
        |  SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) AS c
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id < b.vec_id AND a.vec_id < 2000 AND b.vec_id < 2000)
        |WHERE c >= 0.4""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions._
    val sub = t(spark, dir, "embeddings").filter(col("vec_id") < 2000)
    // probe side must be spread: a single-file subset is 1 partition and the
    // broadcast nested-loop join would otherwise run on 1 task
    val a = spread(sub).select(col("vec_id").as("ida"), toDoubleArray(col("embedding")).as("__va"))
    val b = sub.select(col("vec_id").as("idb"), toDoubleArray(col("embedding")).as("__vb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .withColumn("c", cosineSimilarity(col("__va"), col("__vb")))
      .filter(col("c") >= 0.4)
      .agg(count(lit(1)).as("n_pairs"), r(avg("c"), 3).as("avg_cos"))
  }

  /** SemDeDup-style semantic dedup ([[graft.ops.SemDedup]]): IVF-cell
    * blocking + within-cell cosine near-dup + min-id keep. The coarse
    * quantizer trains with iterations = 0 so centroids are bit-exact
    * copies of the 8 lowest-id vectors and the DuckDB oracle re-derives
    * the cell assignment exactly (argmin of the SEQUENTIAL squared-L2
    * sum — identical IEEE op order on both engines; NearestCentroids'
    * (distance, cell) tie-break == the oracle's ORDER BY dist, cell).
    * Lloyd refinement (the production default) only moves centroids, not
    * the operator shape. The oracle enumerates the exact within-cell
    * pair set, so blocking, scoring, threshold, and keep rule are all
    * checked — not just a row count.
    */
  query("q_semantic_dedup",
      // cells re-derived exactly: centroids = the 8 lowest-id vectors
      // (iterations = 0), argmin over the sequential squared-L2 sum with
      // (dist, cell) tie-break — see q_semantic_dedup's scaladoc
      s"""WITH $SemanticPairCtesSql,
         |dropped AS (SELECT DISTINCT idb FROM pairs),
         |kept AS (SELECT e.vec_id, e.label FROM e
         |         LEFT JOIN dropped ON e.vec_id = dropped.idb
         |         WHERE dropped.idb IS NULL)
         |SELECT label, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM kept GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.IvfIndex.train(emb, "vec_id", "embedding", nLists = 8, iterations = 0)
    graft.ops.SemDedup.semanticDedup(model, emb, "vec_id", "embedding", 0.4)
      .groupBy("label")
      .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"))
      .orderBy("label")
  }

  /** Semantic decontamination ([[graft.ops.SemDedup.crossSetPairs]]):
    * embedding-space eval-set leakage — corpus vectors cosine-near an
    * eval vector (every 10th id), compared only within the shared IVF
    * cell. Same iterations=0 bit-exact cell oracle as q_semantic_dedup;
    * eval-side broadcast, corpus x corpus never compared.
    */
  query("q_semantic_decontam",
      s"""WITH $SemanticPairCtesSql,
         |xp AS (SELECT a.label, a.vec_id AS cid,
         |         list_cosine_similarity(a.v, b.v) AS cos
         |       FROM e a JOIN asg aa ON a.vec_id = aa.vec_id
         |            JOIN asg bb ON aa.cell = bb.cell
         |            JOIN e b ON b.vec_id = bb.vec_id
         |       WHERE a.vec_id % 10 <> 0 AND b.vec_id % 10 = 0
         |         AND list_cosine_similarity(a.v, b.v) >= 0.4)
         |SELECT label, count(*) AS n_pairs, count(DISTINCT cid) AS n_flagged,
         |       floor(avg(cos) * 1000 + 0.5) / 1000 AS avg_cos
         |FROM xp GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.IvfIndex.train(emb, "vec_id", "embedding",
      nLists = 8, iterations = 0)
    graft.ops.SemDedup.crossSetPairs(model,
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", 0.4, carryCols = Seq("label"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("corpus_id")).as("n_flagged"),
        r(avg(col("cosine")), 3).as("avg_cos"))
      .orderBy("label")
  }

  /** IVF ingest/drift monitoring ([[graft.ops.IvfIndex
    * .assignmentStats]]): the retrain trigger of the index lifecycle —
    * a quantizer trained on the even-id slice (iterations = 0 → bit-exact
    * lowest-even-id centroids the oracle re-derives) watches the odd-id
    * batch arrive: per-cell counts and 1e12-scaled LONG squared
    * distances to the assigned centroid, exact cross-engine.
    */
  query("q_ivf_drift",
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
        |          FROM e WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8),
        |odd AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
        |d AS (SELECT o.vec_id, c.cell,
        |        list_sum(list_transform(list_zip(o.v, c.v),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |      FROM odd o CROSS JOIN cents c),
        |asg AS (SELECT vec_id, cell, dist FROM (
        |          SELECT vec_id, cell, dist,
        |                 row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rk
        |          FROM d)
        |        WHERE rk = 1)
        |SELECT CAST(cell AS INTEGER) AS cell, count(*) AS n,
        |       CAST(sum(CAST(floor(dist * 1e12 + 0.5) AS BIGINT)) AS BIGINT)
        |         AS scaled_sum_sqdist
        |FROM asg GROUP BY cell ORDER BY cell""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.IvfIndex.train(
      emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      nLists = 8, iterations = 0)
    graft.ops.IvfIndex.assignmentStats(
        model, spread(emb.filter(col("vec_id") % 2 === 1)), "embedding")
      .orderBy("cell")
  }

  /** Product quantization ([[graft.ops.Pq]]): 4 blocks x 16-centroid
    * codebooks over the 64-dim embeddings — the storage half of IVF-PQ
    * (64 floats -> 4 codes). iterations = 0 keeps every codebook a
    * bit-exact slice of the 16 lowest-id vectors, so the oracle
    * re-derives codebooks, codes, AND scaled reconstruction errors
    * exactly (argmin parity per q_semantic_dedup; the per-block scaled
    * error uses the q_embed_quantize list_sum fold, proven bit-stable).
    */
  query("q_embed_pq",
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |base AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
        |         FROM e ORDER BY vec_id LIMIT 16),
        |blk AS (SELECT unnest(generate_series(0, 3)) AS b),
        |cb AS (SELECT b, cell, v[(b*16+1):(b*16+16)] AS c FROM base CROSS JOIN blk),
        |sub AS (SELECT vec_id, label, b, v[(b*16+1):(b*16+16)] AS s FROM e CROSS JOIN blk),
        |d AS (SELECT sub.vec_id, sub.label, sub.b, cb.cell,
        |        list_sum(list_transform(list_zip(sub.s, cb.c),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |      FROM sub JOIN cb ON sub.b = cb.b),
        |asg AS (SELECT vec_id, label, cell, dist FROM (
        |          SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, cell) AS rk
        |          FROM d)
        |        WHERE rk = 1),
        |per AS (SELECT vec_id, label,
        |          CAST(sum(CAST(floor(dist * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS se,
        |          max(cell) AS mc, count(*) AS nb
        |        FROM asg GROUP BY 1, 2)
        |SELECT label, count(*) AS n, CAST(sum(se) AS BIGINT) AS sum_scaled_sqerr,
        |       CAST(max(mc) AS BIGINT) AS max_code, CAST(min(nb) AS BIGINT) AS code_len
        |FROM per GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.Pq.train(emb, "vec_id", "embedding", blocks = 4, codebookSize = 16)
    spread(emb)
      .withColumn("code", graft.ops.Pq.encode(col("embedding"), model))
      .withColumn("errs", graft.ops.Pq.scaledSqError(col("embedding"), col("code"), model))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(aggregate(col("errs"), lit(0L), (a, e) => a + e)).as("sum_scaled_sqerr"),
        max(aggregate(col("code"), lit(0), (a, c) => greatest(a, c))).cast("long").as("max_code"),
        min(size(col("code"))).cast("long").as("code_len"))
      .orderBy("label")
  }

  /** SemDeDup with QUALITY keep-best (the full published shape): same
    * cell blocking as `q_semantic_dedup`, but the keeper of each
    * near-identical pair is the higher-quality document (exact-0.5-step
    * raw score joined 1:1 from the documents table; min id on ties) —
    * the curation rule real corpus teams run. The oracle recomputes
    * cells, pairs, per-doc quality, and the loser rule.
    */
  query("q_semantic_keepbest",
      // the shared cell/pair chain + the shared quality CTEs; loser of a
      // pair = lesser (q, -id)
      s"""WITH $SemanticPairCtesSql,
         |${qualityCtesSql()},
         |losers AS (SELECT DISTINCT CASE WHEN qa.q < qb.q THEN ida ELSE idb END AS lid
         |           FROM pairs JOIN qs qa ON ida = qa.doc_id JOIN qs qb ON idb = qb.doc_id),
         |kept AS (SELECT e.vec_id, e.label FROM e
         |         LEFT JOIN losers ON e.vec_id = losers.lid
         |         WHERE losers.lid IS NULL)
         |SELECT label, count(*) AS n_kept, CAST(sum(vec_id) AS BIGINT) AS id_sum
         |FROM kept GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val quality = t(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), TF.qualityScoreRaw(col("text")).as("q"))
    val corpus = emb.join(quality, Seq("vec_id"))
    val model = graft.ops.IvfIndex.train(corpus, "vec_id", "embedding", nLists = 8, iterations = 0)
    graft.ops.SemDedup.semanticDedup(model, corpus, "vec_id", "embedding", 0.4,
        score = col("q"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"))
      .orderBy("label")
  }

  /** PQ ADC search ([[graft.ops.Pq.adcSearch]]) — the search half of
    * IVF-PQ: per-query distance TABLES against every codebook centroid,
    * corpus scored by `blocks` integer table lookups per vector. The
    * 1e12-scaled long distances make the ranking deterministic, so the
    * oracle re-derives the EXACT result set (codes + tables + ranks) —
    * no recall envelope needed, unlike the LSH/IVF rows.
    */
  query("q_embed_adc",
      // d (all-vector distances to every centroid) doubles as the query
      // tables: queries are corpus members, so qt is just its vec_id < 10
      // slice, scaled; a neighbor's ADC = its 4 (block, cell) lookups
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |base AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
        |         FROM e ORDER BY vec_id LIMIT 16),
        |blk AS (SELECT unnest(generate_series(0, 3)) AS b),
        |cb AS (SELECT b, cell, v[(b*16+1):(b*16+16)] AS c FROM base CROSS JOIN blk),
        |sub AS (SELECT vec_id, b, v[(b*16+1):(b*16+16)] AS s FROM e CROSS JOIN blk),
        |d AS (SELECT sub.vec_id, sub.b, cb.cell,
        |        list_sum(list_transform(list_zip(sub.s, cb.c),
        |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
        |      FROM sub JOIN cb ON sub.b = cb.b),
        |asg AS (SELECT vec_id, b, cell FROM (
        |          SELECT *, row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, cell) AS rk
        |          FROM d)
        |        WHERE rk = 1),
        |qt AS (SELECT vec_id AS query_id, b, cell,
        |         CAST(floor(dist * 1e12 + 0.5) AS BIGINT) AS sd
        |       FROM d WHERE vec_id < 10),
        |adc AS (SELECT qt.query_id, asg.vec_id AS neighbor_id,
        |          CAST(sum(qt.sd) AS BIGINT) AS scaled_adc
        |        FROM asg JOIN qt ON asg.b = qt.b AND asg.cell = qt.cell
        |        WHERE qt.query_id <> asg.vec_id
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, scaled_adc,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY scaled_adc, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, scaled_adc FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.Pq.train(emb, "vec_id", "embedding", blocks = 4, codebookSize = 16)
    graft.ops.Pq.adcSearch(model, emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
      .withColumn("rank", col("rank").cast("long")) // DuckDB row_number is BIGINT
      .orderBy("query_id", "rank")
  }

  /** Full IVF-PQ search ([[graft.ops.Pq.ivfPqSearch]]): coarse 16-cell
    * routing (nProbe = 4 — the candidate set shrinks to ~1/4 of the
    * corpus BEFORE any scoring) + PQ-ADC integer table lookups. Both
    * quantizers train at iterations = 0 from the same 16 lowest-id
    * vectors, so the oracle re-derives routing, codes, tables, and
    * ranks exactly — like q_embed_adc, no recall envelope needed.
    */
  query("q_embed_ivfpq",
      // coarse routing (16 full-vector cells, probe top-4 by (dist, cell))
      // + the PQ code/table machinery of q_embed_adc; both quantizers
      // derive from the SAME 16 lowest-id vectors (iterations = 0)
      (IvfPqCtesSql +
      "\nSELECT query_id, rank, neighbor_id, scaled_adc FROM r WHERE rank <= 5" +
      "\nORDER BY query_id, rank")) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val coarse = graft.ops.IvfIndex.train(emb, "vec_id", "embedding",
      nLists = 16, iterations = 0)
    val pq = graft.ops.Pq.train(emb, "vec_id", "embedding", blocks = 4, codebookSize = 16)
    graft.ops.Pq.ivfPqSearch(coarse, pq, emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = 4)
      .withColumn("rank", col("rank").cast("long")) // DuckDB row_number is BIGINT
      .orderBy("query_id", "rank")
  }

  /** Two-stage retrieval ([[graft.ops.Similarity.rerankExact]]): IVF-PQ
    * supplies 20 cheap ADC candidates per query, then EXACT cosine
    * re-ranks the survivors to the final top-5 — the approximate-recall /
    * exact-precision split every production vector store runs. Rank-only
    * output (the q_embed_topk pattern: float cosines never cross the
    * oracle boundary, orderings must agree).
    */
  query("q_ann_rerank", (IvfPqCtesSql +
      """,
        |c20 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 20),
        |rr AS (SELECT c.query_id, c.neighbor_id,
        |         CAST(row_number() OVER (PARTITION BY c.query_id
        |           ORDER BY list_cosine_similarity(en.v, eq.v) DESC,
        |                    c.neighbor_id) AS BIGINT) AS rank
        |       FROM c20 c JOIN e en ON en.vec_id = c.neighbor_id
        |            JOIN e eq ON eq.vec_id = c.query_id)
        |SELECT query_id, rank, neighbor_id FROM rr WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin)) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val coarse = graft.ops.IvfIndex.train(emb, "vec_id", "embedding",
      nLists = 16, iterations = 0)
    val pq = graft.ops.Pq.train(emb, "vec_id", "embedding", blocks = 4, codebookSize = 16)
    val cands = graft.ops.Pq.ivfPqSearch(coarse, pq, emb, queries,
      "vec_id", "embedding", k = 20, nProbe = 4)
    Similarity.rerankExact(cands, emb, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
  }

  /** PCA whitening of the embedding corpus ([[graft.ops.Whitening]]):
    * train = two distributed reductions (mean + d x d scatter, primitive
    * per-partition accumulators) and a driver-side 64x64 Jacobi
    * eigensolve; apply = one broadcast d² kernel per row. The
    * eigendecomposition is not SQL-expressible, but its CONTRACT is: the
    * readout counts components whose post-whitening mean is 0 and
    * variance is 1, and the oracle states the mathematically-forced
    * answer (all d of them, over the modal-dimension corpus) — so the
    * DuckDB hash-compare grades the whole train+apply path, with
    * WhiteningSpec's closed-form gates covering the eigensolve itself.
    */
  query("q_embed_whiten",
      // the eigensolve itself is not SQL-expressible, but its CONTRACT is:
      // whitening must leave every component with mean 0 and variance 1, so
      // the oracle states the mathematically-forced readout — corpus size at
      // the modal dimension, the dimension, and dim-many zero-mean/unit-var
      // components. A broken Jacobi/basis/apply path shows up as a hash
      // mismatch in the last two columns.
      """WITH d AS (
        |  SELECT len(embedding) AS d, count(*) AS n
        |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0
        |  GROUP BY 1 ORDER BY n DESC, d DESC LIMIT 1)
        |SELECT CAST(n AS BIGINT) AS n_vecs, CAST(d AS BIGINT) AS n_components,
        |       CAST(d AS BIGINT) AS n_zero_mean, CAST(d AS BIGINT) AS n_unit_var
        |FROM d""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    val model = graft.ops.Whitening.train(emb, "embedding")
    val w = graft.ops.Whitening.whiten(emb, "embedding", "wvec", model)
    val comp = w.select(posexplode(col("wvec")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
      .select(col("pos"), col("n"), (col("sx") / col("n")).as("m"),
        (col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))).as("v"))
    comp.agg(
        max("n").as("n_vecs"),
        count(lit(1)).as("n_components"),
        sum(when(abs(col("m")) < 1e-6, 1L).otherwise(0L)).as("n_zero_mean"),
        sum(when(abs(col("v") - 1.0) < 0.01, 1L).otherwise(0L)).as("n_unit_var"))
  }

  query("q_multimodal_meta",
      """SELECT source, count(*) AS n, CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |       count(DISTINCT sha256(text)) AS n_distinct_content
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    Multimodal.attachBinary(t(spark, dir, "documents"), "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("media_meta.n_bytes").cast("long")).as("total_bytes"),
        countDistinct(col("media_meta.sha256")).as("n_distinct_content"))
      .orderBy("source")
  }

  /** Multimodal image features from REAL decoded pixels
    * (`javax.imageio`, in-JDK): each document row becomes a
    * deterministic synthetic PNG — channel values are modular arithmetic
    * on (doc_id, x, y) ([[Multimodal.syntheticPng]]) — except every 10th
    * row, which carries a TRUNCATED PNG (valid magic, torn body) to
    * exercise the corrupt-payload row-error path. PNG is lossless and
    * the decode statistics are exact longs, so the oracle recomputes
    * every figure as pure integer arithmetic in SQL with no image
    * library; `blocks_exact` asserts the 2x2 block-sum feature grid
    * partitions the image's total gray mass (the resize/feature-grid
    * machinery), which must hold bit-exactly on every decoded row.
    */
  query("q_multimodal_features",
      // pure integer arithmetic mirror of the synthetic-PNG pixel formula
      // (Multimodal.syntheticPng): channel c at (x,y) = (id*31+x*7+y*13+c*101)%256;
      // PNG is lossless so the real ImageIO decode recovers these exactly
      """WITH ok AS (
        |  SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h
        |  FROM documents WHERE doc_id % 10 <> 0),
        |g AS (
        |  SELECT doc_id, w, h,
        |    list_sum(flatten(list_transform(range(h), y ->
        |      list_transform(range(w), x ->
        |        (doc_id*31 + x*7 + y*13) % 256
        |        + (doc_id*31 + x*7 + y*13 + 101) % 256
        |        + (doc_id*31 + x*7 + y*13 + 202) % 256)))) AS gs
        |  FROM ok),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_ok,
        |         CAST(sum(w) AS BIGINT) AS sum_w, CAST(sum(h) AS BIGINT) AS sum_h,
        |         CAST(sum(gs) AS BIGINT) AS total_gray,
        |         CAST(sum(w*h) AS BIGINT) AS total_pix
        |  FROM g)
        |SELECT (SELECT count(*) FROM documents) AS n, n_ok,
        |       (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_err,
        |       sum_w, sum_h, n_ok AS n_rgb, total_gray, total_pix,
        |       floor(total_gray / (765.0 * total_pix) * 1000000 + 0.5) / 1000000
        |         AS mean_luma,
        |       true AS blocks_exact
        |FROM tot""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = spread(t(spark, dir, "documents"))
      .select(col("doc_id")).as[Long]
      .map(Multimodal.pngFixture).toDF() // torn-rule + dims shared with ScaleCurve
    Multimodal.decodeImageFeatures(spark, media, gridW = 2, gridH = 2).toDF()
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("n_err"),
        sum(col("width").cast("long")).as("sum_w"),
        sum(col("height").cast("long")).as("sum_h"),
        sum(when(col("channels") === 3, 1L).otherwise(0L)).as("n_rgb"),
        sum(col("gray_sum")).as("total_gray"),
        sum(col("n_pixels")).as("total_pix"),
        r(sum(col("gray_sum")) / (lit(765.0) * sum(col("n_pixels"))), 6)
          .as("mean_luma"),
        expr("bool_and(aggregate(block_sums, 0L, (a, x) -> a + x) = gray_sum)")
          .as("blocks_exact"))
  }

  /** Multimodal audio features from REAL decoded PCM samples
    * (`javax.sound.sampled`, in-JDK): each document row becomes a
    * deterministic synthetic 16-bit WAV — sample values are modular
    * arithmetic on (doc_id, frame, channel)
    * ([[Multimodal.syntheticWav]]) — except every 10th row, which
    * carries a TRUNCATED WAV (RIFF magic intact, torn header) to
    * exercise the corrupt-payload row-error path. PCM is lossless and
    * the decode statistics are exact longs, so the oracle recomputes
    * every figure as pure integer arithmetic in SQL with no audio
    * library; `hist_exact` asserts the 8-bucket energy histogram
    * partitions the sample count (the histogram machinery), which must
    * hold bit-exactly on every decoded row, and `hist_lo`/`hist_hi`
    * check two buckets value-for-value.
    */
  query("q_audio_features",
      // pure integer arithmetic mirror of the synthetic-WAV sample formula
      // (Multimodal.syntheticWav): sample at (frame t, channel c) =
      // (id*31 + t*7919 + c*13) % 65536 - 32768; PCM is lossless so the real
      // javax.sound decode recovers these exactly
      """WITH ok AS (
        |  SELECT doc_id, 50 + doc_id % 50 AS nf, 1 + doc_id % 2 AS ch
        |  FROM documents WHERE doc_id % 10 <> 0),
        |s AS (
        |  SELECT doc_id, nf, ch,
        |    flatten(list_transform(range(nf), t ->
        |      list_transform(range(ch), c ->
        |        (doc_id*31 + t*7919 + c*13) % 65536 - 32768))) AS sm
        |  FROM ok),
        |per AS (
        |  SELECT doc_id, nf, ch, nf * ch AS ns,
        |    list_max(list_transform(sm, s -> abs(s))) AS pk,
        |    list_sum(list_transform(sm, s -> abs(s))) AS sa,
        |    list_sum(list_transform(sm, s -> s * s)) AS sq,
        |    list_sum(list_transform(sm, s ->
        |      CASE WHEN least(abs(s) * 8 // 32768, 7) = 0 THEN 1 ELSE 0 END)) AS h0,
        |    list_sum(list_transform(sm, s ->
        |      CASE WHEN least(abs(s) * 8 // 32768, 7) = 7 THEN 1 ELSE 0 END)) AS h7
        |  FROM s)
        |SELECT (SELECT count(*) FROM documents) AS n, count(*) AS n_ok,
        |       (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_err,
        |       CAST(count(*) * 8000 AS BIGINT) AS sum_rate,
        |       CAST(sum(ch) AS BIGINT) AS sum_channels,
        |       CAST(sum(nf) AS BIGINT) AS total_frames,
        |       CAST(sum(ns) AS BIGINT) AS total_samples,
        |       CAST(max(pk) AS BIGINT) AS max_peak,
        |       CAST(sum(sa) AS BIGINT) AS total_abs,
        |       CAST(sum(sq) AS BIGINT) AS total_sq,
        |       floor(sum(sa) / (32768.0 * sum(ns)) * 1000000 + 0.5) / 1000000
        |         AS mean_level,
        |       true AS hist_exact,
        |       CAST(sum(h0) AS BIGINT) AS hist_lo,
        |       CAST(sum(h7) AS BIGINT) AS hist_hi
        |FROM per""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = spread(t(spark, dir, "documents"))
      .select(col("doc_id")).as[Long]
      .map(Multimodal.wavFixture).toDF() // torn-rule + shape shared with ScaleCurve
    Multimodal.decodeAudioFeatures(spark, media).toDF()
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("n_err"),
        sum(col("sample_rate").cast("long")).as("sum_rate"),
        sum(col("channels").cast("long")).as("sum_channels"),
        sum(col("n_frames")).as("total_frames"),
        sum(col("n_samples")).as("total_samples"),
        max(col("peak_abs")).as("max_peak"),
        sum(col("sum_abs")).as("total_abs"),
        sum(col("sum_sq")).as("total_sq"),
        r(sum(col("sum_abs")) / (lit(32768.0) * sum(col("n_samples"))), 6)
          .as("mean_level"),
        expr("bool_and(aggregate(energy_hist, 0L, (a, x) -> a + x) = n_samples)")
          .as("hist_exact"),
        sum(coalesce(try_element_at(col("energy_hist"), lit(1)), lit(0L)))
          .as("hist_lo"),
        sum(coalesce(try_element_at(col("energy_hist"), lit(8)), lit(0L)))
          .as("hist_hi"))
  }

  /** REAL video-container frame sampling ([[Multimodal
    * .decodeMediaFrames]], `javax.imageio` multi-image readers —
    * in-JDK): each document row becomes a deterministic synthetic
    * animated GIF — 3-8 full grayscale frames whose pixel at
    * (frame, x, y) is modular arithmetic on (doc_id, f, x, y)
    * ([[Multimodal.syntheticGif]]; ≤256 colors per frame, so the
    * palette is lossless) — except every 10th row, which carries a
    * TRUNCATED GIF (magic intact, torn) for the row-error path. The
    * operator counts TRUE container frames, samples 4 evenly
    * (`idx = f·n/4`, the arithmetic `sample_exact` pins alongside
    * `n_sampled = least(4, n_frames)`), and reduces each sampled frame
    * to its exact gray mass; the oracle reproduces frame counts,
    * sampled indexes, and per-frame masses as pure integer SQL.
    */
  query("q_video_frames",
      // pure integer mirror of the synthetic-GIF frame formula
      // (Multimodal.syntheticGif): pixel at (frame f, x, y) =
      // (id*31 + f*17 + x*7 + y*13) % 256 on all three channels; the GIF
      // palette is lossless for <=256 colors so the real multi-frame
      // decode recovers these exactly, and the sampled indexes are
      // f * nFrames // k (k = least(4, nFrames)) — the operator's arithmetic
      """WITH ok AS (
        |  SELECT doc_id, 5 + doc_id % 5 AS w, 4 + doc_id % 4 AS h,
        |         3 + doc_id % 6 AS nf, least(4, 3 + doc_id % 6) AS k
        |  FROM documents WHERE doc_id % 10 <> 0),
        |fr AS (
        |  SELECT doc_id, w, h, nf,
        |         unnest(list_transform(range(k), f -> f * nf // k)) AS idx
        |  FROM ok),
        |g AS (
        |  SELECT doc_id, idx,
        |    list_sum(flatten(list_transform(range(h), y ->
        |      list_transform(range(w), x ->
        |        3 * ((doc_id*31 + idx*17 + x*7 + y*13) % 256))))) AS fg
        |  FROM fr),
        |per AS (
        |  SELECT doc_id, count(*) AS ks, sum(fg) AS tg, sum(idx) AS ti
        |  FROM g GROUP BY doc_id)
        |SELECT (SELECT count(*) FROM documents) AS n,
        |       (SELECT count(*) FROM ok) AS n_ok,
        |       (SELECT count(*) FROM documents WHERE doc_id % 10 = 0) AS n_err,
        |       (SELECT CAST(sum(w) AS BIGINT) FROM ok) AS sum_w,
        |       (SELECT CAST(sum(h) AS BIGINT) FROM ok) AS sum_h,
        |       (SELECT CAST(sum(nf) AS BIGINT) FROM ok) AS total_frames,
        |       CAST(sum(ks) AS BIGINT) AS total_sampled,
        |       CAST(sum(tg) AS BIGINT) AS total_gray,
        |       CAST(sum(ti) AS BIGINT) AS idx_sum,
        |       true AS shape_exact, true AS sample_exact
        |FROM per""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val media = spread(t(spark, dir, "documents"))
      .select(col("doc_id")).as[Long]
      .map(Multimodal.gifFixture).toDF() // torn-rule + shape shared with ScaleCurve
    Multimodal.decodeMediaFrameFeatures(spark, media, nSample = 4).toDF()
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("n_err"),
        sum(col("width").cast("long")).as("sum_w"),
        sum(col("height").cast("long")).as("sum_h"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        sum(col("n_sampled").cast("long")).as("total_sampled"),
        sum(expr("aggregate(frame_gray, 0L, (a, x) -> a + x)")).as("total_gray"),
        sum(expr("aggregate(frame_idx, 0L, (a, x) -> a + cast(x as long))"))
          .as("idx_sum"),
        expr("bool_and(size(frame_gray) = n_sampled AND size(frame_idx) = n_sampled)")
          .as("shape_exact"),
        expr("bool_and(status <> 'ok' OR n_sampled = least(4, n_frames))")
          .as("sample_exact"))
  }

  /** Byte-range frame sampling through the `mapPartitions` plumbing
    * (the compressed-video STUB domain — GIF/TIFF containers have the
    * REAL path, `q_video_frames`): 4 evenly spaced byte-range "frames"
    * per payload. Offsets/lengths are integer arithmetic and the
    * per-frame digest is sha256 over the byte range — documents are
    * ASCII, so the oracle reproduces every column (including digests)
    * in SQL.
    */
  query("q_multimodal_frames",
      """WITH d AS (SELECT text, strlen(text) AS L FROM documents),
        |f AS (SELECT text, L, greatest(1, least(4, L)) AS n FROM d),
        |g AS (SELECT text, L, n, greatest(1, L // n) AS step FROM f),
        |fr AS (SELECT text, L, step, unnest(range(n)) AS fi FROM g),
        |fx AS (
        |  SELECT least(step, L - fi * step) AS len,
        |         substr(sha256(substr(text, CAST(fi * step + 1 AS BIGINT),
        |                              CAST(least(step, L - fi * step) AS BIGINT))), 1, 8) AS sha8
        |  FROM fr)
        |SELECT count(*) AS n_frames, CAST(sum(len) AS BIGINT) AS total_len,
        |       count(DISTINCT sha8) AS n_digests
        |FROM fx""".stripMargin) { (spark, dir) =>
    val media = Multimodal.attachBinary(spread(t(spark, dir, "documents")), "text")
      .select(col("doc_id").as("id"), col("content"))
    Multimodal.sampleFrames(spark, media, nFrames = 4).toDF()
      .agg(count(lit(1)).as("n_frames"),
        sum(col("length").cast("long")).as("total_len"),
        countDistinct(col("sha8")).as("n_digests"))
  }

  /** Int8 embedding quantization ([[graft.functions.VectorFunctions]]
    * int8Scale/quantizeInt8/int8SqError): per-vector symmetric scale,
    * cross-engine floor-round codes, reconstruction error aggregated per
    * label as scaled-long sums (double SUMS across rows are
    * partition-order dependent; scaled longs are exact and associative).
    * Saturation count doubles as a codes-range invariant: the max element
    * of every nonzero vector quantizes to exactly +-127.
    */
  query("q_embed_quantize",
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT vec_id, label, e,
        |        list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM v),
        |qz AS (SELECT vec_id, label, e, scale,
        |         list_transform(e, x -> CASE WHEN scale > 0
        |           THEN floor(x / scale + 0.5) ELSE 0 END) AS q
        |       FROM s),
        |err AS (SELECT label,
        |          list_sum(list_transform(list_zip(e, q),
        |            p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))) AS sqerr,
        |          list_max(list_transform(q, x -> abs(x))) AS maxq
        |        FROM qz)
        |SELECT label, count(*) AS n,
        |       CAST(sum(CAST(floor(sqerr * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled_sqerr,
        |       CAST(max(maxq) AS BIGINT) AS max_abs_code,
        |       CAST(sum(CASE WHEN maxq = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
        |FROM err GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions._
    val maxAbsCode = aggregate(col("q"), lit(0L), (acc, x) => greatest(acc, abs(x)))
    spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("scale", int8Scale(col("v")))
      .withColumn("q", quantizeInt8(col("v"), col("scale")))
      .withColumn("sqerr", int8SqError(col("v"), col("q"), col("scale")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("sqerr") * lit(1e12) + 0.5).cast("long")).as("sum_scaled_sqerr"),
        max(maxAbsCode).as("max_abs_code"),
        sum(when(maxAbsCode === 127L, 1L).otherwise(0L)).as("n_saturated"))
      .orderBy("label")
  }

  /** Embedding ingest prep ([[graft.functions.L2Normalize]]): the
    * matryoshka pipeline — normalize the 64-dim embedding, truncate to
    * the leading 32 dims, renormalize, int8-quantize. The sqnorm readout
    * proves unit normalization (1e12-scaled squared norms); the rest is
    * the q_embed_quantize error readout on the prepped vectors. Every
    * fold is sequential and scaled per row, so the oracle reproduces all
    * of it bit-for-bit.
    */
  query("q_embed_prep",
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |n1 AS (SELECT vec_id, label,
        |         CASE WHEN list_sum(list_transform(e, x -> x*x)) > 0
        |              THEN list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y*y))))
        |              ELSE e END AS u
        |       FROM v),
        |n2 AS (SELECT vec_id, label,
        |         CASE WHEN list_sum(list_transform(u[1:32], x -> x*x)) > 0
        |              THEN list_transform(u[1:32], x -> x / sqrt(list_sum(list_transform(u[1:32], y -> y*y))))
        |              ELSE u[1:32] END AS m
        |       FROM n1),
        |s AS (SELECT vec_id, label, m,
        |        list_max(list_transform(m, x -> abs(x))) / 127.0 AS scale FROM n2),
        |qz AS (SELECT vec_id, label, m, scale,
        |         list_transform(m, x -> CASE WHEN scale > 0
        |           THEN floor(x / scale + 0.5) ELSE 0 END) AS q
        |       FROM s),
        |err AS (SELECT label,
        |          list_sum(list_transform(list_zip(m, q),
        |            p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))) AS sqerr,
        |          list_max(list_transform(q, x -> abs(x))) AS maxq,
        |          list_sum(list_transform(m, x -> x * x)) AS sqn
        |        FROM qz)
        |SELECT label, count(*) AS n,
        |       CAST(sum(CAST(floor(sqerr * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled_sqerr,
        |       CAST(max(maxq) AS BIGINT) AS max_abs_code,
        |       CAST(sum(CASE WHEN maxq = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated,
        |       CAST(sum(CAST(floor(sqn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled_sqnorm
        |FROM err GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions._
    val maxAbsCode = aggregate(col("q"), lit(0L), (acc, x) => greatest(acc, abs(x)))
    spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))
      .withColumn("m", graft.functions.L2Normalize(
        slice(graft.functions.L2Normalize(col("v")), 1, 32)))
      .withColumn("scale", int8Scale(col("m")))
      .withColumn("q", quantizeInt8(col("m"), col("scale")))
      .withColumn("sqerr", int8SqError(col("m"), col("q"), col("scale")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("sqerr") * lit(1e12) + 0.5).cast("long")).as("sum_scaled_sqerr"),
        max(maxAbsCode).as("max_abs_code"),
        sum(when(maxAbsCode === 127L, 1L).otherwise(0L)).as("n_saturated"),
        sum(floor(aggregate(col("m"), lit(0.0), (a, x) => a + x * x) * lit(1e12) + 0.5)
          .cast("long")).as("sum_scaled_sqnorm"))
      .orderBy("label")
  }
}
