package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.ops.{Anonymize, Sampling, Similarity}
import QuerySupport._

/** Retrieval, sampling and corpus-curation queries (LLM pipeline). */
private[graft] object RetrievalQueries extends QueryFamily {

  /** Shared BM25 oracle CTE chain (tokenize → doc/corpus stats → per-
    * (query-term, doc) contribution → per-(query, doc) score `sc`), with
    * the query-term set `qt(qid, tok)` supplied by the caller — q_bm25
    * retrieves for literal query strings, q_hybrid_rrf for document
    * texts. Mirrors `ops/Bm25.scala` integer arithmetic exactly.
    */
  private def bm25CtesSql(qtCtes: String): String =
    s"""tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |nn AS (SELECT doc_id, t, len(t) AS dl FROM tk WHERE len(t) >= 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM nn),
       |tfc AS (SELECT doc_id, tok, count(*) AS tf
       |        FROM (SELECT doc_id, unnest(t) AS tok FROM nn) GROUP BY 1, 2),
       |dfc AS (SELECT tok, count(*) AS df FROM tfc GROUP BY 1),
       |$qtCtes,
       |con AS (SELECT qt.qid, p.doc_id,
       |          CAST(floor(
       |            (CAST(floor(ln(2 * (SELECT n FROM st) + 2) * 1e6 + 0.5) AS BIGINT)
       |             - CAST(floor(ln(2 * p.df + 1) * 1e6 + 0.5) AS BIGINT))
       |            * CAST(22 * (SELECT s FROM st) * p.tf AS DOUBLE)
       |            / CAST(10 * (SELECT s FROM st) * p.tf + 3 * (SELECT s FROM st)
       |                   + 9 * (SELECT n FROM st) * p.dl AS DOUBLE)
       |            + 0.5) AS BIGINT) AS c
       |        FROM (SELECT tfc.doc_id, tfc.tok, tfc.tf, nn.dl, dfc.df
       |              FROM tfc JOIN nn USING (doc_id) JOIN dfc USING (tok)) p
       |        JOIN qt ON p.tok = qt.tok),
       |sc AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS scaled_score
       |       FROM con GROUP BY 1, 2)""".stripMargin

  /** MMR diversified re-ranking ([[graft.ops.Mmr]]) of the brute-force
    * top-8 shortlist for three probe queries, k = 3 picks at λ = 0.7 —
    * the redundancy-suppressing second stage after ANN retrieval. The
    * oracle unrolls the identical greedy recurrence as chained argmax
    * CTEs (the `q_pagerank` discipline), sharing the cosine kernel
    * with q_embed_topk, so the pick sequence must match row-for-row.
    */
  query("q_mmr_diversify",
      """WITH cand AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                CAST(q.embedding AS DOUBLE[])) AS rel,
        |         CAST(c.embedding AS DOUBLE[]) AS cv,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                           CAST(q.embedding AS DOUBLE[])) DESC,
        |                    c.vec_id ASC) AS rk
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
        |c8 AS (SELECT query_id, neighbor_id, rel, cv FROM cand WHERE rk <= 8),
        |s1 AS (SELECT query_id, neighbor_id, cv FROM (
        |        SELECT query_id, neighbor_id, cv,
        |               row_number() OVER (PARTITION BY query_id
        |                 ORDER BY 0.7 * rel DESC, neighbor_id ASC) AS rn FROM c8)
        |       WHERE rn = 1),
        |r2 AS (SELECT c.query_id, c.neighbor_id, c.rel, c.cv,
        |              0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE))
        |                * list_cosine_similarity(c.cv, s.cv) AS score
        |       FROM c8 c JOIN s1 s ON s.query_id = c.query_id
        |       WHERE c.neighbor_id <> s.neighbor_id),
        |s2 AS (SELECT query_id, neighbor_id, cv FROM (
        |        SELECT query_id, neighbor_id, cv,
        |               row_number() OVER (PARTITION BY query_id
        |                 ORDER BY score DESC, neighbor_id ASC) AS rn FROM r2)
        |       WHERE rn = 1),
        |r3 AS (SELECT c.query_id, c.neighbor_id,
        |              0.7 * c.rel - (1 - CAST(0.7 AS DOUBLE)) * greatest(
        |                list_cosine_similarity(c.cv, a.cv),
        |                list_cosine_similarity(c.cv, b.cv)) AS score
        |       FROM c8 c JOIN s1 a ON a.query_id = c.query_id
        |                 JOIN s2 b ON b.query_id = c.query_id
        |       WHERE c.neighbor_id <> a.neighbor_id
        |         AND c.neighbor_id <> b.neighbor_id),
        |s3 AS (SELECT query_id, neighbor_id FROM (
        |        SELECT query_id, neighbor_id,
        |               row_number() OVER (PARTITION BY query_id
        |                 ORDER BY score DESC, neighbor_id ASC) AS rn FROM r3)
        |       WHERE rn = 1)
        |SELECT query_id, CAST(1 AS BIGINT) AS step, neighbor_id FROM s1
        |UNION ALL SELECT query_id, CAST(2 AS BIGINT), neighbor_id FROM s2
        |UNION ALL SELECT query_id, CAST(3 AS BIGINT), neighbor_id FROM s3
        |ORDER BY query_id, step""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions.toDoubleArray
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val shortlist = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 8)
      .join(emb.select(col("vec_id").as("neighbor_id"),
        toDoubleArray(col("embedding")).as("__cv")), "neighbor_id")
    graft.ops.Mmr
      .diversify(shortlist, "query_id", "neighbor_id", "cosine", "__cv",
        k = 3, lambda = 0.7)
      .orderBy("query_id", "step")
  }

  /** Range-partition boundary planning — the shard-boundary step of a
    * sorted/range-partitioned 100 TB write (what `repartitionByRange`
    * derives by sampling, made exact and auditable): 8 cut values at the
    * k/8 quantiles of doc length, then per-shard row/char totals for the
    * balance report. Entirely from the per-value COUNT HISTOGRAM — the
    * corpus is touched by one hash aggregate; no global per-row sort
    * anywhere (the `q_winsorize` bound pattern, generalized to a full
    * boundary ladder). A value's block lands wholly in the first shard
    * whose bound covers it, so boundaries are stable under re-sharding
    * of the input itself.
    */
  query("q_range_shards",
      """WITH hist AS (
        |  SELECT n_chars, CAST(count(*) AS BIGINT) AS m
        |  FROM documents GROUP BY 1),
        |cum AS (
        |  SELECT n_chars, m,
        |         CAST(sum(m) OVER (ORDER BY n_chars) AS BIGINT) AS cum,
        |         CAST((SELECT sum(m) FROM hist) AS BIGINT) AS n
        |  FROM hist),
        |bounds AS (
        |  SELECT k.shard, min(c.n_chars) AS hi_bound
        |  FROM cum c CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS shard) k
        |  WHERE c.cum >= (k.shard * c.n + 7) // 8
        |  GROUP BY 1),
        |assigned AS (
        |  SELECT h.n_chars, h.m, min(b.shard) AS shard
        |  FROM hist h JOIN bounds b ON h.n_chars <= b.hi_bound
        |  GROUP BY 1, 2)
        |SELECT a.shard, b.hi_bound, CAST(sum(a.m) AS BIGINT) AS n_rows,
        |       min(a.n_chars) AS lo, max(a.n_chars) AS hi,
        |       CAST(sum(a.m * a.n_chars) AS BIGINT) AS sum_chars
        |FROM assigned a JOIN bounds b USING (shard)
        |GROUP BY 1, 2 ORDER BY shard""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val hist = t(spark, dir, "documents")
      .groupBy("n_chars").agg(count(lit(1)).as("m"))
    val wv = Window.orderBy("n_chars")
    val cum = hist
      .withColumn("cum", sum("m").over(wv))
      .crossJoin(broadcast(hist.agg(sum("m").as("n"))))
    val ks = (1 to 8).map(_.toLong).toDF("shard")
    val bounds = cum.crossJoin(broadcast(ks))
      .filter(col("cum") >= expr("(shard * n + 7) div 8"))
      .groupBy("shard").agg(min("n_chars").as("hi_bound"))
    val assigned = hist.crossJoin(broadcast(bounds))
      .filter(col("n_chars") <= col("hi_bound"))
      .groupBy("n_chars", "m").agg(min("shard").as("shard"))
    assigned.groupBy("shard")
      .agg(sum("m").as("n_rows"), min("n_chars").as("lo"),
        max("n_chars").as("hi"), sum(col("m") * col("n_chars")).as("sum_chars"))
      .join(broadcast(bounds), "shard")
      .select("shard", "hi_bound", "n_rows", "lo", "hi", "sum_chars")
      .orderBy("shard")
  }

  /** Boolean conjunctive retrieval (AND of all query terms) — the
    * filter-mode sibling of `q_bm25`'s ranked retrieval, sharing the same
    * fixed query set. Distinct (doc, term) postings join the broadcast
    * query-term dim; a doc matches when its distinct matched-term count
    * equals the query's term count. One corpus explode + hash aggregates;
    * the query side stays a bounded broadcast at any corpus size.
    */
  query("q_boolean_retrieval",
      s"""WITH q(qid, qtext) AS (VALUES (1, 'sort merge join'),
         |  (2, 'hash table scan'), (3, 'stream window batch')),
         |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS t FROM q),
         |nq AS (SELECT qid, count(*) AS nt FROM qt GROUP BY 1),
         |dt AS (SELECT DISTINCT doc_id, unnest($ToksSql) AS t FROM documents),
         |m AS (SELECT qt.qid, dt.doc_id, count(*) AS mt
         |      FROM dt JOIN qt USING (t) GROUP BY 1, 2)
         |SELECT CAST(m.qid AS BIGINT) AS qid, count(*) AS n_docs,
         |       CAST(sum(m.doc_id) AS BIGINT) AS sum_doc_ids,
         |       min(m.doc_id) AS min_doc, max(m.doc_id) AS max_doc
         |FROM m JOIN nq ON m.qid = nq.qid AND m.mt = nq.nt
         |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val queries = Seq((1L, "sort merge join"), (2L, "hash table scan"),
      (3L, "stream window batch")).toDF("qid", "qtext")
    val qterms = queries
      .select(col("qid"), explode(split(col("qtext"), " ")).as("t")).distinct()
    val nq = qterms.groupBy("qid").agg(count(lit(1)).as("nt"))
    val postings = t(spark, dir, "documents")
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("t")).distinct()
    postings.join(broadcast(qterms), "t")
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("m"))
      .join(broadcast(nq), "qid").filter(col("m") === col("nt"))
      .groupBy("qid")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_ids"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("qid")
  }

  /** Phrase search over a POSITIONAL index: candidate positions for each
    * phrase word are cut down by a broadcast word-dim join FIRST, then the
    * two (already small) position sets meet in an equi-join on
    * (phrase, doc, position+1) — the scale shape of positional-postings
    * intersection; the corpus-sized position list is never self-joined
    * whole. The oracle checks adjacency directly on the token arrays.
    */
  query("q_phrase_search",
      s"""WITH p(pid, w1, w2) AS (VALUES (1, 'sort', 'merge'),
         |  (2, 'hash', 'table'), (3, 'window', 'batch')),
         |tk AS (SELECT doc_id, $ToksSql AS toks FROM documents),
         |ix AS (SELECT doc_id, toks, unnest(range(1, list_count(toks))) AS i
         |       FROM tk),
         |m AS (SELECT DISTINCT p.pid, ix.doc_id
         |      FROM ix JOIN p ON ix.toks[i] = p.w1 AND ix.toks[i+1] = p.w2)
         |SELECT CAST(pid AS BIGINT) AS pid, count(*) AS n_docs,
         |       CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val phrases = Seq((1L, "sort", "merge"), (2L, "hash", "table"),
      (3L, "window", "batch")).toDF("pid", "w1", "w2")
    val pos = t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(TF.tokens(col("text"))))
      .toDF("doc_id", "pos", "t")
    val w1s = pos.join(broadcast(phrases.select("pid", "w1")), col("t") === col("w1"))
      .select("pid", "doc_id", "pos")
    val w2s = pos.join(broadcast(phrases.select("pid", "w2")), col("t") === col("w2"))
      .select(col("pid"), col("doc_id"), (col("pos") - 1).as("pos"))
    w1s.join(w2s, Seq("pid", "doc_id", "pos"))
      .select("pid", "doc_id").distinct()
      .groupBy("pid")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_ids"))
      .orderBy("pid")
  }

  /** BM25 tf postings (the inverted-index core, [[graft.ops.Bm25
    * .tfPostings]]) built ONCE per (session, dir) and served to every
    * retrieval query (q_bm25, q_ndcg, q_retrieval_recall, q_hybrid_rrf —
    * each previously re-tokenized the identical corpus). Persisted and
    * deliberately NOT released per query: the index outliving the query
    * batch IS the retrieval-engine feature (build once, query many); the
    * cache is session-scoped so `spark.stop()` reclaims the blocks.
    */
  private val bm25TfCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]())

  private def bm25Tf(spark: SparkSession, dir: String): DataFrame =
    cachedPerDir(bm25TfCache, spark, dir) {
      graft.ops.Bm25.tfPostings(
          spread(t(spark, dir, "documents")), "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Deterministic stratified sampling + split assignment
    * ([[graft.ops.Sampling]]): membership is a pure function of
    * (doc_id, seed) — retry-stable and engine-portable, which is the whole
    * point vs rand()-based sample(). The oracle reproduces membership
    * BIT-FOR-BIT from the same portable hash formula; `id_sum` pins the
    * exact selected row set, not just counts.
    */
  query("q_sample_hash",
      // the same portable Lehmer-bucket formula as Sampling.bucket — membership
      // must agree bit-for-bit across engines
      """WITH b AS (
        |  SELECT doc_id, lang,
        |         ((doc_id + 7) % 2147483647 * 48271) % 2147483647 % 10000 AS bkt,
        |         ((doc_id + 13) % 2147483647 * 48271) % 2147483647 % 10000 AS sbkt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN sbkt < 8000 THEN 'train'
        |              WHEN sbkt < 9000 THEN 'val' ELSE 'test' END AS split
        |  FROM b
        |  WHERE bkt < CASE WHEN lang = 'en' THEN 5000 ELSE 2500 END)
        |SELECT lang, split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    Sampling.stratifiedSample(docs, col("doc_id"), col("lang"),
        Map("en" -> 0.5), defaultRate = 0.25, seed = 7)
      .withColumn("split", Sampling.assignSplit(col("doc_id"), 13,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("lang", "split")
  }

  /** Length-weighted Bernoulli sampling ([[Sampling.weightedSample]]):
    * keep probability proportional to `n_chars` (p = w / 4·max) — the
    * importance-sampling counterpart of the flat rate sampler, pure
    * integer predicate, shuffle-free. The max weight is one scalar
    * aggregate; the readout pins the kept SET per language.
    */
  query("q_weighted_sample",
      // weighted membership: bucket·den < w·10000·num, division-free — the
      // Lehmer bucket identical to q_sample_hash's
      """WITH mx AS (SELECT CAST(max(n_chars) AS BIGINT) AS m FROM documents)
        |SELECT lang, count(*) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS w_sum,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM documents CROSS JOIN mx
        |WHERE ((doc_id + 31) % 2147483647 * 48271) % 2147483647 % 10000
        |        * (4 * m) < n_chars * 10000
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val maxW = docs.agg(max("n_chars")).head.getLong(0)
    Sampling.weightedSample(docs, col("doc_id"), col("n_chars"),
        num = 1L, den = 4L * maxW, seed = 31)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("w_sum"),
        sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** Domain mixing ([[Sampling.proportionalSample]]): DoReMi-style
    * deterministic subsampling toward target source shares (60/30/10
    * across three sources, target size 60; everything else dropped —
    * the mixture is exhaustive). Keep rates derive from one group-count
    * aggregate; membership is the portable Lehmer bucket, so the oracle
    * reproduces the selected row set bit-for-bit, not just counts.
    */
  query("q_domain_mix",
      // keep-rate thresholds recomputed with the IDENTICAL IEEE op order
      // (share * total / count, then min, then floor(x*10000 + 0.5) ==
      // Scala's math.round for positives); membership = the Lehmer bucket
      """WITH counts AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
        |th AS (SELECT source,
        |         CAST(floor(least(1.0, share * 60 / c) * 10000 + 0.5) AS BIGINT) AS t
        |       FROM (SELECT source, c,
        |               CASE source WHEN 'src1' THEN 0.6 WHEN 'src2' THEN 0.3
        |                           WHEN 'src3' THEN 0.1 ELSE NULL END AS share
        |             FROM counts)
        |       WHERE share IS NOT NULL),
        |kept AS (SELECT d.source, d.doc_id FROM documents d JOIN th ON d.source = th.source
        |         WHERE ((d.doc_id + 21) % 2147483647 * 48271) % 2147483647 % 10000 < th.t)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    Sampling.proportionalSample(t(spark, dir, "documents"), col("doc_id"), "source",
        Map("src1" -> 0.6, "src2" -> 0.3, "src3" -> 0.1), totalTarget = 60L, seed = 21)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("source")
  }

  /** k-anonymity release gate ([[graft.ops.Anonymize]]): quasi-identifier
    * tuples (lang, source, length bucket) shared by fewer than k=5
    * documents are suppressed (quasi columns nulled); the readout counts
    * surviving rows per language with suppressed rows pooled under one
    * label — exactly the aggregate a privacy review reads. The oracle
    * recomputes the suppression from group sizes directly.
    */
  query("q_k_anonymity",
      """WITH g AS (
        |  SELECT lang, source, n_chars // 500 AS len_bucket, count(*) AS group_n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CASE WHEN group_n < 5 THEN '(suppressed)' ELSE lang END AS lang_out,
        |       CAST(sum(group_n) AS BIGINT) AS n_rows
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
      .withColumn("len_bucket", expr("n_chars div 500"))
    Anonymize.kAnonymize(docs, Seq("lang", "source", "len_bucket"), 5L)
      .groupBy(coalesce(col("lang"), lit("(suppressed)")).as("lang_out"))
      .agg(count(lit(1)).as("n_rows"))
      .orderBy("lang_out")
  }

  /** Deterministic epoch shuffle: the global training order for epoch 0 is
    * `ORDER BY md5('epoch0:' || doc_id)` — reproducible across engines and
    * runs, re-keyable per epoch by changing the salt (the repo's
    * established md5 contract, see q_pseudonymize). The readout takes the
    * first 20 positions via TakeOrdered (never a global window): LIMIT
    * first, then rank within the bounded result.
    */
  query("q_epoch_shuffle",
      """WITH top AS (
        |  SELECT doc_id, md5(concat('epoch0:', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents ORDER BY h, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS rank,
        |       doc_id, h
        |FROM top ORDER BY rank""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents").createOrReplaceTempView("documents")
    spark.sql(
      """WITH top AS (
        |  SELECT doc_id, md5(concat('epoch0:', cast(doc_id as string))) AS h
        |  FROM documents ORDER BY h, doc_id LIMIT 20)
        |SELECT cast(row_number() OVER (ORDER BY h, doc_id) as bigint) AS rank,
        |       doc_id, h
        |FROM top ORDER BY rank""".stripMargin)
  }

  /** Curriculum-mixing schedule ([[Sampling.curriculumOrder]]): a
    * deterministic virtual-time order that interleaves sources
    * proportionally to weight at every prefix — the data-mixture schedule
    * a trainer consumes, with nothing sampled away. Weight here derives
    * from the source id (`suffix % 3 + 1`) so both engines compute it;
    * readout takes the schedule head via TakeOrdered and aggregates per
    * source, making the 3:1 interleave a hash-checked fact.
    */
  query("q_curriculum",
      """WITH v AS (
        |  SELECT doc_id, source,
        |         ((doc_id + 17) % 2147483647 * 48271) % 2147483647 % 10000 * 1000000
        |           // (CAST(substring(source, 4) AS INT) % 3 + 1) AS vtime
        |  FROM documents),
        |head AS (SELECT * FROM v ORDER BY vtime, doc_id LIMIT 300)
        |SELECT source, count(*) AS n, CAST(min(vtime) AS BIGINT) AS min_v,
        |       CAST(max(vtime) AS BIGINT) AS max_v
        |FROM head GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents").select("doc_id", "source")
    val w = expr("cast(substring(source, 4) as int) % 3 + 1").cast("long")
    Sampling.curriculumOrder(docs, "doc_id", w, 17L)
      .orderBy(col("__vtime"), col("doc_id")).limit(300)
      .groupBy("source")
      .agg(count(lit(1)).as("n"), min("__vtime").as("min_v"),
        max("__vtime").as("max_v"))
      .orderBy("source")
  }

  /** Capstone: the end-to-end training-data pipeline shape — quality
    * filter, then exact dedup (keep min doc_id per normalized-text
    * fingerprint), then per-language corpus stats. Every stage is the
    * declarative operator used elsewhere; the oracle reproduces the whole
    * chain in SQL.
    */
  query("q_pipeline_e2e",
      s"""WITH scored AS (
         |  SELECT *, round((
         |    (CASE WHEN len($ToksSql) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN (length(text) - length(regexp_replace(text, '[^[:alnum:][:space:]]', '', 'g'))) * 1.0
         |           / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN list_sum(list_transform($ToksSql, t -> length(t))) * 1.0
         |           / greatest(len($ToksSql), 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN len(list_filter($ToksSql, t -> list_contains(
         |        ['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0
         |           / greatest(len($ToksSql), 1) > 0.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 2) AS q
         |  FROM documents),
         |deduped AS (
         |  SELECT *, row_number() OVER (PARTITION BY $FpSql ORDER BY doc_id) AS rn
         |  FROM scored WHERE q >= 0.75)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(len($ToksSql)) AS BIGINT) AS n_tokens,
         |       floor(avg(len($ToksSql)) * 100 + 0.5) / 100 AS avg_tokens
         |FROM deduped WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
      .filter(TF.qualityScore(col("text")) >= 0.75)
    val w = Window.partitionBy(TF.contentFingerprint(col("text")))
      .orderBy(col("doc_id").asc)
    docs
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"),
        r(avg(TF.tokenCount(col("text"))), 2).as("avg_tokens"))
      .orderBy("lang")
  }

  /** The full pretraining-data chain as ONE oracle-verified plan —
    * quality gate → exact dedup (keep min id per content fingerprint) →
    * eval-set decontamination ([[graft.ops.Decontaminate]], 8-gram
    * overlap, eval = doc_id < 20 of the raw corpus, eval ids excluded
    * from train) → deterministic curriculum schedule
    * ([[Sampling.curriculumOrder]]) → schedule-head readout. Every stage
    * is the same operator the standalone queries certify; chaining them
    * proves the composition (filters feeding window dedup feeding an
    * anti-join feeding the schedule) stays one declarative plan the
    * optimizer can see through — no materialization boundaries except
    * the broadcast eval side. DuckDB reproduces the whole chain.
    */
  query("q_pipeline_pretrain",
      s"""WITH scored AS (
         |  SELECT *, round((
         |    (CASE WHEN len($ToksSql) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN (length(text) - length(regexp_replace(text, '[^[:alnum:][:space:]]', '', 'g'))) * 1.0
         |           / greatest(length(text), 1) < 0.2 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN list_sum(list_transform($ToksSql, t -> length(t))) * 1.0
         |           / greatest(len($ToksSql), 1) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN len(list_filter($ToksSql, t -> list_contains(
         |        ['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0
         |           / greatest(len($ToksSql), 1) > 0.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 2) AS q
         |  FROM documents),
         |dd AS (
         |  SELECT *, row_number() OVER (PARTITION BY $FpSql ORDER BY doc_id) AS rn
         |  FROM scored WHERE q >= 0.75),
         |surv AS (SELECT * FROM dd WHERE rn = 1),
         |tkc AS (SELECT doc_id, $ToksSql AS t FROM surv),
         |shc AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-7),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |                     || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]) END)) AS s
         |  FROM tkc),
         |tke AS (SELECT doc_id, $ToksSql AS t FROM documents WHERE doc_id < 20),
         |she AS (
         |  SELECT doc_id AS eid, unnest(list_distinct(
         |    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-7),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |                     || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]) END)) AS s
         |  FROM tke),
         |contam AS (SELECT DISTINCT shc.doc_id FROM shc JOIN she
         |           ON shc.s = she.s AND shc.doc_id <> she.eid),
         |train AS (SELECT * FROM surv WHERE doc_id >= 20
         |          AND doc_id NOT IN (SELECT doc_id FROM contam)),
         |v AS (
         |  SELECT doc_id, lang, len($ToksSql) AS ntok,
         |         ((doc_id + 29) % 2147483647 * 48271) % 2147483647 % 10000 * 1000000
         |           // (CAST(substring(source, 4) AS INT) % 3 + 1) AS vtime
         |  FROM train),
         |head AS (SELECT * FROM v ORDER BY vtime, doc_id LIMIT 200)
         |SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens
         |FROM head GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val quality = docs.filter(TF.qualityScore(col("text")) >= 0.75)
    val w = Window.partitionBy(TF.contentFingerprint(col("text")))
      .orderBy(col("doc_id").asc)
    val deduped = quality.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val contam = graft.ops.Decontaminate.contaminated(
      deduped, t(spark, dir, "documents").filter(col("doc_id") < 20),
      "doc_id", "text", 8)
    val train = deduped.filter(col("doc_id") >= 20)
      .join(contam, Seq("doc_id"), "left_anti")
    Sampling.curriculumOrder(
        train.select("doc_id", "source", "lang", "text"), "doc_id",
        expr("cast(substring(source, 4) as int) % 3 + 1").cast("long"), 29L)
      .orderBy(col("__vtime"), col("doc_id")).limit(200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .orderBy("lang")
  }

  /** BM25 ranked retrieval ([[graft.ops.Bm25]]): three fixed corpus-vocab
    * queries, top-10 docs each. The k1=6/5, b=3/4 integer-rational
    * construction plus logs-of-integers idf make every score an exact
    * long both engines re-derive; ties break on doc_id.
    */
  query("q_bm25",
      s"""WITH ${bm25CtesSql(
           """q(qid, qtext) AS (VALUES (1, 'sort merge join'), (2, 'hash table scan'),
             |                         (3, 'stream window batch')),
             |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)""".stripMargin)},
         |rk AS (SELECT qid, doc_id, scaled_score,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY scaled_score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       doc_id, scaled_score
         |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val queries = Seq((1L, "sort merge join"), (2L, "hash table scan"),
      (3L, "stream window batch")).toDF("qid", "qtext")
    graft.ops.Bm25.bm25TopKFromTf(bm25Tf(spark, dir), "doc_id",
        queries, "qid", "qtext", k = 10)
      .orderBy("qid", "rank")
  }

  /** NDCG@10 retrieval evaluation ([[graft.ops.RetrievalEval]]): the
    * BM25 run scored against a corpus-derived graded relevance set
    * (grade = #distinct query terms present in the doc, 0..3). The ideal
    * ranking is computed from per-grade COUNTS — one bounded hash
    * aggregate, never a corpus sort — and every readout is integer
    * (literal micro-discount weights, `2^rel-1` gains, ppm division), so
    * both engines produce identical rows.
    */
  /** Shared by `q_ndcg` and `q_retrieval_recall` (whose oracles assume
    * identical runs and relevance): the three fixed queries' BM25 top-10
    * run plus graded relevance (rel = #distinct query terms in the doc)
    * computed off the run's OWN persisted postings — one corpus
    * tokenize for run and grading together.
    */
  private def bm25EvalRunAndRels(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val queries = Seq((1L, "sort merge join"), (2L, "hash table scan"),
      (3L, "stream window batch")).toDF("qid", "qtext")
    val tf = bm25Tf(spark, dir)
    val run = graft.ops.Bm25.bm25TopKFromTf(
      tf, "doc_id", queries, "qid", "qtext", k = 10)
    val qt = queries.select(col("qid"),
      explode(array_distinct(TF.tokenHashes(col("qtext")))).as("th"))
    val rels = tf.join(broadcast(qt), "th")
      .groupBy("qid", "doc_id").agg(count(lit(1)).as("rel"))
    (run, rels)
  }

  query("q_ndcg",
      s"""WITH ${bm25CtesSql(
           """q(qid, qtext) AS (VALUES (1, 'sort merge join'), (2, 'hash table scan'),
             |                         (3, 'stream window batch')),
             |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)""".stripMargin)},
         |rk AS (SELECT qid, doc_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY scaled_score DESC, doc_id) AS rank
         |       FROM sc QUALIFY rank <= 10),
         |dt AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM nn),
         |rel AS (SELECT qt.qid, dt.doc_id, CAST(count(*) AS BIGINT) AS rel
         |        FROM dt JOIN qt ON dt.tok = qt.tok GROUP BY 1, 2),
         |w(r, w) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
         |                   (4, 430677), (5, 386853), (6, 356207),
         |                   (7, 333333), (8, 315465), (9, 301030),
         |                   (10, 289065)),
         |dcg AS (SELECT rk.qid,
         |          CAST(sum(((1 << CAST(coalesce(rel.rel, 0) AS INT)) - 1) * w.w)
         |            AS BIGINT) AS dcg_u
         |        FROM rk
         |        LEFT JOIN rel ON rk.qid = rel.qid AND rk.doc_id = rel.doc_id
         |        JOIN w ON rk.rank = w.r
         |        GROUP BY 1),
         |gc AS (SELECT qid, rel AS g, count(*) AS cnt FROM rel GROUP BY 1, 2),
         |cc AS (SELECT qid, g,
         |         sum(cnt) OVER (PARTITION BY qid ORDER BY g DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |       FROM gc),
         |nrel AS (SELECT qid, CAST(max(cum) AS BIGINT) AS n_rel FROM cc GROUP BY 1),
         |ig AS (SELECT cc.qid, w.r, w.w, max(cc.g) AS ig
         |       FROM cc JOIN w ON cc.cum >= w.r GROUP BY 1, 2, 3),
         |idcg AS (SELECT qid,
         |           CAST(sum(((1 << CAST(ig AS INT)) - 1) * w) AS BIGINT) AS idcg_u
         |         FROM ig GROUP BY 1)
         |SELECT CAST(d.qid AS BIGINT) AS qid, coalesce(n.n_rel, 0) AS n_rel,
         |       d.dcg_u, coalesce(i.idcg_u, 0) AS idcg_u,
         |       CASE WHEN i.idcg_u > 0 THEN d.dcg_u * 1000000 // i.idcg_u END
         |         AS ndcg_ppm
         |FROM dcg d LEFT JOIN nrel n USING (qid) LEFT JOIN idcg i USING (qid)
         |ORDER BY qid""".stripMargin) { (spark, dir) =>
    val (run, rels) = bm25EvalRunAndRels(spark, dir)
    graft.ops.RetrievalEval.ndcgAtK(
        run, "qid", "doc_id", "rank", rels, "qid", "doc_id", "rel", k = 10)
      .orderBy("qid")
  }

  /** Recall@10 + reciprocal rank ([[RetrievalEval.recallAtK]]) for the
    * same BM25 run, binary relevance = "doc contains >= 2 of the query's
    * terms". One run⋈rels join + one bounded aggregate; ppm integer
    * readouts (averaging rr_ppm across queries is MRR).
    */
  query("q_retrieval_recall",
      s"""WITH ${bm25CtesSql(
           """q(qid, qtext) AS (VALUES (1, 'sort merge join'), (2, 'hash table scan'),
             |                         (3, 'stream window batch')),
             |qt AS (SELECT DISTINCT qid, unnest(string_split(qtext, ' ')) AS tok FROM q)""".stripMargin)},
         |rk AS (SELECT qid, doc_id,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY scaled_score DESC, doc_id) AS rank
         |       FROM sc QUALIFY rank <= 10),
         |dt AS (SELECT DISTINCT doc_id, unnest(t) AS tok FROM nn),
         |rb AS (SELECT qt.qid, dt.doc_id
         |       FROM dt JOIN qt ON dt.tok = qt.tok
         |       GROUP BY 1, 2 HAVING count(*) >= 2),
         |nr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rb GROUP BY 1),
         |h AS (SELECT rk.qid,
         |        CAST(sum(CASE WHEN rb.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_hits,
         |        min(CASE WHEN rb.doc_id IS NOT NULL THEN rk.rank END) AS fh
         |      FROM rk LEFT JOIN rb ON rk.qid = rb.qid AND rk.doc_id = rb.doc_id
         |      GROUP BY 1)
         |SELECT CAST(h.qid AS BIGINT) AS qid, coalesce(nr.n_rel, 0) AS n_rel,
         |       h.n_hits,
         |       CASE WHEN nr.n_rel > 0
         |            THEN h.n_hits * 1000000 // least(nr.n_rel, 10) END AS recall_ppm,
         |       CAST(coalesce(1000000 // fh, 0) AS BIGINT) AS rr_ppm
         |FROM h LEFT JOIN nr ON h.qid = nr.qid ORDER BY qid""".stripMargin) { (spark, dir) =>
    val (run, rels) = bm25EvalRunAndRels(spark, dir)
    graft.ops.RetrievalEval.recallAtK(
        run, "qid", "doc_id", "rank", rels.filter(col("rel") >= 2),
        "qid", "doc_id", k = 10)
      .orderBy("qid")
  }

  /** Hybrid retrieval via reciprocal-rank fusion ([[graft.ops.Rrf]]):
    * THE hybrid-search shape — a lexical BM25 run over document text and
    * a semantic brute-force cosine run over the aligned embeddings table
    * (same id space), each top-20 per query, fused by integer
    * `1e9 div (60 + rank)` and re-ranked top-10. Only ranks cross runs,
    * so the incomparable score scales (scaled-long BM25, float cosine)
    * fuse without calibration.
    */
  query("q_hybrid_rrf",
      s"""WITH ${bm25CtesSql(
           "qt AS (SELECT DISTINCT doc_id AS qid, unnest(t) AS tok FROM nn WHERE doc_id < 10)")},
         |lexk AS (SELECT qid, doc_id AS id,
         |           row_number() OVER (PARTITION BY qid
         |             ORDER BY scaled_score DESC, doc_id) AS rank
         |         FROM sc QUALIFY rank <= 20),
         |semk AS (SELECT qid, id, rank FROM (
         |           SELECT q.vec_id AS qid, c.vec_id AS id,
         |             row_number() OVER (PARTITION BY q.vec_id
         |               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |                 CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
         |           FROM embeddings q JOIN embeddings c
         |             ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
         |         WHERE rank <= 20),
         |u AS (SELECT qid, id, 1000000000 // (60 + rank) AS c FROM lexk
         |      UNION ALL SELECT qid, id, 1000000000 // (60 + rank) AS c FROM semk),
         |f AS (SELECT qid, id, CAST(sum(c) AS BIGINT) AS scaled_rrf,
         |        count(*) AS n_runs FROM u GROUP BY 1, 2),
         |rk AS (SELECT qid, id, scaled_rrf, n_runs,
         |         row_number() OVER (PARTITION BY qid
         |           ORDER BY scaled_rrf DESC, id) AS rank
         |       FROM f)
         |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank,
         |       CAST(id AS BIGINT) AS id, scaled_rrf, CAST(n_runs AS BIGINT) AS n_runs
         |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val emb = t(spark, dir, "embeddings")
    val lex = graft.ops.Bm25.bm25TopKFromTf(
      bm25Tf(spark, dir), "doc_id",
      docs.filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("text").as("qtext")),
      "qid", "qtext", k = 20)
    val sem = Similarity.bruteForceTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 20)
    graft.ops.Rrf.fuse(Seq(
        lex.select(col("qid"), col("doc_id").as("id"), col("rank")),
        sem.select(col("query_id").as("qid"), col("neighbor_id").as("id"),
          col("rank"))),
      "qid", "id", topK = 10)
      .orderBy("qid", "rank")
  }

  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each
    * anchor embedding, the top-5 most-similar vectors with a DIFFERENT
    * label, near-identical candidates (cosine >= 0.99) excluded — the
    * contrastive-training batch-construction op. Rank-only output (the
    * q_embed_topk pattern): float cosines never cross the oracle
    * boundary, orderings must.
    */
  query("q_hard_negatives",
      """SELECT anchor_id, rank, negative_id, neg_label FROM (
        |  SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
        |         CAST(c.label AS BIGINT) AS neg_label,
        |         row_number() OVER (PARTITION BY a.vec_id
        |           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |             CAST(a.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings a JOIN embeddings c
        |    ON a.vec_id < 10 AND c.label <> a.label
        |  WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |          CAST(a.embedding AS DOUBLE[])) < 0.99)
        |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin) { (spark, dir) =>
    val emb = t(spark, dir, "embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 5)
      .withColumn("neg_label", col("neg_label").cast("long"))
      .orderBy("anchor_id", "rank")
  }

  /** Exact-k-per-group sampling ([[Sampling.exactKPerGroup]]): a fixed
    * 20-doc eval set per language, selected by the cross-engine md5
    * pseudo-random order — the set itself is the oracle contract,
    * row-for-row.
    */
  query("q_group_sample",
      """SELECT lang, sample_rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5('s1:' || CAST(doc_id AS VARCHAR)), doc_id)
        |           AS BIGINT) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin) { (spark, dir) =>
    Sampling.exactKPerGroup(spread(t(spark, dir, "documents")),
        Seq("lang"), "doc_id", k = 20, seed = "s1")
      .select("lang", "sample_rank", "doc_id")
      .orderBy("lang", "sample_rank")
  }

  /** Column profiling ([[graft.ops.Profile]]): the ANALYZE-style first
    * look at an unknown table — one scan, one reduce, melted to a row per
    * column. Exact distincts here (bounded table + oracle comparison); the
    * operator defaults to HLL at scale.
    */
  query("q_profile",
      """SELECT 'doc_id' AS column_name, count(*) AS n_rows, count(doc_id) AS n_nonnull,
        |       count(DISTINCT doc_id) AS n_distinct,
        |       CAST(min(doc_id) AS VARCHAR) AS min_value, CAST(max(doc_id) AS VARCHAR) AS max_value
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(lang), count(DISTINCT lang),
        |       CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars),
        |       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(source), count(DISTINCT source),
        |       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
        |ORDER BY column_name""".stripMargin) { (spark, dir) =>
    graft.ops.Profile.profile(t(spark, dir, "documents"),
      Seq("doc_id", "lang", "n_chars", "source"), exact = true)
      .orderBy("column_name")
  }

  /** The HLL-mode profile — the scale DEFAULT (per-column exact distinct
    * forces an Expand + full-value shuffle) — graded against its accuracy
    * envelope, q_hll style: every sketch estimate must land within ±5% of
    * the exact count the oracle reproduces (rsd 0.02, deterministic for a
    * given dataset).
    */
  query("q_profile_approx",
      """SELECT 'doc_id' AS column_name, count(*) AS n_rows, count(doc_id) AS n_nonnull,
        |       count(DISTINCT doc_id) AS n_distinct_exact, true AS within_5pct
        |FROM documents
        |UNION ALL
        |SELECT 'lang', count(*), count(lang), count(DISTINCT lang), true FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars), true FROM documents
        |UNION ALL
        |SELECT 'source', count(*), count(source), count(DISTINCT source), true FROM documents
        |ORDER BY column_name""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val cols = Seq("doc_id", "lang", "n_chars", "source")
    val exact = graft.ops.Profile.profile(docs, cols, exact = true)
    val approx = graft.ops.Profile.profile(docs, cols, exact = false, rsd = 0.02)
      .select(col("column_name"), col("n_distinct").as("__approx"))
    exact.join(approx, Seq("column_name"))
      .select(col("column_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct").as("n_distinct_exact"),
        (abs(col("__approx") - col("n_distinct")).cast("double") /
          col("n_distinct").cast("double") <= 0.05).as("within_5pct"))
      .orderBy("column_name")
  }

  /** Per-source frequency cap (RefinedWeb-style domain capping): keep at
    * most 5 docs per source, preferring longer docs (n_chars DESC, doc_id
    * tiebreak). The rank<=5 filter compiles to WindowGroupLimit — Spark
    * pushes a per-partition top-k below the shuffle, so the exchange
    * carries at most 5 rows per (source, map partition), not the corpus.
    */
  query("q_domain_cap",
      """SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS kept_chars,
        |       CAST(min(doc_id) AS BIGINT) AS min_kept_id
        |FROM (SELECT source, n_chars, doc_id,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY n_chars DESC, doc_id ASC) AS rk
        |      FROM documents)
        |WHERE rk <= 5 GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val w = Window.partitionBy("source").orderBy(col("n_chars").desc, col("doc_id").asc)
    t(spark, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum("n_chars").as("kept_chars"),
        min("doc_id").as("min_kept_id"))
      .orderBy("source")
  }

  /** Deterministic global shuffle + exact-size sharding
    * ([[Sampling.shardAssign]]): the training-export step — 8 shards cut
    * from the corpus-wide md5 order, sizes balanced to ±1 row. The oracle
    * recomputes the same order/rank/floor-div assignment in SQL; per-shard
    * id-sum + boundary keys pin the exact membership of every shard.
    */
  query("q_shard_assign",
      """WITH r AS (
        |  SELECT doc_id, md5('sh1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, shuffle_key,
        |         ((row_number() OVER (ORDER BY shuffle_key) - 1) * 8)
        |           // (SELECT count(*) FROM r) AS shard
        |  FROM r)
        |SELECT shard, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |       min(shuffle_key) AS min_key, max(shuffle_key) AS max_key
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin) { (spark, dir) =>
    val (sharded, release) = Sampling.shardAssign(
      spread(t(spark, dir, "documents")), "doc_id", nShards = 8, seed = "sh1")
    val out = sharded.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        min("shuffle_key").as("min_key"),
        max("shuffle_key").as("max_key"))
      .orderBy("shard")
      .localCheckpoint(true)
    release()
    out
  }

  /** Deterministic upsampling ([[Sampling.upsample]]): sources are
    * weighted 2.5x / 1x / 0.4x / 0x by source number mod 4 — whole
    * copies plus a hash-selected fractional copy, zero-shuffle scan-side
    * explode. The checksum over `doc_id·(copy_idx+1)` pins exactly which
    * rows got which copy count.
    */
  query("q_upsample",
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CASE CAST(substr(source, 4) AS BIGINT) % 4
        |           WHEN 0 THEN 25000 WHEN 1 THEN 10000
        |           WHEN 2 THEN 4000 ELSE 0 END AS bp,
        |         ((doc_id + 11) % 2147483647 * 48271) % 2147483647 % 10000 AS bkt
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |             bp // 10000
        |               + CASE WHEN bkt < bp % 10000 THEN 1 ELSE 0 END AS copies
        |      FROM r),
        |x AS (SELECT doc_id, source,
        |             unnest(generate_series(0, copies - 1)) AS copy_idx
        |      FROM c)
        |SELECT source, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
        |       CAST(sum(doc_id * (copy_idx + 1)) AS BIGINT) AS copy_checksum
        |FROM x GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    val srcNum = substring(col("source"), 4, 10).cast("long")
    val bp = when(pmod(srcNum, lit(4L)) === 0L, 25000L)
      .when(pmod(srcNum, lit(4L)) === 1L, 10000L)
      .when(pmod(srcNum, lit(4L)) === 2L, 4000L)
      .otherwise(0L)
    Sampling.upsample(t(spark, dir, "documents"), col("doc_id"), bp, seed = 11)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("doc_id").as("n_docs"),
        sum(col("doc_id") * (col("copy_idx") + 1)).as("copy_checksum"))
      .orderBy("source")
  }
}
