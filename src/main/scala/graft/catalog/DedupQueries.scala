package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{RollingHashFingerprint, TextFunctions => TF}
import graft.ops.{Chunking, Dedup, DupGroups, Sampling}
import QuerySupport._

/** Deduplication and decontamination queries (LLM pipeline): exact,
  * near-duplicate, paragraph and substring dedup and their audits.
  */
private[graft] object DedupQueries extends QueryFamily {

  /** Shared connected-components CTE chain: exact >= 0.8 pair graph →
    * recursive min-label reachability → `sizes(component, sz)` — the
    * q_dup_clusters / q_dup_histogram common prefix.
    */
  private lazy val DupSizesCtesSql =
    s"""WITH RECURSIVE $ShinglePairCtesSql,
       |pairs AS (SELECT ida, idb FROM j WHERE jac >= 0.8),
       |edges AS (SELECT ida AS u, idb AS v FROM pairs
       |          UNION SELECT idb, ida FROM pairs),
       |reach(node, lab) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
       |  WHERE r.lab < e.v),
       |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY 1),
       |sizes AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)""".stripMargin

  /** Exact 3-token-shingle Jaccard >= 0.8 over ALL document pairs, via a
    * shingle inverted-index join — the ground truth both sketch-blocking
    * pipelines (q_minhash_lsh, q_simhash) must reproduce exactly. Mirrors
    * [[graft.functions.TextFunctions.shingles]]: <=3-token docs collapse to
    * one whole-text shingle, shingle sets are distinct.
    */
  /** Shared CTE chain: tk/sh/counts/inter plus `j(ida, idb, jac)` — one row
    * per ordered pair with its exact shingle Jaccard.
    */
  private val ShinglePairCtesSql =
    s"""tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
       |         ELSE list_transform(range(len(t)-2),
       |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END)) AS s
       |  FROM tk),
       |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |j AS (
       |  SELECT ida, idb, i * 1.0 / (ca.n + cb.n - i) AS jac
       |  FROM inter JOIN counts ca ON ida = ca.doc_id JOIN counts cb ON idb = cb.doc_id)""".stripMargin

  private def exactShinglePairsSql(
      countAlias: String, avgAlias: String, extraCols: String = ""): String =
    s"""WITH $ShinglePairCtesSql
       |SELECT count(*) AS $countAlias, floor(avg(jac) * 1000 + 0.5) / 1000 AS $avgAlias$extraCols
       |FROM j WHERE jac >= 0.8""".stripMargin

  /** The [[graft.ops.Dedup.minhashBucketAudit]] no-silent-caps surface as
    * an oracled query. Bucket keys are xxhash-seeded (not SQL-derivable),
    * so the oracle pins the auditable INVARIANTS instead: every document
    * lands in exactly one bucket per band (per-band sizes sum to the doc
    * count) and the drop flag agrees with the cap everywhere.
    */
  query("q_lsh_bucket_audit",
      """SELECT band, (SELECT count(*) FROM documents) AS sum_size, true AS cap_ok
        |FROM (SELECT unnest(generate_series(0, 15)) AS band)
        |ORDER BY band""".stripMargin) { (spark, dir) =>
    graft.ops.Dedup.minhashBucketAudit(
        t(spark, dir, "documents"), "doc_id", "text", maxBucketSize = 50)
      .groupBy(col("band").cast("long").as("band"))
      .agg(sum("size").as("sum_size"),
        (sum(when(col("dropped") =!= (col("size") > 50), 1L).otherwise(0L)) === 0)
          .as("cap_ok"))
      .orderBy("band")
  }

  /** One-time: the documents corpus as 4 ordered stream chunks — batches
    * 0-2 split the originals by doc_id % 3; batch 3 is the TRUNCATED
    * copies (first ceil(0.9 n) normalized tokens, id + 1e6) of every 10th
    * doc, so every copy arrives strictly after its original. Files are
    * written sequentially; the parquet file stream replays them oldest-
    * first, one per trigger.
    */
  private def nearDupStreamSrcDir(spark: SparkSession, dir: String): String = {
    val key = tmpKey(dir)
    oncePerDir(s"/tmp/graft_stream_neardup_src/$key", "_OK") {
      val out = s"/tmp/graft_stream_neardup_src/$key"
      deleteRec(new java.io.File(out))
      val docs = t(spark, dir, "documents").select("doc_id", "lang", "text")
      val copies = t(spark, dir, "documents").filter(col("doc_id") % 10 === 0)
        .withColumn("__toks", TF.tokens(col("text")))
        .withColumn("__n", size(col("__toks")))
        .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
          array_join(slice(col("__toks"), lit(1),
            expr("cast((__n * 9 + 9) div 10 as int)")), " ").as("text"))
      val batches = (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i)) :+ copies
      // FileStreamSource orders by modification time, and part-file mtimes
      // from back-to-back writes can tie (coarse-granularity mounts) with
      // a UUID-name tie-break — so pin the batch order OUTSIDE spark:
      // stage each batch, move its one part file to a sequenced name, and
      // force strictly increasing mtimes
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val t0 = System.currentTimeMillis()
      batches.zipWithIndex.foreach { case (b, i) =>
        val stage = s"$out/.stage"
        b.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new org.apache.hadoop.fs.Path(s"$out/batch-$i.parquet")
        fs.rename(new org.apache.hadoop.fs.Path(part.getPath), dst)
        fs.setTimes(dst, t0 + i * 60000L, -1)
      }
      deleteRec(new java.io.File(s"$out/.stage"))
      new java.io.File(s"$out/_OK").createNewFile()
    }
  }

  /** Streaming near-dedup ([[graft.streaming.StreamingNearDedup]]): each
    * micro-batch near-deduplicates (shingle-Jaccard >= 0.8, banded
    * candidates + exact verify) against the KEPT rows of all prior
    * batches; survivors join the history through the exactly-once sink.
    * First occurrence wins across the stream; batch-internal near-dups
    * are kept by contract. The oracle replays the same 4-batch kept-set
    * recursion unrolled in SQL.
    */
  query("q_streaming_neardedup",
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |orig AS (SELECT doc_id, lang, t, doc_id % 3 AS b FROM tk),
         |cp AS (SELECT doc_id + 1000000 AS doc_id, lang,
         |              t[1:((len(t)*9+9)//10)] AS t, 3 AS b
         |       FROM tk WHERE doc_id % 10 = 0),
         |corpus AS (SELECT doc_id, lang, t, b FROM orig
         |           UNION ALL SELECT doc_id, lang, t, b FROM cp),
         |sh AS (SELECT doc_id, b, unnest(list_distinct(
         |         CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         |              ELSE list_transform(range(len(t)-2),
         |                     i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END)) AS s
         |       FROM corpus),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |xp AS (SELECT a.doc_id AS x, a.b AS bx, h.doc_id AS y, count(*) AS i
         |       FROM sh a JOIN sh h ON a.s = h.s AND a.b > h.b
         |       GROUP BY 1, 2, 3),
         |dp AS (SELECT x, bx, y FROM xp
         |       JOIN cnt cx ON x = cx.doc_id JOIN cnt cy ON y = cy.doc_id
         |       WHERE i * 1.0 / (cx.n + cy.n - i) >= 0.8),
         |k0 AS (SELECT doc_id FROM corpus WHERE b = 0),
         |k1 AS (SELECT doc_id FROM corpus WHERE b = 1 AND doc_id NOT IN
         |        (SELECT x FROM dp WHERE bx = 1
         |         AND y IN (SELECT doc_id FROM k0))),
         |k2 AS (SELECT doc_id FROM corpus WHERE b = 2 AND doc_id NOT IN
         |        (SELECT x FROM dp WHERE bx = 2
         |         AND (y IN (SELECT doc_id FROM k0)
         |              OR y IN (SELECT doc_id FROM k1)))),
         |k3 AS (SELECT doc_id FROM corpus WHERE b = 3 AND doc_id NOT IN
         |        (SELECT x FROM dp WHERE bx = 3
         |         AND (y IN (SELECT doc_id FROM k0)
         |              OR y IN (SELECT doc_id FROM k1)
         |              OR y IN (SELECT doc_id FROM k2)))),
         |kept AS (SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
         |         UNION ALL SELECT doc_id FROM k2 UNION ALL SELECT doc_id FROM k3)
         |SELECT c.lang, count(*) AS n_kept, CAST(sum(c.doc_id) AS BIGINT) AS id_sum
         |FROM kept JOIN corpus c USING (doc_id)
         |GROUP BY c.lang ORDER BY c.lang""".stripMargin, Drain.Stateless) { (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = nearDupStreamSrcDir(spark, dir)
    val key = tmpKey(dir)
    val sinkDir = s"/tmp/graft_stream_neardup_sink/$key"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one source file per batch, in order
      .parquet(srcDir)
    val ckpt = graft.Scratch.ephemeralCkptDir("graft_neardup_ckpt").toString
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // micro-batch-sized shuffle width (measured 6.86 -> 5.86 s,
        // dev/DRAIN_PROFILE.md round-13): maxFilesPerTrigger=1 above
        // bounds every batch to ONE source file, so the width tracks the
        // batch, not the box — a deployment with bigger triggers sizes
        // this (opt-in parameter) to its own batch volume
        graft.streaming.StreamingNearDedup.dedupBatch(b, id, sinkDir, "doc_id", "text",
          shufflePartitions = Some(8))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(300000)) q.stop()
    deleteRec(new java.io.File(ckpt))
    readSinkOrEmpty(spark, sinkDir, "doc_id LONG, lang STRING, text STRING")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  query("q_dedup_exact",
      s"""SELECT lang, count(*) AS n_docs, count(DISTINCT $FpSql) AS n_distinct
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TF.contentFingerprint(col("text"))).as("n_distinct"))
      .orderBy("lang")
  }

  /** Three-corpus content Venn (multi-way `q_corpus_diff`): distinct
    * content fingerprints of three source slices reduced to a presence
    * BITMASK (one hash aggregate over (fp, source), one over fp — never
    * a pairwise join per corpus pair), counted per Venn region. The
    * 2^n-region readout is how corpus-overlap dashboards are actually
    * fed at scale; n corpora stay ONE pass regardless of n.
    */
  query("q_venn3",
      s"""WITH fp AS (
         |  SELECT DISTINCT source, $FpSql AS fp FROM documents
         |  WHERE source IN ('src0', 'src1', 'src2')),
         |mask AS (
         |  SELECT fp,
         |    CAST(max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |    CAST(max(CASE WHEN source = 'src2' THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM fp GROUP BY 1)
         |SELECT a * 4 + b * 2 + c AS region, count(*) AS n_contents
         |FROM mask GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val fp = t(spark, dir, "documents")
      .filter(col("source").isin("src0", "src1", "src2"))
      .select(col("source"), TF.contentFingerprint(col("text")).as("fp"))
      .distinct()
    fp.groupBy("fp")
      .agg(max(when(col("source") === "src0", 1L).otherwise(0L)).as("a"),
        max(when(col("source") === "src1", 1L).otherwise(0L)).as("b"),
        max(when(col("source") === "src2", 1L).otherwise(0L)).as("c"))
      .groupBy((col("a") * 4 + col("b") * 2 + col("c")).as("region"))
      .agg(count(lit(1)).as("n_contents"))
      .orderBy("region")
  }

  query("q_dedup_groups",
      s"""SELECT count(*) AS n_dup_groups, CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_dup_docs FROM (
         |  SELECT $FpSql AS fp, count(*) AS sz FROM documents GROUP BY 1 HAVING count(*) > 1)""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .groupBy(TF.contentFingerprint(col("text")).as("fp"))
      .agg(count(lit(1)).as("sz"))
      .filter(col("sz") > 1)
      .agg(count(lit(1)).as("n_dup_groups"),
        coalesce(sum(col("sz")), lit(0L)).as("n_dup_docs"))
  }

  query("q_ngram_jaccard",
      s"""WITH toks AS (
         |  SELECT DISTINCT lang, doc_id, unnest($ToksSql) AS tok
         |  FROM documents WHERE doc_id < 500),
         |counts AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
         |  FROM toks a JOIN toks b
         |    ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT i * 1.0 / (ca.n + cb.n - i) AS jac
         |  FROM inter JOIN counts ca ON ida = ca.doc_id JOIN counts cb ON idb = cb.doc_id)
         |SELECT count(*) AS n_pairs, floor(avg(jac) * 1000 + 0.5) / 1000 AS avg_jaccard
         |FROM j WHERE jac >= 0.8""".stripMargin) { (spark, dir) =>
    Dedup.tokenJaccardPairs(
        t(spark, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", "lang", 0.8)
      .agg(count(lit(1)).as("n_pairs"),
        r(avg("jaccard"), 3).as("avg_jaccard"))
  }

  /** Containment dedup ([[Dedup.shingleContainmentPairsWithPostings]]):
    * |A∩B| / min(|A|,|B|) — the partial-copy detector. Planted evidence:
    * every 9th doc reappears truncated to its first 60% of tokens
    * (id + 1e6); the copy's shingles are a subset of the original's, so
    * containment hits 1.0 while the same pair's Jaccard ≈ 0.6 sits below
    * the 0.8 near-dup bar — `n_jaccard_misses` counts exactly the pairs
    * only containment catches.
    */
  query("q_containment",
      s"""WITH b0 AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |tr AS (SELECT doc_id + 1000000 AS doc_id,
         |              t[1:CAST((len(t) * 6 + 9) // 10 AS BIGINT)] AS t
         |       FROM b0 WHERE doc_id % 9 = 0),
         |tk AS (SELECT * FROM b0 UNION ALL SELECT * FROM tr),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-2),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END)) AS s
         |  FROM tk),
         |counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS i
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |m AS (
         |  SELECT ida, idb, i * 1.0 / (ca.n + cb.n - i) AS jac,
         |         i * 1.0 / least(ca.n, cb.n) AS cont
         |  FROM inter JOIN counts ca ON ida = ca.doc_id
         |       JOIN counts cb ON idb = cb.doc_id)
         |SELECT count(*) AS n_pairs,
         |       floor(avg(cont) * 1000 + 0.5) / 1000 AS avg_containment,
         |       CAST(coalesce(sum(CASE WHEN jac < 0.8 THEN 1 ELSE 0 END), 0)
         |         AS BIGINT) AS n_jaccard_misses
         |FROM m WHERE cont >= 0.95""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val copies = docs.filter(col("doc_id") % 9 === 0)
      .withColumn("__toks", TF.tokens(col("text")))
      .withColumn("__n", size(col("__toks")))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(col("__toks"), lit(1),
          expr("cast((__n * 6 + 9) div 10 as int)")), " ").as("text"))
    val corpus = docs.select("doc_id", "text").unionByName(copies)
    val (pairs, posts) = Dedup.shingleContainmentPairsWithPostings(
      corpus, "doc_id", "text", shingleN = 3, threshold = 0.95)
    val out = pairs
      .agg(count(lit(1)).as("n_pairs"),
        r(avg("containment"), 3).as("avg_containment"),
        coalesce(sum(when(col("jaccard") < 0.8, 1L).otherwise(0L)), lit(0L))
          .as("n_jaccard_misses"))
      .localCheckpoint(true)
    posts.unpersist(blocking = false)
    out
  }

  /** MinHash+LSH near-dup pipeline, oracle-checked end to end: candidates
    * from banded LSH, verified with EXACT shingle-set Jaccard >= 0.8. The
    * oracle reproduces the exact pair set via a shingle inverted-index join
    * — a hash match proves the LSH stage had full recall on the true pairs
    * (the probabilistic guarantee at these parameters: a J=0.8 pair misses
    * all 16 bands with p ~ 2e-4).
    */
  query("q_minhash_lsh", exactShinglePairsSql("n_neardup_pairs", "avg_j")) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val (cand, sigs) = Dedup.minhashCandidatePairsWithSignatures(
      docs, "doc_id", "text", estimateJaccard = false)
    // materialize the 1-row aggregate eagerly so the signature cache is
    // released per run instead of accumulating across bench iterations
    val out = Dedup.verifyJaccard(cand.select("idA", "idB"), docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.8)
      .agg(count(lit(1)).as("n_neardup_pairs"), r(avg("jaccard"), 3).as("avg_j"))
      .localCheckpoint(true)
    sigs.unpersist(blocking = false)
    out
  }

  /** Exact shingle-Jaccard>=0.8 ground-truth pairs, computed ONCE per
    * (session, dir) and shared by q_simhash and q_dup_clusters — they were
    * the #1/#3 bench entries and each recomputed the identical inverted
    * index. The truth set is materialized (`localCheckpoint`, eager) so
    * the postings cache releases immediately and reuse costs a block read,
    * not a recompute; the result is tiny (one row per true near-dup pair).
    * Keyed weakly by session so a stopped session's blocks don't pin the
    * cache entry.
    */
  private val truthCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, DataFrame]]())

  private def shingleTruthPairs(spark: SparkSession, dir: String): DataFrame =
    cachedPerDir(truthCache, spark, dir) {
      val docs = t(spark, dir, "documents")
      val (truth, posts) =
        Dedup.shingleJaccardPairsWithPostings(docs, "doc_id", "text", 3, 0.8)
      val out = truth.localCheckpoint(true)
      posts.unpersist(blocking = false)
      out
    }

  /** SimHash blocking graded against the exact near-dup set. The oracle
    * reproduces the EXACT shingle-Jaccard>=0.8 pair set (count + avg J);
    * the recall boolean is the in-query invariant: 128-bit simhash banding
    * (8 x 16-bit chunks — multi-index hashing, recall GUARANTEED up to
    * hamming 7 by pigeonhole) + hamming<=16 must recover >= 95% of the
    * true pairs (measured 25/25 = 1.0 at sf0.01; DedupSpec pins the recall
    * gate at spec level too). The hamming cutoff matches the operator's
    * 128-bit default: a J=0.8 pair's expected hamming roughly doubles
    * going 64->128 bits (same per-bit flip rate over twice the bits), so
    * the old 64-bit cutoff of 8 would kill true candidates. The exact side
    * is [[Dedup.shingleJaccardPairs]] — the same inverted-index
    * computation the oracle SQL performs — computed once per (session,
    * dir) and shared with q_dup_clusters via [[shingleTruthPairs]].
    */
  query("q_simhash",
      exactShinglePairsSql("n_true_pairs", "avg_j", ", true AS simhash_recall_ok")) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val truth = shingleTruthPairs(spark, dir)
    // banded simhash candidates via the capped operator (8 x 16-bit bands,
    // hamming <= 16 — the SimHash128 defaults; degenerate buckets bounded)
    val simCand = Dedup.simhashCandidatePairs(docs, "doc_id", "text")
      .select(col("idA"), col("idB"), lit(1).as("__hit"))
    truth.join(simCand, Seq("idA", "idB"), "left")
      .agg(count(lit(1)).as("n_true_pairs"), r(avg("jaccard"), 3).as("avg_j"),
        // coalesce(..., true): with ZERO truth pairs the ratio is NULL/0 =
        // NULL, but recall over an empty set is vacuously satisfied — and
        // the oracle hardcodes `true`
        coalesce(sum(coalesce(col("__hit"), lit(0))).cast("double") /
          count(lit(1)).cast("double") >= 0.95, lit(true)).as("simhash_recall_ok"))
  }

  /** Duplicate GROUPS, not just pairs: exact shingle-Jaccard>=0.8 pairs →
    * connected components ([[DupGroups.connectedComponents]], alternating
    * large-star/small-star) → per-group size/canonical aggregate. The
    * oracle recomputes the same components with a recursive min-label CTE
    * — `sum_canonical` pins the exact per-node assignment (every node must
    * land on its component's true minimum id), not just the group count.
    */
  query("q_dup_clusters",
      // connected components over the exact >=0.8 pair graph via recursive
      // min-label propagation (only labels smaller than the target node flow,
      // so the fixpoint is each node's component minimum)
      s"""$DupSizesCtesSql
         |SELECT count(*) AS n_groups, CAST(sum(sz) AS BIGINT) AS n_dup_docs,
         |       max(sz) AS max_group_size,
         |       CAST(sum(component) AS BIGINT) AS sum_canonical
         |FROM sizes""".stripMargin) { (spark, dir) =>
    val truth = shingleTruthPairs(spark, dir)
    val comp = DupGroups.connectedComponents(truth, "idA", "idB")
    comp.groupBy("component").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_groups"),
        sum("sz").as("n_dup_docs"),
        max("sz").as("max_group_size"),
        sum("component").as("sum_canonical"))
  }

  /** Dup-cluster size histogram — the dedup-rate readout a corpus report
    * leads with: how many groups of each size, and the quadratic "pair
    * weight" (sz²) that tells you which few mega-clusters dominate the
    * dedup work. Same components as `q_dup_clusters`, one more aggregate.
    */
  query("q_dup_histogram",
      s"""$DupSizesCtesSql
         |SELECT CAST(sz AS BIGINT) AS group_size, count(*) AS n_groups,
         |       CAST(sum(sz * sz) AS BIGINT) AS sq_doc_weight
         |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin) { (spark, dir) =>
    val truth = shingleTruthPairs(spark, dir)
    val comp = DupGroups.connectedComponents(truth, "idA", "idB")
    comp.groupBy("component").agg(count(lit(1)).as("sz"))
      .groupBy("sz")
      .agg(count(lit(1)).as("n_groups"),
        sum(col("sz") * col("sz")).as("sq_doc_weight"))
      .select(col("sz").as("group_size"), col("n_groups"), col("sq_doc_weight"))
      .orderBy("group_size")
  }

  /** Leakage-free grouped split ([[Sampling.groupedSplit]]): the split
    * key is the near-dup COMPONENT (shared [[shingleTruthPairs]] graph →
    * [[DupGroups.connectedComponents]]), so near-copies can never
    * straddle train/val/test. `n_groups` (distinct split_group per
    * split) pins the group→split assignment itself: a straddling group
    * would raise the global sum above the true group count, so the
    * oracle row catches leakage, not just totals; `id_sum` pins exact
    * row membership.
    */
  query("q_group_split",
      // split key = the connected component (recursive-CTE min-label chain),
      // singletons fall back to their own id; same Lehmer-bucket split CASE
      // as q_sample_hash. count(DISTINCT split_group) pins group→split.
      s"""$DupSizesCtesSql,
         |asg AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS g
         |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         |spl AS (SELECT doc_id, g,
         |          CASE WHEN ((g + 29) % 2147483647 * 48271) % 2147483647 % 10000 < 8000 THEN 'train'
         |               WHEN ((g + 29) % 2147483647 * 48271) % 2147483647 % 10000 < 9000 THEN 'val'
         |               ELSE 'test' END AS split
         |        FROM asg)
         |SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       count(DISTINCT g) AS n_groups
         |FROM spl GROUP BY split ORDER BY split""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val truth = shingleTruthPairs(spark, dir)
    val comp = DupGroups.connectedComponents(truth, "idA", "idB")
    Sampling.groupedSplit(docs, "doc_id", comp, seed = 29,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
        count_distinct(col("split_group")).as("n_groups"))
      .orderBy("split")
  }

  /** Quality-aware canonical selection ([[Dedup.keepBest]]): per duplicate
    * group (content fingerprint), keep the HIGHEST-quality copy, min-id on
    * ties — ordered on the RAW quality sum (exact 0.5 steps) so the
    * tiebreak is bit-identical to the oracle's window recomputation.
    */
  query("q_dedup_keep_best",
      // raw (unrounded) quality sum: exact 0.5 steps, so ORDER BY q DESC,
      // doc_id reproduces keepBest's (score, -id) max_by bit-for-bit
      s"""WITH ${qualityCtesSql(s", lang, $FpSql AS fp", ", lang, fp")},
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rn
         |  FROM qs)
         |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM r WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    Dedup.keepBest(docs, "doc_id",
        TF.contentFingerprint(col("text")), TF.qualityScoreRaw(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** Incremental dedup, PRODUCTION shape ([[Dedup.buildKeyBloom]] →
    * [[graft.ops.KeyBloom.extend]] → [[graft.ops.KeyBloom.broadcastVia]] →
    * the `Broadcast` overload of [[Dedup.incrementalDedup]]): the corpus
    * splits into history (ids %3=0) and TWO arriving batches (%3=1, %3=2).
    * The corpus key filter is built ONCE over history, the first batch's
    * ACCEPTED rows extend it in place (no rebuild, no sizing count), and
    * each batch's plan tests membership via the broadcast handle
    * ([[graft.functions.BloomMightContain]] — scan-side, codegen). Bloom
    * misses provably skip the anti-join; hits (true dups + ~fpp false
    * positives) clear through it, so the oracle — the plain two-stage
    * NOT IN + min-id sequence — must match exactly.
    */
  query("q_incremental_dedup",
      // two-stage incremental sequence: batch1 vs history, then batch2 vs
      // history + batch1's accepted rows (the extend step's exact semantics)
      s"""WITH fps AS (SELECT doc_id, $FpSql AS fp FROM documents),
         |hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0),
         |b1 AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 1),
         |k1 AS (SELECT min(doc_id) AS doc_id, fp FROM b1
         |       WHERE fp NOT IN (SELECT fp FROM hist) GROUP BY fp),
         |hist2 AS (SELECT fp FROM hist UNION SELECT fp FROM k1),
         |b2 AS (SELECT doc_id, fp FROM fps WHERE doc_id % 3 = 2),
         |k2 AS (SELECT min(doc_id) AS doc_id, fp FROM b2
         |       WHERE fp NOT IN (SELECT fp FROM hist2) GROUP BY fp),
         |keep AS (SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM k2)
         |SELECT count(*) AS n_new, CAST(sum(doc_id) AS BIGINT) AS id_sum,
         |       CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b1
         |FROM keep""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val key = xxhash64(TF.contentFingerprint(col("text")))
    val history = docs.filter(col("doc_id") % 3 === 0)
    val batch1 = docs.filter(col("doc_id") % 3 === 1)
    val batch2 = docs.filter(col("doc_id") % 3 === 2)
    // build once, sized for the corpus's target cardinality
    val kb = Dedup.buildKeyBloom(history, key, expectedKeys = 1000000L)
    val kept1 = Dedup
      .incrementalDedup(batch1, history, "doc_id", key, kb.broadcastVia(spark))
      .localCheckpoint(true) // accepted batch materialized once: extend + history union reuse it
    kb.extend(kept1, key) // maintenance path: no rebuild from history+batch1
    val kept2 = Dedup.incrementalDedup(
      batch2, history.unionByName(kept1), "doc_id", key, kb.broadcastVia(spark))
    kept1.select("doc_id").unionByName(kept2.select("doc_id"))
      .agg(count(lit(1)).as("n_new"), sum("doc_id").as("id_sum"),
        sum(when(col("doc_id") % 3 === 1, 1L).otherwise(0L)).as("n_b1"))
  }

  /** Unicode canonicalization ([[graft.functions.UnicodeNormalize]]: NFC +
    * casefold + whitespace collapse) over the corpus, pinned by length sum
    * and distinct count; the oracle reproduces it with DuckDB's own
    * nfc_normalize + lower + regexp whitespace collapse.
    */
  query("q_text_normalize",
      // whitespace class spelled out because RE2's \s is ASCII-only: it
      // mirrors UnicodeNormalize's Java isWhitespace ∪ SPACE_SEPARATOR set
      // (VT, FS..US, NBSP, ogham/en-quad..hair/narrow/math spaces, line and
      // paragraph separators, ideographic space). Residual divergence: DuckDB
      // lower() is simple case mapping vs Java's (contextual final sigma,
      // dotted İ) — irrelevant for this corpus, documented for the next one.
      """WITH n AS (
        |  SELECT trim(regexp_replace(lower(nfc_normalize(text)),
        |    '[\t\n\x{000B}\f\r\x{001C}-\x{001F} \x{00A0}\x{1680}\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+',
        |    ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT count(*) AS n_docs, CAST(sum(length(norm)) AS BIGINT) AS total_len,
        |       count(DISTINCT norm) AS n_distinct
        |FROM n""".stripMargin) { (spark, dir) =>
    t(spark, dir, "documents")
      .select(graft.functions.UnicodeNormalize(col("text")).as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("norm"))).as("total_len"),
        countDistinct(col("norm")).as("n_distinct"))
  }

  /** Benchmark decontamination: corpus docs sharing an 8-token shingle with
    * the doc_id<20 "eval set"; oracle reproduces the shingle-overlap join.
    */
  query("q_decontaminate",
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-7),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |                     || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]) END)) AS s
         |  FROM tk),
         |es AS (SELECT doc_id AS eid, s FROM sh WHERE doc_id < 20),
         |c AS (SELECT DISTINCT sh.doc_id FROM sh JOIN es ON sh.s = es.s AND sh.doc_id <> es.eid)
         |SELECT count(*) AS n_contaminated,
         |       CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS sum_ids FROM c""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    graft.ops.Decontaminate.contaminated(
        spread(docs), docs.filter(col("doc_id") < 20), "doc_id", "text", 8)
      .agg(count(lit(1)).as("n_contaminated"),
        coalesce(sum("doc_id"), lit(0L)).as("sum_ids"))
  }

  /** Winnowing-fingerprint dedup, oracle-checked: append exact copies of
    * every 5th doc under shifted ids — identical text MUST produce an
    * identical rolling fingerprint, so the fp-blocked pair join (never
    * all-pairs) followed by a text-equality verify finds every copy. The
    * oracle reproduces the exact-duplicate pair count by joining on text
    * directly; near-dup fp collisions are pruned by the verify stage.
    */
  query("q_rolling_fingerprint",
      """WITH u AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT (SELECT count(*) FROM u a JOIN u b
        |          ON a.text = b.text AND a.doc_id < b.doc_id) AS n_exact_dup_pairs,
        |       (SELECT count(*) FROM u) AS n_docs""".stripMargin) { (spark, dir) =>
    val base = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val docs = base.unionByName(
      base.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val fp = spread(docs).select(col("doc_id"), col("text"),
      RollingHashFingerprint(col("text"), 16).as("__fp"))
    fp.as("a")
      .join(fp.as("b"),
        col("a.__fp") === col("b.__fp") && col("a.doc_id") < col("b.doc_id"))
      .filter(col("a.text") === col("b.text"))
      .agg(count(lit(1)).as("n_exact_dup_pairs"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
  }

  /** CCNet-style PARAGRAPH dedup readout: documents split into
    * non-overlapping 32-token windows ("paragraphs" — the corpus has no
    * newline structure), and only the corpus-wide FIRST occurrence
    * (min (doc_id, chunk_idx), encoded as one sortable long) of each
    * identical window is kept. Planted evidence: every 7th doc re-enters
    * as an exact copy under id + 2e6, so all its windows are drops.
    * Scale shape: one chunk pass, one hash aggregate on 8-byte window
    * hashes, one join on the same key (exchange reused) — the window
    * HASH stands in for the text on every shuffle (collisions
    * negligible, the q_chunk_split trade); the oracle groups by the
    * window text itself.
    */
  query("q_paragraph_dedup",
      s"""WITH u AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 2000000, lang, text FROM documents WHERE doc_id % 7 = 0),
         |tok AS (SELECT doc_id, lang, $ToksSql AS toks FROM u),
         |nn AS (SELECT doc_id, lang, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
         |ch AS (
         |  SELECT doc_id, lang, gs.i AS chunk_idx,
         |         toks[(gs.i*32+1):least(gs.i*32+32, n)] AS ctoks
         |  FROM nn, LATERAL (SELECT unnest(generate_series(0,
         |       CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 32 - 1)//32 END)) AS i) gs),
         |t2 AS (SELECT lang, doc_id * 1000000 + chunk_idx AS ik,
         |              array_to_string(ctoks, ' ') AS ct, len(ctoks) AS nt
         |       FROM ch),
         |first AS (SELECT ct, min(ik) AS fk FROM t2 GROUP BY ct),
         |k AS (SELECT t2.lang, t2.nt,
         |        CASE WHEN t2.ik = f.fk THEN 1 ELSE 0 END AS kept
         |      FROM t2 JOIN first f ON t2.ct = f.ct)
         |SELECT lang, count(*) AS n_chunks, CAST(sum(kept) AS BIGINT) AS n_kept,
         |       CAST(sum(CASE WHEN kept = 1 THEN nt ELSE 0 END) AS BIGINT) AS kept_tokens
         |FROM k GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val base = t(spark, dir, "documents").select("doc_id", "lang", "text")
    val docs = base.unionByName(
      base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(2000000L)))
    // the chunk pass feeds the first-occurrence aggregate AND the join
    // probe: persist the narrow (lang, ik, h, nt) rows so tokenize+chunk
    // runs once (the shared-explode discipline of q_common_ngrams)
    val chunks = Chunking.chunkTokens(spread(docs), "text", 32, 32)
      .select(col("lang"),
        (col("doc_id") * 1000000L + col("chunk_idx")).as("__ik"),
        xxhash64(col("chunk_text")).as("__h"),
        size(col("chunk_tokens")).cast("long").as("__nt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = chunks.groupBy("__h").agg(min("__ik").as("__fk"))
    val agg = chunks.join(first, Seq("__h"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__ik") === col("__fk"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("__ik") === col("__fk"), col("__nt")).otherwise(0L)).as("kept_tokens"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    chunks.unpersist(blocking = false)
    out
  }

  /** Snapshot diff ([[graft.ops.SnapshotDiff.diff]]): the old snapshot is
    * derived deterministically from `documents` — ids %7=0 missing
    * (→ added), ids %5=0 carrying ` legacy`-suffixed text (→ changed),
    * plus id+2e6 ghost rows (→ removed) — and diffed against the current
    * table by content fingerprint. The oracle rebuilds both snapshots and
    * compares TEXT equality, so it also cross-checks that the fingerprint
    * is injective on the corpus.
    */
  query("q_corpus_diff",
      """WITH old AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text || ' legacy' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 0),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS id,
        |        CASE WHEN o.doc_id IS NULL THEN 'added'
        |             WHEN n.doc_id IS NULL THEN 'removed'
        |             WHEN o.text = n.text THEN 'unchanged'
        |             ELSE 'changed' END AS status
        |      FROM old o FULL OUTER JOIN documents n ON o.doc_id = n.doc_id)
        |SELECT status, count(*) AS n, CAST(min(id) AS BIGINT) AS min_id,
        |       CAST(max(id) AS BIGINT) AS max_id
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" legacy")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    def fp(df: DataFrame): DataFrame =
      df.select(col("doc_id"), TF.contentFingerprint(col("text")).as("fp"))
    graft.ops.SnapshotDiff.diff(fp(oldSnap), fp(docs), "doc_id", "fp")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
        max("doc_id").as("max_id"))
      .orderBy("status")
  }

  /** Fuzzy decontamination ([[graft.ops.Decontaminate
    * .contaminationCoverage]]): flag (corpus doc, eval item) pairs where
    * >= 50% of the eval item's distinct 8-gram shingles appear in the
    * doc. Planted evidence: each eval item (doc_id < 20) re-enters the
    * corpus as a TRUNCATED copy (first ceil(0.9 n) tokens, id + 1e6) —
    * the partial-leak case the exact any-shingle check over-flags and a
    * coverage test measures; short docs (<= 9 tokens) copy whole and
    * cover 1.0. Truncation is integer arithmetic ((9n+9) div 10) on the
    * NORMALIZED token list, so the oracle rebuilds byte-identical copies.
    */
  query("q_decontaminate_fuzzy",
      s"""WITH tk AS (SELECT doc_id, $ToksSql AS t FROM documents),
         |ev AS (SELECT doc_id, t FROM tk WHERE doc_id < 20),
         |cp AS (SELECT doc_id + 1000000 AS doc_id, t[1:((len(t)*9+9)//10)] AS t FROM ev),
         |corpus AS (SELECT doc_id, t FROM tk UNION ALL SELECT doc_id, t FROM cp),
         |csh AS (
         |  SELECT doc_id AS cid, unnest(list_distinct(
         |    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-7),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |                     || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]) END)) AS s
         |  FROM corpus),
         |esh AS (
         |  SELECT doc_id AS eid, unnest(list_distinct(
         |    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         |         ELSE list_transform(range(len(t)-7),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
         |                     || ' ' || t[i+5] || ' ' || t[i+6] || ' ' || t[i+7] || ' ' || t[i+8]) END)) AS s
         |  FROM ev),
         |sizes AS (SELECT eid, count(*) AS esize FROM esh GROUP BY eid),
         |ov AS (SELECT cid, eid, count(*) AS shared FROM csh JOIN esh
         |         ON csh.s = esh.s AND csh.cid <> esh.eid GROUP BY 1, 2),
         |cov AS (SELECT cid, shared * 1.0 / esize AS c
         |        FROM ov JOIN sizes USING (eid)
         |        WHERE shared * 1.0 / esize >= 0.5)
         |SELECT count(*) AS n_pairs, count(DISTINCT cid) AS n_docs_flagged,
         |       CAST(coalesce(sum(CAST(floor(c * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS sum_scaled_cov
         |FROM cov""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val evalSet = docs.filter(col("doc_id") < 20).select("doc_id", "text")
    val copies = evalSet
      .withColumn("__toks", TF.tokens(col("text")))
      .withColumn("__n", size(col("__toks")))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(col("__toks"), lit(1),
          expr("cast((__n * 9 + 9) div 10 as int)")), " ").as("text"))
    val corpus = docs.select("doc_id", "text").unionByName(copies)
    graft.ops.Decontaminate.contaminationCoverage(
        spread(corpus), evalSet, "doc_id", "text", 8, 0.5)
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_id")).as("n_docs_flagged"),
        coalesce(sum(floor(col("coverage") * 1e6 + 0.5).cast("long")), lit(0L))
          .as("sum_scaled_cov"))
  }

  /** Cross-corpus near-dedup ([[Dedup.crossCorpusNearDedup]]): a batch
    * (ids % 3 != 0, plus planted 90%-truncated copies of history docs
    * under shifted ids) deduped against history (ids % 3 == 0) by exact
    * >= 0.8 shingle Jaccard after batch x history LSH blocking — the
    * near-duplicate counterpart of q_incremental_dedup (a re-crawl with
    * a changed footer slips past exact keys; this catches it). The
    * oracle recomputes the exact cross-slice pair set; planted copies
    * use the integer truncation arithmetic so both engines build
    * byte-identical texts.
    */
  query("q_cross_dedup",
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |hist AS (SELECT doc_id, t FROM tk WHERE doc_id % 3 = 0),
         |copies AS (SELECT doc_id + 1000000 AS doc_id, lang, t[1:((len(t)*9+9)//10)] AS t
         |           FROM tk WHERE doc_id % 15 = 0),
         |batch AS (SELECT doc_id, lang, t FROM tk WHERE doc_id % 3 <> 0
         |          UNION ALL SELECT doc_id, lang, t FROM copies),
         |shB AS (SELECT doc_id, unnest(list_distinct(
         |          CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         |               ELSE list_transform(range(len(t)-2),
         |                      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END)) AS s
         |        FROM batch),
         |shH AS (SELECT doc_id, unnest(list_distinct(
         |          CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
         |               ELSE list_transform(range(len(t)-2),
         |                      i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) END)) AS s
         |        FROM hist),
         |cb AS (SELECT doc_id, count(*) AS n FROM shB GROUP BY 1),
         |ch AS (SELECT doc_id, count(*) AS n FROM shH GROUP BY 1),
         |inter AS (SELECT b.doc_id AS bid, h.doc_id AS hid, count(*) AS i
         |          FROM shB b JOIN shH h ON b.s = h.s GROUP BY 1, 2),
         |dropped AS (SELECT DISTINCT bid FROM inter
         |            JOIN cb ON bid = cb.doc_id JOIN ch ON hid = ch.doc_id
         |            WHERE i * 1.0 / (cb.n + ch.n - i) >= 0.8),
         |kept AS (SELECT b.doc_id, b.lang FROM batch b
         |         LEFT JOIN dropped d ON b.doc_id = d.bid WHERE d.bid IS NULL)
         |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val history = docs.filter(col("doc_id") % 3 === 0).select("doc_id", "text")
    val copies = docs.filter(col("doc_id") % 15 === 0)
      .withColumn("__toks", TF.tokens(col("text")))
      .withColumn("__n", size(col("__toks")))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        array_join(slice(col("__toks"), lit(1),
          expr("cast((__n * 9 + 9) div 10 as int)")), " ").as("text"))
    val batch = docs.filter(col("doc_id") % 3 =!= 0)
      .select("doc_id", "lang", "text")
      .unionByName(copies)
    Dedup.crossCorpusNearDedup(spread(batch), history, "doc_id", "text", 0.8)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"))
      .orderBy("lang")
  }

  /** Exact duplicated-substring dedup ([[graft.ops.SubstringDedup]], the
    * Lee et al. 2022 shape): duplicated 8-token windows, keep-first
    * ownership (min (doc_id, pos)), per-doc maximal span merge. Planted
    * evidence: truncated copies (first ceil(0.9 n) normalized tokens,
    * id + 1e6) of every 10th doc — the copy's whole text marks as
    * duplicated while the original keeps ownership; natural repeated
    * 8-grams in the base corpus flag on both sides identically.
    */
  query("q_substring_dedup",
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |cp AS (SELECT doc_id + 1000000 AS doc_id, lang, t[1:((len(t)*9+9)//10)] AS t
         |       FROM tk WHERE doc_id % 10 = 0),
         |corpus AS (SELECT doc_id, lang, t FROM tk
         |           UNION ALL SELECT doc_id, lang, t FROM cp),
         |nn AS (SELECT doc_id, lang, t, len(t) AS n FROM corpus WHERE len(t) >= 1),
         |w AS (SELECT doc_id, lang, n, gs.i AS pos,
         |        array_to_string(t[(gs.i+1):(gs.i+least(8, n))], ' ') AS s
         |      FROM nn, LATERAL (SELECT unnest(generate_series(0,
         |        CASE WHEN n <= 8 THEN 0 ELSE n - 8 END)) AS i) gs),
         |m AS (SELECT doc_id, lang, n, pos,
         |        row_number() OVER (PARTITION BY s ORDER BY doc_id, pos) AS rk,
         |        count(*) OVER (PARTITION BY s) AS c
         |      FROM w),
         |mk AS (SELECT doc_id, lang, n, pos, least(pos + 8, n) AS e
         |       FROM m WHERE c > 1 AND rk > 1),
         |sw AS (SELECT doc_id, lang, n, pos, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |       FROM mk),
         |g AS (SELECT doc_id, lang, n, pos, e,
         |        sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |      FROM sw),
         |spans AS (SELECT doc_id, lang, n, grp, min(pos) AS st, max(e) AS en
         |          FROM g GROUP BY 1, 2, 3, 4),
         |stats AS (SELECT doc_id, lang, n, count(*) AS ns, sum(en - st) AS dt
         |          FROM spans GROUP BY 1, 2, 3)
         |SELECT lang, count(*) AS n_docs_flagged,
         |       CAST(sum(ns) AS BIGINT) AS n_spans,
         |       CAST(sum(dt) AS BIGINT) AS sum_dup_tokens,
         |       CAST(sum(n) AS BIGINT) AS sum_tokens_flagged
         |FROM stats GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val copies = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("__toks", TF.tokens(col("text")))
      .withColumn("__n", size(col("__toks")))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        array_join(slice(col("__toks"), lit(1),
          expr("cast((__n * 9 + 9) div 10 as int)")), " ").as("text"))
    val corpus = spread(docs.select("doc_id", "lang", "text").unionByName(copies))
    val (stats, release) = graft.ops.SubstringDedup.dedupStats(
      corpus, "doc_id", "text", 8, keepFirst = true, carryCols = Seq("lang"))
    val agg = stats
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_flagged"),
        sum("n_dup_spans").as("n_spans"),
        sum("dup_tokens").as("sum_dup_tokens"),
        sum(col("n_tokens").cast("long")).as("sum_tokens_flagged"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    release()
    out
  }
}
