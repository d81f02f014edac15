package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.ops.{Boilerplate, Chunking, Dsir, NgramLm, Packing, QualityClassifier}
import QuerySupport._

/** Text-quality, tokenization and language-model queries (LLM pipeline). */
private[graft] object TextQueries extends QueryFamily {

  /** [[graft.ops.Rake.DefaultStopwords]] as a SQL IN-list — generated from
    * the ONE list so the operator and its oracle cannot drift. */
  private val RakeStopSql =
    graft.ops.Rake.DefaultStopwords.map(w => s"'$w'").mkString(", ")

  /** The BPE oracle: `rounds` count-merge-apply cycles unrolled as CTE
    * chains. Per round k: x/c = weighted adjacent-pair counts over the
    * previous vocab (a != b only — overlap-free by construction), t = the
    * argmax pair with deterministic tiebreak, e/f/g/v = the simultaneous
    * rewrite (a position is consumed iff its left neighbor matched; no
    * two matches can be adjacent because a != b). The last round skips
    * the rewrite — only its chosen pair is read out.
    */
  private def bpeOracleSql(rounds: Int): String = {
    val head =
      s"""WITH tok AS (SELECT unnest($ToksSql) AS w FROM documents),
         |v0 AS (SELECT w, count(*) AS cnt, regexp_split_to_array(w, '') AS syms
         |       FROM tok GROUP BY w),""".stripMargin
    val perRound = (1 to rounds).map { k =>
      val p = k - 1
      val count =
        s"""x$k AS (SELECT w, cnt, syms, unnest(range(1, list_count(syms))) AS i
           |        FROM v$p),
           |c$k AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
           |        FROM x$k WHERE syms[i] <> syms[i+1] GROUP BY 1, 2),
           |t$k AS (SELECT a, b, n FROM c$k
           |        QUALIFY row_number() OVER (ORDER BY n DESC, a, b) = 1)""".stripMargin
      val apply =
        s"""e$k AS (SELECT v.w, v.cnt, t.a, t.b, t.a || t.b AS ab, v.syms,
           |               unnest(range(1, list_count(v.syms) + 1)) AS i
           |        FROM v$p v CROSS JOIN t$k t),
           |f$k AS (SELECT w, cnt, ab, i, syms[i] AS s,
           |               (i < list_count(syms) AND syms[i] = a AND syms[i+1] = b) AS m
           |        FROM e$k),
           |g$k AS (SELECT *, coalesce(lag(m) OVER (PARTITION BY w ORDER BY i), false)
           |               AS consumed FROM f$k),
           |v$k AS (SELECT w, min(cnt) AS cnt,
           |               list(CASE WHEN m THEN ab ELSE s END ORDER BY i) AS syms
           |        FROM g$k WHERE NOT consumed GROUP BY w)""".stripMargin
      count + ",\n" + apply
    }.mkString(",\n")
    val readout = (1 to rounds)
      .map(k => s"SELECT $k AS round, a AS tok_a, b AS tok_b, n FROM t$k")
      .mkString("\n", "\nUNION ALL ", "\nORDER BY round")
    head + "\n" + perRound + readout
  }

  /** The BATCHED-BPE oracle: frozen-count rounds unrolled, each
    * admitting up to `min(k, merges − done)` merges by replaying the
    * trainer's greedy full-order admission as a RECURSIVE CTE over the
    * ranked candidate list (state = the symbol/concatenation guard + the
    * picked list; step rn admits candidate rn iff its symbols and
    * concatenation avoid the guard and the batch isn't full). Round
    * boundaries are DATA-DEPENDENT — a round admits fewer than `k` when
    * the corpus runs out of pairwise-disjoint pairs (sf0.001 round 1
    * yields 7 of 8) — so each round carries a cumulative `done` counter
    * (d$r) and the unroll is sized generously (`maxRounds`); surplus
    * rounds admit nothing and rewrite by identity, mirroring the Spark
    * loop's termination exactly. The rewrite applies the whole admitted
    * rule set in one lag-based pass — sound because admitted symbols are
    * pairwise disjoint, so no two matches are adjacent (same argument as
    * the sequential oracle's single-pair rewrite). Rule keys join
    * symbols with chr(10), which can never occur inside a token.
    */
  private def bpeBatchedOracleSql(merges: Int, k: Int, maxRounds: Int): String = {
    val head =
      s"""WITH RECURSIVE tok AS MATERIALIZED (SELECT unnest($ToksSql) AS w FROM documents),
         |v0 AS MATERIALIZED (SELECT w, count(*) AS cnt, regexp_split_to_array(w, '') AS syms
         |       FROM tok GROUP BY w),
         |d0 AS (SELECT CAST(0 AS BIGINT) AS done),""".stripMargin
    val perRound = (1 to maxRounds).map { r =>
      val p = r - 1
      val adm = s"""len(s.picked) < least($k, $merges - (SELECT done FROM d$p))
           |              AND NOT list_contains(s.guard, o.a)
           |              AND NOT list_contains(s.guard, o.b)
           |              AND NOT list_contains(s.guard, o.a || o.b)""".stripMargin
      s"""x$r AS (SELECT w, cnt, syms, unnest(range(1, list_count(syms))) AS i
         |        FROM v$p),
         |c$r AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS n
         |        FROM x$r WHERE syms[i] <> syms[i+1] GROUP BY 1, 2),
         |o$r AS MATERIALIZED (SELECT a, b, n,
         |          CAST(row_number() OVER (ORDER BY n DESC, a, b) AS BIGINT) AS rn
         |        FROM c$r),
         |adm$r AS (
         |  SELECT CAST(0 AS BIGINT) AS rn, CAST([] AS VARCHAR[]) AS guard,
         |         CAST([] AS STRUCT(a VARCHAR, b VARCHAR, n BIGINT)[]) AS picked
         |  UNION ALL
         |  SELECT o.rn,
         |    CASE WHEN $adm
         |         THEN list_concat(s.guard, [o.a, o.b, o.a || o.b]) ELSE s.guard END,
         |    CASE WHEN $adm
         |         THEN list_append(s.picked, {'a': o.a, 'b': o.b, 'n': o.n})
         |         ELSE s.picked END
         |  FROM adm$r s JOIN o$r o ON o.rn = s.rn + 1),
         |p$r AS MATERIALIZED (SELECT picked FROM adm$r ORDER BY rn DESC LIMIT 1),
         |d$r AS MATERIALIZED (SELECT d.done + len(p.picked) AS done FROM d$p d, p$r p),
         |r$r AS MATERIALIZED (SELECT list_transform(picked, q -> q.a || chr(10) || q.b) AS ks,
         |               list_transform(picked, q -> q.a || q.b) AS vs FROM p$r),
         |e$r AS (SELECT w, cnt, syms, unnest(range(1, list_count(syms) + 1)) AS i
         |        FROM v$p),
         |f$r AS (SELECT e.w, e.cnt, e.i, e.syms[e.i] AS s,
         |               (e.i < list_count(e.syms) AND list_contains(rr.ks,
         |                  e.syms[e.i] || chr(10) || e.syms[e.i+1])) AS m,
         |               rr.vs[list_position(rr.ks,
         |                  e.syms[e.i] || chr(10) || e.syms[e.i+1])] AS ab
         |        FROM e$r e CROSS JOIN r$r rr),
         |g$r AS (SELECT *, coalesce(lag(m) OVER (PARTITION BY w ORDER BY i), false)
         |               AS consumed FROM f$r),
         |v$r AS MATERIALIZED (SELECT w, min(cnt) AS cnt,
         |               list(CASE WHEN m THEN ab ELSE s END ORDER BY i) AS syms
         |        FROM g$r WHERE NOT consumed GROUP BY w)""".stripMargin
    }.mkString(",\n")
    val readout = (1 to maxRounds).map { r =>
      val p = r - 1
      s"""SELECT CAST((SELECT done FROM d$p) + gs.i AS INT) AS round,
         |       p.picked[gs.i].a AS tok_a, p.picked[gs.i].b AS tok_b,
         |       p.picked[gs.i].n AS n
         |FROM p$r p, LATERAL (SELECT unnest(range(1, len(p.picked) + 1)) AS i) gs""".stripMargin
    }.mkString("\n", "\nUNION ALL\n", "\nORDER BY round")
    head + "\n" + perRound + readout
  }

  /** The apply-side BPE oracle: same unrolled cycle, readout = the
    * corpus compression stats off the FINAL vocab frame v{rounds}
    * (unreferenced CTEs of the chain are skipped by the engine).
    */
  private def bpeApplyOracleSql(rounds: Int): String = {
    val full = bpeOracleSql(rounds)
    val ctes = full.substring(0, full.lastIndexOf("\nSELECT 1 AS round"))
    s"""$ctes
       |SELECT count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |       CAST(sum(cnt * length(w)) AS BIGINT) AS syms_before,
       |       CAST(sum(cnt * list_count(syms)) AS BIGINT) AS syms_after,
       |       (1000000 * (CAST(sum(cnt * length(w)) AS BIGINT) -
       |                   CAST(sum(cnt * list_count(syms)) AS BIGINT)))
       |         // CAST(sum(cnt * length(w)) AS BIGINT) AS saved_ppm
       |FROM v$rounds""".stripMargin
  }

  /** C4 oracle shared by the batch and streaming queries: pages
    * rebuilt from tokens identically in SQL, same rule predicates.
    */
  private lazy val C4CleanOracleSql =
    s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
       |ln0 AS (SELECT doc_id, lang, gs.i AS i,
       |          array_to_string(t[(gs.i - 1) * 8 + 1 : least(gs.i * 8, len(t))], ' ')
       |          || CASE CAST((doc_id + gs.i - 1) % 5 AS INT)
       |               WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?'
       |               WHEN 3 THEN '' ELSE ' javascript.' END AS line
       |        FROM tk, LATERAL (SELECT unnest(generate_series(1,
       |          CAST(ceil(len(t) / 8.0) AS INT))) AS i) gs),
       |pg0 AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS body
       |        FROM ln0 GROUP BY doc_id),
       |pages AS (SELECT d.doc_id, d.lang,
       |            coalesce(p.body, '') || CASE WHEN d.doc_id % 31 = 0
       |              THEN chr(10) || 'lorem ipsum { x }' ELSE '' END AS page
       |          FROM documents d LEFT JOIN pg0 p ON d.doc_id = p.doc_id),
       |r AS (SELECT doc_id, lang, page,
       |        length(page) - length(replace(page, chr(10), '')) + 1 AS n_lines,
       |        list_filter(list_transform(string_split(page, chr(10)),
       |            x -> trim(x, ' ' || chr(9) || chr(12) || chr(13))),
       |          t -> length(t) > 0
       |           AND list_contains(['.', '!', '?', '"'], t[-1:])
       |           AND len(list_filter(string_split_regex(t, '\\s+'), w -> w <> '')) >= 5
       |           AND NOT contains(lower(t), 'javascript')) AS kept
       |      FROM pages),
       |v AS (SELECT lang, n_lines, len(kept) AS n_kept,
       |        (len(kept) >= 3 AND NOT contains(lower(page), 'lorem ipsum')
       |         AND NOT contains(page, '{')) AS page_kept,
       |        length(array_to_string(kept, chr(10))) AS clean_len
       |      FROM r)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN page_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_pages_kept,
       |       CAST(sum(n_lines) AS BIGINT) AS sum_lines,
       |       CAST(sum(n_kept) AS BIGINT) AS sum_kept_lines,
       |       CAST(sum(CASE WHEN page_kept THEN clean_len ELSE 0 END) AS BIGINT)
       |         AS sum_clean_chars
       |FROM v GROUP BY lang ORDER BY lang""".stripMargin

  /** Naive-Bayes classifier oracle — train on even ids (label lang='en'),
    * score odd ids, aggregate per lang. Shared VERBATIM by
    * q_quality_classifier (batch scoring) and q_streaming_classify
    * (micro-batch scoring under a fixed pre-trained model): the model is
    * fixed and scores are per-doc, so batching must not change a single
    * value — the strongest statement of the batch/streaming contract.
    */
  /** Shared CTE chain ending in `d(lang, oov, sc)` — per-doc integer
    * scores of the odd-id slice under the NB model trained on the even-id
    * slice; consumed by the classifier readout and the calibration sweep.
    */
  private lazy val ClassifierScoredCtesSql =
    s"""tokA AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS l,
       |                     unnest($ToksSql) AS t
       |              FROM documents WHERE doc_id % 2 = 0),
       |vocab AS (SELECT t, CAST(sum(l) AS BIGINT) AS cpos,
       |                 CAST(sum(1 - l) AS BIGINT) AS cneg FROM tokA GROUP BY t),
       |consts AS (SELECT
       |    CAST(floor(ln(coalesce(sum(cpos), 0) + greatest(count(*), 1)) * 1e6 + 0.5) AS BIGINT) AS spden,
       |    CAST(floor(ln(coalesce(sum(cneg), 0) + greatest(count(*), 1)) * 1e6 + 0.5) AS BIGINT) AS snden
       |  FROM vocab),
       |dprior AS (SELECT
       |    CAST(floor(ln(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 1) * 1e6 + 0.5) AS BIGINT)
       |  - CAST(floor(ln(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 1) * 1e6 + 0.5) AS BIGINT) AS prior
       |  FROM documents WHERE doc_id % 2 = 0),
       |w AS (SELECT t,
       |        CAST(floor(ln(cpos + 1) * 1e6 + 0.5) AS BIGINT) - (SELECT spden FROM consts)
       |      - CAST(floor(ln(cneg + 1) * 1e6 + 0.5) AS BIGINT) + (SELECT snden FROM consts) AS w
       |      FROM vocab),
       |tokB AS (SELECT doc_id, lang, unnest($ToksSql) AS t
       |         FROM documents WHERE doc_id % 2 = 1),
       |scored AS (SELECT b.doc_id, b.lang,
       |             sum(CASE WHEN w.w IS NULL THEN 1 ELSE 0 END) AS oov,
       |             sum(coalesce(w.w, (SELECT snden - spden FROM consts))) AS sw
       |           FROM tokB b LEFT JOIN w USING (t) GROUP BY 1, 2),
       |d AS (SELECT lang, oov, sw + (SELECT prior FROM dprior) AS sc FROM scored)""".stripMargin

  private lazy val QualityClassifierOracleSql =
    s"""WITH $ClassifierScoredCtesSql
       |SELECT lang, count(*) AS n_docs, CAST(sum(sc) AS BIGINT) AS sum_scaled_score,
       |       CAST(sum(CASE WHEN sc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_positive,
       |       CAST(sum(oov) AS BIGINT) AS sum_oov
       |FROM d GROUP BY lang ORDER BY lang""".stripMargin

  /** Flesch reading ease per language — the readability screen of the
    * text-quality family (`q_quality`, `q_gopher_repetition`): words as
    * alpha runs, sentences as terminal-punctuation runs, syllables as
    * vowel-group runs (the classic heuristic), each clamped to >= 1.
    * `206.835 − 1.015·W/S − 84.6·Syl/W` is held in exact milli-units
    * with per-document integer divisions (the deterministic spec both
    * engines implement identically), then averaged per language by one
    * more integer division. Pure per-row codegen + one hash aggregate —
    * the 100 TB shape.
    */
  query("q_flesch",
      """WITH c AS (
        |  SELECT lang,
        |         greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS w,
        |         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
        |         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
        |           AS syl
        |  FROM documents),
        |s AS (
        |  SELECT lang, CAST(w AS BIGINT) AS w, CAST(sents AS BIGINT) AS sents,
        |         CAST(syl AS BIGINT) AS syl,
        |         206835 - (1015 * CAST(w AS BIGINT)) // CAST(sents AS BIGINT)
        |                - (84600 * CAST(syl AS BIGINT)) // CAST(w AS BIGINT)
        |           AS score_milli
        |  FROM c)
        |SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
        |       CAST(sum(syl) AS BIGINT) AS n_syllables,
        |       CAST(sum(score_milli) AS BIGINT) // count(*) AS avg_score_milli,
        |       min(score_milli) AS min_score_milli,
        |       max(score_milli) AS max_score_milli
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val counted = t(spark, dir, "documents")
      .withColumn("w",
        greatest(size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))), lit(1))
          .cast("long"))
      .withColumn("sents",
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
          .cast("long"))
      .withColumn("syl",
        greatest(size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0))), lit(1))
          .cast("long"))
      .withColumn("score_milli",
        expr("206835 - (1015 * w) div sents - (84600 * syl) div w"))
    counted.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("syl").as("n_syllables"),
        expr("sum(score_milli) div count(*)").as("avg_score_milli"),
        min("score_milli").as("min_score_milli"),
        max("score_milli").as("max_score_milli"))
      .orderBy("lang")
  }

  /** RAKE keyword extraction ([[graft.ops.Rake]]): corpus-level top-10
    * phrases by summed degree/frequency word scores — unsupervised
    * topic profiling over the documents table. Micro-unit integer word
    * scores make the ranking bit-exact cross-engine.
    */
  query("q_rake_keywords",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         unnest(regexp_extract_all(lower(text), '[a-z]+|[.,;:!?]'))
         |           AS tok,
         |         unnest(generate_series(1,
         |           len(regexp_extract_all(lower(text), '[a-z]+|[.,;:!?]'))))
         |           AS pos
         |  FROM documents),
         |m AS (SELECT doc_id, pos, tok,
         |             (tok IN ($RakeStopSql)
         |              OR regexp_matches(tok, '^[.,;:!?]$$')) AS stop
         |      FROM toks),
         |g AS (SELECT doc_id, pos, tok, stop,
         |             sum(CASE WHEN stop THEN 1 ELSE 0 END)
         |               OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |      FROM m),
         |words AS (SELECT doc_id, grp, pos, tok FROM g WHERE NOT stop),
         |plen AS (SELECT doc_id, grp, count(*) AS plen
         |         FROM words GROUP BY 1, 2),
         |ws AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         |              CAST(sum(plen) AS BIGINT) AS deg
         |       FROM words JOIN plen USING (doc_id, grp) GROUP BY tok),
         |wsc AS (SELECT tok, (1000000 * deg) // freq AS wscore FROM ws),
         |ph AS (SELECT w.doc_id, w.grp,
         |              string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
         |              count(*) AS n_words,
         |              CAST(sum(wsc.wscore) AS BIGINT) AS score_u
         |       FROM words w JOIN wsc ON wsc.tok = w.tok
         |       GROUP BY 1, 2)
         |SELECT phrase, max(n_words) AS n_words, count(*) AS n_occurrences,
         |       max(score_u) AS score_u
         |FROM ph GROUP BY phrase
         |ORDER BY score_u DESC, phrase LIMIT 10""".stripMargin) { (spark, dir) =>
    graft.ops.Rake.keywords(
      spread(t(spark, dir, "documents")), "doc_id", "text", topK = 10)
  }

  /** One-time: the odd-id documents as 2 stream chunks (doc_id % 4 ∈
    * {1, 3}). Batch ORDER is irrelevant here — scores under a fixed
    * model are per-doc — so plain sequential writes suffice.
    */
  private def classifyStreamSrcDir(spark: SparkSession, dir: String): String = {
    val key = tmpKey(dir)
    oncePerDir(s"/tmp/graft_stream_classify_src/$key", "_OK") {
      val out = s"/tmp/graft_stream_classify_src/$key"
      deleteRec(new java.io.File(out))
      val odd = t(spark, dir, "documents").filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "text")
      for (m <- Seq(1, 3))
        odd.filter(pmod(col("doc_id"), lit(4)) === m)
          .coalesce(1).write.mode("append").parquet(out)
      new java.io.File(s"$out/_OK").createNewFile()
    }
  }

  /** Streaming quality classification: the `q_quality_classifier` model
    * trained ONCE on the static even-id slice, then held fixed while the
    * odd-id corpus arrives as micro-batches — each batch scored in
    * `foreachBatch` (one explode + one unpinned weights join, the same
    * scan shape as batch) into the exactly-once sink. The oracle is the
    * batch classifier oracle VERBATIM: a fixed model scores per doc, so
    * batching must not change one value.
    */
  query("q_streaming_classify", QualityClassifierOracleSql, Drain.Stateless) { (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val docs = spread(t(spark, dir, "documents"))
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("__label", when(col("lang") === "en", 1).otherwise(0)),
      "text", "__label")
    val srcDir = classifyStreamSrcDir(spark, dir)
    val sinkDir = s"/tmp/graft_stream_classify_sink/${tmpKey(dir)}"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val ckpt = graft.Scratch.ephemeralCkptDir("graft_classify_ckpt").toString
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // NO width cap here: measured 3.20 -> 3.35 s with one (r16 batch-4
        // drill) — the per-batch cost is the tokenize+score CPU, which
        // wants the full core count, not state/task overhead
        graft.streaming.IdempotentParquetSink.writeBatch(
          QualityClassifier.score(b, "doc_id", "text", model, carryCols = Seq("lang")),
          id, sinkDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(300000)) q.stop()
    deleteRec(new java.io.File(ckpt))
    val agg = readSinkOrEmpty(spark, sinkDir,
      "doc_id LONG, lang STRING, n_tokens LONG, n_oov LONG, scaled_score LONG")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_score").as("sum_scaled_score"),
        sum(when(col("scaled_score") > 0, 1L).otherwise(0L)).as("n_pred_positive"),
        sum("n_oov").as("sum_oov"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    model.release()
    out
  }

  /** URL canonicalization ([[graft.functions.CanonicalizeUrl]]): noisy
    * URL variants synthesized per doc — case noise, default port on every
    * 3rd, unique utm_source on all, param order flipped on odd ids,
    * fragment on all — then canonicalized and deduplicated. The oracle
    * never string-transforms: it rebuilds each expected canonical URL
    * from first principles off the same integers, so every rule is
    * byte-checked end to end.
    */
  query("q_url_canonical",
      """WITH c AS (
        |  SELECT lang, printf('https://site-%d.example.org/%s/doc-%d?p=%d&q=%d',
        |                      doc_id % 20, lang, doc_id % 100,
        |                      doc_id % 5, doc_id % 4) AS curl
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, count(DISTINCT curl) AS n_canonical,
        |       min(curl) AS min_curl, max(curl) AS max_curl
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val params = when(col("doc_id") % 2 === 0,
      format_string("p=%d&q=%d&utm_source=u%d",
        pmod(col("doc_id"), lit(5)), pmod(col("doc_id"), lit(4)), col("doc_id")))
      .otherwise(format_string("utm_source=u%d&q=%d&p=%d",
        col("doc_id"), pmod(col("doc_id"), lit(4)), pmod(col("doc_id"), lit(5))))
    val url = format_string("HTTPS://Site-%d.Example.ORG%s/%s/doc-%d?%s#sec-%d",
      pmod(col("doc_id"), lit(20)),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      col("lang"), pmod(col("doc_id"), lit(100)), params, col("doc_id"))
    docs.select(col("lang"),
        graft.functions.CanonicalizeUrl(url).as("curl"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("curl")).as("n_canonical"),
        min("curl").as("min_curl"), max("curl").as("max_curl"))
      .orderBy("lang")
  }

  /** Tokenizer vocabulary coverage (OOV rate): vocabulary = every token
    * with corpus frequency >= 50 (THRESHOLD-based, not top-k — a top-k
    * boundary tie would be broken by token identity, which the two
    * engines don't share: Spark sees hashes, the oracle sees strings);
    * readout = per-language token totals and the ppm share of
    * out-of-vocabulary occurrences. One tokenize pass → token counts
    * (map-side combine), one join of per-doc token counts against the
    * vocab — both plain shuffled hash joins, nothing driver-sized.
    */
  query("q_oov_rate",
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |tok AS (SELECT lang, unnest(t) AS tok FROM tk),
         |tf AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
         |       FROM tok GROUP BY 1, 2),
         |v AS (SELECT tok FROM (
         |        SELECT tok, CAST(sum(cnt) AS BIGINT) AS total
         |        FROM tf GROUP BY 1) WHERE total >= 50),
         |agg AS (
         |  SELECT tf.lang, CAST(sum(tf.cnt) AS BIGINT) AS n_tokens,
         |         CAST(sum(CASE WHEN v.tok IS NULL THEN tf.cnt ELSE 0 END)
         |           AS BIGINT) AS n_oov
         |  FROM tf LEFT JOIN v ON tf.tok = v.tok GROUP BY 1)
         |SELECT lang, n_tokens, n_oov,
         |       CAST(n_oov * 1000000 // n_tokens AS BIGINT) AS oov_ppm
         |FROM agg ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(TF.tokenHashes(col("text"))).as("th"))
    val tf = tok.groupBy("lang", "th").agg(count(lit(1)).as("cnt"))
    val vocab = tf.groupBy("th").agg(sum("cnt").as("total"))
      .filter(col("total") >= 50).select("th")
    tf.join(vocab.withColumn("__in", lit(1L)), Seq("th"), "left")
      .groupBy("lang")
      .agg(sum("cnt").as("n_tokens"),
        sum(when(col("__in").isNull, col("cnt")).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy("lang")
  }

  /** Unigram-LM KL divergence between two corpus slices — the drift /
    * domain-shift measurement next to [[Dsir]]'s importance weights.
    * Add-1 smoothing over the JOINT vocabulary; every term is the exact
    * integer `(cₐ+1)·(sln((cₐ+1)·(N_b+V)) − sln((c_b+1)·(Nₐ+V)))` with
    * the repo's [[graft.functions.ScaledLn]] formula, long-summed — so
    * the scaled KL (units: 1e-6 nat · (Nₐ+V)) is bit-exact
    * cross-engine. One tokenize + one hash aggregate + a 1-row totals
    * broadcast; both directions reported.
    */
  query("q_kl_sources",
      s"""WITH tk AS (SELECT source, $ToksSql AS t FROM documents
         |            WHERE source IN ('src0', 'src1')),
         |tok AS (SELECT source, unnest(t) AS tok FROM tk),
         |bt AS (SELECT tok,
         |         CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |         CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |       FROM tok GROUP BY 1),
         |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
         |              CAST(count(*) AS BIGINT) AS v FROM bt),
         |terms AS (
         |  SELECT tt.na, tt.nb, tt.v,
         |    (ca + 1) * (CAST(floor(ln((ca + 1) * (nb + v)) * 1e6 + 0.5) AS BIGINT)
         |              - CAST(floor(ln((cb + 1) * (na + v)) * 1e6 + 0.5) AS BIGINT)) AS t_ab,
         |    (cb + 1) * (CAST(floor(ln((cb + 1) * (na + v)) * 1e6 + 0.5) AS BIGINT)
         |              - CAST(floor(ln((ca + 1) * (nb + v)) * 1e6 + 0.5) AS BIGINT)) AS t_ba
         |  FROM bt CROSS JOIN tt)
         |SELECT na, nb, v, CAST(sum(t_ab) AS BIGINT) AS kl_ab_u,
         |       CAST(sum(t_ba) AS BIGINT) AS kl_ba_u
         |FROM terms GROUP BY 1, 2, 3""".stripMargin) { (spark, dir) =>
    import graft.functions.ScaledLn
    val tok = spread(t(spark, dir, "documents"))
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), explode(TF.tokenHashes(col("text"))).as("th"))
    val byTok = tok.groupBy("th").agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
      sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
    val totals = byTok.agg(sum("ca").as("na"), sum("cb").as("nb"),
      count(lit(1)).as("v"))
    byTok.crossJoin(broadcast(totals))
      .select(col("na"), col("nb"), col("v"),
        ((col("ca") + 1) *
          (ScaledLn.column((col("ca") + 1) * (col("nb") + col("v"))) -
           ScaledLn.column((col("cb") + 1) * (col("na") + col("v")))))
          .as("t_ab"),
        ((col("cb") + 1) *
          (ScaledLn.column((col("cb") + 1) * (col("na") + col("v"))) -
           ScaledLn.column((col("ca") + 1) * (col("nb") + col("v")))))
          .as("t_ba"))
      .groupBy("na", "nb", "v")
      .agg(sum("t_ab").as("kl_ab_u"), sum("t_ba").as("kl_ba_u"))
  }

  query("q_lang_id",
      """WITH scored AS (
        |  SELECT ' ' || trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) || ' ' AS p
        |  FROM documents),
        |s AS (
        |  SELECT
        |   (length(p)-length(regexp_replace(p,' the ',' ','g')))/4 + (length(p)-length(regexp_replace(p,' and ',' ','g')))/4 + (length(p)-length(regexp_replace(p,' of ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' is ',' ','g')))/3 AS s_en,
        |   (length(p)-length(regexp_replace(p,' el ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' la ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' de ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' que ',' ','g')))/4 AS s_es,
        |   (length(p)-length(regexp_replace(p,' le ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' la ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' et ',' ','g')))/3 + (length(p)-length(regexp_replace(p,' les ',' ','g')))/4 AS s_fr,
        |   (length(p)-length(regexp_replace(p,' der ',' ','g')))/4 + (length(p)-length(regexp_replace(p,' die ',' ','g')))/4 + (length(p)-length(regexp_replace(p,' und ',' ','g')))/4 + (length(p)-length(regexp_replace(p,' ist ',' ','g')))/4 AS s_de
        |  FROM scored)
        |SELECT CASE
        |  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
        |  WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_de THEN 'es'
        |  WHEN s_fr > 0 AND s_fr >= s_de THEN 'fr'
        |  WHEN s_de > 0 THEN 'de'
        |  ELSE 'und' END AS pred_lang, count(*) AS n
        |FROM s GROUP BY 1 ORDER BY pred_lang""".stripMargin) { (spark, dir) =>
    spread(t(spark, dir, "documents"))
      .groupBy(TF.langId(col("text")).as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("pred_lang")
  }

  query("q_quality",
      s"""WITH f AS (
         |  SELECT len($ToksSql) AS n_tok,
         |    (length(text) - length(regexp_replace(text, '[^[:alnum:][:space:]]', '', 'g'))) * 1.0
         |      / greatest(length(text), 1) AS punct_ratio,
         |    list_sum(list_transform($ToksSql, t -> length(t))) * 1.0
         |      / greatest(len($ToksSql), 1) AS mean_wl,
         |    len(list_filter($ToksSql, t -> list_contains(
         |      ['the','a','an','and','or','of','to','in','is','it'], t))) * 1.0
         |      / greatest(len($ToksSql), 1) AS stop_ratio
         |  FROM documents)
         |SELECT round((
         |    (CASE WHEN n_tok BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN mean_wl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) +
         |    (CASE WHEN stop_ratio > 0.0 THEN 1.0 ELSE 0.5 END)) / 4.0, 2) AS score,
         |  count(*) AS n
         |FROM f GROUP BY 1 ORDER BY score""".stripMargin) { (spark, dir) =>
    spread(t(spark, dir, "documents"))
      .groupBy(TF.qualityScore(col("text")).as("score"))
      .agg(count(lit(1)).as("n"))
      .orderBy("score")
  }

  query("q_token_stats",
      s"""SELECT source, CAST(sum(len($ToksSql)) AS BIGINT) AS sum_tokens,
         |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS sum_bpe,
         |  floor(avg(n_chars) * 100 + 0.5) / 100 AS avg_chars
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    spread(t(spark, dir, "documents"))
      .groupBy("source")
      .agg(
        sum(TF.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(TF.bpeishTokenCount(col("text")).cast("long")).as("sum_bpe"),
        r(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy("source")
  }

  /** Gopher-style repetition filter stats per source. */
  query("q_repetition",
      s"""SELECT source,
         |  floor(avg((len($ToksSql) - len(list_distinct($ToksSql))) * 1.0
         |            / greatest(len($ToksSql), 1)) * 10000 + 0.5) / 10000 AS avg_rep,
         |  count(*) FILTER (WHERE (len($ToksSql) - len(list_distinct($ToksSql))) * 1.0
         |            / greatest(len($ToksSql), 1) > 0.2) AS n_repetitive
         |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (spark, dir) =>
    spread(t(spark, dir, "documents"))
      .groupBy("source")
      .agg(r(avg(TF.repetitionRatio(col("text"))), 4).as("avg_rep"),
        count(when(TF.repetitionRatio(col("text")) > 0.2, 1)).as("n_repetitive"))
      .orderBy("source")
  }

  /** PII redaction end-to-end: inject a deterministic email+phone into
    * every 10th doc, redact, and verify the redaction removed all of them.
    * Injection happens in-query so the oracle reproduces the whole chain
    * (the base corpus carries no PII of its own).
    */
  query("q_pii_redact",
      """WITH inj AS (
        |  SELECT CASE WHEN doc_id % 10 = 0
        |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
        |              || '@example.com or call +1 555 123 4567'
        |    ELSE text END AS t
        |  FROM documents),
        |red AS (
        |  SELECT t, regexp_replace(
        |           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\+?\d[\d -]{7,}\d', '<PHONE>', 'g') AS rt
        |  FROM inj)
        |SELECT
        |  count(*) FILTER (WHERE regexp_matches(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_docs_with_pii,
        |  count(*) FILTER (WHERE regexp_matches(rt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')
        |                      OR regexp_matches(rt, '\+?\d[\d -]{7,}\d')) AS n_after_redact,
        |  CAST(sum(length(t) - length(rt)) AS BIGINT) AS chars_removed
        |FROM red""".stripMargin) { (spark, dir) =>
    val injected = spread(t(spark, dir, "documents"))
      .withColumn("text2",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or call +1 555 123 4567")))
          .otherwise(col("text")))
    injected
      // redact ONCE per row; three aggregate branches over the same column
      // would each re-run the chained regex replaces
      .withColumn("__red", TF.redactPii(col("text2")))
      .agg(
        count(when(col("text2").rlike(TF.EmailRegex), 1)).as("n_docs_with_pii"),
        count(when(col("__red").rlike(TF.EmailRegex)
          || col("__red").rlike(TF.PhoneRegex), 1)).as("n_after_redact"),
        sum((length(col("text2")) - length(col("__red"))).cast("long"))
          .as("chars_removed"))
  }

  query("q_tfidf_top",
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest($ToksSql) AS term FROM documents),
         |dfreq AS (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         |n AS (SELECT count(*) AS nd FROM documents),
         |g AS (SELECT lang, term, count(*) AS n_occurrences FROM toks GROUP BY 1, 2)
         |SELECT lang, rank, term, n_occurrences FROM (
         |  SELECT lang, term, n_occurrences,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY n_occurrences * (SELECT nd FROM n) * 1.0 / df DESC,
         |                    term ASC) AS rank
         |  FROM g JOIN dfreq USING (term))
         |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin) { (spark, dir) =>
    graft.ops.TfIdf.topTermsPerGroup(
      t(spark, dir, "documents"), "doc_id", "text", "lang", 5)
      .orderBy("lang", "rank")
  }

  /** Sequence packing ([[graft.ops.Packing]]): documents laid end-to-end
    * in doc_id order and cut into 512-token context windows via the
    * two-pass distributed prefix sum — no single-partition global window
    * anywhere in the plan (PlanSpec asserts it). Output per window: doc
    * count, token count, boundary crossings (the packing-quality metric),
    * and the window's first global token offset; the oracle reproduces the
    * offsets with a plain SQL window cumsum, which DuckDB can afford
    * single-threaded at oracle scale.
    */
  query("q_seq_pack",
      // the oracle affords a single-threaded window cumsum at oracle scale;
      // the Spark side MUST NOT (see Packing's two-pass prefix sum)
      s"""WITH tok AS (SELECT doc_id, len($ToksSql) AS tokens FROM documents),
         |c AS (SELECT doc_id, tokens,
         |        COALESCE(sum(tokens) OVER (ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
         |      FROM tok),
         |b AS (SELECT doc_id, tokens, cum_excl, cum_excl // 512 AS bin,
         |        CASE WHEN tokens > 0
         |               AND (cum_excl + tokens - 1) // 512 <> cum_excl // 512
         |             THEN 1 ELSE 0 END AS crosses
         |      FROM c)
         |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
         |       CAST(sum(tokens) AS BIGINT) AS bin_tokens,
         |       CAST(sum(crosses) AS BIGINT) AS n_crossing,
         |       CAST(min(cum_excl) AS BIGINT) AS first_offset
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
      .select(col("doc_id"), TF.tokenCount(col("text")).cast("long").as("tokens"))
    val (packed, release) = Packing.packBins(docs, "doc_id", "tokens", 512L)
    val agg = packed
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("tokens").as("bin_tokens"),
        sum("crosses").as("n_crossing"),
        min("cum_excl").as("first_offset"))
      .orderBy("bin")
    // per-bin result is small: materialize eagerly, release the sort cache
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** Overlapping token-window chunking ([[graft.ops.Chunking]]): 32-token
    * windows, stride 24 (8-token overlap), RAG/long-doc prep. Per-language
    * chunk counts plus a content check (distinct chunk texts) so the
    * oracle verifies the actual window contents, not just their number.
    */
  query("q_chunk_split",
      s"""WITH tok AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |n AS (SELECT doc_id, lang, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
         |ch AS (
         |  SELECT lang, toks[(gs.i*24+1):least(gs.i*24+32, n)] AS ctoks
         |  FROM n, LATERAL (SELECT unnest(generate_series(0,
         |       CASE WHEN n <= 32 THEN 0 ELSE (n - 32 + 24 - 1)//24 END)) AS i) gs)
         |SELECT lang, count(*) AS n_chunks,
         |       CAST(sum(len(ctoks)) AS BIGINT) AS sum_chunk_tokens,
         |       CAST(sum(CASE WHEN len(ctoks) = 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
         |       count(DISTINCT array_to_string(ctoks, ' ')) AS n_distinct_chunks
         |FROM ch GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    Chunking.chunkTokens(spread(t(spark, dir, "documents")), "text", 32, 24)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_chunks"),
        sum(size(col("chunk_tokens")).cast("long")).as("sum_chunk_tokens"),
        sum(when(size(col("chunk_tokens")) === 32, 1L).otherwise(0L)).as("n_full"),
        // distinct over the 8-byte hash, not the ~200-byte text: same count
        // (collisions negligible), 25x less shuffle
        countDistinct(xxhash64(col("chunk_text"))).as("n_distinct_chunks"))
      .orderBy("lang")
  }

  /** Corpus-level boilerplate scrubbing ([[graft.ops.Boilerplate]]): word
    * 3-grams in >=1% of documents are "common"; each doc's boilerplate
    * share = common fraction of its distinct 3-grams. Shares cross engines
    * as scaled longs via the floor-round formula (`r`'s rationale). Docs
    * with zero 3-grams (< 3 tokens) are excluded on both sides.
    */
  query("q_common_ngrams",
      s"""WITH tok AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, lang, array_to_string(toks[(gs.i+1):(gs.i+3)], ' ') AS ngram
         |  FROM (SELECT doc_id, lang, toks, len(toks) - 2 AS c FROM tok) t,
         |       LATERAL (SELECT unnest(generate_series(0, c - 1)) AS i) gs
         |  WHERE c > 0),
         |dg AS (SELECT DISTINCT doc_id, lang, ngram FROM g),
         |dfreq AS (SELECT ngram, count(*) AS df FROM dg GROUP BY ngram),
         |common AS (SELECT ngram FROM dfreq
         |           WHERE df >= greatest(2, ceil(0.01 * (SELECT count(*) FROM documents)))),
         |per_doc AS (
         |  SELECT d.doc_id, d.lang, count(*) AS n_grams,
         |         sum(CASE WHEN c.ngram IS NOT NULL THEN 1 ELSE 0 END) AS n_common
         |  FROM dg d LEFT JOIN common c USING (ngram) GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN n_common * 1.0 / n_grams >= 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |       CAST(sum(CAST(floor(n_common * 1e6 / n_grams + 0.5) AS BIGINT)) AS BIGINT) AS sum_scaled_share
         |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    // the hashed scale path: one persisted explode of 64-bit gram keys
    // (PipelineOpsSpec pins its equivalence to the string-gram path)
    val (shares, release) = Boilerplate.hashedBoilerplateShares(
      docs, "doc_id", "text", 3, 0.01, carryCols = Seq("lang"))
    val agg = shares
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_common") * lit(1.0) / col("n_grams") >= 0.1, 1L)
          .otherwise(0L)).as("n_flagged"),
        sum(floor(col("n_common") * lit(1e6) / col("n_grams") + 0.5).cast("long"))
          .as("sum_scaled_share"))
      .orderBy("lang")
    // 5-row result: materialize eagerly so the persisted pairs release now
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** In-corpus unigram-LM scoring ([[graft.ops.NgramLm]]): the CCNet-style
    * perplexity filter. Integer scaled-long log-likelihoods end to end —
    * see the op scaladoc for why no raw double is ever summed across rows.
    * The keep threshold (mean scaled logprob per token > -3.401) sits
    * between the corpus p10 and p90, so the flag actually discriminates.
    */
  query("q_unigram_lm",
      s"""WITH tok AS (SELECT doc_id, lang, unnest($ToksSql) AS t FROM documents),
         |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         |scored AS (SELECT doc_id, lang, count(*) AS n,
         |             sum(CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT)) AS s
         |           FROM tok JOIN vocab USING (t) GROUP BY 1, 2),
         |d AS (SELECT lang, n,
         |        s - n * CAST(floor(ln((SELECT total FROM tot)) * 1e6 + 0.5) AS BIGINT) AS lp
         |      FROM scored)
         |SELECT lang, count(*) AS n_docs, CAST(sum(lp) AS BIGINT) AS sum_scaled_lp,
         |       CAST(sum(CASE WHEN lp > -3401000 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val (scores, release) = NgramLm.unigramScores(
      docs, "doc_id", "text", carryCols = Seq("lang"))
    val agg = scores
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_logprob").as("sum_scaled_lp"),
        sum(when(col("scaled_logprob") > lit(-3401000L) * col("n_tokens"), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** Conditional bigram-LM scoring ([[graft.ops.NgramLm.bigramScores]]) —
    * the chain-probability step up from `q_unigram_lm`; threshold between
    * corpus p10/p90 like the unigram one.
    */
  query("q_bigram_lm",
      s"""WITH tok AS (SELECT doc_id, lang, $ToksSql AS toks FROM documents),
         |nn AS (SELECT doc_id, lang, toks, len(toks) AS n FROM tok WHERE len(toks) >= 2),
         |bg AS (SELECT doc_id, lang, toks[gs.i+1] AS u,
         |              toks[gs.i+1] || ' ' || toks[gs.i+2] AS b
         |       FROM nn, LATERAL (SELECT unnest(generate_series(0, n - 2)) AS i) gs),
         |cu AS (SELECT u, count(*) AS c FROM bg GROUP BY u),
         |cb AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
         |scored AS (SELECT doc_id, lang, count(*) AS m,
         |             sum(CAST(floor(ln(cb.c) * 1e6 + 0.5) AS BIGINT)
         |                 - CAST(floor(ln(cu.c) * 1e6 + 0.5) AS BIGINT)) AS lp
         |           FROM bg JOIN cu USING (u) JOIN cb USING (b) GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs, CAST(sum(lp) AS BIGINT) AS sum_scaled_lp,
         |       CAST(sum(CASE WHEN lp > -3410000 * m THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM scored GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val (scores, release) = NgramLm.bigramScores(
      docs, "doc_id", "text", carryCols = Seq("lang"))
    val agg = scores
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_logprob").as("sum_scaled_lp"),
        sum(when(col("scaled_logprob") > lit(-3410000L) * col("n_bigrams"), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** CCNet perplexity buckets ([[graft.ops.NgramLm.pplBuckets]], exact
    * mode): per language, documents split into head/middle/tail thirds by
    * per-token unigram log-likelihood — the published CCNet step after LM
    * scoring. The sort key is one long/long double division (bit-identical
    * cross-engine) with doc_id tiebreak, so DuckDB's ntile reproduces the
    * assignment exactly. The approx (sketch-threshold) scale mode is
    * invariant-checked in PipelineOpsSpec instead.
    */
  query("q_ppl_buckets",
      s"""WITH tok AS (SELECT doc_id, lang, unnest($ToksSql) AS t FROM documents),
         |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         |scored AS (SELECT doc_id, lang, count(*) AS n,
         |             sum(CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT)) AS s
         |           FROM tok JOIN vocab USING (t) GROUP BY 1, 2),
         |d AS (SELECT doc_id, lang, n,
         |        s - n * CAST(floor(ln((SELECT total FROM tot)) * 1e6 + 0.5) AS BIGINT) AS lp
         |      FROM scored),
         |b AS (SELECT doc_id, lang, n, lp,
         |        ntile(3) OVER (PARTITION BY lang
         |          ORDER BY CAST(lp AS DOUBLE) / n DESC, doc_id) AS nt
         |      FROM d)
         |SELECT lang,
         |       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |       count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens,
         |       CAST(sum(lp) AS BIGINT) AS sum_scaled_lp,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc
         |FROM b GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val (scores, release) = NgramLm.unigramScores(
      docs, "doc_id", "text", carryCols = Seq("lang"))
    val bucketed = NgramLm.pplBuckets(
      scores, partitionCols = Seq("lang"), idCol = "doc_id", buckets = 3,
      exact = true)
    val agg = bucketed
      .withColumn("bucket",
        when(col("ppl_bucket") === 1, "head")
          .when(col("ppl_bucket") === 2, "middle").otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("scaled_logprob").as("sum_scaled_lp"),
        min("doc_id").as("min_doc"))
      .orderBy("lang", "bucket")
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** External-LM scoring ([[graft.ops.NgramLm.unigramScoresWithVocab]]):
    * the real CCNet shape — vocabulary estimated on one slice (even ids:
    * "train on A"), documents of the OTHER slice scored against it
    * ("score B"), instead of the corpus scoring itself (`q_unigram_lm`).
    * OOV tokens price as count-1 (scaled score 0) and are counted, so
    * the oracle checks the OOV path too. Same integer scaled-long
    * arithmetic end to end.
    */
  query("q_external_lm",
      s"""WITH tokA AS (SELECT unnest($ToksSql) AS t FROM documents WHERE doc_id % 2 = 0),
         |vocab AS (SELECT t, count(*) AS cnt FROM tokA GROUP BY t),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
         |tokB AS (SELECT doc_id, lang, unnest($ToksSql) AS t FROM documents WHERE doc_id % 2 = 1),
         |scored AS (SELECT b.doc_id, b.lang, count(*) AS n,
         |             sum(CASE WHEN v.cnt IS NULL THEN 1 ELSE 0 END) AS oov,
         |             sum(coalesce(CAST(floor(ln(v.cnt) * 1e6 + 0.5) AS BIGINT), 0)) AS s
         |           FROM tokB b LEFT JOIN vocab v USING (t) GROUP BY 1, 2),
         |d AS (SELECT lang, n, oov,
         |        s - n * CAST(floor(ln((SELECT total FROM tot)) * 1e6 + 0.5) AS BIGINT) AS lp
         |      FROM scored)
         |SELECT lang, count(*) AS n_docs, CAST(sum(lp) AS BIGINT) AS sum_scaled_lp,
         |       CAST(sum(oov) AS BIGINT) AS sum_oov,
         |       CAST(sum(CASE WHEN oov > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_oov
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val vocab = NgramLm.tokenVocabulary(docs.filter(col("doc_id") % 2 === 0), "text")
    val (scores, release) = NgramLm.unigramScoresWithVocab(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", vocab,
      carryCols = Seq("lang"))
    val agg = scores
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_logprob").as("sum_scaled_lp"),
        sum("n_oov").as("sum_oov"),
        sum(when(col("n_oov") > 0, 1L).otherwise(0L)).as("n_with_oov"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** DSIR importance resampling ([[graft.ops.Dsir]]): the published
    * data-selection shape — a target LM (English slice 0: "what we want
    * more of") and a raw LM (slice 1: "what we are selecting from") are
    * estimated once, candidates (slice 2) are weighted by the scaled
    * integer `Σ ln p_target − ln p_raw`, and the top-50 by (weight,
    * doc_id) are kept. Row-for-row oracle: the selected SET, weights,
    * and OOV counts must all reproduce exactly.
    */
  query("q_dsir",
      s"""WITH tokP AS (SELECT unnest($ToksSql) AS t FROM documents
         |             WHERE doc_id % 3 = 0 AND lang = 'en'),
         |vp AS (SELECT t, count(*) AS cp FROM tokP GROUP BY t),
         |tokQ AS (SELECT unnest($ToksSql) AS t FROM documents WHERE doc_id % 3 = 1),
         |vq AS (SELECT t, count(*) AS cq FROM tokQ GROUP BY t),
         |totp AS (SELECT coalesce(CAST(floor(ln(sum(cp)) * 1e6 + 0.5) AS BIGINT), 0) AS sp FROM vp),
         |totq AS (SELECT coalesce(CAST(floor(ln(sum(cq)) * 1e6 + 0.5) AS BIGINT), 0) AS sq FROM vq),
         |m AS (SELECT coalesce(vp.t, vq.t) AS t,
         |        coalesce(CAST(floor(ln(cp) * 1e6 + 0.5) AS BIGINT), 0)
         |      - coalesce(CAST(floor(ln(cq) * 1e6 + 0.5) AS BIGINT), 0) AS delta,
         |        (cp IS NULL) AS oovp, (cq IS NULL) AS oovq
         |      FROM vp FULL OUTER JOIN vq ON vp.t = vq.t),
         |tokC AS (SELECT doc_id, lang, unnest($ToksSql) AS t FROM documents
         |         WHERE doc_id % 3 = 2),
         |sc AS (SELECT c.doc_id, c.lang, count(*) AS n,
         |         sum(CASE WHEN m.t IS NULL OR m.oovp THEN 1 ELSE 0 END) AS oovt,
         |         sum(CASE WHEN m.t IS NULL OR m.oovq THEN 1 ELSE 0 END) AS oovr,
         |         sum(coalesce(m.delta, 0)) AS sd
         |       FROM tokC c LEFT JOIN m ON c.t = m.t GROUP BY 1, 2)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
         |       CAST(oovt AS BIGINT) AS n_oov_target, CAST(oovr AS BIGINT) AS n_oov_raw,
         |       CAST(sd - n * ((SELECT sp FROM totp) - (SELECT sq FROM totq)) AS BIGINT)
         |         AS scaled_weight
         |FROM sc ORDER BY scaled_weight DESC, doc_id LIMIT 50""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val target = NgramLm.tokenVocabulary(
      docs.filter(col("doc_id") % 3 === 0 && col("lang") === "en"), "text")
    val raw = NgramLm.tokenVocabulary(docs.filter(col("doc_id") % 3 === 1), "text")
    val (weights, release) = Dsir.importanceWeights(
      docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", target, raw,
      carryCols = Seq("lang"))
    val sel = Dsir.selectTopK(weights, "doc_id", 50)
      .select("doc_id", "lang", "n_tokens", "n_oov_target", "n_oov_raw",
        "scaled_weight")
    val out = sel.localCheckpoint(true)
    release()
    out
  }

  /** C4-style page cleaning ([[graft.ops.LineClean]]): the published T5
    * line+page rules. The flat synthetic corpus has no newlines or
    * punctuation, so multi-line pages are constructed deterministically
    * from it IN BOTH ENGINES (the q_url_blocklist pattern): tokens are
    * re-lined 8 per line via [[graft.functions.ChunkText]], each line
    * gets a (doc_id + line#)-cycled suffix (. ! ? none " javascript."),
    * and every 31st page gets a "lorem ipsum { x }" line — exercising
    * the terminal-punctuation, min-words, banned-line, min-lines, and
    * both banned-page rules on real data.
    */
  /** Deterministic multi-line page construction shared by the batch and
    * streaming C4 queries (and mirrored in the oracle SQL).
    */
  private def c4Pages(docs: DataFrame): DataFrame = {
    val suffixes = array(lit("."), lit("!"), lit("?"), lit(""), lit(" javascript."))
    val lines = graft.functions.ChunkText(col("text"), 8, 8)
    val page = concat(
      array_join(transform(lines, (x, i) =>
        concat(x, element_at(suffixes,
          ((col("doc_id") + i) % 5).cast("int") + 1))), "\n"),
      when(col("doc_id") % 31 === 0, lit("\nlorem ipsum { x }")).otherwise(lit("")))
    docs.select(col("doc_id"), col("lang"), page.as("text"))
  }

  /** Per-doc C4 verdicts with a streaming-sink-stable LONG schema. */
  private def c4CleanVerdicts(pages: DataFrame): DataFrame =
    graft.ops.LineClean.cleanPages(pages, "doc_id", "text",
        carryCols = Seq("lang"))
      .select(col("doc_id"), col("lang"),
        col("n_lines").cast("long").as("n_lines"),
        col("n_kept_lines").cast("long").as("n_kept_lines"),
        col("page_kept"),
        when(col("page_kept"), length(col("clean_text")).cast("long"))
          .otherwise(0L).as("clean_len"))

  private def c4CleanAgg(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("page_kept"), 1L).otherwise(0L)).as("n_pages_kept"),
        sum("n_lines").as("sum_lines"),
        sum("n_kept_lines").as("sum_kept_lines"),
        sum("clean_len").as("sum_clean_chars"))
      .orderBy("lang")

  query("q_c4_clean", C4CleanOracleSql) { (spark, dir) =>
    c4CleanAgg(c4CleanVerdicts(c4Pages(spread(t(spark, dir, "documents")))))
  }

  /** Streaming C4 cleaning: `q_c4_clean`'s rule filter is stateless, so
    * it must commute with micro-batching — the corpus arrives as
    * parquet-file micro-batches, each batch is page-built + rule-filtered
    * in `foreachBatch` (the same zero-shuffle scan shape as batch) into
    * the exactly-once sink, and the oracle is the batch oracle VERBATIM.
    */
  query("q_streaming_c4", C4CleanOracleSql, Drain.Stateless) { (spark, dir) =>
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = docsStreamSrcDir(spark, dir)
    val sinkDir = s"/tmp/graft_stream_c4_sink/${tmpKey(dir)}"
    deleteRec(new java.io.File(sinkDir))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val ckpt = graft.Scratch.ephemeralCkptDir("graft_c4_ckpt").toString
    val q = stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        // NO width cap here: measured 1.97 -> 2.16 s with one (r16 batch-4
        // drill) — the line-level clean pipeline is CPU-bound per batch
        graft.streaming.IdempotentParquetSink.writeBatch(
          c4CleanVerdicts(c4Pages(b)), id, sinkDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(300000)) q.stop()
    deleteRec(new java.io.File(ckpt))
    c4CleanAgg(readSinkOrEmpty(spark, sinkDir,
      "doc_id LONG, lang STRING, n_lines LONG, n_kept_lines LONG, " +
        "page_kept BOOLEAN, clean_len LONG"))
      .localCheckpoint(true)
  }

  /** All-documents micro-batch source dir (3 files → 3 triggers). */
  private def docsStreamSrcDir(spark: SparkSession, dir: String): String = {
    val key = tmpKey(dir)
    oncePerDir(s"/tmp/graft_stream_docs_src/$key", "_OK") {
      val out = s"/tmp/graft_stream_docs_src/$key"
      deleteRec(new java.io.File(out))
      val docs = t(spark, dir, "documents").select("doc_id", "lang", "text")
      for (m <- Seq(0, 1, 2))
        docs.filter(pmod(col("doc_id"), lit(3)) === m)
          .coalesce(1).write.mode("append").parquet(out)
      new java.io.File(s"$out/_OK").createNewFile()
    }
  }

  /** fastText-style quality classifier ([[graft.ops.QualityClassifier]]):
    * the train-a-filter-on-labeled-slices shape — a Naive Bayes log-odds
    * linear model trained on the even-id slice (label: lang = 'en', a
    * deterministic stand-in for "reference corpus / not"), scoring the
    * odd-id slice. Every ln is of an integer and scaled once to a long,
    * so the oracle reproduces weights, OOV floor, prior, and doc scores
    * exactly ([[NgramLm]] discipline).
    */
  query("q_quality_classifier", QualityClassifierOracleSql) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("__label", when(col("lang") === "en", 1).otherwise(0)),
      "text", "__label")
    val scored = QualityClassifier.score(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model,
      carryCols = Seq("lang"))
    val agg = scored
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_score").as("sum_scaled_score"),
        sum(when(col("scaled_score") > 0, 1L).otherwise(0L)).as("n_pred_positive"),
        sum("n_oov").as("sum_oov"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    model.release()
    out
  }

  /** Domain blocklist ([[graft.ops.UrlFilter.flagBlocked]]): URLs
    * synthesized over 20 hosts (every 5th behind a `cdn.` subdomain) are
    * matched against a 3-entry blocklist by host-suffix-on-label-boundary
    * semantics — the subdomain rows prove suffix matching, the oracle's
    * `host = d OR host LIKE '%.' || d` is the same predicate in SQL.
    */
  query("q_url_blocklist",
      """WITH d AS (SELECT doc_id, lang,
        |       CASE WHEN doc_id % 5 = 0
        |            THEN 'cdn.site-' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
        |            ELSE 'site-' || CAST(doc_id % 20 AS VARCHAR) || '.example.org' END AS host
        |     FROM documents),
        |bl AS (SELECT unnest(['site-3.example.org', 'site-7.example.org',
        |                      'bad.example.net']) AS dom),
        |f AS (SELECT d.doc_id, d.lang, count(b.dom) > 0 AS blocked
        |      FROM d LEFT JOIN bl b ON d.host = b.dom OR d.host LIKE '%.' || b.dom
        |      GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
        |       CAST(min(CASE WHEN blocked THEN doc_id END) AS BIGINT) AS min_blocked
        |FROM f GROUP BY 1 ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
    val host = when(col("doc_id") % 5 === 0,
      format_string("cdn.site-%d.example.org", pmod(col("doc_id"), lit(20))))
      .otherwise(format_string("site-%d.example.org", pmod(col("doc_id"), lit(20))))
    val withUrl = docs.select(col("doc_id"), col("lang"),
      concat(lit("https://"), host, lit("/"), col("lang"), lit("/doc")).as("url"))
    val blocklist = spark.createDataFrame(Seq(
      Tuple1("site-3.example.org"), Tuple1("site-7.example.org"),
      Tuple1("bad.example.net"))).toDF("domain")
    graft.ops.UrlFilter.flagBlocked(withUrl, "doc_id", "url", blocklist)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        min(when(col("blocked"), col("doc_id"))).as("min_blocked"))
      .orderBy("lang")
  }

  /** BPE merge candidates ([[graft.ops.Bpe.pairCounts]]): top-20 adjacent
    * character pairs by frequency-weighted occurrence count — tokenizer
    * training's first merge decision, computed on the vocabulary, not the
    * corpus. Exact integer counts; ordering is total (pair is unique), so
    * the oracle reproduces the top-k row for row.
    */
  query("q_bpe_pairs",
      s"""WITH tok AS (SELECT unnest($ToksSql) AS w FROM documents),
         |vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY 1),
         |p AS (SELECT substring(w, gs.i, 2) AS pair, w, cnt
         |      FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) gs
         |      WHERE length(w) >= 2)
         |SELECT pair, CAST(count(DISTINCT w) AS BIGINT) AS n_types,
         |       CAST(sum(cnt) AS BIGINT) AS n_occurrences
         |FROM p GROUP BY 1 ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    graft.ops.Bpe.pairCounts(docs, "text", k = 20)
  }

  /** The FULL BPE training loop ([[graft.ops.Bpe.trainMerges]]): 3
    * count-merge-apply cycles over the vocabulary frame; the readout is
    * the merge table itself — the trained tokenizer. The oracle unrolls
    * the identical cycle in SQL: because merge candidates are restricted
    * to a != b (overlap-free, documented in the op), the Spark side's
    * left-fold application and the oracle's lag-based simultaneous
    * rewrite are provably the same function.
    */
  query("q_bpe_train", bpeOracleSql(3)) { (spark, dir) =>
    graft.ops.Bpe.trainMerges(t(spark, dir, "documents"), "text", rounds = 3)
  }

  /** The BATCHED trainer on its production path
    * ([[graft.ops.Bpe.trainMergesBatched]]): 16 merges at K=8 — two
    * driver rounds of 8 pairwise non-interacting merges, the
    * amortization that makes large-vocabulary training feasible. The
    * oracle reproduces the BATCHED semantics directly (not via the
    * sequential trainer): per round it freezes the pair counts, replays
    * the greedy full-order admission under the symbol+concatenation
    * guard as a recursive CTE over the ranked candidate list, and
    * applies the whole admitted rule SET in one lag-based simultaneous
    * rewrite (sound because admitted symbols are pairwise disjoint — no
    * two matches can be adjacent).
    */
  query("q_bpe_batched", bpeBatchedOracleSql(merges = 16, k = 8, maxRounds = 8)) { (spark, dir) =>
    graft.ops.Bpe.trainMergesBatched(t(spark, dir, "documents"), "text",
      merges = 16, mergesPerRound = 8)
  }

  /** The trained tokenizer APPLIED — corpus compression after 3 merges
    * ([[graft.ops.Bpe.trainAndApplyStats]]): symbol counts before/after,
    * frequency-weighted, plus the integer-ppm saving. Completes the
    * train→apply lifecycle under one oracle chain (the oracle reads the
    * same unrolled cycle's FINAL vocab frame).
    */
  query("q_bpe_apply", bpeApplyOracleSql(3)) { (spark, dir) =>
    graft.ops.Bpe.trainAndApplyStats(t(spark, dir, "documents"), "text", rounds = 3)
  }

  /** PMI collocations ([[graft.ops.Collocations.topPmi]]): top-20
    * adjacent word pairs by pointwise mutual information with min support
    * 5 — counting runs on 8-byte hashes, strings join back only for the
    * top candidates. candidateCap is sized above the test corpora's whole
    * qualifying-pair population (asserted in TextOpsSpec) so the top-k is
    * exact and the oracle — the same integer PMI over string pairs —
    * reproduces it row for row.
    */
  query("q_collocations",
      s"""WITH tk AS (SELECT $ToksSql AS t FROM documents),
         |pr AS (SELECT t[gs.i] AS u, t[gs.i + 1] AS v
         |       FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) gs
         |       WHERE len(t) >= 2),
         |bc AS (SELECT u, v, count(*) AS cnt FROM pr GROUP BY 1, 2),
         |pc AS (SELECT u, count(*) AS cu FROM pr GROUP BY 1),
         |sc AS (SELECT v, count(*) AS cv FROM pr GROUP BY 1),
         |n2 AS (SELECT count(*) AS n FROM pr)
         |SELECT u AS w1, v AS w2, CAST(cnt AS BIGINT) AS cnt,
         |       CAST(floor(ln(cnt) * 1e6 + 0.5) AS BIGINT)
         |     + CAST(floor(ln((SELECT n FROM n2)) * 1e6 + 0.5) AS BIGINT)
         |     - CAST(floor(ln(cu) * 1e6 + 0.5) AS BIGINT)
         |     - CAST(floor(ln(cv) * 1e6 + 0.5) AS BIGINT) AS scaled_pmi
         |FROM bc JOIN pc USING (u) JOIN sc USING (v)
         |WHERE cnt >= 5
         |ORDER BY scaled_pmi DESC, w1, w2 LIMIT 20""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    graft.ops.Collocations.topPmi(
      docs, "text", minCount = 5, k = 20, candidateCap = 100000)
  }

  /** Calibration sweep ([[graft.ops.QualityClassifier.calibrationSweep]]):
    * confusion counts of the NB quality filter at five candidate
    * thresholds (±2, ±1, 0 in 1e6-scaled log-odds) in one pass over the
    * held-out scored slice — the operating-point selection step that
    * follows training. The t = 0 row reproduces
    * `q_quality_classifier`'s production `n_pred_positive` split by
    * outcome, which chains the two oracles together.
    */
  query("q_quality_calibration",
      s"""WITH $ClassifierScoredCtesSql,
         |d2 AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, sc FROM d),
         |th AS (SELECT unnest([-2000000, -1000000, 0, 1000000, 2000000]) AS threshold)
         |SELECT CAST(threshold AS BIGINT) AS threshold,
         |       CAST(sum(CASE WHEN y = 1 AND sc > threshold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |       CAST(sum(CASE WHEN y = 0 AND sc > threshold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |       CAST(sum(CASE WHEN y = 1 AND sc <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |       CAST(sum(CASE WHEN y = 0 AND sc <= threshold THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |FROM d2 CROSS JOIN th GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val docs = spread(t(spark, dir, "documents"))
    val model = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("__label", when(col("lang") === "en", 1).otherwise(0)),
      "text", "__label")
    val scored = QualityClassifier.score(
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model,
      carryCols = Seq("lang"))
      .withColumn("__y", when(col("lang") === "en", 1).otherwise(0))
    val swept = QualityClassifier.calibrationSweep(
        scored, "__y",
        thresholds = Seq(-2000000L, -1000000L, 0L, 1000000L, 2000000L))
      .orderBy("threshold")
    val out = swept.localCheckpoint(true)
    model.release()
    out
  }

  /** Gopher-style repetition signals ([[graft.ops.GopherRepetition]]):
    * top-{2,3}-gram coverage and duplicated-5-gram position-union
    * coverage per doc, all exact integer token numerators. The flag
    * (5·top2 > n_tokens ⟺ top-2-gram share > 0.2) is the paper's
    * threshold in integer arithmetic.
    */
  query("q_gopher_repetition",
      s"""WITH tk AS (SELECT doc_id, lang, $ToksSql AS t FROM documents),
         |nn AS (SELECT doc_id, lang, t, len(t) AS nt FROM tk WHERE len(t) >= 1),
         |w AS (SELECT doc_id, lang, nt, ns.n AS n, gs.i AS pos,
         |        array_to_string(t[(gs.i+1):(gs.i+least(ns.n, nt))], ' ') AS s
         |      FROM nn,
         |        LATERAL (SELECT unnest([2, 3, 5]) AS n) ns,
         |        LATERAL (SELECT unnest(generate_series(0,
         |          CASE WHEN nt <= ns.n THEN 0 ELSE nt - ns.n END)) AS i) gs),
         |c AS (SELECT doc_id, lang, nt, n, s, count(*) AS c
         |      FROM w WHERE n IN (2, 3) GROUP BY 1, 2, 3, 4, 5),
         |tops AS (SELECT doc_id, lang, nt,
         |           coalesce(max(CASE WHEN n = 2
         |             THEN least(c * least(2, nt), nt) END), 0) AS top2,
         |           coalesce(max(CASE WHEN n = 3
         |             THEN least(c * least(3, nt), nt) END), 0) AS top3
         |         FROM c GROUP BY 1, 2, 3),
         |w5 AS (SELECT doc_id, nt, pos, least(pos + 5, nt) AS e,
         |         count(*) OVER (PARTITION BY doc_id, s) AS c
         |       FROM w WHERE n = 5),
         |mk AS (SELECT doc_id, nt, pos, e FROM w5 WHERE c > 1),
         |sw AS (SELECT doc_id, pos, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |       FROM mk),
         |g AS (SELECT doc_id, pos, e,
         |        sum(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |      FROM sw),
         |spans AS (SELECT doc_id, grp, min(pos) AS st, max(e) AS en
         |          FROM g GROUP BY 1, 2),
         |dup AS (SELECT doc_id, sum(en - st) AS d5 FROM spans GROUP BY 1),
         |sig AS (SELECT t.doc_id, t.lang, t.nt, t.top2, t.top3,
         |          coalesce(d.d5, 0) AS d5
         |        FROM tops t LEFT JOIN dup d ON t.doc_id = d.doc_id)
         |SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS sum_tokens,
         |       CAST(sum(top2) AS BIGINT) AS sum_top2_tokens,
         |       CAST(sum(top3) AS BIGINT) AS sum_top3_tokens,
         |       CAST(sum(d5) AS BIGINT) AS sum_dup5_tokens,
         |       CAST(sum(CASE WHEN top2 * 5 > nt THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_flagged_top2
         |FROM sig GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val (sig, release) = graft.ops.GopherRepetition.repetitionSignals(
      spread(t(spark, dir, "documents")), "doc_id", "text",
      topNs = Seq(2, 3), dupN = 5, carryCols = Seq("lang"))
    val agg = sig
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("sum_tokens"),
        sum("top2_tokens").as("sum_top2_tokens"),
        sum("top3_tokens").as("sum_top3_tokens"),
        sum("dup5_tokens").as("sum_dup5_tokens"),
        sum(when(col("top2_tokens") * 5 > col("n_tokens"), 1L).otherwise(0L))
          .as("n_flagged_top2"))
      .orderBy("lang")
    val out = agg.localCheckpoint(true)
    release()
    out
  }

  /** Token-entropy quality signal ([[NgramLm.tokenEntropy]]): exact
    * integer Shannon entropy of each doc's token distribution — the
    * template-spam / gibberish discriminator one step up from the
    * repetition ratio. The low-entropy flag threshold sits between the
    * corpus p10 and p90 so it discriminates.
    */
  query("q_token_entropy",
      s"""WITH tok AS (SELECT doc_id, lang, unnest($ToksSql) AS t FROM documents),
         |c AS (SELECT doc_id, lang, t, count(*) AS c FROM tok GROUP BY 1, 2, 3),
         |d AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n,
         |        CAST(sum(c * CAST(floor(ln(c) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS sc
         |      FROM c GROUP BY 1, 2),
         |h AS (SELECT lang, n,
         |        n * CAST(floor(ln(n) * 1e6 + 0.5) AS BIGINT) - sc AS num
         |      FROM d)
         |SELECT lang, count(*) AS n_docs, CAST(sum(num) AS BIGINT) AS sum_scaled_h_num,
         |       CAST(sum(n) AS BIGINT) AS sum_tokens,
         |       CAST(sum(CASE WHEN num < 3000000 * n THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy
         |FROM h GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    NgramLm.tokenEntropy(spread(t(spark, dir, "documents")),
        "doc_id", "text", carryCols = Seq("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("scaled_entropy_num").as("sum_scaled_h_num"),
        sum("n_tokens").as("sum_tokens"),
        sum(when(col("scaled_entropy_num") < lit(3000000L) * col("n_tokens"), 1L)
          .otherwise(0L)).as("n_low_entropy"))
      .orderBy("lang")
  }
}
