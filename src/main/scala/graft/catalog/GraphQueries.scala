package graft
package catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Bfs, PageRank}
import QuerySupport._

/** Graph and clustering queries: link analysis, traversal, components,
  * k-core, k-means, DBSCAN and skyline.
  */
private[graft] object GraphQueries extends QueryFamily {

  /** Unrolls the [[graft.ops.PageRank]] integer recurrence to `iters`
    * chained CTEs — same edges, same floor divisions, same damping, so
    * the comparison is bit-exact, not an epsilon check. `seedPred`
    * (a SQL predicate over `node`) switches to the personalized restart
    * vector: base mass on seeds only, dangling mass back to seeds only.
    */
  private def pagerankOracleSql(iters: Int, seedPred: Option[String]): String = {
    val pred = seedPred.getOrElse("TRUE")
    val head =
      s"""WITH e AS (
         |  SELECT DISTINCT printf('site-%d', doc_id % 20) AS src,
         |         printf('site-%d', (doc_id * 7 + 3) % 20) AS dst
         |  FROM documents WHERE doc_id % 20 < 17
         |  UNION
         |  SELECT DISTINCT printf('site-%d', doc_id % 20),
         |         printf('site-%d', (doc_id * 3 + 5) % 20)
         |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
         |p AS (SELECT count(*) AS sc,
         |             1000000000000 // count(*) AS sbase
         |      FROM nodes WHERE $pred),
         |r0 AS (SELECT node, coalesce(outdeg, 0) AS outdeg, $pred AS is_seed,
         |              CASE WHEN $pred THEN (SELECT sbase FROM p) ELSE 0 END AS base,
         |              CASE WHEN $pred THEN (SELECT sbase FROM p) ELSE 0 END AS rank
         |       FROM nodes LEFT JOIN deg USING (node))""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""d$k AS (SELECT coalesce(sum(rank), 0) // (SELECT sc FROM p) AS ds
         |       FROM r${k - 1} WHERE outdeg = 0),
         |c$k AS (SELECT e.dst AS node, sum(r.rank // r.outdeg) AS contrib
         |       FROM e JOIN r${k - 1} r ON e.src = r.node GROUP BY e.dst),
         |r$k AS (SELECT r.node, r.outdeg, r.is_seed, r.base,
         |              (15 * r.base
         |               + 85 * (coalesce(c.contrib, 0)
         |                       + CASE WHEN r.is_seed THEN (SELECT ds FROM d$k)
         |                              ELSE 0 END))
         |              // 100 AS rank
         |       FROM r${k - 1} r LEFT JOIN c$k c USING (node))""".stripMargin
    }
    // CAST: sum() over BIGINT is HUGEINT in DuckDB, which the driver's
    // pandas fetch widens to float64 — hash-mismatching Spark's exact
    // longs even when every value is identical.
    val outCols =
      if (seedPred.isDefined)
        "node, outdeg, is_seed, CAST(rank AS BIGINT) AS rank_scaled"
      else "node, outdeg, CAST(rank AS BIGINT) AS rank_scaled"
    (head +: steps).mkString(",\n") +
      s"\nSELECT $outCols FROM r$iters ORDER BY node"
  }

  /** Link prediction on the [[docLinkEdges]] host graph: common-neighbor
    * count and Adamic–Adar affinity for every NON-adjacent host pair —
    * the "which sources probably belong together" prior next to
    * `q_label_prop`'s communities. AA's 1/ln(deg z) weights use the one
    * repo scaled-log ([[graft.functions.ScaledLn]]): each witness
    * contributes `1e12 div s(deg z)` micro-units — exact long arithmetic
    * (witnesses only arise from deg ≥ 2, so s ≥ s(2) > 0).
    *
    * Scale shape: wedges are generated from the adjacency list by one
    * self-join per center node — fan-out bounded by degree (the same
    * shape `q_triangles` bounds by orientation; here both sides are
    * kept because the pair, not the count, is the output) — then
    * anti-joined against the edge set. No all-pairs product anywhere.
    */
  query("q_link_predict",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |adj AS (
        |  SELECT u AS z, v AS x FROM und
        |  UNION ALL SELECT v AS z, u AS x FROM und),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |wedges AS (
        |  SELECT a.x AS a, b.x AS b,
        |         CAST(floor(ln(deg.d) * 1000000 + 0.5) AS BIGINT) AS sln
        |  FROM adj a JOIN adj b ON b.z = a.z AND a.x < b.x
        |  JOIN deg ON deg.z = a.z),
        |scored AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
        |         CAST(sum(1000000000000 // sln) AS BIGINT) AS aa_u
        |  FROM wedges GROUP BY 1, 2)
        |SELECT a, b, cn, aa_u FROM scored
        |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = scored.a
        |                                      AND und.v = scored.b)
        |ORDER BY cn DESC, aa_u DESC, a, b LIMIT 10""".stripMargin) { (spark, dir) =>
    import graft.functions.ScaledLn
    val raw = docLinkEdges(spark, dir)
    val und = raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("z"), col("v").as("x"))
      .union(und.select(col("v").as("z"), col("u").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val wedges = adj.select(col("z"), col("x").as("a"))
      .join(adj.select(col("z"), col("x").as("b")), "z")
      .filter(col("a") < col("b"))
      .join(deg, "z")
      .withColumn("sln", ScaledLn.column(col("d")))
    val scored = wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000000000 div sln")).as("aa_u"))
    scored
      .join(und, scored("a") === und("u") && scored("b") === und("v"), "left_anti")
      .orderBy(col("cn").desc, col("aa_u").desc, col("a"), col("b"))
      .limit(10)
  }

  /** Exact Lloyd's k-means (k = 4, 2 update rounds) over milli-unit
    * quantized embeddings — clustering as a pure integer recurrence:
    * centroids start as bit-exact copies of the k lowest-id vectors (the
    * `q_semantic_dedup` seeding), assignment is argmin of exact long
    * Σ(xq−c)² with centroid-id tie-break, and each update divides integer
    * sums by counts (an emptied cluster keeps its previous centroid —
    * part of the spec, mirrored by the oracle's LEFT JOIN + coalesce).
    * Deterministic at any partitioning, so the oracle unrolls the
    * identical rounds as CTE chains (the BPE/PageRank discipline).
    *
    * Scale shape per round: one n·k·d scoring pass with map-side-combined
    * partial sums + a (k × dim)-bounded centroid aggregate broadcast
    * back; the centroid frame is checkpointed each round so plan depth
    * stays constant. Readout: per-cluster size, exact inertia, min id.
    */
  query("q_kmeans_exact",
      """WITH v AS (
        |  SELECT vec_id,
        |         unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
        |              AS BIGINT) AS xq
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, pos, xq AS c FROM v WHERE vec_id < 4),
        |d1 AS (SELECT va.vec_id, c.cid,
        |              CAST(sum((va.xq - c.c) * (va.xq - c.c)) AS BIGINT) AS d2
        |       FROM v va JOIN c0 c ON c.pos = va.pos GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid FROM (
        |        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY d2, cid) AS rn FROM d1) WHERE rn = 1),
        |u1 AS (SELECT a.cid, va.pos,
        |              CAST(sum(va.xq) AS BIGINT) // count(*) AS c
        |       FROM v va JOIN a1 a USING (vec_id) GROUP BY 1, 2),
        |c1 AS (SELECT c0.cid, c0.pos, coalesce(u1.c, c0.c) AS c
        |       FROM c0 LEFT JOIN u1 ON u1.cid = c0.cid AND u1.pos = c0.pos),
        |d2s AS (SELECT va.vec_id, c.cid,
        |               CAST(sum((va.xq - c.c) * (va.xq - c.c)) AS BIGINT) AS d2
        |        FROM v va JOIN c1 c ON c.pos = va.pos GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cid FROM (
        |        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |          ORDER BY d2, cid) AS rn FROM d2s) WHERE rn = 1),
        |u2 AS (SELECT a.cid, va.pos,
        |              CAST(sum(va.xq) AS BIGINT) // count(*) AS c
        |       FROM v va JOIN a2 a USING (vec_id) GROUP BY 1, 2),
        |c2 AS (SELECT c1.cid, c1.pos, coalesce(u2.c, c1.c) AS c
        |       FROM c1 LEFT JOIN u2 ON u2.cid = c1.cid AND u2.pos = c1.pos),
        |d3 AS (SELECT va.vec_id, c.cid,
        |              CAST(sum((va.xq - c.c) * (va.xq - c.c)) AS BIGINT) AS d2
        |       FROM v va JOIN c2 c ON c.pos = va.pos GROUP BY 1, 2),
        |fin AS (SELECT vec_id, cid, d2 FROM (
        |         SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id
        |           ORDER BY d2, cid) AS rn FROM d3) WHERE rn = 1)
        |SELECT cid, count(*) AS n, CAST(sum(d2) AS BIGINT) AS inertia,
        |       min(vec_id) AS min_vec
        |FROM fin GROUP BY cid ORDER BY cid""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions.toDoubleArray
    val k = 4
    // materialize the quantized vectors ONCE: `va` feeds every assign()
    // call (3x) and `v` every centroid update (2x) — without the cut each
    // consumer re-runs the parquet scan + binary decode + quantize
    // subtree (guide §3.3: materialize reused intermediates)
    val va = spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"),
        transform(toDoubleArray(col("embedding")),
          x => floor(x * 1000 + lit(0.5)).cast("long")).as("qarr"))
      .localCheckpoint(true)
    val v = va.select(col("vec_id"), posexplode(col("qarr")))
      .toDF("vec_id", "pos", "xq")
    // scoring runs on the ARRAY form through the codegen SquaredL2 (n·k
    // rows), not the n·k·d exploded hash aggregate — identical exact longs
    def assign(cent: DataFrame): DataFrame = {
      val carr = cent.groupBy("cid").agg(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("carr"))
      va.crossJoin(broadcast(carr))
        .withColumn("d2", graft.functions.SquaredL2(col("qarr"), col("carr")))
        .groupBy("vec_id")
        .agg(min_by(struct(col("cid"), col("d2")),
          struct(col("d2"), col("cid"))).as("__s"))
        .select(col("vec_id"), col("__s.cid").as("cid"), col("__s.d2").as("d2"))
    }
    var cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("pos"), col("xq").as("c"))
      .localCheckpoint(true)
    for (_ <- 1 to 2) {
      val upd = v.join(assign(cent).select("vec_id", "cid"), Seq("vec_id"))
        .groupBy("cid", "pos").agg(expr("sum(xq) div count(*)").as("cn"))
      cent = cent.join(upd, Seq("cid", "pos"), "left")
        .select(col("cid"), col("pos"), coalesce(col("cn"), col("c")).as("c"))
        .localCheckpoint(true)
    }
    assign(cent).groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("d2").as("inertia"),
        min("vec_id").as("min_vec"))
      .orderBy("cid")
  }

  /** DBSCAN (ε² = 1.4e6 milli-units², minPts = 4 incl. self) over a
    * bounded embedding subset — density clustering as relational
    * algebra: the ε-neighbor graph (exact integer distances, the
    * `q_embed_neardup` bounded all-pairs; LSH/IVF blocking is the
    * documented unbounded-scale path), core points by degree, clusters =
    * [[graft.ops.DupGroups.connectedComponents]] over core-core edges
    * (isolated cores self-cluster), borders attach to their min core
    * neighbor's cluster, the rest is noise (reported as cluster −1).
    * Every step is deterministic, so the oracle reproduces the full
    * partition with a recursive min-label CTE (the q_entity_clusters
    * discipline).
    */
  query("q_dbscan",
      """WITH RECURSIVE q AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))
        |           AS q
        |  FROM embeddings WHERE vec_id < 1000),
        |und AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM q a JOIN q b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(list_zip(a.q, b.q),
        |          t -> (t[1] - t[2]) * (t[1] - t[2]))) <= 1400000),
        |adj AS (SELECT ida AS node, idb AS nb FROM und
        |        UNION ALL SELECT idb, ida FROM und),
        |core AS (SELECT node FROM adj GROUP BY node HAVING count(*) >= 3),
        |ce AS (SELECT u.ida, u.idb FROM und u
        |       JOIN core c1 ON c1.node = u.ida
        |       JOIN core c2 ON c2.node = u.idb),
        |cedges AS (SELECT ida AS u, idb AS v FROM ce
        |           UNION SELECT idb, ida FROM ce),
        |reach(node, lab) AS (
        |  SELECT DISTINCT u, u FROM cedges
        |  UNION
        |  SELECT e.v, r.lab FROM reach r JOIN cedges e ON e.u = r.node
        |  WHERE r.lab < e.v),
        |comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY 1),
        |corelab AS (
        |  SELECT c.node, coalesce(cp.component, c.node) AS cluster
        |  FROM core c LEFT JOIN comp cp ON cp.node = c.node),
        |borderlab AS (
        |  SELECT a.node, min(cl.cluster) AS cluster
        |  FROM adj a JOIN corelab cl ON cl.node = a.nb
        |  WHERE a.node NOT IN (SELECT node FROM core)
        |  GROUP BY 1),
        |cl AS (
        |  SELECT c.cluster, count(*) AS n_core,
        |         coalesce(b.n_border, 0) AS n_border
        |  FROM corelab c LEFT JOIN (
        |    SELECT cluster, CAST(count(*) AS BIGINT) AS n_border
        |    FROM borderlab GROUP BY 1) b USING (cluster)
        |  GROUP BY 1, 3)
        |SELECT cluster, CAST(n_core AS BIGINT) AS n_core,
        |       CAST(n_border AS BIGINT) AS n_border,
        |       CAST(n_core + n_border AS BIGINT) AS n_pts
        |FROM cl
        |UNION ALL
        |SELECT -1, 0, 0,
        |       (SELECT count(*) FROM q)
        |       - (SELECT count(*) FROM corelab)
        |       - (SELECT count(*) FROM borderlab)
        |ORDER BY cluster""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions.toDoubleArray
    val eps2 = 1400000L
    val minNb = 3 // core: >= 3 neighbors (minPts 4 incl. self)
    val q = t(spark, dir, "embeddings").filter(col("vec_id") < 1000)
      .select(col("vec_id"),
        transform(toDoubleArray(col("embedding")),
          x => floor(x * 1000 + lit(0.5)).cast("long")).as("q"))
    // exact ε-graph WITHOUT an all-pairs stage: pivot-ring equi-join +
    // codegen squared_l2 verify ([[graft.ops.EpsilonJoin]] — triangle-
    // inequality-complete, so the edge set is bit-identical to the
    // brute-force oracle's)
    val und = graft.ops.EpsilonJoin.selfJoin(spread(q), "vec_id", "q", eps2)
      .select(col("idA").as("ida"), col("idB").as("idb"))
      .localCheckpoint(true) // reused by degree, core edges, and borders
    // the ε-join above is the query's real work and runs at full session
    // width; everything after it operates on the ε-graph of the DECLARED
    // ≤1000-point subset (hundreds of edges) — running its degree counts,
    // CC rounds, and labeling joins box-wide spends more on task launch
    // than on data, so the tail is batch-sized like the streaming drains
    // ([[withShufflePartitionsCap]] rationale; the CC rounds additionally
    // self-size from their measured edge count)
    val (coreLab, borderLab) = withShufflePartitionsCap(spark, 8) {
      // symmetric orientation in ONE explode pass, not a self-union that
      // re-reads the checkpoint twice
      val adj = und.select(explode(array(
          struct(col("ida").as("node"), col("idb").as("nb")),
          struct(col("idb").as("node"), col("ida").as("nb")))).as("p"))
        .select(col("p.node").as("node"), col("p.nb").as("nb"))
      val core = adj.groupBy("node").agg(count(lit(1)).as("nnb"))
        .filter(col("nnb") >= minNb).select("node")
      val coreEdges = und
        .join(core.select(col("node").as("ida")), Seq("ida"))
        .join(core.select(col("node").as("idb")), Seq("idb"))
      val comp = graft.ops.DupGroups.connectedComponents(coreEdges, "ida", "idb")
      // tiny labeled frames are each read 2-3 times below (cluster rollup +
      // noise count) — checkpoint so the join chains run once
      val coreLab = core.join(comp, Seq("node"), "left")
        .select(col("node"), coalesce(col("component"), col("node")).as("cluster"))
        .localCheckpoint(true)
      val borderLab = adj
        .join(coreLab.select(col("node").as("nb"), col("cluster")), Seq("nb"))
        .join(core, Seq("node"), "left_anti")
        .groupBy("node").agg(min("cluster").as("cluster"))
        .localCheckpoint(true)
      (coreLab, borderLab)
    }
    val clusters = coreLab.groupBy("cluster").agg(count(lit(1)).as("n_core"))
      .join(borderLab.groupBy("cluster").agg(count(lit(1)).as("n_border")),
        Seq("cluster"), "left")
      .select(col("cluster"), col("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"))
      .withColumn("n_pts", col("n_core") + col("n_border"))
    val noise = q.agg(count(lit(1)).as("__t"))
      .crossJoin(broadcast(coreLab.agg(count(lit(1)).as("__c"))))
      .crossJoin(broadcast(borderLab.agg(count(lit(1)).as("__b"))))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"),
        (col("__t") - col("__c") - col("__b")).as("n_pts"))
    clusters.unionByName(noise).orderBy("cluster")
  }

  /** Simplified silhouette (centroid form) per label — the
    * class-separability readout next to `q_centroid_classify`'s
    * confusion matrix: for each vector, a = d² to its OWN class centroid,
    * b = min d² to any other class centroid, s = (b−a)/max(a,b) in
    * signed ppm (negative = the point sits closer to another class).
    * Same milli-unit quantization and integer-division centroids as the
    * classifier, so a, b, and every per-point ppm are exact longs.
    * One n·k·d scoring pass against the broadcast centroid table.
    */
  query("q_silhouette",
      """WITH v AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
        |              AS BIGINT) AS xq
        |  FROM embeddings),
        |cents AS (
        |  SELECT label AS clabel, pos,
        |         CAST(sum(xq) AS BIGINT) // count(*) AS c
        |  FROM v GROUP BY 1, 2),
        |d2 AS (
        |  SELECT va.vec_id, va.label, ct.clabel,
        |         CAST(sum((va.xq - ct.c) * (va.xq - ct.c)) AS BIGINT) AS d2
        |  FROM v va JOIN cents ct ON ct.pos = va.pos
        |  GROUP BY 1, 2, 3),
        |ab AS (
        |  SELECT vec_id, label,
        |         max(CASE WHEN clabel = label THEN d2 END) AS a,
        |         min(CASE WHEN clabel <> label THEN d2 END) AS b
        |  FROM d2 GROUP BY 1, 2),
        |s AS (
        |  SELECT label,
        |         CASE WHEN greatest(a, b) > 0
        |              THEN (1000000 * (b - a)) // greatest(a, b)
        |              ELSE 0 END AS s_ppm
        |  FROM ab)
        |SELECT label, count(*) AS n,
        |       CAST(sum(s_ppm) AS BIGINT) // count(*) AS mean_s_ppm,
        |       CAST(sum(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_neg
        |FROM s GROUP BY label ORDER BY label""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions.toDoubleArray
    val vecs = spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(transform(toDoubleArray(col("embedding")),
          x => floor(x * 1000 + lit(0.5)).cast("long"))))
      .toDF("vec_id", "label", "pos", "xq")
    val cents = vecs.groupBy(col("label").as("clabel"), col("pos"))
      .agg(expr("sum(xq) div count(*)").as("c"))
    val d2 = vecs.join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("xq") - col("c")) * (col("xq") - col("c"))).as("d2"))
    val ab = d2.groupBy("vec_id", "label")
      .agg(max(when(col("clabel") === col("label"), col("d2"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("d2"))).as("b"))
      .withColumn("s_ppm",
        when(greatest(col("a"), col("b")) > 0,
          expr("(1000000 * (b - a)) div greatest(a, b)")).otherwise(0L))
    ab.groupBy("label")
      .agg(count(lit(1)).as("n"),
        expr("sum(s_ppm) div count(*)").as("mean_s_ppm"),
        sum(when(col("s_ppm") < 0, 1L).otherwise(0L)).as("n_neg"))
      .orderBy("label")
  }

  /** 2-D skyline / Pareto front per language: the documents no other
    * same-language document dominates on (length, alpha-word density) —
    * the multi-objective curation shortlist ("longest AND densest
    * frontier"). No all-pairs dominance join anywhere: within a length,
    * only density == the length's max survives; across lengths, a
    * length-group survives iff its max density strictly beats every
    * STRICTLY-longer group's (one lag over the per-length max frame —
    * the histogram decomposition again). Density is exact integer ppm;
    * equal (length, density) points tie and all survive, by definition
    * (no strict inequality).
    */
  query("q_skyline",
      """WITH d AS (
        |  SELECT lang, doc_id, n_chars,
        |         (1000000 * CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
        |                    AS BIGINT)) // n_chars AS density_ppm
        |  FROM documents),
        |pl AS (SELECT lang, n_chars, max(density_ppm) AS vmax
        |       FROM d GROUP BY 1, 2),
        |fr AS (
        |  SELECT lang, n_chars, vmax,
        |         max(vmax) OVER (PARTITION BY lang ORDER BY n_chars DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS prevmax
        |  FROM pl),
        |sky AS (
        |  SELECT d.lang, d.doc_id, d.n_chars, d.density_ppm
        |  FROM d JOIN fr ON fr.lang = d.lang AND fr.n_chars = d.n_chars
        |  WHERE (fr.prevmax IS NULL OR fr.vmax > fr.prevmax)
        |    AND d.density_ppm = fr.vmax)
        |SELECT lang, count(*) AS n_skyline, max(n_chars) AS max_len,
        |       max(density_ppm) AS max_density_ppm, min(doc_id) AS min_doc
        |FROM sky GROUP BY lang ORDER BY lang""".stripMargin) { (spark, dir) =>
    val docs = t(spark, dir, "documents")
      .withColumn("density_ppm",
        expr("(1000000 * cast(size(regexp_extract_all(text, '[A-Za-z]+', 0)) as bigint)) div n_chars"))
    val perLen = docs.groupBy("lang", "n_chars")
      .agg(max("density_ppm").as("vmax"))
    val wl = Window.partitionBy("lang").orderBy(col("n_chars").desc)
    val frontier = perLen
      .withColumn("prevmax",
        max("vmax").over(wl.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prevmax").isNull || col("vmax") > col("prevmax"))
      .select(col("lang"), col("n_chars"), col("vmax"))
    docs.join(frontier, Seq("lang", "n_chars"))
      .filter(col("density_ppm") === col("vmax"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_skyline"), max("n_chars").as("max_len"),
        max("density_ppm").as("max_density_ppm"), min("doc_id").as("min_doc"))
      .orderBy("lang")
  }

  /** HITS hubs & authorities (Kleinberg) on the DIRECTED link graph —
    * the query-independent endorsement scores next to `q_pagerank`'s
    * random-surfer mass: 2 mutual-reinforcement rounds in exact scaled
    * integers (each phase sums the counterpart score over in-/out-
    * neighbors, then renormalizes to max = 1e6 by integer division — the
    * PageRank floor-scaling discipline), so the oracle unrolls the
    * identical recurrence. Per phase: one edge join + hash aggregate +
    * a 1-row max broadcast; sink/source nodes read 0 via left-join
    * coalesce.
    */
  query("q_hits",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM n),
        |a1r AS (
        |  SELECT n.node, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
        |  FROM n LEFT JOIN (SELECT e.dst AS node, sum(h0.h) AS raw
        |                    FROM e JOIN h0 ON h0.node = e.src GROUP BY 1) s
        |    ON s.node = n.node),
        |a1 AS (SELECT node, (1000000 * raw) // (SELECT max(raw) FROM a1r) AS a
        |       FROM a1r),
        |h1r AS (
        |  SELECT n.node, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
        |  FROM n LEFT JOIN (SELECT e.src AS node, sum(a1.a) AS raw
        |                    FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1) s
        |    ON s.node = n.node),
        |h1 AS (SELECT node, (1000000 * raw) // (SELECT max(raw) FROM h1r) AS h
        |       FROM h1r),
        |a2r AS (
        |  SELECT n.node, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
        |  FROM n LEFT JOIN (SELECT e.dst AS node, sum(h1.h) AS raw
        |                    FROM e JOIN h1 ON h1.node = e.src GROUP BY 1) s
        |    ON s.node = n.node),
        |a2 AS (SELECT node, (1000000 * raw) // (SELECT max(raw) FROM a2r) AS a
        |       FROM a2r),
        |h2r AS (
        |  SELECT n.node, CAST(coalesce(s.raw, 0) AS BIGINT) AS raw
        |  FROM n LEFT JOIN (SELECT e.src AS node, sum(a2.a) AS raw
        |                    FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1) s
        |    ON s.node = n.node),
        |h2 AS (SELECT node, (1000000 * raw) // (SELECT max(raw) FROM h2r) AS h
        |       FROM h2r)
        |SELECT a2.node, a2.a AS auth_u, h2.h AS hub_u
        |FROM a2 JOIN h2 USING (node) ORDER BY node""".stripMargin) { (spark, dir) =>
    val edges = docLinkEdges(spark, dir)
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var auth = nodes.withColumn("a", lit(1000000L))
    var hub = nodes.withColumn("h", lit(1000000L))
    for (_ <- 1 to 2) {
      val aRaw = nodes.join(
        edges.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum("h").as("raw")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      auth = aRaw.crossJoin(broadcast(aRaw.agg(max("raw").as("mx"))))
        .select(col("node"), expr("(1000000 * raw) div mx").as("a"))
        .localCheckpoint(true)
      val hRaw = nodes.join(
        edges.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src").as("node")).agg(sum("a").as("raw")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
      hub = hRaw.crossJoin(broadcast(hRaw.agg(max("raw").as("mx"))))
        .select(col("node"), expr("(1000000 * raw) div mx").as("h"))
        .localCheckpoint(true)
    }
    auth.join(hub, Seq("node"))
      .select(col("node"), col("a").as("auth_u"), col("h").as("hub_u"))
      .orderBy("node")
  }

  /** Degree assortativity of the link graph — "do hubs link to hubs?"
    * (Newman's r over edge-endpoint degrees, both orientations). The
    * five moments are exact longs off one degree join; the readout
    * follows the `q_chi2` double-first discipline with the one
    * correctly-rounded sqrt both engines share. The graph-health scalar
    * next to `q_triangles` / `q_link_predict`.
    */
  query("q_assortativity",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |adj AS (SELECT u AS a, v AS b FROM und
        |        UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |p AS (
        |  SELECT dx.d AS dx, dy.d AS dy
        |  FROM adj JOIN deg dx ON dx.a = adj.a
        |           JOIN deg dy ON dy.a = adj.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2,
        |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |             CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |             CAST(sum(dy * dy) AS BIGINT) AS syy,
        |             CAST(sum(dx * dy) AS BIGINT) AS sxy
        |      FROM p)
        |SELECT m2, m2 * sxy - sx * sy AS num,
        |       m2 * sxx - sx * sx AS d1, m2 * syy - sy * sy AS d2,
        |       CASE WHEN m2 * sxx - sx * sx > 0 AND m2 * syy - sy * sy > 0
        |            THEN CAST(floor(CAST(m2 * sxy - sx * sy AS DOUBLE) * 1000.0
        |                   / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)
        |                          * (m2 * syy - sy * sy))) AS BIGINT) END
        |         AS r_milli
        |FROM m""".stripMargin) { (spark, dir) =>
    val raw = docLinkEdges(spark, dir)
    val und = raw.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val adj = und.select(col("u").as("a"), col("v").as("b"))
      .union(und.select(col("v").as("a"), col("u").as("b")))
    val deg = adj.groupBy("a").agg(count(lit(1)).as("d"))
    val pairs = adj
      .join(deg.select(col("a"), col("d").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("dy")), Seq("b"))
    pairs.agg(count(lit(1)).as("m2"), sum("dx").as("sx"), sum("dy").as("sy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"))
      .withColumn("num", expr("m2 * sxy - sx * sy"))
      .withColumn("d1", expr("m2 * sxx - sx * sx"))
      .withColumn("d2", expr("m2 * syy - sy * sy"))
      .withColumn("r_milli",
        when(col("d1") > 0 && col("d2") > 0,
          floor(col("num").cast("double") * lit(1000.0) /
            sqrt(col("d1").cast("double") * col("d2"))).cast("long")))
      .select("m2", "num", "d1", "d2", "r_milli")
  }

  /** Nearest-class-mean classifier evaluation over the labeled embedding
    * table — the cheap "are these labels linearly separable by centroid?"
    * probe run before training anything, read out as the full confusion
    * matrix. Exactness: vectors quantize per-position to milli-units
    * (floor(x·1e3 + ½) — one deterministic rounding per element), class
    * centroids are INTEGER divisions of integer sums (order-independent,
    * unlike a float mean), and distances are exact long Σ(xq−c)² — so
    * argmin and every matrix cell are bit-exact cross-engine.
    *
    * Scale shape: one posexplode + hash aggregate builds the (labels ×
    * dim) centroid table (bounded, broadcast back); scoring is the
    * standard n·k·d nearest-centroid work with the (vector, candidate)
    * partial sums map-side-combined; the argmin is a k-row min_by per
    * vector. (The float-path scale twin is [[graft.functions.NearestCentroids]],
    * which keeps the centroid model inside one codegen expression.)
    */
  query("q_centroid_classify",
      """WITH vecs AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         unnest(generate_series(0, len(embedding) - 1)) AS pos,
        |         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
        |              AS BIGINT) AS xq
        |  FROM embeddings),
        |cents AS (
        |  SELECT label AS clabel, pos,
        |         CAST(sum(xq) AS BIGINT) // count(*) AS c
        |  FROM vecs GROUP BY 1, 2),
        |dists AS (
        |  SELECT v.vec_id, v.label, ct.clabel,
        |         CAST(sum((v.xq - ct.c) * (v.xq - ct.c)) AS BIGINT) AS d2
        |  FROM vecs v JOIN cents ct ON ct.pos = v.pos
        |  GROUP BY 1, 2, 3),
        |preds AS (
        |  SELECT vec_id, label, clabel AS pred
        |  FROM (SELECT vec_id, label, clabel,
        |               row_number() OVER (PARTITION BY vec_id
        |                 ORDER BY d2, clabel) AS rn
        |        FROM dists)
        |  WHERE rn = 1)
        |SELECT label, pred, count(*) AS n
        |FROM preds GROUP BY 1, 2 ORDER BY label, pred""".stripMargin) { (spark, dir) =>
    import graft.functions.VectorFunctions.toDoubleArray
    val vecs = spread(t(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(transform(toDoubleArray(col("embedding")),
          x => floor(x * 1000 + lit(0.5)).cast("long"))))
      .toDF("vec_id", "label", "pos", "xq")
    val cents = vecs.groupBy(col("label").as("clabel"), col("pos"))
      .agg(expr("sum(xq) div count(*)").as("c"))
    val dists = vecs.join(broadcast(cents), Seq("pos"))
      .groupBy("vec_id", "label", "clabel")
      .agg(sum((col("xq") - col("c")) * (col("xq") - col("c"))).as("d2"))
    val preds = dists.groupBy("vec_id", "label")
      .agg(min_by(col("clabel"), struct(col("d2"), col("clabel"))).as("pred"))
    preds.groupBy("label", "pred").agg(count(lit(1)).as("n"))
      .orderBy("label", "pred")
  }

  /** PageRank link authority ([[graft.ops.PageRank]]): the graph-derived
    * quality prior over a 20-host link graph derived deterministically
    * from the documents table (each doc's host links to one or two other
    * hosts; three hosts have no out-links and exercise the dangling-mass
    * correction). 3 damped power iterations in exact scaled-long
    * arithmetic — the oracle unrolls the same integer recurrence in SQL
    * and must match bit-for-bit.
    */
  query("q_pagerank", pagerankOracleSql(3, seedPred = None)) { (spark, dir) =>
    val (ranks, release) =
      PageRank.pageRank(docLinkEdges(spark, dir), "src", "dst", iterations = 3)
    val out = ranks.orderBy("node").localCheckpoint(true)
    release()
    out
  }

  /** Triangle census of the link graph ([[graft.ops.Triangles]]) — the
    * compact-forward count: edges deduped undirected, oriented low-degree
    * to high so wedge fan-out is arboricity-bounded on hubs, two plain
    * equi-joins. The oracle rebuilds the same graph and reproduces node/
    * edge/wedge/triangle counts exactly (the wedge count pins the
    * orientation rule itself — sum over oriented out-degrees of C(d,2)).
    */
  query("q_triangles",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |deg AS (
        |  SELECT x, count(*) AS d FROM (
        |    SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) GROUP BY 1),
        |o AS (
        |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.u ELSE e.v END AS a,
        |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
        |              THEN e.v ELSE e.u END AS b
        |  FROM und e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
        |w AS (SELECT CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT) AS n_wedges
        |      FROM (SELECT a, count(*) AS od FROM o GROUP BY 1)),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM und e1 JOIN und e2 ON e2.u = e1.v
        |                    JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM und) AS n_edges,
        |       (SELECT n_wedges FROM w) AS n_wedges,
        |       (SELECT n_triangles FROM tri) AS n_triangles""".stripMargin) { (spark, dir) =>
    graft.ops.Triangles.count(docLinkEdges(spark, dir), "src", "dst")
  }

  /** Community detection ([[graft.ops.LabelPropagation]], 3 synchronous
    * rounds) on the link graph — deterministic by construction (sync
    * rounds + min-label tie-break), so the oracle unrolls the identical
    * recurrence as SQL CTEs and the assignment matches bit-for-bit.
    */
  query("q_label_prop",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |adj AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
        |c1 AS (SELECT a.u AS node, p.label, count(*) AS n
        |       FROM adj a JOIN l0 p ON a.v = p.node GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk
        |         FROM c1) WHERE rk = 1),
        |c2 AS (SELECT a.u AS node, p.label, count(*) AS n
        |       FROM adj a JOIN l1 p ON a.v = p.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk
        |         FROM c2) WHERE rk = 1),
        |c3 AS (SELECT a.u AS node, p.label, count(*) AS n
        |       FROM adj a JOIN l2 p ON a.v = p.node GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |                row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rk
        |         FROM c3) WHERE rk = 1)
        |SELECT label, count(*) AS n_nodes, min(node) AS min_node
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    graft.ops.LabelPropagation.run(docLinkEdges(spark, dir), "src", "dst", 3)
      .groupBy("label")
      .agg(count(lit(1)).as("n_nodes"), min("node").as("min_node"))
      .orderBy("label")
  }

  /** Link distance from trusted hosts ([[graft.ops.Bfs]]): exact directed
    * hop counts from the {site-0, site-1} seed set over the 20-host link
    * graph, 4 rounds of frontier expansion (one frontier⋈edges join + one
    * anti-join per round, early exit on an empty frontier). The
    * spam-demotion "distance from seeds" prior next to `q_trustrank`.
    */
  query("q_bfs_hops",
      """WITH RECURSIVE raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |e AS (SELECT DISTINCT src, dst FROM raw),
        |bfs(node, hop) AS (
        |  SELECT * FROM (VALUES ('site-0', 0), ('site-1', 0)) t(node, hop)
        |  UNION ALL
        |  SELECT e.dst, bfs.hop + 1 FROM bfs JOIN e ON bfs.node = e.src
        |  WHERE bfs.hop < 4),
        |d AS (SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM bfs GROUP BY 1)
        |SELECT hop, count(*) AS n_nodes, min(node) AS min_node
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val seeds = Seq("site-0", "site-1").toDF("s")
    Bfs.hops(docLinkEdges(spark, dir), "src", "dst", seeds, "s", maxHops = 4)
      .groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), min("node").as("min_node"))
      .orderBy("hop")
  }

  /** k-core peeling ([[graft.ops.KCore]]): 3 synchronous peel rounds at
    * k=2 over the 20-host link graph — the dense-cohesion filter
    * (degree-1 tendrils peel, the cycle-rich core survives). A fixed
    * round count makes the result a pure function of (graph, k, rounds),
    * so the oracle unrolls the identical recurrence; KCoreSpec owns the
    * fixpoint/cascade semantics.
    */
  query("q_kcore",
      """WITH raw AS (
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR) AS src,
        |         'site-' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
        |  FROM documents WHERE doc_id % 20 < 17
        |  UNION ALL
        |  SELECT 'site-' || CAST(doc_id % 20 AS VARCHAR),
        |         'site-' || CAST((doc_id * 3 + 5) % 20 AS VARCHAR)
        |  FROM documents WHERE doc_id % 20 < 17 AND (doc_id % 20) % 3 = 0),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM raw WHERE src <> dst),
        |a0 AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
        |k1 AS (SELECT u FROM a0 GROUP BY u HAVING count(*) >= 2),
        |a1 AS (SELECT a.u, a.v FROM a0 a JOIN k1 x ON a.u = x.u
        |       JOIN k1 y ON a.v = y.u),
        |k2 AS (SELECT u FROM a1 GROUP BY u HAVING count(*) >= 2),
        |a2 AS (SELECT a.u, a.v FROM a1 a JOIN k2 x ON a.u = x.u
        |       JOIN k2 y ON a.v = y.u),
        |k3 AS (SELECT u FROM a2 GROUP BY u HAVING count(*) >= 2),
        |a3 AS (SELECT a.u, a.v FROM a2 a JOIN k3 x ON a.u = x.u
        |       JOIN k3 y ON a.v = y.u),
        |core AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        |         FROM a3 GROUP BY 1)
        |SELECT count(*) AS n_core_nodes,
        |       CAST(coalesce(sum(degree), 0) AS BIGINT) AS sum_core_degree,
        |       min(node) AS min_node
        |FROM core""".stripMargin) { (spark, dir) =>
    val (core, _) = graft.ops.KCore.peel(
      docLinkEdges(spark, dir), "src", "dst", k = 2, rounds = 3)
    core.agg(count(lit(1)).as("n_core_nodes"),
      coalesce(sum("degree"), lit(0L)).as("sum_core_degree"),
      min("node").as("min_node"))
  }

  /** The deterministic 20-host link graph both rank queries run on. */
  private def docLinkEdges(spark: SparkSession, dir: String): DataFrame = {
    val h = t(spark, dir, "documents")
      .select((col("doc_id") % 20).as("d"), col("doc_id"))
      .filter(col("d") < 17)
    val e1 = h.select(
      concat(lit("site-"), col("d").cast("string")).as("src"),
      concat(lit("site-"), ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst"))
    val e2 = h.filter(col("d") % 3 === 0).select(
      concat(lit("site-"), col("d").cast("string")).as("src"),
      concat(lit("site-"), ((col("doc_id") * 3 + 5) % 20).cast("string")).as("dst"))
    e1.union(e2)
  }

  /** TrustRank ([[graft.ops.PageRank.personalizedPageRank]]): restart
    * mass pinned to five trusted hosts; stationary mass then measures
    * link-proximity to the trusted set — the spam-demotion prior. Same
    * bit-exact integer recurrence as q_pagerank with a seed-indicator
    * restart vector.
    */
  query("q_trustrank", pagerankOracleSql(3, seedPred = Some(
      "node IN ('site-0','site-1','site-2','site-3','site-4')"))) { (spark, dir) =>
    import spark.implicits._
    val seeds = (0 until 5).map(i => s"site-$i").toDF("node")
    val (ranks, release) = PageRank.personalizedPageRank(
      docLinkEdges(spark, dir), "src", "dst", seeds, "node", iterations = 3)
    val out = ranks.orderBy("node").localCheckpoint(true)
    release()
    out
  }
}
