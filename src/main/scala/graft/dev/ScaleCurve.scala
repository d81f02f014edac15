package graft.dev

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Bm25, Dedup, DupGroups, Packing, PageRank, SubstringDedup}

/** Measured scaling exponents for the flagship pipeline families
  * (VERDICT r11 item 1): the 100-TB posture has so far been argued from
  * plan shapes; this harness measures wall-time over a 1×/3×/10×/30×
  * synthetic corpus and fits log-log slopes, converting "would survive
  * 100×" from a structural claim into an empirical one. Results +
  * reading recorded in dev/SCALE_CURVE.md.
  *
  * Corpus synthesis (excluded from timing): the sf0.1 `documents` table
  * replicated k× with fresh doc_ids. 90% of each replica's tokens get a
  * replica suffix, 10% (deterministic by token hash + position) stay
  * raw — so cross-replica shingle-Jaccard is ~0 (near-dup structure, and
  * therefore candidate-pair count, grows LINEARLY like a real corpus with
  * a constant dup rate), while query terms still hit every replica (BM25
  * postings matched by a fixed query grow linearly too). Replica 0 is the
  * original bytes.
  *
  * Families (the real library entry points, not reimplementations):
  *  - minhash: MinHash-LSH candidate generation + exact-verify pair count
  *    ([[Dedup.minhashCandidatePairsWithSignatures]])
  *  - bm25_build: inverted tf postings build + persist + count
  *    ([[Bm25.tfPostings]])
  *  - bm25_query: 3-query top-10 batch over the persisted postings
  *    ([[Bm25.bm25TopKFromTf]] — cost should track matched postings, not
  *    raw corpus: the slope PINS the query-term-pruning design)
  *  - packing: 512-token context-window packing over the distributed
  *    prefix sum ([[Packing.packBins]])
  *  - pagerank_iter: ONE PageRank iteration on a link graph whose nodes
  *    (20k hosts) AND edges (≈1.3 docs) both scale with the corpus
  *    ([[PageRank.pageRank]])
  *  - scan_pruned / scan_full: partition-pruned vs full `log` scan over a
  *    hive tree of 100k shard directories (pruned should stay ~flat;
  *    full should grow ~linearly)
  *  - ann_brute / ann_ivf: exhaustive vs IVF top-5 for a fixed 50-query
  *    batch over replicated embeddings ([[graft.ops.Similarity]] /
  *    [[graft.ops.IvfIndex]], the shipped search paths)
  *  - snd_batch: [[graft.streaming.StreamingNearDedup.dedupBatch]] cost
  *    by BATCH INDEX at fixed batch size — flat = per-batch work does not
  *    grow with the history it dedups against (the bench's #1 query's
  *    scale claim)
  *  - cc: [[DupGroups.connectedComponents]] over a near-dup-shaped edge
  *    list (stars of 4 + 8%-of-docs chains of 16, |E| ∝ corpus, diameter
  *    bounded) — the iterative family: rounds × 4 shuffles each, so a
  *    growing ROUND COUNT would show up as a super-linear tail
  *  - substr: [[SubstringDedup.duplicatedSpans]] (k=20, keepFirst) — the
  *    highest row-amplification family (one posexplode row per token
  *    window) plus a per-document span-merge window function
  *
  * Runs: min of 2 per (family, size), sizes ascending so k=1 doubles as
  * JIT warmup; single JVM on [[graft.HarnessSession]] (the recorded runs:
  * `SPARK_GRAFT_CPUS=32`, and `SPARK_DRIVER_MEM=16g` via dev/run_fresh_jvm.sh).
  */
object ScaleCurve {

  private val Mults = Seq(1, 3, 10, 30, 100)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = args.headOption
      .filterNot(a => a == "deep" || a == "trig" || a == "ann" || a == "cc" ||
        a == "r14" || a == "bpelarge" || a == "epsconc" || a == "imgdecode" ||
        a == "corescale")
      .getOrElse("/tmp/graft_scale")
    // "deep": one extra x300 point for the CPU-bound families whose
    // exponents are still parallelism-saturating at x100 — the
    // convergence check (packing/scan already measure ~1.0 and would
    // just burn minutes)
    val deep = args.contains("deep")
    // "trig": only the streaming trigger-path families (driver-side, no
    // corpus synthesis needed)
    val trigOnly = args.contains("trig")
    // "ann": only the ANN families (brute / IVF / IVF-PQ+ADC)
    val annOnly = args.contains("ann")
    // "cc": only the connected-components + substring-dedup families
    val ccOnly = args.contains("cc")
    // "r14": only the dbscan eps-join + batched-BPE families
    val r14Only = args.contains("r14")
    // "bpelarge": the one-off large-K batched-BPE train (4096 merges at
    // K=512) over a rich-vocabulary corpus — the driver-round
    // amortization demo the trainMergesBatched caps exist for
    val bpeLargeOnly = args.contains("bpelarge")
    // "epsconc": EpsilonJoin candidate-volume curves on adversarially
    // CONCENTRATED d=256 Gaussians (rings prune poorly — the documented
    // failure mode, measured) vs CLUSTERED data (rings prune well), with
    // the filterPivots lever swept — dev/EPSJOIN_CONCENTRATION.md
    val epsConcOnly = args.contains("epsconc")
    // "imgdecode": only the real-image-decode families (self-synthesized
    // PNG media corpus — no docs/embeddings replication needed)
    val imgOnly = args.contains("imgdecode")
    // "corescale": the FULL family set at ONE large size (x30, ~150k docs)
    // at the session's SPARK_GRAFT_CPUS — run once at 8 and once at 32 to
    // measure the core-scaling ratio on data big enough for 32 cores
    // (VERDICT r16 item 7: the sf0.1 bench is too small to demonstrate
    // parallel speedup)
    val coreOnly = args.contains("corescale")
    val spark = graft.HarnessSession()
    // SPARK_GRAFT_CKPT_DIR: run the cc families with RELIABLE checkpoints
    // ([[graft.ops.Lineage]] auto mode) — re-running `cc` against the
    // local-mode numbers measures the durability tax. Honored ONLY in cc
    // mode: a stale export must not silently switch every cut-using
    // family of a full run to the taxed path.
    if (ccOnly) sys.env.get("SPARK_GRAFT_CKPT_DIR").foreach { d =>
      spark.sparkContext.setCheckpointDir(d)
      println(s"[scale] checkpoint mode: RELIABLE ($d)")
    }
    import spark.implicits._

    // ------------------------------------------------------ synthesis
    val allMults = if (trigOnly || annOnly || bpeLargeOnly || epsConcOnly ||
        imgOnly) Nil
      else if (coreOnly) Seq(30)
      else if (deep) Mults :+ 300 else Mults
    def docsPath(k: Int) = s"$work/x$k/documents.parquet"
    def embPath(k: Int) = s"$work/x$k/embeddings.parquet"
    // replicated embeddings: fresh vec_ids, per-replica deterministic
    // noise so vectors spread instead of clustering by replica
    if (!trigOnly && !ccOnly && !r14Only && !bpeLargeOnly && !epsConcOnly &&
        !imgOnly) allMults.filter(_ <= Mults.last).foreach { k =>
      if (!Files.exists(Paths.get(embPath(k)))) {
        val e = spark.read.parquet(s"$base/embeddings.parquet")
        val reps = (0 until k).map { rep =>
          if (rep == 0) e
          else e.select(
            (col("vec_id") + lit(10000000L * rep)).as("vec_id"),
            expr(s"transform(embedding, (x, i) -> cast(x + " +
              s"(pmod(hash(vec_id * $rep + i), 1000) - 500) / 2000.0 as float))")
              .as("embedding"),
            col("label"))
        }
        reps.reduce(_.unionAll(_)).repartition(32)
          .write.mode("overwrite").parquet(embPath(k))
      }
    }
    allMults.foreach { k =>
      if (!Files.exists(Paths.get(docsPath(k)))) {
        val d = spark.read.parquet(s"$base/documents.parquet")
        val reps = (0 until k).map { rep =>
          if (rep == 0) d
          else d.select(
            (col("doc_id") + lit(10000000L * rep)).as("doc_id"),
            array_join(expr(
              s"transform(split(text, ' '), (w, i) -> " +
                s"CASE WHEN pmod(abs(hash(w)) + i, 10) = 0 THEN w " +
                s"ELSE concat(w, '_r$rep') END)"), " ").as("text"),
            col("lang"), col("source"), col("n_chars"))
        }
        reps.reduce(_.unionAll(_)).repartition(32)
          .write.mode("overwrite").parquet(docsPath(k))
      }
    }
    def logTree(k: Int): String = {
      val root = s"$work/x$k/logs"
      if (!Files.exists(Paths.get(root))) {
        for (s <- 0 until 100 * k) {
          val dir = Paths.get(f"$root/shard=$s%05d")
          Files.createDirectories(dir)
          val sb = new StringBuilder
          for (l <- 0 until 200) sb.append(s"${s * 1000 + l} INFO worker-${l % 7}\n")
          Files.writeString(dir.resolve("a.log"), sb.toString)
        }
      }
      root
    }
    if (!trigOnly && !annOnly && !ccOnly && !r14Only && !bpeLargeOnly &&
        !epsConcOnly && !imgOnly) allMults.filter(_ <= Mults.last).foreach(logTree)

    def timed(runs: Int)(f: => Unit): Double =
      (1 to runs).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    // driver-memory envelope (VERDICT r13 item 4): post-GC used heap after
    // each (family, size) — what the family RETAINS on the driver
    // (collected models, broadcast refs, accumulated offsets) — plus the
    // in-run peak from the heap pools' high-water marks, reset per record.
    // local-mode caveat, documented in SCALE_CURVE.md: executors share
    // this JVM, so both figures are upper bounds on true driver-side
    // memory; the SIGNAL is growth across x1→x100, not the absolute MB.
    val heapPost = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    val heapPeak = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    import scala.jdk.CollectionConverters._
    def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    def record(family: String, k: Int, sec: Double): Unit = {
      val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
      System.gc()
      val rt = Runtime.getRuntime
      val postMb = (rt.totalMemory - rt.freeMemory) / 1e6
      heapPools.foreach(_.resetPeakUsage())
      results.getOrElseUpdate(family,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])(k) = sec
      heapPost.getOrElseUpdate(family,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])(k) = postMb
      heapPeak.getOrElseUpdate(family,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])(k) = peakMb
      println(s"[scale] $family x$k: ${f"$sec%.2f"} s " +
        f"(heap post-gc $postMb%.0f MB, peak $peakMb%.0f MB)")
    }

    // the three ANN search paths + the persisted-codes query half — ONE
    // definition used by both the full run and `ann` mode, so the two
    // modes can never silently measure different configurations
    def annFamilies(k: Int, emb: DataFrame): Unit = {
      val queries = emb.filter(col("vec_id") < 50)
      record("ann_brute", k, timed(2) {
        graft.ops.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5).count()
      })
      val model = graft.ops.IvfIndex.train(emb, "vec_id", "embedding",
        nLists = 64, iterations = 1)
      record("ann_ivf", k, timed(2) {
        graft.ops.IvfIndex.search(model, emb, queries, "vec_id", "embedding",
          5, nProbe = 8).count()
      })
      // IVF-PQ/ADC (VERDICT r12 item 4): the compressed-index search —
      // same coarse routing, per-pair cost a table lookup-sum over 4
      // codes instead of a d-dim kernel
      val pq = graft.ops.Pq.train(emb, "vec_id", "embedding",
        blocks = 4, codebookSize = 16)
      record("ann_ivfpq", k, timed(2) {
        graft.ops.Pq.ivfPqSearch(model, pq, emb, queries, "vec_id", "embedding",
          5, nProbe = 8).count()
      })
      // query half over a persisted code table (the 100-TB deployment
      // shape, like bm25_query over persisted postings)
      val codes = graft.ops.Pq.encodeCorpus(model, pq, emb, "vec_id", "embedding")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count()
      record("ann_ivfpq_q", k, timed(2) {
        graft.ops.Pq.ivfPqSearchFromCodes(model, pq, codes, queries,
          "vec_id", "embedding", 5, nProbe = 8).count()
      })
      codes.unpersist(blocking = true)
    }

    // the iterative + row-amplified dedup families — ONE definition shared
    // by the full run and `cc` mode (same single-definition rule as ANN)
    def ccSubFamilies(k: Int, docs: DataFrame): Unit = {
      // near-dup-shaped edge list: stars of 4 (clique-ish groups) plus
      // chains of 16 over 8% of docs — component COUNT grows linearly with
      // the corpus while diameter stays bounded, like a real constant-rate
      // dup graph. A growing round count would surface as a >1 tail.
      val edges = docs.select(
          col("doc_id").as("u"),
          (col("doc_id") - pmod(col("doc_id"), lit(4))).as("v"))
        .union(docs.filter(pmod(col("doc_id"), lit(200)) < 16)
          .select(col("doc_id").as("u"), (col("doc_id") + 1).as("v")))
      record("cc", k, timed(2) {
        DupGroups.connectedComponents(edges, "u", "v").count()
      })
      record("substr", k, timed(2) {
        val (spans, release) =
          SubstringDedup.duplicatedSpans(docs, "doc_id", "text",
            k = 20, keepFirst = true)
        spans.count()
        release()
      })
    }

    // round-14 families: the exact dbscan eps-join and the batched BPE
    // trainer — ONE definition shared by the full run and `r14` mode
    // (same single-definition rule as ANN/cc)
    def r14Families(k: Int, docs: DataFrame): Unit = {
      // dbscan eps-graph: replicas of a 1000-vector base, each offset
      // along coordinate 0 by MEASURED(base coord-0 range) + 2*sqrt(eps2)
      // + 1 — so the minimum cross-replica coord-0 gap provably exceeds
      // sqrt(eps2) REGARDLESS of the embedding distribution (a fixed
      // 4000 offset silently stopped isolating replicas if the base
      // coord-0 spread approached it, making the linearity control read
      // ring-join leaks where there were cross-replica TRUE pairs). The
      // eps-graph's TRUE edge set then grows linearly (within-replica
      // structure repeats; cross-replica pairs are all outside eps), the
      // constant-density analogue of the minhash family's constant dup
      // rate. A super-linear tail here would mean the ring join is
      // leaking cross-replica candidates.
      val embBase = spark.read.parquet(s"$base/embeddings.parquet")
        .filter(col("vec_id") < 1000)
      val eps2 = 1400000L
      val c0 = embBase.select(
          expr("cast(floor(cast(embedding[0] as double) * 1000 + 0.5) as bigint)")
            .as("c0"))
        .agg(min("c0").as("lo"), max("c0").as("hi")).head()
      val offset = (c0.getLong(1) - c0.getLong(0)) +
        2L * math.ceil(math.sqrt(eps2.toDouble)).toLong + 1L
      val quantized = (0 until k).map { rep =>
        embBase.select(
          (col("vec_id") + lit(10000000L * rep)).as("vec_id"),
          expr(s"transform(embedding, (x, i) -> cast(floor(cast(x as double)" +
            s" * 1000 + 0.5) as bigint) + IF(i = 0, ${offset * rep}L, 0L))")
            .as("q"))
      }.reduce(_.unionAll(_)).repartition(32)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      quantized.count() // synthesis excluded from timing
      record("dbscan", k, timed(2) {
        graft.ops.EpsilonJoin.selfJoin(quantized, "vec_id", "q", eps2).count()
      })
      quantized.unpersist(blocking = true)
      // batched BPE: 16 merges at K=8 = 2 driver rounds; per-round cost is
      // a pair aggregate over word TYPES (the replica suffixes grow the
      // vocabulary ~linearly with the corpus), so the expected shape is
      // rounds x vocab-proportional
      record("bpe_train", k, timed(2) {
        graft.ops.Bpe.trainMergesBatched(docs, "text", merges = 16,
          mergesPerRound = 8).count()
      })
    }

    if (!ccOnly && !r14Only) allMults.foreach { k =>
      val cpuOnly = k > Mults.last // deep extension: CPU families only
      val docs = spark.read.parquet(docsPath(k))

      record("minhash", k, timed(2) {
        val (cand, sigs) = Dedup.minhashCandidatePairsWithSignatures(
          docs, "doc_id", "text", estimateJaccard = false)
        cand.count()
        sigs.unpersist(blocking = true)
      })

      // build measured alone; the persisted postings then serve the query
      // measurement (the intended usage: build once, query many)
      var tf: DataFrame = null
      record("bm25_build", k, timed(2) {
        if (tf != null) tf.unpersist(blocking = true)
        tf = Bm25.tfPostings(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        tf.count()
      })
      val queries = Seq((1L, "sort merge join"), (2L, "hash table scan"),
        (3L, "stream window batch")).toDF("qid", "qtext")
      record("bm25_query", k, timed(2) {
        Bm25.bm25TopKFromTf(tf, "doc_id", queries, "qid", "qtext", k = 10).count()
      })
      tf.unpersist(blocking = true)

      if (!cpuOnly) record("packing", k, timed(2) {
        val withTok = docs.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("tokens"))
        val (packed, release) = Packing.packBins(withTok, "doc_id", "tokens", 512L)
        packed.groupBy("bin").agg(count(lit(1))).count()
        release()
      })

      record("pagerank_iter", k, timed(2) {
        // 8 edges per doc over a host space that scales with the corpus:
        // both |V| and |E| grow linearly, like a real link graph
        val hosts = 20 * k
        val edges = docs
          .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("j"))
          .select(
            concat(lit("site-"),
              ((col("doc_id") * 31 + col("j") * 17) % hosts).cast("string")).as("src"),
            concat(lit("site-"),
              ((col("doc_id") * 7 + col("j") * 13 + 3) % hosts).cast("string")).as("dst"))
        val (ranks, release) = PageRank.pageRank(edges, "src", "dst", iterations = 1)
        ranks.count()
        release()
      })

      // cc/substr run at EVERY size incl. the deep x300 point, so the
      // full run and `cc deep` mode fit slopes over identical size sets
      // like cc/substr: run at EVERY size incl. deep x300, so full runs
      // and `r14 deep` mode fit slopes over identical size sets
      ccSubFamilies(k, docs)
      r14Families(k, docs)

      if (!cpuOnly) {
        // ANN: fixed 50-query batch over the shipped search paths
        annFamilies(k, spark.read.parquet(embPath(k)))

        val tree = logTree(k)
        def readTree = spark.read.format("log")
          .option("pattern", "(\\d+) (\\w+) (\\S+)")
          .option("schema", "id INT, level VARCHAR, worker VARCHAR")
          .option("partitionSchema", "shard INT")
          .option("extensions", "log")
          .load(tree)
        record("scan_full", k, timed(2) {
          readTree.agg(sum("id")).collect()
        })
        record("scan_pruned", k, timed(2) {
          readTree.filter(col("shard") === 42).agg(sum("id")).collect()
        })
      }
    }

    // ------------------------------------------- streaming near-dedup
    // The 100-TB question for the bench's #1 query: does batch N's cost
    // grow with the HISTORY it dedups against? x-axis here is accumulated
    // history (32 batches of ~1000 fresh docs each), not corpus multiple;
    // a flat curve = per-batch work is batch-proportional, as claimed
    // (banding the batch + one join against persisted postings).
    if (!trigOnly && !annOnly && !ccOnly && !r14Only && !bpeLargeOnly &&
        !epsConcOnly && !imgOnly && !coreOnly) {
      val sndDocs = spark.read.parquet(docsPath(10)).persist()
      sndDocs.count()
      val sink = s"$work/snd_curve/sink"
      graft.Scratch.deleteRec(new java.io.File(s"$work/snd_curve"))
      val sample = Seq(1, 8, 16, 24, 32) // 1-based batch indices to record
      for (b <- 0 until 32) {
        val batch = sndDocs.filter(pmod(col("doc_id"), lit(50)) === b)
        val t0 = System.nanoTime()
        graft.streaming.StreamingNearDedup.dedupBatch(
          batch, b.toLong, sink, "doc_id", "text")
        val sec = (System.nanoTime() - t0) / 1e9
        if (sample.contains(b + 1)) record("snd_batch", b + 1, sec)
      }
      sndDocs.unpersist(blocking = false)
    }

    // ANN-only mode: the same families over the existing replicated
    // embeddings, without paying the full-corpus families
    if (annOnly) Mults.foreach { k =>
      annFamilies(k, spark.read.parquet(embPath(k)))
    }

    // CC-only mode: the cc + substr families over the replicated corpus,
    // without paying the other full-corpus families
    if (ccOnly) allMults.foreach { k =>
      ccSubFamilies(k, spark.read.parquet(docsPath(k)))
    }

    // r14-only mode: the dbscan + batched-BPE families over the
    // replicated corpus, without paying the other full-corpus families
    if (r14Only) allMults.foreach { k =>
      r14Families(k, spark.read.parquet(docsPath(k)))
    }

    // bpelarge mode: ONE production-shaped large-K train — 4096 merges at
    // K=512 — over a rich-vocabulary corpus (the sf documents vocabulary
    // is ~dozens of types, far too small to absorb 4096 merges; a
    // production tokenizer corpus has 10^4-10^6 word types). 1M docs x 8
    // words drawn from 50k types ('w' + base-36 id), so total merge
    // capacity (sum of word lengths - types) is ~200k >> 4096. Expected
    // shape: early rounds admit at most |alphabet|/2 disjoint pairs (the
    // symbol-disjointness guard), the admissible pool then grows with
    // every created symbol, so round sizes ramp toward the K=512 cap —
    // driver rounds ~O(log(merges)) + merges/K, vs `merges` sequential
    // rounds. Per-round admission sizes are logged by the trainer
    // (graft.ops.Bpe at INFO); results recorded in dev/BPE_BATCH.md.
    if (bpeLargeOnly) {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "graft.ops", org.apache.logging.log4j.Level.INFO)
      val corpus = spark.range(1000000L).select(
        expr("array_join(transform(sequence(0, 7), i -> " +
          "concat('w', conv(pmod(hash(id * 8 + i), 50000) + 50000, 10, 36))), ' ')")
          .as("text"))
        .repartition(32)
      val t0 = System.nanoTime()
      val merges = graft.ops.Bpe.trainMergesBatched(
        corpus, "text", merges = 4096, mergesPerRound = 512)
      val n = merges.count()
      val sec = (System.nanoTime() - t0) / 1e9
      record("bpe_large_4096_k512", 1, sec)
      println(f"[scale] bpe_large: merges_completed=$n sec=$sec%.1f")
      require(n == 4096, s"large-K train exhausted early: $n/4096 merges")
    }

    // epsconc mode: EpsilonJoin pruning health under adversarial
    // concentration (VERDICT r14 item 6). Two d=256 datasets, same
    // per-point noise (sum of 4 hashed uniforms — sd ~577/dim quantized):
    //   - CONCENTRATED: one isotropic blob — pairwise distances
    //     concentrate (relative sd ~ sqrt(2/d) ≈ 9%), so pivot rings and
    //     band filters barely discriminate: the documented failure mode.
    //   - CLUSTERED: 50 well-separated centers, same within-cluster
    //     noise — rings resolve clusters, candidates track true density.
    // 1% of points get a planted near-duplicate (d2 = 1) so n_true is
    // never zero and recall is implicitly asserted. For each
    // filterPivots in {0, 2, 6}: candidate volume after the ring-key
    // join, band survivors reaching the O(d) verify, true pairs, and the
    // wall time of the 3-stage diagnostic. dev/EPSJOIN_CONCENTRATION.md
    // reads the curve into a guidance table.
    if (epsConcOnly) {
      val eps2 = 120000000L
      def gauss(n: Long, clusters: Int): DataFrame = {
        val clusterOff =
          if (clusters <= 1) "0L"
          else s"cast((pmod(hash(pmod(id, $clusters) * 131 + j), 7) - 3) * 20000L as bigint)"
        spark.range(n).select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, 255), j -> $clusterOff + " +
            "cast(pmod(hash(id * 769 + j * 31 + 1), 1000) " +
            "+ pmod(hash(id * 769 + j * 31 + 2), 1000) " +
            "+ pmod(hash(id * 769 + j * 31 + 3), 1000) " +
            "+ pmod(hash(id * 769 + j * 31 + 4), 1000) - 2000 as bigint))").as("q"))
      }
      def withDups(b: DataFrame): DataFrame =
        b.unionAll(b.filter(col("vec_id") % 100 === 0)
          .select((col("vec_id") + 100000000L).as("vec_id"),
            expr("transform(q, (x, j) -> x + IF(j = 0, 1L, 0L))").as("q")))
      for (k <- Seq(1, 3, 10)) {
        val n = 500L * k
        for ((tag, clusters) <- Seq("epsconc" -> 1, "epsclus" -> 50)) {
          val data = withDups(gauss(n, clusters)).repartition(32)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          data.count()
          // fp = -1 is AutoFilterPivots: the r16 in-operator probe —
          // its funnel counts must land on the best manual row per regime
          for (fp <- Seq(0, 2, 6, graft.ops.EpsilonJoin.AutoFilterPivots)) {
            val t0 = System.nanoTime()
            val (cand, band, truePairs) = graft.ops.EpsilonJoin.selfJoinStats(
              data, "vec_id", "q", eps2, joinPivots = 2, filterPivots = fp)
            val sec = (System.nanoTime() - t0) / 1e9
            val fpTag = if (fp < 0) "auto" else fp.toString
            record(s"${tag}_fp$fpTag", k, sec)
            val resolved = if (fp < 0)
              s" resolved=${graft.ops.EpsilonJoin.resolveFilterPivots(data, "vec_id", "q", eps2)}"
            else ""
            println(s"[epsconc] $tag k=$k n=${n + n / 100} fp=$fpTag$resolved " +
              s"cand=$cand band=$band true=$truePairs " +
              f"candPerTrue=${cand.toDouble / math.max(truePairs, 1)}%.1f")
          }
          data.unpersist(blocking = true)
        }
      }
    }

    // imgdecode mode: the REAL image decode path's scaling (VERDICT r15
    // item 3): [[graft.ops.Multimodal.decodeImageFeatures]] + resizeAll
    // over synthetic-PNG corpora (the q_multimodal_features payload
    // shape: (8+id%8)x(6+id%6) RGB PNGs, every 10th torn mid-header).
    // Synthesis (PNG encode) is excluded from timing — media is written
    // to parquet first. Expected shape: tail ~1.0 (pure per-payload CPU
    // in mapPartitions, no shuffle in the plan) and FLAT driver heap
    // (nothing is collected except the one aggregate row) — the
    // mapPartitions shape guarantees nothing driver-side, so measure it.
    if (imgOnly) {
      import graft.ops.Multimodal
      def mediaPath(k: Int) = s"$work/img_x$k/media.parquet"
      val baseN = 10000L
      for (k <- Mults) {
        if (!Files.exists(Paths.get(mediaPath(k)))) {
          spark.range(baseN * k).select(col("id")).as[Long]
            .map(Multimodal.pngFixture).toDF().repartition(32)
            .write.mode("overwrite").parquet(mediaPath(k))
        }
        val media = spark.read.parquet(mediaPath(k))
        record("imgdecode", k, timed(2) {
          val row = Multimodal.decodeImageFeatures(spark, media, 2, 2).toDF()
            .agg(sum(col("gray_sum")).as("g"),
              sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("e"))
            .collect()(0)
          require(row.getLong(1) == baseN * k / 10, s"torn-row count drifted at x$k")
        })
        record("imgresize", k, timed(2) {
          // sum of thumbnail byte lengths forces every resize to run
          Multimodal.resizeAll(spark, media, 4, 3).toDF()
            .agg(sum(length(col("pixels")))).collect()
          ()
        })
      }
      // same protocol for the r16 real AUDIO path: synthetic-WAV media
      // corpora (the q_audio_features payload shape: 50-99 frame 16-bit
      // WAVs, 1-2 channels, every 10th torn), decode timed off parquet
      def audioPath(k: Int) = s"$work/aud_x$k/media.parquet"
      for (k <- Mults) {
        if (!Files.exists(Paths.get(audioPath(k)))) {
          spark.range(baseN * k).select(col("id")).as[Long]
            .map(Multimodal.wavFixture).toDF().repartition(32)
            .write.mode("overwrite").parquet(audioPath(k))
        }
        val media = spark.read.parquet(audioPath(k))
        record("auddecode", k, timed(2) {
          val row = Multimodal.decodeAudioFeatures(spark, media).toDF()
            .agg(sum(col("sum_sq")).as("s"),
              sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("e"))
            .collect()(0)
          require(row.getLong(1) == baseN * k / 10, s"torn-row count drifted at x$k")
        })
      }
      // and the r16 real FRAME-CONTAINER path: synthetic animated GIFs
      // (the q_video_frames payload shape), full frame-walk + 4-sample
      // decode timed off parquet
      def gifPath(k: Int) = s"$work/gif_x$k/media.parquet"
      for (k <- Mults) {
        if (!Files.exists(Paths.get(gifPath(k)))) {
          spark.range(baseN * k).select(col("id")).as[Long]
            .map(Multimodal.gifFixture).toDF().repartition(32)
            .write.mode("overwrite").parquet(gifPath(k))
        }
        val media = spark.read.parquet(gifPath(k))
        record("gifframes", k, timed(2) {
          val row = Multimodal.decodeMediaFrameFeatures(spark, media, nSample = 4).toDF()
            .agg(sum(expr("aggregate(frame_gray, 0L, (a, x) -> a + x)")).as("g"),
              sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("e"))
            .collect()(0)
          require(row.getLong(1) == baseN * k / 10, s"torn-row count drifted at x$k")
        })
      }
    }

    // ---------------------------------------------- streaming trigger path
    // Per-trigger DRIVER cost at scale (VERDICT r12 item 3): the offset /
    // entry-log machinery at 1k-10k prior triggers and 10k-100k seen files.
    // Building that state with real triggers would be O(N^2) listing work,
    // so the checkpoint is synthesized directly in the entry-log JSON
    // format (one full-seen compact + one GC horizon of plain tail
    // entries), then ONE trigger's components are measured:
    //   trig_restore — restart restore (read compact + tail into `seen`)
    //   trig_idle    — list 1000-file source dir, filter all against seen,
    //                  admit nothing (the steady tail-following trigger)
    //   trig_admit   — admit 100 fresh files + write the batch entry
    //   trig_compact — the admit that crosses the compact interval: full
    //                  seen-set compact write + entry-log GC
    //   trig_commit  — first cleanSource=delete commit after a restart
    //                  (surviving-entry sweep, best-effort deletes)
    if (!annOnly && !ccOnly && !r14Only && !bpeLargeOnly && !epsConcOnly &&
        !imgOnly) {
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      val nowMs = System.currentTimeMillis
      for (k <- Seq(1, 3, 10, 30)) {
        val seenM = 10000 * k
        val nIdx = 1000L * k + 7 // ending in 7: the 3rd admit below compacts
        val root = s"$work/trig/x$k"
        graft.Scratch.deleteRec(new java.io.File(root))
        val srcDir = new java.io.File(s"$root/src"); srcDir.mkdirs()
        val real = (0 until 1000).map { i =>
          val f = new java.io.File(srcDir, f"seen_$i%06d.log")
          Files.writeString(f.toPath, s"$i INFO\n")
          "file:" + f.getAbsolutePath
        }
        val ckpt = s"$root/ckpt"
        val logDir = new java.io.File(s"$ckpt/graft-file-log"); logDir.mkdirs()
        def entryJson(paths: Seq[String]): String =
          paths.map(p => s"""["$p",$nowMs]""").mkString("[", ",", "]")
        val compactAt = nIdx - nIdx % 10
        val gone = (real.size until seenM).map(i => f"file:$root/gone/g$i%07d.log")
        Files.writeString(
          new java.io.File(logDir, f"$compactAt%020d.compact").toPath,
          entryJson(real ++ gone))
        for (i <- math.max(0L, nIdx - 109) to nIdx) // one GC horizon of tail
          Files.writeString(new java.io.File(logDir, f"$i%020d").toPath,
            entryJson((0 until 10).map(j => s"file:$root/gone/e${i}_$j.log")))
        def mkStream(clean: Boolean) = {
          val m = Map("pattern" -> "(\\d+) (\\w+)", "fieldnames" -> "id, level",
            "datatypes" -> "INT, VARCHAR") ++
            (if (clean) Map("cleansource" -> "delete") else Map.empty[String, String])
          val o = graft.log.LogOptions.fromMap(m)
          new graft.log.LogMicroBatchStream(o, o.schema, Seq(srcDir.getAbsolutePath), ckpt)
        }
        var stream: graft.log.LogMicroBatchStream = null
        record("trig_restore", k, timed(2) { stream = mkStream(clean = false) })
        var off: org.apache.spark.sql.connector.read.streaming.Offset =
          graft.log.LogStreamIndexOffset(nIdx)
        record("trig_idle", k, timed(2) {
          off = stream.latestOffset(off, ReadLimit.allAvailable())
        })
        // a path-string mismatch would silently turn trig_idle into an
        // admission benchmark — fail loudly instead
        require(off == graft.log.LogStreamIndexOffset(nIdx),
          s"idle trigger admitted files: $off (seen-path mismatch?)")
        def admitRound(tag: Int): Double = {
          for (i <- 0 until 100) {
            Files.writeString(
              new java.io.File(srcDir, f"new_${tag}_$i%04d.log").toPath, s"$i INFO\n")
          }
          val t0 = System.nanoTime()
          off = stream.latestOffset(off, ReadLimit.allAvailable())
          (System.nanoTime() - t0) / 1e9
        }
        record("trig_admit", k, math.min(admitRound(1), admitRound(2)))
        require(off == graft.log.LogStreamIndexOffset(nIdx + 2), s"unexpected $off")
        record("trig_compact", k, admitRound(3)) // nIdx+3 ends in 0: compact + GC
        // restart with cleanSource=delete: first commit sweeps every
        // surviving entry (missing files are best-effort no-ops)
        val cleaner = mkStream(clean = true)
        record("trig_commit", k, timed(1) { cleaner.commit(off) })
      }
    }

    // log-log least-squares slope over all sizes
    def slope(times: collection.Map[Int, Double]): Double = {
      val pts = times.toSeq.map { case (k, t) => (math.log(k), math.log(t)) }
      val n = pts.size
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val json = results.map { case (fam, times) =>
      val ks = times.keys.toSeq.sorted
      val ts = ks.map(k => f"""\"x$k\":${times(k)}%.2f""").mkString(",")
      if (ks.size < 2) { // one-off demo families (bpelarge): no fit
        f"""\"$fam\":{$ts}"""
      } else {
      // tail exponent (largest size pair the family has): the
      // fixed-overhead bias of the full fit vanishes where the data term
      // dominates
      val (ka, kb) = (ks(ks.size - 2), ks.last)
      val tail = math.log(times(kb) / times(ka)) / math.log(kb.toDouble / ka)
      // heap columns (driver-memory envelope): post-GC used at the
      // family's smallest and largest size + in-run peak at the largest —
      // a post-GC figure that grows with k is a retention leak
      val hp = heapPost.getOrElse(fam,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])
      val hk = heapPeak.getOrElse(fam,
        scala.collection.mutable.LinkedHashMap.empty[Int, Double])
      val heap =
        if (hp.isEmpty) ""
        else f""",\"postgc_mb_min\":${hp(ks.head)}%.0f,""" +
          f"""\"postgc_mb_max\":${hp(kb)}%.0f,\"peak_mb_max\":${hk(kb)}%.0f"""
      f"""\"$fam\":{$ts,\"slope\":${slope(times)}%.2f,\"tail\":$tail%.2f$heap}"""
      }
    }.mkString("{", ",", "}")
    println(json)

    // ------------------------------------------- broadcast-model sizes
    // The driver/broadcast artifacts the .collect()-is-bounded argument
    // rests on, sized at their production parameters (VERDICT r13 item
    // 4's second half): what actually rides the driver heap and every
    // executor's broadcast cache at 100-TB cardinalities.
    // closed form of BloomFilter.optimalNumOfBits (allocating a real
    // 1e9-key filter just to read bitSize() would put a pointless
    // ~1.2 GB spike on the heap right after the peak columns)
    def bloomMb(n: Long): Double =
      (-n * math.log(0.01) / (math.log(2) * math.log(2))) / 8 / 1e6
    val bloom100m = bloomMb(100000000L)
    val bloom1b = bloomMb(1000000000L)
    val ivf64 = 64L * 64 * 8 / 1e6        // shipped config: nLists=64, d=64
    val ivf64k = 65536L * 768 * 8 / 1e6   // production: 64k lists, d=768
    val pqShipped = 4L * 16 * (64 / 4) * 8 / 1e6   // blocks=4, cb=16, d=64
    val pqProd = 96L * 256 * (768 / 96) * 8 / 1e6  // blocks=96, cb=256, d=768
    println(f"""{"model_mb":{"keybloom_100m_keys":$bloom100m%.1f,""" +
      f""""keybloom_1b_keys":$bloom1b%.1f,"ivf_centroids_64x64":$ivf64%.3f,""" +
      f""""ivf_centroids_64kx768":$ivf64k%.1f,"pq_codebooks_shipped":$pqShipped%.4f,""" +
      f""""pq_codebooks_prod":$pqProd%.3f}}""")
    spark.stop()
  }
}
