package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, GraftSql, Row}
import org.apache.spark.sql.functions.col

import graft.ops.{BandPostings, Dedup}

/** Streaming NEAR-dedup across micro-batches — the streaming counterpart
  * of [[graft.ops.Dedup.crossCorpusNearDedup]], the way
  * `dropDuplicatesWithinWatermark` is the streaming counterpart of exact
  * dedup: each arriving batch is near-deduplicated (shingle-Jaccard >=
  * threshold, MinHash-banded candidates, exact verification) against the
  * KEPT rows of every PRIOR batch, and its survivors join the history.
  * First occurrence wins, across the whole stream.
  *
  * State is the sink itself: kept rows land in an
  * [[IdempotentParquetSink]] layout (`batch_id=N` partitions), and the
  * history for batch N is the sink filtered to `batch_id < N` — so a
  * replayed batch (crash between sink write and checkpoint commit) never
  * sees its own torn previous write and never dedups against itself;
  * overwrite-by-batch-id then replaces that torn output. Exactly-once
  * end-to-end, no separate state store, and the history scan prunes by
  * the hive partition column.
  *
  * HISTORY IS BANDED ONCE, not once per batch: survivors' LSH band
  * postings persist beside the sink (`_postings`, invisible to the sink's
  * parquet reads), MIRRORING the sink's per-batch layout — one
  * `__pbatch=K` partition per accepted batch. Each batch then runs
  * [[graft.ops.Dedup.crossCorpusNearDedupWithPostings]]: its own banding
  * plus one join against the postings, instead of re-running the
  * history's minhash pipeline every batch (O(total-history) CPU per
  * batch, the round-10 shape). The postings UPDATE is O(batch) too —
  * the new batch's partition is written in isolation; nothing rewrites
  * history (an O(history)-write-per-batch postings file would just move
  * the bottleneck from CPU to I/O).
  *
  * The per-batch mirror makes recovery self-describing: before deduping,
  * any sink batch `< N` with no matching postings partition is re-banded
  * from its own sink partition alone. That one rule covers every hole at
  * once — a pre-upgrade sink (all partitions missing), a crash between
  * sink write and postings write (exactly one missing — a gap a single
  * whole-postings file cannot even DETECT), and a legacy flat-layout
  * postings dir (derived state; deleted and rebuilt). Replay is
  * exactly-once: batch N reads only `__pbatch < N` postings and
  * `batch_id < N` history, then overwrites its own sink and postings
  * partitions.
  *
  * Batch-INTERNAL near-duplicates are deliberately kept (the
  * [[graft.ops.Dedup.nearDedup]] stage owns those — same contract as the
  * batch operator).
  */
object StreamingNearDedup {

  private val PostingsDirName = "_postings"
  private val PartitionPrefix = BandPostings.BatchCol + "="

  /** The `foreachBatch` body. Usage:
    * {{{
    * stream.writeStream.foreachBatch { (b, id) =>
    *   StreamingNearDedup.dedupBatch(b, id, sinkDir, "doc_id", "text")
    * }
    * }}}
    */
  def dedupBatch(
      batch: Dataset[Row],
      batchId: Long,
      sinkDir: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      shufflePartitions: Option[Int] = None): Unit = {
    // micro-batch sizing: the per-batch frames are small (one trigger's
    // files), so a cluster-sized spark.sql.shuffle.partitions spends more
    // on task launch than on work across this body's ~25 jobs — measured
    // 6.86 -> 5.86 s on the bench drain at 32 -> 8 (dev/DRAIN_PROFILE.md
    // round-13, both A/B orders). The width applies in a clone of the
    // batch's session (its whole conf copied, the stream's AQE-off
    // included), so the session the batch came from never runs under it.
    val scoped = shufflePartitions.fold(batch) { n =>
      val s = GraftSql.cloneSession(batch.sparkSession)
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      GraftSql.ofRows(s, batch.toDF())
    }
    dedupBatchImpl(scoped, batchId, sinkDir, idCol, textCol,
      threshold, shingleN, numHashes, bands, maxBucketSize)
  }

  private def dedupBatchImpl(
      batch: Dataset[Row],
      batchId: Long,
      sinkDir: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(sinkDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postingsDir = s"$sinkDir/$PostingsDirName"

    def ensureParams(): Unit = BandPostings.readParams(fs, postingsDir) match {
      case Some((s, n, b)) =>
        require(s == shingleN && n == numHashes && b == bands,
          s"[StreamingNearDedup] banding parameters changed mid-stream: " +
            s"postings=($s,$n,$b) call=($shingleN,$numHashes,$bands)")
      case None =>
        fs.mkdirs(new Path(postingsDir))
        BandPostings.writeParams(fs, postingsDir, shingleN, numHashes, bands)
    }

    // sink rows of one prior batch; an all-duplicates batch can leave its
    // partition with zero part files — nothing to infer a schema from,
    // and the stream's own batch schema IS the sink row schema
    def sinkPartition(k: Long): Dataset[Row] = {
      val part = new Path(s"$sinkDir/batch_id=$k")
      val hasData = fs.exists(part) && fs.listStatus(part).exists(e =>
        e.isFile && !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
      if (hasData) spark.read.parquet(part.toString) else batch.limit(0).toDF()
    }

    // one postings partition write, marker guaranteed: clusters that
    // disable mapreduce.fileoutputcommitter.marksuccessfuljobs would
    // otherwise leave every committed partition markerless — the
    // committed-check below would see it as torn and re-repair the whole
    // history every batch, forever. The marker is touched only AFTER the
    // parquet write returns, preserving the torn-write detection window.
    def writePostingsPartition(posts: Dataset[Row], k: Long): Unit = {
      val dir = s"$postingsDir/$PartitionPrefix$k"
      posts.write.mode("overwrite").parquet(dir)
      val marker = new Path(dir, "_SUCCESS")
      if (!fs.exists(marker)) fs.create(marker, true).close()
    }

    // gap repair: re-band one prior accepted batch from its sink rows;
    // overwrite makes it (and the replay path below) idempotent
    def repairPostingsPartition(k: Long): Unit = {
      ensureParams()
      writePostingsPartition(
        Dedup.bandPostings(sinkPartition(k), idCol, textCol, shingleN, numHashes, bands).posts, k)
    }

    dropLegacyFlatLayout(fs, postingsDir)
    // band THIS batch once — the dedup's candidate join and the survivors'
    // postings partition both consume it; minhashing the text is the
    // dominant per-batch cost at corpus scale, so it must not run twice
    val batchPosts = Dedup.bandPostings(batch.toDF(), idCol, textCol,
      shingleN, numHashes, bands)
    batchPosts.posts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val kept =
        if (!fs.exists(new Path(sinkDir)) || batchId == 0L) batch.toDF()
        else {
          val need = partitionIds(fs, sinkDir, "batch_id=").filter(_ < batchId)
          // COMMITTED postings only: a crash mid-write (repair or the
          // normal postings step for a batch the sink already committed)
          // leaves a partial `__pbatch=K` dir with no _SUCCESS marker —
          // counting it as present would silently dedup later batches
          // against incomplete postings forever. (The sink side needs no
          // marker check: batch K's checkpoint commits only after its sink
          // write succeeded, so a torn sink partition is always the
          // CURRENT batch's, replayed and overwritten — never history.)
          val have = committedPartitionIds(fs, postingsDir, PartitionPrefix)
          (need -- have).toSeq.sorted.foreach(repairPostingsPartition)
          if (need.isEmpty) batch.toDF() // dir exists, no committed batches
          else {
            val history = spark.read.parquet(sinkDir)
              .filter(col("batch_id") < batchId)
              .drop("batch_id")
            // partition-prune away this batch's own previous attempt (replay)
            val posts = BandPostings(
              spark.read.parquet(postingsDir)
                .filter(col(BandPostings.BatchCol) < batchId)
                .drop(BandPostings.BatchCol),
              shingleN, numHashes, bands)
            Dedup.crossCorpusNearDedupPrebanded(batch.toDF(), batchPosts,
              history, posts, idCol, textCol, threshold, maxBucketSize)
          }
        }
      IdempotentParquetSink.writeBatch(kept, batchId, sinkDir)
      // THIS batch's postings partition: the already-computed bandings
      // filtered to the survivors the sink just committed — no re-minhash,
      // no recompute of `kept`'s dedup lineage. Ordering matters for the
      // crash windows: sink first, postings second — a crash between the
      // two leaves a postings gap, which the repair above closes next call.
      ensureParams()
      val survivorIds = sinkPartition(batchId).select(col(idCol).as("__idH"))
      writePostingsPartition(
        batchPosts.posts.join(survivorIds, Seq("__idH"), "left_semi"), batchId)
    } finally batchPosts.posts.unpersist(blocking = false)
  }

  /** Hive-style partition ids under `dir` (`<prefix>K` subdirs). */
  private def partitionIds(fs: FileSystem, dir: String, prefix: String): Set[Long] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix).toLong
    }.toSet
  }

  /** [[partitionIds]] restricted to partitions whose write COMMITTED — the
    * `_SUCCESS` marker Spark's file committer writes last. Written-by-us
    * dirs always carry it (empty postings included: an empty DataFrame
    * write still commits the marker), so a markerless dir is by
    * construction a torn write and must be repaired, not trusted. */
  private def committedPartitionIds(fs: FileSystem, dir: String, prefix: String): Set[Long] =
    partitionIds(fs, dir, prefix).filter(k =>
      fs.exists(new Path(s"$dir/$prefix$k/_SUCCESS")))

  /** A postings dir written by the pre-partitioned design (flat parquet
    * at the root) cannot coexist with `__pbatch=K` dirs — partition
    * discovery rejects the mixed depth. Postings are derived state, so
    * the migration is: delete, let gap repair re-band from the sink.
    */
  private def dropLegacyFlatLayout(fs: FileSystem, postingsDir: String): Unit = {
    val p = new Path(postingsDir)
    if (fs.exists(p)) {
      val entries = fs.listStatus(p).toSeq
      val flatData = entries.exists(e => e.isFile &&
        !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
      val partitioned = entries.exists(e =>
        e.isDirectory && e.getPath.getName.startsWith(PartitionPrefix))
      if (flatData && !partitioned) fs.delete(p, true)
    }
  }
}
