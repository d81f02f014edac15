package graft.log

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Micro-batch streaming for the `log` source: `spark.readStream
  * .format("log")` tails a directory, each batch reading the files that
  * appeared since the last committed offset.
  *
  * Semantics follow Spark's own file stream source: files are immutable
  * once seen (appends to an already-processed file are ignored), discovery
  * is by listing.
  *
  * OFFSETS ARE O(1): an offset is a single index into a persistent file
  * log under `<checkpoint>/graft-file-log/` — entry `i` lists the paths
  * first discovered at index `i`, so the offset JSON no longer grows with
  * the total number of files seen (the round-1 design serialized the full
  * seen-file list into every offset). Every `CompactInterval` entries a
  * cumulative `.compact` entry is also written, so a restart rebuilds the
  * seen-set from the latest compact + tail instead of replaying the whole
  * log. Entries within the replay horizon
  * (`max(spark.sql.streaming.minBatchesToRetain, CompactInterval)`
  * batches) are retained so any REPLAYABLE checkpointed `(start, end]`
  * range replays exactly — a batch is defined by its log entries, not by
  * a fresh directory listing; older entries are GC'd at each compact
  * (same horizon Spark's own offset/commit logs keep), so a year-long
  * tail doesn't accumulate half a million entry files.
  *
  * ADMISSION CONTROL: implements `SupportsAdmissionControl`
  * (`maxFilesPerTrigger` / `maxBytesPerTrigger`, Spark file-source option
  * semantics) so a discovery burst drains as bounded micro-batches, and
  * `SupportsTriggerAvailableNow` so `Trigger.AvailableNow` processes exactly
  * the files present at query start, respecting those limits per batch.
  *
  * RETENTION (Spark file-source option semantics): `maxFileAge` expires
  * seen-file entries older than the newest file's mod-time minus the age,
  * and ignores newly-listed files that old — so a months-long tail of a
  * rotating directory keeps the driver's tracking state (and the compact
  * log entries) bounded by the rotation window instead of growing with
  * every file ever seen. Choose the age well above the trigger interval:
  * a not-yet-admitted backlog file can lose eligibility if newer files
  * push the cutoff past it (same dynamics as Spark's source).
  * `cleanSource=delete|archive` (+ `sourceArchiveDir`) removes or moves a
  * batch's source files once its offset is COMMITTED — rotation handled at
  * the source instead of racing an external cleaner against the reader.
  */
final class LogMicroBatchStream(
    opts: LogOptions,
    required: StructType,
    paths: Seq[String],
    checkpointLocation: String,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    pushedPart: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  import LogMicroBatchStream._

  private val spark = SparkSession.active
  // the readers' Hadoop conf, shipped once per stream instead of with every
  // task of every micro-batch; a JobConf, which the readers use uncopied
  private val confBroadcast = spark.sparkContext.broadcast(new SerializableHadoopConf(
    new org.apache.hadoop.mapred.JobConf(spark.sparkContext.hadoopConfiguration)))
  private val logDir = new Path(checkpointLocation, "graft-file-log")

  // In-memory view rebuilt from the persistent log at (re)start: seen file
  // -> mod-time (for maxFileAge expiry; UnknownTs for entries restored from
  // a pre-retention log, which are never expired) and the highest written
  // index. Without maxFileAge the driver holds one entry per seen file —
  // the same footprint Spark's FileStreamSource keeps; WITH it, entries
  // older than the newest file minus the age are purged each trigger, so a
  // months-long tail of a rotating directory stays bounded. The OFFSET
  // stays a single long either way.
  private var maxIndex: Long = -1L
  private val seen = mutable.HashMap.empty[String, Long]
  // newest mod-time ever admitted; -1 until the first real file, so the
  // expiry cutoff (latest - age) is negative and nothing is filtered
  private var latestTimestamp: Long = -1L
  restoreFromLog()

  // cleanSource=archive must not move files back under a watched path, or
  // the stream would re-discover its own archive
  for (archive <- opts.sourceArchiveDir if opts.cleanSource == "ARCHIVE") {
    val archivePath = new Path(archive).toUri.getPath
    paths.foreach { p =>
      val src = new Path(p).toUri.getPath
      val srcDir = if (src.exists("*?[]{}".contains(_))) {
        var anc = new Path(src)
        while (anc.getParent != null && anc.toString.exists("*?[]{}".contains(_)))
          anc = anc.getParent
        anc.toString
      } else src
      require(!(archivePath + "/").startsWith(srcDir.stripSuffix("/") + "/"),
        s"[log] sourceArchiveDir '$archive' is inside watched path '$p' — " +
          "archived files would be re-ingested")
    }
  }
  // files cleaned through this log index (cleaning is per committed batch;
  // after a restart re-cleaning already-cleaned entries is a no-op)
  private var cleanedThrough: Long = -1L

  // test-only visibility: retention specs assert the tracked set stays
  // bounded across a rotation
  private[graft] def trackedFiles: Map[String, Long] = seen.toMap

  // Trigger.AvailableNow contract: only files present at prepare time are
  // admitted, across however many limit-bounded batches that takes; files
  // arriving during the run wait for the next run.
  private var availableNowCutoff: Option[Set[String]] = None

  override def initialOffset(): Offset = LogStreamIndexOffset(-1L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCutoff = Some(listFiles().map(_.getPath.toString).toSet)

  /** Admission control (the streaming analogue of an unpruned scan): a
    * discovery burst — e.g. the backlog after a tail job restarts — is
    * split into bounded micro-batches per `maxFilesPerTrigger` /
    * `maxBytesPerTrigger` instead of becoming one unbounded batch. Option
    * semantics match Spark's own file stream source.
    */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      opts.maxFilesPerTrigger.map(ReadLimit.maxFiles),
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes)).flatten
    limits match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // Legacy (round-1) checkpoint: no file log exists, but the offset
    // ITSELF is the full seen list — seed from it (mod-time unknown ->
    // never expired), or every already-ingested file would be re-admitted
    // through the limits (empty replay batches stalling new data for
    // ceil(N/limit) triggers).
    start match {
      case LogStreamOffset(sf) => sf.foreach(p => seen.getOrElseUpdate(p, UnknownTs))
      case _                   => ()
    }
    // maxFileAge: a file older than (newest seen mod-time - age) is
    // ignored — by the purge invariant below it may be a file whose seen
    // entry was expired, and re-reading it would be a duplicate.
    // latestFirst + a per-trigger cap disables the age (Spark's own
    // file-source rule): admitting the newest first advances the cutoff,
    // and the not-yet-admitted older backlog would expire mid-drain.
    val capped = opts.maxFilesPerTrigger.nonEmpty || opts.maxBytesPerTrigger.nonEmpty
    val effectiveMaxAge =
      if (opts.latestFirst && capped) None else opts.maxFileAgeMs
    val cutoff = effectiveMaxAge.map(latestTimestamp - _)
    val unseen = listFiles().filter { st =>
      !seen.contains(st.getPath.toString) &&
        cutoff.forall(st.getModificationTime >= _)
    }.sortBy(_.getPath.toString)
    val eligible0 = availableNowCutoff match {
      case Some(cut) => unseen.filter(st => cut(st.getPath.toString))
      case None      => unseen
    }
    // latestFirst: drain a backlog newest-first (path as deterministic
    // tie-break); the seen-set still guarantees exactly-once
    val eligible =
      if (opts.latestFirst)
        eligible0.sortBy(st => (-st.getModificationTime, st.getPath.toString))
      else eligible0
    val admitted = admit(eligible, limit)
    if (admitted.nonEmpty) {
      maxIndex += 1
      writeEntry(maxIndex, admitted.map(st => (st.getPath.toString, st.getModificationTime)))
      admitted.foreach(st => seen(st.getPath.toString) = st.getModificationTime)
      latestTimestamp = math.max(latestTimestamp, admitted.map(_.getModificationTime).max)
      // purge AFTER the cutoff advanced: an expired entry's file is, by
      // construction, older than the new cutoff, so the age filter above
      // keeps it out even though tracking forgot it (Spark's SeenFilesMap
      // invariant). Unknown-ts legacy entries never expire. Must use the
      // same EFFECTIVE age as the filter: purging while the filter is
      // disabled (latestFirst+cap) would re-admit forgotten files.
      for (age <- effectiveMaxAge) {
        val cut = latestTimestamp - age
        seen.filterInPlace((_, ts) => ts >= cut)
      }
      if (maxIndex > 0 && maxIndex % CompactInterval == 0) {
        writeCompact(maxIndex, seen.toSeq.sortBy(_._1))
        gcEntries(maxIndex)
      }
    }
    LogStreamIndexOffset(maxIndex)
  }

  /** Entry-log GC, run at each compact: a long-running tail otherwise
    * accumulates one tiny entry file per batch forever (a year of
    * 1-minute triggers ≈ 500k files in one checkpoint directory). Plain
    * entries and superseded compacts older than
    * `max(spark.sql.streaming.minBatchesToRetain, CompactInterval)`
    * batches behind the newest compact are deleted — the same replay
    * horizon Spark's own offset/commit logs keep, and restore only ever
    * reads the newest compact + tail. The newest compact always
    * survives (cutoff < compactAt).
    */
  private def gcEntries(compactAt: Long): Unit = {
    val retain = math.max(
      org.apache.spark.sql.GraftSql.sqlConf(spark).minBatchesToRetain.toLong,
      CompactInterval.toLong)
    val cutoffIdx = compactAt - retain
    if (cutoffIdx <= 0) return
    fs.listStatus(logDir).map(_.getPath.getName)
      .foreach { n =>
        for (idx <- LogMicroBatchStream.entryIndexOf(n) if idx < cutoffIdx)
          fs.delete(new Path(logDir, n), false)
      }
  }

  /** Longest admissible prefix of `fresh` under `limit`. ReadMaxBytes keeps
    * FileStreamSource semantics: files admitted until the next would exceed
    * the cap, but always at least one (a single over-cap file must still
    * make progress). Composite limits apply each constituent in turn —
    * the strictest prefix wins.
    */
  private def admit(fresh: Seq[FileStatus], limit: ReadLimit): Seq[FileStatus] = limit match {
    case _: ReadAllAvailable => fresh
    case mf: ReadMaxFiles    => fresh.take(mf.maxFiles)
    case mb: ReadMaxBytes =>
      val out = ArrayBuffer.empty[FileStatus]
      var bytes = 0L
      val it = fresh.iterator
      var full = false
      while (it.hasNext && !full) {
        val st = it.next()
        if (out.isEmpty || bytes + st.getLen <= mb.maxBytes) {
          out += st
          bytes += st.getLen
        } else full = true
      }
      out.toSeq
    case comp: CompositeReadLimit =>
      comp.getReadLimits.foldLeft(fresh)((acc, l) => admit(acc, l))
    case _ => fresh // unknown limit kind: admit everything (fail open)
  }

  override def deserializeOffset(json: String): Offset =
    LogStreamIndexOffset.fromJson(json)

  /** cleanSource: once a batch's offset is COMMITTED (its output is
    * durable), its source files may be deleted or archived — Spark's
    * file-source contract: best-effort (a file that is already gone is
    * fine), never before the commit (so failure replay still finds its
    * input). Archive preserves the file's absolute path under
    * `sourceArchiveDir`.
    */
  override def commit(end: Offset): Unit = {
    if (opts.cleanSource == "OFF") return
    val endIdx = end match {
      case LogStreamIndexOffset(i) => i
      case _                       => return // legacy offsets: no entry log to clean from
    }
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    def entriesOrEmpty(i: Long): Seq[(String, Long)] =
      try readEntry(entryPath(i))
      catch { case _: java.io.FileNotFoundException => Nil } // GC'd: already cleaned
    // Restart bound: cleanedThrough is in-memory, so without this the
    // first commit after every restart would attempt index 0..endIdx —
    // O(maxIndex) filesystem opens on a long-lived stream, paid on one
    // trigger. Entries more than one GC horizon behind the committed end
    // are guaranteed gone ([[gcEntries]] deletes them at each compact) and
    // their batches' own commits already cleaned their files, so scanning
    // one horizon is exhaustive.
    val horizon = math.max(
      org.apache.spark.sql.GraftSql.sqlConf(spark).minBatchesToRetain.toLong,
      LogMicroBatchStream.CompactInterval.toLong) + LogMicroBatchStream.CompactInterval
    val from =
      if (cleanedThrough >= 0) math.max(cleanedThrough + 1, endIdx - horizon)
      else {
        // First commit after restart: a crashed prior process may have
        // committed batches whose clean never ran (or whose deletes failed
        // with a warn), leaving files just outside the horizon forever.
        // Sweep the full SURVIVING plain-entry range once — gcEntries
        // bounds surviving entries to ~one horizon, so this is one
        // horizon-sized pass, not O(history); deletes are idempotent
        // (already-gone files are fine by the best-effort contract).
        // (every batch writes a plain entry, compact indexes included, so
        // plain entries are the complete per-batch record; no surviving
        // plain entries → nothing to sweep beyond the horizon window —
        // falling back to 0 here would be the O(maxIndex) scan this
        // bound exists to avoid)
        try fs.listStatus(logDir).iterator.map(_.getPath.getName)
          .filterNot(_.endsWith(LogMicroBatchStream.CompactSuffix))
          .flatMap(LogMicroBatchStream.entryIndexOf)
          .minOption.getOrElse(math.max(0L, endIdx - horizon))
        catch { case _: java.io.FileNotFoundException => math.max(0L, endIdx - horizon) }
      }
    for (i <- from to endIdx; (p, _) <- entriesOrEmpty(i)) {
      val hp = new Path(p)
      val pfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try {
        if (opts.cleanSource == "DELETE") pfs.delete(hp, false)
        else for (archive <- opts.sourceArchiveDir) {
          val dst = new Path(archive, hp.toUri.getPath.stripPrefix("/"))
          pfs.mkdirs(dst.getParent)
          if (!pfs.rename(hp, dst) && pfs.exists(hp))
            log.warn(s"[log] cleanSource could not archive $p to $dst")
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"[log] cleanSource failed for $p: ${e.getMessage}")
      }
    }
    cleanedThrough = math.max(cleanedThrough, endIdx)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // Replay-safe: the batch is defined by LOG ENTRIES (start, end], not by
    // a fresh directory listing — a checkpointed batch must replay the same
    // files after restart; a file named in the log that has since vanished
    // is a hard error, not silent data loss.
    val fresh = filesOf(start, end)
    val conf = spark.sparkContext.hadoopConfiguration
    val statuses = fresh.map { p =>
      val hp = new Path(p)
      try hp.getFileSystem(conf).getFileStatus(hp)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new org.apache.spark.SparkException(
            s"[log] committed stream offset references missing file $p " +
              "(deleted before its batch completed?)", e)
      }
    }
    // same chunker as the batch scan: one huge discovered file must fan
    // out across the cluster, not stall the micro-batch on a single task
    val maxSplit = LogScan.splitSize(spark, statuses)
    // roots are needed by EVERY path-field kind, not just dirColumns: hive
    // k=v matching is scoped to segments strictly below the matched root
    // (PartitionValues.hiveValues), so a partitionSchema stream rooted
    // inside a k=v ancestor directory must know where its root is
    val roots =
      if (opts.partitionSchema.isEmpty && opts.dirColumns.isEmpty) Nil
      else LogScan.dirRoots(conf, paths)
    LogScan.pack(
      LogScan.chunkFiles(statuses, opts, conf, maxSplit, roots),
      maxSplit,
      org.apache.spark.sql.GraftSql.sqlConf(spark).filesOpenCostInBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val bc = confBroadcast
    new LogPartitionReaderFactory(opts, required, pushed, () => bc.value.value)
  }

  override def stop(): Unit = confBroadcast.destroy()

  // ------------------------------------------------------------ file log

  private def fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def entryPath(i: Long) = new Path(logDir, f"$i%020d")
  private def compactPath(i: Long) = new Path(logDir, f"$i%020d$CompactSuffix")

  private def writeEntry(i: Long, files: Seq[(String, Long)]): Unit =
    atomicWrite(entryPath(i), files)

  private def writeCompact(i: Long, files: Seq[(String, Long)]): Unit =
    atomicWrite(compactPath(i), files)

  /** Temp-file + rename so a crashed driver never leaves a torn entry. */
  private def atomicWrite(path: Path, files: Seq[(String, Long)]): Unit = {
    fs.mkdirs(logDir)
    val tmp = new Path(logDir, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(entriesToJson(files).getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, path)) {
      fs.delete(tmp, false)
      // a concurrent/previous attempt wrote the same deterministic content
      if (!fs.exists(path))
        throw new org.apache.spark.SparkException(s"[log] cannot write stream log entry $path")
    }
  }

  private def readEntry(path: Path): Seq[(String, Long)] = {
    val in = fs.open(path)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      entriesFromJson(bytes.toString("UTF-8"))
    } finally in.close()
  }

  /** Rebuild (seen, latestTimestamp, maxIndex) from the latest compact
    * entry + tail. Entries from a pre-retention (round-≤10) log carry no
    * mod-time — they restore as never-expiring [[UnknownTs]].
    */
  private def restoreFromLog(): Unit = {
    if (!fs.exists(logDir)) return
    val names = fs.listStatus(logDir).map(_.getPath.getName)
      .filter(n => LogMicroBatchStream.entryIndexOf(n).isDefined).sorted
    if (names.isEmpty) return
    val compacts = names.filter(_.endsWith(CompactSuffix))
    val lastCompact = compacts.lastOption.map(n => n.stripSuffix(CompactSuffix).toLong)
    lastCompact.foreach { i => seen ++= readEntry(compactPath(i)) }
    val tail = names.filterNot(_.endsWith(CompactSuffix)).map(_.toLong)
      .filter(i => lastCompact.forall(_ < i))
    tail.foreach { i => seen ++= readEntry(entryPath(i)) }
    maxIndex = names.map(_.stripSuffix(CompactSuffix).toLong).max
    val known = seen.valuesIterator.filter(_ != UnknownTs)
    if (known.nonEmpty) latestTimestamp = known.max
  }

  /** Files added in (start, end], for index and (legacy path-list) offsets. */
  private def filesOf(start: Offset, end: Offset): Seq[String] = {
    def cumulative(i: Long): Set[String] =
      (0L to i).flatMap(j => readEntry(entryPath(j)).map(_._1)).toSet
    (start, end) match {
      case (LogStreamIndexOffset(s), LogStreamIndexOffset(e)) =>
        ((s + 1) to e).flatMap(i => readEntry(entryPath(i)).map(_._1)).sorted
      case (LogStreamOffset(sf), LogStreamIndexOffset(e)) => // legacy start
        (cumulative(e) -- sf).toSeq.sorted
      case (LogStreamIndexOffset(s), LogStreamOffset(ef)) => // legacy end
        (ef.toSet -- cumulative(s)).toSeq.sorted
      case (LogStreamOffset(sf), LogStreamOffset(ef)) =>
        (ef.toSet -- sf.toSet).toSeq.sorted
      case other => throw new IllegalStateException(s"[log] unexpected offsets $other")
    }
  }

  private def listFiles(): Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = ArrayBuffer.empty[FileStatus]
    val dirs = ArrayBuffer.empty[Path]
    paths.foreach { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).getOrElse(Array.empty)
      // A missing/misspelled CONCRETE path is a hard error (mirror the
      // batch scan), but a glob that currently expands to nothing is a
      // normal streaming startup state — `dir/*.log` before the first
      // file arrives — and must poll on like Spark's own FileStreamSource.
      // The glob's non-glob ancestor is still checked, so a misspelled
      // parent directory fails loudly instead of staying silently empty.
      if (matched.isEmpty) {
        def hasGlob(s: String): Boolean = s.exists("*?[]{}".contains(_))
        if (!hasGlob(hp.toString))
          throw new org.apache.spark.SparkException(s"[log] path not found: $p")
        var anc = hp
        while (anc.getParent != null && hasGlob(anc.toString)) anc = anc.getParent
        if (!fs.exists(anc))
          throw new org.apache.spark.SparkException(
            s"[log] path not found: $p (non-glob parent $anc does not exist)")
        // else: empty glob expansion — an empty listing for this trigger
      }
      matched.foreach { st =>
        if (st.isFile) out += st // explicit file: read regardless of extension
        else dirs += st.getPath
      }
    }
    // per-trigger parallel walk (shared with the batch scan): the driver
    // polls this every trigger, so listing latency bounds end-to-end
    // stream latency at high directory counts
    out ++= LogScan
      .listRecursiveParallel(conf, dirs.toSeq, LogScan.listingThreads(spark))
      .filter(f => LogScan.matchesExtension(f.getPath.getName, opts.extensions))
    // partition pruning BEFORE admission: a pruned-out file is never
    // admitted, tracked, or charged against maxFiles/BytesPerTrigger.
    // (A filter changed across a restart of the same checkpoint admits
    // newly-passing files normally — they were never seen.)
    if (pushedPart.isEmpty) out.toSeq
    else {
      val roots = dirs.map(_.toString).toSeq
      out.filter(f => PartitionValues.prunesIn(pushedPart.toSeq,
        f.getPath.toString, opts, LogScan.rootOf(f.getPath.toString, roots))).toSeq
    }
  }
}

object LogMicroBatchStream {
  val CompactInterval = 10
  val CompactSuffix = ".compact"

  /** Entry index encoded in a log-dir file name (`%020d` or
    * `%020d.compact`); None for anything else. The dir belongs to this
    * source, but a stray foreign file (editor backup, tool metadata) must
    * degrade to a skipped name — not a NumberFormatException that crashes
    * every commit/restore/GC until someone hand-deletes it. */
  private[log] def entryIndexOf(name: String): Option[Long] = {
    val base = name.stripSuffix(CompactSuffix)
    if (base.nonEmpty && base.length <= 20 && base.forall(_.isDigit)) Some(base.toLong)
    else None
  }

  /** Mod-time for entries restored from logs/offsets written before
    * retention existed: unknown, therefore never expired by maxFileAge
    * (bounded by the legacy entry count — strictly safer than guessing an
    * age that could re-admit an already-read file). */
  val UnknownTs: Long = Long.MaxValue

  // one shared mapper: ObjectMapper construction is expensive and the
  // instance is thread-safe for plain read/write use; restore paths call
  // fromJson once per log entry, offsets and load paths once each
  private[log] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private[log] def toJson(files: Seq[String]): String =
    mapper.writeValueAsString(files.toArray)

  private[log] def fromJson(json: String): Seq[String] =
    mapper.readValue(json, classOf[Array[String]]).toSeq

  /** Entry format v2: `[[path, modTimeMs], ...]` — mod-times persist so a
    * restart rebuilds the expiry clock. v1 entries (plain path arrays,
    * round-≤10 checkpoints) read back with [[UnknownTs]].
    */
  private[log] def entriesToJson(files: Seq[(String, Long)]): String =
    mapper.writeValueAsString(files.map { case (p, ts) =>
      Array[AnyRef](p, java.lang.Long.valueOf(ts))
    }.toArray)

  private[graft] def entriesFromJson(json: String): Seq[(String, Long)] = {
    val root = mapper.readTree(json)
    require(root.isArray, s"[log] malformed stream log entry: $json")
    (0 until root.size).map { i =>
      val el = root.get(i)
      if (el.isTextual) (el.asText(), UnknownTs)
      else (el.get(0).asText(), el.get(1).asLong())
    }
  }
}

/** O(1) offset: an index into the persistent file log. */
final case class LogStreamIndexOffset(index: Long) extends Offset {
  override def json(): String = s"""{"index":$index}"""
}

object LogStreamIndexOffset {
  /** Parses index offsets; a legacy round-1 offset (JSON array of paths)
    * deserializes to [[LogStreamOffset]] so old checkpoints keep working.
    */
  def fromJson(json: String): Offset = {
    val t = json.trim
    if (t.startsWith("[")) LogStreamOffset(LogMicroBatchStream.fromJson(t))
    else {
      val node = LogMicroBatchStream.mapper.readTree(t).get("index")
      if (node == null || !node.canConvertToLong) {
        throw new IllegalArgumentException(
          s"[log] malformed stream offset JSON (expected {\"index\":<long>} or a path array): $json")
      }
      LogStreamIndexOffset(node.asLong())
    }
  }
}

/** Legacy (round-1) offset: the full sorted set of already-ingested file
  * paths. Still deserializable for checkpoint compatibility; new offsets
  * are [[LogStreamIndexOffset]].
  */
final case class LogStreamOffset(files: Seq[String]) extends Offset {
  override def json(): String = LogMicroBatchStream.toJson(files)
}
