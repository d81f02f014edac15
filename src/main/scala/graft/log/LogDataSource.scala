package graft.log

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, SparkException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `log` source: text log files → typed rows via one
  * user-configured regex per line (the rebuild of the reference plugin's
  * entire surface — SURVEY.md §2A).
  *
  * Registration (`META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`)
  * is the Spark analogue of the reference's classpath-scanning registration
  * (`drill-module.conf:1`, `LogFormatPlugin.java:51-58`).
  *
  * Scale posture (SURVEY.md §7.2 P5): unlike the reference
  * (`blockSplittable=false`, `LogFormatPlugin.java:56` — 1 task per file,
  * even a 1 TB one), uncompressed files are split at
  * `spark.sql.files.maxPartitionBytes` boundaries and read with Hadoop
  * line-framing semantics, so a single huge log file fans out across the
  * cluster. Compressed files stay one-split-per-file unless the codec is
  * splittable (bzip2), matching `IS_COMPRESSIBLE` decompress-on-read
  * (`LogFormatPlugin.java:45`, `LogRecordReader.java:124-129`).
  */
class LogDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "log"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogOptions.fromMap(options).schema // all config validation at plan time (SURVEY.md §3.1)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = LogOptions.fromMap(new CaseInsensitiveStringMap(properties))
    new LogTable(schema, opts, LogDataSource.paths(properties.asScala.toMap))
  }
}

object LogDataSource {
  /** Extract load paths from DSV2 options: `path` (single) or `paths`
    * (JSON-encoded array, as the DataFrameReader writes it).
    */
  def paths(props: Map[String, String]): Seq[String] = {
    val multi = props.get("paths").toSeq.flatMap(LogMicroBatchStream.fromJson)
    val single = props.get("path").toSeq
    val all = multi ++ single
    require(all.nonEmpty, "[log] no input path specified")
    all
  }
}

final class LogTable(tableSchema: StructType, opts: LogOptions, paths: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"log(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LogScanBuilder(tableSchema, opts, paths)
}

/** Projection pruning AND predicate pushdown are real here: the reader
  * converts only required groups (the reference declares pushdown but
  * ignores it — `LogFormatPlugin.java:76-79`, SURVEY.md §4.1) and evaluates
  * claimed predicates before emitting rows, so at 100 TB a selective filter
  * shrinks scan output instead of materializing every line as a row.
  * Unsupported filters stay residual in Catalyst (SURVEY.md §4.1 optional
  * item; supported subset in [[LineParser.supportedFilter]]).
  */
final class LogScanBuilder(fullSchema: StructType, opts: LogOptions, paths: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pushedPart: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    // partition filters first (file-level pruning — strictly cheaper than
    // per-row evaluation); the classifiers are disjoint because partition
    // columns are never in fieldNames and vice versa (LogOptions validates)
    val (part, rest) = filters.partition(PartitionValues.supportedFilter(_, opts))
    val (ok, residual) = rest.partition(LineParser.supportedFilter(_, opts))
    pushed = ok
    pushedPart = part
    residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushedPart ++ pushed
  override def build(): Scan = new LogScan(required, opts, paths, pushed, pushedPart)
}

final class LogScan(
    private[log] val required: StructType,
    private[log] val opts: LogOptions,
    private[log] val paths: Seq[String],
    private[log] val pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    private[log] val pushedPart: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  /** Runtime (join-driven) partition pruning — the DSV2 analogue of
    * dynamic partition pruning: when this scan joins a filtered dimension
    * on a partition column, Spark re-plans the scan at EXECUTION time
    * with an `In(partCol, <build-side keys>)` filter derived from the
    * (usually reused-broadcast) build side. At 100 TB this prunes files
    * the STATIC filters can't: `logs JOIN dims ON logs.dt = dims.dt WHERE
    * dims.active` reads only the days the dimension selects.
    *
    * Every PATH field is offered ([[filterAttributes]]) — hive partition
    * columns, positional dir columns, and implicit file columns all prune
    * through the same [[PartitionValues.prunesIn]] machinery, so a join on
    * `year`/`dir0` over a plain yyyy/MM/dd tree prunes exactly like a join
    * on a hive `dt=`. A runtime filter on a regex-extracted DATA column is
    * never offered: it cannot skip whole files.
    * Pruning here is applied in [[planInputPartitions]] — NOT in
    * [[listedFiles]], which the optimizer's statistics probe may have
    * already forced at plan time (runtime filters arrive later, and
    * statistics must stay a plan-time quantity).
    */
  private var runtimeFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    opts.pathFields.map { case (n, _) =>
      org.apache.spark.sql.connector.expressions.Expressions.column(n)
    }.toArray

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    runtimeFilters = filters.filter(PartitionValues.supportedFilter(_, opts))

  // Value-based equality (runtime-filter state deliberately excluded —
  // BatchScanExec compares its runtime filters separately): lets Spark
  // reuse the scan/exchange when the same log table is scanned twice
  // with identical pushdown state.
  override def equals(other: Any): Boolean = other match {
    case o: LogScan =>
      required == o.required && opts == o.opts && paths == o.paths &&
        pushed.toSeq == o.pushed.toSeq && pushedPart.toSeq == o.pushedPart.toSeq
    case _ => false
  }
  override def hashCode(): Int =
    (required, opts, paths, pushed.toSeq, pushedPart.toSeq).hashCode()
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LogMicroBatchStream(opts, required, paths, checkpointLocation, pushed, pushedPart)
  override def description(): String =
    s"LogScan(pattern=${opts.pattern}, required=${required.fieldNames.mkString(",")}, " +
      s"pushed=[${pushed.mkString(", ")}], partitionFilters=[${pushedPart.mkString(", ")}])"

  /** One listing per Scan instance, shared by the optimizer's statistics
    * probe and execution's partition planning (a second metadata sweep of
    * a million-file directory would double the driver's listing cost).
    * Located statuses (block hosts) ride along for free on filesystems
    * that have them — they feed task locality below. The matched load
    * roots ride along too: positional dir columns are defined RELATIVE
    * to them. */
  private lazy val listing: (Seq[FileStatus], Seq[String]) = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val files = ArrayBuffer.empty[FileStatus]
    val dirs = ArrayBuffer.empty[Path]
    paths.foreach { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matched = Option(fs.globStatus(hp)).getOrElse(Array.empty)
      if (matched.isEmpty) throw new SparkException(s"[log] path not found: $p")
      matched.foreach { st =>
        if (st.isFile) files += st // explicit file: read regardless of extension
        else dirs += st.getPath
      }
    }
    files ++= LogScan
      .listRecursiveParallel(conf, dirs.toSeq, LogScan.listingThreads(spark))
      .filter(f => matchesExtension(f.getPath.getName))
    // path-sorted: listing-order independence makes the chunk sequence
    // (and therefore the packed partition set) deterministic
    (files.sortBy(_.getPath.toString).toSeq, dirs.map(_.toString).toSeq)
  }

  /** [[listing]] with claimed partition filters applied: whole files drop
    * HERE, before statistics, split planning and task launch — the
    * dominant scan lever on a date-partitioned tree (PartitionValues
    * scaladoc). */
  private lazy val listedFiles: Seq[FileStatus] = {
    val (files, roots) = listing
    if (pushedPart.isEmpty) files
    else files.filter(f => PartitionValues.prunesIn(pushedPart.toSeq,
      f.getPath.toString, opts, LogScan.rootOf(f.getPath.toString, roots)))
  }

  /** Without this, a DSV2 relation falls back to
    * `spark.sql.defaultSizeInBytes` (effectively infinite), so a 2 MB
    * lookup log joined against a 100 TB fact table would NEVER be
    * broadcast — the single worst silent plan for this source. Size =
    * listed bytes, adjusted three ways:
    *
    *  - codec-suffixed files are scaled UP by
    *    `spark.sql.sources.fileCompressionFactor` (Spark's own file
    *    sources do the same): gzip logs expand 10–20× in memory, and
    *    broadcasting a "2 MB" .gz that inflates to 40 MB blows the
    *    broadcast budget;
    *  - prorated by the projected column fraction, so a pruned scan
    *    competes for broadcast on what it actually ships;
    *  - discounted by a crude bounded selectivity for pushed DATA filters
    *    (the reader really does drop non-matching rows before emitting,
    *    so a selective scan ships far less than raw bytes). Equality-
    *    shaped filters count 0.2 each, range/prefix 0.5, floored at 0.05
    *    overall so stacked filters can never talk the optimizer into
    *    broadcasting more than 5% of a giant input on faith. Partition
    *    filters need no prior: `listedFiles` is already pruned by them,
    *    so their effect on the byte total is EXACT.
    *
    * Row count stays unknown (lines are not counted at plan time). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val sqlConf = org.apache.spark.sql.GraftSql.sqlConf(SparkSession.active)
    val compFactor = math.max(1.0, sqlConf.fileCompressionFactor)
    val total = listedFiles.map { f =>
      val name = f.getPath.getName.toLowerCase(java.util.Locale.ROOT)
      if (LogScan.CodecSuffixes.exists(name.endsWith))
        math.ceil(f.getLen * compFactor).toLong
      else f.getLen
    }.sum
    val declared = math.max(opts.schema.length, 1)
    val frac = math.min(1.0, math.max(required.length, 1).toDouble / declared)
    val sel = LogScan.filterSelectivity(pushed)
    val size = math.max(1L, math.ceil(total * frac * sel).toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  // planning observability, populated by [[planInputPartitions]] and
  // surfaced through [[reportDriverMetrics]]: partition pruning (static +
  // runtime) is otherwise provable only in tests and description() — at
  // run time "did the one-day filter really skip 364/365ths of the tree"
  // should be readable off the UI like matched/unmatched lines are
  private var plannedFilesRead = 0L
  private var plannedBytesRead = 0L
  private var plannedFilesPruned = 0L
  private var plannedBytesPruned = 0L

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    // runtime filters prune here (execution re-plan), on top of the
    // statically-pruned listing
    val (allFiles, roots) = listing
    val files =
      if (runtimeFilters.isEmpty) listedFiles
      else listedFiles.filter(f =>
        PartitionValues.prunesIn(runtimeFilters.toSeq, f.getPath.toString, opts,
          LogScan.rootOf(f.getPath.toString, roots)))
    plannedFilesRead = files.size.toLong
    plannedBytesRead = files.map(_.getLen).sum
    plannedFilesPruned = allFiles.size.toLong - plannedFilesRead
    plannedBytesPruned = allFiles.map(_.getLen).sum - plannedBytesRead
    val maxSplit = LogScan.splitSize(spark, files)
    LogScan.pack(
      LogScan.chunkFiles(files, opts, conf, maxSplit, roots),
      maxSplit,
      org.apache.spark.sql.GraftSql.sqlConf(spark).filesOpenCostInBytes)
  }

  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def m(n: String, v: Long) = new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    Array(m("filesRead", plannedFilesRead), m("bytesRead", plannedBytesRead),
      m("filesPruned", plannedFilesPruned), m("bytesPruned", plannedBytesPruned))
  }

  private def matchesExtension(name: String): Boolean =
    LogScan.matchesExtension(name, opts.extensions)

  // the conf is snapshotted here, at execution, and shipped once per scan;
  // Spark's ContextCleaner releases the broadcast with the plan
  override def createReaderFactory(): PartitionReaderFactory =
    new LogPartitionReaderFactory(opts, required, pushed,
      SerializableHadoopConf.broadcast(SparkSession.active.sparkContext))

  /** Scan observability (Spark UI / metrics API): per-task matched vs
    * unmatched vs dropped line counts answer "is my pattern actually
    * matching" without a second `count(unmatched_lines)` pass over the
    * corpus; driver-side files/bytes read vs pruned make partition
    * pruning visible at run time ([[reportDriverMetrics]]). */
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new MatchedLinesMetric, new UnmatchedLinesMetric, new DroppedLinesMetric,
      new FilesReadMetric, new BytesReadMetric, new FilesPrunedMetric, new BytesPrunedMetric)
}

// Metric classes must be top-level with zero-arg constructors: Spark's
// metrics listener re-instantiates them reflectively by class name.
final class FilesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesRead"
  override def description(): String = "files read after partition pruning"
}

final class BytesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "bytes read after partition pruning"
}

final class FilesPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "filesPruned"
  override def description(): String = "files pruned by partition filters (static + runtime)"
}

final class BytesPrunedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "bytesPruned"
  override def description(): String = "bytes pruned by partition filters (static + runtime)"
}

final class MatchedLinesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "matchedLines"
  override def description(): String = "lines matched by the pattern"
}

final class UnmatchedLinesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "unmatchedLines"
  override def description(): String = "lines routed to unmatched_lines"
}

final class DroppedLinesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "droppedLines"
  override def description(): String = "lines dropped (DROPMALFORMED or pushed filters)"
}

object LogScan {
  val CodecSuffixes = Seq(".gz", ".bz2", ".deflate", ".snappy", ".lz4", ".zst")

  /** Filesystems whose listLocatedStatus returns REAL block locations in
    * the same RPC (HDFS and its federation/HTTP faces) — everywhere else
    * located listing fabricates per-file block info at up to ~170x the
    * plain-listing cost (dev/SCALE_CURVE.md). */
  val LocatedSchemes: Set[String] = Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Crude, bounded selectivity for pushed filters, used only to size the
    * scan for broadcast decisions (never for correctness). Without
    * per-column stats the honest choice is a fixed prior per filter
    * SHAPE: equality-like predicates (EqualTo/In/IsNull — expected to
    * match few rows) 0.2 each, range/prefix/inequality 0.5 each,
    * anything else 0.9. The product is floored at 0.05: stacked filters
    * may be correlated (or all true), and under-reporting a 100 GB scan
    * down to broadcast size on a faith-based estimate is the failure
    * mode a floor makes impossible — 5% of anything genuinely large is
    * still far over any broadcast threshold. */
  def filterSelectivity(pushed: Array[org.apache.spark.sql.sources.Filter]): Double = {
    import org.apache.spark.sql.sources._
    if (pushed.isEmpty) 1.0
    else {
      val product = pushed.map {
        case _: EqualTo | _: EqualNullSafe | _: In | _: IsNull => 0.2
        case _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
            _: LessThanOrEqual | _: StringStartsWith | _: StringEndsWith |
            _: StringContains => 0.5
        case _ => 0.9
      }.product
      math.max(0.05, product)
    }
  }

  /** Listing fan-out: one thread per core up to a remote-store-friendly
    * cap (matches Spark's own listing parallelism ceiling posture — the
    * bound is the metadata service's tolerance, not CPU). */
  val MaxListingThreads = 64
  def listingThreads(spark: SparkSession): Int =
    math.min(MaxListingThreads, math.max(1, spark.sparkContext.defaultParallelism))

  /** Parallel recursive directory listing (the `InMemoryFileIndex`
    * posture, replacing the serial recursive `listStatus` walk that was
    * the last driver-side bottleneck at millions of files): BFS over the
    * tree, each level's `listStatus` calls fanned across a bounded
    * thread pool, so wall-clock scales with tree DEPTH plus
    * (#dirs-per-level / threads) RPC rounds instead of total directory
    * count. Returns FILES only (callers apply extension routing);
    * deterministic regardless of pool scheduling because each
    * directory's children are collected into that directory's own slot
    * (`invokeAll` preserves task order) — and downstream sorts by path
    * anyway. */
  def listRecursiveParallel(
      conf: Configuration,
      roots: Seq[Path],
      threads: Int): Seq[FileStatus] = {
    import java.util.concurrent.{Callable, Executors}
    if (roots.isEmpty) return Nil
    val files = ArrayBuffer.empty[FileStatus]
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      var frontier: Seq[Path] = roots
      while (frontier.nonEmpty) {
        val tasks: Seq[Callable[Array[FileStatus]]] = frontier.map { p =>
          new Callable[Array[FileStatus]] {
            // located listing ONLY where block locations are real (HDFS):
            // hosts arrive in the same RPC and drive task locality. On
            // every other filesystem listLocatedStatus fabricates per-file
            // block info nobody can use — measured 170x slower than plain
            // listStatus on local fs (dev/SCALE_CURVE.md round-12: 15.1 s
            // vs 0.09 s over 3000 dirs), and object stores pay an extra
            // HEAD per file. Spark's InMemoryFileIndex makes the same
            // split (DistributedFileSystem => located, else plain).
            override def call(): Array[FileStatus] = {
              val fs = p.getFileSystem(conf)
              // base FileSystem.getScheme throws; a custom FS without an
              // override must not fail the whole listing
              val scheme = try fs.getScheme catch { case _: Exception => "" }
              if (LogScan.LocatedSchemes.contains(scheme)) {
                val out = ArrayBuffer.empty[FileStatus]
                val it = fs.listLocatedStatus(p)
                while (it.hasNext) out += it.next()
                out.toArray
              } else fs.listStatus(p)
            }
          }
        }
        val next = ArrayBuffer.empty[Path]
        pool.invokeAll(tasks.asJava).asScala.foreach { fut =>
          // unwrap ExecutionException so callers see the I/O error itself
          val children =
            try fut.get()
            catch {
              case e: java.util.concurrent.ExecutionException =>
                throw Option(e.getCause).getOrElse(e)
            }
          children.foreach { st => if (st.isFile) files += st else next += st.getPath }
        }
        frontier = next.toSeq
      }
    } finally pool.shutdown()
    files.toSeq
  }

  /** Split sizing: Spark's own `FilePartition.maxSplitBytes` formula —
    * bounded by `maxPartitionBytes`, floored at `openCostInBytes`,
    * targeting `defaultParallelism` partitions over the batch's bytes — so
    * local[32] and a 1000-executor cluster both get sensible fan-out.
    */
  def splitSize(spark: SparkSession, files: Seq[FileStatus]): Long = {
    val sqlConf = org.apache.spark.sql.GraftSql.sqlConf(spark)
    val openCost = sqlConf.filesOpenCostInBytes
    val totalBytes = files.map(_.getLen + openCost).sum
    val bytesPerCore = totalBytes / math.max(spark.sparkContext.defaultParallelism, 1)
    math.min(sqlConf.filesMaxPartitionBytes, math.max(openCost, bytesPerCore))
  }

  /** The ONE chunker for batch and streaming scans: splittable files split
    * at `maxSplit` boundaries, whole-file chunks otherwise. Multi-line
    * framing tracks record ownership by uncompressed byte offset
    * (LineRecordReader's position), which a splittable codec's
    * compressed-stream positions don't satisfy — bzip2 falls back to one
    * chunk per file when `recordStartPattern` is set; uncompressed files
    * still split (the boundary protocol in LogPartitionReader).
    */
  def chunkFiles(
      files: Seq[FileStatus],
      opts: LogOptions,
      conf: org.apache.hadoop.conf.Configuration,
      maxSplit: Long,
      roots: Seq[String] = Nil): Seq[LogChunk] = {
    val codecs = new CompressionCodecFactory(conf)
    val chunks = ArrayBuffer.empty[LogChunk]
    files.foreach { f =>
      val codec = codecs.getCodec(f.getPath)
      // non-ASCII-transparent charsets (UTF-16LE/BE) can straddle the
      // delimiter bytes across two characters, so a mid-file split could
      // mis-frame its first/last record — whole-file chunks only
      // (LogOptions.splitSafeEncoding)
      val splittable = opts.splitSafeEncoding && (codec == null ||
        (opts.recordStartPattern.isEmpty && codec.isInstanceOf[SplittableCompressionCodec]))
      // partition values ride on every chunk of the file: per-chunk
      // constants the reader stamps onto rows (typed validation happens
      // here, at planning — a malformed segment fails before task launch)
      val pv = PartitionValues.rawValues(f.getPath.toString, opts,
        rootOf(f.getPath.toString, roots))
      if (!splittable || f.getLen == 0) {
        chunks += LogChunk(f.getPath.toString, 0, f.getLen, f.getLen,
          chunkHosts(f, 0, f.getLen), pv)
      } else {
        var offset = 0L
        while (offset < f.getLen) {
          val len = math.min(maxSplit, f.getLen - offset)
          chunks += LogChunk(f.getPath.toString, offset, len, f.getLen,
            chunkHosts(f, offset, len), pv)
          offset += len
        }
      }
    }
    chunks.toSeq
  }

  /** Bin-pack chunks into partitions of ~maxSplit bytes (Spark's
    * FilePartition packing: largest-first greedy, `openCost` padding per
    * chunk) — a million small log files must NOT become a million tasks.
    */
  def pack(chunks: Seq[LogChunk], maxSplit: Long, openCost: Long): Array[InputPartition] = {
    val parts = ArrayBuffer.empty[InputPartition]
    val current = ArrayBuffer.empty[LogChunk]
    var currentBytes = 0L
    chunks.sortBy(-_.length).foreach { c =>
      val cost = c.length + openCost
      if (current.nonEmpty && currentBytes + cost > maxSplit) {
        parts += LogInputPartition(current.toArray)
        current.clear()
        currentBytes = 0L
      }
      current += c
      currentBytes += cost
    }
    if (current.nonEmpty) parts += LogInputPartition(current.toArray)
    parts.toArray
  }

  /** Block hosts overlapping a file's [start, start+len) byte range,
    * best-first by overlapped bytes (top 3, the FilePartition cut) —
    * only meaningful for `LocatedFileStatus` from a block-tracking
    * filesystem; anything else gets no locality preference. */
  def chunkHosts(f: FileStatus, start: Long, len: Long): Seq[String] = f match {
    case lf: org.apache.hadoop.fs.LocatedFileStatus =>
      topHostsByBytes(lf.getBlockLocations.iterator.flatMap { b =>
        val overlap = math.min(b.getOffset + b.getLength, start + len) -
          math.max(b.getOffset, start)
        if (overlap > 0) b.getHosts.iterator.map(_ -> overlap) else Iterator.empty
      }).toSeq
    case _ => Nil
  }

  /** Top 3 hosts by summed bytes, host-name tie-break for determinism. */
  def topHostsByBytes(weighted: Iterator[(String, Long)]): Array[String] = {
    val bytes = scala.collection.mutable.HashMap.empty[String, Long]
    weighted.foreach { case (h, n) => bytes.update(h, bytes.getOrElse(h, 0L) + n) }
    bytes.toSeq.sortBy { case (h, n) => (-n, h) }.take(3).map(_._1).toArray
  }

  /** The matched load root a file was listed under: longest root whose
    * URI path prefixes the file's (roots are real ancestors, so longest
    * wins when paths nest). Empty for explicitly-listed files — their
    * positional dir columns read NULL (Drill's file-at-workspace-root
    * semantics). */
  def rootOf(path: String, roots: Seq[String]): String = {
    def up(s: String) = new Path(s).toUri.getPath.stripSuffix("/")
    val p = up(path)
    roots.filter(r => p.startsWith(up(r) + "/"))
      .sortBy(r => -up(r).length).headOption.getOrElse("")
  }

  /** Glob-expand `paths` to their matched DIRECTORY roots (the streaming
    * planner's counterpart of the batch listing's retained roots). */
  def dirRoots(conf: Configuration, paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      val hp = new Path(p)
      Option(hp.getFileSystem(conf).globStatus(hp)).getOrElse(Array.empty)
        .filterNot(_.isFile).map(_.getPath.toString).toSeq
    }

  /** Extension routing (`LogFormatPlugin.java:96-104`): a directory scan
    * includes `*.{ext}` plus compressed variants `*.{ext}.{codec}`.
    */
  def matchesExtension(name: String, extensions: Seq[String]): Boolean = {
    val base = CodecSuffixes.foldLeft(name) { (n, suf) =>
      if (n.endsWith(suf)) n.dropRight(suf.length) else n
    }
    extensions.exists(ext => base.endsWith("." + ext))
  }
}

final case class LogChunk(
    path: String,
    start: Long,
    length: Long,
    fileLen: Long,
    hosts: Seq[String] = Nil,
    // raw (unescaped) partition value per declared partitionSchema field,
    // in declaration order; null = hive default (null) partition
    partValues: Array[String] = Array.empty)

/** One task's work: one or more file chunks read sequentially.
  * `preferredLocations` feeds Spark's locality-aware scheduling: the top
  * hosts by bytes across the partition's chunks (the FilePartition
  * recipe), so on an HDFS-class store tasks land where their blocks
  * live instead of pulling 100 TB across the fabric. Empty on object
  * stores / local FS — Spark then schedules anywhere, unchanged.
  */
final case class LogInputPartition(chunks: Array[LogChunk]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    LogScan.topHostsByBytes(chunks.iterator.flatMap(c => c.hosts.map(_ -> c.length)))
}

/** `conf` is the readers' Hadoop conf, one broadcast per batch scan or
  * per stream: a task deserializes only its handle and reads the one copy
  * its executor caches. */
final class LogPartitionReaderFactory(
    opts: LogOptions,
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    conf: Broadcast[SerializableHadoopConf])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LogPartitionReader(
      partition.asInstanceOf[LogInputPartition], opts, required, pushed.toSeq, conf.value.value)
}

/** One partition (one or more file chunks) → rows. Uses Hadoop's
  * `LineRecordReader`, which gives exactly the semantics the reference's
  * `BufferedReader.readLine()` loop has (`LogRecordReader.java:202-212`)
  * plus correct split-boundary handling (skip partial first line, read past
  * `end` to finish the last line) and decompress-on-read for codec'd files.
  *
  * With `recordStartPattern` set, lines are assembled into MULTI-LINE
  * records before parsing: a record begins at a line matching the pattern
  * and absorbs following non-matching lines. Split-boundary protocol
  * (mirrors LineRecordReader's line ownership, lifted to records): a
  * record belongs to the chunk whose byte range contains its start line's
  * first byte (boundary line at exactly `end` belongs to THIS chunk,
  * matching LRR's `position <= end` read condition — the next chunk's LRR
  * skips that same line). Each reader opens its chunk with the FileSplit
  * extended to EOF so it can finish a record that straddles the boundary,
  * stops accepting NEW records once a start line begins past `end`, and
  * skips leading non-matching lines when `start != 0` (they are the tail
  * of the previous chunk's record, which that reader completes).
  */
final class LogPartitionReader(
    part: LogInputPartition,
    opts: LogOptions,
    required: StructType,
    pushed: Seq[org.apache.spark.sql.sources.Filter],
    conf: Configuration)
    extends PartitionReader[InternalRow] {

  // Partition columns are per-chunk CONSTANTS, not regex output: the
  // parser sees only the data columns; requested partition columns are
  // stamped onto each emitted row below (zero per-row parse cost).
  private val partOrdinals: Array[Int] = required.fields.zipWithIndex.collect {
    case (f, ord) if opts.partitionNames(f.name.toLowerCase(java.util.Locale.ROOT)) => ord
  }
  private val dataRequired: StructType = StructType(required.fields.filterNot(f =>
    opts.partitionNames(f.name.toLowerCase(java.util.Locale.ROOT))))
  private val dataOrdinals: Array[Int] = required.fields.zipWithIndex.collect {
    case (f, ord) if !opts.partitionNames(f.name.toLowerCase(java.util.Locale.ROOT)) => ord
  }
  // declared-order index + type of each REQUIRED partition column, for
  // converting the chunk's raw values
  private val partDecl: Array[(Int, String, String)] = partOrdinals.map { ord =>
    val name = required.fields(ord).name
    val di = opts.pathFields.indexWhere(_._1.equalsIgnoreCase(name))
    (di, opts.pathFields(di)._2, name)
  }

  private val parser = new LineParser(opts, dataRequired, pushed)
  // byte→text decoding (the `encoding` option): Hadoop's Text assumes
  // UTF-8, so any other charset decodes from the raw framed bytes.
  private val charset = java.nio.charset.Charset.forName(opts.encoding)
  private val isUtf8 = charset == java.nio.charset.StandardCharsets.UTF_8
  // single-line UTF-8 records reach the parser as their framed bytes
  // (LinePattern: ASCII lines are never decoded); multi-line
  // records and other charsets are assembled / decoded as Strings
  private val byteLines = isUtf8 && opts.recordStartPattern.isEmpty
  // custom framing bytes (the `lineSep` option), encoded under the same
  // charset the lines decode with
  private val delimBytes: Array[Byte] = opts.lineSep.map(_.getBytes(charset)).orNull
  // a BOM on the file's FIRST line decodes to U+FEFF and would silently
  // corrupt the first row's first field; strip it once per file
  private var pendingBom = false
  // does a line begin a multi-line record? Matched as the field pattern
  // is (LinePattern): under the same regexMaxSteps budget, for it faces
  // the same backtracking hazard once per line; null = single-line records
  private val startMatcher: LinePattern.Matcher = opts.recordStartPattern.map(p =>
    new LinePattern(p, opts.regexMaxSteps, opts.regexBudgetExplicit,
      s"'$p' (recordStartPattern)").matcher()).orNull
  /** Line framing, abstracted over the two decode orders. Split-safe
    * (ASCII-transparent) charsets frame in BYTE space via Hadoop's
    * `LineRecordReader` — splittable, zero-copy, the hot path. Anything
    * else (UTF-16LE/BE, EBCDIC) must decode FIRST and frame in CHARACTER
    * space: a byte-aligned delimiter scan can false-match a delimiter
    * byte sequence straddling two characters (U+0A41 U+4100 in UTF-16LE
    * contains the 0A 00 bytes of '\n'), silently mis-framing records.
    * Those files arrive as whole-file chunks (LogScan.chunkFiles), so the
    * char path never needs split positions. */
  private sealed trait Frames {
    def advance(): Boolean
    def pos: Long
    def rawLine(): String
    def close(): Unit
  }

  private final class HadoopFrames(split: FileSplit) extends Frames {
    private val rr =
      if (delimBytes != null) new LineRecordReader(delimBytes) else new LineRecordReader()
    // the broadcast JobConf is wrapped uncopied (JobContextImpl copies any
    // other Configuration whole, once per chunk) and only read
    rr.initialize(split, new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    def advance(): Boolean = rr.nextKeyValue()
    def pos: Long = rr.getCurrentKey.get()
    def text: org.apache.hadoop.io.Text = rr.getCurrentValue
    def rawLine(): String = {
      val t = rr.getCurrentValue
      if (isUtf8) t.toString else new String(t.getBytes, 0, t.getLength, charset)
    }
    def close(): Unit = rr.close()
  }

  private final class CharFrames(path: Path) extends Frames {
    private val in: java.io.InputStream = {
      val fs = path.getFileSystem(conf)
      val raw = fs.open(path)
      val codec =
        new org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(path)
      if (codec != null) codec.createInputStream(raw) else raw
    }
    private val rdr =
      new java.io.BufferedReader(new java.io.InputStreamReader(in, charset), 64 * 1024)
    private val sep: String = opts.lineSep.orNull
    private val sb = new java.lang.StringBuilder
    private var cur: String = _
    private var eof = false
    def advance(): Boolean = { cur = nextLine(); cur != null }
    def pos: Long = -1L // whole-file chunk: ownership protocol never consulted
    def rawLine(): String = cur
    private def nextLine(): String = {
      if (sep == null) return rdr.readLine() // universal \n | \r\n | \r
      if (eof) return null
      sb.setLength(0)
      var ci = rdr.read()
      while (ci >= 0) {
        sb.append(ci.toChar)
        if (sb.length >= sep.length && bufEndsWithSep()) {
          sb.setLength(sb.length - sep.length)
          return sb.toString
        }
        ci = rdr.read()
      }
      eof = true
      if (sb.length == 0) null else sb.toString
    }
    private def bufEndsWithSep(): Boolean = {
      val off = sb.length - sep.length
      var j = 0
      while (j < sep.length) {
        if (sb.charAt(off + j) != sep.charAt(j)) return false
        j += 1
      }
      true
    }
    def close(): Unit = rdr.close()
  }

  private var chunkIdx = -1
  private var reader: Frames = _
  private var current: InternalRow = _
  private var parsed: InternalRow = _ // parseNext's result
  // internal-typed partition values of the current chunk, one per
  // REQUIRED partition column (partOrdinals order)
  private var partVals: Array[Any] = Array.empty
  // multi-line assembly state, reset per chunk
  private var chunkEnd = 0L
  private var atFileHead = false
  private var chunkDone = false
  private var buf: java.lang.StringBuilder = _

  private def openNextChunk(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    chunkIdx += 1
    if (chunkIdx >= part.chunks.length) return false
    val c = part.chunks(chunkIdx)
    // multi-line: extend the split to EOF so a boundary-straddling record
    // can be finished; record ownership (chunkEnd) still follows c.length
    val readLen = if (startMatcher != null) c.fileLen - c.start else c.length
    reader =
      if (opts.splitSafeEncoding)
        new HadoopFrames(new FileSplit(new Path(c.path), c.start, readLen, Array.empty[String]))
      else new CharFrames(new Path(c.path))
    // a chunk that reaches EOF has no successor — never stop early (also
    // covers compressed files, whose LRR positions are decompressed bytes
    // while chunk lengths are compressed bytes; those are whole-file chunks)
    chunkEnd = if (c.start + c.length >= c.fileLen) Long.MaxValue else c.start + c.length
    atFileHead = c.start == 0
    pendingBom = c.start == 0 // only the head chunk can carry the BOM
    chunkDone = false
    buf = null
    partVals = partDecl.map { case (di, tpe, name) =>
      PartitionValues.toInternal(c.partValues(di), tpe, name, c.path)
    }
    true
  }

  /** Stamp the chunk's partition constants onto a parsed row (identity
    * when no partition column is required — the common path stays
    * allocation-free). */
  private def assemble(dataRow: InternalRow): InternalRow = {
    if (partOrdinals.isEmpty) return dataRow
    val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(required.length)
    var i = 0
    while (i < dataOrdinals.length) {
      out.update(dataOrdinals(i), dataRow.get(i, dataRequired.fields(i).dataType))
      i += 1
    }
    var j = 0
    while (j < partOrdinals.length) {
      out.update(partOrdinals(j), partVals(j))
      j += 1
    }
    out
  }

  /** The current framed line, decoded under the configured charset; a BOM
    * heading the file's first line is stripped. */
  private def currentLine(): String = {
    var s = reader.rawLine()
    if (pendingBom) {
      pendingBom = false
      if (s.nonEmpty && s.charAt(0) == '\uFEFF') s = s.substring(1)
    }
    s
  }

  /** Next framed record of the current chunk (single line, or assembled
    * multi-line block), null when the chunk is exhausted.
    */
  private def nextRecord(): String = {
    if (startMatcher == null) {
      if (reader.advance()) currentLine() else null
    } else nextMultilineRecord()
  }

  private def flushBuf(): String = {
    val s = if (buf == null) null else buf.toString
    buf = null
    s
  }

  private def nextMultilineRecord(): String = {
    if (chunkDone) return null
    while (reader.advance()) {
      val pos = reader.pos
      val line = currentLine()
      if (startMatcher.find(line)) {
        if (pos > chunkEnd) { // next chunk's record: finish ours and stop
          chunkDone = true
          return flushBuf()
        }
        val prev = flushBuf()
        buf = new java.lang.StringBuilder(line)
        if (prev != null) return prev
      } else if (buf != null) {
        buf.append('\n').append(line) // continuation (blank lines kept)
        if (buf.length > opts.recordMaxBytes) {
          // fail loudly instead of OOMing the executor: the usual cause is
          // a recordStartPattern that matches (almost) nothing, silently
          // turning the whole file into one record
          throw new IllegalStateException(
            s"[log] multi-line record exceeds recordMaxBytes=" +
              s"${opts.recordMaxBytes} chars (starts near byte $pos of " +
              s"${part.chunks(chunkIdx).path}); check recordStartPattern " +
              "or raise the recordMaxBytes option")
        }
      } else if (atFileHead && line.trim.nonEmpty) {
        // file preamble before the first start line (e.g. a MySQL log
        // header): one record, routed by the normal unmatched-line rules
        buf = new java.lang.StringBuilder(line)
      } else if (pos > chunkEnd) {
        // past our byte range with nothing buffered: every remaining line
        // is a continuation of a record some earlier chunk owns (or a
        // record a later chunk starts) — stop instead of scanning to EOF,
        // which would make N readers re-read the file tail
        chunkDone = true
        return null
      }
      // else: tail of the previous chunk's record — that reader emits it
    }
    chunkDone = true
    flushBuf()
  }

  /** Parse the chunk's next record into `parsed` (null for a blank line or
    * one the parser does not emit); false when the chunk is exhausted. */
  private def parseNext(): Boolean = {
    parsed = null
    if (byteLines) {
      if (!reader.advance()) return false
      val t = reader.asInstanceOf[HadoopFrames].text
      val b = t.getBytes
      val end = t.getLength
      var off = 0
      if (pendingBom) { // the UTF-8 BOM, EF BB BF, heading the file
        pendingBom = false
        if (end >= 3 && b(0) == 0xEF.toByte && b(1) == 0xBB.toByte && b(2) == 0xBF.toByte) off = 3
      }
      // empty-line skip, LRR:216-219: String.trim's blank (every char
      // <= U+0020) read on bytes, where any non-ASCII byte is non-blank
      var i = off
      while (i < end && (b(i) & 0xff) <= 0x20) i += 1
      if (i < end) parsed = parser.parseUtf8(b, off, end - off)
    } else {
      val rec = nextRecord()
      if (rec == null) return false
      if (rec.trim.nonEmpty) parsed = parser.parse(rec) // empty-line skip, LRR:216-219
    }
    true
  }

  override def next(): Boolean = {
    while (reader != null || openNextChunk()) {
      // parse and start-pattern errors name the chunk's file
      while (
        try parseNext()
        catch {
          case e: SparkException => throw new SparkException(
            s"${e.getMessage} (file=${part.chunks(chunkIdx).path})", e.getCause)
        }) {
        // null = blank, or not emitted (DROPMALFORMED or a pushed filter)
        if (parsed != null) {
          current = assemble(parsed)
          return true
        }
      }
      reader.close()
      reader = null
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (reader != null) reader.close()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def m(n: String, v: Long) = new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    Array(m("matchedLines", parser.matchedCount),
      m("unmatchedLines", parser.unmatchedCount),
      m("droppedLines", parser.droppedCount))
  }
}

/** Hadoop `Configuration` is not `Serializable`; ship it via its own
  * `write`/`readFields` wire format (same trick Spark uses internally),
  * under Java serialization and under Kryo alike, for a broadcast is
  * written with `spark.serializer`.
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable with KryoSerializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    readConf(in)
  }
  override def write(kryo: Kryo, out: Output): Unit = value.write(new java.io.DataOutputStream(out))
  override def read(kryo: Kryo, in: Input): Unit = readConf(new java.io.DataInputStream(in))
  // a JobConf, so the reader's per-chunk TaskAttemptContextImpl uses it as
  // is (JobContextImpl copies any other Configuration, all ~1k entries)
  private def readConf(in: java.io.DataInput): Unit = {
    value = new JobConf(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  /** The readers' conf for one scan or stream: a snapshot of the
    * context's Hadoop conf, taken now, in one broadcast. The executor
    * side only reads it (`LineRecordReader.initialize`). */
  def broadcast(sc: SparkContext): Broadcast[SerializableHadoopConf] =
    sc.broadcast(new SerializableHadoopConf(new JobConf(sc.hadoopConfiguration)))
}
