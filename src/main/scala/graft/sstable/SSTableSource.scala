package graft.sstable

import java.util
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

/** DataSourceV2 reader for Cassandra SSTable Data.db files
  * (`spark.read.format("sstable").load(dir)`), covering SURVEY §2.1
  * S1–S8 Spark-side:
  *
  *  - recursive discovery of `*-Data.db` (hidden files skipped);
  *  - row-boundary split planning from Index.db sidecars targeting
  *    `blocksize` bytes per partition (S2/S3) — Spark's byte-range
  *    file splitting cannot cut this format safely;
  *  - compressed sstables (CompressionInfo.db in the same dir or a
  *    ±1-minute Priam sibling dir) become one unsplit partition whose
  *    logical end is the uncompressed length (S4/S5);
  *  - per-partition corrupt-file absorb with an accumulator +
  *    driver-side threshold assert (A3) when `skipCorrupt=true`;
  *  - column pruning pushdown (F6).
  *
  * Options: `blocksize` (long, default 64 MiB), `skipCorrupt`
  * (boolean, default false), `version` (force format version),
  * `latestBatchOnly` (boolean, default false — walk only the latest
  * `batch_id=NNN` sibling dir, the reference DirectoryWalker's
  * batched mode).
  */
class SSTableSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstable"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SSTableSource.schemaFor(options.asScala.toMap)
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SSTableTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = false
}

object SSTableSource {
  /** Atom schema — field names match [[AtomRec]] so `.as[AtomRec]`
    * works directly. */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("rowDeletedAt", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("name", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("ts", LongType, nullable = true),
    StructField("ttl", IntegerType, nullable = true),
    StructField("localDeletionTime", IntegerType, nullable = true),
    StructField("tsOfLastDelete", LongType, nullable = true),
    StructField("rtMax", BinaryType, nullable = true)))

  /** last scan's corrupt-file accumulator, for the driver-side
    * threshold check (reference `Aegisthus.java:246-257`). */
  @volatile var corruptFiles: Option[LongAccumulator] = None

  /** Marshal-type reader options (the `CFMetadataUtility` analog,
    * reference `Aegisthus.java:102-111`): a `cql` CREATE TABLE option
    * derives keyType (partition key marshal) and columnType (the CQL3
    * clustering comparator); explicit `keyType` / `columnType` marshal
    * names override. Resolved types are validated here (fail fast at
    * plan time) and published as metadata on the `key`/`name` schema
    * fields, where [[graft.GraftSSTable.compact]] picks the comparator
    * up without re-configuration.
    * NOTE: DSv2 lowercases option keys. */
  def schemaFor(options: Map[String, String]): StructType = {
    val opts = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
    val fromCql = opts.get("cql").map(graft.cql.CqlTable.parse)
    val keyType = opts.get("keytype").orElse(fromCql.map(_.keyMarshal.typeName))
    val colType = opts.get("columntype").orElse(fromCql.map(_.comparatorMarshal.typeName))
    keyType.foreach(CassType.parse) // validate
    colType.foreach(CassType.parse)
    if (keyType.isEmpty && colType.isEmpty) Schema
    else StructType(Schema.fields.map { f =>
      val meta = f.name match {
        case "key" if keyType.isDefined =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString("keyType", keyType.get).build()
        case "name" if colType.isDefined =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString("columnType", colType.get).build()
        case _ => f.metadata
      }
      f.copy(metadata = meta)
    })
  }

  /** `path`/`paths` option parsing shared by both DSv2 sources. */
  def optionPaths(options: Map[String, String], sourceName: String): Seq[String] =
    options.get("paths")
      .map(p => p.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
      .orElse(options.get("path").map(Seq(_)))
      .getOrElse(throw new IllegalArgumentException(s"$sourceName source requires a path"))

  /** Glob-expand a possibly-wildcarded path (plain existing paths pass
    * through as themselves). */
  def expandGlob(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val matched = fs.globStatus(p)
    require(matched != null && matched.nonEmpty, s"Path not found: $p")
    matched.toSeq
  }

  def isHidden(p: Path): Boolean = {
    var cur = p
    while (cur != null) {
      val n = cur.getName
      if (n.startsWith("_") || n.startsWith(".")) return true
      cur = cur.getParent
    }
    false
  }

  /** `batch_?id=NNN` sibling-directory pattern (the reference
    * DirectoryWalker's batched mode, `tools/DirectoryWalker.java:156`). */
  private val BatchDir = java.util.regex.Pattern.compile("batch_?id=[0-9]+/?$")

  /** Recursive `*-Data.db` discovery (S8). With `latestBatchOnly`
    * (reader option, default off — the reference's opt-in
    * `DirectoryWalker.batched` mode), each directory's `batch_id=NNN`
    * children are pruned to the single greatest one by URI STRING
    * compare — the reference's comparison verbatim
    * (`DirectoryWalker.java:167-177`), quirk included: `batch_id=9`
    * outranks `batch_id=10` lexicographically, so producers must
    * zero-pad batch numbers, exactly as with the reference.
    * Unlike the reference (which keys on the first listed child and
    * then maxes over ALL children), the prune here considers only the
    * batch-matching children and passes non-batch siblings through —
    * immune to filesystem listing order and to a lexicographically
    * greater non-batch sibling (e.g. `snapshots/`) swallowing the
    * batches. */
  def listDataFiles(fs: FileSystem, root: Path,
                    latestBatchOnly: Boolean = false): Seq[FileStatus] = {
    val out = ArrayBuffer[FileStatus]()
    def walk(dir: Path): Unit = {
      var children = fs.listStatus(dir)
      if (latestBatchOnly) {
        val (batchKids, rest) =
          children.partition(st => BatchDir.matcher(st.getPath.toString).find())
        if (batchKids.nonEmpty)
          children = rest :+ batchKids.maxBy(_.getPath.toUri.toString)
      }
      children.foreach { st =>
        if (isHidden(st.getPath)) ()
        else if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith("-Data.db") && st.getLen > 0) out += st
      }
    }
    val rootStatus = fs.getFileStatus(root)
    if (rootStatus.isDirectory) walk(root)
    else if (rootStatus.getLen > 0 && root.getName.endsWith("-Data.db")) out += rootStatus
    out.toSeq
  }

  /** Split-planning pool width (the reference's 20 threads,
    * `AegisthusInputFormat.java:205-206`). */
  val PlannerThreads = 20

  /** Plan every file's splits on a bounded thread pool, preserving
    * file order. Each file costs 1-3 sidecar round-trips (exists
    * probes + Index/CompressionInfo reads) — serial planning of a
    * 100k-file snapshot on an object store would stall the driver for
    * tens of minutes before the first task launches. */
  def planFilesParallel(
      files: Seq[(FileSystem, FileStatus)],
      blocksize: Long,
      forcedVersion: Option[String]): Seq[SSTablePartition] = {
    if (files.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(PlannerThreads, files.size))
    try {
      files.map { case (fs, st) =>
        pool.submit(new java.util.concurrent.Callable[Seq[SSTablePartition]] {
          override def call(): Seq[SSTablePartition] = planFile(fs, st, blocksize, forcedVersion)
        })
      }.flatMap { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  /** Top block hosts (by covered bytes) for a byte range of a file —
    * `preferredLocations` fodder. Empty when the FS offers no block
    * topology (object stores). */
  private[sstable] def hostsFor(fs: FileSystem, st: FileStatus, off: Long, len: Long): Array[String] = {
    try {
      val blocks = fs.getFileBlockLocations(st, off, math.max(len, 1L))
      if (blocks == null) Array.empty
      else {
        val byHost = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        blocks.foreach(b => b.getHosts.foreach(h => byHost(h) = byHost.getOrElse(h, 0L) + b.getLength))
        byHost.toSeq.sortBy { case (h, b) => (-b, h) }.take(3).map(_._1).toArray
      }
    } catch { case _: Exception => Array.empty }
  }

  /** Row-boundary split planning for one Data.db (S3/S4; runs on the
    * planner pool). */
  private[sstable] def planFile(
      fs: FileSystem,
      st: FileStatus,
      blocksize: Long,
      forcedVersion: Option[String]): Seq[SSTablePartition] = {
    val file = st.getPath
    val version = forcedVersion.getOrElse(SSTableVersion.fromFilename(file.getName).name)
    val ci = compressionPath(fs, file)
    // the logical (uncompressed) length the Index.db offsets live in,
    // and block hosts for a logical byte range
    val (length, hosts): (Long, (Long, Long) => Array[String]) = ci match {
      case Some(c) =>
        // S4 + the reference's wishlist improvement (README.md:40-41):
        // with an Index.db we can split COMPRESSED sstables too —
        // offsets are in uncompressed space; the reader seeks to the
        // containing chunk and skips in. Otherwise: one partition.
        val meta = {
          val in = fs.open(c)
          try CompressionMeta.read(in, st.getLen)
          finally in.close()
        }
        // locality in COMPRESSED (on-disk) space: map uncompressed
        // offsets to the containing chunk's file offset
        (meta.dataLength, (uStart, uEnd) => {
          val nChunks = meta.chunkOffsets.length
          val sIdx = math.min((uStart / meta.chunkLength).toInt, nChunks - 1)
          val eIdx = math.min((uEnd / meta.chunkLength).toInt, nChunks - 1)
          val cStart = meta.chunkOffsets(sIdx)
          val cEnd = if (eIdx >= nChunks - 1) st.getLen else meta.chunkOffsets(eIdx + 1)
          hostsFor(fs, st, cStart, cEnd - cStart)
        })
      // S3: row-boundary splits from the Index.db sidecar
      case None => (st.getLen, (start, end) => hostsFor(fs, st, start, end - start))
    }
    val idx = new Path(file.getParent, file.getName.replace("-Data.db", "-Index.db"))
    val bounds = ArrayBuffer[(Long, Long)]()
    if (length <= blocksize || !fs.exists(idx)) bounds += ((0L, length))
    else {
      val in = fs.open(idx)
      val offsets = try IndexScanner.dataOffsets(in).toArray finally in.close()
      var splitStart = 0L
      offsets.foreach { off =>
        if (off - splitStart >= blocksize) {
          bounds += ((splitStart, off))
          splitStart = off
        }
      }
      if (splitStart < length) bounds += ((splitStart, length))
    }
    bounds.toSeq.map { case (start, end) =>
      SSTablePartition(file.toString, start, end, ci.map(_.toString), version, hosts(start, end))
    }
  }

  /** The core floor of split combining: the partition count Spark's own
    * file sources plan against (`FilePartition.maxSplitBytes`) —
    * `spark.sql.files.minPartitionNum`, else
    * `spark.sql.leafNodeDefaultParallelism`, else the context's default
    * parallelism (the core count under `local[n]`). */
  def scanParallelism(spark: SparkSession): Int = {
    val conf = spark.sessionState.conf
    conf.filesMinPartitionNum
      .orElse(conf.getConf(org.apache.spark.sql.internal.SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
      .getOrElse(spark.sparkContext.defaultParallelism)
  }

  /** S6 split combining (default on): small splits share a scan task, as
    * in the reference's `AegisthusCombinedInputFormat`, but the bins are
    * byte-balanced over at least `parallelism` tasks instead of filled
    * greedily to `combinesize` — a column family smaller than one
    * `combinesize` no longer scans on one core. The splits, in listing
    * order, go to `k = max(⌈total / combinesize⌉, min(parallelism,
    * #splits), ⌈#splits / combinemembers⌉)` contiguous bins: a split
    * lands in bin `⌊k · (bytes before it + half its size) / total⌋`, and
    * a bin holding more than `combinemembers` (default 200) splits is cut
    * into runs of that many. Contiguous bins keep adjacent splits of one
    * file in one task, and a 10k-file snapshot still plans at most
    * `max(⌈total / combinesize⌉, parallelism, ⌈#splits / 200⌉)` tasks,
    * never one per file. `combinesize` defaults to 100 MiB;
    * `parallelism` is [[scanParallelism]]. */
  def combineSplits(parts: Seq[SSTablePartition], options: Map[String, String],
      parallelism: Int): Array[InputPartition] = {
    if (!options.getOrElse("combine", "true").toBoolean) parts.toArray[InputPartition]
    else {
      val target = options.getOrElse("combinesize", (100L * 1024 * 1024).toString).toLong
      val maxMembers = options.getOrElse("combinemembers", "200").toInt
      val total = math.max(parts.map(_.size).sum, 1L).toDouble
      val k = Seq(math.ceil(total / target), math.min(parallelism, parts.size).toDouble,
        math.ceil(parts.size.toDouble / maxMembers)).max
      val out = ArrayBuffer[InputPartition]()
      val bin = ArrayBuffer[SSTablePartition]()
      var binIdx = -1L
      var before = 0L
      parts.foreach { p =>
        val idx = (k * (before + p.size / 2.0) / total).toLong
        if (bin.nonEmpty && (idx != binIdx || bin.length >= maxMembers)) {
          out += SSTableCombinedPartition(bin.toArray)
          bin.clear()
        }
        bin += p
        binIdx = idx
        before += p.size
      }
      if (bin.nonEmpty) out += SSTableCombinedPartition(bin.toArray)
      out.toArray
    }
  }

  private val PriamDatePattern = raw".*/(\d{12})$$".r

  /** CompressionInfo.db discovery: same dir, else ±1-minute Priam
    * sibling dirs (reference `input/AegisthusInputFormat.java:82-112`). */
  def compressionPath(fs: FileSystem, dataPath: Path): Option[Path] = {
    val name = dataPath.getName.replace("-Data.db", "-CompressionInfo.db")
    val sameDir = new Path(dataPath.getParent, name)
    if (fs.exists(sameDir)) return Some(sameDir)
    dataPath.getParent.toString match {
      case PriamDatePattern(ts) =>
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
        val t = java.time.LocalDateTime.parse(ts, fmt)
        Seq(-1L, 1L).iterator.map { d =>
          new Path(new Path(dataPath.getParent.getParent, t.plusMinutes(d).format(fmt)), name)
        }.find(fs.exists)
      case _ => None
    }
  }
}

final class SSTableTable(props: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"sstable(${props.getOrElse("path", props.getOrElse("paths", "?"))})"
  override def schema(): StructType = SSTableSource.schemaFor(props)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SSTableScanBuilder(options.asScala.toMap)
}

final class SSTableScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = SSTableSource.Schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** File-level predicate pushdown (the partition-pruning analog for
    * this source): `source` is the originating file path, so equality/
    * prefix/IN predicates on it prune whole files at PLAN time — a
    * single-sstable drill-down never lists, plans, or scans the rest
    * of a snapshot. All filters are also kept post-scan (Spark
    * re-applies them), so pushdown is purely an optimization. */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    pushed = filters.filter {
      case EqualTo("source", _: String) => true
      case StringStartsWith("source", _) => true
      case In("source", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
  override def build(): Scan = new SSTableScan(options, required, pushed)
}

/** One planned split: a row-aligned byte range of one Data.db.
  * `hosts` are the FS block hosts covering the range (reference
  * `AegSplit.getLocations`, `input/splits/AegSplit.java:76-83`) —
  * node-local scheduling on HDFS-like stores, empty on object stores. */
final case class SSTablePartition(
    path: String,
    start: Long,
    end: Long,
    compressionInfoPath: Option[String],
    versionName: String,
    hosts: Array[String] = Array.empty) extends InputPartition {
  def size: Long = end - start
  override def preferredLocations(): Array[String] = hosts
}

/** S6 split combining (reference
  * `AegisthusCombinedInputFormat.java:56-102`): one scan task over a
  * contiguous run of splits in listing order — a production snapshot
  * dir with 10k tiny files must not become 10k tasks, and a small
  * column family must still fill every core (bins are byte-balanced
  * over at least the scan parallelism; see
  * [[SSTableSource.combineSplits]]). The reader chains member scanners
  * sequentially and absorbs corruption per member. Locality is the
  * members' majority hosts by covered bytes (the reference intersects,
  * `AegCombinedSplit.java:82-97`; a byte-weighted majority degrades
  * more gracefully when members span hosts). */
final case class SSTableCombinedPartition(members: Array[SSTablePartition])
    extends InputPartition {
  override def preferredLocations(): Array[String] = {
    val byHost = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    members.foreach(m => m.hosts.foreach(h => byHost(h) = byHost.getOrElse(h, 0L) + m.size))
    byHost.toSeq.sortBy { case (h, b) => (-b, h) }.take(3).map(_._1).toArray
  }
}

final class SSTableScan(options: Map[String, String], required: StructType,
    pushedSourceFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = "graft-sstable"

  /** Size stats from the planned splits (uncompressed bytes), so
    * Catalyst can auto-broadcast a small compacted table into a join
    * instead of defaulting to `Long.MaxValue` → sort-merge. Planning
    * is cached so stats + execution pay the sidecar reads once. */
  override def estimateStatistics(): Statistics = {
    val total = plannedPartitions.map {
      case p: SSTablePartition => p.size
      case c: SSTableCombinedPartition => c.members.map(_.size).sum
    }.sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(total)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  /** conjunction of the pushed `source` predicates against a file path. */
  private def fileAdmitted(path: String): Boolean = {
    import org.apache.spark.sql.sources._
    pushedSourceFilters.forall {
      case EqualTo("source", v: String) => path == v
      case StringStartsWith("source", prefix) => path.startsWith(prefix)
      case In("source", vs) => vs.exists(_ == path)
      case _ => true
    }
  }

  /** Streaming face (`spark.readStream.format("sstable").load(dir)`):
    * micro-batches over an APPEND-ONLY snapshot directory — the
    * incremental-ingest surface the reference removed with its
    * commit-log readers (`README.md:37-39`). Feeds
    * [[graft.streaming.StreamingCompaction.compactIncremental]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SSTableMicroBatchStream(options, required)

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  private lazy val plannedPartitions: Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val blocksize = options.getOrElse("blocksize", (64L * 1024 * 1024).toString).toLong
    val paths = SSTableSource.optionPaths(options, "sstable")

    // driver listing stays serial (one recursive walk per root); the
    // per-file sidecar probes + reads — high-latency on object stores —
    // fan out on a bounded pool (the reference's 20 planner threads,
    // `AegisthusInputFormat.java:205-233`)
    val files: Seq[(FileSystem, FileStatus)] = paths.flatMap { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(conf)
      SSTableSource.expandGlob(fs, root)
        .flatMap(st => SSTableSource.listDataFiles(fs, st.getPath,
          options.getOrElse("latestbatchonly", "false").toBoolean))
        .filter(st => fileAdmitted(st.getPath.toString))
        .map(st => (fs, st))
    }
    val version = options.get("version")
    val parts: Seq[SSTablePartition] =
      SSTableSource.planFilesParallel(files, blocksize, version)
    val acc = SparkSession.active.sparkContext.longAccumulator("sstable.corruptFiles")
    SSTableSource.corruptFiles = Some(acc)
    accForFactory = acc

    SSTableSource.combineSplits(parts, options, SSTableSource.scanParallelism(SparkSession.active))
  }

  private var accForFactory: LongAccumulator = _

  override def createReaderFactory(): PartitionReaderFactory = {
    // guard against a factory being built without (or before) a
    // planInputPartitions call on this Scan instance — the corrupt
    // counter must always exist for the driver-side threshold assert
    if (accForFactory == null) {
      val acc = SparkSession.active.sparkContext.longAccumulator("sstable.corruptFiles")
      SSTableSource.corruptFiles = Some(acc)
      accForFactory = acc
    }
    // note: options arrive via CaseInsensitiveStringMap with lowercased keys
    new SSTableReaderFactory(required,
      options.getOrElse("skipcorrupt", "false").toBoolean, accForFactory,
      new org.apache.spark.util.SerializableConfiguration(
        SparkSession.active.sessionState.newHadoopConf()))
  }
}

final class SSTableReaderFactory(
    required: StructType,
    skipCorrupt: Boolean,
    corruptAcc: LongAccumulator,
    // the session's Hadoop conf must travel to tasks: a bare
    // `new Configuration()` there would drop spark.hadoop.* settings
    // (credentials, endpoints) and break any non-local filesystem
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val members: Array[SSTablePartition] = partition match {
      case c: SSTableCombinedPartition => c.members
      case p: SSTablePartition => Array(p)
    }
    new PartitionReader[InternalRow] {
      private val conf = hadoopConf.value
      private val fieldIdx = required.fields.map(f => SSTableSource.Schema.fieldIndex(f.name))
      private var idx = 0
      private var scanner: SSTableScanner = _
      private var current: AtomRec = _

      private def openScanner(p: SSTablePartition): SSTableScanner = {
        val path = new Path(p.path)
        val fs = path.getFileSystem(conf)
        val raw = fs.open(path)
        val stream: java.io.InputStream = p.compressionInfoPath match {
          case Some(ci) =>
            val ciPath = new Path(ci)
            val meta = {
              val in = fs.open(ciPath)
              try CompressionMeta.read(in, fs.getFileStatus(path).getLen)
              finally in.close()
            }
            // chunk-aligned positioning: seek to the chunk containing
            // p.start, then skip into it on the decompressed side
            val startChunk = (p.start / meta.chunkLength).toInt
            if (startChunk > 0) raw.seek(meta.chunkOffsets(startChunk))
            val cs = new CompressionInputStream(raw, meta, startChunk)
            var toSkip = p.start - startChunk.toLong * meta.chunkLength
            val skipBuf = new Array[Byte](8192)
            while (toSkip > 0) {
              val r = cs.read(skipBuf, 0, math.min(toSkip, skipBuf.length.toLong).toInt)
              if (r < 0) throw new java.io.EOFException(s"EOF while seeking to ${p.start}")
              toSkip -= r
            }
            cs
          case None =>
            raw.seek(p.start)
            raw
        }
        new SSTableScanner(stream, p.start, p.end, SSTableVersion(p.versionName), p.path)
      }

      /** S7 error-absorb, per MEMBER: a corrupt file loses only the
        * rest of its own split; remaining members of a combined
        * partition still scan. */
      private def absorb(e: Exception): Unit = {
        org.slf4j.LoggerFactory.getLogger(classOf[SSTableReaderFactory])
          .error(s"failure deserializing file ${members(idx).path}", e)
        if (corruptAcc != null) corruptAcc.add(1L)
        if (scanner != null) { try scanner.close() catch { case _: Exception => () } }
        scanner = null
        idx += 1
      }

      override def next(): Boolean = {
        while (idx < members.length) {
          if (scanner == null) {
            try scanner = openScanner(members(idx))
            catch { case e: Exception if skipCorrupt => absorb(e) }
          } else {
            try {
              if (scanner.hasNext) { current = scanner.next(); return true }
              else { scanner.close(); scanner = null; idx += 1 }
            } catch {
              case e: Exception if skipCorrupt => absorb(e)
            }
          }
        }
        false
      }

      override def get(): InternalRow = {
        val full = Array[Any](
          current.key,
          UTF8String.fromString(current.source),
          current.rowDeletedAt,
          UTF8String.fromString(current.kind),
          current.name,
          current.value,
          current.ts.map(Long.box).orNull,
          current.ttl.map(Int.box).orNull,
          current.localDeletionTime.map(Int.box).orNull,
          current.tsOfLastDelete.map(Long.box).orNull,
          current.rtMax)
        new GenericInternalRow(fieldIdx.map(full))
      }

      override def close(): Unit = if (scanner != null) scanner.close()
    }
  }
}

/** Micro-batch streaming over an APPEND-ONLY sstable snapshot dir:
  * the offset is a high-watermark COUNT over the discovered Data.db
  * files ordered by (modification time, path) — new sstables are
  * flushed strictly later than existing ones and files are immutable
  * once written (Cassandra's own contract), so the ordered prefix of
  * length N is stable across listings and `[start, end)` addresses a
  * deterministic batch of new files. Each micro-batch plans its files
  * through the same row-boundary splitter, core-aware split combining,
  * corrupt-absorb and locality machinery as the batch scan. */
final class SSTableMicroBatchStream(options: Map[String, String], required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class FilesOffset(n: Int) extends Offset {
    override def json(): String = s"""{"n":$n}"""
  }

  private val hconf = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())
  private val corruptAcc: LongAccumulator = {
    val acc = SparkSession.active.sparkContext.longAccumulator("sstable.corruptFiles")
    SSTableSource.corruptFiles = Some(acc)
    acc
  }

  private def listSorted(): Seq[(FileSystem, FileStatus)] =
    SSTableSource.optionPaths(options, "sstable").flatMap { p =>
      val root = new Path(p)
      val fs = root.getFileSystem(hconf.value)
      SSTableSource.expandGlob(fs, root)
        .flatMap(st => SSTableSource.listDataFiles(fs, st.getPath,
          options.getOrElse("latestbatchonly", "false").toBoolean))
        .map(st => (fs, st))
    }.sortBy(p => (p._2.getModificationTime, p._2.getPath.toString))

  override def initialOffset(): Offset = FilesOffset(0)
  override def latestOffset(): Offset = FilesOffset(listSorted().size)
  override def deserializeOffset(json: String): Offset =
    FilesOffset(raw"""\{"n":(\d+)\}""".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException(s"bad sstable offset: $json")))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FilesOffset].n
    val e = end.asInstanceOf[FilesOffset].n
    val blocksize = options.getOrElse("blocksize", (64L * 1024 * 1024).toString).toLong
    val batch = listSorted().slice(s, e)
    SSTableSource.combineSplits(
      SSTableSource.planFilesParallel(batch, blocksize, options.get("version")), options,
      SSTableSource.scanParallelism(SparkSession.active))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SSTableReaderFactory(required,
      options.getOrElse("skipcorrupt", "false").toBoolean, corruptAcc, hconf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
