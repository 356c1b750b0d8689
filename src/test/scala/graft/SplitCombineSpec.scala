package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** S6 split combining (reference `AegisthusCombinedInputFormat`):
  * many small sstables must pack into few scan tasks (contiguous,
  * byte-balanced bins: at least the core count, at most 100 MB and 200
  * members each by default) without changing results, and a corrupt
  * member of a combined partition must lose only its own split. The
  * suite's session has four cores, so the core floor is 4. */
class SplitCombineSpec extends AnyFunSuite with SparkSuite {

  private def writeFixture(dir: java.io.File, n: Int): Unit = {
    (1 to n).foreach { i =>
      val f = new java.io.DataOutputStream(new java.io.FileOutputStream(
        new java.io.File(dir, f"ks-cf-jb-$i-Data.db")))
      SSTableWriter.writeRow(f, CompactedRow(f"key$i%03d".getBytes, Long.MinValue,
        Seq(CellOut(SSTableFormat.KindColumn, "c".getBytes, s"v$i".getBytes, i.toLong,
          None, None, None))), SSTableVersion("jb"))
      f.close()
    }
  }

  test("small files pack into combined partitions; results identical") {
    val tmp = java.nio.file.Files.createTempDirectory("combine").toFile
    writeFixture(tmp, 20)

    val packed = GraftSSTable.readAtoms(spark, tmp.toString)
    assert(packed.rdd.getNumPartitions == 4, "20 tiny files must fill the 4 cores, no more")

    // ⌈20 / 3⌉ = 7 bins: above the core floor, so the cap decides
    val capped = GraftSSTable.readAtoms(spark, tmp.toString, Map("combinemembers" -> "3"))
    assert(capped.rdd.getNumPartitions == 7, "member cap must split the bins")

    val unpacked = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    assert(unpacked.rdd.getNumPartitions == 20)

    // byte-size cap: each file is ~30 bytes, so a tiny combinesize
    // forces one member per bin
    val bySize = GraftSSTable.readAtoms(spark, tmp.toString, Map("combinesize" -> "1"))
    assert(bySize.rdd.getNumPartitions == 20)

    val a = packed.select("key", "value").collect().map(r =>
      (new String(r.getAs[Array[Byte]](0)), new String(r.getAs[Array[Byte]](1)))).toSet
    val b = unpacked.select("key", "value").collect().map(r =>
      (new String(r.getAs[Array[Byte]](0)), new String(r.getAs[Array[Byte]](1)))).toSet
    assert(a == b && a.size == 20, "packing must not change scan results")
  }

  test("corrupt member of a combined partition loses only its own split") {
    val tmp = java.nio.file.Files.createTempDirectory("combinecorrupt").toFile
    writeFixture(tmp, 10)
    // corrupt one file's header (the reference's deliberate-corruption
    // trick: leading 0x8080 makes the key length insane)
    val victim = new java.io.RandomAccessFile(new java.io.File(tmp, "ks-cf-jb-5-Data.db"), "rw")
    victim.write(Array(0x80.toByte, 0x80.toByte))
    victim.close()

    val atoms = GraftSSTable.readAtoms(spark, tmp.toString, Map("skipCorrupt" -> "true"))
    val victimBin = new SSTableScan(Map("path" -> tmp.toString), SSTableSource.Schema)
      .planInputPartitions()
      .collect { case c: SSTableCombinedPartition => c.members.map(_.path) }
      .filter(_.exists(_.endsWith("ks-cf-jb-5-Data.db")))
    assert(victimBin.length == 1 && victimBin.head.length > 1,
      s"the corrupt file must share its combined task, got ${victimBin.map(_.toSeq).toSeq}")
    val keys = atoms.select("key").collect().map(r => new String(r.getAs[Array[Byte]](0))).toSet
    assert(keys == (1 to 10).filter(_ != 5).map(i => f"key$i%03d").toSet,
      "only the corrupt member's rows may be lost")
    GraftSSTable.assertCorruptFilesBelow(1)
  }

  private def part(path: String, size: Long) = SSTablePartition(path, 0, size, None, "jb")
  private def bins(parts: Seq[SSTablePartition], opts: Map[String, String] = Map.empty,
      parallelism: Int = 4): Seq[Seq[String]] =
    SSTableSource.combineSplits(parts, opts, parallelism).toSeq.map {
      case c: SSTableCombinedPartition => c.members.map(_.path).toSeq
    }

  test("a column family under one combinesize still fills every core") {
    val four = (1 to 4).map(i => part(s"f$i", 950000))
    assert(bins(four, Map("combinesize" -> "5000000")) == Seq(Seq("f1"), Seq("f2"), Seq("f3"), Seq("f4")))
    assert(bins(four, parallelism = 2) == Seq(Seq("f1", "f2"), Seq("f3", "f4")))
    // spark.sql.files.minPartitionNum overrides the core count, as for
    // Spark's own file sources
    assert(SSTableSource.scanParallelism(spark) == 4)
    spark.conf.set("spark.sql.files.minPartitionNum", "2")
    try assert(SSTableSource.scanParallelism(spark) == 2)
    finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("byte-sized bins are contiguous runs in listing order") {
    // eight equal files, combinesize about 2.2 files: the contiguous
    // pairs a greedy 100 MB fill makes
    val eight = (1 to 8).map(i => part(s"f$i", 2250000))
    assert(bins(eight, Map("combinesize" -> "5000000")) ==
      Seq(Seq("f1", "f2"), Seq("f3", "f4"), Seq("f5", "f6"), Seq("f7", "f8")))
    // a large file's splits fill the bins in order; the small files
    // after it join the last one
    val mixed = Seq.fill(6)(part("big", 100)) ++ Seq(part("s1", 10), part("s2", 10))
    assert(bins(mixed, parallelism = 2) == Seq(Seq.fill(3)("big"), Seq.fill(3)("big") ++ Seq("s1", "s2")))
  }

  test("no combined task exceeds combinemembers") {
    val rnd = new scala.util.Random(11)
    val parts = (1 to 500).map(i => part(s"f$i", 1L + rnd.nextInt(1000)))
    Seq(1, 3, 7, 50, 200).foreach { cap =>
      val got = bins(parts, Map("combinemembers" -> cap.toString, "combinesize" -> "100000"))
      assert(got.forall(_.length <= cap), s"cap $cap: ${got.map(_.length).max}")
      assert(got.flatten == parts.map(_.path), "bins must keep every split, in listing order")
      assert(got.length >= math.max(4, math.ceil(500.0 / cap).toInt))
    }
  }

  test("partitions report block hosts for preferredLocations (single + combined)") {
    val tmp = java.nio.file.Files.createTempDirectory("locality").toFile
    writeFixture(tmp, 6)
    spark.sparkContext // ensure SparkSession.active
    val combined = new SSTableScan(Map("path" -> tmp.toString), SSTableSource.Schema)
      .planInputPartitions()
    assert(combined.nonEmpty)
    combined.foreach { p =>
      assert(p.preferredLocations().nonEmpty,
        "local FS supplies block topology; partitions must surface it")
    }
    val single = new SSTableScan(Map("path" -> tmp.toString, "combine" -> "false"),
      SSTableSource.Schema).planInputPartitions()
    assert(single.length == 6)
    single.foreach(p => assert(p.preferredLocations().nonEmpty))
  }

  test("combined-partition locality is the byte-weighted majority of member hosts") {
    val m1 = SSTablePartition("a", 0, 100, None, "jb", Array("h1", "h2"))
    val m2 = SSTablePartition("b", 0, 10, None, "jb", Array("h2", "h3"))
    val m3 = SSTablePartition("c", 0, 5, None, "jb", Array("h3", "h4"))
    val hosts = SSTableCombinedPartition(Array(m1, m2, m3)).preferredLocations()
    assert(hosts.toSeq == Seq("h2", "h1", "h3"),
      s"expected byte-weighted top-3 (h2=110,h1=100,h3=15), got ${hosts.toSeq}")
  }

  test("source-path predicates prune whole files at plan time") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("srcprune").toFile
    writeFixture(tmp, 8)
    val df = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    val target = df.select("source").distinct().collect().map(_.getString(0))
      .find(_.endsWith("ks-cf-jb-3-Data.db")).get

    val one = df.filter(col("source") === target)
    assert(one.rdd.getNumPartitions == 1,
      s"equality on source must plan exactly the one file, got ${one.rdd.getNumPartitions}")
    assert(one.collect().map(r => new String(r.getAs[Array[Byte]](0))).toSeq == Seq("key003"))

    // unfiltered scan still plans everything
    assert(df.rdd.getNumPartitions == 8)
  }

  test("latestBatchOnly walks only the greatest batch_id sibling (string compare, opt-in)") {
    val tmp = java.nio.file.Files.createTempDirectory("batched").toFile
    val b1 = new java.io.File(tmp, "batch_id=001"); b1.mkdirs()
    val b2 = new java.io.File(tmp, "batch_id=002"); b2.mkdirs()
    writeFixture(b1, 3)
    writeFixture(b2, 5)

    // default: both batches contribute (the reference walks everything
    // unless DirectoryWalker.batched is enabled)
    val all = GraftSSTable.readAtoms(spark, tmp.toString, Map("combine" -> "false"))
    assert(all.select("source").distinct().count() == 8)

    // opt-in: only the string-greatest sibling (batch_id=002) is walked
    val latest = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("combine" -> "false", "latestBatchOnly" -> "true"))
    val sources = latest.select("source").distinct().collect().map(_.getString(0))
    assert(sources.length == 5 && sources.forall(_.contains("batch_id=002")),
      s"expected only batch_id=002 files, got ${sources.toSeq}")

    // a lexicographically-greater NON-batch sibling must neither swallow
    // the batch prune nor be dropped by it
    val extra = new java.io.File(tmp, "zz_extra"); extra.mkdirs()
    writeFixture(extra, 2)
    val mixed = GraftSSTable.readAtoms(spark, tmp.toString,
      Map("combine" -> "false", "latestBatchOnly" -> "true"))
    val mixedSrc = mixed.select("source").distinct().collect().map(_.getString(0))
    assert(mixedSrc.count(_.contains("batch_id=002")) == 5 &&
      mixedSrc.count(_.contains("zz_extra")) == 2 &&
      !mixedSrc.exists(_.contains("batch_id=001")),
      s"batch prune must act only among batch_id siblings, got ${mixedSrc.toSeq}")
  }

  test("plain and LZ4 copies of one table plan the same row-boundary splits") {
    val rows = (0 until 600).map { i =>
      CompactedRow(f"k$i%04d".getBytes, Long.MinValue, (0 until 3).map { j =>
        CellOut(SSTableFormat.KindColumn, s"c$j".getBytes,
          (s"v$j-$i" + "x" * ((i * 7 + j) % 23)).getBytes, 1000L + j, None, None, None)
      })
    }
    val root = java.nio.file.Files.createTempDirectory("splitparity").toFile
    def write(name: String, compress: Boolean): String = {
      val dir = new java.io.File(root, name).toString
      GraftSSTable.writeSSTable(spark.createDataset(rows)(
        org.apache.spark.sql.Encoders.product[CompactedRow]), dir,
        compress = compress, chunkLength = 1024, writeIndex = true)
      dir
    }
    val plain = write("plain", compress = false)
    val lz4 = write("lz4", compress = true)
    val opts = Map("blocksize" -> "4096", "combine" -> "false")
    def bounds(dir: String): Seq[(Long, Long)] =
      new SSTableScan(opts + ("path" -> dir), SSTableSource.Schema).planInputPartitions()
        .map { case p: SSTablePartition => (p.start, p.end) }.toSeq
    assert(bounds(lz4).size > 1, s"expected several splits, got ${bounds(lz4)}")
    assert(bounds(plain) == bounds(lz4))
    def compacted(dir: String) =
      GraftSSTable.compact(GraftSSTable.readAtoms(spark, dir, opts)).collect()
        .map(r => (new String(r.key), r.columns.map(c =>
          (new String(c.name), new String(c.value), c.ts)))).sortBy(_._1).toSeq
    val expected = compacted(plain)
    assert(expected.size == rows.size)
    assert(compacted(lz4) == expected)
  }

  test("split planning fans out sidecar probes on a thread pool") {
    val tmp = java.nio.file.Files.createTempDirectory("slowplan").toFile
    writeFixture(tmp, 12)
    spark.sparkContext.hadoopConfiguration.set("fs.slowfs.impl", classOf[SlowFs].getName)
    SlowFs.latencyMs = 200L
    try {
      val t0 = System.nanoTime()
      val parts = new SSTableScan(Map("path" -> s"slowfs://$tmp", "combine" -> "false"),
        SSTableSource.Schema).planInputPartitions()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      assert(parts.length == 12)
      // each file pays >= one 200 ms sidecar probe: serial planning
      // would take >= 2400 ms; the 20-thread pool pays ~1 round trip
      assert(elapsedMs < 1500,
        f"planning 12 files took $elapsedMs%.0f ms — sidecar probes are not parallel")
    } finally SlowFs.latencyMs = 0L
  }
}

/** RawLocalFileSystem with injected latency on SIDECAR status probes
  * (Index/CompressionInfo) — an object-store stand-in for the
  * parallel-planning test. Latency is scoped to sidecars because that
  * is the per-file cost the planner pool hides; the single recursive
  * listing stays serial by design. */
class SlowFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "slowfs"
  override def getUri: java.net.URI = java.net.URI.create("slowfs:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    val n = p.getName
    if (SlowFs.latencyMs > 0 &&
        (n.endsWith("-CompressionInfo.db") || n.endsWith("-Index.db")))
      Thread.sleep(SlowFs.latencyMs)
    super.getFileStatus(p)
  }
}
object SlowFs { @volatile var latencyMs = 0L }
