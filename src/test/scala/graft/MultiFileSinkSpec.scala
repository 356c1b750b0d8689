package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The sinks with more than one output file: the range partitioner's
  * sampling job must not run the compaction a second time, so the
  * `rowsWritten` counter is exact, and the files split the one-file
  * output without changing a byte. */
class MultiFileSinkSpec extends AnyFunSuite with SparkSuite {

  test("four-file sinks count each compacted row once and split the one-file output") {
    val root = Files.createTempDirectory("multisink").toFile
    TestUtil.writeGenerations(spark, new java.io.File(root, "in"), gens = 3, keys = 400)
    def rows() = GraftSSTable.compact(GraftSSTable.readAtoms(spark, new java.io.File(root, "in").toString))
    def written(): Long = GraftSSTable.rowsWritten.get.value
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    val one = new java.io.File(root, "aeg1").toString
    GraftSSTable.writeAegJson(rows(), one, numFiles = 1)
    assert(written() == 400L)
    val four = new java.io.File(root, "aeg4").toString
    GraftSSTable.writeAegJson(rows(), four, numFiles = 4)
    assert(written() == 400L, "writeAegJson(numFiles = 4) must count every row once")
    val parts = (0 until 4).map(i => Files.readAllBytes(Paths.get(four, f"aeg-$i%05d")))
    assert(parts.forall(_.nonEmpty))
    assert(java.util.Arrays.equals(parts.reduce(_ ++ _), Files.readAllBytes(Paths.get(one, "aeg-00000"))),
      "the four files in index order must concatenate to the one-file output")

    val sst = new java.io.File(root, "sst4").toString
    GraftSSTable.writeSSTable(rows(), sst, numFiles = 4)
    assert(written() == 400L, "writeSSTable(numFiles = 4) must count every row once")
    assert(GraftSSTable.readAtoms(spark, sst).select("key").distinct().count() == 400L)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore, "the sinks must drop their cache")
    TestUtil.deleteRecursively(root)
  }
}
