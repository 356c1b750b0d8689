package graft

import graft.sstable.{CellOut, CompactedRow, SSTableFormat}

/** Shared test plumbing (one copy of the temp-dir cleanup and the
  * reference fixtures root — several suites were re-declaring both). */
object TestUtil {
  val fixturesRoot =
    "/root/reference/aegisthus-hadoop/src/test/resources/testdata"

  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** A multi-file table that needs no reference corpus: `gens`
    * overlapping generations of `keys` keys, each written by
    * `writeSSTable` as two files with Index.db sidecars in the
    * directory `gen<g>` of `root`. Cell timestamps come from {1..4}, so
    * generations tie often, with different values and with tombstones; about one
    * row in twenty carries a row deletion. */
  def writeGenerations(spark: org.apache.spark.sql.SparkSession, root: java.io.File,
      gens: Int, keys: Int): Unit = {
    import spark.implicits._
    (1 to gens).foreach { g =>
      val rnd = new scala.util.Random(g)
      val rows = (0 until keys).map { k =>
        val cells = (0 until 4).filter(_ => rnd.nextInt(3) > 0).map { c =>
          val kind = if (rnd.nextInt(8) == 0) SSTableFormat.KindDeleted else SSTableFormat.KindColumn
          CellOut(kind, s"c$c".getBytes, s"g$g-${rnd.nextInt(3)}".getBytes, 1L + rnd.nextInt(4),
            None, None, None)
        }
        CompactedRow(f"key$k%05d".getBytes,
          if (rnd.nextInt(20) == 0) 1L + rnd.nextInt(2) else Long.MinValue, cells)
      }
      GraftSSTable.writeSSTable(spark.createDataset(rows), new java.io.File(root, s"gen$g").toString,
        numFiles = 2, writeIndex = true)
    }
  }
}
