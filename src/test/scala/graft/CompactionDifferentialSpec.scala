package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sstable._

/** Differential fuzz for distributed-compaction determinism: a random
  * atom soup (LWW collisions, deleted cells, row tombstones, range
  * tombstones, empty rows) must compact to the SAME result regardless
  * of shuffle partition count and input row order — the property that
  * makes the engine's answer well-defined on a 1000-executor cluster,
  * where both are scheduling accidents.
  *
  * In the random soup, values are a function of (name, ts), so its
  * equal-ts ties are value-identical; the generated-table test below
  * ties cells with different values and tombstones, which
  * `Compaction.reconcile` resolves the same way in every order (the
  * reference's secondary sort orders by name+ts only, so its winner
  * depended on arrival order). */
class CompactionDifferentialSpec extends AnyFunSuite with SparkSuite {

  private def randomAtoms(seed: Long, n: Int): Seq[AtomRec] = {
    val rnd = new scala.util.Random(seed)
    val keys = (1 to 12).map(i => f"k$i%02d")
    val names = (1 to 8).map(i => f"n$i%02d")
    (1 to n).map { _ =>
      val key = keys(rnd.nextInt(keys.length))
      rnd.nextInt(10) match {
        case 0 => // empty-row marker with a row tombstone watermark
          AtomRec(key.getBytes, "src", rnd.nextInt(50).toLong, SSTableFormat.KindEmptyRow,
            null, null, None, None, None, None, null)
        case 1 => // range tombstone over a random name interval
          val a = names(rnd.nextInt(names.length))
          val b = names(rnd.nextInt(names.length))
          val (lo, hi) = if (a <= b) (a, b) else (b, a)
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindRangeTombstone,
            lo.getBytes, null, Some(rnd.nextInt(100).toLong), None, None, None, hi.getBytes)
        case 2 => // deleted cell
          val nm = names(rnd.nextInt(names.length))
          val ts = rnd.nextInt(100).toLong
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindDeleted,
            nm.getBytes, Array.emptyByteArray, Some(ts), None, None, None, null)
        case _ => // live cell; value derived from (name, ts)
          val nm = names(rnd.nextInt(names.length))
          val ts = rnd.nextInt(100).toLong
          AtomRec(key.getBytes, "src", Long.MinValue, SSTableFormat.KindColumn,
            nm.getBytes, s"$nm@$ts".getBytes, Some(ts), None, None, None, null)
      }
    }
  }

  private def render(rows: Seq[CompactedRow]): Seq[String] =
    rows.map(r => Compaction.toAegJson(r))
      .sorted

  test("compaction is partition-count and input-order independent (randomized)") {
    import spark.implicits._
    (1 to 5).foreach { seed =>
      val atoms = randomAtoms(seed.toLong * 7919, 600)
      val df = spark.createDataset(atoms).toDF()
      val base = render(GraftSSTable.compact(df, numPartitions = 1).collect().toSeq)
      assert(base.nonEmpty)
      // different shuffle width
      val wide = render(GraftSSTable.compact(df, numPartitions = 7).collect().toSeq)
      assert(wide == base, s"seed=$seed: partition count changed the answer")
      // scrambled input order + different pre-partitioning
      val scrambled = spark.createDataset(scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed)).shuffle(atoms)).toDF().repartition(13)
      val out = render(GraftSSTable.compact(scrambled, numPartitions = 5).collect().toSeq)
      assert(out == base, s"seed=$seed: input order changed the answer")
    }
  }

  test("a generated multi-file table compacts to the same rows at 1, 4 and 13 partitions, combined or not") {
    val root = java.nio.file.Files.createTempDirectory("tiescan").toFile
    TestUtil.writeGenerations(spark, root, gens = 4, keys = 300)
    def compacted(parts: Int, combine: Boolean): Seq[String] =
      render(GraftSSTable.compact(GraftSSTable.readAtoms(spark, root.toString,
        Map("combine" -> combine.toString, "blocksize" -> "2048")), numPartitions = parts).collect().toSeq)
    val base = compacted(1, combine = true)
    assert(base.size == 300)
    for (parts <- Seq(1, 4, 13); combine <- Seq(true, false)) {
      val same = compacted(parts, combine) == base
      assert(same, s"numPartitions=$parts combine=$combine changed the answer")
    }
    // the shuffle delivers tied atoms in map-task order, so listing the
    // generations backwards reverses every tie
    val backwards = (4 to 1 by -1).map(g => GraftSSTable.readAtoms(spark, new java.io.File(root, s"gen$g").toString))
      .reduce(_ union _)
    val same = render(GraftSSTable.compact(backwards, numPartitions = 4).collect().toSeq) == base
    assert(same, "the generations' order changed the answer")
    TestUtil.deleteRecursively(root)
  }
}
