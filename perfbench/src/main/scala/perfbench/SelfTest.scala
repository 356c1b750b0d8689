package perfbench

import java.io.{File, RandomAccessFile}

/** The benchmark's own test: on a small corpus of each workload, a
  * correct job passes its output check, and the check fails when one
  * byte of the finished output is corrupted or when one cell is dropped
  * from the model. */
object SelfTest {

  private def small(p: Corpus.Params): Corpus.Params =
    p.copy(keys = p.keys / 20, extra = p.extra ++ p.extra.get("widest").map(v => "widest" -> v / 20))

  /** Cassandra 2.0 writes a CQL row deletion as a range tombstone from
    * `(ck)` with end-of-component 0 to `(ck)` with end-of-component 1,
    * which covers every cell of clustering key `ck`. Reports whether
    * the engine, reading with the CQL comparator, drops such a cell.
    * The workloads write exclusive ends (end-of-component -1), which
    * both readings agree on. */
  private def inclusiveEndProbe(spark: org.apache.spark.sql.SparkSession): String = {
    import graft.sstable.{AtomRec, CassType}
    import spark.implicits._
    def bound(ck: Int, eoc: Int) = java.nio.ByteBuffer.allocate(7).putShort(4).putInt(ck).put(eoc.toByte).array()
    val key = Array[Byte](0, 0, 0, 1)
    val atoms = Seq(
      AtomRec(key, "p", Long.MinValue, "c", Model.cqlName(3, "a"), "v".getBytes, Some(10L), None, None, None, null),
      AtomRec(key, "p", Long.MinValue, "rt", bound(3, 0), Array.emptyByteArray, Some(20L), None, Some(0), None, bound(3, 1)))
    val ct = CassType.parse(graft.cql.CqlTable.parse(Corpus.CqlSchema).comparatorMarshal.typeName)
    val left = graft.GraftSSTable.compact(atoms.toDS().toDF(), ct, numPartitions = 1).collect().head.columns.size
    if (left == 0) "inclusive-end range tombstone: engine drops the covered cell, as Cassandra does"
    else "inclusive-end range tombstone: engine keeps a cell Cassandra deletes (end-of-component ignored by CompositeType)"
  }

  def run(a: Main.Args): Int = {
    val root = new File(a.work, "selftest")
    Manifest.deleteRecursively(root)
    val args = a.copy(work = root)
    val spark = Main.session(args)
    val results = Seq("lww_json", "restage_lz4", "cql_wide_rt").flatMap { wl =>
      val p = small(Corpus.params(wl, a.seed))
      def corpus(name: String, drop: Long) = {
        val dir = new File(root, s"corpus/$name")
        Manifest.write(dir, p, Corpus.generate(p, dir, drop))
        Manifest.verify(dir).get
      }
      val dir = new File(root, s"corpus/$wl")
      val exact = corpus(wl, -1L)
      val dropped = new Main.Workload(spark, args.copy(workload = wl), dir, corpus(s"$wl-drop", 3L))
      val w = new Main.Workload(spark, args.copy(workload = wl), dir, exact)
      val clean = w.timed()
      val droppedCheck = dropped.verify(clean.copy(failure = None))
      val victim = w.out.listFiles().filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .maxBy(_.length)
      val raf = new RandomAccessFile(victim, "rw")
      try { val at = victim.length / 2; raf.seek(at); val b = raf.read(); raf.seek(at); raf.write(b ^ 0x5a) }
      finally raf.close()
      val corrupted = w.verify(clean.copy(failure = None))
      Seq(
        (s"$wl: correct output passes", clean.failure.isEmpty, clean.failure.getOrElse("")),
        (s"$wl: one model cell dropped fails", droppedCheck.failure.isDefined, droppedCheck.failure.getOrElse("")),
        (s"$wl: one output byte corrupted fails", corrupted.failure.isDefined, corrupted.failure.getOrElse("")))
    }
    val eoc = inclusiveEndProbe(spark)
    spark.stop()
    results.foreach { case (name, ok, why) => println(s"${if (ok) "PASS" else "FAIL"} $name  $why") }
    println(s"NOTE $eoc")
    if (results.forall(_._2)) 0 else 1
  }
}
