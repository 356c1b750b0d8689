package perfbench

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.sstable.{CellOut, CompactedRow, CompressionOutputStream, SSTableFormat, SSTableVersion, SSTableWriter}
import perfbench.Model.{Cell, Frag, Rt}

/** Generated input of one workload, plus what a correct compaction of it
  * must produce (computed by [[Model]] while the files are written).
  *
  * Timestamps satisfy `ts == generation (mod gens)`, so two generations
  * never write the same timestamp and the winner of every cell is
  * defined, while which generation wins is random.
  */
object Corpus {

  /** Workload parameters. Changing one changes the cache key. */
  final case class Params(workload: String, seed: Long, gens: Int, keys: Int, extra: Map[String, Double]) {
    def tag: String = {
      val s = (Seq(workload, gens, keys) ++ extra.toSeq.sorted.map { case (k, v) => s"$k=$v" }).mkString(",")
      f"$workload-s$seed-${s.hashCode & 0x7fffffff}%08x"
    }
  }

  /** Scaled-down shapes of the three designs (see perfbench/README.md). */
  def params(workload: String, seed: Long): Params = workload match {
    case "lww_json" => Params(workload, seed, gens = 8, keys = 10000, Map(
      "presence" -> 2.0 / 3, "names" -> 8, "nameP" -> 0.92, "tombP" -> 0.03, "ttlP" -> 0.03,
      "rowDelP" -> 0.03, "valMin" -> 8, "valMax" -> 40))
    case "restage_lz4" => Params(workload, seed, gens = 4, keys = 20000, Map(
      "secondVersionP" -> 0.2, "names" -> 4, "nameP" -> 0.9, "tombP" -> 0.01, "ttlP" -> 0.01,
      "rowDelP" -> 0.005, "valMin" -> 100, "valMax" -> 300))
    case "cql_wide_rt" => Params(workload, seed, gens = 4, keys = 2500, Map(
      "widest" -> 2500, "ckP" -> 0.6, "markerP" -> 0.7, "colP" -> 0.8, "tombP" -> 0.03,
      "ttlP" -> 0.02, "rowDeleteP" -> 0.02, "sliceP" -> 0.1, "partitionDeleteP" -> 0.01))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val CqlSchema = "CREATE TABLE bench.wide (pk int, ck int, a text, b bigint, PRIMARY KEY (pk, ck))"

  /** Expected output and shape, as written to the manifest. */
  final class Expect {
    val shape = scala.collection.mutable.LinkedHashMap[String, String]()
    var atoms = 0L
    var rowsOut = 0L
    var cellsOut = 0L
    var widestAtoms = 0L
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    var renderBytes = 0L
    val digest = new Digest
    var pivotRows = 0L
  }

  private val BaseTs = 1600000000000000L

  /** A timestamp written by generation `gen` of `gens`. */
  private def ts(rnd: SplittableRandom, gen: Int, gens: Int): Long =
    BaseTs + rnd.nextLong(1L << 30) * gens + gen

  /** 2x-compressible bytes: random runs interleaved with runs copied
    * from a fixed phrase book that LZ4 finds again and again. */
  private val phrases = {
    val r = new SplittableRandom(7L)
    Array.fill(4096)((32 + r.nextInt(95)).toByte)
  }

  private def value(rnd: SplittableRandom, min: Int, max: Int, compressible: Boolean): Array[Byte] = {
    val v = new Array[Byte](min + rnd.nextInt(max - min + 1))
    if (!compressible) rnd.nextBytes(v)
    else {
      var i = 0
      while (i < v.length) {
        val n = math.min(12, v.length - i)
        if ((i / 12) % 2 == 0) { var j = 0; while (j < n) { v(i + j) = (97 + rnd.nextInt(26)).toByte; j += 1 } }
        else System.arraycopy(phrases, rnd.nextInt(phrases.length - 12), v, i, n)
        i += n
      }
    }
    v
  }

  private def ldtOf(ts: Long): Int = (ts / 1000000L).toInt

  /** A live, tombstone or TTL cell, by the workload's mix. */
  private def cell(rnd: SplittableRandom, p: Params, name: Array[Byte], t: Long,
      live: => Array[Byte]): Cell = {
    val u = rnd.nextDouble()
    if (u < p.extra("tombP")) Cell('d', name, java.nio.ByteBuffer.allocate(4).putInt(ldtOf(t)).array(), t)
    else if (u < p.extra("tombP") + p.extra("ttlP")) Cell('e', name, live, t, 86400, ldtOf(t) + 86400)
    else Cell('c', name, live, t)
  }

  private def cellOut(c: Cell): CellOut = c.kind match {
    case 'd' => CellOut(SSTableFormat.KindDeleted, c.name, c.value, c.ts, None, None, None)
    case 'e' => CellOut(SSTableFormat.KindExpiring, c.name, c.value, c.ts, Some(c.ttl), Some(c.ldt), None)
    case _ => CellOut(SSTableFormat.KindColumn, c.name, c.value, c.ts, None, None, None)
  }

  /** One generation's Data.db (plus LZ4 chunks, Index.db and
    * CompressionInfo.db when compressed). */
  private final class GenFile(dir: File, base: String, compressed: Boolean) {
    private val raw = new BufferedOutputStream(new FileOutputStream(new File(dir, s"$base-Data.db")), 1 << 16)
    private val cos = if (compressed) Some(new CompressionOutputStream(raw, 65536, "LZ4Compressor")) else None
    private val index = if (compressed)
      Some(new DataOutputStream(new BufferedOutputStream(new FileOutputStream(new File(dir, s"$base-Index.db")))))
    else None
    var pos = 0L // uncompressed offset, as Index.db records it
    val out = new DataOutputStream(new OutputStream {
      private val target: OutputStream = cos.getOrElse(raw)
      override def write(b: Int): Unit = { target.write(b); pos += 1 }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = { target.write(b, off, len); pos += len }
    })
    val version: SSTableVersion = SSTableVersion(base.split('-')(2))

    def startRow(key: Array[Byte]): Unit = index.foreach { ix =>
      ix.writeShort(key.length); ix.write(key); ix.writeLong(pos); ix.writeInt(0)
    }

    def close(): Unit = {
      out.flush()
      cos match {
        case Some(c) =>
          val (dataLength, offsets) = c.finish()
          raw.close()
          val ci = new DataOutputStream(new FileOutputStream(new File(dir, s"$base-CompressionInfo.db")))
          CompressionOutputStream.writeCompressionInfo(ci, "LZ4Compressor", 65536, dataLength, offsets)
          ci.close()
        case None => raw.close()
      }
      index.foreach(_.close())
    }
  }

  /** Writes the corpus of `p` into `dir` and returns the model's
    * expectations. `drop` removes one surviving value cell (by ordinal)
    * from the expectation only, for the benchmark's self-test. */
  def generate(p: Params, dir: File, drop: Long = -1L): Expect = {
    dir.mkdirs()
    val rnd = new SplittableRandom(p.seed * 0x9e3779b97f4a7c15L + p.workload.hashCode)
    val e = new Expect
    var ordinal = 0L
    def dropOne(cells: Seq[Cell]): Seq[Cell] = cells.filter { c =>
      if (c.kind == 'd' || c.value.isEmpty) true else { ordinal += 1; ordinal - 1 != drop }
    }
    p.workload match {
      case "lww_json" | "restage_lz4" =>
        val compressed = p.workload == "restage_lz4"
        val files = (0 until p.gens).map(g => new GenFile(dir, s"bench-${p.workload}-jb-${g + 1}", compressed))
        val names = (0 until p.extra("names").toInt).map(j => s"col$j".getBytes(UTF_8))
        var prefix = 0L
        for (_ <- 0 until p.keys) {
          prefix += 1 + rnd.nextInt(1000)
          val key = java.nio.ByteBuffer.allocate(8).putLong(prefix).array()
          val present = if (compressed) {
            val home = rnd.nextInt(p.gens)
            if (rnd.nextDouble() < p.extra("secondVersionP")) Seq(home, (home + 1 + rnd.nextInt(p.gens - 1)) % p.gens).sorted
            else Seq(home)
          } else {
            val ps = (0 until p.gens).filter(_ => rnd.nextDouble() < p.extra("presence"))
            if (ps.isEmpty) Seq(rnd.nextInt(p.gens)) else ps
          }
          val frags = present.map { g =>
            val deletedAt = if (rnd.nextDouble() < p.extra("rowDelP")) ts(rnd, g, p.gens) else Long.MinValue
            val cells = names.filter(_ => rnd.nextDouble() < p.extra("nameP")).map { n =>
              cell(rnd, p, n, ts(rnd, g, p.gens),
                value(rnd, p.extra("valMin").toInt, p.extra("valMax").toInt, compressed))
            }
            Frag(g, deletedAt, cells)
          }
          frags.foreach { f =>
            val file = files(f.gen)
            file.startRow(key)
            SSTableWriter.writeRow(file.out, CompactedRow(key, f.deletedAt, f.cells.map(cellOut)), file.version)
            e.atoms += math.max(1, f.cells.size)
          }
          e.widestAtoms = math.max(e.widestAtoms, frags.map(f => math.max(1, f.cells.size)).sum.toLong)
          val row = Model.merge(key, frags, Model.bytesOrder, _ => None)
          val kept = dropOne(row.cells)
          e.rowsOut += 1
          e.cellsOut += kept.size
          if (compressed) {
            e.digest.add("row", key, row.deletedAt)
            kept.foreach(c => e.digest.add("cell", key, c.name, c.ts, c.kind, c.value, c.ttl, c.ldt))
          } else {
            val line = Model.renderAegJson(row.copy(cells = kept)).getBytes(UTF_8)
            e.sha.update(line)
            e.renderBytes += line.length
          }
        }
        files.foreach(_.close())
      case "cql_wide_rt" =>
        generateCql(p, dir, rnd, e, dropOne)
    }
    e.shape("input_bytes") = dir.listFiles().filter(_.getName.endsWith("-Data.db")).map(_.length).sum.toString
    e.shape("atoms") = e.atoms.toString
    e.shape("rows_out") = e.rowsOut.toString
    e.shape("cells_out") = e.cellsOut.toString
    e.shape("survival") = f"${e.cellsOut.toDouble / e.atoms}%.4f"
    e.shape("widest_key_atom_share") = f"${e.widestAtoms.toDouble / e.atoms}%.4f"
    e
  }

  /** CQL3 partitions with Zipf widths: partition of rank r holds
    * `widest / r` clustering rows. Generations 1-2 are `ic`, 3-4 `jb`. */
  private def generateCql(p: Params, dir: File, rnd: SplittableRandom, e: Expect,
      dropOne: Seq[Cell] => Seq[Cell]): Unit = {
    val files = (0 until p.gens).map { g =>
      new GenFile(dir, s"bench-cql-${if (g < p.gens / 2) "ic" else "jb"}-${g + 1}", compressed = false)
    }
    val widest = p.extra("widest").toInt
    // ranks shuffled over the partition keys, so the widest partition
    // lands on a random shuffle partition
    val rank = (1 to p.keys).toArray
    for (i <- rank.indices.reverse) { val j = rnd.nextInt(i + 1); val t = rank(i); rank(i) = rank(j); rank(j) = t }
    val x = p.extra
    for (pk <- 0 until p.keys) {
      val width = math.max(1, widest / rank(pk))
      val key = java.nio.ByteBuffer.allocate(4).putInt(pk).array()
      val frags = (0 until p.gens).map { g =>
        val deletedAt = if (rnd.nextDouble() < x("partitionDeleteP")) ts(rnd, g, p.gens) else Long.MinValue
        val rts = Seq.newBuilder[Rt]
        if (rnd.nextDouble() < x("sliceP")) {
          val lo = rnd.nextInt(width)
          val t = ts(rnd, g, p.gens)
          rts += Rt(lo, lo + 1 + rnd.nextInt(math.max(1, width / 10)), t, ldtOf(t))
        }
        val cells = Seq.newBuilder[Cell]
        for (ck <- 0 until width if rnd.nextDouble() < x("ckP")) {
          if (rnd.nextDouble() < x("rowDeleteP")) {
            val t = ts(rnd, g, p.gens)
            rts += Rt(ck, ck + 1, t, ldtOf(t))
          } else {
            if (rnd.nextDouble() < x("markerP")) cells += Cell('c', Model.cqlName(ck, ""), Array.emptyByteArray, ts(rnd, g, p.gens))
            if (rnd.nextDouble() < x("colP")) {
              val text = Array.fill(5 + rnd.nextInt(16))((97 + rnd.nextInt(26)).toByte)
              cells += cell(rnd, p, Model.cqlName(ck, "a"), ts(rnd, g, p.gens), text)
            }
            if (rnd.nextDouble() < x("colP")) {
              val v = java.nio.ByteBuffer.allocate(8).putLong(rnd.nextLong()).array()
              cells += cell(rnd, p, Model.cqlName(ck, "b"), ts(rnd, g, p.gens), v)
            }
          }
        }
        Frag(g, deletedAt, cells.result(), rts.result())
      }.filter(f => f.cells.nonEmpty || f.rts.nonEmpty || f.deletedAt != Long.MinValue)
      frags.foreach { f =>
        val file = files(f.gen)
        writeCqlRow(file.out, key, f, file.version)
        e.atoms += math.max(1, f.cells.size + f.rts.size)
      }
      e.widestAtoms = math.max(e.widestAtoms, frags.map(f => math.max(1, f.cells.size + f.rts.size)).sum.toLong)
      if (frags.nonEmpty) {
        val row = Model.merge(key, frags, Model.bytesOrder, n => Some(Model.cqlParts(n)._1))
        val kept = dropOne(row.cells)
        e.rowsOut += 1
        e.cellsOut += kept.size
        Model.pivot(row.copy(cells = kept)).foreach { r =>
          e.digest.add(r._1, r._2, r._3, r._4)
          e.pivotRows += 1
        }
      }
    }
    files.foreach(_.close())
  }

  /** A row with range tombstones, which the engine's writer cannot
    * emit: tombstones first (start `(lo)`, exclusive end `(hi)` with
    * end-of-component -1), then the cells in comparator order. */
  private def writeCqlRow(out: DataOutputStream, key: Array[Byte], f: Frag, v: SSTableVersion): Unit = {
    val cells = f.cells.sortBy(c => Model.cqlParts(c.name))
    def bound(ck: Int, eoc: Int) = java.nio.ByteBuffer.allocate(7).putShort(4).putInt(ck).put(eoc.toByte).array()
    val rtBytes = f.rts.map { rt =>
      val b = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(b)
      val min = bound(rt.lo, 0); val max = bound(rt.hi, -1)
      d.writeShort(min.length); d.write(min)
      d.writeByte(SSTableFormat.RangeTombstoneMask)
      d.writeShort(max.length); d.write(max)
      d.writeInt(rt.ldt); d.writeLong(rt.mfda)
      b.toByteArray
    }
    val body = new java.io.ByteArrayOutputStream()
    val bd = new DataOutputStream(body)
    rtBytes.foreach(b => bd.write(b))
    cells.foreach(c => SSTableWriter.writeCell(bd, cellOut(c)))
    val rowLdt = if (f.deletedAt == Long.MinValue) Int.MaxValue else ldtOf(f.deletedAt)
    out.writeShort(key.length); out.write(key)
    if (v.hasRowSizeAndColumnCount) {
      out.writeLong(16L + body.size())
      out.writeInt(rowLdt); out.writeLong(f.deletedAt)
      out.writeInt(rtBytes.size + cells.size)
      body.writeTo(out)
    } else {
      out.writeInt(rowLdt); out.writeLong(f.deletedAt)
      body.writeTo(out)
      out.writeShort(0)
    }
  }
}
