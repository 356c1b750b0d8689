package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's oracle: an independent model of what a compaction of
  * the generated corpus must produce. It shares no code with the engine
  * (no Spark, no `graft.*`) and works on plain lists of one key's
  * fragments, so it does not depend on any sort order of the input.
  */
object Model {

  /** One cell as written by one generation: kind is 'c' (live), 'd'
    * (cell tombstone) or 'e' (TTL cell). */
  final case class Cell(kind: Char, name: Array[Byte], value: Array[Byte], ts: Long,
      ttl: Int = 0, ldt: Int = 0)

  /** A range tombstone over the clustering keys `lo <= ck < hi`. */
  final case class Rt(lo: Int, hi: Int, mfda: Long, ldt: Int)

  /** One generation's row for a key. */
  final case class Frag(gen: Int, deletedAt: Long, cells: Seq[Cell], rts: Seq[Rt] = Nil)

  /** The compacted state of one key. */
  final case class Row(key: Array[Byte], deletedAt: Long, cells: Seq[Cell])

  /** Unsigned lexicographic order of raw bytes (Cassandra's BytesType). */
  val bytesOrder: Ordering[Array[Byte]] = (a: Array[Byte], b: Array[Byte]) =>
    java.util.Arrays.compareUnsigned(a, b)

  /** Cassandra's merge of one key across generations:
    *  - the row deletion time is the newest over all fragments;
    *  - a cell is dropped if a range tombstone at least as new covers it;
    *  - per name, the newest cell wins (the corpus has no timestamp ties);
    *  - cells at or below the row deletion time are dropped.
    *
    * @param clustering the clustering key of a cell name, for tombstone
    *                   coverage (None: the name is not clustered) */
  def merge(key: Array[Byte], frags: Seq[Frag], order: Ordering[Array[Byte]],
      clustering: Array[Byte] => Option[Int]): Row = {
    val deletedAt = frags.map(_.deletedAt).max
    val rts = frags.flatMap(_.rts)
    def covered(c: Cell): Boolean = clustering(c.name).exists { ck =>
      rts.exists(rt => rt.lo <= ck && ck < rt.hi && rt.mfda >= c.ts)
    }
    val live = frags.flatMap(_.cells).filterNot(covered)
    val winners = live.groupBy(c => ByteBuffer.wrap(c.name)).values.map { same =>
      val newest = same.maxBy(_.ts)
      require(same.count(_.ts == newest.ts) == 1, "timestamp tie in generated corpus")
      newest
    }
    Row(key, deletedAt, winners.filter(_.ts > deletedAt).toSeq.sortBy(_.name)(order))
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(hexDigits((x >> 4) & 0xf)).append(hexDigits(x & 0xf)))
    sb.toString
  }

  /** One aeg-JSON line of a BytesType column family (FIXTURES.md §1.3):
    * `hexKey\t{"hexKey":{"deletedAt":L,"columns":[[n,v,ts],...]}}\n`
    * with `,"d"` after a tombstone and `,"e",ttl,ldt` after a TTL cell. */
  def renderAegJson(r: Row): String = {
    val k = hex(r.key)
    val cols = r.cells.map { c =>
      val suffix = c.kind match {
        case 'd' => ",\"d\""
        case 'e' => s""","e",${c.ttl},${c.ldt}"""
        case _ => ""
      }
      s"""["${hex(c.name)}","${hex(c.value)}",${c.ts}$suffix]"""
    }
    s"""$k\t{"$k":{"deletedAt":${r.deletedAt},"columns":[${cols.mkString(",")}]}}""" + "\n"
  }

  /** CQL3 composite cell name `(ck, column)`; `column` "" is the row marker. */
  def cqlName(ck: Int, column: String): Array[Byte] = {
    val col = column.getBytes(UTF_8)
    ByteBuffer.allocate(2 + 4 + 1 + 2 + col.length + 1)
      .putShort(4).putInt(ck).put(0.toByte)
      .putShort(col.length.toShort).put(col).put(0.toByte).array()
  }

  /** Inverse of [[cqlName]]: (ck, column). */
  def cqlParts(name: Array[Byte]): (Int, String) = {
    val bb = ByteBuffer.wrap(name)
    bb.getShort; val ck = bb.getInt; bb.get
    val col = new Array[Byte](bb.getShort & 0xffff)
    bb.get(col)
    (ck, new String(col, UTF_8))
  }

  /** Relational rows `(pk, ck, a, b)` of a compacted CQL partition of
    * `(pk int, ck int, a text, b bigint, PRIMARY KEY (pk, ck))`: one row
    * per clustering key with any surviving cell (marker, value or
    * tombstone); a tombstoned or absent column reads as null. */
  def pivot(r: Row): Seq[(Int, Int, Option[String], Option[Long])] = {
    val pk = ByteBuffer.wrap(r.key).getInt
    r.cells.groupBy(c => cqlParts(c.name)._1).toSeq.sortBy(_._1).map { case (ck, cells) =>
      def value(col: String): Option[Array[Byte]] =
        cells.find(c => cqlParts(c.name)._2 == col && c.kind != 'd').map(_.value).filter(_.nonEmpty)
      (pk, ck, value("a").map(new String(_, UTF_8)), value("b").map(ByteBuffer.wrap(_).getLong))
    }
  }
}

/** Order-insensitive multiset digest: the sum and the count of 64-bit
  * hashes of the members. Dropping, adding or changing one member
  * changes it. */
final class Digest {
  var sum = 0L
  var count = 0L
  def add(parts: Any*): Unit = { sum += Digest.hash(parts); count += 1 }
  def add(other: Digest): Unit = { sum += other.sum; count += other.count }
  override def toString: String = f"$count:$sum%016x"
}

object Digest {
  /** FNV-1a over a canonical encoding of the parts, finished with the
    * MurmurHash3 64-bit mixer. */
  def hash(parts: Seq[Any]): Long = {
    var h = 0xcbf29ce484222325L
    def byte(b: Int): Unit = { h ^= (b & 0xff); h *= 0x100000001b3L }
    def long(v: Long): Unit = { var i = 0; while (i < 8) { byte((v >>> (56 - 8 * i)).toInt); i += 1 } }
    def bytes(b: Array[Byte]): Unit = { long(b.length.toLong); b.foreach(x => byte(x)) }
    parts.foreach {
      case null | None => byte(0)
      case Some(v) => byte(1); bytes(v.toString.getBytes(UTF_8))
      case b: Array[Byte] => byte(2); bytes(b)
      case v: Long => byte(3); long(v)
      case v: Int => byte(4); long(v.toLong)
      case v: Char => byte(5); long(v.toLong)
      case s: String => byte(6); bytes(s.getBytes(UTF_8))
      case other => throw new IllegalArgumentException(s"cannot digest $other")
    }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb93fe53a87cdL
    h ^ (h >>> 33)
  }
}
