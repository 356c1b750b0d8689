package graft.sstable

import scala.collection.mutable.ArrayBuffer

/** One surviving cell of a compacted row. */
final case class CellOut(
    kind: String,
    name: Array[Byte],
    value: Array[Byte],
    ts: Long,
    ttl: Option[Int],
    localDeletionTime: Option[Int],
    tsOfLastDelete: Option[Long])

/** A compacted row: the A1 aggregation output (SURVEY §2.4). */
final case class CompactedRow(key: Array[Byte], deletedAt: Long, columns: Seq[CellOut])

/** Distributed-compaction merge (operator A1 + filters F1/F2/F3):
  * single-pass, bounded-memory streaming merge over atoms sorted by
  * (key, name, ts) — the faithful port of the reference's
  * `CassSSTableReducer.RowReducer` (`mapreduce/CassSSTableReducer.java:120-192`)
  * with Cassandra's `RangeTombstone.Tracker` semantics:
  *
  *  - row deletedAt = max over all fragments' markedForDeleteAt;
  *  - last-writer-wins per column name, equal timestamps resolved by
  *    [[reconcile]] (Cassandra 2.0 `Column.reconcile`) so the winner
  *    does not depend on the order the shuffle delivers tied cells;
  *  - a column is discarded if any open range tombstone covers its
  *    name with markedForDeleteAt >= column ts (`:142-153`);
  *  - range tombstones are never emitted (`:164-165,186-187`);
  *  - after the row: purge columns with ts <= deletedAt (`:183-191`);
  *  - rows left with zero columns are preserved (empty-row markers);
  *  - maxRowSize stops accumulation (F3, `:89-96`).
  */
object Compaction {

  /** The surviving cell of two cells with comparator-equal names —
    * Cassandra 2.0 `Column.reconcile`: the higher timestamp wins; at
    * equal timestamps a tombstone (`KindDeleted`) beats a live cell,
    * otherwise the greater value wins, compared as `ByteBuffer.compareTo`
    * does (signed bytes, then length). Cells that still tie are ordered
    * by name bytes, kind, ttl and local deletion time, so the result
    * never depends on argument order. Counters keep the first argument
    * at equal timestamps, as before: Cassandra merges counter contexts
    * instead, which this merge does not model. */
  def reconcile(a: CellOut, b: CellOut): CellOut =
    if (a.ts != b.ts) { if (b.ts > a.ts) b else a }
    else if (a.kind == SSTableFormat.KindCounter || b.kind == SSTableFormat.KindCounter) a
    else if ((a.kind == SSTableFormat.KindDeleted) != (b.kind == SSTableFormat.KindDeleted)) {
      if (b.kind == SSTableFormat.KindDeleted) b else a
    } else {
      val c = Iterator(
        java.util.Arrays.compare(a.value, b.value),
        java.util.Arrays.compare(a.name, b.name),
        a.kind.compareTo(b.kind),
        Ordering[Option[Int]].compare(a.ttl, b.ttl),
        Ordering[Option[Int]].compare(a.localDeletionTime, b.localDeletionTime)).find(_ != 0)
      if (c.exists(_ < 0)) b else a
    }

  /** name ordering must match the shuffle sort order; default BytesType
    * (unsigned lexicographic — same as Spark's BinaryType ordering). */
  def merge(
      atoms: Iterator[AtomRec],
      nameType: CassType = CassType.BytesType,
      maxRowSize: Long = Long.MaxValue): Iterator[CompactedRow] =
    mergeImpl(atoms, nameType, maxRowSize, traceSource = false).map(_._2)

  /** Trace-source variant (O2): one compacted row per (key, sourcePath)
    * — source becomes part of the group, matching
    * `aegisthus.trace_source` (`SSTableRecordReader.java:133-141`).
    * Input must be sorted by (key, source, name, ts). */
  def mergeTraced(
      atoms: Iterator[AtomRec],
      nameType: CassType = CassType.BytesType,
      maxRowSize: Long = Long.MaxValue): Iterator[(String, CompactedRow)] =
    mergeImpl(atoms, nameType, maxRowSize, traceSource = true)

  private def mergeImpl(
      atoms: Iterator[AtomRec],
      nameType: CassType,
      maxRowSize: Long,
      traceSource: Boolean): Iterator[(String, CompactedRow)] =
    new Iterator[(String, CompactedRow)] {
      private val it = atoms.buffered
      override def hasNext: Boolean = it.hasNext
      override def next(): (String, CompactedRow) = {
        val key = it.head.key
        val source = it.head.source
        var deletedAt = Long.MinValue
        val columns = new ArrayBuffer[CellOut]()
        val openTombstones = new ArrayBuffer[(Array[Byte], Array[Byte], Long)]() // (min, max, mfda)
        var curr: CellOut = null
        var totalSize = 0L
        var truncated = false

        while (it.hasNext && java.util.Arrays.equals(it.head.key, key) &&
            (!traceSource || it.head.source == source)) {
          val a = it.next()
          if (a.rowDeletedAt > deletedAt) deletedAt = a.rowDeletedAt
          if (a.kind != SSTableFormat.KindEmptyRow && !truncated) {
            totalSize += a.serializedSize
            if (totalSize > maxRowSize) {
              truncated = true // F3: stop accumulating, keep draining for deletedAt
            } else if (a.kind == SSTableFormat.KindRangeTombstone) {
              openTombstones += ((a.name, a.rtMax, a.ts.get))
            } else {
              // expire tombstones that end before this column's name
              var i = 0
              while (i < openTombstones.length) {
                if (nameType.compare(openTombstones(i)._2, a.name) < 0) {
                  openTombstones.remove(i)
                } else i += 1
              }
              val ts = a.ts.get
              val deletedByRt = openTombstones.exists { case (min, max, mfda) =>
                nameType.compare(min, a.name) <= 0 && nameType.compare(a.name, max) <= 0 &&
                  mfda >= ts
              }
              if (!deletedByRt) {
                val cell = CellOut(a.kind, a.name, a.value, ts, a.ttl, a.localDeletionTime, a.tsOfLastDelete)
                if (curr == null) curr = cell
                // COMPARATOR equality, not byte equality: typed
                // comparators can equate byte-distinct encodings
                // (e.g. Decimal 2.5 vs 2.50, non-minimal varints) and
                // those must collapse to one LWW winner
                else if (nameType.compare(curr.name, cell.name) == 0) {
                  curr = reconcile(curr, cell)
                } else {
                  columns += curr
                  curr = cell
                }
              }
            }
          }
        }
        if (curr != null) columns += curr
        // F1: purge columns at or below the row deletion watermark
        val survivors = columns.filter(_.ts > deletedAt).toSeq
        (source, CompactedRow(key, deletedAt, survivors))
      }
    }

  /** X5: legacy column-name normalization
    * (`AegisthusKeySortingComparator.legacyColumnNameFormat`). */
  def legacyColumnNameFormat(name: String): String =
    name.replaceAll("[\\s\\p{Cntrl}]", " ").replace("\\", "\\\\").replace("\"", "\\\"")

  /** Render a compacted row as one aeg-JSON line (X6; byte-compatible
    * with `output/JsonOutputFormat.java:108-182`):
    * `hexKey\t{"hexKey":{"deletedAt":L,"columns":[[n,v,ts],...]}}`.
    *
    * @param traceSource       prepend `sourcePath\t` after the key (O2
    *                          trace mode, `JsonOutputFormat.java:116-119`)
    * @param sortColumnsByName order columns by rendered display name
    *                          instead of comparator order (O4)
    * @param legacyFormatting  X5 normalization of rendered names
    */
  def toAegJson(
      row: CompactedRow,
      keyType: CassType = CassType.BytesType,
      nameType: CassType = CassType.BytesType,
      valueType: CassType = CassType.BytesType,
      maxColSize: Long = -1L,
      traceSource: Option[String] = None,
      sortColumnsByName: Boolean = false,
      legacyFormatting: Boolean = false): String = {
    val sb = new java.lang.StringBuilder(64 + row.columns.size * 48)
    val keyStr = renderSafe(keyType, row.key)
    sb.append(keyStr).append('\t')
    traceSource.foreach { src => sb.append(src).append('\t') }
    def renderName(c: CellOut): String = {
      val n = renderSafe(nameType, c.name)
      if (legacyFormatting) legacyColumnNameFormat(n) else n
    }
    sb.append("{\"")
    appendEscaped(sb, keyStr)
    sb.append("\":{\"deletedAt\":").append(row.deletedAt).append(",\"columns\":[")
    var cols = if (sortColumnsByName) row.columns.sortBy(renderName) else row.columns
    var needComma = false
    if (maxColSize >= 0) {
      val size = cols.map(sizeOf).sum
      if (size > maxColSize) {
        // F4: oversize row replaced by an error marker triple
        sb.append("\"error\",\"")
        appendEscaped(sb, f"row too large: $size%,d bytes - limit $maxColSize%,d bytes")
        sb.append("\",0")
        cols = Seq.empty
        needComma = true
      }
    }
    cols.foreach { c =>
      if (needComma) sb.append(',')
      needComma = true
      sb.append("[\"")
      appendEscaped(sb, renderName(c))
      sb.append("\",\"")
      appendEscaped(sb, renderSafe(valueType, c.value))
      sb.append("\",").append(c.ts)
      c.kind match {
        case SSTableFormat.KindDeleted => sb.append(",\"d\"")
        case SSTableFormat.KindExpiring =>
          sb.append(",\"e\",").append(c.ttl.getOrElse(0)).append(',')
            .append(c.localDeletionTime.getOrElse(0))
        case SSTableFormat.KindCounter =>
          sb.append(",\"c\",").append(c.tsOfLastDelete.getOrElse(0L))
        case _ =>
      }
      sb.append(']')
    }
    sb.append("]}}")
    sb.toString
  }

  private[graft] def sizeOf(c: CellOut): Long = c.kind match {
    case SSTableFormat.KindCounter => 2L + c.name.length + 1 + 8 + 8 + 4 + c.value.length
    case SSTableFormat.KindExpiring => 2L + c.name.length + 1 + 4 + 4 + 8 + 4 + c.value.length
    case _ => 2L + c.name.length + 1 + 8 + 4 + c.value.length
  }

  /** render with MarshalException-style fallback to hex (reference
    * `JsonOutputFormat.java:92-103`). */
  private def renderSafe(t: CassType, bytes: Array[Byte]): String =
    try t.getString(bytes)
    catch { case _: Exception => CassType.hex(bytes) }

  /** Jackson-compatible minimal JSON string escaping. */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      ch match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
  }
}
