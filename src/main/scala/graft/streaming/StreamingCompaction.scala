package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.sstable.{AtomRec, CassType, SSTableFormat}

/** Incremental (streaming) compaction: the A1 merge recast as a
  * merge-associative per-key state machine under mapGroupsWithState —
  * the design SURVEY §2.9 calls for ("design the compaction Aggregator
  * to be merge-associative so it could later run under
  * mapGroupsWithState").
  *
  * Scope: last-writer-wins cells + row-tombstone watermark + RANGE
  * tombstones held in state. The reference documents that ITS
  * streaming reducer cannot do RTs incrementally ("This will not be
  * true if we go to partial incremental processing",
  * `CassSSTableReducer.java:143-146`) — but that constraint is a
  * property of their forward-only sorted-stream sweep, not of the
  * semantics: with per-key STATE the death rule is the
  * order-independent predicate "∃ RT with min <= name <= max and
  * rt.ts >= cell.ts" (every covering RT sorts at-or-before its
  * covered cells in the batch sweep, so the sweep computes exactly
  * this predicate), and a state machine that retains RT intervals
  * applies it across any batch arrival order. Interval bounds are
  * compared as lowercase hex strings — an order-preserving image of
  * BytesType's unsigned lexicographic comparator (2 fixed chars per
  * byte), the same default the batch merge uses. Typed comparators
  * (aegisthus.columntype) remain batch-only.
  *
  * State per key is bounded by live column count (cells map) + RT
  * interval count, not by input size — wide-row safe like the batch
  * merge: cells killed by an RT are pruned from state immediately,
  * and arriving cells already covered by a stored RT are never
  * admitted.
  */
object StreamingCompaction {

  final case class CellSt(ts: Long, kind: String)
  final case class RtSt(minHex: String, maxHex: String, ts: Long)
  final case class RowState(deletedAt: Long, cells: Map[String, CellSt],
      rts: List[RtSt])
  final case class RowUpdate(keyHex: String, deletedAt: Long, nLiveColumns: Int)

  private def covers(rt: RtSt, nameHex: String): Boolean =
    rt.minHex <= nameHex && nameHex <= rt.maxHex

  /** Merge a batch of atoms into row state — associative and
    * commutative up to timestamp ties. LWW keeps the higher ts; at equal
    * ts a tombstone (`KindDeleted`) replaces a live cell, the tombstone
    * half of the batch merge's [[graft.sstable.Compaction.reconcile]].
    * The state keeps no values, so the value half of that rule (greater
    * value wins) has nothing to compare and any other tie keeps the
    * incumbent; counters are treated like any other cell here.
    * Order-independent for counts:
    * the RT death rule is a global predicate, enforced both on cell
    * admission and retroactively when an RT lands. */
  def mergeAtoms(st: RowState, atoms: Iterator[AtomRec]): RowState = {
    var deletedAt = st.deletedAt
    var cells = st.cells
    var rts = st.rts
    atoms.foreach { a =>
      if (a.rowDeletedAt > deletedAt) deletedAt = a.rowDeletedAt
      a.kind match {
        case SSTableFormat.KindEmptyRow => ()
        case SSTableFormat.KindRangeTombstone =>
          val rt = RtSt(CassType.hex(a.name), CassType.hex(a.rtMax), a.ts.get)
          if (!rts.contains(rt)) {
            rts = rt :: rts
            cells = cells.filterNot { case (n, c) =>
              covers(rt, n) && rt.ts >= c.ts }
          }
        case _ =>
          val nameHex = CassType.hex(a.name)
          val ts = a.ts.get
          if (!rts.exists(rt => covers(rt, nameHex) && rt.ts >= ts)) {
            cells.get(nameHex) match {
              case Some(c) if ts < c.ts || (ts == c.ts &&
                  (a.kind != SSTableFormat.KindDeleted || c.kind == SSTableFormat.KindDeleted)) => ()
              case _ => cells = cells.updated(nameHex, CellSt(ts, a.kind))
            }
          }
      }
    }
    RowState(deletedAt, cells, rts)
  }

  def liveColumns(st: RowState): Int = st.cells.count(_._2.ts > st.deletedAt)

  /** Streaming (or batch) incremental compaction: emits the current
    * compacted view of each row key on every update. */
  def compactIncremental(atoms: Dataset[AtomRec]): Dataset[RowUpdate] = {
    val spark = atoms.sparkSession
    import spark.implicits._
    atoms.groupByKey(a => CassType.hex(a.key))
      .mapGroupsWithState[RowState, RowUpdate](GroupStateTimeout.NoTimeout) {
        (keyHex, it, state: GroupState[RowState]) =>
          val st0 = state.getOption.getOrElse(RowState(Long.MinValue, Map.empty, Nil))
          val st = mergeAtoms(st0, it)
          state.update(st)
          RowUpdate(keyHex, st.deletedAt, liveColumns(st))
      }
  }
}
