package perfbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Per-stage totals of the tasks of one captured call. */
final class StageTotals {
  var tasks = 0
  var runS, cpuS, shuffleWriteS, fetchWaitS, gcS = 0.0
  var shuffleWriteBytes, memorySpill, diskSpill, recordsRead = 0L
  val durationsMs = mutable.ArrayBuffer[Long]()
  def maxOverMedian: Double =
    if (durationsMs.isEmpty) 0.0 else durationsMs.max.toDouble / math.max(1.0, Stats.median(durationsMs.map(_.toDouble).toSeq))
}

/** Sums task metrics per stage, and counts jobs, between [[reset]] and
  * [[snapshot]]. */
final class StageListener extends SparkListener {
  private val stages = new ConcurrentHashMap[Int, StageTotals]()
  @volatile private var jobs = 0

  def reset(): Unit = { stages.clear(); jobs = 0 }
  def snapshot(): (Int, Seq[(Int, StageTotals)]) = (jobs, stages.asScala.toSeq.sortBy(_._1))

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val s = stages.computeIfAbsent(e.stageId, _ => new StageTotals)
    s.synchronized {
      s.tasks += 1
      s.runS += m.executorRunTime / 1e3
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteS += m.shuffleWriteMetrics.writeTime / 1e9
      s.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      s.memorySpill += m.memoryBytesSpilled
      s.diskSpill += m.diskBytesSpilled
      s.recordsRead += m.inputMetrics.recordsRead
      s.durationsMs += e.taskInfo.duration
    }
  }
}

/** A traced call: name, start and end (ns since the run began), the
  * enclosing span, and the run it belongs to. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long, runId: String)

/** In-memory span recorder, written out once at exit. */
final class Tracer(runId: String) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size + 1
    val start = System.nanoTime() - t0
    val parent = stack.head
    stack = id :: stack
    spans += Span(id, name, parent, start, -1L, runId)
    try body
    finally {
      stack = stack.tail
      spans(id - 1) = spans(id - 1).copy(endNs = System.nanoTime() - t0)
    }
  }

  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val body = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs},"run_id":"${s.runId}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}

/** Hardware reference points measured without Spark. */
object Ceilings {

  /** Sequential read of the corpus files on `threads` threads, MB/s. */
  def readMbPerS(files: Seq[File], threads: Int): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val t = System.nanoTime()
      val futures = files.map { f =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            val in = new java.io.FileInputStream(f)
            val buf = new Array[Byte](1 << 20)
            var total = 0L
            try { var n = in.read(buf); while (n > 0) { total += n; n = in.read(buf) } }
            finally in.close()
            total
          }
        })
      }
      val bytes = futures.map(_.get()).sum
      bytes / 1e6 / ((System.nanoTime() - t) / 1e9)
    } finally pool.shutdown()
  }

  /** Atoms per second of one thread running the engine's scanner over
    * one whole Data.db (through its decompressor when compressed). */
  def decodeAtomsPerS(data: File): Double = {
    import graft.sstable._
    val ci = new File(data.getParent, data.getName.replace("-Data.db", "-CompressionInfo.db"))
    val raw = new java.io.BufferedInputStream(new java.io.FileInputStream(data), 1 << 16)
    val (in, end) =
      if (ci.exists()) {
        val meta = CompressionMeta.read(new java.io.FileInputStream(ci), data.length())
        (new CompressionInputStream(raw, meta), meta.dataLength)
      } else (raw, data.length())
    val t = System.nanoTime()
    val scanner = new SSTableScanner(in, 0L, end, SSTableVersion.fromFilename(data.getName), data.getPath)
    var atoms = 0L
    try while (scanner.hasNext) { scanner.next(); atoms += 1 } finally scanner.close()
    atoms / ((System.nanoTime() - t) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
