package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import graft.GraftSSTable
import graft.sstable.{CassType, SSTableCombinedPartition, SSTablePartition}

/** Core-pipeline benchmark: one seeded workload per invocation.
  *
  * {{{
  * perfbench.Main gen      --workload W --seed N --work DIR   # corpus + model, cached
  * perfbench.Main setup    --workload W --seed N --work DIR   # one set-up, timed
  * perfbench.Main run      --workload W --seed N --work DIR --seconds S --trace 0|1 [--setups S1,S2]
  * perfbench.Main selftest --work DIR                        # the checks catch errors
  * }}}
  *
  * `run` prints the result as the last line of stdout. With `--trace 0`
  * it times whole compaction jobs; with `--trace 1` it times the ladder
  * of cumulative prefixes P0..P6 and attributes time to layers.
  */
object Main {

  final case class Args(mode: String, workload: String, seed: Long, seconds: Int, trace: Boolean, work: File,
                        setups: Seq[Double] = Nil)

  def parse(argv: Array[String]): Args = {
    val kv = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(argv.headOption.getOrElse("run"), kv.getOrElse("workload", "lww_json"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1", new File(kv("work")),
      kv.get("setups").toSeq.flatMap(_.split(",")).map(_.toDouble))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = a.mode match {
      case "gen" => gen(a); 0
      case "setup" => setUp(a)._1.stop(); 0
      case "run" => run(a)
      case "selftest" => SelfTest.run(a)
    }
    System.exit(code)
  }

  def corpusDir(a: Args): File = new File(a.work, s"corpus/${Corpus.params(a.workload, a.seed).tag}")

  /** Generates the corpus unless a verified one is cached. */
  def gen(a: Args): Unit = {
    val dir = corpusDir(a)
    if (Manifest.verify(dir).isDefined) { println("# corpus cached"); return }
    val t = System.nanoTime()
    // one corpus per workload at a time keeps the work directory small
    Option(dir.getParentFile.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(a.workload + "-")).foreach(Manifest.deleteRecursively)
    val tmp = new File(dir.getPath + ".tmp")
    val e = Corpus.generate(Corpus.params(a.workload, a.seed), tmp)
    Manifest.write(tmp, Corpus.params(a.workload, a.seed), e)
    require(tmp.renameTo(dir), s"cannot publish $dir")
    println(f"# corpus.gen_s ${(System.nanoTime() - t) / 1e9}%.3f")
  }

  /** Reader options. The split sizes are the engine's defaults (64 MiB
    * blocks, 100 MB combined splits) scaled by the corpus scale of 1/20,
    * so the scaled corpora keep the split shape of the full-size ones. */
  def readerOptions(workload: String): Map[String, String] =
    Map("blocksize" -> ((64L << 20) / 20).toString, "combinesize" -> (100L * 1000 * 1000 / 20).toString) ++
      (if (workload == "cql_wide_rt") Map("cql" -> Corpus.CqlSchema) else Map.empty)

  def session(a: Args): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().master(s"local[$n]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", n.toString)
      // execution memory scaled down with the corpus: lww_json's sort
      // outgrows it and spills, the other two fit
      .config("spark.memory.fraction", "0.3")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def sinceProcessStart(): Double =
    (System.currentTimeMillis() - ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1e3

  /** Process start until the session is ready and the corpus verified. */
  private def setUp(a: Args): (SparkSession, Properties, Double) = {
    val toMain = sinceProcessStart()
    val spark = session(a)
    val toSession = sinceProcessStart()
    val m = Manifest.verify(corpusDir(a)).getOrElse(
      throw new IllegalStateException(s"corpus ${corpusDir(a)} missing or corrupt; run gen first"))
    val total = sinceProcessStart()
    println(f"# setup main_s=$toMain%.3f session_s=${toSession - toMain}%.3f verify_s=${total - toSession}%.3f")
    println(s"# setup_s $total")
    (spark, m, total)
  }

  def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def outputBytes(out: File): Long = Option(out.listFiles()).toSeq.flatten
    .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_")).map(_.length).sum

  final case class Sample(wallS: Double, cpuS: Double, gcS: Double, outBytes: Long, failure: Option[String])

  /** The workload's compaction job: read -> compact -> sink -> commit. */
  final class Workload(val spark: SparkSession, a: Args, val corpus: File, val manifest: Properties) {
    val n: Int = Runtime.getRuntime.availableProcessors()
    val out = new File(a.work, s"out/${a.workload}")
    val expect: Map[String, String] = manifest.asScala.collect {
      case (k, v) if k.startsWith("expect.") => k.stripPrefix("expect.") -> v
    }.toMap
    val inputBytes: Long = manifest.getProperty("shape.input_bytes").toLong

    // a glob of the Data.db files, not the directory: the engine's
    // directory walk skips every file with a hidden ancestor, and the
    // checkout may sit under one
    def atoms(): DataFrame =
      GraftSSTable.readAtoms(spark, new File(corpus, "*-Data.db").getAbsolutePath, readerOptions(a.workload))

    def job(): Unit = a.workload match {
      case "lww_json" => GraftSSTable.writeAegJson(GraftSSTable.compact(atoms()), out.getAbsolutePath, numFiles = n)
      case "restage_lz4" => GraftSSTable.writeSSTable(GraftSSTable.compact(atoms()), out.getAbsolutePath,
        compress = true, writeIndex = true, numFiles = n)
      case "cql_wide_rt" => GraftSSTable.pivotToRelational(GraftSSTable.compact(atoms()), Corpus.CqlSchema)
        .write.mode("overwrite").parquet(out.getAbsolutePath)
    }

    /** One job, timed. */
    def measure(): Sample = {
      Manifest.deleteRecursively(out)
      System.gc()
      val (c0, g0, t0) = (cpuNs(), gcMs(), System.nanoTime())
      val thrown = try { job(); None } catch { case e: Exception => e.printStackTrace(); Some(s"job failed: $e") }
      Sample((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9, (gcMs() - g0) / 1e3, outputBytes(out), thrown)
    }

    /** The sample with its output check, which is never timed. */
    def verify(s: Sample): Sample = s.copy(failure = s.failure.orElse(Checks.check(a.workload, out, expect, spark)))

    def timed(): Sample = verify(measure())
  }

  // Jobs keep getting faster for many jobs as the JIT works through the
  // engine. Warming up a fixed number of jobs, not seconds, starts every
  // run's timing at the same point of that curve; the cap bounds a run
  // on a slow host.
  val WarmupJobs = 10
  val WarmupCapSeconds = 30

  def run(a: Args): Int = {
    val (spark, manifest, ownSetupS) = setUp(a)
    // this run's set-up and those of the separate set-up processes before it
    val setupS = Stats.median(a.setups :+ ownSetupS)
    val w = new Workload(spark, a, corpusDir(a), manifest)
    val samples = scala.collection.mutable.ArrayBuffer[Sample]()
    def record(s: Sample, label: String): Sample = {
      samples += s
      println(f"# $label wall_s=${s.wallS}%.3f cpu_s=${s.cpuS}%.3f out_bytes=${s.outBytes} ${s.failure.getOrElse("ok")}")
      s
    }
    val warm0 = System.nanoTime()
    var warmups = 0
    while (warmups < WarmupJobs && (System.nanoTime() - warm0) / 1e9 < WarmupCapSeconds) {
      record(w.timed(), "warmup"); warmups += 1
    }
    val metrics =
      if (a.trace) new Ladder(w, a).run(s => record(s, "untraced"))
      else {
        val t0 = System.nanoTime()
        val timed = scala.collection.mutable.ArrayBuffer[Sample]()
        while (timed.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) timed += record(w.timed(), "job")
        val ok = timed.filter(_.failure.isEmpty).toSeq
        if (ok.isEmpty) Seq.empty
        else {
          val jobS = Stats.median(ok.map(_.wallS))
          println(s"# job_s samples=${ok.size}")
          Seq(
            ("job_s", jobS, "s"),
            ("input_mb_per_s", w.inputBytes / 1e6 / jobS, "MB/s"),
            ("cpu_s_per_gb", Stats.median(ok.map(_.cpuS)) / (w.inputBytes / 1e9), "s/GB"),
            ("setup_s", setupS, "s"),
            ("peak_rss_mb", peakRssMb(), "MB"),
            ("output_bytes_ratio", Stats.median(ok.map(_.outBytes.toDouble)) / w.inputBytes, "ratio"))
        }
      }
    spark.stop()
    val failed = samples.count(_.failure.isDefined)
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${samples.size}, "failed": $failed, "metrics": {$body}}""")
    if (failed == 0 && metrics.nonEmpty) 0 else 1
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).round(new java.math.MathContext(10)).toPlainString

  /** VmHWM of this JVM. */
  def peakRssMb(): Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** The traced run: cumulative prefixes of the job, each timed under a
  * span and a stage listener; the difference between neighbours is the
  * cost of the layer the longer one adds.
  *
  *  - P0 plan: list files and plan splits
  *  - P1 scan into a `noop` sink
  *  - P2 P1 plus `repartition(key)`
  *  - P3 P2 plus `sortWithinPartitions(key, name sort key, ts)`
  *  - P4 `compact` into `noop`
  *  - P5 render (`lww_json`) or pivot (`cql_wide_rt`) into `noop`
  *  - P6 the full job
  */
final case class Step(wallS: Double, jobs: Int, stages: Seq[StageTotals], cpuS: Double, gcS: Double)

final class Ladder(w: Main.Workload, a: Main.Args) {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  private val spark = w.spark
  private val tracer = new Tracer(s"${a.workload}-s${a.seed}-${System.currentTimeMillis()}")
  private val listener = new StageListener
  private val columns = Seq("key", "source", "rowDeletedAt", "kind", "name", "value", "ts",
    "ttl", "localDeletionTime", "tsOfLastDelete", "rtMax")

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def plan(p: SparkPlan): SparkPlan = p match {
    case q: AdaptiveSparkPlanExec => q.inputPlan
    case other => other
  }

  /** The atoms with the name sort key the compaction shuffles on. */
  private def keyed(): (DataFrame, String) = {
    val atoms = w.atoms()
    val ct = GraftSSTable.configuredColumnType(atoms).getOrElse(CassType.BytesType)
    val base = atoms.select(columns.map(col): _*)
    if (ct == CassType.BytesType) (base, "name")
    else {
      graft.functions.CassFunctions.registerAll(spark)
      (base.withColumn("_nameSort", expr(s"cass_sort_key(name, '${ct.typeName}')")), "_nameSort")
    }
  }
  private def exchanged(): (DataFrame, String) = { val (df, s) = keyed(); (df.repartition(w.n, col("key")), s) }
  private def sorted(): DataFrame = {
    val (df, s) = exchanged()
    df.sortWithinPartitions(col("key"), col(s), col("ts"))
  }

  private def shape(p: SparkPlan): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val q = plan(p)
    (q.collect { case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => s"hash(${h.expressions.map(_.sql).mkString(",")}; ${h.numPartitions})"
        case other => other.toString
      } },
      q.collect { case s: SortExec => s.sortOrder.map(_.sql).mkString(",") + s" global=${s.global}" })
  }

  /** Fails unless the P2 and P3 prefixes plan the same Exchange and Sort
    * as the engine's own compaction. */
  private def guardPlans(): Unit = {
    val (engineEx, engineSort) = shape(GraftSSTable.compact(w.atoms()).queryExecution.executedPlan)
    val (p2Ex, _) = shape(exchanged()._1.queryExecution.executedPlan)
    val (p3Ex, p3Sort) = shape(sorted().queryExecution.executedPlan)
    println(s"# plan exchange=$engineEx sort=$engineSort")
    require(engineEx.size == 1 && engineSort.size == 1 && p2Ex == engineEx && p3Ex == engineEx &&
      p3Sort == engineSort, s"plan drift: prefixes $p2Ex / $p3Ex $p3Sort, engine $engineEx $engineSort")
  }



  private def step(name: String)(body: => Unit): Step = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    listener.reset()
    System.gc()
    val (c0, g0) = (Main.cpuNs(), Main.gcMs())
    val t0 = System.nanoTime()
    tracer.span(name)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val (c1, g1) = (Main.cpuNs(), Main.gcMs())
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (jobs, stages) = listener.snapshot()
    Step(wall, jobs, stages.map(_._2), (c1 - c0) / 1e9, (g1 - g0) / 1e3)
  }

  def run(untraced: Main.Sample => Main.Sample): Seq[(String, Double, String)] = {
    val base = scala.collection.mutable.ArrayBuffer[Main.Sample]()
    val files = w.corpus.listFiles().filter(_.getName.endsWith("-Data.db")).toSeq
    val readCeil = tracer.span("ceiling.read")(Stats.median((1 to 3).map(_ => Ceilings.readMbPerS(files, w.n))))
    val decodeCeil = tracer.span("ceiling.decode")(
      Stats.median((1 to 3).map(_ => Ceilings.decodeAtomsPerS(files.maxBy(_.length))))) * w.n
    tracer.span("plan_guard")(guardPlans())

    var splits: Seq[Array[Long]] = Nil
    val hasP5 = a.workload != "restage_lz4"
    val reps = scala.collection.mutable.ArrayBuffer[IndexedSeq[Step]]()
    var rowsOut = 0L
    val full = scala.collection.mutable.ArrayBuffer[Main.Sample]()
    val t0 = System.nanoTime()
    while (reps.size < 3 || (System.nanoTime() - t0) / 1e9 < a.seconds) tracer.span(s"ladder.${reps.size}") {
      // the untraced job of each round runs without listener or spans
      base += untraced(w.timed())
      spark.sparkContext.addSparkListener(listener)
      val p0 = step("P0.plan") {
        val parts = plan(w.atoms().queryExecution.executedPlan).collect { case b: BatchScanExec => b.inputPartitions }.flatten
        splits = parts.map {
          case c: SSTableCombinedPartition => c.members.map(_.size)
          case p: SSTablePartition => Array(p.size)
        }
      }
      val p1 = step("P1.scan")(noop(w.atoms()))
      val p2 = step("P2.exchange")(noop(exchanged()._1))
      val p3 = step("P3.sort")(noop(sorted()))
      val p4 = step("P4.merge") {
        noop(GraftSSTable.compact(w.atoms()).toDF())
        rowsOut = GraftSSTable.rowsWritten.map(_.value.toLong).getOrElse(-1L)
      }
      val p5 = if (!hasP5) p4 else step(if (a.workload == "lww_json") "P5.render" else "P5.pivot") {
        val rows = GraftSSTable.compact(w.atoms())
        noop(if (a.workload == "lww_json") GraftSSTable.aegJsonLines(rows).toDF()
          else GraftSSTable.pivotToRelational(rows, Corpus.CqlSchema))
      }
      // the step's own wall time would include deleting the last
      // output; the sample's is the job's alone
      var sample: Main.Sample = null
      val p6 = step("P6.write") { sample = w.measure() } match {
        case s => s.copy(wallS = sample.wallS, cpuS = sample.cpuS, gcS = sample.gcS)
      }
      sample = w.verify(sample)
      require(sample.failure.isEmpty, s"traced job failed: ${sample.failure.get}")
      full += sample
      reps += IndexedSeq(p0, p1, p2, p3, p4, p5, p6)
      spark.sparkContext.removeSparkListener(listener)
    }
    tracer.write(new File(a.work, s"spans/${a.workload}-s${a.seed}.json"))

    def med(i: Int)(f: Step => Double): Double = Stats.median(reps.map(r => f(r(i))).toSeq)
    val wall = (0 to 6).map(i => med(i)(_.wallS))
    def delta(i: Int): Double = wall(i) - wall(i - 1)
    def sum(i: Int)(f: StageTotals => Double): Double = med(i)(_.stages.map(f).sum)
    val atoms = sum(1)(_.recordsRead.toDouble)
    val inMb = w.inputBytes / 1e6
    val outBytes = Stats.median(full.map(_.outBytes.toDouble).toSeq)
    val cellsOut = w.expect("cells_out").toDouble
    val scanS = delta(1)
    val render = a.workload == "lww_json"
    val pivot = a.workload == "cql_wide_rt"
    println(f"# ladder medians ${wall.map(x => f"$x%.3f").mkString(" ")} reps=${reps.size}")
    reps.last.last.stages.zipWithIndex.foreach { case (t, i) =>
      println(f"# P6 stage $i tasks=${t.tasks} run_s=${t.runS}%.3f cpu_s=${t.cpuS}%.3f gc_s=${t.gcS}%.3f " +
        f"shuffle_write_bytes=${t.shuffleWriteBytes} shuffle_write_s=${t.shuffleWriteS}%.3f " +
        f"fetch_wait_s=${t.fetchWaitS}%.3f memory_spill=${t.memorySpill} disk_spill=${t.diskSpill} " +
        f"task_max_over_median=${t.maxOverMedian}%.2f")
    }
    println(s"# spans ${new File(a.work, s"spans/${a.workload}-s${a.seed}.json").getPath}")
    Seq(
      ("plan.s", wall(0), "s"),
      ("plan.splits", splits.size.toDouble, "count"),
      ("plan.file_splits", splits.map(_.length).sum.toDouble, "count"),
      ("plan.split_skew", splits.map(_.sum).max.toDouble / (splits.map(_.sum).sum.toDouble / splits.size), "ratio"),
      ("scan.s", scanS, "s"),
      ("scan.mb_per_s", inMb / scanS, "MB/s"),
      ("scan.atoms_per_s", atoms / scanS, "1/s"),
      ("scan.atoms", atoms, "count"),
      ("scan.cpu_s", sum(1)(_.cpuS), "s"),
      ("scan.decode_efficiency", atoms / scanS / decodeCeil, "ratio"),
      ("scan.read_efficiency", inMb / scanS / readCeil, "ratio"),
      ("exchange.s", delta(2), "s"),
      ("exchange.shuffle_bytes", sum(2)(_.shuffleWriteBytes.toDouble), "bytes"),
      ("exchange.bytes_per_atom", sum(2)(_.shuffleWriteBytes.toDouble) / atoms, "bytes"),
      ("exchange.fetch_wait_s", sum(2)(_.fetchWaitS), "s"),
      ("exchange.spill_bytes", sum(2)(_.diskSpill.toDouble), "bytes"),
      ("sort.s", delta(3), "s"),
      ("sort.spill_bytes", sum(3)(_.diskSpill.toDouble) - sum(2)(_.diskSpill.toDouble), "bytes"),
      ("merge.s", delta(4), "s"),
      ("merge.rows_out", rowsOut.toDouble, "count"),
      ("merge.cells_out", cellsOut, "count"),
      ("merge.survival", cellsOut / atoms, "ratio"),
      ("merge.task_max_over_median", med(4)(_.stages.last.maxOverMedian), "ratio"),
      ("merge.widest_key_share", w.manifest.getProperty("shape.widest_key_atom_share").toDouble, "ratio"),
      ("render.s", if (render) delta(5) else 0.0, "s"),
      ("render.bytes_out", if (render) outBytes else 0.0, "bytes"),
      ("pivot.s", if (pivot) delta(5) else 0.0, "s"),
      ("pivot.rows_out", if (pivot) w.expect("pivot_rows").toDouble else 0.0, "count"),
      ("write.s", delta(6), "s"),
      ("write.mb_per_s", outBytes / 1e6 / delta(6), "MB/s"),
      ("write.spark_jobs", med(6)(_.jobs.toDouble), "count"),
      ("write.bytes_out", outBytes, "bytes"),
      ("gc_s", med(6)(_.gcS), "s"),
      ("cpu_util", med(6)(s => s.cpuS / (s.wallS * w.n)), "ratio"),
      ("trace_overhead", wall(6) / Stats.median(base.map(_.wallS).toSeq), "ratio"),
      ("ceiling.read_mb_per_s", readCeil, "MB/s"),
      ("ceiling.decode_atoms_per_s", decodeCeil, "1/s"))
  }
}
