package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Executor-storage lifecycle for operators that need a shared
  * intermediate (signatures, assignments) referenced by several
  * branches of one plan.
  *
  * The hygiene contract: an operator may cache internally, but the
  * cache must not outlive the call — a library caller in a long-lived
  * session must not accumulate CacheManager entries it never asked
  * for (the round-7 leak: five operators cached corpus-sized
  * signature frames forever). [[withCached]] realizes
  * "unpersist-after-materialize": the intermediate is cached only
  * while the RESULT is built and eagerly materialized
  * (`localCheckpoint`), then released. What remains is the result's
  * own checkpoint blocks — O(result), not O(corpus) — owned by the
  * returned frame: freed deterministically via [[release]], or by the
  * ContextCleaner once the frame is unreachable.
  */
object Storage {

  /** Optional plan-capture sink (round-16 optimization evidence):
    * when set, every frame passed through [[checkpointed]] has its
    * FORMATTED physical plan handed to the sink BEFORE
    * materialization — the plan the timed action actually executes,
    * which the post-checkpoint frame no longer shows (it reads as a
    * `Scan ExistingRDD`). No-op (null) outside the plan dump of
    * [[graft.Bench]] (`plans <outDir> <tag>`); never set by queries. */
  private[graft] val planSink =
    new ThreadLocal[String => Unit]

  /** Map-parallelism floor for CPU-heavy row pipelines (round 16,
    * guide §2.5 "input skew: one huge unsplittable file —
    * repartition immediately after the read"): the bench-scale
    * tables are ONE parquet file with ONE row group each, so a scan
    * is a single split no matter what maxPartitionBytes /
    * minPartitionNum say, and whole-stage pipelining fuses every map
    * above it (tokenize/shingle/hash/score) into that one task — 1
    * of 32 cores busy. When (and only when) the frame currently
    * plans to fewer partitions than the session's parallelism,
    * round-robin repartition so the expensive per-row work that the
    * CALLER is about to attach fans out. Applied selectively at the
    * entry of operators whose per-row compute dominates the ~10 ms
    * serialize cost of the tiny extra exchange — a loader-level
    * blanket version was measured to TAX every scan+agg relational
    * query ~0.5-1 s (one full-width single-task shuffle write per
    * scan) for wins only the text/vector operators collect
    * (OPTIMIZATION_r16.md, change 2). At production scale a real
    * corpus scan has thousands of splits, the guard is false, and
    * the plan is unchanged. Deterministic under retry
    * (sort-before-repartition, SPARK-23207); filters and column
    * pruning push through Repartition (PlanAuditSpec).
    *
    * PRECONDITION (r16 ADVICE): the input must be a scan/projection
    * frame — no exchange, no broadcast join beneath it. The partition
    * probe reads the NON-adaptive physical plan (`sparkPlan`), which
    * never materializes AQE query stages the way `Dataset.rdd` would
    * (that path eagerly EXECUTED any shuffle under the frame at
    * plan-composition time); but probing a frame whose plan contains
    * a broadcast join would still kick off the broadcast-build job,
    * and a shuffle's pre-AQE partition count (spark.sql.shuffle
    * .partitions) would make the probe vacuously false. Every call
    * site is an operator entry over a loader projection. */
  private[graft] def parallelFloor(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val current = df.queryExecution.sparkPlan.execute().getNumPartitions
    if (current < target) df.repartition(target) else df
  }

  /** Scale-adaptive shuffle partitioning for fixpoint loops (round
    * 17, guide §2 / VERDICT r16 #6): a graph loop's per-round frames
    * are usually far smaller than the corpus scans the session's
    * `spark.sql.shuffle.partitions` is sized for — at bench scale a
    * 25-node rank loop pays dozens of 32-partition micro-exchanges
    * per round (pure scheduling overhead), and even AQE coalescing
    * still plans, tracks and coalesces the full reducer count.
    * Derive the LOOP's partition count from the materialized loop
    * frame's row count (~250k rows per partition, floor 1), capped
    * at the session setting so a production deployment — where
    * rows/250k far exceeds any configured width — keeps its own
    * sizing: the knob only ever SHRINKS provably tiny loops. The
    * session value is restored afterward (the streaming gates'
    * withStatePartitions discipline). Partition count is physical:
    * every loop's arithmetic is partition-count independent (the
    * oracles replay it with no notion of partitioning). */
  private[graft] def withLoopPartitions[T](
      spark: org.apache.spark.sql.SparkSession, loopRows: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val session = spark.conf.get(key)
    val target = math.min(session.toLong, loopRows / 250000L + 1L).max(1L)
    spark.conf.set(key, target.toString)
    try body finally spark.conf.set(key, session)
  }

  /** Lazily `localCheckpoint` `df`, then force materialization —
    * releasing the checkpoint's own (possibly partially persisted)
    * blocks if the materializing action dies. An EAGER
    * `localCheckpoint` can't make that guarantee: the failed frame is
    * never returned to the caller, so its partial blocks would sit
    * until the ContextCleaner noticed. Shared by [[withCached]], the
    * [[graft.operators.Graph]] fixpoint loops and the [[Bpe]]
    * training loop's per-round checkpoints.
    *
    * Storage level defaults to SERIALIZED (`MEMORY_AND_DISK_SER`):
    * checkpoint blocks held at the default DESERIALIZED level keep
    * every row as a boxed JVM object graph — the residency class
    * that OOM'd the c01 connected-components 100× sweep three times
    * at 48–60 g heap before [[Cluster.connectedComponents]] switched
    * its ~10⁸-row edge frames to serialized storage (and got FASTER:
    * 170 → 125 s in-sweep, exponent 0.98 → 0.67, because the blocks
    * stopped evicting). PageRank/SCC/k-core/harmonic/eccentricity
    * checkpoint the same O(edges) frames through here, so serialized
    * is the loop-resident default; pass `level` explicitly only when
    * a caller has measured deserialized to win. */
  private[graft] def checkpointed(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK_SER): DataFrame = {
    val sink = planSink.get
    if (sink != null)
      sink(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val out = df.localCheckpoint(eager = false, storageLevel = level)
    try { out.count(): Unit; out }
    catch { case t: Throwable => release(out); throw t }
  }

  /** Cache `tmp` for the duration of building AND materializing the
    * result, then release it. The result comes back
    * lineage-truncated (localCheckpoint, spillable serialized
    * MEMORY_AND_DISK_SER — see [[checkpointed]]):
    * downstream consumers re-read the materialized blocks instead of
    * re-running the plan, and the unpersisted intermediate can never
    * be silently recomputed-and-recached by a later action.
    *
    * EAGER CONTRACT: the wrapped operator EXECUTES its corpus job at
    * call time (the materialize-then-release lifecycle above requires
    * a definite point after which the intermediate is provably
    * unreferenced — first-action laziness would leave the unpersist
    * with nothing to anchor to). Public operators built on this
    * (semanticDedup, minhashLshPairs, ngramJaccardPairs, simhashPairs,
    * …) document the same contract; compose/explain-only callers use
    * the `private[graft] …From` plan builders instead (which is what
    * PlanAuditSpec audits). If build() or materialization throws,
    * both the intermediate cache and any partially persisted result
    * checkpoint blocks are released before the rethrow
    * (StorageChaosSpec pins this). */
  private[graft] def withCached(tmp: DataFrame)(build: DataFrame => DataFrame): DataFrame = {
    tmp.cache()
    // NO blanket fill-first here (round 16): materializing the cache
    // with an up-front count() before building consumers was measured
    // across the full registry and came out ~7% net-NEGATIVE
    // box-adjusted — the extra job taxes every light eager operator,
    // while the racing-consumer waste it fixes (broadcast-subquery
    // plans don't share exchanges across threads, so racing stages
    // can re-run the cached lineage's map stages) is concentrated in
    // a few heavy multi-consumer operators. Those carry their own
    // fill-first ladders (weightedJaccardPairs, ccnetBuckets).
    try checkpointed(build(tmp))
    finally tmp.unpersist(blocking = false)
  }

  /** The cached RDDs behind a `localCheckpoint`ed frame (the blocks
    * `Dataset.unpersist` does NOT release — checkpoint storage is
    * owned by the underlying RDD, not the Dataset cache). */
  private[graft] def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }

  /** Free the executor blocks behind an operator result produced by
    * [[withCached]] (or any localCheckpoint'ed frame). Safe to call
    * after the caller's terminal action; the frame must not be used
    * afterwards. */
  def release(df: DataFrame): Unit =
    checkpointRdds(df).foreach(_.unpersist(blocking = false))
}
