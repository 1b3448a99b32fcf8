package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * The engine's lineage barrier, with a fault-tolerance knob.
 *
 * Several operators need a hard barrier before a Generate/self-join
 * over an expensive expression chain (see [[graft.dedup.Dedup]] for
 * the three measured reasons). HOW that barrier is realized is a
 * deployment decision, controlled by the session conf
 * `spark.graft.materialize.mode`:
 *
 *  - `local` (default): `localCheckpoint(eager)` — fastest (blocks in
 *    executor local store, no DFS round-trip), the right call on
 *    local/bench shapes. NOT fault-tolerant: blocks live only on the
 *    executors that computed them and lineage is truncated, so at
 *    cluster scale a lost executor kills the job instead of
 *    recomputing.
 *  - `persist`: `persist(DISK_ONLY_2)` + an eager count to populate.
 *    Two disk replicas tolerate a single executor loss, and the
 *    lineage is KEPT, so even a double loss recomputes instead of
 *    failing. No checkpoint directory needed.
 *  - `checkpoint`: `checkpoint(eager)` to the reliable store set via
 *    `sparkContext.setCheckpointDir` (HDFS/S3). Survives any number
 *    of executor losses; the right call for long dedup/clustering
 *    jobs at 100 TB. Throws (from Spark) if no checkpoint dir is set.
 *
 * Every caller pins a DETERMINISTIC frame, so a recompute from kept
 * lineage returns the same rows and `persist` mode may keep lineage.
 * A nondeterministic assignment (sampled range boundaries, monotonic
 * ids) must not be pinned here: the global-window rule keeps its
 * sampled boundaries inside one ShuffleDependency instead (see
 * [[graft.plans.GlobalRankExec]]).
 *
 * Cache population is not column-pruned (the InMemoryRelation stores
 * the full plan output), so the eager `count()` in persist mode
 * materializes every column — unlike a bare count used for timing
 * (see STATUS.md lesson 1, which is about measuring, not caching).
 */
object Materialize {

  val ModeKey = "spark.graft.materialize.mode"

  /** Every gate conf key ever consulted in this JVM — the registry
    * the AuditProbe sweep reads so it can force EVERY gate open
    * without a hand-maintained list (review finding: a parallel list
    * silently misses a new key's gate and audits the wrong plan). */
  val registeredGateKeys: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Threshold of every size gate when its conf key is unset. */
  val DefaultMinBytes: Long = 32L * 1024 * 1024

  /** The one gate of every [[barrierAbove]] call site. */
  val BarrierMinBytesKey = "spark.graft.barrier.minBytes"

  /** The gate of [[persistPartitionedAbove]] — a different trade-off
    * (an up-front shuffle+sort against per-round exchange elision). */
  val PinMinBytesKey = "spark.graft.pin.minBytes"

  /** THE size-gate rule (one definition — the gates must not drift):
    * true when `sizeOf`'s ESTIMATED size (plan statistics — no job)
    * is under `confKey`'s threshold ([[DefaultMinBytes]] when unset),
    * i.e. the cheap small-scale plan should be kept. */
  def underGate(sizeOf: DataFrame, confKey: String): Boolean = {
    registeredGateKeys.add(confKey)
    val minBytes = BigInt(scala.util.Try(
      sizeOf.sparkSession.conf.get(confKey).toLong).getOrElse(DefaultMinBytes))
    sizeOf.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes
  }

  /** Size-gated [[barrier]] (the ft1/au1 precedent), gated on
    * [[BarrierMinBytesKey]]: skip the checkpoint when [[underGate]]
    * holds, because below the threshold the consumers' recomputes are
    * cheaper than the fixed checkpoint write; above it the barrier's
    * dedup wins. */
  def barrierAbove(df: DataFrame, sizeOf: DataFrame): DataFrame =
    if (underGate(sizeOf, BarrierMinBytesKey)) df else barrier(df)

  /** Size-gated [[persistPartitioned]], gated on [[PinMinBytesKey]]:
    * below the gate the fixed `shuffle.partitions`-way pin COSTS more
    * than it saves (every
    * loop round then runs `shuffle.partitions` tasks per stage where
    * AQE would coalesce a tiny exchange to 1-4 — measured at sf0.1:
    * cc1 1.78→3.96 s with the pin unconditional), so small inputs
    * keep the plain [[barrier]] and the AQE-coalesced round shape.
    * Above it, the pin trades one upfront shuffle+sort of the frame
    * for per-round Exchange+Sort elision — at corpus scale the frame
    * is the edge list and the rounds are the multiplier. `sizeOf`
    * must be a stats-bearing frame (a scan, or a LocalRelation): the
    * pinned frame itself usually sits on checkpointed LogicalRDD
    * leaves whose join-multiplied estimates are garbage-huge
    * (measured 1.2e15 "bytes" for a 26-pair frame). */
  def persistPartitionedAbove(df: DataFrame, key: String, sizeOf: DataFrame): DataFrame =
    if (underGate(sizeOf, PinMinBytesKey)) barrier(df)
    else persistPartitioned(df, key)

  /** Every frame [[persistPartitioned]] has pinned in this JVM.
    * Unlike the localCheckpoint barrier (whose blocks the
    * ContextCleaner frees once the RDD is GC'd), a cached Dataset is
    * strongly held by the CacheManager until explicit unpersist — so
    * LIBRARY callers running pinned operators (dedupClusters / kCore /
    * bfsDistance / triangleCounts above the pin gate) in a long-lived
    * session must call [[clearPinned]] (or
    * `spark.catalog.clearCache()`) once the operator's result is
    * materialized, or the edge-list caches accumulate without bound
    * (ADVICE r20, medium). The dev mains clear them between keys
    * through `graft.tools.DevSession.clearPersisted`. */
  private val pinned = scala.collection.mutable.Buffer[DataFrame]()

  /** Unpersist every frame pinned by [[persistPartitioned]] in this
    * JVM. Safe while results are still lazy — the pin keeps lineage,
    * so a later action recomputes (slower, never wrong). */
  def clearPinned(): Unit = pinned.synchronized {
    pinned.foreach(df => scala.util.Try(df.unpersist(blocking = true)))
    pinned.clear()
  }

  /** Partition-pinning barrier for frames an ITERATIVE operator joins
    * on the same key every round (guide §2.4 — the in-memory analogue
    * of a bucketed table): repartition by `key` into exactly
    * `spark.sql.shuffle.partitions` partitions, sort within
    * partitions on the key, persist, and materialize eagerly. The
    * cached plan's hash partitioning AND intra-partition order
    * survive into every consumer — `InMemoryTableScan` advertises
    * them as long as
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
    * stays at its default false — so each round's sort-merge join on
    * `key` skips this side's Exchange and Sort entirely: the frame
    * (at scale, the EDGE LIST — the biggest table in the job) is
    * shuffled+sorted once instead of once per round. The explicit
    * partition count keeps AQE from coalescing the pin (a
    * REPARTITION_BY_NUM exchange is never coalesced) and matches the
    * count EnsureRequirements gives the other join side.
    *
    * Fault tolerance: persist(MEMORY_AND_DISK) KEEPS lineage — an
    * evicted/lost block recomputes from source, strictly more
    * recoverable than the localCheckpoint barrier. The eager count
    * avoids the multi-branch lazy-population race documented at
    * [[graft.dedup.Dedup.materialize]]. */
  def persistPartitioned(df: DataFrame, key: String): DataFrame = {
    val spark = df.sparkSession
    val n = scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val p = df.repartition(n, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key).persist()
    p.count()
    pinned.synchronized { pinned += p }
    p
  }

  private def mode(df: DataFrame): String =
    scala.util.Try(df.sparkSession.conf.get(ModeKey)).getOrElse("local")

  def barrier(df: DataFrame): DataFrame = {
    mode(df) match {
      case "local" => df.localCheckpoint(eager = true)
      case "persist" =>
        val p = df.persist(StorageLevel.DISK_ONLY_2)
        p.count()
        p
      case "checkpoint" => df.checkpoint(eager = true)
      case other =>
        throw new IllegalArgumentException(
          s"$ModeKey must be local | persist | checkpoint, got: $other")
    }
  }

  /** The barrier of an iterative loop's round, for a caller that runs
    * ONE action on the result right away (a convergence scalar), so
    * the barrier and that scalar cost one job per round, not two. In
    * `local` mode it is a LAZY `localCheckpoint`: the logical plan is
    * truncated at once (the returned frame wraps a LogicalRDD either
    * way — a round frame with three consumers otherwise grows its
    * plan 3^rounds; persist() was tried and measured a >2 GB plan
    * string by round ~10), and the caller's action materializes the
    * blocks. The lazy-checkpoint race caveat on
    * [[graft.dedup.Dedup.materialize]] does not apply, as long as
    * that action is a single-branch consumer run before any other
    * consumer plans against the frame. Other modes keep [[barrier]]
    * (the fault-tolerance knob) and pay the extra action. */
  def roundBarrier(df: DataFrame): DataFrame =
    if (mode(df) == "local") df.localCheckpoint(eager = false) else barrier(df)
}
