package graft

/**
 * Recommended SparkSession configuration for the engine, by
 * deployment shape. These are starting points, not magic — the
 * comments say which operator motivates each knob.
 */
object GraftConf {

  /** The confs every engine session sets at build time: driver
    * testdata + oracle parity, and a codegen cache sized to the
    * engine's working set (see `graft.sources.Tables.requiredConfs`). */
  def required: Map[String, String] = graft.sources.Tables.requiredConfs

  /** Cluster deployment (the 100 TB posture). */
  val cluster: Map[String, String] = Map(
    // AQE re-plans fact joins at runtime: broadcast of aggregated
    // sides (storm spans, interval stats) and skew-join splitting
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // partial aggregation + one exchange per detector means shuffle
    // partition count should track input size; AQE coalesces down
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // native expressions (graft_dot/graft_isect) in SQL without
    // explicit registration
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    // continuous duplicate-work detection on user queries: one plan
    // walk per distinct plan, logs any reuse-defeated duplicate
    // aggregate with the barrier remedy named (graft.plans.PlanAuditLog)
    "spark.graft.planaudit.log" -> "true",
    // ...and the repair: unify reuse-defeated duplicate aggregates
    // into canonical-equal union aggregates so ReuseExchange runs the
    // shared scan + partial aggregate ONCE (graft.plans
    // .PlanAuditRepair). NOTE the posture split (ADVICE r16): the
    // Spark-level DEFAULT of this flag is false — a session that does
    // not load GraftConf runs with the repair off — but this shipped
    // cluster profile deliberately OPTS IN, because at 100 TB a
    // silent double scan costs more than any plan-space rewrite
    "spark.graft.planaudit.repair" -> "true",
    // fault-tolerant lineage barriers: localCheckpoint blocks are lost
    // with their executor, killing long dedup/clustering jobs at
    // cluster scale. Requires sparkContext.setCheckpointDir (HDFS/S3);
    // use "persist" (DISK_ONLY_2, keeps lineage) when no reliable
    // store is available. See graft.Materialize.
    "spark.graft.materialize.mode" -> "checkpoint")

  /** Local/bench shape: small files would otherwise scan as single
    * tasks and serialize CPU-heavy per-row hashing onto one core. */
  val localSmallFiles: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> "4m")
}
