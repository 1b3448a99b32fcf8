package graft.tools

import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe of the dev mains (JobProfile,
  * ExplainDump, HofAudit, AuditProbe, ScaleSmoke) — not part of the
  * driver contract, whose `graft.Bench` and `graft.Verify` build their
  * own. Confs are applied in this order, a later one winning:
  *
  *  - `spark.sql.shuffle.partitions` = n (the `local[n]` core count:
  *     `SPARK_GRAFT_CPUS`, else every available processor) and the UI
  *     off;
  *  - [[graft.GraftConf.localSmallFiles]] and
  *     [[graft.GraftConf.required]];
  *  - the caller's `overrides`;
  *  - `SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2"`, with `graft.Verify`'s
  *     semantics ([[parseExtraConfs]]), so a posture run (gates forced
  *     open, the cluster repair flag) reaches every dev main the way
  *     it reaches Verify.
  */
object DevSession {

  val ExtraConfsEnv = "SPARK_GRAFT_EXTRA_CONFS"

  /** Cores of the `local[n]` master. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `k=v;k2=v2` → conf pairs: entries split on `;` (a value cannot
    * contain one — no shipped conf needs it), empty entries skipped,
    * keys trimmed so `"a=1; b=2"` sets `b`, and an entry without `=`
    * is a loud error, not a MatchError. */
  def parseExtraConfs(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v
        case _ => sys.error(s"$ExtraConfsEnv: bad entry (no '='): $kv")
      }
    }

  /** The session's confs in application order (see the object doc). */
  def confs(n: Int, overrides: Map[String, String],
      extraConfs: Option[String]): Seq[(String, String)] =
    Seq("spark.sql.shuffle.partitions" -> n.toString, "spark.ui.enabled" -> "false") ++
      graft.GraftConf.localSmallFiles ++ graft.GraftConf.required ++ overrides ++
      extraConfs.toSeq.flatMap(parseExtraConfs)

  def build(overrides: Map[String, String] = Map.empty): SparkSession = {
    val n = cpus
    val builder = SparkSession.builder().master(s"local[$n]")
    confs(n, overrides, sys.env.get(ExtraConfsEnv)).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Drop what a query left cached, so the next one starts cold:
    * frames [[graft.Materialize.persistPartitioned]] pinned, then
    * every other persistent RDD (blocking, so freed memory is freed
    * before the next timing starts). */
  def clearPersisted(spark: SparkSession): Unit = {
    graft.Materialize.clearPinned()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
