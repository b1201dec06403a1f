package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Bench, Verify, Ab,
  * PlanDump, PlanAudit, the streaming demo main and the test suites all
  * call [[local]], so their confs cannot drift apart.
  *
  * `spark.sql.extensions` is deliberately NOT set: the engine's planner
  * strategies arrive through the idempotent `TopKPerGroup.register` on
  * first use, exactly as in sessions built elsewhere (see
  * [[GraftExtensions]] for the cluster-deployment path).
  */
object Sessions {
  def local(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      // session-TZ-sensitive queries (unix_timestamp on NTZ, to_date)
      // must bucket identically across hosts, or neither results nor
      // timings are comparable machine to machine
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // reclaim per-iteration reliable-checkpoint files (Lineage.truncate)
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // The ContextCleaner only reclaims dead broadcasts/RDDs after a
      // JVM GC surfaces their weak references; its fallback periodic GC
      // defaults to 30 min — longer than a whole bench run. 1 min keeps
      // cleanup flowing between explicit drops.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // FAIR job scheduling for the two streaming-audit rows' concurrent
      // families/machines. The mode conf alone is a no-op: without
      // named pools every job sits in the single 'default' pool, whose
      // intra-pool order is FIFO. StreamEquivalence names one scheduler
      // pool per family/machine thread, which makes FAIR real. An
      // interleaved on/off A/B at sf0.1/32 cores under co-tenant load
      // measured no difference (mins 6.9-21 s both arms); it is kept
      // because per-pool fair sharing is the correct shape when the
      // audits share an app with other tenants, and it costs nothing.
      // Single-query rows see one job at a time either way.
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
