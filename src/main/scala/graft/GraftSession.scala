package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession every entry point runs under — Bench, Verify,
  * Smoke, the tools and the test suite — so the plans Verify checks
  * against the DuckDB oracle are the plans Bench times. Every session it
  * builds carries [[graft.functions.GraftExtensions]]: graft's SQL
  * functions resolve and `TopK.perKey` plans without any later
  * registration. */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def start(appName: String, cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      // local[N, 2]: allow ONE task retry. Local mode defaults to
      // maxFailures=1 while every real cluster runs 4 — a single
      // cold-JVM GCLocker hiccup on the suite's first heavy query then
      // fails the whole rung record (observed: q04 OOM'd the 1000×
      // runs=1 record at suite position 4, re-ran clean at 48 s
      // isolated). One retry is the minimum cluster-faithful setting;
      // a query whose PLAN over-allocates still fails on the retry.
      .master(s"local[$cores, 2]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // shuffle/spill files on tmpfs: on a disk that sustains ~55 MB/s,
      // writeback jitter dominated sub-second queries (measured ~28 s of
      // task time writing a 20 MB shuffle). A real cluster runs local
      // SSDs for spark.local.dir; a RAM disk is the single-host equivalent.
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-tmp"))
      // Broadcast sizing is a DEPLOYMENT decision, not a query hint: the
      // r6 sweep removed every broadcast() hint on scale-proportional
      // tables (part/supplier/customer slices) so plans degrade to
      // shuffle joins instead of OOM when those tables outgrow memory.
      // This session's executors hold gigabytes per core, so a few
      // hundred MB build side is cheap — but ONLY the AQE runtime
      // threshold is raised: it judges ACTUAL shuffle sizes, while the
      // static threshold judges Catalyst's estimates, which on derived
      // frames (aggregates, LSH pair streams) can be off by 100×
      // (measured: a frame estimated broadcastable built a 10.7 GiB
      // hash relation at the 1000× rung and hit the 8 GiB hard limit).
      // Static stays at the default 10 MB; AQE converts to broadcast
      // when a build side MEASURES under 256 MB — a 170 MB part table
      // at the 1000× rung converts, a 170 GB one at 100 TB never does.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
        (256L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(raw =>
      confOverrides(raw).foreach { case (k, v) => spark.conf.set(k, v) })
    spark
  }

  /** The ladder hook: SPARK_GRAFT_CONF="spark.graft.dedup.digestHex=16,
    * spark.graft.audit.sampleDenom=10" sets session confs before a run —
    * how the scale ladder measures the conf-gated 100-TB paths (digest
    * truncation, sampled audit) under bench discipline, and how Verify
    * checks identity under the same confs. Only spark.graft.* keys. */
  def confOverrides(raw: String): Seq[(String, String)] =
    raw.split(",").toSeq.map(_.trim).filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      require(k.startsWith("spark.graft."),
        s"SPARK_GRAFT_CONF only sets spark.graft.* keys, got $k")
      k -> v
    }
}
