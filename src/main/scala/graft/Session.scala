package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main and the spec suite run on. */
object Session {

  /** `SPARK_GRAFT_CPUS`, else the processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `local[cores]` with `cores` shuffle partitions. Every build gets a
    * fresh, private artifact root and warehouse dir. */
  def local(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // rank-filter group limits must cover t59's VerifyCap=4096
      // sample (default threshold 1000 silently disables the pushdown)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
      // older corpus layouts store events.ts as TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // ContextCleaner frees broadcast/shuffle blocks only when the driver
      // GCs; the default periodic-GC interval (30min) outlives the whole
      // suite, and in local mode driver + executor share one heap — stale
      // broadcast blocks from 115 warmup runs squeeze the storage pool
      // that cache-reliant queries (e06's Lloyd intermediates) depend on
      // (measured: e06 16.7 s inside the full suite vs 1.9 s isolated).
      // A real cluster self-heals (per-executor heaps, natural driver GC);
      // local[32] needs the nudge.
      .config("spark.cleaner.periodicGC.interval", "45s")
      // An oversubscribed host sometimes stalls the whole JVM for minutes.
      // With the default 120 s network timeout the driver expires its own
      // local block manager during such a stall; re-registration then dies
      // forever in local mode (the re-register path resolves a
      // CoarseGrainedScheduler endpoint that never exists under local[n]),
      // heartbeats fail 60x and the executor exits, cascade-failing every
      // later action. 600 s rides out the stall; it has no effect on
      // healthy runs.
      .config("spark.network.timeout", "600s")
      // The similarity/PQ index store (ext/Artifacts.scala) is DURABLE
      // across JVMs by design. No run may time or check artifacts
      // committed by an earlier JVM — every run computes from the parquet
      // inputs, so each session gets a fresh, private artifact root.
      // Within the run the warm store still means passes 2..n bill
      // probe-only cost.
      .config("spark.graft.indexDir",
        Files.createTempDirectory("graft_idx").toString)
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
