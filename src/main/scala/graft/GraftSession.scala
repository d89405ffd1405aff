package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults: AQE (runtime re-plan +
  * skew-join splitting), shuffle partitions sized to the deployment (32
  * for local[32]; set to ~2-3x total cores on a real cluster), UTC
  * session time for deterministic event-time semantics, and graft's
  * SQL extensions (custom expressions) installed.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Post-shuffle partition sizing stays at Spark's defaults
      // (parallelism-first coalescing, 64 MB advisory size, no
      // shuffled-hash local-map rewrite). Bytes-based sizing
      // (parallelismFirst=false, advisoryPartitionSizeInBytes=128-256m)
      // is the at-scale policy on a cluster — set it through Spark
      // conf. Locally it was measured worse: at sf0.1 per-round state
      // checkpoints coalesce below the iterative operators' pinned
      // edge partitioning and every round re-Exchanges the big side
      // (shuffle bytes +15-40% across the rank family at advisory=1m).
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graft tables are FIELD-ID mapped (Iceberg-style column
      // identity: RENAME resolves old files by id, a re-added dropped
      // name can never match retired bytes). Matching engages only
      // when a read's requested schema carries ids — every other
      // parquet read keeps plain name matching, so this is inert
      // outside graft catalogs
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // streaming state that spills: the default provider keeps every
      // key on-heap (executor-memory-bound); RocksDB keeps working
      // state off-heap/on-disk with incremental checkpoints — the
      // provider a long-running large-state stream needs
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing (r15): commit uploads the per-batch
      // changelog instead of a full RocksDB snapshot — the per-batch
      // commit cost stops scaling with total state size (snapshots
      // still happen, asynchronously in the background). Same state
      // semantics, same provider; this is the documented production
      // setting for frequent small commits.
      .config("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled", "true")
      .config("spark.sql.extensions", classOf[graft.plans.GraftExtensions].getName)

  /** Local session for tests / exploration. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
