package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Settings chosen for the 100 TB posture (and scaled down for local[N]):
  *  - AQE on: runtime re-planning converts sort-merge joins to broadcast
  *    joins when the build side turns out small, coalesces tiny shuffle
  *    partitions, and splits skewed ones.
  *  - shuffle.partitions matches local cores here; on a real cluster this
  *    would be ~2-3x total executor cores and AQE coalescing makes the
  *    exact number less critical.
  *  - UTC session time zone: required for oracle (DuckDB) parity — parquet
  *    timestamps are naive wall values; with UTC the wall value and the
  *    instant coincide.
  *  - `file:` FileSystem: [[NioLocalFileSystem]], Hadoop's checksummed
  *    local filesystem with permissions set by java.nio. Without its
  *    native library, Hadoop's own forks `chmod` for every file and
  *    directory it creates: about two forks per part file, on every
  *    executor write the engine makes (BENCHNOTES "Part files without
  *    forks").
  *  - checkpoint file manager: streaming offset, commit, source and sink
  *    logs and state-store files on the local filesystem are written by
  *    [[LocalCheckpointFileManager]] with java.nio, to a temp file that a
  *    hard link or an atomic rename publishes; Spark's default manager
  *    renames through `FileContext`, which forked `readlink` per link
  *    lookup (BENCHNOTES "Checkpoint files without forks"). Paths on
  *    every other scheme keep Spark's default manager.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // typed Aggregators (MinHash) run under ObjectHashAggregate; the
      // default 128-key fallback to sort-based aggregation would sort the
      // whole shingle stream — keep hashing up to ~1M groups per task
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.sql.streaming.stopGracefullyOnShutdown", "true")
      .config("spark.sql.extensions", "graft.core.GraftExtensions")
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
      .config(NioLocalFileSystem.ConfKey, classOf[NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
