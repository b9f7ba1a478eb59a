package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

/** Sink maintenance jobs.
  *
  * A long-running append stream writes one small file per trigger per
  * partition; at 100 TB that means millions of kilobyte files that
  * destroy scan performance (footer reads dominate). Compaction
  * rewrites a closed date partition into few large files — run it on
  * partitions the watermark has passed, never on the one being written.
  */
object Maintenance {

  /** The LogEntry fields in Go struct declaration order (reference
    * main.go:43-51). Compaction reads with this explicit schema — JSON
    * inference would alphabetize the field order and could retype
    * fields, breaking the documented field-order parity of the sink. */
  private[streaming] val logEntrySchema: StructType = StructType(Seq(
    StructField("timestamp", StringType),
    StructField("level", StringType),
    StructField("message", StringType),
    StructField("client_ip", StringType),
    StructField("byte_count", LongType),
    StructField("binary_data_hex", StringType),
    StructField("binary_data_string", StringType)))

  /** Rewrite one `date=`-partition of a JSONL sink directory into
    * `targetFiles` files. Returns the resulting file count, or -1 if the
    * partition does not exist.
    *
    * Swap visibility: HDFS-style filesystems offer no multi-path atomic
    * rename, so the swap is two renames (live→backup, compacted→live)
    * and the partition path does NOT exist for the instant between them
    * — concurrent readers of this one partition can transiently miss it.
    * Run compaction only on closed partitions (see class doc), where the
    * only readers are ad-hoc scans that retry. A crash between the
    * renames is recovered on the next invocation: the backup path is
    * restored if the live path is missing, so no data is stranded.
    *
    * CONTRACT: downstream readers must target partition paths
    * (`outDir/date=.../`) — a batch read of the sink ROOT resolves files
    * through the FileStreamSink's `_spark_metadata` log, which still
    * lists the pre-compaction files. Rewriting that log in place is not
    * safe while the stream is live, so compaction deliberately leaves it
    * alone and the root-read view stays consistent for the stream's own
    * exactly-once bookkeeping. */
  def compactJsonPartition(
      spark: SparkSession, outDir: String, date: String, targetFiles: Int = 1): Int = {
    val part = new Path(s"$outDir/date=$date")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(s"$outDir/.old-date=$date")
    // crash recovery: the backup exists only inside an interrupted swap
    // window; restore it when the live path is gone, discard it when the
    // swap completed but cleanup died
    if (fs.exists(bak)) {
      if (!fs.exists(part)) fs.rename(bak, part)
      else fs.delete(bak, true)
    }
    if (!fs.exists(part)) return -1
    val tmp = new Path(s"$outDir/.compact-date=$date")
    fs.delete(tmp, true)
    spark.read.schema(logEntrySchema).json(part.toString)
      .select(logEntrySchema.fieldNames.map(col).toIndexedSeq: _*)
      .repartition(targetFiles)
      .write.mode("overwrite")
      .option("ignoreNullFields", "true") // keep the sink's omitempty shape
      .json(tmp.toString)
    require(fs.rename(part, bak), s"swap failed: $part -> $bak")
    require(fs.rename(tmp, part), s"swap failed: $tmp -> $part (backup at $bak)")
    fs.delete(bak, true)
    fs.listStatus(part).count(_.getPath.getName.endsWith(".json"))
  }

  /** Rewrite one parquet directory (a closed partition of any sink —
    * a `batch_id=N` data partition, a static table) CLUSTERED on the
    * Morton z-order of columns (x, y) in `targetFiles` files — the
    * lakehouse `OPTIMIZE … ZORDER BY` maintenance pass, composed from
    * [[graft.operators.Layout.layoutByZorder]] (one repartitionByRange
    * + in-partition sort; every output file gets a small bounding BOX
    * over both keyed columns so point/range predicates on EITHER prune
    * files) and the same two-rename crash-safe swap as
    * [[compactJsonPartition]] (backup restored on the next invocation
    * if a crash strands it). Returns the resulting file count, or -1
    * if the directory does not exist. Run only on CLOSED partitions —
    * the swap window transiently hides the path from concurrent
    * readers. */
  def optimizeZorder(spark: SparkSession, dir: String, x: String, y: String,
      targetFiles: Int = 1, fileStats: Boolean = false): Int =
    optimizeClustered(spark, dir, x, y, targetFiles,
      graft.operators.Layout.layoutByZorder, fileStats)

  /** [[optimizeZorder]] with the Hilbert key instead — same one-shuffle
    * re-layout and crash-safe swap, tighter per-file boxes (consecutive
    * curve positions are always grid neighbors; `LayoutSpec` measures
    * hilbert ≤ z-order box areas). The Iceberg/ClickHouse trade: a
    * costlier key expression for better range-scan pruning. */
  def optimizeHilbert(spark: SparkSession, dir: String, x: String, y: String,
      targetFiles: Int = 1, fileStats: Boolean = false): Int =
    optimizeClustered(spark, dir, x, y, targetFiles,
      graft.operators.Layout.layoutByHilbert, fileStats)

  /** `fileStats = true` also (re)builds the per-file min/max manifest
    * ([[graft.operators.Layout.writeFileStats]]) — INSIDE the staged
    * directory, before the atomic swap, so a reader can never observe
    * re-laid-out data with a stale manifest (or vice versa). A table
    * served through [[graft.operators.Layout.prunedScan]] must be
    * maintained with this on: the swap discards the old manifest with
    * the old files. */
  private def optimizeClustered(spark: SparkSession, dir: String,
      x: String, y: String, targetFiles: Int,
      relayout: (org.apache.spark.sql.DataFrame, String, String, Int) => org.apache.spark.sql.DataFrame,
      fileStats: Boolean = false): Int = {
    val part = new Path(dir)
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = part.getName
    val bak = new Path(part.getParent, s".old-$name")
    if (fs.exists(bak)) {
      if (!fs.exists(part)) fs.rename(bak, part)
      else fs.delete(bak, true)
    }
    if (!fs.exists(part)) return -1
    val tmp = new Path(part.getParent, s".zorder-$name")
    fs.delete(tmp, true)
    relayout(spark.read.parquet(dir), x, y, targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (fileStats)
      graft.operators.Layout.writeFileStats(spark, tmp.toString, x, y)
    require(fs.rename(part, bak), s"swap failed: $part -> $bak")
    require(fs.rename(tmp, part), s"swap failed: $tmp -> $part (backup at $bak)")
    fs.delete(bak, true)
    fs.listStatus(part).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Marker a crashed [[compactBatchStore]] leaves behind; its presence
    * means the store is mid-swap (some source partitions deleted, the
    * compacted partition not yet installed) and MUST NOT be read until
    * compaction is re-invoked to finish the plan. [[CurateStream]]'s
    * layout gate fails any batch that sees it. */
  private[streaming] val CompactMarker = "_compact_inprogress"

  /** Compact every `batch_id ≤ upTo` partition of a per-batch store
    * ([[CurateStream]]'s key store or band store — any parquet store
    * laid out as `batch_id=N` directories) into ONE `batch_id=upTo`
    * partition of `targetFiles` files. Returns the compacted partition's
    * row count, or -1 when there was nothing to compact (0 or 1 source
    * partitions). A store accretes one directory per drop forever;
    * listing cost and the anti-join's file count degrade with it —
    * this is the fix, run periodically like any sink maintenance.
    *
    * `schema` is the store's DATA columns — required, never inferred:
    * the partition directories are read as roots, so `batch_id` is not
    * a column there (and is refused here), and a column the schema
    * omits is dropped from the compacted partition. Job budget: the
    * fold's shuffles plus its ONE write — no schema-inference job, and
    * no read-back of the installed partition (the returned count rides
    * the write through an [[org.apache.spark.sql.Observation]]). The
    * in-stream callers fold once per cadence hit, so every job here is
    * a trigger's fixed cost.
    *
    * REPLAY CONTRACT: the store is read with `batch_id < N`, so the
    * compacted partition keeps the LARGEST compacted id (`upTo`) and
    * `upTo` must be strictly below any batch that may still replay —
    * i.e. below the streaming checkpoint's newest committed batch.
    * Then a replay of batch M > upTo still sees every compacted key
    * (upTo < M) and still excludes its own (M not compacted), so the
    * `batch_id < N` semantics survive compaction unchanged.
    *
    * Crash safety (single maintenance writer, no batch in flight —
    * same operating rule as [[compactJsonPartition]]): the compacted
    * tmp is fully written BEFORE a `_compact_inprogress` marker
    * records the swap plan (target + source partition names); only
    * then are sources deleted and the tmp renamed in. A crash before
    * the marker changes nothing durable (tmp is ignored and
    * rewritten); a crash after it leaves the marker, which (a) makes
    * [[CurateStream]] batches fail loudly instead of reading a
    * half-swapped store, and (b) lets the next invocation finish the
    * plan deterministically — every key is in tmp from before the
    * marker existed, so no crash point loses keys.
    *
    * `fold` rewrites the unioned rows before the write — for stores
    * whose rows REDUCE under compaction (e.g. [[PackStream]]'s
    * sequence fragments pre-merge per seq_id); it must be a pure
    * function of the union (re-running it on recovery is not possible:
    * the tmp is already folded), which the fully-written-before-marker
    * ordering guarantees is never needed. The returned count is of the
    * FOLDED rows — what the installed partition holds. */
  def compactBatchStore(spark: SparkSession, storeDir: String, upTo: Long,
      schema: StructType, targetFiles: Int = 1,
      fold: DataFrame => DataFrame = identity): Long = {
    require(!schema.fieldNames.contains("batch_id"),
      s"compactBatchStore: the schema of $storeDir must list data columns only " +
        "— batch_id is the partition directory, not a column of its files")
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, CompactMarker)
    val tmp = new Path(root, ".compact-tmp")
    if (fs.exists(marker)) {
      // finish the interrupted plan: delete listed sources that remain,
      // install tmp as the target if that rename never happened
      val in = fs.open(marker)
      val plan = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val target = new Path(root, plan.head)
      // the target's own name appears among the sources (the pre-compaction
      // `batch_id=upTo` partition is one of them); when the crash landed
      // AFTER the tmp->target rename, that name now denotes the INSTALLED
      // compacted partition and tmp is gone — deleting it here would lose
      // every compacted key, so the target name is never deleted by the
      // recovery loop (the tmp-exists path below deletes the target itself
      // before renaming, which covers the pre-rename crash points)
      plan.tail.filterNot(_ == plan.head).foreach(n => fs.delete(new Path(root, n), true))
      if (fs.exists(tmp)) {
        fs.delete(target, true)
        require(fs.rename(tmp, target), s"compaction recovery swap failed: $tmp -> $target")
      }
      fs.delete(marker, false)
    }
    if (!fs.exists(root)) return -1L
    val srcs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(n => n -> n.stripPrefix("batch_id=").toLong)
      .filter(_._2 <= upTo)
      .sortBy(_._2)
    if (srcs.length <= 1) return -1L
    fs.delete(tmp, true)
    val written = Observation()
    fold(spark.read.schema(schema)
        .parquet(srcs.map { case (n, _) => s"$storeDir/$n" }.toIndexedSeq: _*))
      .observe(written, count(lit(1)).as("rows"))
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val rows = written.get("rows").asInstanceOf[Long]
    val out = fs.create(marker, true)
    try out.write((s"batch_id=$upTo" +: srcs.map(_._1).toSeq).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    srcs.foreach { case (n, _) => fs.delete(new Path(root, n), true) }
    val target = new Path(root, s"batch_id=$upTo")
    require(fs.rename(tmp, target), s"compaction swap failed: $tmp -> $target (marker at $marker)")
    fs.delete(marker, false)
    rows
  }
}
