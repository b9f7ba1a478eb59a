package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

import graft.core.LocalCheckpointFileManager

/** Sink maintenance jobs, and the one owner of the per-batch store layout.
  *
  * A long-running append stream writes one small file per trigger per
  * partition; at 100 TB that means millions of kilobyte files that
  * destroy scan performance (footer reads dominate). Compaction
  * rewrites a closed date partition into few large files — run it on
  * partitions the watermark has passed, never on the one being written.
  *
  * PER-BATCH STORES. [[CurateStream]], [[PackStream]], [[BitextStream]],
  * [[MediaStream]] and the s7 user-totals row keep their state and output
  * in parquet stores of one `batch_id=N` directory per micro-batch — the
  * idempotent per-epoch sink of Structured Streaming. Only this object
  * knows that layout; the streams go through [[batchPath]], [[land]],
  * [[listBatches]], [[readBatches]] and [[compactBatchStore]]. The
  * contract every store keeps:
  *   - Overwrite replay. Batch N lands with [[land]], which overwrites
  *     its own `batch_id=N` directory, so a replayed batch (a crash after
  *     the write, before the checkpoint commit) re-lands its output
  *     instead of appending a second copy. One stream is a store's
  *     single writer. Batch ids come from the streaming checkpoint: a
  *     lost checkpoint restarts numbering at 0 and would overwrite
  *     earlier batches, so a checkpoint and its
  *     stores are kept (and backed up) together, and a fresh checkpoint
  *     needs fresh stores.
  *   - `batch_id < N` reads. A batch reads earlier batches through
  *     [[readBatches]]: the store root with its declared schema and a
  *     `batch_id` partition filter (`< N`, or `≤` a commit watermark), so
  *     a replay never reads its own half-written output. The read is
  *     GATED: an entry that is neither a `batch_id=N` directory nor a
  *     hidden `_`/`.` entry would read as `batch_id = null` and drop out
  *     of the filter silently (for a dedup store: dedup quietly off), and
  *     a fold marker means partitions are missing — both refuse the read.
  *     Every other read failure (corrupt file, permission) propagates.
  *   - The fold `upTo` rule. [[compactBatchStore]] collapses every
  *     partition `≤ upTo` into one `batch_id=upTo` partition, so `upTo`
  *     must stay strictly below any batch that may still replay. The
  *     in-stream cadences fold before batch N's own work at `upTo = N − 1`,
  *     which the checkpoint has committed; a replay of M > upTo then
  *     still reads every folded row and still excludes its own.
  *   - The marker. A fold that crashes after deleting sources leaves
  *     [[CompactMarker]] with its plan. Gated reads refuse the store
  *     until the next [[compactBatchStore]] call finishes the plan;
  *     [[listBatches]] reports the marker without throwing, so a fold
  *     cadence sees it and finishes the plan on the replayed batch.
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
    * partition does not exist. The rewrite is installed by the one
    * crash-safe [[swapPartition]]; run it only on closed partitions (see
    * class doc), where the only readers are ad-hoc scans that retry.
    *
    * CONTRACT: downstream readers must target partition paths
    * (`outDir/date=.../`) — a batch read of the sink ROOT resolves files
    * through the FileStreamSink's `_spark_metadata` log, which still
    * lists the pre-compaction files. Rewriting that log in place is not
    * safe while the stream is live, so compaction deliberately leaves it
    * alone and the root-read view stays consistent for the stream's own
    * exactly-once bookkeeping. */
  def compactJsonPartition(
      spark: SparkSession, outDir: String, date: String, targetFiles: Int = 1): Int =
    swapPartition(spark, new Path(s"$outDir/date=$date"), "compact", ".json") { (part, tmp) =>
      spark.read.schema(logEntrySchema).json(part.toString)
        .select(logEntrySchema.fieldNames.map(col).toIndexedSeq: _*)
        .repartition(targetFiles)
        .write.mode("overwrite")
        .option("ignoreNullFields", "true") // keep the sink's omitempty shape
        .json(tmp.toString)
    }

  /** The one crash-safe swap of a closed partition directory `part`,
    * shared by [[compactJsonPartition]] and [[optimizeClustered]]:
    * `write(part, tmp)` stages the rewrite in the sibling `.<stage>-<name>`,
    * then two renames (live → `.old-<name>` backup, staged → live) install
    * it and the backup is deleted. Returns the installed partition's `ext`
    * file count, or -1 when the partition does not exist.
    *
    * Visibility: HDFS-style filesystems offer no multi-path atomic
    * rename, so the partition path does NOT exist for the instant
    * between the two renames — concurrent readers of this one partition
    * can transiently miss it. Crash recovery: a backup found on entry
    * exists only inside an interrupted swap window; it is restored when
    * the live path is gone (a crash between the renames) and discarded
    * when the swap completed but cleanup died, so no data is stranded. */
  private def swapPartition(spark: SparkSession, part: Path, stage: String, ext: String)(
      write: (Path, Path) => Unit): Int = {
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(part.getParent, s".old-${part.getName}")
    if (fs.exists(bak)) {
      if (!fs.exists(part)) fs.rename(bak, part)
      else fs.delete(bak, true)
    }
    if (!fs.exists(part)) return -1
    val tmp = new Path(part.getParent, s".$stage-${part.getName}")
    fs.delete(tmp, true)
    write(part, tmp)
    require(fs.rename(part, bak), s"swap failed: $part -> $bak")
    require(fs.rename(tmp, part), s"swap failed: $tmp -> $part (backup at $bak)")
    fs.delete(bak, true)
    fs.listStatus(part).count(_.getPath.getName.endsWith(ext))
  }

  /** Rewrite one parquet directory (a closed partition of any sink —
    * a `batch_id=N` data partition, a static table) CLUSTERED on the
    * Morton z-order of columns (x, y) in `targetFiles` files — the
    * lakehouse `OPTIMIZE … ZORDER BY` maintenance pass, composed from
    * [[graft.operators.Layout.layoutByZorder]] (one repartitionByRange
    * + in-partition sort; every output file gets a small bounding BOX
    * over both keyed columns so point/range predicates on EITHER prune
    * files) and the crash-safe [[swapPartition]] it shares with
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
      fileStats: Boolean = false): Int =
    swapPartition(spark, new Path(dir), "zorder", ".parquet") { (_, tmp) =>
      relayout(spark.read.parquet(dir), x, y, targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      if (fileStats)
        graft.operators.Layout.writeFileStats(spark, tmp.toString, x, y)
    }

  /** Marker a crashed [[compactBatchStore]] leaves behind; its presence
    * means the store is mid-swap (some source partitions deleted, the
    * compacted partition not yet installed) and MUST NOT be read until
    * compaction is re-invoked to finish the plan — [[readBatches]]
    * refuses it. */
  private[streaming] val CompactMarker = "_compact_inprogress"

  /** The `batch_id=N` partition directory of a per-batch store. */
  private[streaming] def batchPath(store: String, batchId: Long): String =
    s"$store/batch_id=$batchId"

  /** Land batch `batchId`'s rows as its partition of `store`, overwriting
    * whatever an earlier attempt of the same batch left there (the
    * overwrite-replay rule of the class doc). */
  private[streaming] def land(rows: DataFrame, store: String, batchId: Long): Unit =
    rows.write.mode("overwrite").parquet(batchPath(store, batchId))

  /** A per-batch store as one listing sees it: its batch ids ascending,
    * the entries that are neither `batch_id=N` directories nor hidden
    * (`_`/`.`) ones, and whether a crashed fold's [[CompactMarker]] is
    * present. */
  private[streaming] final case class Batches(ids: Seq[Long], stray: Seq[String], marked: Boolean)

  /** One driver-side listing of a per-batch store (no Spark job), or None
    * when the store does not exist yet. It never refuses a layout: the
    * fold cadence reads `marked` from here to finish a crashed plan, and
    * [[readBatches]] applies the refusal. */
  private[streaming] def listBatches(spark: SparkSession, store: String): Option[Batches] = {
    val root = new Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = try fs.listStatus(root).map(_.getPath.getName).toSeq
      catch { case _: java.io.FileNotFoundException => return None }
    def id(n: String) =
      if (n.startsWith("batch_id=")) n.stripPrefix("batch_id=").toLongOption else None
    Some(Batches(names.flatMap(id).sorted,
      names.filter(n => id(n).isEmpty && !n.startsWith("_") && !n.startsWith(".")),
      names.contains(CompactMarker)))
  }

  /** The one layout gate: the store's batch ids, or None when it does not
    * exist yet; refuses a crashed fold's marker and stray entries (see
    * the class doc for why each would corrupt a `batch_id` read). */
  private[streaming] def gatedBatches(spark: SparkSession, store: String): Option[Seq[Long]] =
    listBatches(spark, store).map { b =>
      require(!b.marked && b.stray.isEmpty,
        s"per-batch store $store cannot be read: " +
          (if (b.marked) s"$CompactMarker is present — a fold crashed mid-compaction " +
            "and partitions may be missing; re-invoke the fold (compactBatchStore, " +
            "PackStream.compact) or replay the stream, whose pre-work fold finishes " +
            "the plan. " else "") +
          (if (b.stray.nonEmpty) s"Non-partitioned entries ${b.stray.mkString(", ")} " +
            "would read as batch_id = null and drop out of the batch filter; the " +
            "layout is batch_id=N directories only — migrate or rebuild the store."
          else ""))
      b.ids
    }

  /** The gated read of a per-batch store: the store ROOT with its declared
    * `data` columns plus the `batch_id` partition column, filtered by
    * `keep` (a `batch_id` predicate) — or None when the store does not
    * exist yet. `format` is the files' data source. */
  private[streaming] def readBatches(spark: SparkSession, store: String, data: StructType,
      keep: Column, format: String = "parquet"): Option[DataFrame] =
    gatedBatches(spark, store).map(_ => spark.read.schema(data.add("batch_id", LongType))
      .format(format).load(store).filter(keep))

  /** The fixed fold cadence of the in-stream store compactions: with
    * `every` > 0, batch N folds first when N is a positive multiple of
    * `every`. Batch 0 never folds (nothing is committed before it), and
    * the fold's `upTo = N − 1` is then derived from the checkpoint —
    * only committed batches, which can never replay, are folded. */
  private[streaming] def foldDue(batchId: Long, every: Int): Boolean =
    every > 0 && batchId > 0 && batchId % every == 0

  /** Compact every `batch_id ≤ upTo` partition of a per-batch store
    * (see the class doc) into ONE `batch_id=upTo`
    * partition of at most `targetFiles` files. Returns the compacted
    * partition's row count, or -1 when there was nothing to compact (0
    * or 1 source partitions). A store accretes one directory per drop
    * forever; listing cost and the anti-join's file count degrade with
    * it — this is the fix, run periodically like any sink maintenance.
    *
    * `schema` is the store's DATA columns — required, never inferred:
    * the partition directories are read as roots, so `batch_id` is not
    * a column there (and is refused here), and a column the schema
    * omits is dropped from the compacted partition. Job budget: the
    * fold's own shuffles plus its ONE write — one job for an identity
    * fold, two for a merging one. No schema-inference job, no
    * repartition shuffle (the write `coalesce`s into `targetFiles`
    * writers), and no read-back of the installed partition (the
    * returned count rides the write through an
    * [[org.apache.spark.sql.Observation]] placed above every exchange,
    * in the result stage, where the scheduler merges each partition's
    * count exactly once even under a stage retry). The in-stream
    * callers fold once per cadence hit, so every job here is a
    * trigger's fixed cost.
    *
    * Scale posture: `targetFiles = 1` funnels the fold into one writer
    * either way; `coalesce` reads the folded rows straight into it
    * instead of re-shuffling them there. A store large enough to need
    * parallel writers passes a larger `targetFiles`.
    *
    * The compacted partition keeps the LARGEST compacted id, so `upTo`
    * follows the fold rule of the class doc: strictly below any batch
    * that may still replay.
    *
    * Crash safety (single maintenance writer, no batch in flight —
    * same operating rule as [[compactJsonPartition]]): the compacted
    * tmp is fully written BEFORE a `_compact_inprogress` marker
    * records the swap plan (target + source partition names); only
    * then are sources deleted and the tmp renamed in. The marker is
    * published whole by
    * [[graft.core.LocalCheckpointFileManager.writeAtomic]], so it is
    * absent or complete, never empty. A crash before
    * the marker changes nothing durable (tmp is ignored and
    * rewritten); a crash after it leaves the marker, which (a) makes
    * every [[readBatches]] of the store refuse instead of reading a
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
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    val marker = new Path(root, CompactMarker)
    val tmp = new Path(root, ".compact-tmp")
    LocalCheckpointFileManager.readString(marker, conf).foreach { txt =>
      // finish the interrupted plan: delete listed sources that remain,
      // install tmp as the target if that rename never happened
      val plan = txt.split('\n').toList
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
    val srcs = listBatches(spark, storeDir).toSeq.flatMap(_.ids).filter(_ <= upTo)
    if (srcs.length <= 1) return -1L
    fs.delete(tmp, true)
    val written = Observation()
    fold(spark.read.schema(schema)
        .parquet(srcs.map(batchPath(storeDir, _)): _*))
      .observe(written, count(lit(1)).as("rows"))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val rows = written.get("rows").asInstanceOf[Long]
    LocalCheckpointFileManager.writeAtomic(marker, conf,
      (upTo +: srcs).map(b => s"batch_id=$b").mkString("\n").getBytes("UTF-8"))
    srcs.foreach(b => fs.delete(new Path(batchPath(storeDir, b)), true))
    val target = new Path(batchPath(storeDir, upTo))
    require(fs.rename(tmp, target), s"compaction swap failed: $tmp -> $target (marker at $marker)")
    fs.delete(marker, false)
    rows
  }
}
