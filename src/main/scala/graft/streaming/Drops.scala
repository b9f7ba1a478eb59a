package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** How every file-fed stream of this library reads its drops and
  * triggers, in one place.
  *
  * Contract of [[availableNow]]:
  *   - the input is parquet files under `inDir`, read with the DECLARED
  *     `schema` — never inferred, so no trigger pays a schema-inference
  *     job and a drop with a drifted schema fails instead of retyping
  *     the stream;
  *   - the trigger is `AvailableNow`: one pass over every file present
  *     when the query starts, then the query terminates — a drop lands,
  *     the caller starts a pass, and `awaitTermination()` returns once
  *     it is committed;
  *   - `body` receives each micro-batch with the checkpoint's batch id.
  *     The checkpoint is the only progress record: a crash after `body`
  *     ran but before the offset commit REPLAYS `body` with the same
  *     `batchId` over the same files, so every body must be idempotent
  *     per batch id (the per-batch-directory overwrite discipline of
  *     [[CurateStream]], [[PackStream]] and [[IndexStream]]).
  *
  * [[three]] is the declared streaming rows' drop schedule: one input
  * cut into three ordered drops, one pass per drop. */
object Drops {

  /** Start one AvailableNow pass of `body` over the parquet files under
    * `inDir`, tracked by `checkpoint` (see the object doc). */
  private[graft] def availableNow(spark: SparkSession, schema: StructType, inDir: String,
      checkpoint: String)(body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)
      .start()

  /** The three-drops harness shared by the declared streaming rows:
    * land `df` as three `idCol`-ordered drops under `<root>/in/`,
    * invoking `pass(root)` after each (one AvailableNow pass over the
    * in-dir glob — three real micro-batches through whatever stream the
    * row starts, with its checkpoint/outputs under the same root).
    * Returns the scratch root; outputs under it are read lazily, so the
    * tree is reaped at JVM exit via the SHARED hook (one per JVM, not
    * one hook thread per invocation; ADVICE r11). The cut points are
    * `cuts`, or [[terciles]] of `df` (one 1-row min/max job) when the
    * caller has none; stream-vs-batch parity holds for ANY ordered cut,
    * so the boundary choice affects batch sizes, never results. A
    * tercile holding no ids lands as an empty drop directory, and its
    * pass still runs. */
  private[graft] def three(df: DataFrame, prefix: String,
      idCol: String = "doc_id", cuts: Option[Terciles] = None)(
      pass: String => Unit): String = {
    val rootPath = java.nio.file.Files.createTempDirectory(prefix)
    graft.core.TempReaper.reapAtExit(rootPath)
    val root = rootPath.toString
    val drop = cuts.getOrElse(terciles(df, idCol)).batchId(col(idCol))
    // ONE source scan lands all three drops, partitioned by drop index,
    // into a staging dir (r20 optimization: the per-drop filter+write
    // form re-scanned the full source once per drop — 3 scans + the
    // min/max pass). Each drop's files are then MOVED (a rename, no
    // data copy) into the streamed in-dir right before its pass, so the
    // file source still sees exactly the same three incremental file
    // sets through the same checkpoint, and each drop's rows are
    // byte-identical to the filtered write it replaces. partitionBy
    // drops `_drop` from the data files, so the landed schema is
    // unchanged too.
    val stage = s"$root/stage"
    df.withColumn("_drop", drop)
      .coalesce(2)
      .write.partitionBy("_drop").parquet(stage)
    val fs = new Path(root).getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$root/in"))
    (0 until 3).foreach { i =>
      val src = new Path(s"$stage/_drop=$i")
      val dst = new Path(s"$root/in/drop$i.parquet")
      if (fs.exists(src)) require(fs.rename(src, dst),
        s"Drops.three: moving $src to $dst failed")
      else fs.mkdirs(dst) // empty tercile: an empty drop directory
      pass(root)
    }
    fs.delete(new Path(stage), true)
    root
  }

  /** [[three]]'s cut points over the CORPUS id bounds `[lo, hi]` — the
    * oracles' `memb` arithmetic. */
  private[graft] final case class Terciles(lo: Long, hi: Long) {
    /** Which of the three ordered drops an id belongs to: a pure
      * function of the data, so no trigger accounting (a no-data
      * micro-batch shifting the counter, VERDICT r20 #1) can move a
      * row's drop. */
    def batchId(id: Column): Column =
      when(id <= lo + (hi - lo) / 3, 0L)
        .when(id <= lo + 2 * ((hi - lo) / 3), 1L).otherwise(2L)
  }

  /** The id bounds of `df` — one 1-row min/max job. A row that both
    * drops `df` and re-derives each row's drop computes them once and
    * passes them to [[three]]. */
  private[graft] def terciles(df: DataFrame, idCol: String = "doc_id"): Terciles = {
    val r = df.agg(min(col(idCol)), max(col(idCol))).head
    Terciles(r.getLong(0), r.getLong(1))
  }
}
