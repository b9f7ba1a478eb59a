package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}

import graft.core.Tables

/** transformWithState (Spark 4's arbitrary-state API, successor of
  * mapGroupsWithState): per-user running event count / value total,
  * emitted on every update. State lives in the RocksDB state store with
  * an optional TTL — the modern form of the reference's running counters
  * (main.go:60-65) keyed per user instead of per process.
  *
  * Determinism contract (the r17 xs_dsir_drift flake class, applied
  * here BEFORE it bites): within a micro-batch the per-key row iterator
  * order is a shuffle artifact, so a raw double accumulation would make
  * `total_value` run-order-dependent. State therefore holds an EXACT
  * scale-10 decimal (each event's value converted once via
  * `BigDecimal.valueOf(v).setScale(10, HALF_UP)` — the same shortest-
  * repr + HALF_UP semantics as Spark's double→DECIMAL(28,10) cast and
  * DuckDB's, which is what lets the declared row hash-match), and the
  * emitted double is that exact sum correctly rounded once — the
  * [[graft.core.Num.dsum]] discipline inside a stateful processor.
  */
object UserTotals {

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserTotal(user_id: Long, n_events: Long, total_value: Double)
  final case class TotState(n: Long, total: java.math.BigDecimal)

  /** Exactly Spark's double→DECIMAL(28,10) cast (shortest decimal
    * representation, then HALF_UP at scale 10). */
  private def dec10(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(10, java.math.RoundingMode.HALF_UP)

  final class Processor(ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserTotal] {
    @transient private var state: ValueState[TotState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[TotState](
        "totals", Encoders.product[TotState], ttl)

    override def handleInputRows(
        key: Long, rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserTotal] = {
      var s = if (state.exists()) {
        val got = state.get()
        // Encoders.product stores the decimal at the default
        // DECIMAL(38,18); a lifetime total past ~1e20 overflows to NULL
        // in the store, and silently re-zeroing (or NPEing on add)
        // would corrupt the running counter — fail NAMED instead
        // (ADVICE r18)
        if (got.total == null)
          throw new IllegalStateException(
            s"UserTotals: user $key's running total overflowed the state " +
              "encoder's DECIMAL(38,18) and was stored as null — widen the " +
              "state schema or shard the key before resuming")
        got
      } else TotState(0L, java.math.BigDecimal.ZERO)
      // decimal addition is exact, hence order-independent — the row
      // iterator's shuffle-dependent order cannot move the total
      rows.foreach(e => s = TotState(s.n + 1, s.total.add(dec10(e.value))))
      state.update(s)
      Iterator.single(UserTotal(key, s.n, s.total.doubleValue))
    }
  }

  /** Wire the processor onto a (streaming) dataset. Requires the RocksDB
    * state store provider (transformWithState's only backend). */
  def totals(events: Dataset[UserEvent], ttl: TTLConfig = TTLConfig.NONE): Dataset[UserTotal] = {
    implicit val outEnc: Encoder[UserTotal] = Encoders.product[UserTotal]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new Processor(ttl), TimeMode.None(), OutputMode.Update())
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** s7 — the declared row (VERDICT r17 #4): the events fixture split
    * into three ORDERED drops by event_id terciles (the S/XS-family
    * drive shape), streamed through the REAL transformWithState
    * machinery — file source, shared checkpoint, RocksDB state store —
    * with each micro-batch's Update-mode output landed under its own
    * `batch_id=N` partition. Output contract: per batch, one row per
    * user with ≥ 1 event in that batch carrying the RUNNING totals over
    * every batch ≤ N — which is exactly what Update mode emits, and
    * what the oracle restates as a cumulative window over per-batch
    * aggregates. State is one 〈long, decimal〉 per user — bounded by
    * the key space, the running-counter shape that runs forever. */
  private[streaming] def s7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // the drop cuts ride the key-cardinality aggregate the store sizing
    // below needs anyway, so the harness runs no min/max job of its own
    val r = events.agg(min(col("event_id")), max(col("event_id")),
      countDistinct(col("user_id"))).head
    val cuts = Drops.Terciles(r.getLong(0), r.getLong(1))
    val nUsers = r.getLong(2)
    val prev = spark.conf.getOption(ProviderKey)
    // State-store partition sizing (r21, VERDICT r20 #6 / guide §2.1):
    // a stateful streaming query instantiates one RocksDB store PER
    // SHUFFLE PARTITION per micro-batch — at the session's 32 partitions
    // that was 32 store opens/commits/snapshot uploads per trigger to
    // hold 450 〈long, decimal〉 rows, and the row scaled 0.59 on 8→32
    // cores (store overhead, not data, bound it). Size the store count
    // from the KEY CARDINALITY instead: one store per
    // SPARK_GRAFT_STATE_KEYS_PER_STORE keys (default 100k — a few MB of
    // state per store at this record size), clamped to [1, configured
    // shuffle partitions]. Scale posture: a 1e9-user corpus floors at
    // the configured shuffle-partition count (the deployment knob), so
    // this only ever REDUCES over-provisioning on small keyspaces; the
    // shuffle partition count is fixed into the checkpoint at first
    // trigger, and each declared run starts a fresh checkpoint, so the
    // derivation re-prices per run. Restored after the run.
    val shufKey = "spark.sql.shuffle.partitions"
    val prevShuf = spark.conf.get(shufKey)
    val keysPerStore = sys.env.getOrElse(
      "SPARK_GRAFT_STATE_KEYS_PER_STORE", "100000").toLong
    val nStores = math.max(1L, math.min(prevShuf.toLong,
      (nUsers + keysPerStore - 1) / keysPerStore)).toString
    val clogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevClog = spark.conf.getOption(clogKey)
    val root = try {
      spark.conf.set(ProviderKey, RocksDb)
      spark.conf.set(shufKey, nStores)
      // changelog checkpointing: commit per-batch DELTAS to the
      // checkpoint instead of a full RocksDB snapshot zip per store per
      // trigger — the production posture for an append-heavy running
      // counter (state is one row per user; snapshots re-upload all of
      // it every batch)
      spark.conf.set(clogKey, "true")
      Drops.three(events, "s7-user-totals", idCol = "event_id",
          cuts = Some(cuts)) { root =>
        totals(
            spark.readStream
              .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
              .parquet(s"$root/in/*")
              .select(col("user_id"), col("event_type"), col("value"))
              .as[UserEvent])
          .toDF()
          .writeStream
          .option("checkpointLocation", s"$root/ck")
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            Maintenance.land(batch, s"$root/out", batchId)
          }
          .start()
          .awaitTermination()
      }
    } finally {
      spark.conf.set(shufKey, prevShuf)
      prevClog match {
        case Some(v) => spark.conf.set(clogKey, v)
        case None => spark.conf.unset(clogKey)
      }
      prev match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None => spark.conf.unset(ProviderKey)
      }
    }
    spark.read
      .schema("user_id BIGINT, n_events BIGINT, total_value DOUBLE, batch_id BIGINT")
      .parquet(s"$root/out")
      .select(col("batch_id"), col("user_id"), col("n_events"), col("total_value"))
      .orderBy(col("batch_id"), col("user_id"))
  }

  /** Oracle: batch membership restated from the same tercile arithmetic,
    * per-(user, batch) exact DECIMAL(28,10) partial sums, then the
    * running totals as a cumulative window — emitted only for the
    * batches where the user actually has an event (Update-mode
    * semantics). One decimal→double cast at the end, mirroring the
    * processor's single rounding. */
  private[streaming] val s7Sql =
    """WITH bounds AS (SELECT MIN(event_id) AS lo, MAX(event_id) AS hi FROM events),
      |memb AS (
      |  SELECT user_id, value,
      |    CASE WHEN event_id <= lo + (hi - lo) // 3 THEN 0
      |         WHEN event_id <= lo + 2 * ((hi - lo) // 3) THEN 1
      |         ELSE 2 END AS batch_id
      |  FROM events CROSS JOIN bounds),
      |per AS (
      |  SELECT user_id, batch_id, COUNT(*) AS n,
      |    SUM(CAST(value AS DECIMAL(28,10))) AS tv
      |  FROM memb GROUP BY user_id, batch_id),
      |cum AS (
      |  SELECT user_id, batch_id,
      |    CAST(SUM(n) OVER (PARTITION BY user_id ORDER BY batch_id) AS BIGINT) AS n_events,
      |    CAST(SUM(tv) OVER (PARTITION BY user_id ORDER BY batch_id) AS DOUBLE) AS total_value
      |  FROM per)
      |SELECT CAST(batch_id AS BIGINT) AS batch_id, user_id, n_events, total_value
      |FROM cum ORDER BY batch_id, user_id""".stripMargin
}
