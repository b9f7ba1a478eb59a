package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

import graft.core.{LocalCheckpointFileManager, Tables}
import graft.operators.{Curation, Declared, TokenizerStore}

/** Incremental sequence packing: [[graft.operators.Curation.packIds]]
  * applied continuously to a growing document directory — the stateful
  * last stage of a streaming training-data pipeline. Re-running batch
  * packing per drop is O(corpus) per drop AND rewrites every already-
  * packed sequence (all global offsets shift only if earlier docs
  * change — they don't, so the work is pure waste); this is O(new data)
  * and append-only.
  *
  * The cross-batch state is ONE number — the total token count packed
  * so far. Each micro-batch runs the SAME per-doc stage as batch
  * packing ([[Curation.perDocIds]]: frozen-tokenizer ids + EOS per
  * doc), computes batch-local offsets with the same bucketed prefix
  * sum ([[Curation.packOffsets]] — no global sort), shifts them by the
  * carried total, and lands the batch's sequence FRAGMENTS under
  * `frag/batch_id=N/` (and the attention-mask metadata — doc-start
  * positions, [[Curation.packBounds]]'s contract — as doc-level bounds
  * fragments under `bnd/batch_id=N/`). A sequence that straddles a
  * batch boundary gets one fragment per batch; [[packed]] /
  * [[packedBounds]] merge fragments by seq_id in global-position
  * order. Emitting fragments instead of holding the
  * partial tail sequence in operator state keeps the operator fully
  * distributed — a tail held in `flatMapGroupsWithState` would funnel
  * every batch through one grouping key, a single-task bottleneck at
  * scale, and fragment merge is exactly the read-side concat a training
  * loader does anyway.
  *
  * Because drops arrive in doc_id order (this library's streaming
  * contract, same as [[CurateStream]]'s three-drop rows), the
  * concatenation of per-batch doc_id-ordered streams IS the global
  * doc_id order, so the accumulated output is bit-identical to batch
  * [[Curation.packIds]] over the union — the parity the declared row's
  * oracle checks. On out-of-order drops the operator still packs every
  * token exactly once; only the doc concatenation order (and hence
  * sequence contents) differs from the batch run.
  *
  * Replay discipline (the [[graft.operators.IndexStore]] commit shape,
  * scaled down): `frag`, `bnd` and `stats` are per-batch stores under
  * the [[Maintenance]] contract, and the token-count carry lives in
  * `pack_state.json`, atomically renamed AFTER the batch's fragment
  * write. The state records (last committed batch, its base offset,
  * total after it), so a foreachBatch replay of the last batch — the
  * only replay Spark's checkpoint can produce — recomputes from its
  * original base and re-lands byte-identical fragments; a batch strictly
  * below the watermark can only come from a second or rewound
  * checkpoint and refuses loudly (its files would otherwise be marked
  * processed with their tokens never packed). Readers gate on that
  * watermark (`batch_id ≤` it), so the uncommitted fragment dirs a
  * crash between the writes and the state swap leaves stay invisible
  * until the replay overwrites them.
  *
  * 100 TB shape: per batch, one corpus-of-the-batch shuffle for the
  * per-doc stage, one doc-level shuffle for the offsets window (its
  * frame materialized once and read by both fragment writes; the
  * totals, cuts and bucket bases ride observations of those
  * materializations — no collect job), one per-token shuffle keyed on
  * seq_id (the honest cost of materializing training sequences), and
  * one tiny state file — no driver-side model, no O(history) work, no
  * global sort ever. No parallelism floor on the encode: a RoundRobin
  * shuffle per trigger costs more than the serial encode of a
  * drop-sized batch, and a large drop arrives as many splits anyway.
  */
object PackStream {

  /** `pack_state.json` format version. Bump when the checksummed field
    * set changes; readers refuse newer states with a version message
    * instead of misreporting them as torn (ADVICE r15). */
  private val StateFormatVersion = 1

  /** Last committed batch, the global offset it started at, the total
    * token count after it (= the next batch's base), and the store's
    * seqLen — part of the layout: fragments cut at a different seqLen
    * land under colliding seq_ids and merge into garbage, so a restart
    * with a changed seqLen must refuse, not corrupt. `maxDoc` is the
    * largest doc_id that has contributed tokens (−1 while none has) —
    * the ordered-ingest tripwire's watermark. */
  private case class PackState(batchId: Long, base: Long, total: Long,
      seqLen: Int, blDocs: Long, blWords: Long, blTokens: Long,
      maxDoc: Long = -1L) {
    /** BPE fertility of the baseline batch (tokens per word, EOS
      * excluded); 0 while no non-empty batch has committed. */
    def baselineTpw: Double =
      if (blWords == 0) 0.0 else (blTokens - blDocs).toDouble / blWords
    /** Torn-write detector over every field, in declaration order —
      * `rename(OVERWRITE)` is atomic on POSIX/HDFS but an S3-class
      * store can tear the swap, and a torn carry silently re-bases
      * every later offset. Cheap (16 B per state write) and
      * format-independent, unlike a fail-fast on the filesystem
      * scheme. Stored as `"checksum"` alongside a `"v"` format-version
      * field so a future writer with extra checksummed fields fails
      * old readers with a version message, not a tamper accusation
      * (ADVICE r15). */
    def checksum: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$batchId|$base|$total|$seqLen|$blDocs|$blWords|$blTokens|$maxDoc"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  private def statePath(outDir: String) = new Path(s"$outDir/pack_state.json")

  private def readState(spark: SparkSession, outDir: String): Option[PackState] = {
    val p = statePath(outDir)
    LocalCheckpointFileManager.readString(p, spark.sparkContext.hadoopConfiguration).map { txt =>
      val st = try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
        // a state stamped by a FUTURE format (extra checksummed fields)
        // must fail with a version message, not a tamper accusation
        val v = root.path("v").asInt(1)
        if (v > StateFormatVersion) throw new IllegalStateException(
          s"PackStream: $p was written by state-format v$v; this reader " +
            s"understands up to v$StateFormatVersion — upgrade the reader " +
            "(the state is intact, not torn)")
        val s = PackState(root.get("batch_id").asLong(), root.get("base").asLong(),
          root.get("total").asLong(), root.get("seq_len").asInt(),
          root.get("bl_docs").asLong(), root.get("bl_words").asLong(),
          root.get("bl_tokens").asLong(), root.path("max_doc").asLong(-1L))
        // checksum-carrying states verify ("crc" accepted as the r15
        // legacy spelling); a state that predates the field is accepted
        // as-is (the write path below always stamps one)
        (s, Option(root.get("checksum")).orElse(Option(root.get("crc")))
          .map(_.asText()))
      } catch {
        case e: IllegalStateException => throw e // version refusal above
        case e: Exception => throw new IllegalStateException(
          s"PackStream: $p is unparseable (${e.getMessage}) — external corruption; " +
            "restore it, or delete the whole pack store and replay the stream " +
            "from a fresh checkpoint (offsets are derivable only from history)", e)
      }
      st._2.filter(_ != st._1.checksum).foreach { bad =>
        throw new IllegalStateException(
          s"PackStream: $p fails its checksum (recorded $bad, computed ${st._1.checksum}) " +
            "— a torn or tampered state write (non-atomic rename on this " +
            "filesystem?); restore the file, or delete the whole pack store and " +
            "replay the stream from a fresh checkpoint (every offset derives " +
            "from this carry)")
      }
      st._1
    }
  }

  private def writeJson(spark: SparkSession, dst: Path, json: String): Unit =
    LocalCheckpointFileManager.writeAtomic(dst, spark.sparkContext.hadoopConfiguration,
      (json + "\n").getBytes("UTF-8"))

  private def writeState(spark: SparkSession, outDir: String, st: PackState): Unit =
    writeJson(spark, statePath(outDir),
      s"""{"v":$StateFormatVersion,""" +
        s""""batch_id":${st.batchId},"base":${st.base},""" +
        s""""total":${st.total},"seq_len":${st.seqLen},""" +
        s""""bl_docs":${st.blDocs},"bl_words":${st.blWords},""" +
        s""""bl_tokens":${st.blTokens},"max_doc":${st.maxDoc},""" +
        s""""checksum":"${st.checksum}"}""")

  /** Pack one micro-batch: per-doc id streams, batch-local offsets
    * shifted by the carried base, fragments landed under the batch dir,
    * then the state swap that makes them visible. Idempotent per the
    * replay discipline above. */
  private[streaming] def processBatch(batch: DataFrame, batchId: Long,
      tokDir: String, outDir: String, seqLen: Int, buckets: Int,
      staleWhen: Double = 0.0, staleTpwAbs: Double = 0.0,
      requireOrdered: Boolean = false): Unit = {
    val spark = batch.sparkSession
    val st = readState(spark, outDir)
    st.foreach(s => require(s.seqLen == seqLen,
      s"PackStream: $outDir was packed at seqLen=${s.seqLen}, this stream says " +
        s"$seqLen — fragments at mixed cut lengths merge into garbage under " +
        "colliding seq_ids; repack into a fresh store to change seqLen"))
    val base = st match {
      case None =>
        require(batchId == 0L,
          s"PackStream: $outDir has no pack_state.json but batch $batchId arrived — " +
            "an existing checkpoint is pointed at a fresh out dir; offsets before " +
            "this batch are unknowable, start from a fresh checkpoint")
        0L
      case Some(s) if batchId == s.batchId + 1 => s.total
      case Some(s) if batchId == s.batchId => s.base // checkpoint replay
      // Spark replays only the LAST batch, and the state advances past N
      // only inside batch N+1 — which runs only after N's checkpoint
      // commit. So a batch strictly below the watermark can NEVER be this
      // store's own replay; it is a rewound/recreated checkpoint, whose
      // batch 0 would bundle never-packed new drops and mark them
      // processed forever if we silently no-opped here.
      case Some(s) => throw new IllegalArgumentException(
        s"PackStream: batch $batchId arrived but $outDir is committed through " +
          s"${s.batchId} — a second (or rewound) checkpoint is interleaving " +
          "with this store's single writer; its data is NOT in the store")
    }
    val perDoc = Curation.perDocIds(batch, tokDir)
    // offsets materialized once at construction (the batch token/doc
    // totals and doc_id range ride its observations — no aggregation
    // jobs); both fragment writes below read that one frame, so neither
    // the encode nor the window shuffle re-runs
    val totals = Curation.packOffsetsWithTotal(perDoc, "n", buckets, Some("n_words"))
    val (offsets, batchTokens, batchDocs, batchWords) =
      (totals.offsets, totals.tokens, totals.docs, totals.words)
    val advancing = st.forall(batchId == _.batchId + 1)
    // the ordered-ingest tripwire (opt-in, the staleWhen pattern):
    // sequence CONTENTS are a function of doc concatenation order, so
    // an out-of-order drop packs every token exactly once but silently
    // diverges from the batch-run layout. Armed, an ADVANCING batch
    // whose smallest contributing doc_id does not exceed the largest
    // ever packed refuses with the remedy — the seqLen-refusal
    // discipline applied to the ordering half of the layout contract.
    // Replays are exempt (their data is committed — the batch contains
    // its own ids, which necessarily precede the carried max), and the
    // comparison rides the min/max the offsets observation already
    // computed: zero extra reads. Docs with no gated words contribute
    // no tokens and so cannot move sequence contents — they are
    // correctly invisible here.
    if (requireOrdered && advancing && batchDocs > 0) {
      st.filter(_.maxDoc >= 0).foreach { s =>
        require(totals.minDoc > s.maxDoc,
          s"PackStream: batch $batchId contains doc_id ${totals.minDoc} but " +
            s"$outDir has already packed through doc_id ${s.maxDoc} — an " +
            "out-of-order (or duplicate-id) drop would make sequence contents " +
            "silently diverge from the batch-run layout. Ingest drops in " +
            "doc_id order, route stragglers to a fresh store, or disarm " +
            "requireOrdered to accept arrival-order packing")
      }
    }
    // the staleness tripwire, BEFORE anything lands: rising BPE
    // fertility (tokens per word, EOS excluded) against the baseline —
    // the FIRST non-empty committed batch, carried in the state so an
    // empty seed drop cannot silently disarm it — means the frozen
    // merges no longer fit the data (unmergeable words fall back
    // toward character level). Packing on would silently bake a stale
    // vocabulary into training input, and retrain ⇒ re-encode ⇒ repack
    // is a NEW store by design, so the only honest in-stream action is
    // to refuse and stop (the checkpoint replays this batch into the
    // same refusal until an operator decides). Decision cost: zero —
    // the baseline rides the state read every batch already pays.
    // ADVANCING batches only: a replay's data is already committed and
    // served, so refusing it (e.g. after restarting with a tightened
    // threshold) could wedge the stream on data it cannot retract.
    // `staleTpwAbs` is the relative tripwire's absolute complement: a
    // tokens-per-word CEILING from the tokenizer's training-time
    // pricing, which catches the case the baseline cannot — the very
    // FIRST drop already encoded against the wrong/stale tokenizer,
    // which would otherwise install a garbage baseline that later
    // batches compare against forever.
    if (advancing && batchWords > 0) {
      val tpw = (batchTokens - batchDocs).toDouble / batchWords
      if (staleTpwAbs > 0)
        require(tpw < staleTpwAbs,
          f"PackStream: batch $batchId prices at $tpw%.2f tokens/word, at or " +
            f"beyond the absolute staleTpwAbs=$staleTpwAbs%.2f ceiling. The " +
            "frozen tokenizer does not fit this data (wrong artifact, or " +
            "drifted before the stream ever started): retrain it and repack " +
            "into a fresh store, or raise the ceiling")
      if (staleWhen > 0) {
        st.filter(_.blWords > 0).foreach { s =>
          require(tpw < staleWhen * s.baselineTpw,
            f"PackStream: batch $batchId prices at $tpw%.2f tokens/word vs the " +
              f"baseline ${s.baselineTpw}%.2f — beyond the staleWhen=$staleWhen " +
              "tripwire. The frozen tokenizer no longer fits the data: retrain it " +
              "and repack into a fresh store, or raise the threshold")
        }
      }
    }
    // NO fan-out before the per-batch explode (r21 A/B): the batch
    // packIds path fans its explode input out (one doc row → thousands
    // of token rows, invisible to AQE's size-based coalescing) and wins
    // 1.23×, but per MICRO-BATCH the fixed cost of the extra shuffle +
    // 32-task stages measured at or above the serial explode on
    // drop-sized batches (xs_pack_stream 1.05×, xs_pack_stats 0.84×) —
    // deliberately left to the offsets window's own partitioning.
    val withOff = offsets.withColumn("off", col("offset_tokens") + lit(base))
    Maintenance.land(fragmentsOf(withOff, seqLen), Frag.dir(outDir), batchId)
    Maintenance.land(boundsOf(withOff, seqLen), Bnd.dir(outDir), batchId)
    writeStats(spark, outDir, batchId, batchDocs, batchWords, batchTokens)
    // the baseline is the first committed batch WITH words; replays
    // recompute the same numbers, so the carry is replay-stable (and so
    // is max_doc: max() over a replay's own ids is a no-op)
    val bl = st.filter(_.blWords > 0)
      .map(s => (s.blDocs, s.blWords, s.blTokens))
      .getOrElse(if (batchWords > 0) (batchDocs, batchWords, batchTokens)
        else (0L, 0L, 0L))
    val maxDoc = math.max(st.map(_.maxDoc).getOrElse(-1L),
      if (batchDocs > 0) totals.maxDoc else -1L)
    writeState(spark, outDir, PackState(batchId, base, base + batchTokens,
      seqLen, bl._1, bl._2, bl._3, maxDoc))
  }

  /** Whether batch `batchId` folds the pack store at `outDir` first —
    * [[start]]'s and [[CurateStream.startCurateAndPack]]'s cadence: on
    * the fixed `compactEvery` cadence ([[Maintenance.foldDue]]), or,
    * under the load-based one, once the fragment store has grown to
    * `autoCompactFragDirs` directories OR a crashed fold left its marker
    * in any store the loop folds (the pack stores and `alsoFolded`). A
    * crash mid-`frag` fold has already deleted sources, so the count
    * alone can sit below the threshold and leave the store refusing
    * reads until it climbs back; the marker makes the replayed batch
    * finish the plan. Driver-side listings only, no Spark job. */
  private[streaming] def foldDue(spark: SparkSession, outDir: String,
      batchId: Long, compactEvery: Int, autoCompactFragDirs: Int,
      alsoFolded: Seq[String] = Nil): Boolean =
    Maintenance.foldDue(batchId, compactEvery) ||
      (batchId > 0 && autoCompactFragDirs > 0 &&
        (Maintenance.listBatches(spark, Frag.dir(outDir))
          .exists(b => b.marked || b.ids.size >= autoCompactFragDirs) ||
          (Bnd.dir(outDir) +: alsoFolded)
            .exists(Maintenance.listBatches(spark, _).exists(_.marked))))

  private def statsFile(outDir: String, batchId: Long): Path =
    new Path(Maintenance.batchPath(s"$outDir/stats", batchId), "stats.json")

  /** One JSON line per committed batch under `stats/batch_id=N/` (the
    * [[graft.operators.IndexStore]] stats-artifact shape) — the numbers
    * are free (they ride the offsets observation) and give a pack
    * deployment its pricing telemetry; the tokens-per-WORD fertility
    * derived from them is the staleness signal [[start]]'s `staleWhen`
    * acts on (via the state-carried baseline, not a re-read). The line
    * also records its own batch id (`bid` — so fold survival does not
    * depend on the partition directory) and the fragment-store
    * directory count after this batch's write (`n_frag_dirs`, one
    * driver-side listing, no Spark job) — the fold-cadence signal: a
    * long-lived deployment watches it grow between compactions the way
    * the index tier watches its stats rows, and sizes `compactEvery`
    * from the measured serve cost (BENCHNOTES Round 14 "Pack-store
    * compaction, measured": serving stays flat ~0.28 s folded vs 0.55 s
    * and growing at 48 unfolded drops). */
  private def writeStats(spark: SparkSession, outDir: String, batchId: Long,
      nDocs: Long, nWords: Long, nTokens: Long): Unit = {
    val nFragDirs = Maintenance.listBatches(spark, Frag.dir(outDir)).fold(0)(_.ids.size)
    writeJson(spark, statsFile(outDir, batchId),
      s"""{"n_docs":$nDocs,"n_words":$nWords,"n_tokens":$nTokens,""" +
        s""""n_frag_dirs":$nFragDirs,"bid":$batchId}""")
  }

  /** Fold every `stats/batch_id=N` partition with N ≤ `upTo` into ONE
    * multi-line file under `batch_id=upTo` — without it the stats
    * store accretes a directory per micro-batch forever and
    * [[packStats]]'s listing cost grows O(drops) even after the
    * fragment folds collapse frag/ and bnd/ (ADVICE r14). Runs on the
    * same cadence as the fragment folds ([[compactAt]]).
    *
    * Crash posture — install-first, delete-after, NO marker: each line
    * carries its own `bid` (injected here for lines that predate the
    * field), the merged file is fully written and atomically renamed
    * over the target BEFORE any source is deleted, and a crash
    * mid-delete leaves only byte-identical duplicate lines (a folded
    * line and its surviving source — stats are deterministic and
    * folded batches can never replay), which [[packStats]]'s distinct
    * collapses. No crash point loses a line or needs recovery. */
  private def compactStats(spark: SparkSession, outDir: String, upTo: Long): Unit = {
    val srcs = Maintenance.listBatches(spark, s"$outDir/stats").toSeq.flatMap(_.ids)
      .filter(_ <= upTo)
    if (srcs.length <= 1) return
    val conf = spark.sparkContext.hadoopConfiguration
    val lines = srcs.flatMap { b =>
      LocalCheckpointFileManager.readString(statsFile(outDir, b), conf).toSeq
        .flatMap(_.split('\n').toSeq.filter(_.nonEmpty)).map { l =>
          if (l.contains("\"bid\":")) l
          else l.stripSuffix("}") + s""","bid":$b}"""
        }
    }.distinct
    writeJson(spark, statsFile(outDir, upTo), lines.mkString("\n"))
    val fs = new Path(outDir).getFileSystem(conf)
    srcs.filter(_ != upTo).foreach(b => fs.delete(statsFile(outDir, b).getParent, true))
  }

  /** The per-batch pricing telemetry as a frame (committed batches
    * only): batch_id, n_docs (docs with gated words), n_words (gated
    * words), n_tokens (incl. one EOS per doc) — (n_tokens − n_docs) /
    * n_words is the BPE fertility the staleness tripwire watches —
    * plus n_frag_dirs, the fragment-directory count right after that
    * batch landed (the fold-cadence signal; null on stores written
    * before the field existed). */
  def packStats(spark: SparkSession, outDir: String): DataFrame =
    // folded lines live under their fold's partition but carry their
    // own bid
    committed(spark, outDir, "stats", StructType.fromDDL("n_docs BIGINT, " +
        "n_words BIGINT, n_tokens BIGINT, n_frag_dirs BIGINT, bid BIGINT"), "json")
      .select(coalesce(col("bid"), col("batch_id")).as("batch_id"),
        col("n_docs"), col("n_words"), col("n_tokens"), col("n_frag_dirs"))
      // collapses the byte-identical duplicates a crash between
      // compactStats's install and its source deletes can leave
      .distinct()

  /** A store's rows as of the last COMMITTED batch: the gated read
    * ([[Maintenance.readBatches]]) with the state watermark as its
    * commit gate — a dir beyond it (crash after the write, before the
    * state swap) is invisible until its replay commits it. */
  private def committed(spark: SparkSession, outDir: String, store: String,
      data: StructType, format: String = "parquet"): DataFrame = {
    val st = readState(spark, outDir).getOrElse(throw new IllegalArgumentException(
      s"PackStream: $outDir has no pack_state.json — run the stream first"))
    Maintenance.readBatches(spark, s"$outDir/$store", data,
        col("batch_id") <= st.batchId, format)
      .getOrElse(throw new IllegalStateException(
        s"PackStream: $outDir has a pack state but no $store store — restore it"))
  }

  /** The batch's sequence fragments from its globally-shifted offsets
    * frame — factored so the streaming-plan pin covers the exact frame
    * every trigger builds: the materialized bucketed prefix sum (bucket
    * bases a literal CASE, no join), ONE per-token exchange keyed on
    * seq_id. */
  private[graft] def fragmentsOf(withOff: DataFrame, seqLen: Int): DataFrame =
    withOff
      .select(col("off"),
        posexplode(split(col("docids"), ",")).as(Seq("k", "id")))
      .withColumn("gpos", col("off") + col("k"))
      .groupBy(expr(s"gpos DIV $seqLen").as("seq_id"))
      .agg(min(col("gpos")).as("start"),
        count(lit(1)).cast(IntegerType).as("n_tokens"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("gpos"), col("id")))),
          x => x.getField("id"))).as("ids"))

  /** The batch's doc-boundary fragments ([[Curation.packBounds]]'s
    * attention-mask metadata, incrementally): each doc's global start
    * offset DIV/MOD seqLen — doc-level arithmetic on the SAME offsets
    * frame, no token explode. Fragment shape mirrors [[fragmentsOf]]
    * (`start` = min global start carries the merge order), so serving
    * and compaction reuse the one merge discipline. */
  private[graft] def boundsOf(withOff: DataFrame, seqLen: Int): DataFrame =
    withOff
      .select(expr(s"off DIV $seqLen").as("seq_id"), col("off"),
        (col("off") % seqLen).cast(IntegerType).as("p"))
      .groupBy(col("seq_id"))
      .agg(min(col("off")).as("start"),
        count(lit(1)).cast(IntegerType).as("n_docs"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("off"), col("p")))),
          x => x.getField("p").cast(StringType))).as("doc_starts"))

  /** Merge fragments of one sequence in global-position order — the
    * ONE reduction both serving and compaction apply (`start` = min
    * carries the sort key through re-merges), per store. */
  private def mergeFrags(df: DataFrame): DataFrame =
    df.groupBy(col("seq_id"))
      .agg(min(col("start")).as("start"),
        sum(col("n_tokens")).cast(IntegerType).as("n_tokens"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("start"), col("ids")))),
          x => x.getField("ids"))).as("ids"))

  private def mergeBounds(df: DataFrame): DataFrame =
    df.groupBy(col("seq_id"))
      .agg(min(col("start")).as("start"),
        sum(col("n_docs")).cast(IntegerType).as("n_docs"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("start"), col("doc_starts")))),
          x => x.getField("doc_starts"))).as("doc_starts"))

  /** A fragment store: its directory under the pack dir, its data
    * columns ([[fragmentsOf]] / [[boundsOf]] output) and its per-seq_id
    * merge — the one declaration serving ([[served]]) and the fold
    * ([[foldStore]]) both read with. */
  private[streaming] final case class Store(name: String, cols: String,
      merge: DataFrame => DataFrame) {
    def dir(outDir: String): String = s"$outDir/$name"
    def data: StructType = StructType.fromDDL(cols)
  }
  private[streaming] val Frag =
    Store("frag", "seq_id BIGINT, start BIGINT, n_tokens INT, ids STRING", mergeFrags)
  private[streaming] val Bnd =
    Store("bnd", "seq_id BIGINT, start BIGINT, n_docs INT, doc_starts STRING", mergeBounds)

  /** Fold every fragment partition `batch_id ≤ upTo` (of BOTH stores)
    * into ONE pre-MERGED partition each — [[Maintenance.compactBatchStore]]'s
    * crash-safe fold with packing's reduction: fragments of the same
    * seq_id concatenate in global-position order NOW instead of at
    * every [[packed]] call, so a long-lived store serves each old
    * sequence as one row and the per-drop directory count stops
    * growing. Semantically transparent — a pre-merged row re-merges
    * with any later fragment of the same sequence exactly as its
    * parts would (start = min carries the sort key). Returns the folded
    * fragment partition's row count, or -1 with nothing to fold.
    *
    * `upTo` must be STRICTLY below the state watermark. `≤` would not
    * do: the watermark batch's state swap precedes its checkpoint
    * commit, so in that crash window the batch can still REPLAY — and
    * the replay overwrites `frag/batch_id=N`, which after a fold at
    * `upTo = N` holds every earlier batch's fragments. (Folding an
    * UNCOMMITTED dir — upTo beyond the watermark — would make phantom
    * tokens visible; refused for the same reason.) The in-stream
    * cadence may fold AT its watermark via [[compactAt]] because
    * delivery of batch N proves batch N−1's checkpoint commit. */
  def compact(spark: SparkSession, outDir: String, upTo: Long): Long = {
    val st = readState(spark, outDir)
    require(st.exists(_.batchId > upTo),
      s"PackStream: compact upTo=$upTo but $outDir is committed through " +
        s"${st.map(_.batchId).getOrElse(-1L)} — batches at or beyond the " +
        "watermark can still replay (the state swap precedes the checkpoint " +
        "commit) or are uncommitted debris; fold strictly below it, or let " +
        "the stream's own compactEvery cadence fold the head batch")
    compactAt(spark, outDir, upTo)
  }

  /** The fold itself, guard-free — callable at the watermark ONLY from
    * inside `foreachBatch` of a later batch (see [[compact]]). The
    * stats store folds on the same cadence (its own install-first
    * discipline — see [[compactStats]]). */
  private[streaming] def compactAt(spark: SparkSession, outDir: String, upTo: Long): Long = {
    compactStats(spark, outDir, upTo)
    foldStore(spark, outDir, Bnd, upTo)
    foldStore(spark, outDir, Frag, upTo)
  }

  /** One store's pre-merging fold: [[Maintenance.compactBatchStore]]
    * with the store's declared columns (no inference) and its merge.
    * Returns the folded partition's row count, or -1 with nothing to
    * fold. */
  private[streaming] def foldStore(spark: SparkSession, outDir: String,
      store: Store, upTo: Long): Long =
    Maintenance.compactBatchStore(spark, store.dir(outDir), upTo, store.data,
      fold = store.merge)

  /** Default `autoCompactFragDirs`: fold once the fragment store holds
    * this many batch directories. Sized from the measured serve costs
    * of BENCHNOTES Round 14 "Pack-store compaction, measured" (sf0.01
    * warm mins: ~0.28 s folded and FLAT vs 0.55 s and GROWING at 48
    * unfolded drops; at ~16 dirs the unfolded serve
    * is still within ~1.2× of folded) — folding at 16 keeps serving in
    * the flat band while paying the fold at most once per 15 drops.
    * Set 0 to disable, or use `compactEvery` for an explicit cadence. */
  val DefaultAutoFoldFragDirs = 16

  /** `compactEvery` > 0 folds the fragment stores every that many
    * batches, INSIDE the stream before the batch's own work (the
    * [[CurateStream]] maintenance discipline: `upTo = batchId − 1` is
    * committed and can never replay, and a crashed fold is finished by
    * the replayed batch's own pre-work compaction call).
    * `autoCompactFragDirs` > 0 (ON by default at
    * [[DefaultAutoFoldFragDirs]]) is the LOAD-BASED cadence: before an
    * advancing batch, if the fragment store has grown to that many
    * batch directories the stream folds first — the `n_frag_dirs`
    * telemetry acted on automatically, so a deployment that never
    * tunes anything still serves from the flat cost band. The
    * threshold check is driver-side listings ([[foldDue]]); both
    * cadences share [[compactAt]] and are idempotent, so enabling both
    * is safe. `staleWhen`
    * > 0 arms the tokenizer-staleness tripwire: an advancing batch
    * whose tokens-per-WORD fertility is ≥ that multiple of the
    * first-non-empty-batch baseline refuses (see [[processBatch]]'s
    * rationale — the frozen-tokenizer complement of [[IndexStream]]'s
    * rebuildWhen, whose in-stream rebuild is exactly what a tokenizer
    * must NOT do); `staleTpwAbs` > 0 adds the absolute tokens-per-word
    * ceiling that also guards the FIRST batch (a baseline cannot).
    * `requireOrdered` arms the ordered-ingest tripwire: an advancing
    * batch whose smallest contributing doc_id does not exceed the
    * largest ever packed refuses instead of silently diverging from
    * the batch-run sequence layout. */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpoint: String, tokDir: String, seqLen: Int = 512,
      buckets: Int = 32, compactEvery: Int = 0,
      staleWhen: Double = 0.0, staleTpwAbs: Double = 0.0,
      requireOrdered: Boolean = false,
      autoCompactFragDirs: Int = DefaultAutoFoldFragDirs): StreamingQuery =
    Drops.availableNow(spark, Tables.documents, inDir, checkpoint) {
      (batch, batchId) =>
        if (foldDue(spark, outDir, batchId, compactEvery, autoCompactFragDirs))
          compactAt(spark, outDir, upTo = batchId - 1)
        processBatch(batch, batchId, tokDir, outDir, seqLen, buckets,
          staleWhen, staleTpwAbs, requireOrdered)
    }

  /** The packed sequences as of the last COMMITTED batch — fragments
    * merged per seq_id in global-position order. Same output contract
    * as [[Curation.packIds]]. */
  private def served(spark: SparkSession, outDir: String, store: Store): DataFrame =
    store.merge(committed(spark, outDir, store.name, store.data)).drop("start")

  def packed(spark: SparkSession, outDir: String): DataFrame =
    served(spark, outDir, Frag)

  /** The attention-mask metadata as of the last committed batch —
    * [[Curation.packBounds]]'s contract, served from the incremental
    * bounds store under the same commit gate as [[packed]]. */
  def packedBounds(spark: SparkSession, outDir: String): DataFrame =
    served(spark, outDir, Bnd)

  // ----------------------------------------------------------- declared
  /** Stream-vs-batch parity, driver-oracled: the fixture lands as three
    * doc_id-ordered drops (one AvailableNow pass each, one shared
    * checkpoint and carry state — three real micro-batches through the
    * incremental path), packed against the shared frozen `bpe-r8v256`
    * tokenizer, and the merged fragment store must equal batch
    * [[Curation.packIds]] — so the oracle IS `xc_pack_ids`'s SQL. The
    * middle drop almost never ends on a 512 boundary, so the parity
    * exercises the straddling-fragment merge, not just the carry. */
  private def xsPackStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    val root = Drops.three(docs, "xs-pack-stream") { root =>
      // ordered-ingest tripwire ARMED (the drops are doc_id-ordered by
      // construction, so arming must be invisible — which is the claim)
      start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tokDir,
        requireOrdered = true).awaitTermination()
    }
    packed(spark, s"$root/out").orderBy(col("seq_id"))
  }

  /** The pricing telemetry oracled: three drops through the stream,
    * then the committed per-batch stats — n_docs and n_tokens per drop
    * must equal SQL pricing each doc with the same frozen-tokenizer
    * CTEs and bucketing by the same doc_id-range thirds the harness
    * cuts. */
  private def xsPackStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tokDir = TokenizerStore.ensureTokenizerFor(spark,
      s"$dir/documents.parquet", "bpe-r8v256",
      d => TokenizerStore.trainBpe(docs, d, 8, 256))
    val root = Drops.three(docs, "xs-pack-stats") { root =>
      // tripwires ARMED (far from tripping on the fixture): the oracled
      // composition exercises the baseline carry + fertility comparison,
      // the absolute ceiling, and the ordered-ingest watermark
      start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tokDir,
        staleWhen = 100.0, staleTpwAbs = 100.0, requireOrdered = true)
        .awaitTermination()
    }
    // pricing rows only: the oracle prices docs, so a drop whose third
    // of the doc_id range holds no gated docs has no SQL row — the
    // stream's zeros row for an empty batch is telemetry, not pricing
    // (n_frag_dirs likewise: fold-cadence telemetry, not priceable)
    packStats(spark, s"$root/out").filter(col("n_docs") > 0)
      .select(col("batch_id"), col("n_docs"), col("n_words"), col("n_tokens"))
      .orderBy(col("batch_id"))
  }

  val all: Seq[Declared] = Seq(
    Declared("xs_pack_stream", xsPackStream, Some(Curation.xcPackIdsSql)),
    Declared("xs_pack_stats", xsPackStats, Some(Curation.packStatsSql())))
}
