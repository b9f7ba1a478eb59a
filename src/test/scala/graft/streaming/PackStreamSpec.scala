package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{Curation, TokenizerStore}

class PackStreamSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf("sf0.001"), "documents")

  /** Fresh tokenizer dir per test — the warehouse artifact is shared
    * state across JVMs; specs train their own. */
  private def trainTok(): String = {
    val d = java.nio.file.Files.createTempDirectory("packstream-tok").toString
    TokenizerStore.trainBpe(docs, d, 8, 256)
    d
  }

  private def dropConds: Seq[Column] = {
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * ((hi - lo) / 3)
    Seq(col("doc_id") <= cut1,
      col("doc_id") > cut1 && col("doc_id") <= cut2,
      col("doc_id") > cut2)
  }

  /** Drops must land one at a time (write, then stream) — writing them
    * all upfront would hand AvailableNow one 3-drop batch. */
  private def writeDrop(root: String, i: Int, cond: Column): String = {
    val p = s"$root/in/drop$i.parquet"
    docs.filter(cond).coalesce(2).write.parquet(p)
    p
  }

  test("three ordered drops pack bit-identically to batch packIds, with a real straddle") {
    val root = java.nio.file.Files.createTempDirectory("packstream").toString
    val tok = trainTok()
    dropConds.zipWithIndex.foreach { case (cond, i) =>
      writeDrop(root, i, cond)
      PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok).awaitTermination()
    }
    val streamed = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    val batch = Curation.packIds(docs, tok)
      .orderBy(col("seq_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the mask metadata rides the same carry and commit: streamed
    // bounds must equal batch packBounds bit-for-bit too
    assert(PackStream.packedBounds(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq ==
      Curation.packBounds(docs, tok)
        .orderBy(col("seq_id")).collect().toSeq)
    // the parity must have exercised the carry across a batch boundary:
    // some sequence straddles two batches (two fragments merged)
    val straddled = spark.read
      .schema("seq_id BIGINT, start BIGINT, n_tokens INT, ids STRING, batch_id BIGINT")
      .parquet(s"$root/out/frag")
      .groupBy(col("seq_id")).agg(countDistinct(col("batch_id")).as("nb"))
      .filter(col("nb") > 1).count()
    assert(straddled >= 1, "no sequence straddled a batch boundary — the carry went untested")
  }

  test("a replayed last batch recomputes from its original base and changes nothing") {
    val root = java.nio.file.Files.createTempDirectory("packreplay").toString
    val tok = trainTok()
    val conds = dropConds
    val drop0 = writeDrop(root, 0, conds(0))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok).awaitTermination()
    val drop1 = writeDrop(root, 1, conds(1))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok).awaitTermination()
    val before = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    // replay batch 1 by hand — the only replay foreachBatch can produce
    // (crash after the fragment write + state swap, before the
    // checkpoint commit): must overwrite its own dir byte-identically
    val batch1 = spark.read.schema(Tables.documents).parquet(drop1)
    PackStream.processBatch(batch1, 1L, tok, s"$root/out", 512, 32)
    val after = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    assert(after == before)
    // a batch strictly below the watermark can only be a rewound or
    // second checkpoint (Spark replays only the LAST batch): refuse —
    // a silent no-op would mark its files processed with tokens unpacked
    val batch0 = spark.read.schema(Tables.documents).parquet(drop0)
    val eRewound = intercept[IllegalArgumentException] {
      PackStream.processBatch(batch0, 0L, tok, s"$root/out", 512, 32)
    }
    assert(eRewound.getMessage.contains("rewound"))
    // and a changed seqLen against an existing store refuses (fragments
    // at mixed cut lengths would merge into garbage)
    val eLen = intercept[IllegalArgumentException] {
      PackStream.processBatch(batch1, 2L, tok, s"$root/out", 256, 32)
    }
    assert(eLen.getMessage.contains("seqLen"))
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == before)
  }

  test("in-stream fragment compaction pre-merges without changing the served sequences") {
    val root = java.nio.file.Files.createTempDirectory("packcompact").toString
    val tok = trainTok()
    dropConds.zipWithIndex.foreach { case (cond, i) =>
      writeDrop(root, i, cond)
      PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok,
        compactEvery = 2).awaitTermination()
    }
    val batch = Curation.packIds(docs, tok)
      .orderBy(col("seq_id")).collect().toSeq
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == batch)
    // both stores fold; bounds still serve their batch contract
    assert(PackStream.packedBounds(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq ==
      Curation.packBounds(docs, tok)
        .orderBy(col("seq_id")).collect().toSeq)
    assert(new java.io.File(s"$root/out/bnd").list()
      .count(_.startsWith("batch_id=")) == 2)
    // the fold ran at batch 2: dirs 0,1 collapsed into the fold (id 1)
    val dirs = new java.io.File(s"$root/out/frag").list()
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(dirs == Seq("batch_id=1", "batch_id=2"), dirs.toString)
    // the stats store folded on the same cadence (ADVICE r14: without
    // this it accretes a directory per drop forever) — and no pricing
    // line was lost: every batch still reports, under its own bid
    val statDirs = new java.io.File(s"$root/out/stats").list()
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    assert(statDirs == Seq("batch_id=1", "batch_id=2"), statDirs.toString)
    val stats = PackStream.packStats(spark, s"$root/out")
      .orderBy(col("batch_id")).collect().toSeq
    assert(stats.map(_.getLong(0)) == Seq(0L, 1L, 2L))
    // n_frag_dirs telemetry: counted right after each batch's write —
    // 1 and 2 unfolded, then the fold collapsed 0-1 before batch 2
    // landed beside it (the fold-cadence signal a deployment watches)
    assert(stats.map(_.getLong(4)) == Seq(1L, 2L, 2L), stats.toString)
    // and it PRE-MERGED: one row per sequence inside the fold
    val fold = spark.read.parquet(s"$root/out/frag/batch_id=1")
    assert(fold.count() == fold.select("seq_id").distinct().count())
    // an uncommitted upTo must refuse (phantom-token hazard), and so
    // must the watermark itself: its state swap precedes the checkpoint
    // commit, so that batch can still replay and would overwrite a fold
    val e = intercept[IllegalArgumentException] {
      PackStream.compact(spark, s"$root/out", 99L)
    }
    assert(e.getMessage.contains("replay"))
    val eWm = intercept[IllegalArgumentException] {
      PackStream.compact(spark, s"$root/out", 2L)
    }
    assert(eWm.getMessage.contains("replay"))
    // a crashed fold's marker blocks serving until compaction finishes
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/out/frag/_compact_inprogress"), "batch_id=1")
    val e2 = intercept[IllegalArgumentException] {
      PackStream.packed(spark, s"$root/out").collect()
    }
    assert(e2.getMessage.contains("mid-compaction"))
    PackStream.compact(spark, s"$root/out", 1L)
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == batch)
  }

  test("frag and bnd folds return the row count of the partition they install") {
    val root = java.nio.file.Files.createTempDirectory("packfoldcount").toString
    val out = s"$root/out"
    val tok = trainTok()
    dropConds.zipWithIndex.foreach { case (cond, i) =>
      writeDrop(root, i, cond)
      PackStream.start(spark, s"$root/in/*", out, s"$root/ck", tok,
        autoCompactFragDirs = 0).awaitTermination()
    }
    val served = PackStream.packed(spark, out).orderBy(col("seq_id")).collect().toSeq
    // the count rides the fold's write; a re-read of the install agrees
    val nBnd = PackStream.foldStore(spark, out, PackStream.Bnd, upTo = 1L)
    assert(nBnd > 0 && nBnd == spark.read.parquet(s"$out/bnd/batch_id=1").count())
    // compactAt's bounds fold now has one partition left (-1); its frag
    // fold is the returned count
    val nFrag = PackStream.compactAt(spark, out, upTo = 1L)
    assert(nFrag > 0 && nFrag == spark.read.parquet(s"$out/frag/batch_id=1").count())
    assert(PackStream.packed(spark, out).orderBy(col("seq_id")).collect().toSeq == served)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("autoCompactFragDirs folds on the measured signal: fragment dirs stay bounded, " +
      "served sequences unchanged") {
    val root = java.nio.file.Files.createTempDirectory("packauto").toString
    val tok = trainTok()
    // five ordered drops, auto threshold 3: without folding the frag
    // store would accrete 5 dirs; the auto cadence must fold whenever
    // the listing hits the threshold
    val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val cuts = (1 to 4).map(i => lo + i * ((hi - lo) / 5))
    val conds = (Seq(col("doc_id") <= cuts.head) ++
      cuts.sliding(2).map(c => col("doc_id") > c(0) && col("doc_id") <= c(1)) ++
      Seq(col("doc_id") > cuts.last)).toSeq
    conds.zipWithIndex.foreach { case (cond, i) =>
      writeDrop(root, i, cond)
      PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok,
        autoCompactFragDirs = 3).awaitTermination()
    }
    // bounded: every time the store reached 3 dirs the next batch
    // folded first (3 dirs → fold → fold dir + the new batch = 2, ...)
    val dirs = new java.io.File(s"$root/out/frag").list()
      .count(_.startsWith("batch_id="))
    assert(dirs <= 3, s"auto fold never fired: $dirs frag dirs after 5 drops")
    // and folding is invisible to the served contract
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq ==
      Curation.packIds(docs, tok).orderBy(col("seq_id")).collect().toSeq)
    // the telemetry that drives the cadence recorded the collapse:
    // n_frag_dirs never exceeded the threshold
    val stats = PackStream.packStats(spark, s"$root/out")
      .orderBy(col("batch_id")).collect().toSeq
    assert(stats.map(_.getLong(0)) == (0L to 4L), stats.toString)
    assert(stats.map(_.getLong(4)).max <= 3, stats.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("curate-and-pack equals batch packIds over batch curation's survivors") {
    val root = java.nio.file.Files.createTempDirectory("curatepack").toString
    val tok = trainTok()
    dropConds.zipWithIndex.foreach { case (cond, i) =>
      writeDrop(root, i, cond)
      CurateStream.startCurateAndPack(spark, s"$root/in/*", s"$root/out",
        s"$root/ck", tok).awaitTermination()
    }
    val streamed = PackStream.packed(spark, s"$root/out/pack")
      .orderBy(col("seq_id")).collect().toSeq
    val survivors = docs.join(
      Curation.curate(docs).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val batch = Curation.packIds(survivors, tok)
      .orderBy(col("seq_id")).collect().toSeq
    assert(streamed.nonEmpty && streamed == batch)
    assert(PackStream.packedBounds(spark, s"$root/out/pack")
      .orderBy(col("seq_id")).collect().toSeq ==
      Curation.packBounds(survivors, tok)
        .orderBy(col("seq_id")).collect().toSeq)
    // curation actually gated something, or the composition is untested
    assert(survivors.count() < docs.count(),
      "fixture has no rejects — the curate stage was a no-op")
  }

  test("protocol property: random advance/replay/fold with crash debris always serves exactly the committed stream") {
    import spark.implicits._
    // model-based check of the WHOLE pack protocol (the IndexStoreSpec
    // discipline): the model is simply "the committed prefix of the
    // doc_id-ordered stream", and after every operation — advances with
    // and without the in-stream pre-fold, last-batch replays, empty
    // batches, uncommitted crash debris, a crashed-fold marker — the
    // served sequences AND bounds must equal batch packing over that
    // prefix bit-for-bit. Seeded so failures reproduce.
    val rnd = new scala.util.Random(20260815L)
    val tok = trainTok()
    val allIds = docs.select($"doc_id").orderBy($"doc_id").as[Long].collect()
    val root = java.nio.file.Files.createTempDirectory("packmodel").toString
    val out = s"$root/out"
    var consumed = 0
    var nextId = 0L
    // (batchId, fromIdx, untilIdx) of the newest committed batch
    var last: (Long, Int, Int) = (0L, 0, 0)
    def slice(from: Int, until: Int) =
      if (from == until) docs.limit(0)
      else docs.filter($"doc_id".between(allIds(from), allIds(until - 1)))
    def advance(preFold: Boolean, empty: Boolean): String = {
      val until =
        if (empty) consumed
        else math.min(consumed + 20 + rnd.nextInt(60), allIds.length)
      // the in-stream cadence: fold AT the watermark, legal exactly here
      // because delivering batch nextId proves nextId-1 committed
      if (preFold && nextId > 0) PackStream.compactAt(spark, out, nextId - 1)
      PackStream.processBatch(slice(consumed, until), nextId, tok, out, 512, 32)
      last = (nextId, consumed, until); consumed = until; nextId += 1
      if (empty) "advance(empty)" else s"advance(${until - last._2})"
    }
    def check(what: String): Unit = {
      val union = docs.filter($"doc_id" <= allIds(consumed - 1))
      assert(PackStream.packed(spark, out).orderBy($"seq_id").collect().toSeq ==
        Curation.packIds(union, tok).orderBy($"seq_id").collect().toSeq, what)
      assert(PackStream.packedBounds(spark, out).orderBy($"seq_id").collect().toSeq ==
        Curation.packBounds(union, tok).orderBy($"seq_id").collect().toSeq, what)
    }
    advance(preFold = false, empty = false)
    check("post-first")
    for (step <- 0 until 10) {
      val what = rnd.nextInt(6) match {
        case 0 | 1 => advance(rnd.nextBoolean(), empty = false)
        case 2 => // replay the newest batch (the only replay Spark produces)
          PackStream.processBatch(slice(last._2, last._3), last._1, tok, out, 512, 32)
          s"replay(${last._1})"
        case 3 => // crash between the fragment writes and the state swap:
          // uncommitted debris under the NEXT batch id, invisible until
          // its real delivery overwrites it
          Seq((99999L + step, 9999999L, 3, "1,2,3"))
            .toDF("seq_id", "start", "n_tokens", "ids")
            .write.mode("overwrite").parquet(s"$out/frag/batch_id=$nextId")
          Seq((99999L + step, 9999999L, 1, "0"))
            .toDF("seq_id", "start", "n_docs", "doc_starts")
            .write.mode("overwrite").parquet(s"$out/bnd/batch_id=$nextId")
          "crash-debris"
        case 4 => // crashed fold: the marker blocks serving until some
          // compaction call finishes the plan
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$out/frag/_compact_inprogress"),
            s"batch_id=${nextId - 1}")
          intercept[IllegalArgumentException] {
            PackStream.packed(spark, out).collect()
          }
          PackStream.compact(spark, out, nextId - 2)
          "fold-crash+recover"
        case 5 => advance(preFold = rnd.nextBoolean(), empty = true)
      }
      check(s"step $step: $what")
    }
  }

  test("the staleness tripwire refuses a corpus the frozen tokenizer no longer fits") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("packstale").toString
    val tok = trainTok()
    writeDrop(root, 0, dropConds(0))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok,
      staleWhen = 2.0).awaitTermination()
    val before = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    val stats0 = PackStream.packStats(spark, s"$root/out").head
    assert(stats0.getLong(1) > 0 && stats0.getLong(2) > 0)
    // gibberish the learned merges cannot compress: 16-char random
    // words price at ~16 tokens/word vs English's low single digits
    val rnd = new scala.util.Random(7)
    def gib() = Seq.fill(40)(
      Seq.fill(16)(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    val junk = (0 until 50).map(i => (1000000L + i, gib()))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      PackStream.processBatch(junk, 1L, tok, s"$root/out", 512, 32,
        staleWhen = 2.0)
    }
    assert(e.getMessage.contains("tokens/word") &&
      e.getMessage.contains("retrain"))
    // the refusal landed NOTHING: serving and state are untouched
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == before)
    assert(PackStream.packStats(spark, s"$root/out").count() == 1)
    // the operator's escape hatch (raise/disarm the threshold) packs it
    PackStream.processBatch(junk, 1L, tok, s"$root/out", 512, 32)
    assert(PackStream.packStats(spark, s"$root/out").count() == 2)
  }

  test("the ordered-ingest tripwire refuses an out-of-order advancing drop; replays and disarmed streams are unaffected") {
    val root = java.nio.file.Files.createTempDirectory("packorder").toString
    val tok = trainTok()
    val conds = dropConds
    // ingest the MIDDLE third first — legal while nothing precedes it
    val drop1 = writeDrop(root, 1, conds(1))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok,
      requireOrdered = true).awaitTermination()
    val before = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    // a replay of the committed batch must stay exempt (its ids
    // necessarily precede the carried max — refusing would wedge the
    // stream on data it cannot retract)
    val batch1 = spark.read.schema(Tables.documents).parquet(drop1)
    PackStream.processBatch(batch1, 0L, tok, s"$root/out", 512, 32,
      requireOrdered = true)
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == before)
    // now the FIRST third arrives late: an advancing batch whose min
    // doc_id precedes the packed watermark — armed, it refuses with the
    // remedy instead of silently diverging from the batch-run layout
    val drop0 = writeDrop(root, 0, conds(0))
    val batch0 = spark.read.schema(Tables.documents).parquet(drop0)
    val e = intercept[IllegalArgumentException] {
      PackStream.processBatch(batch0, 1L, tok, s"$root/out", 512, 32,
        requireOrdered = true)
    }
    assert(e.getMessage.contains("out-of-order") &&
      e.getMessage.contains("doc_id order"))
    // the refusal landed NOTHING
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == before)
    // disarmed (the documented arrival-order mode), the same batch packs:
    // every token exactly once, contents in arrival order
    PackStream.processBatch(batch0, 1L, tok, s"$root/out", 512, 32)
    val docs01 = docs.filter(dropConds(0) || dropConds(1))
    val nTok = PackStream.packed(spark, s"$root/out")
      .agg(sum(col("n_tokens"))).head.getLong(0)
    val nBatch = Curation.packIds(docs01, tok)
      .agg(sum(col("n_tokens"))).head.getLong(0)
    assert(nTok == nBatch, "arrival-order packing lost or duplicated tokens")
  }

  test("the absolute fertility ceiling catches a stale tokenizer on the FIRST drop, where no baseline exists yet") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("packabs").toString
    val tok = trainTok()
    // gibberish the learned merges cannot compress, as batch 0: the
    // relative tripwire is blind here (it would INSTALL this as the
    // baseline — the ADVICE r14 garbage-baseline hazard), the absolute
    // ceiling is not
    val rnd = new scala.util.Random(11)
    def gib() = Seq.fill(40)(
      Seq.fill(16)(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    val junk = (0 until 50).map(i => (i.toLong, gib())).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      PackStream.processBatch(junk, 0L, tok, s"$root/out", 512, 32,
        staleWhen = 2.0, staleTpwAbs = 8.0)
    }
    assert(e.getMessage.contains("absolute") && e.getMessage.contains("retrain"))
    // nothing committed — not even a garbage baseline
    assert(!new java.io.File(s"$root/out/pack_state.json").exists())
    // the same ceiling passes ordinary text (fixture prices in low
    // single digits against its own tokenizer)
    writeDrop(root, 0, dropConds(0))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok,
      staleWhen = 2.0, staleTpwAbs = 8.0).awaitTermination()
    assert(PackStream.packStats(spark, s"$root/out").count() == 1)
  }

  test("a torn pack_state.json fails its checksum; a legacy state without one is accepted") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("packcrc").toString
    val tok = trainTok()
    writeDrop(root, 0, dropConds(0))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok).awaitTermination()
    val stPath = java.nio.file.Paths.get(s"$root/out/pack_state.json")
    // LocalCheckpointFileManager.writeAtomic leaves no `.crc` checksum
    // sidecar, so a java.nio tamper reaches the product's own checksum; a
    // sidecar would mean a write bypassed it and made `fs.open` throw
    // ChecksumException first
    def tamper(txt: String): Unit = {
      java.nio.file.Files.writeString(stPath, txt)
      assert(!java.nio.file.Files.exists(stPath.resolveSibling(".pack_state.json.crc")))
    }
    val good = java.nio.file.Files.readString(stPath)
    val total = "\"total\":(\\d+)".r.findFirstMatchIn(good).get.group(1).toLong
    // a torn/tampered carry: one field flipped, recorded checksum left
    // alone (rename(OVERWRITE) is atomic on POSIX/HDFS, but an S3-class
    // store can tear the swap — ADVICE r14; every offset derives from this)
    tamper(good.replace(s""""total":$total""", s""""total":${total + 512}"""))
    val e = intercept[IllegalStateException] {
      PackStream.packed(spark, s"$root/out").collect()
    }
    assert(e.getMessage.contains("checksum"))
    // a state written before the checksum field existed is accepted
    // as-is (incl. the r15 "crc" spelling — same acceptance path)
    tamper(good.replaceAll(""","checksum":"[0-9a-f]+"""", ""))
    assert(PackStream.packed(spark, s"$root/out").count() > 0)
    // a FUTURE format version refuses with a version message, not a
    // tamper accusation (ADVICE r15)
    tamper(good.replace(""""v":1""", """"v":2"""))
    val ev = intercept[IllegalStateException] {
      PackStream.packed(spark, s"$root/out").collect()
    }
    assert(ev.getMessage.contains("state-format v2"), ev.getMessage)
    // and the repaired original still verifies
    tamper(good)
    assert(PackStream.packed(spark, s"$root/out").count() > 0)
  }

  test("an uncommitted fragment dir is invisible; gaps and foreign checkpoints refuse") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("packcrash").toString
    val tok = trainTok()
    val conds = dropConds
    writeDrop(root, 0, conds(0))
    PackStream.start(spark, s"$root/in/*", s"$root/out", s"$root/ck", tok).awaitTermination()
    val committed = PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq
    // simulate a crash AFTER batch 1's fragment write, BEFORE its state
    // swap: land fragments under batch_id=1 with no commit
    Seq((99999L, 999999L, 3, "1,2,3"))
      .toDF("seq_id", "start", "n_tokens", "ids")
      .write.parquet(s"$root/out/frag/batch_id=1")
    assert(PackStream.packed(spark, s"$root/out")
      .orderBy(col("seq_id")).collect().toSeq == committed,
      "readers saw fragments whose batch never committed")
    // a batch beyond last+1 means a second writer's checkpoint — refuse
    val drop2 = writeDrop(root, 2, conds(2))
    val batch2 = spark.read.schema(Tables.documents).parquet(drop2)
    val e = intercept[IllegalArgumentException] {
      PackStream.processBatch(batch2, 2L, tok, s"$root/out", 512, 32)
    }
    assert(e.getMessage.contains("single writer"))
    // and a fresh out dir refuses a non-zero first batch
    val e2 = intercept[IllegalArgumentException] {
      PackStream.processBatch(batch2, 3L, tok, s"$root/out2", 512, 32)
    }
    assert(e2.getMessage.contains("fresh"))
  }
}
