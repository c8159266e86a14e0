package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.streaming.{FeedGroup, FeedLog, StreamingIngest}
import graft.tsdb.{ActivityLedger, Sample, StoreSettings, TimeSeriesStore}

/** Round-16 contracts: ledger-driven change PLANNING (zero footer reads,
  * only churned dirs listed), the CDC-mode store tail (net-change
  * parity on a history WITH deletes and a compaction; layout churn
  * emits nothing), the feed group's PEL ack discipline (a crashed
  * owner's delivered stretch is never redelivered; an undelivered one
  * is; zombie acks fenced), the quantile sketch's error column, the
  * point-read fast path, and restartable BPE training.
  */
class Round16Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-round16-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def samples(tag: String, ts: Range, v: Long => String,
      ingest: Long, writer: String, seq0: Long): Seq[Sample] =
    ts.map(t => Sample(tag, t.toLong, v(t.toLong), ingest, writer,
      seq0 + t.toLong))

  // ------------------------------------- ledger-driven change planning

  test("change planning reads zero footers and lists only churned dirs") {
    val root = Files.createTempDirectory("r16-plan").toString
    val st = new TimeSeriesStore(spark, root,
      StoreSettings(partitionWidth = 100L), obsoleteGraceMs = 1L << 60)
    st.initialize()
    st.clock = () => 1000L
    // 40 partitions through the DISTRIBUTED lane (no L0 files at all,
    // so the only admissible footer reads — the bounded L0 range
    // lookups — are zero by construction)
    import spark.implicits._
    st.writeSamplesDistributed(
      (0 until 40).map(p => (s"t$p", p * 100L, "v", 1000L, "w1", p.toLong))
        .toDF("tag", "ts", "value", "ingestTs", "writerId", "seq"))
    // churn exactly one partition inside the window
    st.clock = () => 3000L
    st.writeSamplesDistributed(
      Seq(("t7", 700L, "u", 3000L, "w2", 1000L))
        .toDF("tag", "ts", "value", "ingestTs", "writerId", "seq"))
    graft.tsdb.FooterCache.resetCounts()
    val plan = st.changeScanPlan(1500L, 3500L,
      graft.tsdb.GcLedger.retirementClocks(
        java.nio.file.Paths.get(st.namespaceRoot, "gc")),
      countTotal = false)
    val (fh, fm) = graft.tsdb.FooterCache.counts
    assert(fh + fm === 0L,
      s"planning read footers (hits=$fh misses=$fm) — must be ledger-only")
    assert(plan.dirsScanned === 1, s"expected 1 churned dir, ${plan.dirsScanned}")
    assert(plan.dirsTotal === -1, "countTotal=false must skip the census")
    val all = (plan.hotFiles ++ plan.coldFiles ++ plan.l0Files).map(_.toString)
    assert(all.nonEmpty && all.forall(_.contains("tag=t7")),
      s"unchurned partitions leaked into the plan: $all")
    // the pruned plan still answers exactly
    val rows = st.changesBetween(1500L, 3500L)
      .select("tag", "ts", "value", "change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .toSet
    assert(rows === Set(("t7", 700L, "v", "update_preimage"),
      ("t7", 700L, "u", "update_postimage")))
  }

  test("activity-log compaction rolls the file and preserves planning + recentActivity") {
    val root = Files.createTempDirectory("r16-actcompact").toString
    val st = new TimeSeriesStore(spark, root,
      StoreSettings(partitionWidth = 100L), obsoleteGraceMs = 1L << 60)
    st.initialize()
    st.clock = () => 1000L
    st.writeSamples(samples("A", 0 until 5, t => s"a$t", 1000L, "w1", 0L))
    st.writeSamples(samples("A", 5 until 10, t => s"b$t", 1000L, "w1", 100L))
    st.clock = () => 3000L
    st.writeSamples(samples("B", 100 until 105, t => s"c$t", 3000L, "w1", 200L))
    val before = st.recentActivityDF.collect()
      .map(r => (r.getString(0), r.getLong(3))).toSet
    val actDir = java.nio.file.Paths.get(st.namespaceRoot, "activity")
    val changedBefore = ActivityLedger.changedSince(actDir, 1500L)
    val removed = st.compactActivityLog()
    assert(removed > 0L, "staging should leave duplicate activity lines")
    val after = st.recentActivityDF.collect()
      .map(r => (r.getString(0), r.getLong(3))).toSet
    assert(after === before, "compaction changed recentActivity")
    assert(ActivityLedger.changedSince(actDir, 1500L) === changedBefore,
      "compaction changed the planner's changed-key answer")
    assert(ActivityLedger.changedSince(actDir, 1500L) === Set(("B", 100L)))
    // the compacted file still appends (new writes keep planning exact)
    st.clock = () => 5000L
    st.writeSamples(samples("C", 200 until 202, t => s"d$t", 5000L, "w1", 300L))
    assert(ActivityLedger.changedSince(actDir, 4000L) === Set(("C", 200L)))
  }

  // ------------------------------------------------- CDC-mode store tail

  test("CDF tail: net-change parity WITH deletes and a compaction; layout churn emits nothing") {
    val srcRoot = Files.createTempDirectory("r16-cdfsrc").toString
    val logDir = Files.createTempDirectory("r16-cdflog").toString
    val ckpt = Files.createTempDirectory("r16-cdfckpt").toString
    val src = new TimeSeriesStore(spark, srcRoot,
      StoreSettings(partitionWidth = 10L), obsoleteGraceMs = 1L << 60)
    src.initialize()
    src.clock = () => 1000L
    src.writeSamples(samples("P", 0 until 15, t => s"p$t", 1000L, "w1", 0L))
    src.flushL0()
    val q = StreamingIngest.storeCdfStream(spark, src.namespaceRoot, logDir,
      graceMs = 1L << 60, checkpointDir = Some(ckpt))
    try {
      q.processAllAvailable() // (0, 1000] — inserts
      src.clock = () => 2000L
      src.delete("P", 3L, 6L)
      q.processAllAvailable() // (1000, 2000] — deletes
      src.clock = () => 3000L
      src.writeSamples(samples("P", 5 until 20, t => s"q$t", 3000L, "w2", 100L))
      src.flushL0()
      q.processAllAvailable() // (2000, 3000] — updates + re-inserts
      src.clock = () => 4000L
      assert(src.compact(minFiles = 1, applyLww = true) > 0)
      q.processAllAvailable() // (3000, 4000] — MUST be empty
    } finally q.stop()
    val log = spark.read.parquet(logDir)
    val wins = log.select(col("win_to").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!wins.contains(4000L),
      s"the compaction-only window leaked layout churn: $wins")
    assert(wins === Set(1000L, 2000L, 3000L), s"unexpected windows: $wins")
    // per-window classification
    val byWin = log
      .select(col("win_to").cast("long").as("w"), col("change_type"),
        col("tag"), col("ts"), col("value"))
      .collect()
      .groupBy(_.getLong(0))
    assert(byWin(1000L).forall(_.getString(1) == "insert"))
    assert(byWin(1000L).length === 15)
    assert(byWin(2000L).forall(_.getString(1) == "delete"))
    assert(byWin(2000L).map(_.getLong(3)).toSet === (3L to 6L).toSet)
    val w3 = byWin(3000L).groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // keys 5,6 were deleted then rewritten → inserts; 7..14 updated;
    // 15..19 fresh inserts
    assert(w3("insert") === 2 + 5, s"window-3000 shape: $w3")
    assert(w3("update_preimage") === 8 && w3("update_postimage") === 8,
      s"window-3000 shape: $w3")
    // folding the windows reconstructs the exact upstream LWW state
    val state = scala.collection.mutable.Map.empty[(String, Long), String]
    byWin.toSeq.sortBy(_._1).foreach { case (_, rows) =>
      rows.foreach { r =>
        val k = (r.getString(2), r.getLong(3))
        r.getString(1) match {
          case "insert" | "update_postimage" => state(k) = r.getString(4)
          case "delete" => state.remove(k); ()
          case _ => ()
        }
      }
    }
    val upstream = src.lwwDedup(src.hotDF)
      .select("tag", "ts", "value").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(state.toMap === upstream,
      "CDF fold and the upstream LWW state disagree")
  }

  // ------------------------------------------------ feed-group PEL acks

  private def appendRecords(topic: java.nio.file.Path, n: Int, from: Int): Unit = {
    val recs = (from until from + n).map { i =>
      s"""{"tag":"T","ts":$i,"value":"v$i","ingestTs":$i,"writerId":"p","seq":$i}"""
    }
    FeedLog.append(topic, recs, segBytes = 1L << 20)
    ()
  }

  test("PEL: a crashed owner's ACKED stretch is never redelivered; unacked is; zombies fenced") {
    val topic = Files.createTempDirectory("r16-pel")
    val storeRoot = Files.createTempDirectory("r16-pelstore").toString
    val st = new TimeSeriesStore(spark, storeRoot,
      StoreSettings(partitionWidth = 1000000L))
    st.initialize()
    appendRecords(topic, 40, 0)
    // member a drains and ACKS, then "crashes": its query stops and its
    // cursor-ledger files are erased to simulate the crash landing
    // BEFORE any cursor commit (the one-batch lag the ack closes)
    FeedGroup.join(topic, "a")
    val qa = StreamingIngest.feedGroupSampleStream(spark, st, topic.toString,
      "a", checkpointDir = Some(Files.createTempDirectory("r16-pelcka").toString))
    try qa.processAllAvailable() finally qa.stop()
    assert(st.hotDF.count() === 40L, "member a should deliver the backlog")
    assert(FeedGroup.ackedPositions(topic).nonEmpty, "sink never acked")
    val cursors = topic.resolve("_group").resolve("cursors")
    import scala.jdk.CollectionConverters._
    Files.list(cursors).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("log-"))
      .foreach(Files.deleteIfExists(_))
    assert(FeedGroup.committedCursors(topic).values.forall(_ == 0L),
      "crash simulation should regress the committed cursor to zero")
    // the crash rebalance: the operator (or janitor) removes the dead
    // member and the survivor adopts — member b now OWNS log 0
    FeedGroup.leave(topic, "a")
    FeedGroup.join(topic, "b")
    assert(FeedGroup.currentGeneration(topic).exists(_.owns("b", 0)))
    val qb = StreamingIngest.feedGroupSampleStream(spark, st, topic.toString,
      "b", checkpointDir = Some(Files.createTempDirectory("r16-pelckb").toString))
    try {
      qb.processAllAvailable()
      assert(st.hotDF.count() === 40L,
        "the acked stretch was redelivered (raw provenance count grew)")
      // new production is delivered exactly once, from the ack floor on
      appendRecords(topic, 10, 40)
      qb.processAllAvailable()
      assert(st.hotDF.count() === 50L,
        "post-adoption production must deliver exactly once")
    } finally qb.stop()
    // zombie fence: a (gen 1) acking after b's generation is refused
    assert(!FeedGroup.commitAcks(topic, "a", 1L, 0,
      Map("seg-00000000.log" -> 999999L)), "zombie ack must be refused")
    // no-loss rule: an UNDELIVERED stretch (no ack) IS redelivered —
    // fresh topic, m1 joins but never runs (crash before delivery)
    val topic2 = Files.createTempDirectory("r16-pel2")
    appendRecords(topic2, 12, 0)
    FeedGroup.join(topic2, "m1")
    // m1 owned log 0 under gen 1 and died before delivering (or acking)
    // anything; the rebalance hands the log to m2, which must REDELIVER
    // the whole unacked stretch — the XAUTOCLAIM no-loss rule
    FeedGroup.leave(topic2, "m1")
    FeedGroup.join(topic2, "m2")
    assert(FeedGroup.currentGeneration(topic2).exists(_.owns("m2", 0)))
    val st2 = new TimeSeriesStore(spark,
      Files.createTempDirectory("r16-pelstore2").toString,
      StoreSettings(partitionWidth = 1000000L))
    st2.initialize()
    val q2 = StreamingIngest.feedGroupSampleStream(spark, st2, topic2.toString,
      "m2", checkpointDir = Some(Files.createTempDirectory("r16-pelck2").toString))
    try q2.processAllAvailable() finally q2.stop()
    assert(st2.hotDF.count() === 12L,
      "undelivered stretch must be redelivered")
  }

  // ---------------------------------------------- point-read fast path

  test("point-read fast path: answers equal the Spark plan; over-cap falls back") {
    import graft.tsdb.Limits
    val root = Files.createTempDirectory("r16-fastread").toString
    val st = new TimeSeriesStore(spark, root,
      StoreSettings(partitionWidth = 100L), obsoleteGraceMs = 1L << 60)
    st.initialize()
    st.clock = () => 1000L
    // L0 lane + an overlapping rewrite + a delete: the fast path must
    // honor LWW across files AND the pending-file exclusion
    st.writeSamples(samples("A", 0 until 30, t => s"a$t", 1000L, "w1", 0L) ++
      samples("B", 100 until 130, t => s"b$t", 1000L, "w1", 500L))
    st.writeSamples(samples("A", 10 until 20, t => s"x$t", 1500L, "w2", 900L))
    st.flushL0()
    st.clock = () => 2000L
    st.delete("A", 25L, 27L)
    val ranges = Map("A" -> (5L, 28L), "B" -> (100L, 110L), "C" -> (0L, 9L))
    val fast = st.readData(ranges)
    // force the Spark plan via the byte-cap seam and compare
    Limits.fastPathMaxBytesOverride = 0L
    val viaPlan = try st.readData(ranges)
    finally Limits.fastPathMaxBytesOverride = -1L
    assert(fast === viaPlan, "fast path diverged from the Spark plan")
    assert(fast("A").keySet === ((5L to 24L) ++ (28L to 28L)).toSet)
    assert((10L to 19L).forall(t => fast("A")(t) == s"x$t"),
      "LWW winner lost in the fast path")
    assert(!fast.contains("C"), "hitless tags must be omitted")
    // a mutation after the cached listing is visible to the next read
    st.clock = () => 3000L
    st.writeSamples(samples("A", 5 until 7, t => s"z$t", 3000L, "w3", 2000L))
    val fresh = st.readData(Map("A" -> (5L, 6L)))
    assert(fresh("A") === scala.collection.immutable.SortedMap(
      5L -> "z5", 6L -> "z6"),
      "serving index missed a post-cache mutation")
  }

  // ------------------------------------------------ restartable BPE

  test("restartable BPE: resumed sittings are bit-identical to an unbroken run") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // unbroken reference at the same knobs
    val unbroken = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.charChunkUnits(docs),
        rounds = 160, batchM = 8, poolK = 48, targetMerges = 40)
      .select("round", "sel_rank", "pair_a", "pair_b", "merged", "cnt")
      .as[(Long, Long, String, String, String, Long)].collect().toSeq.sorted
    assert(unbroken.size === 40)
    // restartable drive forced through >= 2 sittings of 3 rounds, with
    // a checkpoint interval that does NOT divide the sitting length (so
    // resume exercises the recompute-from-checkpoint leg too)
    val root = Files.createTempDirectory("r16-bpe").toString
    var sittings = 0
    var done = false
    while (!done && sittings < 20) {
      done = graft.analytics.TextAnalysis.bpeTrainDeepRestartable(
        docs, root, targetMerges = 40, batchM = 8, poolK = 48,
        roundsPerSitting = 3, checkpointEvery = 2)._2
      sittings += 1
    }
    assert(done && sittings >= 2, s"drive should span >= 2 sittings: $sittings")
    val resumed = graft.analytics.TextAnalysis.loadBpeRules(spark, root)
      .select("round", "sel_rank", "pair_a", "pair_b", "merged", "cnt")
      .as[(Long, Long, String, String, String, Long)].collect().toSeq.sorted
    assert(resumed === unbroken,
      "resumed training diverged from the unbroken run")
    // idempotent completion: another sitting on a done root changes nothing
    val (again, d2) = graft.analytics.TextAnalysis.bpeTrainDeepRestartable(
      docs, root, targetMerges = 40, batchM = 8, poolK = 48)
    assert(d2)
    assert(again.count() === 40L)
  }

  private def bpeRuleRows(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.select("round", "sel_rank", "pair_a", "pair_b", "merged", "cnt")
      .as[(Long, Long, String, String, String, Long)].collect().toSeq.sorted
  }

  test("restartable BPE: supply exhausted mid-sitting commits the pending rules and marks done") {
    import spark.implicits._
    // two char-chunk units with a merge supply of a few rounds — far
    // below the target and the sitting length, and below the checkpoint
    // interval, so the only commit is the one the exhaustion forces
    val docs = Seq((0L, "abab abab"), (1L, "abc ab")).toDF("doc_id", "text")
    val root = Files.createTempDirectory("r16-bpe-exhaust")
    val (first, done) = graft.analytics.TextAnalysis.bpeTrainDeepRestartable(
      docs, root.toString, targetMerges = 4096, batchM = 16, poolK = 96,
      roundsPerSitting = 64, checkpointEvery = 16)
    assert(done, "an exhausted merge supply must finish the drive")
    val rules = bpeRuleRows(first)
    assert(rules.nonEmpty && rules.size < 4096)
    val lastRound = rules.map(_._1).max
    assert(lastRound < 16, s"supply should run out before round 16: $lastRound")
    assert(Files.exists(root.resolve("exhausted")), "no exhausted marker")
    assert(root.resolve("commits").toFile.list().toSeq === Seq(f"commit-$lastRound%05d"),
      "the pending rules were not committed at exhaustion")
    assert(bpeRuleRows(graft.analytics.TextAnalysis
      .loadBpeRules(spark, root.toString)) === rules)
    // a further sitting on the exhausted root trains nothing
    val (again, d2) = graft.analytics.TextAnalysis.bpeTrainDeepRestartable(
      docs, root.toString, targetMerges = 4096, batchM = 16, poolK = 96,
      roundsPerSitting = 64, checkpointEvery = 16)
    assert(d2)
    assert(bpeRuleRows(again) === rules)
  }

  test("restartable BPE: a rules batch written without its commit marker is dropped on resume") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def drive(root: String, roundsPerSitting: Int): Boolean =
      graft.analytics.TextAnalysis.bpeTrainDeepRestartable(
        docs, root, targetMerges = 40, batchM = 8, poolK = 48,
        roundsPerSitting = roundsPerSitting, checkpointEvery = 2)._2
    val unbrokenRoot = Files.createTempDirectory("r16-bpe-ref").toString
    assert(drive(unbrokenRoot, 64))
    val unbroken = bpeRuleRows(
      graft.analytics.TextAnalysis.loadBpeRules(spark, unbrokenRoot))
    assert(unbroken.size === 40)
    // first sitting commits rounds 1-2; then a crash between round 3's
    // data write and its ack leaves batch 3 on disk with no marker
    val root = Files.createTempDirectory("r16-bpe-orphan")
    assert(!drive(root.toString, 2))
    assert(Files.exists(root.resolve("commits/commit-00002")))
    val orphan = root.resolve("rules/batch-00003.parquet")
    Seq((3L, 1L, "zz", "zz", "zzzz", 1L))
      .toDF("round", "sel_rank", "pair_a", "pair_b", "merged", "cnt")
      .coalesce(1).write.parquet(orphan.toString)
    var sittings = 0
    var done = false
    while (!done && sittings < 20) { done = drive(root.toString, 64); sittings += 1 }
    assert(done)
    assert(!Files.exists(orphan), "the unacknowledged batch survived the resume")
    assert(bpeRuleRows(graft.analytics.TextAnalysis
      .loadBpeRules(spark, root.toString)) === unbroken,
      "resume over an orphaned batch diverged from the unbroken run")
  }

  // --------------------------------------------- quantile sketch error

  test("quantile sketch: err_bound is 1/sqrt(ndv) and bounds the measured rank error at 3x") {
    import graft.functions.QuantileSketch
    val agg = QuantileSketch.sketchWith(64)
    val data: Seq[Long] =
      (1 to 5000).map(i => math.abs(i * 2654435761L % 1499L))
    val res = agg.finish(data.foldLeft(agg.zero)(agg.reduce))
    assert(res.ndv > 0L && res.ndv <= 64L)
    assert(res.errBound === 1.0 / math.sqrt(res.ndv.toDouble))
    val sorted = data.sorted
    QuantileSketch.Phis.zip(res.ests).foreach { case (phi, est) =>
      val rank = sorted.count(_ <= est).toDouble / sorted.size
      assert(math.abs(rank - phi) <= 3.0 * res.errBound,
        s"phi=$phi est=$est rank=$rank err=${res.errBound}")
    }
    // a bigger cap tightens the bound and keeps more keys
    val res256 = {
      val a = QuantileSketch.sketchWith(256)
      a.finish(data.foldLeft(a.zero)(a.reduce))
    }
    assert(res256.ndv > res.ndv && res256.errBound < res.errBound)
  }

  test("change feed: an in-window L0 flush must not fabricate deletes for unmarked partitions") {
    // Found by the CDC MV consumer: delete() flushes L0 first, retiring
    // an L0 file that STRADDLES marked and unmarked partitions. The
    // post-window snapshot excludes the retired L0 file, but only marked
    // partitions' dirs are listed — so an unmarked key whose winner sat
    // in that L0 file vanished from the reconstruction and surfaced as a
    // spurious delete. Both diff lanes must restrict their endpoint
    // folds to the plan's marked keys.
    val src = new TimeSeriesStore(spark,
      Files.createTempDirectory("r16-l0straddle").toString,
      StoreSettings(partitionWidth = 100L), obsoleteGraceMs = 1L << 60)
    src.initialize()
    src.clock = () => 1000L
    src.writeSamples(Seq( // ONE L0 file spanning partitions 0/100/200
      Sample("a", 10L, "2", 1000L, "w1", 1L),
      Sample("a", 20L, "4", 1000L, "w1", 2L),
      Sample("a", 210L, "6", 1000L, "w1", 3L),
      Sample("b", 10L, "5", 1000L, "w1", 4L),
      Sample("b", 20L, "9", 1000L, "w1", 5L)))
    src.clock = () => 2000L
    src.delete("a", 0L, 199L) // flushes L0, retires the straddling file
    src.delete("b", 10L, 10L)
    val expected = Seq(("a", 10L, "delete"), ("a", 20L, "delete"),
      ("b", 10L, "delete"))
    val local = src.changesBetweenLocal(1000L, 2000L)
      .map(r => (r._1, r._2, r._7)).sorted
    assert(local === expected,
      "driver-side diff fabricated or missed a change")
    val dist = src.changesBetween(1000L, 2000L)
      .select("tag", "ts", "change_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted
    assert(dist === expected,
      "distributed diff fabricated or missed a change")
    // the untouched partition's key is still alive at both endpoints
    assert(src.lwwDedup(src.readAsOfDF(2000L))
      .where(col("tag") === "a" && col("ts") === 210L).count() === 1L)
  }

  // ------------------------------- CDC-maintained materialized view (IVM)

  /** MV read state: (tag, bucket, n, sum_cents, min_cents, max_cents),
    * tombstones filtered.
    */
  private def mvState(mv: TimeSeriesStore): Seq[(String, Long, Long, Long, Long, Long)] = {
    val part = split(col("value"), ":")
    mv.lwwDedup(mv.allDF)
      .select(col("tag"), col("ts"),
        part.getItem(0).cast("long"), part.getItem(1).cast("long"),
        part.getItem(2).cast("long"), part.getItem(3).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .filter(_._3 > 0L).toSeq.sorted
  }

  /** The full-recompute answer the MV must track, from the source
    * snapshot at `clock`.
    */
  private def recomputed(src: TimeSeriesStore, clock: Long,
      bucketMs: Long): Seq[(String, Long, Long, Long, Long, Long)] = {
    val cents = floor(col("value").cast("double") * 100 + lit(0.5)).cast("long")
    src.lwwDedup(src.readAsOfDF(clock))
      .select(col("tag"),
        (col("ts") - pmod(col("ts"), lit(bucketMs))).as("b"),
        cents.as("c"))
      .groupBy("tag", "b")
      .agg(count(lit(1)).as("n"), sum("c").as("s"),
        min("c").as("mn"), max("c").as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq.sorted
  }

  test("CDC MV: window folds track recompute, retraction reveals the runner-up, replay is idempotent") {
    val bucketMs = 200L
    def newStore(prefix: String): TimeSeriesStore = {
      val st = new TimeSeriesStore(spark,
        Files.createTempDirectory(prefix).toString,
        StoreSettings(partitionWidth = 100L), obsoleteGraceMs = 1L << 60)
      st.initialize()
      st
    }
    val src = newStore("r16-mvsrc")
    val mv = newStore("r16-mv")
    val mv2 = newStore("r16-mvfold") // fold-only lane (no source access)

    def drainTo(clock: Long, from: Long): Unit = {
      val w = StreamingIngest.cdfWindowDF(spark, src, from, clock)
      StreamingIngest.applyCdfWindow(mv, src, w, bucketMs)
      StreamingIngest.applyCdfWindow(mv2, src, w, bucketMs,
        trackExtremes = false)
      assert(mvState(mv) === recomputed(src, clock, bucketMs),
        s"MV diverged from recompute at clock $clock")
    }

    // w1: inserts across two buckets of "a" and one of "b"
    src.clock = () => 1000L
    src.writeSamples(Seq(
      Sample("a", 10L, "2", 1000L, "w1", 1L),
      Sample("a", 20L, "4", 1000L, "w1", 2L),
      Sample("a", 210L, "6", 1000L, "w1", 3L),
      Sample("b", 10L, "5", 1000L, "w1", 4L),
      Sample("b", 20L, "9", 1000L, "w1", 5L)))
    drainTo(1000L, 0L)

    // w2: retractions — (a, bucket 0) vanishes entirely (tombstone);
    // (b, bucket 0) loses its MINIMUM, so the fold alone can't know the
    // new min — the partial-recompute lane must surface the runner-up
    src.clock = () => 2000L
    src.delete("a", 0L, 199L)
    src.delete("b", 10L, 10L)
    drainTo(2000L, 1000L)
    val afterW2 = mvState(mv)
    assert(!afterW2.exists(r => r._1 == "a" && r._2 == 0L),
      "fully-retracted group must read as absent")
    val b0 = afterW2.find(r => r._1 == "b" && r._2 == 0L).get
    assert(b0 === (("b", 0L, 1L, 900L, 900L, 900L)),
      "retracting the min must reveal the runner-up")
    // ... and the tombstone is an explicit LWW row, not a missing one
    val rawA0 = mv.lwwDedup(mv.allDF)
      .where(col("tag") === "a" && col("ts") === 0L)
      .select("value").collect()
    assert(rawA0.map(_.getString(0)).toSeq === Seq("0:0:0:0"))

    // w3: an update (paired images net to the value delta) plus a
    // re-insert into the tombstoned group
    src.clock = () => 3000L
    src.writeSamples(Seq(
      Sample("a", 30L, "7", 3000L, "w2", 6L),
      Sample("b", 20L, "18", 3000L, "w2", 7L)))
    val w3 = StreamingIngest.cdfWindowDF(spark, src, 2000L, 3000L)
    StreamingIngest.applyCdfWindow(mv, src, w3, bucketMs)
    StreamingIngest.applyCdfWindow(mv2, src, w3, bucketMs,
      trackExtremes = false)
    val afterW3 = mvState(mv)
    assert(afterW3 === recomputed(src, 3000L, bucketMs))
    assert(afterW3.contains(("a", 0L, 1L, 700L, 700L, 700L)),
      "re-insert must revive the tombstoned group")

    // crash-replay: re-applying the SAME window recomputes from the same
    // time-travel base and writes bit-identical rows — LWW absorbs it
    StreamingIngest.applyCdfWindow(mv, src, w3, bucketMs)
    assert(mvState(mv) === afterW3, "window replay must be idempotent")

    // the fold-only MV agrees on the invertible aggregates throughout
    val foldOnly = mvState2(mv2)
    assert(foldOnly === afterW3.map(r => (r._1, r._2, r._3, r._4)))

    // the DISTRIBUTED merge branch (backfill/reconciliation windows —
    // maxDriverGroups = 0 forces every window through the join lane)
    // folds the same history to the same state, replay included
    val mv3 = newStore("r16-mvdist")
    Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)).foreach {
      case (f, t) =>
        val win = StreamingIngest.cdfWindowDF(spark, src, f, t)
        StreamingIngest.applyCdfWindow(mv3, src, win, bucketMs,
          maxDriverGroups = 0L)
    }
    assert(mvState(mv3) === afterW3,
      "distributed merge branch must fold to the driver branch's state")
    StreamingIngest.applyCdfWindow(mv3, src, w3, bucketMs,
      maxDriverGroups = 0L)
    assert(mvState(mv3) === afterW3,
      "distributed window replay must be idempotent")
  }

  private def mvState2(mv: TimeSeriesStore): Seq[(String, Long, Long, Long)] = {
    val part = split(col("value"), ":")
    mv.lwwDedup(mv.allDF)
      .select(col("tag"), col("ts"),
        part.getItem(0).cast("long"), part.getItem(1).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._3 > 0L).toSeq.sorted
  }
}
