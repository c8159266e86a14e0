package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-12 contracts: the PRODUCTION-DEPTH BPE training drive
  * (VERDICT r11 #3). `tx_bpe_train_scaled` has no SQL oracle (a
  * 256-round unrolled MATERIALIZED-CTE is past DuckDB's practical
  * planning depth), so THIS suite is its correctness gate: every rule of
  * every round is replayed by a sequential driver-side reference trainer
  * on the same corpus — the Round9Spec discipline at 40× the depth — and
  * the per-round telemetry must show round cost staying vocab-sized
  * (pair-explode volume SHRINKS as merges consume adjacent positions).
  */
class Round12Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-round12-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // sf0.01 — the oracle scale: sf0.001's vocabulary exhausts its pair
  // supply at 89 merges, below the 256-rule production target
  private val sf = "/root/testdata/sf0.01"

  /** Sequential reference of the SCALED batched trainer: identical
    * semantics to Round11Spec's referenceBatched plus the target-merge
    * stopping rule (accept at most `target - rules.size` per round, stop
    * at the target) and the SentencePiece-style two-word pre-tokenization
    * (consecutive word pairs joined by "_", odd tail alone — split with
    * limit -1 to mirror Spark's trailing-empty behavior exactly). Pure
    * driver Scala — shares no code with the engine.
    */
  private def referenceScaled(texts: Seq[String], target: Int, batchM: Int,
      poolK: Int, maxRounds: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var vocab: Map[String, (Long, Vector[String])] = texts
      .flatMap(_.split(" ", -1).grouped(2).map(_.mkString("_")))
      .filter(_.length >= 2)
      .groupBy(identity)
      .map { case (w, ws) => w -> (ws.size.toLong, w.map(_.toString).toVector) }
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    var r = 1
    var stop = false
    while (r <= maxRounds && !stop && rules.size < target) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.values.foreach { case (f, toks) =>
        toks.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1)); pairs(k) = pairs.getOrElse(k, 0L) + f
        }
      }
      if (pairs.isEmpty) stop = true
      else {
        val pool = pairs.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }
          .take(poolK)
        val accepted = pool.zipWithIndex.filter { case (((a, b), _), i) =>
          !pool.take(i).exists { case ((c, d), _) =>
            c == a || c == b || d == a || d == b }
        }.map(_._1).take(math.min(batchM, target - rules.size))
        accepted.zipWithIndex.foreach { case (((a, b), cnt), j) =>
          rules += ((r.toLong, (j + 1).toLong, a, b, a + b, cnt))
        }
        val accSet = accepted.map(_._1).toSet
        vocab = vocab.map { case (w, (f, toks)) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.size) {
            if (i + 1 < toks.size && accSet.contains((toks(i), toks(i + 1)))) {
              out += toks(i) + toks(i + 1); i += 2
            } else { out += toks(i); i += 1 }
          }
          w -> (f, out.toVector)
        }
        r += 1
      }
    }
    rules.toSeq
  }

  test("bpeTrainScaled: all 256 merges match the sequential reference on corpus data") {
    val docs = Tables.documents(spark, sf)
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    graft.analytics.TextAnalysis.bpeTelemetry = true
    val got = try {
      graft.analytics.TextAnalysis
        .bpeTrainBatched(graft.analytics.TextAnalysis.bigramUnits(docs),
          rounds = 96, batchM = 8, poolK = 48, targetMerges = 256)
        .orderBy("round", "sel_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSeq
    } finally graft.analytics.TextAnalysis.bpeTelemetry = false
    val want = referenceScaled(texts, target = 256, batchM = 8, poolK = 48,
      maxRounds = 96)
    // the corpus must actually sustain the full production target — an
    // early exhaustion would silently shrink the demonstration
    assert(want.size === 256, s"reference exhausted at ${want.size} merges")
    assert(got.size === 256, s"engine stopped at ${got.size} merges")
    assert(got === want,
      "scaled distributed trainer diverged from the sequential reference")

    // ---- per-round cost telemetry (the PLANS.md table's source) ----
    val costs = graft.analytics.TextAnalysis.lastRoundCosts
    assert(costs.nonEmpty && costs.map(_._2).sum === 256)
    // round cost must stay vocab-sized: the pair-explode volume at the
    // END of training may not exceed the first round's (merges consume
    // adjacent positions, so it monotonically shrinks modulo ties)
    val pairVols = costs.map(_._3)
    assert(pairVols.forall(_ > 0L))
    assert(pairVols.last <= pairVols.head,
      s"pair volume grew over training: ${pairVols.head} -> ${pairVols.last}")
    // and LATE rounds may not cost more than EARLY rounds — the "does
    // per-round cost grow with the rule table" question. Medians of the
    // first/last 10 post-warmup rounds, not a per-round max: a single
    // round's wall clock absorbs GC pauses and host contention (observed
    // 18× one-round spikes with identical code), while a genuine
    // per-round cost growth shifts the whole tail.
    val secs = costs.drop(1).map(_._4)
    def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
    val head = med(secs.take(10))
    val tail = med(secs.takeRight(10))
    assert(tail <= head * 3 + 1.0,
      s"late rounds cost ${tail}s vs early ${head}s — round cost grew with training")
  }

  test("bigramUnits pairs consecutive words and keeps an odd tail alone") {
    import spark.implicits._
    val docs = Seq((0L, "aa bb cc dd ee"), (1L, "xx yy"), (2L, "zz"))
      .toDF("doc_id", "text")
    val units = graft.analytics.TextAnalysis.bigramUnits(docs)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(units === Seq("aa_bb", "cc_dd", "ee", "xx_yy", "zz"))
  }

  test("zorderRewrite: rewrite preserves rows and BUYS user-dimension skipping") {
    import org.apache.spark.sql.functions._
    val L = graft.analytics.Layout
    val events = Tables.events(spark, sf)
    val zDir = java.nio.file.Files.createTempDirectory("z12-z").toString
    val tDir = java.nio.file.Files.createTempDirectory("z12-t").toString
    L.zorderRewrite(events, zDir, nFiles = 16)
    // the ingestion-order baseline: the same slice written time-ranged
    // (what the store's natural layout gives — tight in time, every file
    // spanning the full user range)
    events.select("event_id", "user_id", "ts_ms", "event_type", "value")
      .repartitionByRange(16, col("ts_ms")).sortWithinPartitions(col("ts_ms"))
      .write.mode("overwrite").parquet(tDir)

    // roundtrip: nothing lost, duplicated, or corrupted by the rewrite
    val orig = events.agg(count(lit(1)), sum(col("event_id")),
      sum(col("user_id"))).head()
    val back = spark.read.parquet(zDir).agg(count(lit(1)),
      sum(col("event_id")), sum(col("user_id"))).head()
    assert(back === orig, "z-order rewrite changed the data")

    // skipping delta on the USER dimension (the one the rewrite buys):
    // feed each layout's per-file user zone maps through skippingAudit
    def userHitFraction(dir: String): Double = {
      val files = L.fileStats(spark, dir)
        .select(lit("all").as("part_key"), col("file_id"),
          col("n_rows").as("bytes"),
          col("min_uid").as("min_ts"), col("max_uid").as("max_ts"))
      L.skippingAudit(files, nProbes = 4)
        .agg(avg(col("hit_fraction"))).head().getDouble(0)
    }
    val zHit = userHitFraction(zDir)
    val tHit = userHitFraction(tDir)
    // time-ranged files span the whole user range (fraction ~1.0); the
    // z-ordered layout must prune at least a third of the files per probe
    assert(tHit > 0.95, s"baseline unexpectedly user-clustered: $tHit")
    assert(zHit < 0.67, s"z-order bought no user skipping: $zHit vs $tHit")
    // and the time dimension must stay prunable too — both-dimension
    // locality is the whole point of the interleave
    def tsHitFraction(dir: String): Double = {
      val files = L.fileStats(spark, dir)
        .select(lit("all").as("part_key"), col("file_id"),
          col("n_rows").as("bytes"), col("min_ts"), col("max_ts"))
      L.skippingAudit(files, nProbes = 4)
        .agg(avg(col("hit_fraction"))).head().getDouble(0)
    }
    assert(tsHitFraction(zDir) < 0.67,
      "z-order destroyed time locality entirely")
  }

  test("incremental z-order: delta files join the layout without losing prunability") {
    import org.apache.spark.sql.functions._
    val L = graft.analytics.Layout
    val events = Tables.events(spark, sf)
    val root = java.nio.file.Files.createTempDirectory("z12-inc").toString
    val hist = events.where(pmod(col("event_id"), lit(10L)) =!= 0)
    val delta = events.where(pmod(col("event_id"), lit(10L)) === 0)
    L.zorderRewrite(hist, s"$root/base", nFiles = 16)
    L.zorderRewriteBounded(delta, hist, s"$root/delta", nFiles = 4)
    // roundtrip across BOTH file sets
    val orig = events.agg(count(lit(1)), sum(col("event_id"))).head()
    val back = spark.read.parquet(s"$root/base", s"$root/delta")
      .agg(count(lit(1)), sum(col("event_id"))).head()
    assert(back === orig, "incremental layout lost or duplicated rows")
    // the combined layout still prunes on the user dimension: delta files
    // are z-ordered in the SAME coordinate space, so they stay boxed
    val files = L.fileStats(spark, s"$root/base", s"$root/delta")
      .select(lit("all").as("part_key"), col("file_id"),
        col("n_rows").as("bytes"),
        col("min_uid").as("min_ts"), col("max_uid").as("max_ts"))
    val hit = L.skippingAudit(files, nProbes = 4)
      .agg(avg(col("hit_fraction"))).head().getDouble(0)
    assert(hit < 0.75, s"combined layout stopped pruning on user: $hit")
    // a delta row OUTSIDE history's span clamps to the boundary cell
    // instead of corrupting the key space — checked on the shared
    // coordinate projection (the persisted files no longer carry the
    // helper columns: an OPTIMIZE must be a drop-in schema-identical
    // layout swap, ADVICE r12)
    import spark.implicits._
    val wild = Seq((999999L, 99999999L, 99999999999999L, "x", 1.0))
      .toDF("event_id", "user_id", "ts_ms", "event_type", "value")
    val w = L.zorderProjection(wild, hist).select("ux", "tx").head()
    assert(w.getLong(0) === 65535L && w.getLong(1) === 65535L)
    // and the rewritten files are schema-identical to the source slice
    L.zorderRewriteBounded(wild, hist, s"$root/wild", nFiles = 1)
    assert(spark.read.parquet(s"$root/wild").columns.toSeq ===
      Seq("event_id", "user_id", "ts_ms", "event_type", "value"))
  }

  test("bpeTrainScaled stops exactly at the target mid-round") {
    import spark.implicits._
    val docs = Seq((0L, "aaaa ab abab cc dd ccdd ee ff eeff"),
      (1L, "ab ba cc ddd ee ff")).toDF("doc_id", "text")
    val rules = graft.analytics.TextAnalysis
      .bpeTrainBatched(graft.analytics.TextAnalysis.bigramUnits(docs),
        rounds = 96, batchM = 4, poolK = 16, targetMerges = 5)
      .collect()
    assert(rules.length === 5, s"target overshoot: ${rules.length} rules")
  }
}
