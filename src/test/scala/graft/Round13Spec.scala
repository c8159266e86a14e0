package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-13 contracts. Starts with the registry-count drift guard
  * (VERDICT r12 next #8: the SURVEY §2.3 round table claimed 243 while
  * the registry held 245 — the same defect class as VERDICT r11 #5, and
  * it recurs because nothing asserts it): the LAST "Registry N" claim in
  * SURVEY.md and the README's "driver contract: N queries" line must
  * both equal `SparkEntry.registry.size`, and the README's oracle count
  * must equal `SparkEntry.oracleSql.size`. The build now fails when the
  * docs drift from the code.
  */
class Round13Spec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .appName("graft-round13-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  test("SURVEY/README registry counts match SparkEntry (drift guard)") {
    val n = SparkEntry.registry.size
    val nOracled = SparkEntry.oracleSql.size

    // SURVEY §2.3: the round table's LAST "Registry N" claim is the
    // current registry size by construction of the table
    val surveyClaims = raw"Registry (\d+)".r
      .findAllMatchIn(readFile("SURVEY.md")).map(_.group(1).toInt).toSeq
    assert(surveyClaims.nonEmpty, "SURVEY.md lost its Registry claims")
    assert(surveyClaims.last === n,
      s"SURVEY.md claims Registry ${surveyClaims.last}, code has $n — " +
        "update the §2.3 round table")

    // README: "driver contract: N queries, M with DuckDB oracles"
    val readme = readFile("README.md")
    val rm = raw"driver contract: (\d+) queries, (\d+) with DuckDB oracles".r
      .findFirstMatchIn(readme)
      .getOrElse(fail("README.md lost its driver-contract line"))
    assert(rm.group(1).toInt === n,
      s"README claims ${rm.group(1)} queries, code has $n")
    assert(rm.group(2).toInt === nOracled,
      s"README claims ${rm.group(2)} oracled, code has $nOracled")
  }

  test("driver mains name a failed row by exception class and first message line") {
    assert(SparkEntry.describeFailure(
      new IllegalStateException("bad plan\n  +- Scan parquet")) ===
      "java.lang.IllegalStateException: bad plan")
    assert(SparkEntry.describeFailure(new RuntimeException(null: String)) ===
      "java.lang.RuntimeException: ")
  }

  // sf0.01 — the oracle scale; the deep drive needs the full unit
  // population (sf0.001 has the same ~5.5 k distinct chunks, but the
  // registry row runs at the driver's sf0.01 and the replay must match
  // that corpus exactly)
  private val sf = "/root/testdata/sf0.01"

  /** Sequential reference of the VOCAB-SCALE trainer: Round12Spec's
    * referenceScaled semantics over the char-chunk unit stream (spaces →
    * `_`, non-overlapping 8-char chunks, ragged tail kept). Pure driver
    * Scala — shares no code with the engine.
    */
  private def referenceDeep(texts: Seq[String], n: Int, target: Int,
      batchM: Int, poolK: Int,
      maxRounds: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var vocab: Map[String, (Long, Vector[String])] = texts
      .flatMap(_.replace(' ', '_').grouped(n))
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

  test("zorder compact: store files roll into zone-mapped ts runs the audit prices") {
    import org.apache.spark.sql.functions._
    import graft.tsdb.{TimeSeriesStore, StoreSettings}
    val Jan1 = 1704067200000L
    val W = 86400000L // day partitions — a window must HOLD rows to cluster
    val root = java.nio.file.Files.createTempDirectory("z13-store").toString
    val st = new TimeSeriesStore(spark, root, StoreSettings(partitionWidth = W))
    st.initialize()
    val slice = Tables.events(spark, sf)
      .where(col("ts_ms").between(Jan1, Jan1 + 3 * W))
    def batch(ingestTs: Long, writer: String, mod: Int) =
      slice.where(col("event_id") % mod === 0).select(
        col("event_type").as("tag"), col("ts_ms").as("ts"),
        col("value").cast("string").as("value"),
        lit(ingestTs).as("ingestTs"), lit(writer).as("writerId"),
        col("event_id").as("seq"))
    st.writeSamplesDistributed(batch(1L, "w1", 1))
    st.writeSamplesDistributed(batch(2L, "w2", 3))

    // per-file ts zone maps of the store's OWN hot files, one layout probe
    // window (all tags share a day dir's span, so the audit isolates
    // INTRA-window skipping — cross-window pruning is the directory
    // layout's job and already proven elsewhere)
    val nsHot = java.nio.file.Paths.get(st.namespaceRoot)
      .resolve("hot").toString
    def hitFractionAt(hot: String): Double = {
      val L = graft.analytics.Layout
      val files = spark.read.option("basePath", hot).parquet(hot)
        .where(col("partition_start") === Jan1)
        .groupBy(col("_metadata.file_path").as("file_id"))
        .agg(count(lit(1)).as("bytes"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
        .select(lit("w0").as("part_key"), col("file_id"), col("bytes"),
          col("min_ts"), col("max_ts"))
      L.skippingAudit(files, nProbes = 4)
        .agg(avg(col("hit_fraction"))).head().getDouble(0)
    }
    val preHit = hitFractionAt(nsHot)

    // the expected LWW surface, computed from the inputs before compaction
    val expect = st.hotDF.groupBy(col("tag"), col("ts"))
      .agg(max(col("ingestTs"))).count()

    val n = st.compact(minFiles = 2, applyLww = true, zorder = true,
      zorderRowsPerFile = 16L)
    assert(n > 0, "no partition was zorder-compacted")

    // 1) drop-in swap: data files stay schema-identical (no key leak)
    val anyFile = spark.read.option("basePath", nsHot).parquet(nsHot)
    assert(anyFile.columns.toSet ===
      Set("ts", "value", "ingestTs", "writerId", "seq", "tag", "partition_start"))

    // 2) the LWW merge still happened: raw rows == LWW winners
    assert(st.hotDF.count() === expect,
      "zorder compaction lost rows or resurrected superseded members")

    // 3) each window is now a RUN of files with (quantum-tolerant)
    // non-overlapping ts ranges — the zone maps readData's residual
    // bounds prune on
    val quantum = W / 65535L + 1L
    val runs = spark.read.option("basePath", nsHot).parquet(nsHot)
      .where(col("partition_start") === Jan1)
      .groupBy(col("tag"), col("_metadata.file_path").as("f"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .collect().groupBy(_.getString(0))
    assert(runs.values.exists(_.length >= 2),
      "file roll never split a window — nothing was clustered")
    runs.foreach { case (tag, fs) =>
      val sorted = fs.map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(lo2 >= hi1 - quantum,
            s"tag $tag: files overlap beyond the tx quantum: $hi1 vs $lo2")
        case _ =>
      }
    }

    // 4) the audit prices the layout: batch files each spanned the whole
    // window (fraction ~1.0); the clustered run must prune
    val postHit = hitFractionAt(nsHot)
    assert(preHit > 0.9, s"baseline unexpectedly clustered: $preHit")
    assert(postHit < 0.67, s"zorder compact bought no skipping: $postHit")
  }

  test("cross-JVM: foreign writer + foreign maintainer on one root, reads stay consistent") {
    import org.apache.spark.sql.functions._
    import graft.tsdb.{TimeSeriesStore, StoreSettings}
    val root = java.nio.file.Files.createTempDirectory("z13-xjvm").toString
    val scratch = java.nio.file.Files.createTempDirectory("z13-xjvm-io")
    val width = 60000L // 1-minute windows: the writer's ts march retires
                       // windows fast enough for the maintainer to purge
    val baseTs = 1704067200000L
    val rounds = 80 // ~6 s of active feed after JVM boot: enough overlap
                    // for several foreign maintenance cycles
    val rpr = 30
    val writerDone = scratch.resolve("writer.done")
    val maintDone = scratch.resolve("maint.done")
    val stopFile = scratch.resolve("stop")

    // the test JVM's own store handle: 10 s grace, like the children —
    // every process on a shared root must run with a grace sized ABOVE
    // its slowest read's resolve→execute span (the snapshot-retention
    // rule every obsolete-file-retiring table format imposes; under
    // full-suite JVM load a tier-wide count here can span several
    // seconds, which is what the margin buys)
    val st = new TimeSeriesStore(spark, root,
      StoreSettings(partitionWidth = width), obsoleteGraceMs = 10000L)
    st.initialize()

    val cp = System.getProperty("java.class.path")
    def launch(name: String, args: String*): Process = {
      val cmd = (Seq("java", "-Xmx3g", "-cp", cp,
        "graft.examples.ConcurrentWriter") ++ args)
      new ProcessBuilder(cmd: _*)
        .redirectOutput(scratch.resolve(s"$name.out").toFile)
        .redirectErrorStream(true)
        .start()
    }
    val writer = launch("writer", "writer", root, width.toString,
      baseTs.toString, rounds.toString, rpr.toString, writerDone.toString)
    val maint = launch("maint", "maintainer", root, width.toString,
      stopFile.toString, maintDone.toString)

    def childLog(name: String): String =
      try new String(java.nio.file.Files.readAllBytes(
        scratch.resolve(s"$name.out")),
        java.nio.charset.StandardCharsets.UTF_8).takeRight(4000)
      catch { case _: java.io.IOException => "<no log>" }

    try {
      // ---- the consistency gate: LWW reads NEVER fail and NEVER shrink
      // while two foreign JVMs write, flush, compact, archive, and ack
      // against the same root under the lease + grace-ledger machinery
      var lastSeen = -1L
      var iter = 0
      val deadline = System.currentTimeMillis() + 240000L
      // A DataFrame read on a shared root is a SNAPSHOT read: its resolved
      // listing is guaranteed for `obsoleteGraceMs` after any file it
      // lists goes obsolete. A read that outlives that window can abort
      // with FILE_NOT_EXIST (Iceberg past expire-snapshots retention fails
      // identically; Spark's own error text says refresh + recreate) —
      // the consumer remedy is ONE re-read against a fresh listing. What
      // may never happen, retried or not, is a fresh read LOSING rows —
      // that's the gate below.
      def lwwCount(): Long = {
        def once() = st.lwwDedup(st.allDF)
          .where(col("tag").startsWith("jvm")).count()
        try once() catch {
          case e: org.apache.spark.SparkException
              if e.getMessage != null && e.getMessage.contains("FILE_NOT_EXIST") =>
            once()
        }
      }
      while (!java.nio.file.Files.exists(writerDone) &&
          System.currentTimeMillis() < deadline) {
        assert(writer.isAlive || java.nio.file.Files.exists(writerDone),
          s"writer JVM died: ${childLog("writer")}")
        assert(maint.isAlive, s"maintainer JVM died: ${childLog("maint")}")
        val seen = lwwCount()
        assert(seen >= lastSeen,
          s"visible LWW rows SHRANK under concurrent maintenance: $lastSeen -> $seen")
        lastSeen = seen
        if (iter % 8 == 7) // this JVM contends for the lease too
          st.compact(minFiles = 2, applyLww = true)
        iter += 1
        Thread.sleep(150)
      }
      assert(java.nio.file.Files.exists(writerDone),
        s"writer never finished: ${childLog("writer")}")

      // stop the maintainer, wait for its clean exit
      java.nio.file.Files.write(stopFile, Array.emptyByteArray)
      assert(maint.waitFor(60, java.util.concurrent.TimeUnit.SECONDS),
        s"maintainer did not stop: ${childLog("maint")}")
      assert(maint.exitValue() === 0, childLog("maint"))
      assert(writer.waitFor(30, java.util.concurrent.TimeUnit.SECONDS) &&
        writer.exitValue() === 0, childLog("writer"))
      val cycles = new String(java.nio.file.Files.readAllBytes(maintDone),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(cycles.matches("cycles=\\d+") &&
        cycles.drop(7).toInt >= 2,
        s"maintenance barely ran against the shared root: $cycles")

      // ---- drain the purge lifecycle from THIS JVM over what remains
      Thread.sleep(1200) // everything is ≥1 s idle now
      st.purgeScan(partitionAgeThreshold = 1, maxPartitionsToMark = 100)
      // drain EVERY unacked entry — including marks a child made but did
      // not live to ack (the crash-recovery half of the queue contract)
      st.pendingPurgeEntries().foreach { e =>
        st.archiveToCold(e.id); st.purgeAck(e.id, e.partitionName, e.tag)
      }

      // ---- exactness: the merged hot ∪ cold LWW surface equals the
      // writer's deterministic feed, bit for bit
      val total = rounds * rpr
      val fin = st.lwwDedup(st.allDF).where(col("tag").startsWith("jvm"))
        .agg(count(lit(1)), sum(col("ts")), countDistinct(col("value")))
        .head()
      assert(fin.getLong(0) === total.toLong,
        s"row count after the run: ${fin.getLong(0)} != $total")
      val wantSum = (0L until total.toLong)
        .map(k => baseTs + k * 1000L).sum
      assert(fin.getLong(1) === wantSum, "ts checksum diverged")
      assert(fin.getLong(2) === total.toLong, "value set diverged")
      val perTag = st.lwwDedup(st.allDF).where(col("tag").startsWith("jvm"))
        .groupBy(col("tag")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val each = total.toLong / 3
      assert(perTag === Map("jvm0" -> each, "jvm1" -> each, "jvm2" -> each))

      // the lifecycle actually tiered data across processes
      assert(st.coldDF.where(col("tag").startsWith("jvm")).count() > 0,
        "no partition was ever archived by either process")
    } finally {
      writer.destroyForcibly(); maint.destroyForcibly()
    }
  }

  test("sequence packing: conservation, fill, EOD accounting, bucket-size independence") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val L = 256
    val spans = graft.analytics.TextAnalysis.packSequences(docs, L, bucketSize = 64)
      .persist()
    try {
      val stats = graft.analytics.TextAnalysis.packStats(docs, L, bucketSize = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      val lastSeq = stats.map(_._1).max
      // every sequence except the tail is filled to exactly L tokens,
      // with no gaps in the id space (the stream splits exhaustively)
      assert(stats.map(_._1) === (0L to lastSeq).toArray)
      stats.filter(_._1 < lastSeq).foreach { case (sid, _, n, _) =>
        assert(n === L.toLong, s"seq $sid filled $n != $L")
      }
      // token conservation: each doc's spans sum to its slot (tokens+EOD)
      val slotFromSpans = spans.groupBy("doc_id")
        .agg(sum("n_toks").as("s"), sum("has_eod").as("e"))
      val expected = docs.select(col("doc_id"),
        (size(split(col("text"), " ")) + 1).cast("long").as("slot"))
      val diverged = slotFromSpans.join(expected, "doc_id")
        .where(col("s") =!= col("slot") || col("e") =!= 1).count()
      assert(diverged === 0L, "a doc's spans lost tokens or its EOD")
      // EODs across sequences = number of docs
      assert(stats.map(_._4).sum === docs.count())
      // the two-level prefix sum is bucket-size INVARIANT: degenerate
      // single-bucket (the naive global order) and a coprime bucket width
      // reproduce the span table bit-for-bit
      Seq(7, 1 << 20).foreach { b =>
        val alt = graft.analytics.TextAnalysis.packSequences(docs, L, b)
        assert(alt.exceptAll(spans).isEmpty && spans.exceptAll(alt).isEmpty,
          s"bucketSize=$b changed the packing")
      }
    } finally { spans.unpersist(); () }
  }

  test("incremental packing: 5 micro-batches with a carried offset == the batch packer") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark, 1)
    // 5 in-order batches of uneven size — batch boundaries deliberately
    // DON'T align to sequence boundaries, so most batches resume
    // mid-sequence at the carried offset. Fed ONE BATCH AT A TIME
    // (addData → processAllAvailable) so the offset carry genuinely
    // crosses micro-batch commits, not one coalesced batch.
    val (writer, outDir) = graft.streaming.StreamingIngest.packSpanWriter(
      in.toDF().toDF("doc_id", "text"))
    val q = writer.start()
    try {
      docs.grouped(math.max(docs.length / 5 + 1, 1)).foreach { g =>
        in.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = graft.streaming.StreamingIngest.readPackSpans(spark, outDir)
    val batch = graft.analytics.TextAnalysis.packSequences(
      Tables.documents(spark, sf))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "incremental spans diverged from the batch packer")
    // and the stream genuinely split mid-sequence: some sequence's spans
    // came from more than one micro-batch (≥1 seq with docs spanning a
    // batch boundary) — trivially true unless batches aligned exactly
    val boundaryDocs = docs.grouped(math.max(docs.length / 5 + 1, 1))
      .map(_.head._1).toSeq.drop(1)
    val crossSeqs = batch.where(col("doc_id").isin(boundaryDocs.map(b => b - 1) ++
      boundaryDocs: _*))
      .groupBy("seq_id").agg(countDistinct(col("doc_id")).as("n"))
      .where(col("n") >= 2).count()
    assert(crossSeqs > 0, "test feed accidentally aligned to sequence boundaries")
  }

  test("charChunkUnits: boundary marking, non-overlap, ragged tail") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta gamma"), (1L, "ab"), (2L, "x"),
      (3L, "abcdefghij")).toDF("doc_id", "text")
    val units = graft.analytics.TextAnalysis.charChunkUnits(docs, n = 8)
      .collect().map(_.getString(0)).toSeq.sorted
    // "alpha_beta_gamma" (16 chars) -> two full chunks; "abcdefghij" a
    // full chunk plus the ragged 2-char tail; "x" a 1-char unit the
    // trainer's length>=2 filter drops later
    assert(units ===
      Seq("ab", "abcdefgh", "alpha_be", "ij", "ta_gamma", "x").sorted)
  }

  test("bpeTrainDeep: all 1024 merges match the sequential reference on corpus data") {
    val docs = Tables.documents(spark, sf)
    val texts = docs.select("text").collect().map(_.getString(0)).toSeq
    graft.analytics.TextAnalysis.bpeTelemetry = true
    val got = try {
      graft.analytics.TextAnalysis
        .bpeTrainBatched(graft.analytics.TextAnalysis.charChunkUnits(docs),
          rounds = 160, batchM = 16, poolK = 96, targetMerges = 1024)
        .orderBy("round", "sel_rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getLong(5))).toSeq
    } finally graft.analytics.TextAnalysis.bpeTelemetry = false
    val want = referenceDeep(texts, n = 8, target = 1024, batchM = 16,
      poolK = 96, maxRounds = 160)
    // the unit stream must actually sustain the vocab-scale target — an
    // early exhaustion would silently shrink the demonstration (that is
    // exactly how bigramUnits failed past 256)
    assert(want.size === 1024, s"reference exhausted at ${want.size} merges")
    assert(got.size === 1024, s"engine stopped at ${got.size} merges")
    assert(got === want,
      "deep distributed trainer diverged from the sequential reference")

    // ---- per-round cost telemetry (the PLANS.md round-13 table) ----
    val costs = graft.analytics.TextAnalysis.lastRoundCosts
    assert(costs.nonEmpty && costs.map(_._2).sum === 1024)
    // round cost must stay vocab-sized at 4x the round-12 depth: the
    // pair-explode volume monotonically shrinks modulo ties
    val pairVols = costs.map(_._3)
    assert(pairVols.forall(_ > 0L))
    assert(pairVols.last <= pairVols.head,
      s"pair volume grew over training: ${pairVols.head} -> ${pairVols.last}")
    // tail-vs-head medians, not a per-round max (Round12Spec note: a
    // single round's wall clock absorbs GC/host noise; genuine cost
    // growth shifts the whole tail) — at 113 rounds this is the real
    // "cost stays vocab-sized at 4x the depth" gate
    val secs = costs.drop(1).map(_._4)
    def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
    val head = med(secs.take(10))
    val tail = med(secs.takeRight(10))
    assert(tail <= head * 3 + 1.0,
      s"late rounds cost ${tail}s vs early ${head}s — round cost grew with training")
  }
}
