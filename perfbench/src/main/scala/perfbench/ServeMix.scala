package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.tsdb.{FooterCache, StoreSettings, TimeSeriesStore}

/** The reference request shape (PerfTest.jmx): closed-loop clients, each
  * loop one 2,000-sample `write` (50 tags x 40) then one 1-tag/20 ms
  * point read of the window it just wrote. Maintenance runs inline in the
  * client that triggers it, as in the reference service: when `write`'s
  * returned hot-tier bytes pass a budget, that client purges (`purgeScan`,
  * then per entry `loadPurgeEntry` -> `archiveToCold` -> `purgeAck`) and
  * then, if `maintenanceDue`, compacts.
  *
  * All clients step the same time axis (+10 s per loop, as PerfTest.jmx's
  * per-thread counters do), but client `c` writes its samples `c x 50 ms`
  * after the other clients' ones, so every (tag, ts) has one writer and its last
  * acknowledged value is known exactly: window `j` of client `c` holds
  * `t{tag}-c{c}-w{j}-k{k}-u{i}` where `i` is the loop that last wrote it.
  * One loop in eight re-writes one of the client's windows in the first
  * partition instead of a fresh one (an LWW upsert).
  *
  * Set-up first runs each maintenance call once on a scratch store (so the
  * timed phase does not pay Spark's first-job costs), then runs the clients
  * until the first L0 flush, so every timed phase starts at the same point
  * of the flush cycle. The timed phase runs until a fixed number of
  * maintenance cycles, triggered by the data written, have completed (and
  * at least `--seconds`), so every run sees the same sequence of events.
  */
object ServeMix {
  final case class Size(tags: Int, perTag: Int, hotBudget: Long, purgeMax: Int,
      warmLoops: Int, cycles: Int, cycleWrites: Int, checkReads: Int)

  // The budget is passed ~45 writes after the first flush, and a purge of
  // 5 entries lets ~15 more through before the compaction flushes L0, so
  // the cycle never races the next 64-file flush.
  val Full = Size(tags = 50, perTag = 40, hotBudget = (26L << 20) / 10, purgeMax = 5,
    warmLoops = 3, cycles = 3, cycleWrites = 30, checkReads = 200)
  val Tiny = Size(tags = 20, perTag = 10, hotBudget = 64L << 10, purgeMax = 10,
    warmLoops = 2, cycles = 1, cycleWrites = 4, checkReads = 50)

  val PartitionWidth = 120000L
  private val ClientOffsetMs = 50L
  private val UpsertWindows = (PartitionWidth / 10000L).toInt
  // Caps that end a phase whose trigger never comes (a store that no
  // longer flushes at 64 L0 files, or stays under the hot budget), so the
  // run still finishes: far above what this workload needs.
  private val MaxWarmLoops = 64
  private val MaxTimedNs = 90L * 1000000000L
  private val MaintenanceSpans =
    Set("purgeScan", "loadPurgeEntry", "archiveToCold", "purgeAck", "maintenanceDue", "compact")
  private val MutationSpans = Set("write", "purgeScan", "archiveToCold", "purgeAck", "compact")

  /** One client's timestamps and its acknowledged-write model. */
  final class Client(val c: Int, seed: Long, size: Size) {
    val rnd = new java.util.Random(seed * 1000003L + c)
    private val base = 1700000000000L + (seed % 1000) * PartitionWidth + c * ClientOffsetMs
    /** window -> loop that last wrote it (acknowledged); -1 = unknown. */
    val writerOf = ArrayBuffer.empty[Int]
    var loop = 0
    def ts(j: Int, k: Int): Long = base + j * 10000L + k * (10000L / size.perTag)
    def value(t: Int, j: Int, k: Int, i: Int): String = s"t$t-c$c-w$j-k$k-u$i"
    def batch(j: Int, i: Int): Map[String, Map[Long, String]] =
      (0 until size.tags).map { t =>
        s"Tag$t" -> (0 until size.perTag).map(k => ts(j, k) -> value(t, j, k, i)).toMap
      }.toMap
    /** Model value of (t, j, k), if known. */
    def expected(t: Int, j: Int, k: Int): Option[String] =
      if (j < writerOf.size && writerOf(j) >= 0) Some(value(t, j, k, writerOf(j))) else None
  }

  final case class Acked(tag: String, rows: Seq[(Long, String)])

  def run(ctx: Ctx): Unit = {
    val size = if (ctx.tiny) Tiny else Full
    val store = new TimeSeriesStore(ctx.spark, ctx.work.resolve("serve_mix-store").toString,
      StoreSettings(partitionWidth = PartitionWidth))
    ctx.op("initialize")(store.initialize())
    val l0Dir = Paths.get(store.namespaceRoot, "l0")
    val clients = (0 until ctx.clients).map(new Client(_, ctx.seed, size))
    val samplesPerWrite = size.tags * size.perTag

    val writeLat, readLat = new Latencies
    val flushLat, noFlushLat = new Latencies // traced runs: writes split by L0 flush
    val ackedSamples, payloadBytes = new AtomicLong(0L)
    val acked = new java.util.concurrent.ConcurrentLinkedQueue[Acked]()
    val marked = new AtomicLong(0L)
    val compacted = new AtomicLong(0L)
    val l0Max = new AtomicLong(0L)
    val l0Last = new AtomicLong(0L)
    val timing = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lastFlushNs = new AtomicLong(0L) // when a write last saw the L0 count drop

    def l0Count(): Long = {
      val s = Files.list(l0Dir)
      try s.iterator.asScala.count(_.toString.endsWith(".parquet")).toLong finally s.close()
    }

    // Maintenance runs in the timed phase only, and its cycles end it:
    // every timed phase starts from the same store state (right after the
    // first L0 flush) and holds the same `cycles` purge + compaction cycles.
    // A cycle starts at least `cycleWrites` writes after the last one ended,
    // so the cycles after the first (the hot tier stays above the budget)
    // are spaced by work, not by thread timing.
    val maintaining = new java.util.concurrent.atomic.AtomicBoolean(false)
    val cyclesDone, sinceCycle = new java.util.concurrent.atomic.AtomicInteger(0)
    def maintain(hotBytes: Long): Unit =
      if (timing.get() && hotBytes > size.hotBudget && cyclesDone.get() < size.cycles &&
          sinceCycle.get() >= size.cycleWrites && maintaining.compareAndSet(false, true)) try {
        val ids = ctx.op("purgeScan")(store.purgeScan(1, size.purgeMax)).getOrElse(Nil)
        ctx.log(s"purge: hot=$hotBytes marked=${ids.size}")
        marked.addAndGet(ids.size)
        ids.foreach { id =>
          ctx.op("loadPurgeEntry")(store.loadPurgeEntry(id)).flatten.foreach { e =>
            if (ctx.op("archiveToCold")(store.archiveToCold(id)).isDefined &&
                ctx.op("purgeAck")(store.purgeAck(id, e.partitionName, e.tag)).isDefined)
              acked.add(Acked(e.tag, e.data.toSeq))
          }
        }
        // a scan that found no partition idle for its 1 s (the clients had
        // just left one) is no cycle: it is retried `cycleWrites` writes
        // later, so every timed phase holds the same purges
        if (ids.nonEmpty) {
          if (ctx.op("maintenanceDue")(store.maintenanceDue()).getOrElse(false))
            ctx.op("compact")(store.compact()).foreach { n =>
              ctx.log(s"compact: $n partitions")
              compacted.addAndGet(n)
            }
          cyclesDone.incrementAndGet()
        }
        sinceCycle.set(0)
      } finally maintaining.set(false)

    def loop(cl: Client): Unit = {
      ctx.tracer.newRequest()
      ctx.tracer.span("client.loop")(loopBody(cl))
    }

    def loopBody(cl: Client): Unit = {
      val i = cl.loop
      cl.loop += 1
      val fresh = cl.writerOf.isEmpty || cl.rnd.nextInt(8) != 0
      // upserts go to the first partition's windows: the partition purged
      // first, so an upsert may supersede a value already in cold
      val j = if (fresh) cl.writerOf.size else cl.rnd.nextInt(math.min(UpsertWindows, cl.writerOf.size))
      val batch = cl.batch(j, i)
      val t0 = System.nanoTime()
      val res = ctx.op("write")(store.write(batch))
      val wMs = (System.nanoTime() - t0) / 1e6
      val ack = if (res.isDefined) i else -1
      if (fresh) cl.writerOf += ack else cl.writerOf(j) = ack
      l0Last.synchronized {
        val n = l0Count()
        if (n < l0Last.get()) { lastFlushNs.set(System.nanoTime()); ctx.log(s"flush: L0 ${l0Last.get()} -> $n") }
        if (timing.get()) (if (n < l0Last.get()) flushLat else noFlushLat).add(wMs)
        l0Last.set(n)
        l0Max.accumulateAndGet(n, math.max)
      }
      if (timing.get() && res.isDefined) {
        sinceCycle.incrementAndGet()
        writeLat.add(wMs)
        ackedSamples.addAndGet(samplesPerWrite)
        payloadBytes.addAndGet(batch.iterator.map { case (tag, m) =>
          m.valuesIterator.map(v => tag.length + 8 + v.length).sum.toLong }.sum)
      }
      res.foreach(maintain)
      // point read of the freshest window: 1 tag, 20 ms around one sample
      val t = cl.rnd.nextInt(size.tags)
      val k = cl.rnd.nextInt(size.perTag)
      val ts = cl.ts(j, k)
      val r0 = System.nanoTime()
      val got = ctx.op("readData")(store.readData(Map(s"Tag$t" -> (ts - 10, ts + 10))))
      val rMs = (System.nanoTime() - r0) / 1e6
      got.foreach { g =>
        if (timing.get()) readLat.add(rMs)
        cl.expected(t, j, k).foreach(want => checkPoint(ctx, s"Tag$t", ts, g, want))
      }
    }

    def runClients(next: Client => Boolean): Unit = {
      val threads = clients.map { cl =>
        new Thread(() => while (next(cl)) loop(cl), s"client-${cl.c}")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    // ---- set-up: each maintenance call once on a scratch store, then
    // warm-up loops (JIT, caches) through the first L0 flush
    val scratch = new TimeSeriesStore(ctx.spark, ctx.work.resolve("serve_mix-warm").toString,
      StoreSettings(partitionWidth = PartitionWidth))
    ctx.op("initialize")(scratch.initialize())
    val warm = new Client(0, ctx.seed + 1, size)
    Seq(0, 1).foreach { i =>
      ctx.op("write")(scratch.write(warm.batch(0, i)))
      ctx.op("flushL0")(scratch.flushL0())
    }
    ctx.op("purgeScan")(scratch.purgeScan(1, 1))
    ctx.op("compact")(scratch.compact())
    runClients(cl => cl.loop < size.warmLoops || (lastFlushNs.get() == 0 && cl.loop < MaxWarmLoops))
    FooterCache.resetCounts()
    ctx.markSetupDone()

    // ---- timed phase: `cycles` maintenance cycles, and at least
    // --seconds (a time box alone cuts a cycle at a different point in
    // every run)
    val wchar0 = Proc.wcharBytes
    timing.set(true)
    val tStart = System.nanoTime()
    val deadline = tStart + (ctx.seconds * 1e9).toLong
    val cap = tStart + MaxTimedNs
    runClients { _ =>
      val now = System.nanoTime()
      (cyclesDone.get() < size.cycles || now < deadline) && now < cap
    }
    if (cyclesDone.get() < size.cycles) ctx.log(s"timed phase capped after ${cyclesDone.get()} cycles")
    val wallS = (System.nanoTime() - tStart) / 1e9
    timing.set(false)
    val wchar1 = Proc.wcharBytes

    val w = writeLat.ms
    val r = readLat.ms
    ctx.metric("write_p50_ms", Stats.median(w), "ms")
    ctx.metric("write_p90_ms", Stats.pct(w, 90), "ms")
    ctx.metric("write_p95_ms", Stats.pct(w, 95), "ms")
    ctx.metric("write_p99_ms", Stats.pct(w, 99), "ms")
    ctx.metric("write_count", w.size, "count")
    ctx.metric("ingest_samples_per_s", ackedSamples.get() / wallS, "samples/s")
    ctx.metric("read_p50_ms", Stats.median(r), "ms")
    ctx.metric("read_p99_ms", Stats.pct(r, 99), "ms")
    ctx.metric("read_count", r.size, "count")
    val storeBytes = Stats.treeBytes(ctx.work.resolve("serve_mix-store"))

    ctx.markTimedDone()

    // ---- correctness, outside the timed phase
    checkReadBack(ctx, store, clients, size)
    checkAckedOnce(ctx, store, clients, acked.asScala.toSeq)
    ctx.metric("bytes_per_user_byte", storeBytes.toDouble / math.max(1L, payloadBytes.get()), "ratio")

    if (ctx.trace) {
      val spans = ctx.tracer.all
      val timed = spans.filter(s => s.start >= tStart && s.end <= tStart + (wallS * 1e9).toLong)
      def named(n: String) = timed.filter(_.name == n)
      val writes = named("write")
      ctx.metric("tsdb.write.calls", writes.size, "count")
      ctx.metric("tsdb.write.busy_ms", writes.map(_.ms).sum, "ms")
      ctx.metric("tsdb.write.noflush_p50_ms", Stats.median(noFlushLat.ms), "ms")
      ctx.metric("tsdb.write.wchar_per_user_byte",
        (wchar1 - wchar0).toDouble / math.max(1L, payloadBytes.get()), "ratio")
      ctx.metric("tsdb.l0.files_max", l0Max.get().toDouble, "count")
      ctx.metric("tsdb.flush.count", flushLat.size, "count")
      ctx.metric("tsdb.flush.p50_ms", Stats.median(flushLat.ms), "ms")
      val serialized = timed.filter(s => MutationSpans(s.name))
      ctx.metric("tsdb.write.lock_wait_ms",
        (serialized.map(s => s.end - s.start).sum -
          Tracer.unionNs(serialized.map(s => (s.start, s.end)))) / 1e6, "ms")
      val reads = named("readData")
      ctx.metric("tsdb.read.calls", reads.size, "count")
      ctx.metric("tsdb.read.busy_ms", reads.map(_.ms).sum, "ms")
      // every serve_mix read follows a write: the serving index is rebuilt
      ctx.metric("tsdb.read.after_mutation_p50_ms", Stats.median(r), "ms")
      val (fh, fm) = FooterCache.counts
      ctx.metric("tsdb.footer_cache.hits", fh.toDouble, "count")
      ctx.metric("tsdb.footer_cache.misses", fm.toDouble, "count")
      ctx.metric("tsdb.footer_cache.hit_ratio", fh.toDouble / math.max(1L, fh + fm), "ratio")
      val scans = named("purgeScan")
      ctx.metric("tsdb.purge_scan.calls", scans.size, "count")
      ctx.metric("tsdb.purge_scan.p50_ms", Stats.median(scans.map(_.ms)), "ms")
      ctx.probe.foreach(p => ctx.metric("tsdb.purge_scan.spark_jobs", p.forSpan("purgeScan")("jobs").toDouble, "count"))
      ctx.metric("tsdb.purge.marked", marked.get().toDouble, "count")
      ctx.metric("tsdb.purge.load_p50_ms", Stats.median(named("loadPurgeEntry").map(_.ms)), "ms")
      ctx.metric("tsdb.purge.archive_p50_ms", Stats.median(named("archiveToCold").map(_.ms)), "ms")
      ctx.metric("tsdb.purge.ack_p50_ms", Stats.median(named("purgeAck").map(_.ms)), "ms")
      ctx.metric("tsdb.purge.backlog_end", store.pendingPurgeEntries().size.toDouble, "count")
      val compacts = named("compact")
      ctx.metric("tsdb.compact.calls", compacts.size, "count")
      ctx.metric("tsdb.compact.p50_ms", Stats.median(compacts.map(_.ms)), "ms")
      ctx.metric("tsdb.compact.partitions", compacted.get().toDouble, "count")
      ctx.probe.foreach(p => ctx.metric("tsdb.compact.spark_jobs", p.forSpan("compact")("jobs").toDouble, "count"))
      val maint = timed.filter(s => MaintenanceSpans(s.name))
      ctx.metric("tsdb.maintenance.busy_ms", maint.map(_.ms).sum, "ms")
      val maintIv = maint.map(s => (s.start, s.end))
      ctx.metric("tsdb.write.p99_during_maintenance_ms", Stats.pct(writes.filter(wr =>
        maintIv.exists { case (s, e) => wr.start < e && wr.end > s }).map(_.ms), 99), "ms")
      ctx.metric("tsdb.hot_bytes_end", store.hotBytes.toDouble, "bytes")
      ctx.metric("tsdb.files_live_end",
        Seq("l0", "hot", "cold").map(d => Stats.treeFiles(Paths.get(store.namespaceRoot, d), ".parquet")).sum.toDouble, "count")
      ctx.probe.foreach { p =>
        ctx.metric("tsdb.read.spark_jobs", p.forSpan("readData")("jobs").toDouble, "count")
        val withJobs = p.spanIdsWithJobs
        ctx.metric("tsdb.read.fallback_ratio",
          reads.count(s => withJobs(s.id)).toDouble / math.max(1, reads.size), "ratio")
      }
    }
  }

  /** One point read's answer against the model value. */
  def checkPoint(ctx: Ctx, tag: String, ts: Long,
      got: Map[String, scala.collection.SortedMap[Long, String]], want: String): Unit = {
    val w = if (ctx.plantWrong) want + "-planted" else want
    val g = got.get(tag).map(_.toSeq)
    if (g != Some(Seq(ts -> w))) ctx.wrongAnswer(s"read $tag@$ts: got $g, want $w")
  }

  /** Reads back a seeded sample of acknowledged (tag, ts) across L0, hot
    * and cold and compares each with the model.
    */
  private def checkReadBack(ctx: Ctx, store: TimeSeriesStore, clients: Seq[Client],
      size: Size): Unit = {
    val rnd = new java.util.Random(ctx.seed ^ 0x5eedL)
    (0 until size.checkReads).foreach { _ =>
      val cl = clients(rnd.nextInt(clients.size))
      if (cl.writerOf.nonEmpty) {
        val j = rnd.nextInt(cl.writerOf.size)
        val t = rnd.nextInt(size.tags)
        val k = rnd.nextInt(size.perTag)
        cl.expected(t, j, k).foreach { want =>
          val ts = cl.ts(j, k)
          ctx.op("check.readData")(store.readData(Map(s"Tag$t" -> (ts - 10, ts + 10))))
            .foreach(g => checkPoint(ctx, s"Tag$t", ts, g, want))
        }
      }
    }
  }

  /** Every row of every acknowledged purge entry appears in hot ∪ cold
    * exactly once if it is still the model's winner, at most once if a
    * later write superseded it.
    */
  private def checkAckedOnce(ctx: Ctx, store: TimeSeriesStore, clients: Seq[Client],
      acked: Seq[Acked]): Unit = if (acked.nonEmpty) {
    val spark = ctx.spark
    import spark.implicits._
    val Value = """t(\d+)-c(\d+)-w(\d+)-k(\d+)-u(\d+)""".r
    val expected = acked.flatMap { a =>
      a.rows.map { case (ts, v) =>
        val winner = v match {
          case Value(t, c, j, k, _) => clients(c.toInt).expected(t.toInt, j.toInt, k.toInt).contains(v)
          case _ => false
        }
        (a.tag, ts, v, winner)
      }
    }.toDF("tag", "ts", "value", "winner")
    val tiers = store.hotDF.select("tag", "ts", "value")
      .unionByName(store.coldDF.select("tag", "ts", "value"))
      .groupBy("tag", "ts", "value").agg(count(lit(1)).as("n"))
    val bad = expected.join(tiers, Seq("tag", "ts", "value"), "left")
      .na.fill(0L, Seq("n"))
      .where((col("winner") && col("n") =!= 1) || col("n") > 1)
      .limit(5).collect()
    bad.foreach(r => ctx.wrongAnswer(s"acked purge row ${r.mkString(",")} not exactly once in hot+cold"))
  }
}
