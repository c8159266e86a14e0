package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.tsdb.{FooterCache, StoreSettings, TimeSeriesStore}

/** Read-only load over a store built from the seed in set-up.
  *
  * The bulk lane (`writeSamplesDistributed`) fills the hot tier with
  * `tags x partitions` partition files of `rows` samples each; the oldest
  * partitions are purged to cold; a tail of L0 batches (each an upsert of
  * one partition window for half the tags) stays unflushed. Then the
  * client threads read closed-loop: mostly 1-tag/20 ms point reads, one in
  * ten a 1-tag read of one partition's width straddling two partitions.
  * Every answer is compared with the generator's model.
  */
object ReadLarge {
  final case class Size(tags: Int, partitions: Int, rows: Int, purge: Int, l0Batches: Int,
      warmReads: Int)

  /** 1,792 partition files of 2,000 rows: the rows' point-index estimate
    * (~0.39 GB) is 3.1x ParquetIO's 128 MiB point-cache budget.
    */
  val Full = Size(tags = 28, partitions = 64, rows = 2000, purge = 32, l0Batches = 32,
    warmReads = 1200)
  val Tiny = Size(tags = 8, partitions = 10, rows = 5, purge = 4, l0Batches = 3,
    warmReads = 100)
  val PartitionWidth = 120000L

  def run(ctx: Ctx): Unit = {
    val size = if (ctx.tiny) Tiny else Full
    val spark = ctx.spark
    val root = ctx.work.resolve("read_large-store")
    val store = new TimeSeriesStore(spark, root.toString,
      StoreSettings(partitionWidth = PartitionWidth))
    ctx.op("initialize")(store.initialize())
    val base = (1600000000000L / PartitionWidth + ctx.seed % 1000) * PartitionWidth
    val step = PartitionWidth / size.rows
    // fixed width: the payload bytes per sample do not depend on the seed
    val sid = "%06d".format(math.floorMod(ctx.seed, 1000000L))
    def tag(t: Int) = s"T${t}s$sid"
    def ts(p: Int, r: Int) = base + p * PartitionWidth + r * step
    def bulkValue(tg: String, ts: Long) = s"$tg@$ts#$sid"

    // ---- bulk lane: tags x partitions x rows, one file per partition
    val perTag = size.partitions.toLong * size.rows
    val bulk = spark.range(size.tags * perTag)
      .select(
        concat(lit("T"), (col("id") / perTag).cast("long"), lit(s"s$sid")).as("tag"),
        (lit(base) + ((col("id") / size.rows).cast("long") % size.partitions) * PartitionWidth +
          (col("id") % size.rows) * step).as("ts"),
        col("id").as("seq"))
      .select(col("tag"), col("ts"),
        concat(col("tag"), lit("@"), col("ts"), lit(s"#$sid")).as("value"),
        lit(1000L).as("ingestTs"), lit("bulk").as("writerId"), col("seq"))
    ctx.op("writeSamplesDistributed")(store.writeSamplesDistributed(bulk))

    // ---- tiering: the oldest partitions move to cold
    val ids = ctx.op("purgeScan")(store.purgeScan(1, size.purge)).getOrElse(Nil)
    ids.foreach { id =>
      ctx.op("loadPurgeEntry")(store.loadPurgeEntry(id)).flatten.foreach { e =>
        ctx.op("archiveToCold")(store.archiveToCold(id))
        ctx.op("purgeAck")(store.purgeAck(id, e.partitionName, e.tag))
      }
    }

    // ---- unflushed L0 tail: each batch (2,000 samples at most) upserts a
    // run of rows of one partition window for half the tags
    val upserts = scala.collection.mutable.HashMap.empty[(String, Long), String]
    val rnd = new java.util.Random(ctx.seed)
    var payload = size.tags * perTag * (tag(0).length + 8 + bulkValue(tag(0), base).length)
    val batchTags = math.max(1, size.tags / 2)
    val batchRows = math.min(size.rows, 2000 / batchTags)
    (0 until size.l0Batches).foreach { i =>
      val p = rnd.nextInt(size.partitions)
      val r0 = rnd.nextInt(size.rows - batchRows + 1)
      val tags = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until size.tags).toList)
        .take(batchTags)
      val batch = tags.map { t =>
        tag(t) -> (r0 until r0 + batchRows).map(r => ts(p, r) -> s"${tag(t)}@${ts(p, r)}#u$i").toMap
      }.toMap
      if (ctx.op("write")(store.write(batch)).isDefined) {
        batch.foreach { case (tg, m) =>
          m.foreach { case (k, v) => upserts((tg, k)) = v; payload += tg.length + 8 + v.length }
        }
      }
    }
    def expected(tg: String, k: Long): String = {
      val v = upserts.getOrElse((tg, k), bulkValue(tg, k))
      if (ctx.plantWrong) v + "-planted" else v
    }

    val pointLat, rangeLat = new Latencies
    val pointDone = new java.util.concurrent.ConcurrentLinkedQueue[Long]() // completion times
    val timing = new java.util.concurrent.atomic.AtomicBoolean(false)

    def read(rnd: java.util.Random): Unit = {
      val tg = tag(rnd.nextInt(size.tags))
      if (rnd.nextInt(10) != 0) {
        val k = ts(rnd.nextInt(size.partitions), rnd.nextInt(size.rows))
        val t0 = System.nanoTime()
        ctx.op("readData")(store.readData(Map(tg -> (k - 10, k + 10)))).foreach { got =>
          if (timing.get()) {
            val t1 = System.nanoTime()
            pointLat.add((t1 - t0) / 1e6)
            pointDone.add(t1)
          }
          val g = got.get(tg).map(_.toSeq)
          if (g != Some(Seq(k -> expected(tg, k))))
            ctx.wrongAnswer(s"point read $tg@$k: got $g")
        }
      } else {
        val p = rnd.nextInt(size.partitions - 1)
        val (s, e) = (ts(p, size.rows / 2), ts(p + 1, size.rows / 2) - 1)
        val t0 = System.nanoTime()
        ctx.op("readData.range")(store.readData(Map(tg -> (s, e)))).foreach { got =>
          if (timing.get()) rangeLat.add((System.nanoTime() - t0) / 1e6)
          val want = ((size.rows / 2 until size.rows).map(r => ts(p, r)) ++
            (0 until size.rows / 2).map(r => ts(p + 1, r))).map(k => k -> expected(tg, k))
          val g = got.get(tg).map(_.toSeq)
          if (g != Some(want)) ctx.wrongAnswer(s"range read $tg [$s, $e]: ${g.map(_.size)} rows")
        }
      }
    }

    // `stream` keeps the timed reads from replaying the warm-up's (which
    // the cache would then answer)
    def runReaders(stream: Int, perThread: Option[Int], deadline: Long): Unit = {
      val threads = (0 until ctx.clients).map { c =>
        new Thread(() => {
          val rnd = new java.util.Random(ctx.seed * 7919L + stream * 64 + c)
          var n = 0
          while (perThread.fold(System.nanoTime() < deadline)(n < _)) { read(rnd); n += 1 }
        }, s"reader-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    // warm-up: serving index build, JIT, and the point cache filled to its
    // budget (~580 of the 1,824 files), so the timed reads run at the
    // steady miss rate and eviction churn
    runReaders(0, Some(size.warmReads / ctx.clients), 0L)
    FooterCache.resetCounts()
    ctx.markSetupDone()

    val rchar0 = Proc.rcharBytes
    timing.set(true)
    val tStart = System.nanoTime()
    runReaders(1, None, tStart + (ctx.seconds * 1e9).toLong)
    val wallS = (System.nanoTime() - tStart) / 1e9
    timing.set(false)
    val rchar1 = Proc.rcharBytes
    ctx.markTimedDone()

    val pt = pointLat.ms
    val rg = rangeLat.ms
    ctx.metric("read_p50_ms", Stats.median(pt), "ms")
    ctx.metric("read_p99_ms", Stats.pct(pt, 99), "ms")
    ctx.metric("read_count", pt.size, "count")
    // completions per second of the timed phase, for the run's log: the
    // host's speed and the collector's cycles move single seconds by a
    // quarter, which the rate over the whole phase averages out
    val perSecond = pointDone.asScala.toSeq.groupBy(t => (t - tStart) / 1000000000L)
    ctx.log((0L until wallS.toLong).map(w => perSecond.get(w).fold(0)(_.size))
      .mkString("point reads per second: ", " ", ""))
    ctx.metric("point_reads_per_s", pt.size / wallS, "reads/s")
    ctx.metric("range_read_p50_ms", Stats.median(rg), "ms")
    ctx.metric("range_read_p99_ms", Stats.pct(rg, 99), "ms")
    ctx.metric("range_read_count", rg.size, "count")
    ctx.metric("bytes_per_user_byte", Stats.treeBytes(root).toDouble / payload, "ratio")

    if (ctx.trace) {
      val spans = ctx.tracer.all
      val reads = spans.filter(s => s.start >= tStart && (s.name == "readData" || s.name == "readData.range"))
      ctx.metric("tsdb.read.calls", reads.size, "count")
      ctx.metric("tsdb.read.busy_ms", reads.map(_.ms).sum, "ms")
      ctx.metric("tsdb.read.steady_p50_ms", Stats.median(pt), "ms")
      ctx.metric("tsdb.read.rchar_per_read", (rchar1 - rchar0).toDouble / math.max(1, reads.size), "bytes")
      val (fh, fm) = FooterCache.counts
      ctx.metric("tsdb.footer_cache.hits", fh.toDouble, "count")
      ctx.metric("tsdb.footer_cache.misses", fm.toDouble, "count")
      ctx.metric("tsdb.footer_cache.hit_ratio", fh.toDouble / math.max(1L, fh + fm), "ratio")
      ctx.metric("tsdb.bulk.s", spans.filter(_.name == "writeSamplesDistributed").map(_.ms).sum / 1000, "s")
      ctx.metric("tsdb.files_live_end",
        Seq("l0", "hot", "cold").map(d => Stats.treeFiles(Paths.get(store.namespaceRoot, d), ".parquet")).sum.toDouble, "count")
      ctx.probe.foreach { p =>
        ctx.metric("tsdb.bulk.spark_tasks", p.forSpan("writeSamplesDistributed")("tasks").toDouble, "count")
        ctx.metric("tsdb.read.spark_jobs",
          (p.forSpan("readData")("jobs") + p.forSpan("readData.range")("jobs")).toDouble, "count")
        val withJobs = p.spanIdsWithJobs
        ctx.metric("tsdb.read.fallback_ratio",
          reads.count(s => withJobs(s.id)).toDouble / math.max(1, reads.size), "ratio")
      }
    }
  }
}
