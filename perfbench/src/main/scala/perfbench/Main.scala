package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark runner: one workload per JVM.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload serve_mix --seed 1 \
  *   --seconds 10 --trace 0 --work <dir> [--data <dir>] [--size tiny|full]
  *   [--plant-wrong 1] [--t0-ms <epoch ms the launcher started>]
  * }}}
  *
  * Prints `PERFBENCH_RESULT {json}` as its last line: every metric by name
  * with its unit, the op counts and the correctness verdict. `perfbench/run.py`
  * builds the runner, launches it and turns that line into the benchmark's
  * result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val t0Ms = args.get("t0-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val cpus = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = args.getOrElse("trace", "0") == "1"
    val ctx = new Ctx(spark, workload, args("seed").toLong, args("seconds").toDouble,
      trace, work, args.get("data").map(Paths.get(_)), args.getOrElse("size", "full") == "tiny",
      args.getOrElse("plant-wrong", "0") == "1", t0Ms, cpus)
    try {
      workload match {
        case "serve_mix" => ServeMix.run(ctx)
        case "read_large" => ReadLarge.run(ctx)
        case "analytics" => Analytics.run(ctx, Analytics.Core)
        case "analytics_full" => Analytics.run(ctx, Analytics.Rows)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finish()
    } finally spark.stop()
    if (trace) ctx.tracer.dump(work.resolve("spans.jsonl"))
    println("PERFBENCH_RESULT " + ctx.resultJson)
  }
}

/** Everything one run shares: the session, the tracer, the metric sheet,
  * op/failure accounting and the correctness verdict.
  */
final class Ctx(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: Path,
    val data: Option[Path],
    val tiny: Boolean,
    val plantWrong: Boolean,
    val t0Ms: Long,
    val cpus: Int) {
  val tracer = new Tracer(trace, spark.sparkContext)
  val probe: Option[SparkProbe] =
    if (trace) {
      val p = new SparkProbe(spark.sparkContext)
      spark.sparkContext.addSparkListener(p)
      Some(p)
    } else None

  /** Client threads: at most the host's cores. */
  val clients: Int = math.max(1, math.min(4, cpus))

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  def metric(name: String, value: Double, unit: String): Unit =
    metrics.synchronized(metrics(name) = (value, unit))

  // ------------------------------------------------------------ op accounting

  private val attemptedN = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failedN = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failures = new ConcurrentLinkedQueue[String]()
  private val wrong = new ConcurrentLinkedQueue[String]()

  /** Runs one public call as a counted op. A throw is logged with its
    * exception class and first message line and counted as failed; the
    * op then has no latency sample (it missed every limit).
    */
  def op[A](name: String)(f: => A): Option[A] = {
    attemptedN.incrementAndGet()
    try Some(tracer.span(name)(f))
    catch {
      case e: Throwable =>
        failedN.incrementAndGet()
        val line = Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")
        if (failures.size < 50) failures.add(s"$name: ${e.getClass.getName}: $line")
        None
    }
  }

  /** Progress line on stderr (the launcher keeps it in the run's log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1fs] $msg")

  /** A wrong answer: fails the run's correctness check. */
  def wrongAnswer(msg: String): Unit = if (wrong.size < 50) wrong.add(msg)

  /** The end of set-up: the next op is the first timed one. */
  def markSetupDone(): Unit = {
    metric("setup_s", (System.currentTimeMillis() - t0Ms) / 1000.0, "s")
    log("set-up done")
  }

  /** The end of the timed phase, before the correctness checks: records
    * `live_heap_mb`, the heap and non-heap memory in use after a full
    * collection, while everything the workload built is still reachable.
    * Spark's cleaner drops the blocks (task binaries, broadcasts) of
    * collected RDDs only after a collection has found them unreachable, so
    * a second collection follows once it has run.
    */
  def markTimedDone(): Unit = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    val (heap, nonHeap) = (mem.getHeapMemoryUsage.getUsed, mem.getNonHeapMemoryUsage.getUsed)
    metric("live_heap_mb", (heap + nonHeap) / 1048576.0, "MB")
    metric("live_heap.heap_mb", heap / 1048576.0, "MB")
    metric("live_heap.non_heap_mb", nonHeap / 1048576.0, "MB")
    log("timed phase done")
  }

  private val (gc0, cpu0) = (Proc.gc, Proc.cpuSeconds)

  def finish(): Unit = {
    log("workload done")
    metric("peak_rss_mb", Proc.peakRssMb, "MB")
    val a = attemptedN.get()
    metric("error_rate", if (a == 0) 0.0 else failedN.get().toDouble / a, "ratio")
    if (trace) {
      val (gcN, gcMs) = Proc.gc
      metric("jvm.gc_ms", (gcMs - gc0._2).toDouble, "ms")
      metric("jvm.gc_count", (gcN - gc0._1).toDouble, "count")
      metric("proc.cpu_s", Proc.cpuSeconds - cpu0, "s")
      metric("proc.rchar_bytes", Proc.rcharBytes.toDouble, "bytes")
      metric("proc.wchar_bytes", Proc.wcharBytes.toDouble, "bytes")
      val spans = tracer.all.groupBy(_.name)
      tracer.selfMs.foreach { case (name, ms) =>
        metric(s"span.$name.count", spans(name).size.toDouble, "count")
        metric(s"span.$name.self_ms", ms, "ms")
      }
      probe.foreach { p =>
        val t = p.total.snapshot
        Seq("jobs", "stages", "tasks").foreach(k => metric(s"spark.$k", t(k).toDouble, "count"))
        Seq("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
          .foreach(k => metric(s"spark.$k", t(k).toDouble, "bytes"))
        metric("spark.executor_gc_ms", t("executor_gc_ms").toDouble, "ms")
        metric("spark.rdd_blocks_end", p.rddBlocks().toDouble, "count")
        metric("spark.rdd_blocks_max", p.rddBlocksMaxSeen.toDouble, "count")
      }
    }
  }

  def resultJson: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val ms = metrics.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
    s"""{"workload":${str(workload)},"seed":$seed,"trace":$trace,""" +
      s""""attempted":${attemptedN.get()},"failed":${failedN.get()},""" +
      s""""correct":${wrong.isEmpty},"wrong":${wrong.asScala.map(str).mkString("[", ",", "]")},""" +
      s""""failures":${failures.asScala.map(str).mkString("[", ",", "]")},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
  }

  def writeFile(rel: String, content: String): Unit = {
    val f = work.resolve(rel)
    Files.createDirectories(f.getParent)
    Files.write(f, content.getBytes(StandardCharsets.UTF_8))
  }
}

/** Latency samples, in milliseconds, of one op kind. */
final class Latencies {
  private val q = new ConcurrentLinkedQueue[Double]()
  def add(ms: Double): Unit = q.add(ms)
  def ms: Seq[Double] = q.asScala.toSeq
  def size: Int = q.size
}

object Stats {
  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def treeFiles(dir: Path, suffix: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.count(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toLong
      finally s.close()
    }
}
