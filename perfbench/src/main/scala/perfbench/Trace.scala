package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `name` is the layer boundary the benchmark crossed,
  * `parent` the span that was open on the same thread when it started
  * (0 = none), `req` the client request it belongs to. Times are
  * `System.nanoTime` readings.
  */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    thread: Long, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spans recorded around every public call the benchmark makes. Spans stay
  * in memory until [[dump]]. With `enabled = false` [[span]] is a plain
  * call, so untraced runs pay nothing for it.
  *
  * While a span is open its name is the calling thread's Spark local
  * property `perfbench.span`, so Spark jobs submitted inside it carry the
  * layer name into [[SparkProbe]].
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val open = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val req = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val reqIds = new AtomicLong(0L)

  /** Starts a new request id on this thread (one client loop iteration). */
  def newRequest(): Unit = if (enabled) req.set(reqIds.incrementAndGet())

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.fold(0L)(_._1)
      open.set((id, name) :: stack)
      sc.setLocalProperty(SparkProbe.SpanProperty, name)
      sc.setLocalProperty(SparkProbe.SpanIdProperty, id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, req.get(), name, Thread.currentThread().getId, t0, t1))
        open.set(stack)
        sc.setLocalProperty(SparkProbe.SpanProperty, stack.headOption.map(_._2).orNull)
        sc.setLocalProperty(SparkProbe.SpanIdProperty, stack.headOption.map(_._1.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Self time per span name: duration minus the union of its children. */
  def selfMs: Map[String, Double] = {
    val s = all
    val children = s.groupBy(_.parent)
    s.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { p =>
        val covered = Tracer.unionNs(children.getOrElse(p.id, Nil).map(c => (c.start, c.end)))
        (p.end - p.start - covered) / 1e6
      }.sum
    }
  }

  /** Writes every span as one JSON line. */
  def dump(file: Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""")
        .append(s""""thread":${s.thread},"start_ns":${s.start},"end_ns":${s.end}}""").append('\n')
    }
    Files.createDirectories(file.getParent)
    Files.write(file, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters from a listener the benchmark registers. Jobs,
  * stages and tasks are attributed to the span that submitted them through
  * the `perfbench.span` local property; everything is also counted in
  * total.
  */
final class SparkProbe(sc: SparkContext) extends SparkListener {
  final class Counters {
    val jobs, stages, tasks, shuffleRead, shuffleWrite, spill, gcMs = new LongAdder
    def snapshot: Map[String, Long] = Map(
      "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "shuffle_read_bytes" -> shuffleRead.sum, "shuffle_write_bytes" -> shuffleWrite.sum,
      "spill_bytes" -> spill.sum, "executor_gc_ms" -> gcMs.sum)
  }
  val total = new Counters
  private val bySpan = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val rddBlocksMax = new AtomicLong(0L)
  private val jobsBySpanId = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()

  /** Spans (by id) that submitted at least one Spark job. */
  def spanIdsWithJobs: Set[Long] = jobsBySpanId.keySet.asScala.toSet

  private def of(span: String): Option[Counters] =
    Option(span).map(s => bySpan.computeIfAbsent(s, _ => new Counters))

  def forSpan(name: String): Map[String, Long] =
    Option(bySpan.get(name)).fold(new Counters().snapshot)(_.snapshot)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SparkProbe.SpanProperty)).orNull
    total.jobs.increment(); of(span).foreach(_.jobs.increment())
    if (span != null) e.stageIds.foreach(id => stageSpan.put(id, span))
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.SpanIdProperty)))
      .foreach(id => jobsBySpanId.merge(id.toLong, 1L, (a, b) => a + b))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.increment()
    of(stageSpan.get(e.stageInfo.stageId)).foreach(_.stages.increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val cs = Seq(total) ++ of(span)
    val m = e.taskMetrics
    cs.foreach { c =>
      c.tasks.increment()
      if (m != null) {
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.add(m.jvmGCTime)
      }
    }
  }

  /** Live cached/checkpointed RDD blocks right now; also tracks the max. */
  def rddBlocks(): Long = {
    val n = sc.getRDDStorageInfo.iterator.map(_.numCachedPartitions.toLong).sum
    rddBlocksMax.accumulateAndGet(n, math.max)
    n
  }
  def rddBlocksMaxSeen: Long = rddBlocksMax.get()
}

object SparkProbe {
  val SpanProperty = "perfbench.span"
  val SpanIdProperty = "perfbench.spanId"
}

/** Process-level readings from /proc and the JVM's management beans. */
object Proc {
  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Path.of(file)).asScala
      .find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  def rcharBytes: Long = procField("/proc/self/io", "rchar:")
  def wcharBytes: Long = procField("/proc/self/io", "wchar:")

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** (collections, milliseconds) over all of the JVM's collectors. */
  def gc: (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { case ((c, t), b) =>
      (c + math.max(0L, b.getCollectionCount), t + math.max(0L, b.getCollectionTime))
    }
}
