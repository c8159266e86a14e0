package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.analytics.DriverBudget
import graft.tsdb.{StoreSettings, TimeSeriesStore}

/** Registry rows over seeded tables, run in one SparkSession in a fixed
  * order. Set-up runs the rows once and writes each row's result as
  * parquet (the correctness dump `run.py` compares with the DuckDB
  * oracles); this also stages every session-cached fixture. It then
  * ingests the events through the store's bulk lane, as the store-backed
  * rows' staging does, and reads them back; one untimed pass follows.
  * Timed passes then repeat the rows, each row `fn(spark, dir).count()`
  * followed by `clearCache()`, until `--seconds` is spent (every row runs
  * at least once). A row's time is its median over its runs.
  *
  * Two row sets: [[Core]] (workload `analytics`) and the 17-row slice
  * [[Rows]] (workload `analytics_full`, minutes per run).
  */
object Analytics {
  val TsRows = Seq("ts_lww_dedup", "ts_store_pruned_scan", "ts_dsv2_pruned_scan",
    "ts_change_feed", "ts_time_travel", "ts_asof_join", "ts_asof_native", "ts_asof_nearest")
  val PipelineRows = Seq("sim_graph_layered", "sim_graph_multilevel", "st_graph_add",
    "st_hybrid_search", "sim_nndescent", "tx_bpe_train_scaled", "dd_semdedup",
    "dd_ngram_jaccard", "gr_components_star")
  val Rows: Seq[String] = TsRows ++ PipelineRows

  /** The store-backed sources (the bulk-lane store read through its Hive
    * layout and through the DSv2 connector), the as-of join operator, a
    * k-means pipeline whose collects go through `DriverBudget`, and a
    * connected-components pipeline whose rounds hold `CheckpointLease`s.
    */
  val Core: Seq[String] = Seq("ts_store_pruned_scan", "ts_dsv2_pruned_scan", "ts_asof_join",
    "dd_semdedup", "gr_components_star")

  def run(ctx: Ctx, rows: Seq[String]): Unit = {
    val spark = ctx.spark
    val dir = ctx.data.getOrElse(throw new IllegalArgumentException("analytics needs --data")).toString
    val queries = SparkEntry.queries
    val results = ctx.work.resolve("results")

    // ---- set-up: staging + correctness dump
    rows.foreach { row =>
      ctx.op(s"stage.$row") {
        val df = queries(row)(spark, dir)
        // the planted wrong answer: one duplicated row in the first result
        val out = if (ctx.plantWrong && row == rows.head) df.union(df.limit(1)) else df
        out.coalesce(1).write.mode("overwrite").parquet(results.resolve(row).toString)
      }
      spark.catalog.clearCache()
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => rows.contains(k) }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    ctx.writeFile("results/oracle_sql.json",
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    ctx.writeFile("results/rows.txt", rows.mkString("\n"))
    // the bulk lane: the store-backed rows stage their store through it
    // inside the queries, out of the benchmark's reach, so the benchmark
    // makes the same call on a store of its own to time it (after the
    // staging, so Spark's first-job costs stay out of it)
    val events = Tables.events(spark, dir)
    val bulkStore = new TimeSeriesStore(spark, ctx.work.resolve("bulk-store").toString,
      StoreSettings(partitionWidth = Tables.EventPartitionWidthMs))
    ctx.op("initialize")(bulkStore.initialize())
    ctx.op("writeSamplesDistributed")(bulkStore.writeSamplesDistributed(events.select(
      col("event_type").as("tag"), col("ts_ms").as("ts"), col("value").cast("string").as("value"),
      lit(0L).as("ingestTs"), lit("bulk").as("writerId"), col("event_id").as("seq"))))
    // every (tag, ts) reads back as its last write: the highest event_id
    val want = events.select(col("event_type"), col("ts_ms"), col("value").cast("string"),
        col("event_id")).collect().toSeq
      .groupBy(r => (r.getString(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.maxBy(_.getLong(3)).getString(2) }
    want.groupBy(_._1._1).foreach { case (tag, kv) =>
      val ts = kv.keys.map(_._2)
      ctx.op("readData")(bulkStore.readData(Map(tag -> (ts.min, ts.max)))).foreach { got =>
        val exp = kv.map { case ((_, t), v) => t -> (if (ctx.plantWrong) v + "-planted" else v) }
        val g = got.getOrElse(tag, Map.empty[Long, String])
        if (g != exp) ctx.wrongAnswer(s"bulk-lane read-back of $tag: ${g.size} of ${exp.size} rows, " +
          s"${exp.count { case (t, v) => g.get(t).contains(v) }} equal")
      }
    }

    // one untimed pass: the first run of a row after staging is still
    // ~10% slower (JIT, Spark's generated code)
    rows.foreach { row =>
      ctx.op(s"warm.$row")(queries(row)(spark, dir).count())
      spark.catalog.clearCache()
    }
    ctx.markSetupDone()

    // ---- timed passes
    val times = scala.collection.mutable.LinkedHashMap(rows.map(_ -> Vector.empty[Double]): _*)
    val rddDelta = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    // DriverBudget's (admitted collects, fallbacks) per row
    val budget = scala.collection.mutable.HashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    val tStart = System.nanoTime()
    val deadline = tStart + (ctx.seconds * 1e9).toLong
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadline) {
      rows.iterator.takeWhile(_ => passes == 0 || System.nanoTime() < deadline).foreach { row =>
        val before = ctx.probe.map(_.rddBlocks())
        val (c0, f0) = DriverBudget.branchCounts
        val t0 = System.nanoTime()
        ctx.op(s"q.$row")(queries(row)(spark, dir).count()).foreach { _ =>
          times(row) :+= (System.nanoTime() - t0) / 1e9
        }
        for (p <- ctx.probe; b <- before) rddDelta(row) += p.rddBlocks() - b
        val (c1, f1) = DriverBudget.branchCounts
        budget(row) = (budget(row)._1 + c1 - c0, budget(row)._2 + f1 - f0)
        spark.catalog.clearCache()
      }
      passes += 1
    }
    val wallS = (System.nanoTime() - tStart) / 1e9
    ctx.markTimedDone()
    val rowS = times.map { case (k, v) => k -> Stats.median(v) }
    ctx.metric("query_ts_s", rows.filter(_.startsWith("ts_")).map(rowS).sum, "s")
    ctx.metric("query_pipeline_s", rows.filterNot(_.startsWith("ts_")).map(rowS).sum, "s")
    ctx.metric("passes", times.values.map(_.size).sum.toDouble / rows.size, "count")
    // one pass of the rows at each row's median time
    ctx.metric("rows_per_s", rows.size / rowS.values.sum, "1/s")
    val all = times.values.flatten.toSeq.map(_ * 1000)
    ctx.metric("row_p50_ms", Stats.median(all), "ms")
    ctx.metric("row_max_ms", rowS.values.max * 1000, "ms")
    ctx.metric("timed_s", wallS, "s")

    // the staged bulk-lane store (ts_store_pruned_scan's) against the
    // payload bytes of the events it holds
    val staged = Files.list(ctx.work.resolve("tmp"))
    val storeBytes = try staged.iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft-storeq")).map(Stats.treeBytes).sum
    finally staged.close()
    val payload = Tables.events(spark, dir)
      .select(sum(length(col("event_type")) + 8 + length(col("value").cast("string"))))
      .head().getLong(0)
    ctx.metric("bytes_per_user_byte", storeBytes.toDouble / payload, "ratio")

    if (ctx.trace) {
      rows.foreach(r => ctx.metric(s"q.$r.s", rowS(r), "s"))
      ctx.probe.foreach { p =>
        rows.foreach { r =>
          val (c, n) = (p.forSpan(s"q.$r"), math.max(1, times(r).size))
          ctx.metric(s"q.$r.jobs", c("jobs").toDouble / n, "count")
          ctx.metric(s"q.$r.tasks", c("tasks").toDouble / n, "count")
          ctx.metric(s"q.$r.rdd_blocks_delta", rddDelta(r).toDouble / n, "count")
        }
      }
      // per pass: driver-side collects DriverBudget admitted, and the
      // ones it sent to the distributed fallback
      def perPass(f: ((Long, Long)) => Long) =
        rows.map(r => f(budget(r)).toDouble / math.max(1, times(r).size)).sum
      ctx.metric("analytics.driver_budget.collects", perPass(_._1), "count")
      ctx.metric("analytics.driver_budget.fallbacks", perPass(_._2), "count")
      ctx.metric("tsdb.bulk.s",
        ctx.tracer.all.filter(_.name == "writeSamplesDistributed").map(_.ms).sum / 1000, "s")
      ctx.probe.foreach(p => ctx.metric("tsdb.bulk.spark_tasks",
        p.forSpan("writeSamplesDistributed")("tasks").toDouble, "count"))
    }
  }
}
