package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `samples` are the latencies of the
  * workload's unit operation in milliseconds (a day, a block's
  * freshness, a query pass); `throughput` counts its work items per
  * second. */
final case class Outcome(attempted: Long, failed: Long, checksOk: Boolean,
    samples: Seq[Double], throughput: Double, setupS: Double,
    layers: Map[String, Double])

/** Everything a workload needs: the session, the tracer, a private work
  * directory inside the checkout, the seed and the run length. */
final class Env(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seed: Long, val seconds: Int,
    val sessionStartS: Double) {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }
  /** Median of `n` repetitions of a set-up step, each into its own
    * directory; returns the first repetition's result. */
  def setupMedian[T](n: Int)(step: Int => T): (T, Double) = {
    val rs = (0 until n).map(i => time(step(i)))
    (rs.head._1, Stats.median(rs.map(_._2)))
  }

  @volatile private var liveHeap = 0L
  /** Largest heap in use after a full collection at the checkpoints so
    * far, in MB. */
  def liveHeapMb: Double = liveHeap / 1048576.0
  /** A memory checkpoint between timed operations: a full collection,
    * then the heap still in use, i.e. what the program keeps live there
    * (cached and persisted data, stage memos, streaming state). */
  def heapCheckpoint(): Unit = {
    def used() = { System.gc(); java.lang.management.ManagementFactory
      .getMemoryMXBean.getHeapMemoryUsage.getUsed }
    // collect again while Spark's cleaner, woken by the last collection,
    // still releases unreferenced broadcasts, shuffles and blocks
    var last = used()
    var now = { Thread.sleep(100); used() }
    var rounds = 1
    while (now < last && rounds < 5) {
      last = now
      now = { Thread.sleep(100); used() }
      rounds += 1
    }
    liveHeap = math.max(liveHeap, now)
  }
}

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one JSON result object as the last line of standard output;
  * logs go to standard error. */
object Main {

  val workloads: Map[String, Env => Outcome] = Map(
    "daily_backfill" -> DailyBackfill.run,
    "stream_ingest" -> StreamIngest.run,
    "query_suite" -> QuerySuite.run)

  /** Every per-layer metric with its unit; a workload that bypasses a
    * layer reports 0 for it. */
  val layerUnits: Seq[(String, String)] = Seq(
    "decode.s" -> "s", "decode.blocks_per_s" -> "1/s",
    "analytics.usd_intervals.s" -> "s",
    "etl.dump_day.s" -> "s", "etl.dump_day.cpu_s" -> "s",
    "etl.dump_day.gc_s" -> "s", "etl.dump_day.tasks" -> "count",
    "etl.dump_day.shuffle_bytes" -> "bytes",
    "etl.dump_day.spill_bytes" -> "bytes",
    "etl.dump_day.out_bytes" -> "bytes", "etl.dump_day.out_files" -> "count",
    "etl.out_bytes_per_in_byte" -> "ratio",
    "etl.dump_traces.s" -> "s", "etl.accounts.s" -> "s",
    "etl.accounts.shuffle_bytes" -> "bytes", "etl.blocklog.s" -> "s",
    "etl.micro_batch.s_p50" -> "s", "etl.micro_batch.jobs" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.state_commit_ms_p50" -> "ms",
    "streaming.wal_commit_ms_p50" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "bytes",
    "streaming.batches" -> "count", "streaming.gen_late_max_s" -> "s",
    "streaming.backlog_max_files" -> "count",
    "serve.timeline.ms_p50" -> "ms", "serve.feed.ms_p50" -> "ms",
    "serve.block.ms_p50" -> "ms", "serve.hash.ms_p50" -> "ms",
    "serve.balances.ms_p50" -> "ms", "serve.plan_ms_p50" -> "ms",
    "serve.files_read_per_req" -> "count",
    "serve.bytes_read_per_req" -> "bytes",
    "serve.rows_scanned_per_row_returned" -> "ratio",
    "operators.stages.s" -> "s", "operators.jobs_per_query" -> "count",
    "operators.shuffle_bytes" -> "bytes") ++
    QuerySuite.modules.map(m => s"operators.${m._1}.s" -> "s") ++ Seq(
    "trace.wall_s" -> "s", "trace.self_covered_frac" -> "ratio")

  private def arg(argv: Array[String], k: String): Option[String] = {
    val i = argv.indexOf(s"--$k")
    if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "workload").getOrElse("")
    val run = workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of " +
        workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val seed = arg(argv, "seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(argv, "seconds").map(_.toInt).getOrElse(10)
    val trace = arg(argv, "trace").contains("1")
    val workRoot = java.nio.file.Paths.get(
      arg(argv, "work").getOrElse(".bench_work")).toAbsolutePath
    val work = workRoot.resolve(workload)
    deleteTree(work)
    java.nio.file.Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors.toString
    val t0 = System.nanoTime()
    val spark = graft.Bench.benchSession(work.toString, cpus)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(trace, spark.sparkContext, runId)
    val env = new Env(spark, tracer, work.toString, seed, seconds,
      sessionStartS)
    val wall0 = System.nanoTime()
    val out = run(env)
    val wallS = (System.nanoTime() - wall0) / 1e9
    tracer.close()

    val failed = out.failed
    val attempted = math.max(out.attempted, 1L)
    // a run that completed no operation still reports, as incorrect
    val samples = if (out.samples.isEmpty) Seq(0.0) else out.samples
    val (tailMs, tailLevel) = Stats.tail(samples)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", out.setupS, "s"),
        ("op_p50_ms", Stats.median(samples), "ms"),
        ("op_tail_ms", tailMs, "ms"),
        ("throughput", out.throughput, "1/s"),
        ("live_heap_mb", env.liveHeapMb, "MB"),
        ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"))
      else {
        val coverage = {
          val top = tracer.spans.filter(_.parent == 0)
          if (top.isEmpty) 0.0
          else Stats.unionLength(top.map(s => (s.start, s.end))) / 1e9 / wallS
        }
        val extra = Map("trace.wall_s" -> wallS,
          "trace.self_covered_frac" -> coverage)
        layerUnits.map { case (k, u) =>
          (k, out.layers.getOrElse(k, extra.getOrElse(k, 0.0)), u)
        }
      }
    if (trace) {
      val dir = workRoot.resolve("traces")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve(s"$workload-$seed.json"),
        tracer.toJson + "\n")
      env.log(f"self time by span name (wall $wallS%.3f s):")
      tracer.selfTimes.foreach { case (n, k, tot, self) =>
        env.log(f"  $n%-28s n=$k%-5d total=$tot%9.3f s self=$self%9.3f s")
      }
    }
    env.log(f"op samples=${out.samples.size} p50=${Stats.median(samples)}%.3f ms " +
      f"tail=p$tailLevel%.1f ${tailMs}%.3f ms attempted=$attempted failed=$failed")
    spark.stop()
    deleteTree(work)

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v)
        .toPlainString
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val correct = out.checksOk && failed == 0 && out.samples.nonEmpty
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":$ms}""")
  }
}
