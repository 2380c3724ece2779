package perfbench

import graft.decode.RawHexBlock
import graft.etl.Dump
import graft.streaming.EventStream
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import scala.jdk.CollectionConverters._

/** `stream_ingest`: two streaming queries over one landing directory of
  * candidate-block files (duplicate crawler deliveries, forks, blocks
  * that arrive unfinalized and later finalized; every file lands by an
  * atomic rename). One query resolves finality with `finalizeStream`
  * (stateful); the other decodes each micro-batch and lands the eight
  * tables with `dumpMicroBatch`.
  *
  * Catch-up phase: drain a pre-staged backlog in one batch (closed loop).
  * Live phase: for the run length, an open-loop generator thread lands
  * one file per new block on a fixed schedule and stamps each file's due
  * time. Four chains at the reference's ~5 s block time (BASELINE.md)
  * land 0.8 blocks per second; the schedule runs [[timeCompression]]
  * times faster, so a short run holds enough blocks. Freshness runs from
  * a finalized block's due time to the commit of the later of the two
  * batches that carry it.
  *
  * Both queries trigger every [[triggerMs]], on the epoch-aligned grid
  * Spark's processing-time trigger keeps, and the live schedule starts on
  * that grid. So each file waits the same time for its batch in every
  * run, and freshness varies only with batch time. */
object StreamIngest {

  val lag = 4 // blocks between a block's tip delivery and its finality
  val backlogFiles = 24
  val maxFilesPerTrigger = backlogFiles // the backlog drains in one batch
  val chainCount: Int = Gen.chains(1).size
  val timeCompression = 2
  /** One block's deliveries per file, one file per landing interval. */
  val intervalMs: Long = Gen.BlockTimeMs / chainCount / timeCompression
  /** Trigger interval: 8 landed files per batch (5 s). */
  val triggerMs: Long = 8 * intervalMs

  /** Blocks per chain for the backlog, `liveSeconds` of live files and
    * the lag. */
  def blocksPerChain(liveSeconds: Int): Int =
    (backlogFiles + (liveSeconds * 1000 / intervalMs).toInt + lag) /
      chainCount + 2

  /** One landing file: its NDJSON text and the finalized blocks in it. */
  final case class LandFile(idx: Int, text: String, tip: (Int, Long),
      finalized: Seq[(Int, Long)])

  final case class Staged(blocks: Seq[Gen.Block], files: IndexedSeq[LandFile])

  /** Blocks of one UTC day in arrival order, cut into landing files of
    * one block's tip deliveries each (finalized deliveries of earlier
    * blocks ride along). */
  def stage(seed: Long, liveSeconds: Int): Staged = {
    val n = blocksPerChain(liveSeconds)
    val c = Gen.corpus(seed, n, 1, firstDay = 10, n * Gen.BlockTimeMs)
    val blocks = c.allBlocks.sortBy(b => (b.timeMs, b.chain))
    val cands = Gen.candidates(seed, blocks, lag)
    // a file boundary at every new block's first tip delivery
    val groups = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer[Gen.Candidate]())
    var tips = 0
    val seen = scala.collection.mutable.Set[(Int, Long)]()
    cands.foreach { cd =>
      val k = (cd.block.chain, cd.block.number)
      if (!cd.finalized && !seen(k)) {
        seen += k
        if (tips > 0) groups += scala.collection.mutable.ArrayBuffer()
        tips += 1
      }
      groups.last += cd
    }
    Staged(blocks, groups.zipWithIndex.map { case (g, i) =>
      LandFile(i, g.map(Gen.candidateJson).mkString("", "\n", "\n"),
        (g.head.block.chain, g.head.block.number),
        g.filter(_.finalized).map(x => (x.block.chain, x.block.number)).toSeq)
    }.toIndexedSeq)
  }

  private def fileName(i: Int) = f"cand-$i%06d.json"

  /** Write atomically: a dot-file the source ignores, then a rename. */
  private def land(dir: String, f: LandFile): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".${fileName(f.idx)}.tmp")
    java.nio.file.Files.writeString(tmp, f.text)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir,
      fileName(f.idx)), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Batch commit times and streaming progress, per query. */
  final class Progress extends StreamingQueryListener {
    val commits = new ConcurrentHashMap[(String, Long), Long]()
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L)
      commits.put((p.name, p.batchId), end)
      events.add(p)
    }
  }

  def run(env: Env): Outcome = {
    val spark = env.spark
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val tr = env.tracer
    val (st, genS) = tr.span("setup")(
      env.setupMedian(3)(_ => stage(env.seed, env.seconds)))
    val day = Gen.dayOf(st.blocks.head.timeMs)
    val landing = s"${env.work}/landing"
    val out = s"${env.work}/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    val nLive = (env.seconds * 1000 / intervalMs).toInt
    require(st.files.size >= backlogFiles + nLive, "corpus too small")
    // the backlog, one price slice and the chain registry
    val (usd, stageS) = env.time(tr.span("setup") {
      st.files.take(backlogFiles).foreach(land(landing, _))
      val chains = Gen.chains(blocksPerChain(env.seconds))
      val dayStart = st.blocks.map(_.timeMs).min / Gen.DayMs * Gen.DayMs
      val u = Dump.UsdDims(
        chains.flatMap(c => (0 until 288).map(k => (c.asset, c.id,
          new java.sql.Timestamp(dayStart + k * 300000L), 5.0 + k % 7)))
          .toDF("asset", "chain_id", "index_ts", "price_usd"),
        chains.map(c => (c.id, c.asset, Gen.Decimals))
          .toDF("chain_id", "native_asset", "decimals"))
      u.intervals
      u
    })
    val specs = Pipeline.specDim(spark)
    env.log(f"setup ${env.sessionStartS}%.2f s session + $genS%.2f s inputs " +
      f"+ $stageS%.2f s backlog and dims; ${st.files.size} files")

    val progress = new Progress
    spark.streams.addListener(progress)
    val q1Emits = new ConcurrentHashMap[(Int, Long), java.util.List[String]]()
    val q1Batches = new ConcurrentHashMap[Long, Seq[(Int, Long)]]()
    // per dump batch: the finalized blocks it landed; every block it saw
    val q2Fin = new ConcurrentHashMap[Long, Seq[(Int, Long)]]()
    val q2Seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Long)]()
    val schema = Encoders.product[RawHexBlock].schema

    val tc0 = System.nanoTime()
    def source: DataFrame = EventStream.jsonFileSource(spark, landing,
      schema, maxFilesPerTrigger)
    val cands = source.select(col("chain_id"), col("number").as("block_number"),
      col("hash").as("block_hash"), col("finalized"), col("block_time").as("ts"))
      .as[EventStream.Candidate]
    val q1 = EventStream.finalizeStream(cands).writeStream
      .queryName("finalize").outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"${env.work}/ck_finalize")
      .foreachBatch { (b: Dataset[EventStream.Finalized], id: Long) =>
        val rows = tr.span("finalize_batch")(b.collect())
        rows.foreach(r => q1Emits.computeIfAbsent((r.chain_id, r.block_number),
          _ => new java.util.concurrent.CopyOnWriteArrayList[String]())
          .add(r.block_hash))
        q1Batches.put(id, rows.map(r => (r.chain_id, r.block_number)).toSeq)
        ()
      }.start()
    val q2 = source.writeStream.queryName("dump")
      .trigger(Trigger.ProcessingTime(triggerMs))
      .option("checkpointLocation", s"${env.work}/ck_dump")
      .foreachBatch { (b: DataFrame, id: Long) =>
        tr.span("micro_batch") {
          val decoded = Pipeline.decode(env, b, specs)
          val keys = decoded.select(col("chain_id"), col("number"),
            col("finalized")).as[(Int, Long, Boolean)].collect()
          keys.foreach(k => q2Seen.add((k._1, k._2)))
          try tr.span("etl.micro_batch") {
            Dump.dumpMicroBatch(decoded, id, day, out, Some(usd))
          } finally decoded.unpersist()
          q2Fin.put(id, keys.filter(_._3).map(k => (k._1, k._2)).toSeq)
        }
        ()
      }.start()

    // wait until both queries have finished a batch holding each of the
    // finalized blocks (processAllAvailable would also wait for the next
    // trigger to find nothing new)
    def awaitDone(keys: Seq[(Int, Long)]): Unit = {
      val until = System.nanoTime() + 60000000000L
      def done(m: ConcurrentHashMap[Long, Seq[(Int, Long)]]) =
        keys.toSet.subsetOf(m.values.asScala.flatten.toSet)
      while (!done(q1Batches) || !done(q2Fin)) {
        Seq(q1, q2).foreach(_.exception.foreach(e => throw e))
        if (System.nanoTime() > until) throw new RuntimeException("timed out")
        Thread.sleep(20)
      }
    }
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    try tr.span("catchup") {
      awaitDone(st.files.take(backlogFiles).flatMap(_.finalized))
    } catch { case e: Exception => failures += s"catch-up: $e" }
    val catchupS = (System.nanoTime() - tc0) / 1e9
    val backlogBlocks = st.files.take(backlogFiles).map(_.finalized.size).sum
    env.log(f"catch-up: $backlogBlocks blocks in $catchupS%.2f s")

    // live phase: open-loop landing on a fixed schedule
    val live = st.files.slice(backlogFiles, backlogFiles + nLive)
    val due = new Array[Long](live.size)
    val late = new Array[Long](live.size)
    var backlogMax = 0
    // 100 ms after a trigger of the grid, at least 200 ms from now
    val liveStart = (System.currentTimeMillis() + 200) / triggerMs *
      triggerMs + triggerMs + 100
    val gen = new Thread(() => live.indices.foreach { j =>
      due(j) = liveStart + j * intervalMs
      val wait = due(j) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      land(landing, live(j))
      late(j) = System.currentTimeMillis() - due(j)
      // files whose new block the dump query has not seen yet
      backlogMax = math.max(backlogMax, st.files.take(backlogFiles + j + 1)
        .count(f => !q2Seen.contains(f.tip)))
    })
    try tr.span("live") {
      gen.start()
      gen.join()
      awaitDone(live.flatMap(_.finalized))
    } catch { case e: Exception => failures += s"live: $e" }
    env.heapCheckpoint() // the finality state is still held here
    q1.stop(); q2.stop()
    // progress events arrive asynchronously: wait for the last batches'
    val lastIds = Seq("finalize" -> q1Batches, "dump" -> q2Fin)
      .flatMap { case (n, m) => m.keySet.asScala.maxOption.map(n -> _) }
    val waitUntil = System.nanoTime() + 5000000000L
    while (!lastIds.forall(progress.commits.containsKey) &&
        System.nanoTime() < waitUntil) Thread.sleep(50)
    spark.streams.removeListener(progress)
    env.log(s"batches: finalize ${q1Batches.size}, dump ${q2Fin.size}, " +
      s"progress events ${progress.events.size}")

    // freshness: due time → commit of the later of the two batches
    val q1BatchOf = q1Batches.asScala.toSeq.flatMap { case (id, ks) =>
      ks.map(_ -> id) }.toMap
    val q2BatchOf = q2Fin.asScala.toSeq.flatMap { case (id, ks) =>
      ks.map(_ -> id) }.toMap
    val freshOf = live.indices.flatMap { j =>
      live(j).finalized.flatMap { k =>
        (for {
          b1 <- q1BatchOf.get(k)
          t1 <- Option(progress.commits.get(("finalize", b1)))
          b2 <- q2BatchOf.get(k)
          t2 <- Option(progress.commits.get(("dump", b2)))
        } yield (math.max(t1, t2) - due(j)).toDouble).map(k -> _)
      }
    }
    val fresh = freshOf.map(_._2)

    env.log("freshness ms: " + fresh.sorted.map(_.toLong).mkString(" "))
    // checks
    val finalized = st.files.take(backlogFiles + nLive).flatMap(_.finalized)
    val byKey = st.blocks.map(b => (b.chain, b.number) -> b).toMap
    // a finalized block fails if its finality emit is wrong, a live one
    // if it has no freshness sample, and any block if its streamed rows
    // differ from the batch dump's or the generator's counts
    def emitted(k: (Int, Long)) =
      Option(q1Emits.get(k)).map(_.asScala.toSeq).getOrElse(Nil)
    val badEmit = finalized.filter(k => emitted(k) != Seq(byKey(k).hash))
    badEmit.foreach(k => failures += s"finalize $k emitted ${emitted(k)}")
    val extra = q1Emits.keySet.asScala.toSet -- finalized.toSet
    if (extra.nonEmpty) failures += s"finalize emitted ${extra.size} unexpected keys"
    val noFresh = live.flatMap(_.finalized).toSet -- freshOf.map(_._1)
    if (noFresh.nonEmpty) failures += s"no freshness for ${noFresh.size} blocks"
    val (badRows, strays) = tr.span("check") {
      checkTables(env, finalized.map(byKey), out, day, specs, usd, failures)
    }
    failures.take(20).foreach(f => env.log(s"check: $f"))
    val failedBlocks = math.min(finalized.size.toLong,
      (badEmit.toSet ++ noFresh ++ badRows).size.toLong + extra.size + strays)
    Outcome(finalized.size.toLong, failedBlocks, failures.isEmpty,
      fresh.map(_.toDouble), backlogBlocks / catchupS,
      env.sessionStartS + genS + stageS,
      layers(env, progress, late, backlogMax))
  }

  /** Per finalized block and table, the streamed rows equal a batch
    * `dumpDay` of the same finalized blocks (row count and an
    * order-independent content hash) and the generator's count. Returns
    * the blocks that differ anywhere, and the number of other blocks the
    * stream wrote rows for. */
  private def checkTables(env: Env, blocks: Seq[Gen.Block], out: String,
      day: String, specs: DataFrame, usd: Dump.UsdDims,
      failures: scala.collection.mutable.ArrayBuffer[String])
      : (Set[(Int, Long)], Long) = {
    val spark = env.spark
    import spark.implicits._
    val batchOut = s"${env.work}/batch"
    val raw = Pipeline.hexRows(blocks).toDS().toDF()
    Dump.dumpDay(graft.decode.BlockDecode.decodeBlocks(raw, specs,
      Seq(Gen.meta)).toDF(), day, batchOut, Some(usd))
    // one job per side: row count and a sum of row hashes per
    // (table, chain, block)
    def fingerprints(root: String): Map[(String, Int, Long), (Long, String)] = {
      val parts = Pipeline.blockTables
        .filter(t => Pipeline.dataFiles(s"$root/$t") > 0).map { t =>
          val df = spark.read.parquet(s"$root/$t").drop("batch_id", "log_dt")
          val num = if (df.columns.contains("block_number")) "block_number"
            else "number"
          df.select(lit(t).as("t"), col("chain_id").cast("int").as("c"),
            col(num).cast("long").as("n"),
            xxhash64(df.columns.sorted.map(col): _*)
              .cast("decimal(38,0)").as("h"))
        }
      parts.reduce(_ unionByName _).groupBy("t", "c", "n")
        .agg(count(lit(1)), sum(col("h"))).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) ->
          (r.getLong(3), r.getDecimal(4).toString))
        .toMap
    }
    val streamed = fingerprints(out)
    val batch = fingerprints(batchOut)
    val bad = blocks.filter { b =>
      val want = Pipeline.blockCounts(Seq(b))
      val diff = Pipeline.blockTables.filter { t =>
        val k = (t, b.chain, b.number)
        val s = streamed.getOrElse(k, (0L, "0"))
        s != batch.getOrElse(k, (0L, "0")) || s._1 != want(t)
      }
      if (diff.nonEmpty) failures += s"block ${(b.chain, b.number)}: " +
        diff.map(t => s"$t stream ${streamed.get((t, b.chain, b.number))} " +
          s"batch ${batch.get((t, b.chain, b.number))} want ${want(t)}")
          .mkString(", ")
      diff.nonEmpty
    }.map(b => (b.chain, b.number)).toSet
    val keys = blocks.map(b => (b.chain, b.number)).toSet
    val strays = streamed.keySet.map(k => (k._2, k._3)).filterNot(keys)
    if (strays.nonEmpty) failures += s"rows for ${strays.size} unexpected blocks"
    (bad, strays.size.toLong)
  }

  def layers(env: Env, p: Progress, late: Array[Long],
      backlogMax: Int): Map[String, Double] = {
    val tr = env.tracer
    if (!tr.enabled) return Map.empty
    val evs = p.events.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = {
      val v = evs.map(e => e.durationMs.getOrDefault(k, 0L).toDouble)
      if (v.isEmpty) 0.0 else Stats.median(v)
    }
    val stateEvs = p.events.asScala.toSeq.filter(e =>
      e.name == "finalize" && e.stateOperators.nonEmpty)
    val commits = stateEvs.filter(_.numInputRows > 0)
      .map(_.stateOperators.head.commitTimeMs.toDouble)
    val mb = tr.named("etl.micro_batch")
    Map(
      "etl.micro_batch.s_p50" ->
        (if (mb.isEmpty) 0.0 else Stats.median(mb.map(_.seconds))),
      "etl.micro_batch.jobs" ->
        (if (mb.isEmpty) 0.0 else mb.map(_.counter("jobs")).sum / mb.size),
      "decode.s" -> {
        val d = tr.named("decode")
        if (d.isEmpty) 0.0 else Stats.median(d.map(_.seconds))
      },
      "decode.blocks_per_s" -> {
        val d = tr.named("decode")
        d.map(_.counter("blocks")).sum / math.max(d.map(_.seconds).sum, 1e-9)
      },
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.add_batch_ms_p50" -> dur("addBatch"),
      "streaming.wal_commit_ms_p50" -> dur("walCommit"),
      "streaming.state_commit_ms_p50" ->
        (if (commits.isEmpty) 0.0 else Stats.median(commits)),
      "streaming.state_rows" -> stateEvs.lastOption
        .map(_.stateOperators.head.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> stateEvs.lastOption
        .map(_.stateOperators.head.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.batches" -> evs.size.toDouble,
      "streaming.gen_late_max_s" -> (if (late.isEmpty) 0.0 else late.max / 1e3),
      "streaming.backlog_max_files" -> backlogMax.toDouble)
  }
}
