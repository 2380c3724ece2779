package perfbench

/** `daily_backfill`: the daily job over consecutive UTC days of seeded
  * raw input for four chains of unequal load, each day ending with a
  * serving read-back of the layout written so far. Nothing is
  * pre-warmed: each real daily job pays its JIT and codegen, so the first
  * day does here too. The run is a fixed number of days, not a clock. */
object DailyBackfill {

  val days = 2
  /** Each chain-day is this fraction of a real one (BASELINE.md: about
    * 17k blocks per chain per day), so a day fits the run length. */
  val scaleDown = 64
  val blocksPerDay: Int = Gen.RealBlocksPerDay / scaleDown

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.tracer
    val ((corpus, inBytes), genS) = tr.span("setup")(env.setupMedian(3) { k =>
      val (c, g) = env.time(Gen.corpus(env.seed, blocksPerDay, days))
      val (b, w) = env.time(Pipeline.writeInputs(spark, c, s"${env.work}/in$k"))
      env.log(f"setup $k: generate $g%.2f s, write $w%.2f s")
      (c, b)
    })
    val in = s"${env.work}/in0"
    val out = s"${env.work}/out"
    val specs = Pipeline.specDim(spark)
    val dim = Pipeline.traceDim(spark)
    val exs = corpus.allBlocks.map(_.exs.size).sum
    env.log(f"inputs: ${corpus.allBlocks.size} blocks, $exs extrinsics over " +
      f"$days days, $inBytes bytes; setup ${env.sessionStartS}%.2f s " +
      f"session + $genS%.2f s")

    val dayS = scala.collection.mutable.ArrayBuffer[Double]()
    val reads = scala.collection.mutable.ArrayBuffer[ReadBack.Req]()
    val badReads = scala.collection.mutable.Set[Int]()
    val errors = scala.collection.mutable.Set[Int]()
    tr.span("run") {
      (0 until days).foreach { i =>
        val day = corpus.days(i).date
        val prev = if (i == 0) None else Some(corpus.days(i - 1).date)
        val t0 = System.nanoTime()
        try tr.span("day") {
          Pipeline.runDay(env, in, out, day, prev, specs, dim)
          val reader = new ReadBack.Reader(env, out, corpus,
            new ReadBack.Expect(corpus, (0 to i).toSet))
          val r = Gen.rng(env.seed, 600L + i)
          val rs = tr.span("serve")(ReadBack.kinds.flatMap(reader.request(_, r)))
          reads ++= rs
          if (rs.exists(!_.ok)) {
            badReads += i
            env.log(s"day $day: wrong responses from " +
              rs.filter(!_.ok).map(_.kind).mkString(", "))
          }
        } catch { case e: Exception =>
          errors += i
          env.log(s"day $day failed: $e")
        }
        dayS += (System.nanoTime() - t0) / 1e6
        env.log(f"day $day: ${dayS.last}%.0f ms")
        env.heapCheckpoint()
      }
    }
    val (okDays, msgs) = tr.span("check") {
      Pipeline.checkDays(spark, out, corpus, 0 until days)
    }
    msgs.foreach(m => env.log(s"check: $m"))
    val failed = (0 until days).count(i =>
      !okDays.contains(i) || badReads(i) || errors(i)).toLong
    Outcome(days.toLong, failed, msgs.isEmpty && badReads.isEmpty,
      dayS.toSeq, corpus.allBlocks.size / (dayS.sum / 1e3),
      env.sessionStartS + genS,
      layers(env, out, inBytes.toDouble / days, days) ++
        ReadBack.layers(env, reads.toSeq))
  }

  /** Per-layer numbers from the traced run: median seconds per call and
    * mean counters per call. */
  def layers(env: Env, out: String, inBytesPerDay: Double,
      daysWritten: Int): Map[String, Double] = {
    val tr = env.tracer
    if (!tr.enabled) return Map.empty
    def med(n: String) = {
      val ss = tr.named(n)
      if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.seconds))
    }
    def mean(n: String, k: String) = {
      val ss = tr.named(n)
      if (ss.isEmpty) 0.0 else ss.map(_.counter(k)).sum / ss.size
    }
    val dec = tr.named("decode")
    val dumpOut = mean("etl.dump_day", "out_bytes")
    Map(
      "decode.s" -> med("decode"),
      "decode.blocks_per_s" -> dec.map(_.counter("blocks")).sum /
        math.max(dec.map(_.seconds).sum, 1e-9),
      "analytics.usd_intervals.s" -> med("analytics.usd_intervals"),
      "etl.dump_day.s" -> med("etl.dump_day"),
      "etl.dump_day.cpu_s" -> mean("etl.dump_day", "cpu_s"),
      "etl.dump_day.gc_s" -> mean("etl.dump_day", "gc_s"),
      "etl.dump_day.tasks" -> mean("etl.dump_day", "tasks"),
      "etl.dump_day.shuffle_bytes" -> mean("etl.dump_day", "shuffle_bytes"),
      "etl.dump_day.spill_bytes" -> mean("etl.dump_day", "spill_bytes"),
      "etl.dump_day.out_bytes" -> dumpOut,
      "etl.dump_day.out_files" -> Pipeline.blockTables.map(t =>
        Pipeline.dataFiles(s"$out/$t")).sum.toDouble / daysWritten,
      "etl.out_bytes_per_in_byte" -> (dumpOut +
        mean("etl.dump_traces", "out_bytes") +
        mean("etl.accounts", "out_bytes") +
        mean("etl.blocklog", "out_bytes")) / inBytesPerDay,
      "etl.dump_traces.s" -> med("etl.dump_traces"),
      "etl.accounts.s" -> med("etl.accounts"),
      "etl.accounts.shuffle_bytes" -> mean("etl.accounts", "shuffle_bytes"),
      "etl.blocklog.s" -> med("etl.blocklog"))
  }
}
