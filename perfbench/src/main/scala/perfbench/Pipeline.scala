package perfbench

import graft.decode.{BlockDecode, RawHexBlock, TraceDecode}
import graft.etl.{Accounts, Dump, Metrics}
import graft.model.RawTrace
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The daily job as a chain of public engine calls, the on-disk layout
  * of its generated inputs, and the engine-independent expectations its
  * outputs are checked against. */
object Pipeline {

  val blockTables: Seq[String] = Seq("blocks", "extrinsics", "events",
    "transfers", "calls", "logs", "rewards", "crowdloan")
  val traceTables: Seq[String] = Seq("traces", "balances")
  val accountTables: Seq[String] = Seq("accountsactive", "accountspassive",
    "accountsnew", "accountsreaped")
  val allTables: Seq[String] =
    blockTables ++ traceTables ++ accountTables :+ "blocklog"

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  def hexRows(blocks: Seq[Gen.Block]): Seq[RawHexBlock] = blocks.map(b =>
    RawHexBlock(b.chain, b.number, b.hash, b.parent, ts(b.timeMs),
      finalized = true, b.author, b.exs.map(_.hex), b.eventsHex))

  /** Write a corpus as the raw landing layout: per-day partitions of
    * hex blocks and trace cells, the price log and the chain registry.
    * Returns the bytes written. */
  def writeInputs(spark: SparkSession, c: Gen.Corpus, dir: String): Long = {
    import spark.implicits._
    c.days.flatMap(d => hexRows(d.blocks).map(d.date -> _)).toDF("dt", "b")
      .select(col("b.*"), col("dt")).write.partitionBy("dt")
      .mode("overwrite").parquet(s"$dir/raw_blocks")
    c.days.flatMap(d => d.traces.map(t => d.date -> RawTrace(t.chain,
        t.number, t.blockHash, ts(t.timeMs), t.idx, t.k, t.v,
        finalized = true))).toDF("dt", "t")
      .select(col("t.*"), col("dt")).write.partitionBy("dt")
      .mode("overwrite").parquet(s"$dir/raw_traces")
    c.days.flatMap(d => d.prices.map { case (a, ch, ms, p) =>
        (a, ch, ts(ms), p, d.date) })
      .toDF("asset", "chain_id", "index_ts", "price_usd", "dt")
      .coalesce(1).write.partitionBy("dt").mode("overwrite")
      .parquet(s"$dir/price_log")
    c.chains.map(ch => (ch.id, ch.asset, Gen.Decimals))
      .toDF("chain_id", "native_asset", "decimals")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/chains")
    dirBytes(s"$dir/raw_blocks") + dirBytes(s"$dir/raw_traces")
  }

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith("."))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }

  def dataFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => f.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }

  def specDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0L, Gen.Spec)).toDF("block_number", "spec_version")
  }

  def traceDim(spark: SparkSession): DataFrame =
    TraceDecode.keyedPrefixDim(spark,
      Seq(("System", "Account", "blake2_128concat", 32)))

  /** Decode raw hex blocks and materialize the result, so the decode
    * layer is timed as its own step before the projections read it. */
  def decode(env: Env, raw: DataFrame, specs: DataFrame): DataFrame =
    env.tracer.span("decode") {
      val d = BlockDecode.decodeBlocks(raw, specs, Seq(Gen.meta)).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      env.tracer.count("blocks", d.count().toDouble)
      d
    }

  /** One day of the daily job: decode → 8 tables with USD → traces and
    * balances → account tables (against the previous day's balances) →
    * blocklog. */
  def runDay(env: Env, in: String, out: String, day: String,
      prevDay: Option[String], specs: DataFrame, dim: DataFrame): Unit = {
    val spark = env.spark
    val tr = env.tracer
    val decoded = decode(env, spark.read.parquet(s"$in/raw_blocks/dt=$day"),
      specs)
    try {
      val usd = tr.span("analytics.usd_intervals") {
        val u = Dump.UsdDims(spark.read.parquet(s"$in/price_log/dt=$day"),
          spark.read.parquet(s"$in/chains"))
        u.intervals
        u
      }
      tr.span("etl.dump_day") { Dump.dumpDay(decoded, day, out, Some(usd)) }
    } finally decoded.unpersist()
    tr.span("etl.dump_traces") {
      Dump.dumpTracesDay(spark.read.parquet(s"$in/raw_traces/dt=$day"), dim,
        day, out)
    }
    def part(t: String, d: String = day) =
      spark.read.parquet(s"$out/$t").filter(col("log_dt") === d)
    val prev = prevDay.map(d => part("balances", d))
      .getOrElse(part("balances").limit(0))
    val acc = tr.span("etl.accounts") {
      Accounts.dumpAccountsDay(part("extrinsics"), part("blocks"),
        part("transfers"), part("balances"), prev, day, out)
    }
    tr.span("etl.blocklog") {
      Metrics.dumpBlocklogDay(part("blocks"), part("extrinsics"),
        part("events"), part("transfers"),
        acc("accountsactive").filter(col("log_dt") === day), day, out)
    }
  }

  // ---- expectations ----

  /** Expected row count of each of the eight block tables. */
  def blockCounts(blocks: Seq[Gen.Block]): Map[String, Long] = {
    val exs = blocks.flatMap(_.exs)
    Map(
      "blocks" -> blocks.size.toLong,
      "extrinsics" -> exs.size.toLong,
      "events" -> exs.map(_.events).sum.toLong,
      "transfers" -> exs.map(_.transfers.size).sum.toLong,
      "calls" -> exs.map(_.calls).sum.toLong,
      "logs" -> 0L, // decodeBlocks emits no digest logs
      "rewards" -> exs.map(_.rewards.size).sum.toLong,
      "crowdloan" -> exs.count(_.contribution.isDefined).toLong)
  }

  /** Expected row count of every output table for day `i` of the
    * corpus, computed from the generator's records. */
  def expectedCounts(c: Gen.Corpus, i: Int): Map[String, Long] = {
    val d = c.days(i)
    val active = activeSet(d)
    val xferAddrs = d.blocks.flatMap(b => b.exs.flatMap(_.transfers
      .flatMap(x => Seq((b.chain, x.from), (b.chain, x.to))))).toSet
    val today = balanceSet(d)
    val prev = if (i == 0) Set.empty[(Int, String)] else balanceSet(c.days(i - 1))
    blockCounts(d.blocks) ++ Map(
      "traces" -> d.traces.size.toLong,
      "balances" -> d.traces.count(_.account.isDefined).toLong,
      "accountsactive" -> active.size.toLong,
      "accountspassive" -> (xferAddrs -- active).size.toLong,
      "accountsnew" -> (today -- prev).size.toLong,
      "accountsreaped" -> (prev -- today).size.toLong,
      "blocklog" -> d.blocks.map(_.chain).distinct.size.toLong)
  }

  private def activeSet(d: Gen.Day): Set[(Int, String)] =
    d.blocks.flatMap(b => (b.chain, b.author) +:
      b.exs.filter(_.signed).map(e => (b.chain, e.signer))).toSet

  /** Accounts as the balances table keys them: hex without the 0x. */
  private def balanceSet(d: Gen.Day): Set[(Int, String)] =
    d.traces.flatMap(t => t.account.map(a => (t.chain, a.stripPrefix("0x"))))
      .toSet

  /** Expected blocklog row per chain:
    * (n_blocks, n_extrinsics, n_events, n_transfers, n_accounts_active). */
  def expectedBlocklog(d: Gen.Day): Map[Int, Seq[Long]] = {
    val active = activeSet(d)
    d.blocks.groupBy(_.chain).map { case (ch, bs) =>
      val exs = bs.flatMap(_.exs)
      ch -> Seq(bs.size.toLong, exs.size.toLong, exs.map(_.events).sum.toLong,
        exs.map(_.transfers.size).sum.toLong,
        active.count(_._1 == ch).toLong)
    }
  }

  /** Read back every table and the blocklog values for the given corpus
    * days; returns the days whose outputs all match, and a message per
    * mismatch. One grouped count per table, so the check costs a fixed
    * number of jobs however many days ran. */
  def checkDays(spark: SparkSession, out: String, c: Gen.Corpus,
      dayIdx: Seq[Int]): (Set[Int], Seq[String]) = {
    val bad = scala.collection.mutable.Map[Int, List[String]]()
    def fail(i: Int, msg: String): Unit = bad(i) = msg :: bad.getOrElse(i, Nil)
    val expected = dayIdx.map(i => i -> expectedCounts(c, i)).toMap
    // one job: (table, day) row counts of every table that has files
    val got = allTables.filter(t => dataFiles(s"$out/$t") > 0)
      .map(t => spark.read.parquet(s"$out/$t")
        .select(lit(t).as("t"), col("log_dt").cast("string").as("d")))
      .reduce(_ unionByName _).groupBy("t", "d").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    allTables.foreach { t =>
      dayIdx.foreach { i =>
        val want = expected(i)(t)
        val have = got.getOrElse((t, c.days(i).date), 0L)
        if (want != have) fail(i, s"${c.days(i).date} $t: $have rows, want $want")
      }
    }
    val bl = spark.read.parquet(s"$out/blocklog").select(
        col("log_dt").cast("string"), col("chain_id"), col("n_blocks"),
        col("n_extrinsics"), col("n_events"), col("n_transfers"),
        col("n_accounts_active")).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (2 to 6).map(k => if (r.isNullAt(k)) 0L else r.getLong(k)))
      .toMap
    dayIdx.foreach { i =>
      expectedBlocklog(c.days(i)).foreach { case (ch, want) =>
        val have = bl.get((c.days(i).date, ch))
        if (!have.contains(want))
          fail(i, s"${c.days(i).date} blocklog chain $ch: $have, want $want")
      }
    }
    // USD decoration: every transfer and extrinsic is priced
    Seq("transfers" -> "amount_usd", "extrinsics" -> "fee_usd").foreach {
      case (t, cl) =>
        spark.read.parquet(s"$out/$t").filter(col(cl).isNull)
          .groupBy(col("log_dt").cast("string")).count().collect()
          .foreach { r =>
            dayIdx.filter(i => c.days(i).date == r.getString(0))
              .foreach(i => fail(i, s"${r.getString(0)} $t: ${r.getLong(1)} unpriced rows"))
          }
    }
    (dayIdx.filterNot(bad.contains).toSet, bad.values.flatten.toSeq)
  }
}
