package perfbench

import graft.serve.Serve
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The serving read-back that ends each day of the daily job: one request
  * of each kind — an account timeline (first page, then the cursor's next
  * page), an account feed, a block lookup, a hash search (hit or miss) and
  * a balance lookup — over every table the job has written so far. Account
  * keys are Zipf-skewed like the generated activity, with a uniform share.
  * Every response is checked against the generator's records. */
object ReadBack extends AdaptiveSparkPlanHelper {

  val pageSize = 10
  val uniformShare = 0.2
  val kinds = Seq("timeline", "feed", "block", "hash", "balances")

  /** The answers over the given days of the corpus, computed from the
    * generator's records. */
  final class Expect(c: Gen.Corpus, dayIdx: Set[Int]) {
    private val days = dayIdx.toSeq.sorted.map(c.days)
    private val blocks = days.flatMap(_.blocks)
    // (ts_us, chain, block, ext idx) — the serving sort key
    type Key = (Long, Int, Long, Int)
    private def key(b: Gen.Block, e: Gen.Ex): Key =
      (b.timeMs * 1000, b.chain, b.number, e.idx)
    private def desc(a: Key, b: Key): Boolean =
      if (a._1 != b._1) a._1 > b._1 else if (a._2 != b._2) a._2 > b._2
      else if (a._3 != b._3) a._3 > b._3 else a._4 > b._4
    private val xfers = blocks.flatMap(b => b.exs.flatMap(e =>
      e.transfers.map(x => (key(b, e), x))))
    private val byAccount: Map[String, Seq[(Key, String)]] = {
      val out = xfers.flatMap { case (k, x) =>
        Seq(x.from -> (k, "transfer_out"), x.to -> (k, "transfer_in")) }
      val rw = blocks.flatMap(b => b.exs.flatMap(e =>
        e.rewards.map(r => r._1 -> (key(b, e), "reward"))))
      val cl = blocks.flatMap(b => b.exs.flatMap(e =>
        e.contribution.map(ct => ct._1 -> (key(b, e), "crowdloan"))))
      (out ++ rw ++ cl).groupBy(_._1).map { case (a, v) => a -> v.map(_._2) }
    }
    /** Timeline rows (one per transfer touching the account) below an
      * optional cursor key, newest first. */
    def timeline(acct: String, before: Option[Key]): Seq[Key] =
      xfers.filter { case (_, x) => x.from == acct || x.to == acct }
        .map(_._1).filter(k => before.forall(desc(_, k)))
        .sortWith(desc).take(pageSize)
    def feed(acct: String): Seq[(Key, String)] =
      byAccount.getOrElse(acct, Nil).sortWith { (a, b) =>
        if (a._1 != b._1) desc(a._1, b._1) else a._2 > b._2
      }.take(pageSize)
    val blockIndex: Map[(Int, Long), Gen.Block] =
      blocks.map(b => (b.chain, b.number) -> b).toMap
    val blockKeys: IndexedSeq[(Int, Long)] = blocks.map(b => (b.chain, b.number))
      .toIndexedSeq
    val hashes: Map[String, Seq[(String, Int, Long)]] = (blocks.map(b =>
        b.hash -> ("block", b.chain, b.number)) ++
      blocks.flatMap(b => b.exs.map(e => e.hash -> ("extrinsic", b.chain,
        b.number)))).groupBy(_._1).map { case (h, v) => h -> v.map(_._2) }
    val hashList: IndexedSeq[String] = hashes.keys.toIndexedSeq.sorted
    /** Latest balance cell per chain: (chain, nonce, free). */
    def balances(acct: String): Seq[(Int, Long, BigInt)] =
      days.flatMap(_.traces).filter(_.account.contains(acct))
        .groupBy(_.chain).toSeq.map { case (ch, cells) =>
          val last = cells.maxBy(_.number)
          (ch, last.info.get.nonce, last.info.get.free)
        }.sortBy(_._1)
  }

  final case class Req(kind: String, ms: Double, planMs: Double,
      files: Long, ok: Boolean)

  /** Issues requests against the written layout of `out`. */
  final class Reader(env: Env, out: String, corpus: Gen.Corpus,
      ex: Expect) {
    private val tr = env.tracer
    private val tb = Seq("blocks", "extrinsics", "transfers", "rewards",
      "crowdloan", "balances").map(t => t -> env.spark.read.parquet(
        s"$out/$t")).toMap
    private val zipf = new Gen.Zipf(corpus.accounts.length, Gen.zipfS)

    private def account(r: java.util.SplittableRandom): String =
      if (r.nextDouble() < uniformShare)
        corpus.accounts(r.nextInt(corpus.accounts.length))
      else corpus.accounts(zipf.sample(r))

    private def exec(kind: String, df: => DataFrame)(check: Array[Row] => Boolean)
        : (Req, Array[Row]) = tr.span(s"serve.$kind") {
      val t0 = System.nanoTime()
      val d = df
      val p0 = System.nanoTime()
      val plan = d.queryExecution.executedPlan
      val planMs = (System.nanoTime() - p0) / 1e6
      val rows = d.collect()
      val ms = (System.nanoTime() - t0) / 1e6
      val files = collectWithSubqueries(plan) {
        case s: DataSourceScanExec => s.metrics.get("numFiles")
          .map(_.value).getOrElse(0L)
      }.sum
      val ok = try check(rows) catch { case _: Exception => false }
      tr.count("rows_returned", rows.length.toDouble)
      (Req(kind, ms, planMs, files, ok), rows)
    }

    private def tsKey(r: Row, idCol: String): (Long, Int, Long, Int) = {
      val id = r.getAs[String](idCol).split("-")
      (r.getAs[java.sql.Timestamp]("block_time").getTime * 1000,
        r.getAs[Int]("chain_id"), id(0).toLong, id(1).toInt)
    }

    /** One request of `kind` (a timeline is two: first and next page). */
    def request(kind: String, r: java.util.SplittableRandom): Seq[Req] =
      try requestOf(kind, r)
      catch { case e: Exception =>
        env.log(s"$kind read failed: $e")
        Seq(Req(kind, 0, 0, 0, ok = false))
      }

    private def requestOf(kind: String, r: java.util.SplittableRandom)
        : Seq[Req] =
      kind match {
        case "timeline" =>
          val a = account(r)
          val want1 = ex.timeline(a, None)
          val (q1, rows) = exec(kind, Serve.accountTimeline(tb("transfers"),
            a, None, pageSize, None))(rs =>
            rs.map(tsKey(_, "extrinsic_id")).toSeq == want1)
          if (rows.length < pageSize) Seq(q1)
          else {
            val last = rows.last
            val k = tsKey(last, "extrinsic_id")
            val cur = Serve.Cursor(k._1, k._2, last.getAs[String]("extrinsic_id"))
            val want2 = ex.timeline(a, Some(k))
            val (q2, _) = exec(kind, Serve.accountTimeline(tb("transfers"), a,
              None, pageSize, Some(cur)))(rs =>
              rs.map(tsKey(_, "extrinsic_id")).toSeq == want2)
            Seq(q1, q2)
          }
        case "feed" =>
          val a = account(r)
          val want = ex.feed(a)
          Seq(exec(kind, Serve.accountFeed(tb("transfers"), tb("rewards"),
            tb("crowdloan"), a, pageSize))(rs => rs.map(x =>
            (tsKey(x, "extrinsic_id"), x.getAs[String]("kind"))).toSeq == want)._1)
        case "block" =>
          val (ch, n) = ex.blockKeys(r.nextInt(ex.blockKeys.length))
          val b = ex.blockIndex((ch, n))
          val want = b.exs.map(e => s"${b.number}-${e.idx}").sorted
          Seq(exec(kind, Serve.getBlock(tb("blocks"), tb("extrinsics"), ch,
            n))(rs => rs.forall(_.getAs[String]("hash") == b.hash) &&
            rs.map(_.getAs[String]("extrinsic_id")).toSeq.sorted == want)._1)
        case "hash" =>
          val h =
            if (r.nextBoolean()) ex.hashList(r.nextInt(ex.hashList.length))
            else Gen.hx(Array.fill[Byte](32)(r.nextInt(256).toByte))
          val want = ex.hashes.getOrElse(h, Nil).sorted
          Seq(exec(kind, Serve.searchByHash(tb("blocks"), tb("extrinsics"),
            h))(rs => rs.map(x => (x.getAs[String]("kind"),
            x.getAs[Int]("chain_id"), x.getAs[Long]("block_number")))
            .toSeq.sorted == want)._1)
        case "balances" =>
          val a = account(r)
          val want = ex.balances(a)
          Seq(exec(kind, Serve.accountBalances(tb("balances"),
            a.stripPrefix("0x"), "block_number"))(rs => rs.length == want.length &&
            rs.zip(want).forall { case (x, (ch, nonce, free)) =>
              val f = free.toDouble / math.pow(10, Gen.Decimals)
              x.getAs[Int]("chain_id") == ch && x.getAs[Long]("nonce") == nonce &&
                math.abs(x.getAs[Double]("free") - f) <= 1e-9 * f
            })._1)
      }
  }

  def layers(env: Env, reqs: Seq[Req]): Map[String, Double] = {
    val tr = env.tracer
    if (!tr.enabled) return Map.empty
    val spans = kinds.flatMap(k => tr.named(s"serve.$k"))
    if (reqs.isEmpty) return Map.empty
    val returned = spans.map(_.counter("rows_returned")).sum
    kinds.map(k => s"serve.$k.ms_p50" -> {
      val ms = reqs.filter(_.kind == k).map(_.ms)
      if (ms.isEmpty) 0.0 else Stats.median(ms)
    }).toMap ++ Map(
      "serve.plan_ms_p50" -> Stats.median(reqs.map(_.planMs)),
      "serve.files_read_per_req" -> reqs.map(_.files).sum.toDouble / reqs.size,
      "serve.bytes_read_per_req" ->
        spans.map(_.counter("in_bytes")).sum / math.max(spans.size, 1),
      "serve.rows_scanned_per_row_returned" ->
        spans.map(_.counter("in_records")).sum / math.max(returned, 1.0))
  }
}
