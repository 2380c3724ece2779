package perfbench

import graft.decode.BlockDecode.{CallMeta, EventMeta, RuntimeMeta}
import graft.decode.MetaDecode.{AccountId, CompactInt, ItemDef, PalletDef,
  U128, U32}
import graft.functions.Codec
import java.util.SplittableRandom

/** Seeded raw-input generator. Everything the engine reads is made
  * here from the seed: SCALE-encoded blocks in the `RawHexBlock` shape,
  * `System.Account` storage traces, a 5-minute price log and a chain
  * registry. Alongside the bytes it keeps the plain records it encoded,
  * from which the workloads compute their expected answers without the
  * engine.
  *
  * Block counts are fixed by the parameters; the seed changes the
  * content (accounts, amounts, which extrinsics appear and how many),
  * whose totals vary only a little between seeds.
  *
  * Volume follows the reference's operational envelope (BASELINE.md,
  * "Implied data rates" and "Load-shape warning threshold"): a block
  * about every 5 s per chain, so about 17k blocks per chain per day, and
  * blocks of more than 30 extrinsics or 50 events count as high usage,
  * so no generated block exceeds either. */
object Gen {

  val Spec = 100
  val Decimals = 10

  /** Dispatch tables for the generated runtime. Transfers and the
    * system events use the engine's hand tables; staking and crowdloan
    * resolve through the metadata tier, which is what makes the rewards
    * and crowdloan tables non-empty. */
  val meta: RuntimeMeta = RuntimeMeta(Spec, Decimals,
    calls = Seq(
      CallMeta(0, 1, "system", "remark"),
      CallMeta(3, 0, "timestamp", "set"),
      CallMeta(5, 0, "balances", "transfer"),
      CallMeta(16, 0, "utility", "batch")),
    events = Seq(
      EventMeta(0, 0, "system", "ExtrinsicSuccess"),
      EventMeta(0, 1, "system", "ExtrinsicFailed"),
      EventMeta(5, 2, "balances", "Transfer")),
    pallets = Seq(
      PalletDef(7, "staking",
        calls = Seq(ItemDef(18, "payoutStakers",
          Seq("validatorStash" -> AccountId, "era" -> U32))),
        events = Seq(
          ItemDef(0, "PayoutStarted",
            Seq("eraIndex" -> U32, "validatorStash" -> AccountId)),
          ItemDef(1, "Rewarded", Seq("stash" -> AccountId, "amount" -> U128)))),
      PalletDef(73, "crowdloan",
        calls = Seq(ItemDef(1, "contribute",
          Seq("index" -> CompactInt, "value" -> CompactInt))),
        events = Seq(ItemDef(1, "Contributed",
          Seq("who" -> AccountId, "fundIndex" -> U32, "amount" -> U128))))))

  val BlockTimeMs: Long = 5000L
  val RealBlocksPerDay: Int = (86400000L / BlockTimeMs).toInt // 17,280
  val MaxExtrinsics = 30
  val MaxEvents = 50

  /** A chain, its blocks per day and its load: each block carries the
    * timestamp inherent plus 1 to `maxSigned` signed extrinsics. Its
    * native token is keyed the way the chain's parser keys transfer
    * assets. */
  final case class Chain(id: Int, blocksPerDay: Int, maxSigned: Int) {
    def asset: String =
      graft.decode.ChainParser.forChain(id).assetKey("native")
  }

  /** Four chains at the same block rate and unequal load: the busiest
    * fills blocks up to the high-usage mark, the others to about a half,
    * a quarter and an eighth of it. */
  def chains(blocksPerDay: Int): Seq[Chain] =
    Seq(Chain(0, blocksPerDay, MaxExtrinsics - 1),
      Chain(1000, blocksPerDay, 15), Chain(2000, blocksPerDay, 8),
      Chain(2004, blocksPerDay, 4))

  // ---- plain records (the expectation side) ----

  final case class Xfer(from: String, to: String, amount: BigInt)

  /** One extrinsic as encoded. `calls` is the number of rows the call
    * flattener keeps (root plus non-noise descendants). */
  final case class Ex(idx: Int, hex: String, hash: String, signed: Boolean,
      signer: String, events: Int, calls: Int, transfers: Seq[Xfer],
      rewards: Seq[(String, BigInt)], contribution: Option[(String, Long,
        BigInt)])

  final case class Block(chain: Int, number: Long, hash: String,
      parent: String, timeMs: Long, author: String, exs: Seq[Ex],
      eventsHex: String)

  /** One `System.Account` storage cell after a block. */
  final case class Acct(nonce: Long, free: BigInt, reserved: BigInt)

  final case class TraceCell(chain: Int, number: Long, blockHash: String,
      timeMs: Long, idx: Int, k: String, v: String, account: Option[String],
      info: Option[Acct])

  final case class Day(date: String, blocks: Seq[Block],
      traces: Seq[TraceCell], prices: Seq[(String, Int, Long, Double)])

  final case class Corpus(chains: Seq[Chain], accounts: IndexedSeq[String],
      days: IndexedSeq[Day]) {
    def allBlocks: Seq[Block] = days.flatMap(_.blocks)
  }

  val Epoch0: Long = 1709251200000L // 2024-03-01T00:00:00Z
  val DayMs: Long = 86400000L

  def dayOf(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString

  // ---- SCALE helpers ----

  private def cp(v: BigInt): Array[Byte] = Codec.compactEncode(v)
  private def cp(v: Long): Array[Byte] = Codec.compactEncode(BigInt(v))
  private def u32le(v: Long): Array[Byte] =
    Array.tabulate(4)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def u128le(v: BigInt): Array[Byte] = {
    val le = v.toByteArray.dropWhile(_ == 0).reverse
    le ++ Array.fill[Byte](16 - le.length)(0)
  }
  private def bs(xs: Array[Byte]*): Array[Byte] = xs.flatten.toArray
  private def by(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private val hexDigits = "0123456789abcdef".toCharArray

  /** 0x-prefixed lowercase hex, the engine's rendering of raw bytes. */
  def hx(b: Array[Byte]): String = {
    val cs = new Array[Char](2 + 2 * b.length)
    cs(0) = '0'; cs(1) = 'x'
    var i = 0
    while (i < b.length) {
      cs(2 + 2 * i) = hexDigits((b(i) >> 4) & 0xf)
      cs(3 + 2 * i) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  def unhx(h: String): Array[Byte] = {
    val s = h.stripPrefix("0x")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  private def sha(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8"))

  private val sig = Array.fill[Byte](64)(7)

  private def envelope(signer: Option[Array[Byte]], nonce: Long, tip: Long,
      call: Array[Byte]): Array[Byte] = {
    val body = signer match {
      case Some(pk) => bs(by(0x84, 0), pk, sig, by(0), cp(nonce), cp(tip), call)
      case None => bs(by(0x04), call)
    }
    bs(cp(body.length.toLong), body)
  }

  private def transferCall(to: String, amt: BigInt): Array[Byte] =
    bs(by(5, 0, 0), unhx(to), cp(amt))
  private def remarkCall(text: Array[Byte]): Array[Byte] =
    bs(by(0, 1), cp(text.length.toLong), text)

  private def rec(exIdx: Int, body: Array[Byte]): Array[Byte] =
    bs(by(0), u32le(exIdx), body, cp(0))
  private def success(exIdx: Int) =
    rec(exIdx, bs(by(0, 0), cp(1000), cp(0), by(0, 0)))
  private def failed(exIdx: Int) =
    rec(exIdx, bs(by(0, 1), by(3, 5), u32le(2), cp(1000), cp(0), by(0, 0)))
  private def transferEv(exIdx: Int, x: Xfer) =
    rec(exIdx, bs(by(5, 2), unhx(x.from), unhx(x.to), u128le(x.amount)))

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Independent stream per (seed, tag...), stable across JVMs. */
  def rng(seed: Long, tags: Long*): SplittableRandom =
    new SplittableRandom(tags.foldLeft(seed * 0x9E3779B97F4A7C15L)(
      (h, t) => (h ^ t) * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL))

  val accountCount = 2000
  val zipfS = 1.1

  def accounts(seed: Long): IndexedSeq[String] =
    (0 until accountCount).map(i => hx(sha(s"account/$seed/$i")))

  /** `days` consecutive UTC days of blocks and traces for every chain,
    * `blocksPerDay` blocks per chain and day, starting `firstDay` days
    * after 2024-03-01. Each chain's blocks are spaced evenly over the
    * first `spanMs` of its day. */
  def corpus(seed: Long, blocksPerDay: Int, days: Int, firstDay: Int = 0,
      spanMs: Long = DayMs): Corpus = {
    val cs = chains(blocksPerDay)
    val accts = accounts(seed)
    val zipf = new Zipf(accts.length, zipfS)
    // running account state per chain, carried across days
    val state = cs.map(c => c.id -> scala.collection.mutable.Map[String,
      Acct]()).toMap
    val out = (firstDay until firstDay + days).map { d =>
      val dayStart = Epoch0 + d * DayMs
      val perChain = cs.map { c =>
        val r = rng(seed, d.toLong, c.id.toLong)
        val st = state(c.id)
        val blocks = scala.collection.mutable.ArrayBuffer[Block]()
        val traces = scala.collection.mutable.ArrayBuffer[TraceCell]()
        (0 until c.blocksPerDay).foreach { i =>
          val number = d.toLong * c.blocksPerDay + i + 1
          val timeMs = dayStart + ((i + 0.5) * spanMs / c.blocksPerDay).toLong
          val (b, cells) = block(r, accts, zipf, st, c, number, timeMs, seed)
          blocks += b
          traces ++= cells
        }
        (blocks.toSeq, traces.toSeq)
      }
      val prices = cs.flatMap { c =>
        val r = rng(seed, d.toLong, c.id.toLong, 77L)
        var p = 5.0 + r.nextDouble() * 5.0
        (0 until 288).map { k =>
          p = math.max(0.5, p * (1.0 + (r.nextDouble() - 0.5) * 0.01))
          (c.asset, c.id, dayStart + k * 300000L, p)
        }
      }
      Day(dayOf(dayStart), perChain.flatMap(_._1), perChain.flatMap(_._2),
        prices)
    }
    Corpus(cs, accts, out)
  }

  private def blockHash(seed: Long, chain: Int, number: Long,
      fork: Int = 0): String =
    hx(sha(s"block/$seed/$chain/$number/$fork"))

  /** One block: a timestamp inherent, then up to the chain's
    * `maxSigned` extrinsics, a seeded mix of transfers, batches, failed
    * transfers, staking payouts and crowdloan contributions, stopping
    * before the block's events would pass [[MaxEvents]]; plus the
    * `System.Account` cells it touched. The mix is an assumption, not a
    * measured one: transfers dominate, and every table gets rows. */
  private def block(r: SplittableRandom, accts: IndexedSeq[String],
      zipf: Zipf, st: scala.collection.mutable.Map[String, Acct], c: Chain,
      number: Long, timeMs: Long, seed: Long): (Block, Seq[TraceCell]) = {
    val hash = blockHash(seed, c.id, number)
    val parent = blockHash(seed, c.id, number - 1)
    val author = accts(r.nextInt(16)) // a small validator set
    val exs = scala.collection.mutable.ArrayBuffer[Ex]()
    val evs = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    val touched = scala.collection.mutable.LinkedHashSet[String]()
    def acct(a: String): Acct = st.getOrElseUpdate(a,
      Acct(0, BigInt(1000000) * BigInt(10).pow(Decimals),
        BigInt(1 + (a.hashCode & 0xffff)) * BigInt(10).pow(6)))
    def pick(): String = accts(zipf.sample(r))
    def other(not: String): String = {
      var a = accts(r.nextInt(accts.length))
      while (a == not) a = accts(r.nextInt(accts.length))
      a
    }
    def addEx(signer: Option[String], call: Array[Byte], events: Seq[Array[
        Byte]], calls: Int, xs: Seq[Xfer], rewards: Seq[(String, BigInt)],
        contrib: Option[(String, Long, BigInt)]): Unit = {
      val i = exs.length
      val tip = if (signer.isDefined) 1000000L + r.nextInt(1000) else 0L
      val nonce = signer.map(s => acct(s).nonce).getOrElse(0L)
      val bytes = envelope(signer.map(unhx), nonce, tip, call)
      signer.foreach { s =>
        val a = acct(s); st(s) = a.copy(nonce = a.nonce + 1); touched += s
      }
      xs.foreach { x =>
        val f = acct(x.from); st(x.from) = f.copy(free = f.free - x.amount)
        val t = acct(x.to); st(x.to) = t.copy(free = t.free + x.amount)
        touched += x.from; touched += x.to
      }
      evs ++= events
      exs += Ex(i, hx(bytes), hx(Codec.blake2b256(bytes)), signer.isDefined,
        signer.getOrElse(""), events.length, calls, xs, rewards, contrib)
    }
    def amount(): BigInt = BigInt(1 + r.nextInt(1000000)) * BigInt(100000)
    // inherent: timestamp.set(now)
    addEx(None, bs(by(3, 0), cp(timeMs)), Seq(success(0)), 1, Nil, Nil, None)
    val n = 1 + r.nextInt(c.maxSigned)
    var full = false
    while (!full && exs.length <= n) {
      val i = exs.length
      val k = r.nextInt(100)
      val from = pick()
      // the most events an extrinsic below emits is 5 (a payout)
      if (evs.length + 5 > MaxEvents) full = true
      else if (k < 55) { // transfer
        val x = Xfer(from, other(from), amount())
        addEx(Some(from), transferCall(x.to, x.amount),
          Seq(transferEv(i, x), success(i)), 1, Seq(x), Nil, None)
      } else if (k < 70) { // batch of two transfers and a remark
        val x1 = Xfer(from, other(from), amount())
        var to2 = other(from)
        while (to2 == x1.to) to2 = other(from)
        val x2 = Xfer(from, to2, amount())
        val call = bs(by(16, 0), cp(3L), transferCall(x1.to, x1.amount),
          transferCall(x2.to, x2.amount), remarkCall("memo".getBytes("UTF-8")))
        addEx(Some(from), call,
          Seq(transferEv(i, x1), transferEv(i, x2), success(i)), 3,
          Seq(x1, x2), Nil, None)
      } else if (k < 78) { // failed transfer: no Transfer event
        addEx(Some(from), transferCall(other(from), amount()),
          Seq(failed(i)), 1, Nil, Nil, None)
      } else if (k < 90) { // staking payout: era marker + rewards
        val era = 100 + ((timeMs - Epoch0) / DayMs)
        val validator = accts(r.nextInt(16))
        val nominators = (0 until 1 + r.nextInt(3)).map(_ => pick()).distinct
        val rw = nominators.map(a => a -> amount())
        val events = rec(i, bs(by(7, 0), u32le(era), unhx(validator))) +:
          rw.map { case (a, v) => rec(i, bs(by(7, 1), unhx(a), u128le(v))) } :+
          success(i)
        addEx(Some(from), bs(by(7, 18), unhx(validator), u32le(era)), events,
          1, Nil, rw, None)
      } else { // crowdloan contribution
        val fund = 2000L + r.nextInt(8)
        val v = amount()
        addEx(Some(from), bs(by(73, 1), cp(fund), cp(v)),
          Seq(rec(i, bs(by(73, 1), unhx(from), u32le(fund), u128le(v))),
            success(i)), 1, Nil, Nil, Some((from, fund, v)))
      }
    }
    val eventsHex = hx(bs(cp(evs.length.toLong) +: evs.toSeq: _*))
    val cells = traceCells(c.id, number, hash, timeMs, touched.toSeq, st)
    (Block(c.id, number, hash, parent, timeMs, author, exs.toSeq, eventsHex),
      cells)
  }

  private lazy val accountPrefix: Array[Byte] =
    Codec.twox128("System".getBytes("UTF-8")) ++
      Codec.twox128("Account".getBytes("UTF-8"))
  private lazy val nowKey: String = hx(
    Codec.twox128("Timestamp".getBytes("UTF-8")) ++
      Codec.twox128("Now".getBytes("UTF-8")))

  /** `Timestamp.Now` plus one `System.Account` cell per touched account. */
  private def traceCells(chain: Int, number: Long, hash: String,
      timeMs: Long, touched: Seq[String],
      st: scala.collection.mutable.Map[String, Acct]): Seq[TraceCell] = {
    val now = TraceCell(chain, number, hash, timeMs, 0, nowKey,
      hx(bs(cp(timeMs))), None, None)
    now +: touched.zipWithIndex.map { case (a, i) =>
      val pk = unhx(a)
      val info = st(a)
      val key = hx(accountPrefix ++ Codec.blake2b(pk, 16) ++ pk)
      val value = hx(bs(u32le(info.nonce), u32le(0), u32le(1), u32le(0),
        u128le(info.free), u128le(info.reserved), u128le(0), u128le(0)))
      TraceCell(chain, number, hash, timeMs, i + 1, key, value, Some(a),
        Some(info))
    }
  }

  // ---- streaming candidates ----

  /** One candidate delivery as the crawler lands it. */
  final case class Candidate(block: Block, hash: String, finalized: Boolean)

  /** Candidate deliveries for `blocks`, in landing order: each block
    * first arrives unfinalized (sometimes twice, sometimes next to a fork
    * sibling with another hash), and its finalized delivery lands
    * `lag` blocks later. Every block is delivered finalized exactly
    * once. */
  def candidates(seed: Long, blocks: Seq[Block], lag: Int): Seq[Candidate] = {
    val r = rng(seed, 99L)
    val tip = blocks.flatMap { b =>
      val first = Candidate(b, b.hash, finalized = false)
      val dup = if (r.nextInt(100) < 30) Seq(first) else Nil
      val fork = if (r.nextInt(100) < 15)
        Seq(Candidate(b, blockHash(seed, b.chain, b.number, 1), finalized = false))
      else Nil
      Seq(first) ++ dup ++ fork
    }
    // interleave: the finalized delivery of block i rides with the tip
    // deliveries of block i + lag
    val byBlock = tip.groupBy(c => (c.block.chain, c.block.number))
    blocks.indices.flatMap { i =>
      val b = blocks(i)
      val tipPart = byBlock((b.chain, b.number))
      val fin = if (i >= lag) Seq(Candidate(blocks(i - lag),
        blocks(i - lag).hash, finalized = true)) else Nil
      tipPart ++ fin
    } ++ blocks.takeRight(lag).map(b => Candidate(b, b.hash, finalized = true))
  }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  /** NDJSON row in the raw-hex block shape plus the finalized flag. */
  def candidateJson(c: Candidate): String = {
    val b = c.block
    val exs = b.exs.map(e => "\"" + e.hex + "\"").mkString("[", ",", "]")
    s"""{"chain_id":${b.chain},"number":${b.number},"hash":"${c.hash}",""" +
      s""""parent_hash":"${b.parent}","block_time":"${isoFmt.format(
        java.time.Instant.ofEpochMilli(b.timeMs))}",""" +
      s""""finalized":${c.finalized},"author_pub":"${b.author}",""" +
      s""""extrinsics_hex":$exs,"events_hex":"${b.eventsHex}"}"""
  }
}
