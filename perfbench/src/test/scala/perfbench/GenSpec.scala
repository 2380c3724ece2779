package perfbench

import graft.decode.BlockDecode
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  private def bytes(c: Gen.Corpus) =
    c.days.flatMap(d => d.blocks.map(b => b.hash + b.exs.map(_.hex).mkString +
      b.eventsHex) ++ d.traces.map(t => t.k + t.v) ++ d.prices.map(_.toString))

  test("the generator is deterministic per seed and differs across seeds") {
    val a = Gen.corpus(7, 2, 2)
    val b = Gen.corpus(7, 2, 2)
    val c = Gen.corpus(8, 2, 2)
    assert(bytes(a) == bytes(b))
    assert(bytes(a) != bytes(c))
    // sizes depend on the parameters only
    assert(a.allBlocks.size == c.allBlocks.size)
    assert(a.days.map(_.date) == Seq("2024-03-01", "2024-03-02"))
  }

  test("no generated block passes the high-usage marks") {
    val c = Gen.corpus(5, 20, 1)
    assert(c.allBlocks.forall(_.exs.size <= Gen.MaxExtrinsics))
    assert(c.allBlocks.forall(_.exs.map(_.events).sum <= Gen.MaxEvents))
    // the chains differ in load, not in block rate
    val perChain = c.allBlocks.groupBy(_.chain)
    assert(perChain.values.map(_.size).toSet == Set(20))
    assert(perChain(0).map(_.exs.size).sum > perChain(2004).map(_.exs.size).sum)
  }

  test("the query tables are deterministic per seed and differ across seeds") {
    val root = java.nio.file.Files.createTempDirectory("perfbench-q").toString
    def rows(seed: Long, k: Int): Seq[String] = {
      val dir = s"$root/$seed-$k"
      QueryInputs.write(spark, seed, 0.0002, dir)
      QueryInputs.tables.flatMap(t => spark.read.parquet(s"$dir/$t.parquet")
        .collect().map(r => t + r.toSeq.map {
          case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }.mkString("|")).sorted)
    }
    val a = rows(7, 0)
    assert(a == rows(7, 1))
    val c = rows(8, 0)
    assert(a != c)
    assert(a.size == c.size)
  }

  test("candidate deliveries finalize every block exactly once") {
    val blocks = Gen.corpus(3, 2, 1).allBlocks.sortBy(b => (b.timeMs, b.chain))
    val cands = Gen.candidates(3, blocks, lag = 2)
    val fin = cands.filter(_.finalized)
    assert(fin.map(c => (c.block.chain, c.block.number)).sorted ==
      blocks.map(b => (b.chain, b.number)).sorted)
    assert(fin.forall(c => c.hash == c.block.hash))
    // each block's first delivery is unfinalized and precedes its finality
    blocks.foreach { b =>
      val ix = cands.zipWithIndex.filter(_._1.block eq b)
      assert(!ix.head._1.finalized)
      assert(ix.filter(_._1.finalized).head._2 > ix.head._2)
    }
  }

  test("a tiny generated corpus round-trips through decodeBlocks") {
    val sp = spark
    import sp.implicits._
    val c = Gen.corpus(11, 1, 1)
    val raw = Pipeline.hexRows(c.allBlocks).toDS().toDF()
    val got = BlockDecode.decodeBlocks(raw, Pipeline.specDim(spark),
      Seq(Gen.meta)).collect().map(b => (b.chain_id, b.number) -> b).toMap
    assert(got.size == c.allBlocks.size)
    c.allBlocks.foreach { b =>
      val d = got((b.chain, b.number))
      assert(d.extrinsics.map(_.idx) == b.exs.map(_.idx))
      assert(d.extrinsics.map(_.hash) == b.exs.map(_.hash))
      assert(d.extrinsics.map(_.signer_pub) == b.exs.map(_.signer))
      assert(d.extrinsics.map(_.events.size) == b.exs.map(_.events))
      assert(d.extrinsics.map(_.transfers.map(t => (t.from_pub, t.to_pub,
        BigInt(t.raw_amount_hex.stripPrefix("0x"), 16)))) ==
        b.exs.map(_.transfers.map(x => (x.from, x.to, x.amount))))
      // the metadata tier names the staking and crowdloan events
      b.exs.zip(d.extrinsics).foreach { case (e, x) =>
        assert(x.events.count(ev => ev.section == "staking" &&
          ev.method == "Rewarded") == e.rewards.size)
        assert(x.events.count(ev => ev.section == "crowdloan" &&
          ev.method == "Contributed") == e.contribution.size)
      }
    }
    val secs = got.values.flatMap(_.extrinsics.map(_.section)).toSet
    assert(Set("timestamp", "balances", "utility", "staking", "crowdloan")
      .subsetOf(secs))
  }
}
