package perfbench

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `query_suite`: a fixed named subset of the `operators.*.queries`
  * inventory, covering every `operators/` module and
  * `etl.WriterQueries`, over tables the benchmark generates from the
  * seed ([[QueryInputs]]). The shared stage its queries read is reset
  * and rebuilt through its public `reset*`/`warm*` functions first,
  * timed as its own step. Then the subset runs once, in an order the
  * seed permutes; each query is timed from its call to the end of a
  * `count()` of its result, as `graft.Bench` runs it, and pays its own
  * codegen. The unit operation is the pass: it sums 18 queries of unlike
  * cost, so its time is steadier than a median over single queries.
  *
  * The answers are checked after the JVM exits: the runner executes each
  * query's DuckDB oracle (`SparkEntry.oracleSql`) over the same files
  * and compares row counts. This program hands it the counts and the
  * SQL in `<work>_check/expect.json`, next to the tables it wrote. */
object QuerySuite {

  type Query = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Query])] = Seq(
    "Flagship" -> graft.Flagship.queries,
    "Aggregates" -> Aggregates.queries,
    "ContractOps" -> ContractOps.queries,
    "DedupOps" -> DedupOps.queries,
    "DexOps" -> DexOps.queries,
    "DimOps" -> DimOps.queries,
    "FlattenOps" -> FlattenOps.queries,
    "GovOps" -> GovOps.queries,
    "GraphOps" -> GraphOps.queries,
    "JoinOps" -> JoinOps.queries,
    "KeyOps" -> KeyOps.queries,
    "MultimodalOps" -> MultimodalOps.queries,
    "PipelineOps" -> PipelineOps.queries,
    "SnapshotOps" -> SnapshotOps.queries,
    "TextOps" -> TextOps.queries,
    "VectorOps" -> VectorOps.queries,
    "WindowOps" -> WindowOps.queries,
    "WriterQueries" -> graft.etl.WriterQueries.queries)

  /** The subset: one query per module. Every `ContractOps` query reads
    * the shared contracts-dump stage; the others read no stage. */
  val subset: Seq[String] = Seq(
    "p0_pricing_summary", "a1_order_stats", "k19_contracts_dump",
    "d1_exact_dedup", "r1_router_price", "i4_users_audience",
    "p3_json_extract", "g1_conviction_tally", "g3_triangles", "j6_dim_join",
    "k17_chains_dim", "m1_binary_meta", "s1_hash_split", "b14_relay_gov",
    "x1_text_stats", "v1_knn_bruteforce", "w2_lag_delta",
    "j15_upsert_waves")

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
  private val queryOf: Map[String, Query] =
    modules.flatMap(_._2).toMap

  val sf = 0.001

  /** One timed query execution. */
  final case class Exec(name: String, ms: Double, rows: Option[Long])

  def run(env: Env): Outcome = {
    val spark = env.spark
    val tr = env.tracer
    val checkDir = s"${env.work}_check"
    Main.deleteTree(java.nio.file.Paths.get(checkDir))
    val in = s"$checkDir/in"
    val (_, genS) = tr.span("setup")(env.setupMedian(3) { k =>
      val dir = if (k == 0) in else s"${env.work}/in$k"
      val (b, g) = env.time(QueryInputs.write(spark, env.seed, sf, dir))
      env.log(f"setup $k: generate and write $g%.2f s, $b bytes")
      b
    })
    env.log(f"setup ${env.sessionStartS}%.2f s session + $genS%.2f s inputs")

    val execs = scala.collection.mutable.ArrayBuffer[Exec]()
    val t0 = System.nanoTime()
    val stageS = tr.span("run") {
      val (_, st) = env.time(tr.span("operators.stages") {
        ContractOps.resetContractsDump()
        ContractOps.warmContractsDump(spark, in)
      })
      shuffle(subset, Gen.rng(env.seed, 700L)).foreach { q =>
        val q0 = System.nanoTime()
        val rows = try Some(tr.span(s"operators.${moduleOf(q)}") {
          queryOf(q)(spark, in).count()
        }) catch { case e: Exception =>
          env.log(s"$q failed: $e")
          None
        }
        execs += Exec(q, (System.nanoTime() - q0) / 1e6, rows)
        env.log(f"$q%-22s ${execs.last.ms}%8.1f ms rows=${rows.getOrElse(-1L)}")
      }
      st
    }
    env.heapCheckpoint()
    val runS = (System.nanoTime() - t0) / 1e9
    env.log(f"stages $stageS%.2f s; ${execs.size} queries in $runS%.2f s")

    val failed = execs.count(_.rows.isEmpty).toLong
    writeExpect(s"$checkDir/expect.json", in, execs.toSeq)
    Outcome(execs.size.toLong, failed, failed == 0,
      Seq(execs.map(_.ms).sum), execs.size / runS, env.sessionStartS + genS,
      layers(env, execs.toSeq, stageS))
  }

  /** Fisher–Yates with the seed's stream. */
  def shuffle[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Per query: its row count (null if it threw) and its oracle SQL. */
  private def writeExpect(path: String, in: String, execs: Seq[Exec]): Unit = {
    val qs = execs.map { e =>
      s"""{"name":"${e.name}","rows":${e.rows.getOrElse("null")},""" +
        s""""sql":"${esc(graft.SparkEntry.oracleSql(e.name))}"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"dir":"${esc(in)}","queries":${qs.mkString("[", ",", "]")}}""" + "\n")
  }

  /** Per-layer numbers from the traced run: per module, its query time;
    * the stage build; and jobs and shuffle bytes per query. */
  def layers(env: Env, execs: Seq[Exec], stageS: Double): Map[String, Double] = {
    val tr = env.tracer
    if (!tr.enabled) return Map.empty
    val perModule = modules.map(_._1).map(m => s"operators.$m.s" ->
      execs.filter(e => moduleOf(e.name) == m).map(_.ms).sum / 1e3)
    val qs = modules.map(_._1).flatMap(m => tr.named(s"operators.$m"))
    def perQuery(k: String) =
      if (qs.isEmpty) 0.0 else qs.map(_.counter(k)).sum / qs.size
    perModule.toMap ++ Map(
      "operators.stages.s" -> stageS,
      "operators.jobs_per_query" -> perQuery("jobs"),
      "operators.shuffle_bytes" -> perQuery("shuffle_bytes"))
  }
}
