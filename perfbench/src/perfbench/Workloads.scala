package perfbench

import graft.api.Graft
import graft.{Op, OpModule}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/** One closed-loop call: `build` is the call into the owning module,
  * returning its DataFrame, whose rows are then collected to the driver
  * as a report reader does. `inputRows` gives the input rows it reads
  * from the tables' row counts. */
final case class BenchOp(name: String, module: String,
    inputRows: Map[String, Long] => Long,
    build: SparkSession => DataFrame, oracle: Option[String] = None)

/** A workload: the op list of pass `p` (the same work every pass). */
trait Workload {
  def tables: Seq[String]
  def pass(p: Int): Seq[BenchOp]
  /** A pass's wall on the reference host (4 vCPUs): a run of S seconds
    * makes round(S / nominalPassS) passes, so every run does the same
    * work. */
  def nominalPassS: Double
  /** Part of every set-up, after the input checks; `passes` is the
    * number of timed passes the run will make. */
  def prepare(s: SparkSession, passes: Int): Unit = ()
  /** Untimed work before the warm-up pass. */
  def warmup(s: SparkSession): Unit = ()
  /** A check of a collected result, besides the warm-up's hash. */
  def verify(op: BenchOp, rows: Array[Row]): Option[String] = None
}

object Workloads {
  private val registries: Seq[(String, OpModule)] = Seq(
    "ga" -> graft.ga.GaOps, "ga" -> graft.ga.FlowOps,
    "ga" -> graft.ga.JourneyOps, "ops" -> graft.ops.Scans,
    "ops" -> graft.ops.Joins, "ops" -> graft.ops.Aggs,
    "ops" -> graft.ops.Windows, "vec" -> graft.vec.VectorOps)

  /** A declared registry op, run as `SparkEntry.queries` runs it. */
  def declared(name: String, data: String, inputs: Seq[String]): BenchOp = {
    val (module, op: Op) = registries.iterator
      .flatMap { case (m, r) => r.ops.find(_.name == name).map(m -> _) }
      .nextOption()
      .getOrElse(sys.error(s"no declared op named $name"))
    BenchOp(name, module, rows => inputs.map(rows.getOrElse(_, 0L)).sum,
      s => op.run(s, data), op.oracle)
  }

  def apply(name: String, data: String, work: String, seed: Long): Workload =
    name match {
      case "interactive" => new Interactive(data, seed)
      case "curate_ingest" => new CurateIngest(data, work)
      case "selftest" => SelfTest
      case other => sys.error(s"unknown workload $other")
    }
}

/** Report-DSL queries, declared GA / flow / journey ops, a join and a
  * per-customer top-3 window of the relational ops, and ANN top-k, all
  * collected to the driver. The seed draws the report queries'
  * dimensions, filters, segments and date ranges. */
final class Interactive(data: String, seed: Long) extends Workload {
  val tables = Seq("events", "embeddings", "orders", "lineitem")
  private val declaredOps = Seq(
    "ga_report", "markov_transitions", "inter_event_hist").map(
      Workloads.declared(_, data, Seq("events"))) ++
    Seq("join_inner" -> Seq("lineitem", "orders"),
      "window_rank" -> Seq("orders")).map {
        case (n, in) => Workloads.declared(n, data, in) } ++
    Seq("vector_topk", "ivf_topk", "pq_topk").map(
      Workloads.declared(_, data, Seq("embeddings")))

  /** Two report templates of fixed shape, so every seed costs about the
    * same: the seed draws a 10-day date range, one of two dimensions of
    * equal cardinality (day, `k_bucket`), the filtered event types or
    * value threshold, and the segment's condition. */
  private val reports: Seq[BenchOp] = {
    val rnd = new scala.util.Random(seed)
    val types = Seq("click", "error", "purchase", "signup", "view")
    def day(d: Int) = f"2024-01-$d%02d"
    def tenValued(): (String, Column) =
      if (rnd.nextBoolean()) "day" -> to_date(col("ts"))
      else "k_bucket" -> expr("cast(get_json_object(props, '$.k') as int) div 10")
    val d0 = 1 + rnd.nextInt(19)
    val byUsers = Graft.query()
      .dateRange(day(d0), day(d0 + 10))
      .filters(rnd.shuffle(types).take(2).map(t => s"ga:event_type==$t")
        .mkString(","))
      .segment(s"users::condition::ga:event_type==${types(rnd.nextInt(5))}")
      .dimensions("event_type" -> col("event_type"), tenValued())
      .metrics("n_events" -> count(lit(1)),
        "n_users" -> countDistinct(col("user_id")))
      .sortDesc("n_events").maxResults(50)
    val d1 = 1 + rnd.nextInt(19)
    val bySessions = Graft.query()
      .dateRange(day(d1), day(d1 + 10))
      .filters(f"ga:value>${40.5 + rnd.nextInt(20)}%.1f")
      .segment(s"sessions::condition::ga:value>${200 + rnd.nextInt(50)}")
      .dimensions(tenValued())
      .metrics("n_events" -> count(lit(1)),
        "total_value" -> round(sum(col("value")), 2))
      .sortDesc("n_events").maxResults(20)
    Seq("report_users" -> byUsers, "report_sessions" -> bySessions).map {
      case (name, q) => BenchOp(name, "api", _.getOrElse("events", 0L),
        s => q.toDF(s, data))
    }
  }

  val nominalPassS = 8.0
  def pass(p: Int): Seq[BenchOp] = declaredOps ++ reports
}

/** Ledger-mode `Graft.curateIngest` into one base that grows for the
  * whole run, semantic stage armed (7 snapshot tables). The corpus is
  * cut into equal doc_id-ordered slices, one per tick: the warm-up pass
  * ingests the seed tick and one steady tick (so the steady path is
  * compiled before the window), and every timed pass one more steady
  * tick, so each table gains a version per tick. The cuts depend only
  * on the number of passes, so runs of one length do the same work.
  * Before the warm-up pass, a one-shot `Graft.curate` runs over the
  * whole corpus; the last tick's report must equal its report (the
  * ApiSpec property), which also pins every earlier tick's commits. */
final class CurateIngest(data: String, work: String) extends Workload {
  val tables = Seq("documents", "embeddings")
  val warmTicks = 2
  val nominalPassS = 8.0
  val base = s"$work/curate/base"

  def docs(s: SparkSession): DataFrame =
    s.read.parquet(s"$data/documents.parquet")
      .select("doc_id", "text", "n_chars")

  def emb(s: SparkSession): DataFrame =
    s.read.parquet(s"$data/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))

  /** Tick upper bounds (equal doc_id slices) and each slice's docs. */
  private var cuts: Seq[Long] = Nil
  private var sliceDocs: Seq[Long] = Nil

  override def prepare(s: SparkSession, passes: Int): Unit = {
    val ticks = warmTicks + passes
    val n = docs(s).agg(max(col("doc_id"))).head.getLong(0) + 1
    cuts = (1 to ticks).map(i => n * i / ticks - 1)
    val counts = docs(s).select(cuts.indices.map(i =>
      sum(when(inSlice(i), 1L).otherwise(0L))): _*).head()
    sliceDocs = cuts.indices.map(counts.getLong)
  }

  private def inSlice(i: Int): Column = {
    val lo = if (i == 0) -1L else cuts(i - 1)
    col("doc_id") > lo && col("doc_id") <= cuts(i)
  }

  private def slice(s: SparkSession, i: Int): DataFrame =
    docs(s).filter(inSlice(i))

  /** The slice of the latest tick built. */
  private var last = -1

  private def tick(name: String, i: Int): BenchOp =
    BenchOp(name, "api", _ => sliceDocs(i), { s =>
      last = i
      Graft.curateIngest(slice(s, i), base, 0.4, Some(i + 1L), Some(emb(s)))
    })

  def pass(p: Int): Seq[BenchOp] =
    if (p < 0) Seq(tick("seed_tick", 0), tick("warm_tick", 1))
    else Seq(tick("tick", warmTicks + p))

  /** The stage tables a tick commits to. */
  val stageTables = Seq("quality", "exact", "near", "bands", "sem", "semidx",
    "semseeds")

  /** stage -> (n_docs, n_tokens) of a curate report. */
  def report(rows: Array[Row]): Map[String, (Long, Long)] =
    rows.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap

  private var oneShot: Map[String, (Long, Long)] = Map.empty

  override def warmup(s: SparkSession): Unit =
    oneShot = report(
      Graft.curate(docs(s), s"$work/curate/oneshot", 0.4, Some(emb(s)))
        .collect())

  override def verify(op: BenchOp, rows: Array[Row]): Option[String] =
    if (last != cuts.size - 1 || report(rows) == oneShot) None
    else Some(s"last tick report ${report(rows)} != one-shot curate $oneShot")
}

/** One op that works and one that throws: the failure accounting check
  * of test_metrics.py. Not a benchmark workload. */
object SelfTest extends Workload {
  val tables = Nil
  val nominalPassS = 1.0
  def pass(p: Int): Seq[BenchOp] = Seq(
    BenchOp("ok", "ops", _ => 10L, s => s.range(10).toDF()),
    BenchOp("boom", "ops", _ => 0L,
      _ => throw new IllegalStateException("selftest op fails on purpose")))
}
