package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable.ArrayBuffer

/** A traced interval: `layer` is the module that owns the work. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Double, end: Double)

/** In-memory trace of one run, written once at the end.
  *
  * Spans come from the benchmark's own calls into each layer. Jobs and
  * stages are tied to the op span through the SparkContext local
  * property [[Trace.SpanProp]], set before each call; threads the call
  * starts (curateIngest's commit pool) inherit it. Query planning
  * phases come from a QueryExecutionListener and are tied to spans by
  * time, since one client runs one op at a time. Times are epoch
  * seconds. The listeners are registered only between [[attach]] and
  * [[detach]]; nothing is recorded outside them. */
final class Trace extends SparkListener with QueryExecutionListener {
  @volatile private var on = false
  private var nextId = 0
  val spans = ArrayBuffer.empty[Span]
  private val jobs = ArrayBuffer.empty[String]
  private val stages = ArrayBuffer.empty[String]
  private val plans = ArrayBuffer.empty[String]
  private val execDesc = scala.collection.concurrent.TrieMap.empty[Long, String]
  private val jobInfo = scala.collection.concurrent.TrieMap.empty[Int, (String, String, Double)]
  private val stageSpan = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val taskDur = scala.collection.concurrent.TrieMap.empty[Int, ArrayBuffer[Long]]
  private val taskFail = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val blocks = scala.collection.mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  var blockPeak = 0L

  def newId(): Int = synchronized { nextId += 1; nextId }

  /** Starts listening; block bytes count from zero, so the checkpoint
    * peak covers blocks written while attached. */
  def attach(s: SparkSession): Unit = {
    synchronized { blocks.clear(); blockBytes = 0L }
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
    on = true
  }

  /** Waits until every posted event has been delivered, then stops
    * listening. */
  def detach(s: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(s.sparkContext)
    on = false
    s.listenerManager.unregister(this)
    s.sparkContext.removeSparkListener(this)
  }

  def add(s: Span): Unit = if (on) synchronized { spans += s }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execDesc(s.executionId) = s.description
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (on) {
    val props = Option(js.properties)
    val span = props.flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .getOrElse("")
    val site = props
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execDesc.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .orElse(js.stageInfos.lastOption.map(_.name))
      .getOrElse("")
    jobInfo(js.jobId) = (span, site, js.time / 1e3)
    js.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    for ((span, site, t0) <- jobInfo.remove(je.jobId)) synchronized {
      jobs += Json.obj("span" -> Json.str(span), "site" -> Json.str(site),
        "start" -> Json.num(t0), "end" -> Json.num(je.time / 1e3))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (on) {
    if (te.reason == org.apache.spark.Success)
      taskDur.getOrElseUpdate(te.stageId, ArrayBuffer.empty[Long])
        .synchronized(taskDur(te.stageId) += te.taskInfo.duration)
    else taskFail.synchronized {
      taskFail(te.stageId) = taskFail.getOrElse(te.stageId, 0) + 1
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val span = stageSpan.remove(si.stageId)
    val durs = taskDur.remove(si.stageId).map(_.sorted).getOrElse(ArrayBuffer.empty[Long])
    val failed = taskFail.remove(si.stageId).getOrElse(0)
    if (on && span.isDefined) {
      val m = si.taskMetrics
      val sr = m.shuffleReadMetrics
      synchronized {
        stages += Json.obj(
          "span" -> Json.str(span.get),
          "start" -> Json.num(si.submissionTime.getOrElse(0L) / 1e3),
          "end" -> Json.num(si.completionTime.getOrElse(0L) / 1e3),
          "tasks" -> Json.num(si.numTasks),
          "ok_tasks" -> Json.num(durs.size),
          "failed_tasks" -> Json.num(failed),
          "task_time_s" -> Json.num(m.executorRunTime / 1e3),
          "task_cpu_s" -> Json.num(m.executorCpuTime / 1e9),
          "gc_s" -> Json.num(m.jvmGCTime / 1e3),
          "task_max_s" -> Json.num(durs.lastOption.getOrElse(0L) / 1e3),
          "task_median_s" -> Json.num(
            if (durs.isEmpty) 0.0 else durs(durs.size / 2) / 1e3),
          "shuffle_write_bytes" -> Json.num(m.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> Json.num(sr.remoteBytesRead + sr.localBytesRead),
          "fetch_wait_s" -> Json.num(sr.fetchWaitTime / 1e3),
          "spill_bytes" -> Json.num(m.diskBytesSpilled + m.memoryBytesSpilled),
          "scan_rows" -> Json.num(m.inputMetrics.recordsRead),
          "write_bytes" -> Json.num(m.outputMetrics.bytesWritten),
          "write_rows" -> Json.num(m.outputMetrics.recordsWritten))
      }
    }
  }

  /** Cached and checkpointed RDD block bytes, and their running peak. */
  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    val i = bu.blockUpdatedInfo
    if (i.blockId.isInstanceOf[RDDBlockId]) synchronized {
      val key = i.blockId.name
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      blockBytes += now - blocks.getOrElse(key, 0L)
      if (now == 0L) blocks.remove(key) else blocks(key) = now
      if (on) blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (on) {
    val ph = qe.tracker.phases
    def secs(p: String): Double =
      ph.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(0L) / 1e3
    // bytes of the parquet files the query's scans read
    val scanned = Trace.Plans.collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec => f.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    synchronized {
      plans += Json.obj("start" -> Json.num(start),
        "scan_bytes" -> Json.num(scanned),
        "analysis_s" -> Json.num(secs(QueryPlanningTracker.ANALYSIS)),
        "optimization_s" -> Json.num(secs(QueryPlanningTracker.OPTIMIZATION)),
        "physical_s" -> Json.num(secs(QueryPlanningTracker.PLANNING)))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def toJson: String = synchronized {
    Json.obj(
      "spans" -> Json.arr(spans.toSeq.map(s => Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end)))),
      "jobs" -> Json.arr(jobs.toSeq),
      "stages" -> Json.arr(stages.toSeq),
      "plans" -> Json.arr(plans.toSeq),
      "ckpt_bytes_peak" -> Json.num(blockPeak))
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  object Plans extends AdaptiveSparkPlanHelper
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
