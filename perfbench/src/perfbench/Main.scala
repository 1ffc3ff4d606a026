package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One run of one workload: set-up (timed several times), a warm-up pass
  * that fixes each op's expected result hash and runs the checks, then
  * the timed window of whole passes (see [[Workload.nominalPassS]]). Writes the
  * raw run record as JSON to `--out`; `run.py` turns it into metrics.
  *
  *   java ... perfbench.Main --workload W --data DIR --work DIR
  *     --seconds S --trace 0|1 --seed N --rows t=n,... --out FILE
  */
object Main {
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, seed: Long, rows: Map[String, Long],
      out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong,
      m.getOrElse("rows", "").split(",").filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("="); k -> v.toLong
      }.toMap, m("out"))
  }

  def session(work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the traced run counts local file-system calls
    if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.ext.GraftFunctions.register(s)
    s
  }

  /** Order-insensitive hash of collected rows. */
  def rowsHash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def fsOps(): (Long, Long) =
    (CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get)

  /** Post-GC heap occupancy in MB. Two full collections, the second
    * after Spark's ContextCleaner has released what the first freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmBoot = now() - ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val wl = Workloads(a.workload, a.data, a.work, a.seed)
    val records = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
    val expected = scala.collection.mutable.HashMap.empty[String, String]
    val trace = new Trace
    var spark: SparkSession = null

    val nPasses = math.max(if (a.trace) 2 else 1,
      math.round(a.seconds / wl.nominalPassS).toInt)

    // ---- set-up, timed several times: session start and input checks
    val setupReps = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = session(a.work, a.trace)
      wl.tables.foreach { t =>
        val n = spark.read.parquet(s"${a.data}/$t.parquet").count()
        require(a.rows.get(t).forall(_ == n),
          s"input $t has $n rows, generator wrote ${a.rows(t)}")
      }
      wl.prepare(spark, nPasses)
      now() - t0
    }
    val sc = spark.sparkContext

    // ---- warm-up and check pass, untimed: fixes each op's expected
    // result and writes oracle ops' results for the DuckDB compare
    val checks = ArrayBuffer.empty[String]
    val warm0 = now()
    wl.warmup(spark)
    wl.pass(-1).foreach { op =>
      try {
        val df = op.build(spark)
        expected(op.name) = op.oracle match {
          case Some(sql) =>
            val dir = s"${a.work}/out/${op.name}"
            df.write.mode("overwrite").parquet(dir)
            checks += Json.obj("name" -> Json.str(op.name),
              "dir" -> Json.str(dir), "sql" -> Json.str(sql.trim))
            rowsHash(spark.read.parquet(dir).collect())
          case None =>
            val rows = df.collect()
            wl.verify(op, rows).foreach(e => errors += s"${op.name}: $e")
            rowsHash(rows)
        }
      } catch { case NonFatal(e) => errors += s"${op.name} (warm-up): $e" }
    }
    val warmupS = now() - warm0

    // ---- timed window: a fixed number of whole passes. A traced run
    // traces every other op, starting with the first op in even passes
    // and the second in odd ones, so over two passes each op runs both
    // ways and in both orders. The listeners are installed only while
    // an op is traced; the counting file system stays installed.
    var window = 0.0
    var passes = 0
    val heapMb = ArrayBuffer.empty[Double]
    var rowsRead = 0L
    while (passes < nPasses) {
      val p0 = now()
      var untimed = 0.0
      wl.pass(passes).zipWithIndex.foreach { case (op, i) =>
        val traced = a.trace && (i + passes) % 2 == 0
        val id = trace.newId()
        if (traced) {
          trace.attach(spark)
          sc.setLocalProperty(Trace.SpanProp, id.toString)
        }
        val (r0, w0) = fsOps()
        val t0 = now()
        var tb = t0
        val outcome: Either[Throwable, Array[Row]] =
          try {
            val df = op.build(spark)
            tb = now()
            Right(df.collect())
          } catch { case NonFatal(e) => Left(e) }
        val t1 = now()
        val (r1, w1) = fsOps()
        sc.setLocalProperty(Trace.SpanProp, null)
        if (traced) {
          trace.add(Span(id, 0, op.name, op.module, t0, t1))
          trace.add(Span(trace.newId(), id, "build", op.module, t0, tb))
          if (outcome.isRight)
            trace.add(Span(trace.newId(), id, "action", "spark", tb, t1))
        }
        val (ok, wrong, err) = outcome match {
          case Left(e) =>
            (false, false, s"${e.getClass.getName}: ${e.getMessage}")
          case Right(rows) =>
            val bad = expected.get(op.name).filter(_ != rowsHash(rows))
              .map(_ => "result differs from the warm-up pass")
              .orElse(wl.verify(op, rows))
            (bad.isEmpty, bad.nonEmpty, bad.getOrElse(""))
        }
        if (!ok) errors += s"${op.name}: $err"
        if (ok) rowsRead += op.inputRows(a.rows)
        records += Json.obj("op" -> Json.str(op.name), "span" -> Json.num(id.toLong),
          "module" -> Json.str(op.module), "pass" -> Json.num(passes.toLong),
          "traced" -> Json.bool(traced), "ok" -> Json.bool(ok),
          "wrong" -> Json.bool(wrong), "error" -> Json.str(err),
          "start" -> Json.num(t0), "build_end" -> Json.num(tb),
          "end" -> Json.num(t1), "fs_read_ops" -> Json.num(r1 - r0),
          "fs_write_ops" -> Json.num(w1 - w0))
        // direct Snapshots.latest per stage table, and the wait for the
        // listener bus, kept out of the window
        if (traced) {
          val l0 = now()
          wl match {
            case c: CurateIngest => c.stageTables.foreach { t =>
              val path = s"${c.base}/$t"
              val t0 = now()
              graft.sources.Snapshots.latest(spark, path)
              val t1 = now()
              val v = graft.sources.Snapshots.versions(spark, path).size
              trace.add(Span(trace.newId(), 0, s"latest:$t:$v", "sources", t0, t1))
            }
            case _ => ()
          }
          trace.detach(spark)
          untimed += now() - l0
        }
      }
      window += now() - p0 - untimed
      passes += 1
      heapMb += liveHeapMb()
    }

    spark.stop()

    val json = Json.obj(
      "workload" -> Json.str(a.workload),
      "jvm_boot_s" -> Json.num(jvmBoot),
      "setup_reps_s" -> Json.arr(setupReps.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "window_s" -> Json.num(window),
      "passes" -> Json.num(passes.toLong),
      "rows_read" -> Json.num(rowsRead),
      "heap_mb" -> Json.arr(heapMb.toSeq.map(Json.num)),
      "errors" -> Json.arr(errors.toSeq.map(Json.str)),
      "oracle" -> Json.arr(checks.toSeq),
      "ops" -> Json.arr(records.toSeq),
      "trace" -> (if (a.trace) trace.toJson else "null"))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.write(json) finally w.close()
  }
}
