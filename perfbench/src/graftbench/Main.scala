package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.{CnfBase, Dimacs}

/** One benchmark JVM: set up, run one workload's operation in a closed loop
  * (one client, one operation at a time), check its output, and print one
  * `GRAFTBENCH_RESULT <json>` line for the `run.py` wrapper.
  *
  *  - untraced (`--trace 0`): end-to-end metrics;
  *  - traced (`--trace 1`): per-layer metrics from spans and a listener;
  *  - `--leg scale1`: the one-core weak-scaling leg (op wall time only).
  */
object Main {
  /** Measured ops per run at least, whatever `--seconds` allows: the
    * median needs three.
    */
  val MinOps = 3
  /** Untimed ops between set-up and measurement: the op after the warm-up
    * op still runs about a third slower than later ones while the JIT
    * compiles graft's and Spark's hot paths.
    */
  val JitWarmOps = 1

  def main(args: Array[String]): Unit = {
    val code =
      try run(Opts.parse(args))
      catch { case e: Throwable => e.printStackTrace(); 3 }
    System.exit(code)
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * o.cores).toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.streams.active.foreach(_.stop())
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[graftbench ${secondsSince(born)}%8.2f] $msg")

  /** Wall and process-CPU seconds of one op, after housekeeping and a GC. */
  private def timed(w: Workload, c: Ctx)(body: => Unit): (Double, Double) = {
    w.beforeOp(c)
    System.gc()
    val (t0, c0) = (System.nanoTime(), Jvm.cpuNs())
    body
    (secondsSince(t0), (Jvm.cpuNs() - c0) / 1e9)
  }

  /** Build-time training run for the class-data-sharing archive
    * (`--workload train:<name>,<name>`): one set-up and op of each named
    * workload in one JVM.
    */
  private def train(o: Opts): Int = {
    val spark = session(o)
    try o.workload.stripPrefix("train:").split(",").map(Workload(_)).foreach { w =>
      val c = new Ctx(spark, o, w.partitioned)
      w.prepare(c)
      w.beforeOp(c)
      w.op(c, None)
      log(s"trained ${w.name}")
    }
    finally stop(spark)
    0
  }

  def run(o: Opts): Int = if (o.workload.startsWith("train:")) train(o) else {
    val w = Workload(o.workload)
    // set-up, once per JVM: session start, seeded inputs, their write
    // through graft.sources, and a warm-up op
    val t0 = System.nanoTime()
    val spark = session(o)
    val c = new Ctx(spark, o, w.partitioned)
    log("session started")
    val rows = w.prepare(c)
    log(s"inputs written: $rows rows")
    w.beforeOp(c)
    w.op(c, None)
    val setup = Setup(secondsSince(t0), Jvm.cpuNs() / 1e9)
    log(f"warm-up op done: set-up ${setup.wallS}%.2f s wall, ${setup.cpuS}%.2f s CPU")
    (1 to JitWarmOps).foreach { i =>
      val (wall, cpu) = timed(w, c)(w.op(c, None))
      log(f"JIT warm-up op $i took $wall%.3f s, $cpu%.2f s CPU")
    }
    log("JIT warm-up ops done")
    try {
      val result =
        if (o.quarter) scaleLeg(w, c, rows)
        else if (o.trace) traced(w, c, rows)
        else untraced(w, c, rows, setup)
      println("GRAFTBENCH_RESULT " + result.json)
      if (result.correct) 0 else 1
    } finally stop(spark)
  }

  /** Set-up wall seconds, and CPU seconds outside the JIT since the JVM
    * started (see `Jvm.cpuNs`).
    */
  final case class Setup(wallS: Double, cpuS: Double)

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Map[String, Double], extra: Map[String, Any]) {
    def json: String = Json.obj(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "extra" -> extra))
  }

  /** Closed loop until the deadline (at least MinOps ops); failed ops are
    * counted, not timed.
    */
  private def loop(w: Workload, c: Ctx)(op: => (Double, Double)): (Seq[(Double, Double)], Int) = {
    val deadline = System.nanoTime() + (c.o.seconds * 1e9).toLong
    val ok = ArrayBuffer.empty[(Double, Double)]
    var attempted = 0
    while (attempted < MinOps || System.nanoTime() < deadline) {
      attempted += 1
      try ok += op
      catch { case NonFatal(e) => e.printStackTrace() }
      val (wall, cpu) = ok.lastOption.getOrElse((-1.0, -1.0))
      log(f"op $attempted took $wall%.3f s, $cpu%.2f s CPU")
    }
    (ok.toSeq, attempted)
  }

  private def runChecks(w: Workload, c: Ctx, t: Option[Tracer]): Seq[Check] =
    try { log("checks"); val cs = w.check(c, t); log("checks done"); cs }
    catch { case NonFatal(e) => e.printStackTrace(); Seq(Check("check_ran", ok = false, e.toString)) }

  private def checksJson(cs: Seq[Check]): Seq[Map[String, Any]] =
    cs.map(k => Map("name" -> k.name, "ok" -> k.ok, "detail" -> k.detail))

  private def untraced(w: Workload, c: Ctx, rows: Long, setup: Setup): Result = {
    val (ops, attempted) = loop(w, c)(timed(w, c)(w.op(c, None)))
    require(ops.nonEmpty, "every operation failed")
    val checks = runChecks(w, c, None)
    val failed = attempted - ops.size + (if (checks.forall(_.ok)) 0 else 1)
    Result(failed == 0, attempted + 1, failed, Map(
      "cpu_us_per_row" -> Stats.median(ops.map(_._2)) / rows * 1e6,
      "setup_s" -> setup.cpuS),
      Map("rows" -> rows, "op_wall_s" -> ops.map(_._1),
        "op_cpu_s" -> ops.map(_._2), "setup_wall_s" -> setup.wallS,
        "checks" -> checksJson(checks)))
  }

  private def scaleLeg(w: Workload, c: Ctx, rows: Long): Result = {
    val (ops, attempted) = loop(w, c)(timed(w, c)(w.op(c, None)))
    require(ops.nonEmpty, "every operation failed")
    Result(attempted == ops.size, attempted, attempted - ops.size, Map.empty,
      Map("rows" -> rows, "op_wall_s" -> Stats.median(ops.map(_._1))))
  }

  /** Alternates untraced ops with traced ones (listener on, spans around
    * every call into graft) for the overhead, then runs the workload's
    * prefix spans, checks and the kernel floor.
    */
  private def traced(w: Workload, c: Ctx, rows: Long): Result = {
    val t = new Tracer(c.spark)
    val plain = ArrayBuffer.empty[Double]
    val (ops, attempted) = loop(w, c) {
      t.listening(false)
      plain += timed(w, c)(w.op(c, None))._1
      t.listening(true)
      t.run += 1
      timed(w, c)(t.span("bench.op")(w.op(c, Some(t))))
    }
    require(ops.nonEmpty, "every operation failed")
    val checks = runChecks(w, c, Some(t))
    val layers = w.layers(c, t)
    val opSpans = t.named("bench.op")
    val engine = opSpans.map { s =>
      val a = t.agg(s)
      Map(
        "spark.tasks" -> a.tasks.toDouble,
        "spark.task_overhead_s" -> a.overheadS,
        "spark.gc_s" -> s.gcMs / 1e3,
        "spark.shuffle_write_mb" -> a.shuffleWriteMb,
        "spark.spill_mb" -> a.spillMb,
        "spark.failed_tasks" -> a.failed.toDouble,
        "spark.effective_cores" -> a.runS / s.durS,
        "spark.idle_core_s" -> (c.o.cores * s.durS - a.runS),
        "spark.driver_only_s" -> (s.durS - a.busyS),
        "spark.heap_peak_mb" -> s.heapPeakMb)
    }
    val failed = attempted - ops.size + (if (checks.forall(_.ok)) 0 else 1)
    val tracedWall = Stats.median(ops.map(_._1))
    val plainWall = Stats.median(plain.toSeq)
    val metrics = engine.head.keys.map(k => k -> Stats.median(engine.map(_(k)))).toMap ++
      layers ++ Map(
        "bench.rows_per_s" -> rows / plainWall,
        "core.kernel_docs_per_cpu_s" -> kernelFloor(c.sampleTexts(400)),
        "trace.overhead_frac" -> (tracedWall / plainWall - 1),
        "failed_frac" -> failed.toDouble / (attempted + 1))
    Files.write(Paths.get(c.path("spans.json")), t.toJson.getBytes(StandardCharsets.UTF_8))
    val selfS = t.spans.groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(t.selfS)) }
    t.close()
    Result(failed == 0, attempted + 1, failed, metrics,
      Map("rows" -> rows, "op_wall_s" -> plainWall, "traced_op_wall_s" -> tracedWall,
        "span_self_s" -> selfS, "checks" -> checksJson(checks)))
  }

  /** Docs per CPU-second of direct single-thread `CnfBase.extract` +
    * `Dimacs.gbdHashCnf` calls: the kernel floor under the Spark stage.
    */
  private def kernelFloor(texts: Array[String]): Double = {
    val docs = texts.map(_.getBytes(StandardCharsets.UTF_8))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    var sink = 0L
    def pass(): Unit = docs.foreach { d =>
      sink += CnfBase.extract(d).length + Dimacs.gbdHashCnf(d).length
    }
    pass()
    val c0 = mx.getCurrentThreadCpuTime
    var n = 0L
    while (mx.getCurrentThreadCpuTime - c0 < 500000000L) { pass(); n += docs.length }
    require(sink > 0, "kernels produced nothing")
    n / ((mx.getCurrentThreadCpuTime - c0) / 1e9)
  }
}
