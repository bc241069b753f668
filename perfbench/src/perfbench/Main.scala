package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one process.
  *
  * Sequence: session start, the workload's set-up (timed apart as
  * `setup.*` spans), a warm-up, then a single closed-loop client that
  * issues the workload's operations back to back for `--seconds`, then
  * output checks and the fixed-work sentinel, all outside the timed
  * spans. With `--trace 1` a Spark/Streaming listener is attached while
  * the workload asks for it, per-layer metrics come from the traced
  * operations, and the spans and job records are written to `--traces`.
  *
  * The last line of standard output is the result:
  * `{"correct", "attempted", "failed", "metrics": {name: value}}` with
  * every metric the run measured; `run.py` picks the ones BENCHMARK.json
  * declares and adds their units. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, traces: String)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, o.work)
    val run = new Run(spark, o, cores)
    run.tracer.record("setup.session", jvmStart, System.currentTimeMillis())
    val code =
      try report(run, execute(run))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          1
      } finally spark.stop()
    sys.exit(code)
  }

  /** Local Spark with one worker thread per core, scratch in `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = m.getOrElse(k, {
      System.err.println(s"[perfbench] missing $k"); sys.exit(2)
    })
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--traces"))
  }

  /** What a finished run measured. */
  final case class Outcome(endToEnd: Map[String, Double],
                           layers: Map[String, Double])

  private def execute(run: Run): Outcome = {
    val w: Workload = run.opts.workload match {
      case "etl_daily" => new EtlDaily(run)
      case "index_lifecycle" => new IndexLifecycle(run)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    w.setup()
    run.setupStep("warmup")(w.warmup())
    run.loop(w)
    val (_, checks) = run.tracer.span("check")(w.finish())
    System.err.println(f"[perfbench] output checks ${checks.seconds}%.3f s")
    val sentinel = run.sentinel()
    System.err.println(f"[perfbench] box.sentinel_s=$sentinel%.4f")
    val setupParts = run.tracer.spans.filter(_.name.startsWith("setup."))
      .groupBy(_.name).map { case (n, ss) => n -> Stats.median(ss.map(_.seconds)) }
    System.err.println("[perfbench] setup: " + setupParts.toSeq.sorted
      .map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
    // the loop's operations by kind (span name)
    val kinds = run.tracer.spans.filter(s => s.req >= 0 && !s.failed)
      .groupBy(_.name).values.toSeq
    // like operations with the listener against without it
    val paired = kinds.flatMap { ss =>
      val (on, off) = ss.partition(_.traced)
      if (on.nonEmpty && off.nonEmpty)
        Some(Stats.median(on.map(_.seconds)) -> Stats.median(off.map(_.seconds)))
      else None
    }
    val common = Map(
      "box.sentinel_s" -> sentinel,
      // per series of one kind under one listener state, in run order
      "iter_drift" -> Stats.median(kinds.flatMap(_.groupBy(_.traced).values)
        .filter(_.size >= 2).map(ss => Stats.drift(ss.sortBy(_.id).map(_.seconds)))),
      "trace_overhead_frac" ->
        (if (paired.nonEmpty) paired.map(_._1).sum / paired.map(_._2).sum - 1
         else 0.0),
      "heap_peak_mb" -> run.heapPeakMb) ++
      setupParts.map { case (n, s) => s"${n}_s" -> s }
    val e2e = w.endToEnd + ("setup_s" -> setupParts.values.sum)
    Outcome(e2e, if (run.opts.trace) e2e ++ common ++ w.layers else Map.empty)
  }

  private def report(run: Run, out: Outcome): Int = {
    val measured = if (run.opts.trace) out.layers else out.endToEnd
    val values = measured.toSeq.sortBy(_._1).map { case (name, v) =>
      if (v.isNaN || v.isInfinite) run.fail(s"metric $name is $v")
      name -> (if (v.isNaN || v.isInfinite) -1.0 else v)
    }
    if (run.opts.trace) run.writeTrace()
    val metrics = values.map { case (n, v) => s""""$n": ${num(v)}""" }
      .mkString("{", ", ", "}")
    val failed = math.min(run.attempted, run.failed)
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": $failed, "metrics": $metrics}""")
    0
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

/** The benchmark's state shared by the workloads: the session, the
  * tracer, the optional listener, and the operation and failure counts. */
final class Run(val spark: SparkSession, val opts: Main.Opts,
                val cores: Int) {
  val tracer = new Tracer
  val listener: Option[LayerListener] =
    if (opts.trace) Some(new LayerListener) else None
  private var attached = false
  var attempted = 0L
  var failed = 0L

  def seed: Long = opts.seed
  def work: String = opts.work
  /** Whether this is a traced run (`--trace 1`). */
  def tracing: Boolean = listener.isDefined

  /** Attaches or detaches the listener (a no-op in an untraced run). The
    * listener bus is drained first, so every event of the operations
    * before the switch is delivered under the old state. */
  def listening(on: Boolean): Unit = listener.foreach { l =>
    if (on != attached) {
      val sc = spark.sparkContext
      org.apache.spark.perfbench.Bus.drain(sc)
      if (on) { sc.addSparkListener(l); spark.streams.addListener(l.streams) }
      else { sc.removeSparkListener(l); spark.streams.removeListener(l.streams) }
      attached = on
    }
  }

  /** One user-visible operation inside a span. A throw counts as a
    * failure and yields None. */
  def op[T](name: String, req: Long)(body: => T): Option[(T, Span)] = {
    attempted += 1
    try {
      val r = tracer.span(name, req, attached)(body)
      System.err.println(f"[perfbench] $name#$req ${r._2.seconds}%.3f s")
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$name (iteration $req) threw: $e")
        None
    }
  }

  /** A one-time set-up step inside a `setup.*` span. */
  def setupStep[T](name: String)(body: => T): T = {
    val (r, s) = tracer.span(s"setup.$name")(body)
    System.err.println(f"[perfbench] setup.$name ${s.seconds}%.3f s")
    r
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Runs `w.iterate(i)` for i = 0, 1, ... until `opts.seconds` have
    * passed and at least `w.minIterations` iterations are done. With
    * tracing on, the listener is attached for iteration i when
    * `w.listenerOn(i)` says so. */
  def loop(w: Workload): Unit = {
    val pools = ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    var i = 0
    while (i < w.minIterations || System.nanoTime() < deadline) {
      listening(w.listenerOn(i))
      val wall = try w.iterate(i) finally listening(false)
      System.err.println(f"[perfbench] iteration $i ${wall}%.3f s")
      i += 1
    }
    heapPeakMb = {
      import scala.jdk.CollectionConverters._
      pools.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
  }

  var heapPeakMb = 0.0

  /** Runs untimed work (warm-up, output checks) on up to one thread per
    * core; a throw is returned, not raised. */
  def concurrently[T](tasks: Seq[() => T]): Seq[Either[Throwable, T]] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors}
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(cores, tasks.size)))
    try {
      tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
        .map(f => try Right(f.get()) catch {
          case e: ExecutionException => Left(e.getCause)
        })
    } finally pool.shutdown()
  }

  /** The fixed-work sentinel in `graft.Bench`'s shape: 256M xxhash64 rows
    * summed on one input partition per core, after a GC, median of three.
    * Dividing a time by it separates a slower program from a slower
    * machine. */
  def sentinel(): Double = {
    import org.apache.spark.sql.functions.{col, shiftright, sum, xxhash64}
    Stats.median((1 to 3).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 256L * 1000L * 1000L, 1L, cores)
        .select(sum(shiftright(xxhash64(col("id")), 33)))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** Bytes on disk under `path`. */
  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else f.length
    walk(new File(path))
  }

  def deleteTree(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
      f.delete()
    }
    walk(new File(path))
  }

  /** Writes the spans and job records as JSON lines to `opts.traces`. */
  def writeTrace(): Unit = {
    val dir = new File(opts.traces)
    dir.mkdirs()
    val f = new File(dir, s"${opts.workload}-seed${opts.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      tracer.spans.foreach { s =>
        w.println(s"""{"span": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
          s""""req": ${s.req}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
          s""""s": ${s.seconds}, "failed": ${s.failed}, "traced": ${s.traced}}""")
      }
      listener.foreach(_.jobs.sortBy(_.id).foreach { j =>
        w.println(s"""{"job": ${j.id}, "submit_ms": ${j.submitMs}, "end_ms": ${j.endMs}, """ +
          s""""streaming": ${j.streaming}, "stages": [${j.stages.mkString(", ")}]}""")
      })
    } finally w.close()
    System.err.println(s"[perfbench] trace written to $f")
  }
}

/** A workload: one-time set-up, a warm-up, and closed-loop iterations. */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def minIterations: Int
  /** Whether a traced run attaches the listener for iteration `i`. */
  def listenerOn(i: Int): Boolean
  /** One loop iteration; returns the wall of its timed operations. */
  def iterate(i: Int): Double
  /** Output checks that need the whole run (outside the timed spans). */
  def finish(): Unit
  /** End-to-end metrics except `setup_s`, plus the tails. */
  def endToEnd: Map[String, Double]
  /** Workload-specific per-layer metrics, from the traced operations. */
  def layers: Map[String, Double]
}
