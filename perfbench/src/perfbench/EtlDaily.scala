package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions._
import graft.pipelines.RefOrchestration

/** `etl_daily`: each iteration is one scheduled run of the reference DAG,
  * `RefOrchestration.runIncremental`, over the staged inputs into a fresh
  * output home (the write), then three full reads of the enriched-orders
  * sink through `RefOrchestration.readOrdersSink` (the reads). The fact
  * feed drains through the AvailableNow stream; the dimension sinks are
  * refreshed by batch jobs. Per-row work dominates (CSV parse, three
  * joins, sort, parquet encode); the index layers do nothing here. */
final class EtlDaily(run: Run) extends Workload {
  private val spark = run.spark
  private val root = s"${run.work}/etl"
  private val in = s"$root/in"
  private val warmIn = s"$root/warm-in"
  private var expect: Inputs.EtlExpect = _
  private val runs = ArrayBuffer.empty[Span]
  private val reads = ArrayBuffer.empty[Span]
  private val bytesPerRow = ArrayBuffer.empty[Double]

  /** A traced run attaches the listener in the order on, off, off, on
    * (repeating), so that a steady drift of the box cancels out of the
    * comparison of like runs with and without it. */
  def minIterations: Int = if (run.tracing) 4 else 2
  def listenerOn(i: Int): Boolean = i % 4 == 0 || i % 4 == 3
  private val stageReps = 3

  /** Staged three times, each from its own seed derived from the run's;
    * the first copy is the one the loop reads. A tenth-size copy feeds
    * the warm-up. */
  def setup(): Unit = {
    (0 until stageReps).foreach { rep =>
      val dir = if (rep == 0) in else s"$root/in-rep$rep"
      val e = run.setupStep("stage") {
        Inputs.stageEtl(dir, Inputs.mix(run.seed, 100, rep))
      }
      if (rep == 0) expect = e else run.deleteTree(dir)
    }
    Inputs.stageEtl(warmIn, Inputs.mix(run.seed, 101), Inputs.FactRows / 10)
  }

  /** Two untimed runs, each with three reads, over the tenth-size copy:
    * the plans are the loop's, so generated and compiled code carries
    * over. It takes runs more than rows: on 4 cores the first timed run
    * was about 17% slower than the second after one warm run of a quarter
    * or the full input, and about 5% after two tenth-size runs. */
  def warmup(): Unit = (0 until 2).foreach { k =>
    val out = s"$root/warm$k"
    RefOrchestration.runIncremental(spark, warmIn, out)
    (0 until 3).foreach { _ =>
      RefOrchestration.readOrdersSink(spark, out)
        .write.format("noop").mode("overwrite").save()
    }
    run.deleteTree(out)
  }

  /** A GC before each timed operation, as `graft.Bench` does before each
    * query: the garbage a 600k-row run leaves is collected then, not
    * billed to whichever read follows it. Without it the reads after the
    * first timed run were up to 50% slower than the later ones on 4 cores,
    * in some runs and not others. */
  private def gcBarrier(): Unit = System.gc()

  def iterate(i: Int): Double = {
    val out = s"$root/out$i"
    gcBarrier()
    val wall = run.op("etl.run", i) {
      RefOrchestration.runIncremental(spark, in, out)
    } match {
      case Some((summary, span)) =>
        runs += span
        // the whole sink, every column: the noop sink keeps Catalyst from
        // pruning the scan the way a count() would. A read is ~20x shorter
        // than a run, so each run is read three times for a steadier median.
        val read = (0 until 3).flatMap { _ =>
          gcBarrier()
          run.op("etl.read", i) {
            RefOrchestration.readOrdersSink(spark, out)
              .write.format("noop").mode("overwrite").save()
          }.map { case (_, s) => reads += s; s.seconds }
        }.sum
        checkOutputs(out, summary.ordersRows)
        span.seconds + read
      case None => 0.0
    }
    run.deleteTree(out)
    wall
  }

  /** The enriched-orders sink holds exactly the rows the benchmark's own
    * join of the staged inputs predicts; the users sink has one row per
    * user with a user_info record, Gender in {M, F, Other} and BirthDay
    * as yyyy-MM-dd; the products sink passes every product through. */
  private def checkOutputs(out: String, reported: Long): Unit = {
    val orders = RefOrchestration.readOrdersSink(spark, out).count()
    run.check(orders == expect.ordersRows && reported == orders,
      s"etl_daily: enriched orders $orders (run reported $reported), " +
        s"expected ${expect.ordersRows}")
    val u = spark.read.parquet(s"$out/users").agg(
      count(lit(1)),
      sum(when(col("Gender").isin("M", "F", "Other"), 0).otherwise(1)),
      sum(when(col("BirthDay").rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"), 0)
        .otherwise(1))).head()
    run.check(u.getLong(0) == expect.usersRows && u.getLong(1) == 0 &&
      u.getLong(2) == 0,
      s"etl_daily: users sink rows=${u.getLong(0)} (expected " +
        s"${expect.usersRows}), bad Gender=${u.getLong(1)}, " +
        s"bad BirthDay=${u.getLong(2)}")
    val products = spark.read.parquet(s"$out/products").count()
    run.check(products == expect.productsRows,
      s"etl_daily: products sink $products, expected ${expect.productsRows}")
    if (orders > 0) bytesPerRow += Seq("orders", "users", "products")
      .map(t => run.bytesUnder(s"$out/$t")).sum.toDouble / orders
  }

  def finish(): Unit = ()

  def endToEnd: Map[String, Double] = {
    val w = Span.plainOrAll(runs.toSeq).map(_.seconds)
    val r = Span.plainOrAll(reads.toSeq).map(_.seconds)
    val all = w ++ r
    Map("write_s" -> Stats.median(w), "read_s" -> Stats.median(r),
      "ops_per_s" -> (if (all.sum > 0) all.size / all.sum else 0.0),
      "bytes_per_row" -> Stats.median(bytesPerRow.toSeq),
      "write_tail_s" -> Stats.tail(w), "read_tail_s" -> Stats.tail(r))
  }

  /** The run splits at the fact stream: jobs carrying the streaming query
    * id are `streaming_facts`, from the first of them to the end of the
    * run; everything before is `sources_dims` (CSV/JSON extract and the
    * dimension sinks). */
  def layers: Map[String, Double] = run.listener.fold(Map.empty[String, Double]) { l =>
    val traced = run.tracer.named("etl.run").filter(_.traced)
    val per = traced.map { s =>
      val firstStream = l.jobs.filter(j => j.streaming &&
        j.submitMs >= s.startMs && j.submitMs <= s.endMs)
        .map(_.submitMs).minOption.getOrElse(s.endMs)
      val dims = l.usage(s.startMs, firstStream, !_.streaming)
      val facts = l.usage(firstStream, s.endMs, _.streaming)
      val prog = l.progressIn(s.startMs, s.endMs)
      (dims, facts, prog)
    }
    def fields(prefix: String, us: Seq[Usage]): Map[String, Double] = {
      def med(f: Usage => Double) = Stats.median(us.map(f))
      Map("jobs" -> med(_.jobs.toDouble), "tasks" -> med(_.tasks.toDouble),
        "task_s" -> med(_.taskS), "cpu_util" -> med(_.cpuUtil(run.cores)),
        "driver_gap_s" -> med(_.gapS), "max_task_share" -> med(_.maxTaskShare),
        "input_bytes" -> med(_.inBytes.toDouble),
        "shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
        "spill_bytes" -> med(_.spill.toDouble),
        "output_bytes" -> med(_.outBytes.toDouble), "gc_s" -> med(_.gcS)).map { case (k, v) => s"$prefix.$k" -> v }
    }
    def prog(f: ProgressRec => Long) =
      Stats.median(per.map(_._3.map(f).sum / 1e3))
    fields("etl_daily.sources_dims", per.map(_._1)) ++
      fields("etl_daily.streaming_facts", per.map(_._2)) ++ Map(
        "etl_daily.streaming.query_planning_s" -> prog(_.planningMs),
        "etl_daily.streaming.add_batch_s" -> prog(_.addBatchMs),
        "etl_daily.streaming.wal_commit_s" -> prog(_.walCommitMs))
  }
}
