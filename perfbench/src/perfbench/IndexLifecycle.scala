package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.{Bm25Index, Dedup, IndexCdc, ShardedIndex, SimJoin, Similarity, TextOps}

/** `index_lifecycle`: five standing index homes (bm25, minhash, prefix,
  * ivf and a 2-shard bm25) are written in set-up from a seeded base
  * corpus. Each loop iteration is one fixed cycle: one compaction of
  * every home (`IndexCdc.compact`), then three change batches on every
  * home (`IndexCdc.apply`), insert-only, delete-only and upsert in that
  * order, then one request served from every home, which reads the
  * compacted tables, the three batches' delta files and their live
  * tombstones. Every cycle does the same work, so a faster program may
  * run more cycles, never another mix.
  *
  * The change data is tiny and every call runs several Spark jobs, so
  * driver planning, scheduling and commit dominate: the opposite regime
  * to `etl_daily`. The requests read the tables the change batches and
  * compactions wrote, so a write-path gain that costs reads or space
  * shows in the same run. One-sided batches take the statically-empty
  * fast path; upserts do not. */
final class IndexLifecycle(run: Run) extends Workload {
  import IndexLifecycle._
  private val spark = run.spark
  private val root = s"${run.work}/index"
  private val dirs = Families.map(f => f -> s"$root/home-$f").toMap
  private val docSeed = Inputs.mix(run.seed, 202)
  private val vecSeed = Inputs.mix(run.seed, 203)

  /** Change streams; the two BM25 homes share one, so the sharded home
    * must serve exactly what the single one does. */
  private val streams: Map[String, Inputs.History] = Map(
    "bm25" -> new Inputs.History(Inputs.mix(run.seed, 210), Inputs.DocsBase, 0),
    "minhash" -> new Inputs.History(Inputs.mix(run.seed, 211), Inputs.DocsBase, 0),
    "prefix" -> new Inputs.History(Inputs.mix(run.seed, 212), Inputs.DocsBase, 0),
    "ivf" -> new Inputs.History(Inputs.mix(run.seed, 213), Inputs.VecsBase,
      IvfCentroids))
  private def streamOf(f: String): String =
    if (f == "sharded_bm25") "bm25" else f
  private def history(f: String): Inputs.History = streams(streamOf(f))

  /** (home, shape, span, bytes of user data) of every change batch. */
  private val writes = mutable.ArrayBuffer.empty[(String, String, Span, Long)]
  /** (home, span, result rows) of every request. */
  private val serves = mutable.ArrayBuffer.empty[(String, Span, Long)]
  private val compactions = mutable.ArrayBuffer.empty[(String, Span)]
  private val lastAnswer = mutable.Map.empty[String, (Long, String)]
  private var bytesPerRow = 0.0

  val minIterations = 1
  def listenerOn(i: Int): Boolean = true
  private val stageReps = 2

  /** The base corpus is staged `stageReps` times (the first copy is the
    * one the homes are written from); the homes are written once. */
  def setup(): Unit = {
    (0 until stageReps).foreach { rep =>
      val dir = s"$root/base$rep"
      run.setupStep("stage") {
        docFrame((0L until Inputs.DocsBase).map(_ -> 0))
          .write.parquet(s"$dir/docs")
        vecFrame((0L until Inputs.VecsBase).map(_ -> 0))
          .write.parquet(s"$dir/vecs")
      }
      if (rep > 0) run.deleteTree(dir)
    }
    val d = spark.read.parquet(s"$root/base0/docs")
    val v = spark.read.parquet(s"$root/base0/vecs")
    Families.foreach { f =>
      run.setupStep(s"index_write.$f") {
        f match {
          case "bm25" => Bm25Index.write(d, dirs(f))
          case "minhash" =>
            Dedup.writeMinhashIndex(d, "doc_id", "text", dirs(f))
          case "prefix" =>
            SimJoin.writePrefixIndex(d, "doc_id", "text", 1, 2, dirs(f))
          case "ivf" => Similarity.writeIvfIndex(v, dirs(f), IvfCentroids)
          case "sharded_bm25" => ShardedIndex.writeBm25(d, dirs(f), 2)
        }
      }
    }
  }

  /** Untimed, on all homes at once: one request per home. The set-up's
    * home writes have already run the write paths that change batches and
    * compactions take; warming those as well cost 10 s of set-up on 4
    * cores and moved no timed operation. */
  def warmup(): Unit =
    run.concurrently(Families.map(f => () => serve(f, request(f, -1L))))
      .collect { case Left(e) => run.fail(s"warm-up threw: $e") }

  def iterate(i: Int): Double = {
    val c = Families.flatMap { f =>
      run.op(s"cdc.compact.$f", i)(IndexCdc.compact(spark, dirs(f))).map {
        case (_, s) => compactions += ((f, s)); s.seconds
      }
    }.sum
    val w = Shapes.map { shape =>
      changesOf(shape).flatMap { c =>
        run.op(s"cdc.apply.${c.family}.$shape", i)(applyChange(c)).map {
          case (_, s) => writes += ((c.family, shape, s, c.userBytes)); s.seconds
        }
      }.sum
    }.sum
    // after the first cycle's change batches: a fixed point of the seeded
    // schedule, so the figure repeats for a seed
    if (i == 0) bytesPerRow = homeBytesPerRow()
    // request i is the same on every home, so the two BM25 homes answer
    // the same request
    c + w + Families.zipWithIndex.map { case (f, k) =>
      servePaired(f, i, onFirst = (i + k) % 2 == 0)
    }.sum
  }

  /** Serves request `i` on home `f`. With tracing on, the request is
    * served twice, once with the listener and once without (the traced
    * call first when `onFirst`): the pair gives the tracing overhead on
    * like work, the listener figures come from the traced call, and the
    * second answer must equal the first. Returns the seconds of the
    * untraced call. */
  private def servePaired(f: String, i: Int, onFirst: Boolean): Double = {
    val q = request(f, i)
    val order = if (!run.tracing) Seq(false)
      else if (onFirst) Seq(true, false) else Seq(false, true)
    val spans = order.flatMap { on =>
      run.listening(on)
      run.op(s"serve.$f", i)(serve(f, q)).map { case (rows, s) =>
        serves += ((f, s, rows.length.toLong))
        val d = digest(rows)
        lastAnswer.get(f).filter(_._1 == i).foreach { case (_, first) =>
          run.check(d == first, s"serve.$f: a repeated request gave another answer")
        }
        lastAnswer(f) = i.toLong -> d
        s
      }
    }
    run.listening(run.tracing)
    spans.filterNot(_.traced).map(_.seconds).sum
  }

  // ---- change batches ----------------------------------------------------

  /** One home's change batch: frames, durable batch id, and the bytes of
    * user data it carries (ids, texts, vectors) for the write
    * amplification. */
  private final case class Change(family: String, inserts: DataFrame,
                                  deletes: DataFrame, batch: Long,
                                  userBytes: Long)

  /** The next batch of every stream, all of one shape, as one change per
    * home. */
  private def changesOf(shape: String): Seq[Change] = {
    val batches = streams.map { case (s, h) => s -> h.nextBatch(shape) }
    Families.map { f =>
      val b = batches(streamOf(f))
      val (ins, insBytes) =
        if (f == "ivf")
          (vecFrame(b.inserts), b.inserts.size * (8L + 4L * Inputs.Dim))
        else {
          val rows = b.inserts.map { case (id, v) => id -> docText(id, v) }
          (docRows(rows), rows.map(8L + _._2.length).sum)
        }
      Change(f, ins,
        idFrame(b.deletes, if (f == "ivf") "vec_id" else "doc_id"), b.id,
        insBytes + 8L * b.deletes.size)
    }
  }

  private def applyChange(c: Change): Unit =
    IndexCdc.apply(spark, dirs(c.family), c.inserts, c.deletes, c.batch)

  // ---- serving -----------------------------------------------------------

  private def docText(id: Long, version: Int): String =
    Inputs.docText(docSeed, id, version)

  /** Request `id` of a family, derived from the seed and the live ids. */
  private def request(f: String, id: Long): DataFrame = f match {
    case "bm25" | "sharded_bm25" =>
      val r = Inputs.rng(run.seed, 300, id)
      spark.createDataFrame(java.util.Arrays.asList((0 until 8).map { j =>
        Row(j.toLong, Inputs.randomText(r, 3))
      }: _*), QuerySchema)
    case "ivf" =>
      vecFrame((0 until 8).map(j => (2000000000L + 8L * id + j) -> 0))
    case _ =>
      // incoming documents: half near-copies of live documents, half new
      val r = Inputs.rng(run.seed, 301, id)
      val h = history(f)
      val live = h.liveIds.toIndexedSeq.sorted
      docRows((0 until 16).map { j =>
        val text =
          if (j % 2 == 0) {
            val doc = live(r.nextInt(live.size))
            docText(doc, h.versionOf(doc)) + " new"
          } else Inputs.randomText(r, 55)
        (1000000000L + j) -> text
      })
  }

  private def serve(f: String, q: DataFrame): Array[Row] = f match {
    case "bm25" => Bm25Index.crossBm25TopK(spark, q, dirs(f), K).collect()
    case "sharded_bm25" =>
      ShardedIndex.crossBm25TopKSharded(spark, q, dirs(f), K).collect()
    case "ivf" =>
      Similarity.ivfTopKIndexed(Similarity.readIvfIndex(spark, dirs(f)), q, K)
        .collect()
    case "minhash" =>
      Dedup.crossMinhashPairs(q, Dedup.readMinhashIndex(spark, dirs(f)),
        "doc_id", "text", JaccardMin).collect()
    case "prefix" => SimJoin.crossPrefixJoin(spark, q, dirs(f)).collect()
  }

  private def digest(rows: Array[Row]): String =
    rows.map(_.toString).sorted.mkString("\n")

  /** Output checks after the loop, run on all homes at once:
    *  - each home's live ids equal the set fold of its change stream;
    *  - repeating the last request on each home gives the same answer;
    *  - the last BM25 board equals `TextOps.bm25TopK` over the live
    *    corpus, and the sharded home gives the same board;
    *  - the last minhash answer equals the corpus form of
    *    `Dedup.crossMinhashPairs` over the live corpus. */
  def finish(): Unit = {
    def answered(f: String)(check: (Long, String) => Boolean) =
      () => lastAnswer.get(f).forall { case (id, d) => check(id, d) }
    // equal digests, or the rows each side has alone on standard error
    def same(what: String, served: String, want: Array[Row]): Boolean = {
      val w = digest(want)
      if (served != w) {
        val (a, b) = (served.split("\n").toSet, w.split("\n").toSet)
        System.err.println(s"[perfbench] $what: served only " +
          (a -- b).toSeq.sorted.take(10).mkString(" ") + " | expected only " +
          (b -- a).toSeq.sorted.take(10).mkString(" "))
      }
      served == w
    }
    val checks: Seq[(String, () => Boolean)] = Families.flatMap { f =>
      Seq(
        s"$f home: live ids equal the fold of its change stream" -> { () =>
          val want = history(f).liveIds
          val got = IndexCdc.liveIds(spark, dirs(f)).collect().map(_.getLong(0))
          got.length == want.size && got.toSet == want
        },
        s"serve.$f: a repeated request gives the first answer" ->
          answered(f)((id, d) => same(s"serve.$f repeat", d,
            serve(f, request(f, id)))))
    } ++ Seq(
      "serve.bm25 equals TextOps.bm25TopK over the live corpus" ->
        answered("bm25")((id, d) => same("serve.bm25 vs bm25TopK", d,
          TextOps.bm25TopK(liveDocs("bm25"), request("bm25", id), K).collect())),
      "serve.sharded_bm25 equals the single BM25 home" -> { () =>
        lastAnswer.get("sharded_bm25").map(_._2) == lastAnswer.get("bm25").map(_._2)
      },
      "serve.minhash equals the corpus form of crossMinhashPairs" ->
        answered("minhash")((id, d) => same("serve.minhash vs corpus form", d,
          Dedup.crossMinhashPairs(request("minhash", id), liveDocs("minhash"),
            "doc_id", "text", jaccardMin = JaccardMin).collect())))
    run.concurrently(checks.map { case (what, check) => () =>
      val t0 = System.nanoTime()
      val ok = check()
      System.err.println(f"[perfbench] check ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        s"${if (ok) "passed" else "failed"}: $what")
      ok
    }).zip(checks.map(_._1)).foreach {
      case (Right(true), _) => ()
      case (Right(false), what) => run.fail(s"check failed: $what")
      case (Left(e), what) => run.fail(s"check threw $e: $what")
    }
  }

  private def liveDocs(f: String): DataFrame = {
    val h = history(f)
    docRows(h.liveIds.toSeq.sorted.map(id => id -> docText(id, h.versionOf(id))))
  }

  /** Home bytes on disk per live row, over all five homes. */
  private def homeBytesPerRow(): Double =
    dirs.values.map(run.bytesUnder).sum.toDouble /
      Families.map(f => history(f).liveIds.size.toLong).sum

  // ---- frames ------------------------------------------------------------

  private def docFrame(rows: Seq[(Long, Int)]): DataFrame =
    docRows(rows.map { case (id, v) => id -> docText(id, v) })

  private def docRows(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, t) => Row(id, t) }: _*), DocSchema)

  private def vecFrame(rows: Seq[(Long, Int)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
      Row(id, Inputs.vector(vecSeed, id, v).toSeq)
    }: _*), VecSchema)

  private def idFrame(ids: Seq[Long], name: String): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map(Row(_)): _*),
      StructType(Seq(StructField(name, LongType, nullable = false))))

  // ---- metrics -----------------------------------------------------------

  /** `write_s` is the mean of the per-(home, shape) median batch times and
    * `read_s` the mean of the per-home median request times: the homes
    * differ up to 5x in cost, so a median over pooled samples would jump
    * between homes from run to run, and a second cycle adds samples to
    * every group alike. */
  def endToEnd: Map[String, Double] = {
    val w = Span.plainOrAll(writes.map(_._3).toSeq).map(_.seconds)
    val r = Span.plainOrAll(serves.map(_._2).toSeq).map(_.seconds)
    val c = compactions.map(_._2.seconds).toSeq
    val all = w ++ r ++ c
    Map("write_s" -> meanOfMedians(writes.toSeq)(w => (w._1, w._2), _._3),
      "read_s" -> meanOfMedians(serves.toSeq)(_._1, _._2),
      "ops_per_s" -> (if (all.sum > 0) all.size / all.sum else 0.0),
      "bytes_per_row" -> bytesPerRow,
      "write_tail_s" -> Stats.tail(w), "read_tail_s" -> Stats.tail(r))
  }

  /** Mean over the groups `key` forms of each group's median seconds,
    * counting untraced spans where a group has any. */
  private def meanOfMedians[T](xs: Seq[T])(key: T => Any, span: T => Span): Double = {
    val groups = xs.groupBy(key).values.map(g =>
      Stats.median(Span.plainOrAll(g.map(span)).map(_.seconds)))
    if (groups.isEmpty) 0.0 else groups.sum / groups.size
  }

  def layers: Map[String, Double] = run.listener.fold(Map.empty[String, Double]) { l =>
    def use(s: Span) = l.usage(s.startMs, s.endMs)
    def med(xs: Iterable[Double]) = Stats.median(xs.toSeq)
    Families.flatMap { f =>
      val ws = writes.filter(_._1 == f).toSeq
      val wt = ws.filter(_._3.traced)
      val wu = wt.map(w => use(w._3))
      val cs = compactions.filter(_._1 == f).map(_._2).toSeq
      val ss = serves.filter(_._1 == f).toSeq
      val st = ss.filter(_._2.traced)
      val su = st.map(s => use(s._2))
      Seq(
        s"index_cdc.$f.cdc_s" -> meanOfMedians(ws)(_._2, _._3),
        s"index_cdc.$f.cdc_jobs" -> med(wu.map(_.jobs.toDouble)),
        s"index_cdc.$f.cdc_driver_gap_s" -> med(wu.map(_.gapS)),
        s"index_cdc.$f.cdc_output_bytes" -> med(wu.map(_.outBytes.toDouble)),
        s"index_cdc.$f.write_amp" -> {
          val user = wt.map(_._4).sum
          if (user > 0) wu.map(_.outBytes).sum.toDouble / user else 0.0
        },
        s"index_cdc.$f.compact_s" -> med(cs.map(_.seconds)),
        s"index_cdc.$f.compact_bytes_rewritten" ->
          med(cs.filter(_.traced).map(c => use(c).outBytes.toDouble)),
        s"index_serve.$f.serve_s" ->
          Stats.median(Span.plainOrAll(ss.map(_._2)).map(_.seconds)),
        s"index_serve.$f.jobs" -> med(su.map(_.jobs.toDouble)),
        s"index_serve.$f.input_bytes" -> med(su.map(_.inBytes.toDouble)),
        s"index_serve.$f.input_rows_per_result" -> {
          val results = st.map(_._3).sum
          if (results > 0) su.map(_.inRecords).sum.toDouble / results else 0.0
        },
        s"index_serve.$f.driver_gap_s" -> med(su.map(_.gapS)))
    }.toMap ++ Shapes.map(s => s"index_cdc.$s.cdc_s" ->
      meanOfMedians(writes.filter(_._2 == s).toSeq)(_._1, _._3))
  }
}

object IndexLifecycle {
  val Families: Seq[String] =
    Seq("bm25", "minhash", "prefix", "ivf", "sharded_bm25")
  /** The steps of one cycle, in order. */
  val Shapes: Seq[String] = Seq("insert", "delete", "upsert")
  val IvfCentroids = 16
  val K = 5
  val JaccardMin = 0.5
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("query_text", StringType)))
}
