package perfbench

import java.util.concurrent.{ArrayBlockingQueue, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.sources.WordGenSource
import graft.streaming.StatefulStreams

/** A word of the ssp word-count stream; `created` is the scheduled
  * creation time (nanoTime) of open-loop events and 0 for backlog events.
  */
final case class WcEvent(seq: Long, word: String, created: Long)
final case class WcOut(word: String, n: Long, created: Long)

/** The ssp benchmark as a live stream: running count per word through
  * `StatefulStreams.statefulByKey`, one output per input. Records the
  * outputs and checks them against the generated words.
  */
final class WordCountStream(spark: SparkSession, seed: Long) {
  import spark.implicits._
  private val words = WordGenSource.corpus(seed)
  private val index = words.zipWithIndex.toMap
  private val seen = Array.fill(words.length)(new java.util.BitSet())
  private val occurrences = new Array[Int](words.length)
  private var duplicates = 0L
  private val latBatch = mutable.ArrayBuilder.make[Long]
  private val latNs = mutable.ArrayBuilder.make[Long]

  /** The next event; called by the single generator thread in seq order. */
  def next(seq: Long, created: Long): WcEvent =
    WcEvent(seq, words(java.lang.Math.floorMod(WordGenSource.mix(seq ^ seed), words.length.toLong).toInt), created)

  /** Notes events as they enter the stream (what the check counts). */
  def added(chunk: Seq[WcEvent]): Unit = chunk.foreach(e => occurrences(index(e.word)) += 1)

  def build(in: Dataset[WcEvent]): Dataset[WcOut] =
    StatefulStreams.statefulByKey(in, (e: WcEvent) => e.word, 0L) { (n: Long, e: WcEvent) =>
      (n + 1, Seq(WcOut(e.word, n + 1, e.created)))
    }

  /** Records one micro-batch's outputs, returned to the sink at `doneNs`. */
  def consume(batchId: Long, rows: Array[WcOut], doneNs: Long): Unit = rows.foreach { r =>
    val bits = seen(index(r.word))
    if (r.n < 1 || r.n > Int.MaxValue || bits.get(r.n.toInt)) duplicates += 1
    else bits.set(r.n.toInt)
    if (r.created > 0) { latBatch += batchId; latNs += doneNs - r.created }
  }

  /** (batch id, latency ns) of every result of an open-loop event. */
  def latencies(): Seq[(Long, Long)] = latBatch.result().toSeq.zip(latNs.result())

  /** (results expected, results missing or wrong): each word's emitted
    * counts must be exactly 1..n, n its occurrences.
    */
  def verify(): (Long, Long) = {
    val wrong = words.indices.map { i =>
      val n = occurrences(i)
      val got = seen(i)
      // counts in 1..n that never arrived, plus counts above n
      (n - got.get(1, n + 1).cardinality()).toLong + got.get(n + 1, Int.MaxValue).cardinality()
    }.sum
    (occurrences.map(_.toLong).sum, wrong + duplicates)
  }
}

/** Drives the word count through a live `writeStream` query fed by
  * a MemoryStream: warm-up and saturated micro-batches of a fixed size
  * (the sink of each batch adds the next, so a backlog always stands),
  * then an open loop at a fixed offered rate, then a drain.
  */
object StreamRunner {

  def run(ctx: Ctx, w: WordCountStream, markSetup: () => Unit): Map[String, Any] = {
    val spark = ctx.spark
    import spark.implicits._
    val rec = ctx.rec
    val batchSize = ctx.pl("wc.batch_size").toInt
    val warmBatches = ctx.pl("wc.warmup_batches").toInt
    val satBatches = ctx.pl("wc.saturated_batches").toInt
    val rate = ctx.pd("wc.offered_eps")
    val backlogBatches = warmBatches + satBatches

    val in = MemoryStream[WcEvent](1, spark, Some(ctx.sc.defaultParallelism))
    // (nanoTime of an addData, events added in total by then)
    val adds = new ConcurrentLinkedQueue[(Long, Long)]()
    val addedCount = new AtomicLong()
    def addChunk(chunk: Vector[WcEvent], parent: Long, gid: String): Unit =
      rec.span(parent, "source", "source.add", gid) { _ =>
        in.addData(chunk)
        w.added(chunk)
        adds.add((System.nanoTime(), addedCount.addAndGet(chunk.length)))
      }

    // the single generator thread: backlog chunks first, then the schedule
    val ready = new ArrayBlockingQueue[Vector[WcEvent]](2)
    val openLoopStart = new CountDownLatch(1)
    @volatile var openT0 = 0L
    @volatile var openDeadline = 0L
    @volatile var genLateNs = 0L
    var seq = 0L
    def backlogChunk(): Vector[WcEvent] = Vector.fill(batchSize) { val e = w.next(seq, 0L); seq += 1; e }
    val generator = new Thread(() => {
      for (_ <- 1 until backlogBatches)
        ready.put(backlogChunk())
      openLoopStart.await()
      val nsPerEvent = 1e9 / rate
      var i = 0L
      while (System.nanoTime() < openDeadline) {
        val now = System.nanoTime()
        val due = ((now - openT0) / nsPerEvent).toLong + 1
        if (due > i) {
          val chunk = (i until due).map { j =>
            val e = w.next(seq, openT0 + (j * nsPerEvent).toLong); seq += 1; e
          }.toVector
          genLateNs = math.max(genLateNs, System.nanoTime() - (openT0 + (i * nsPerEvent).toLong))
          addChunk(chunk, -1L, "generator")
          i = due
        }
        Thread.sleep(1)
      }
    }, "perfbench-generator")
    generator.setDaemon(true)

    val queryStartUs = Clock.us()
    @volatile var warmDoneUs = Double.NaN
    val sinkDone = new AtomicLong(0)
    // batch id -> (rows emitted, sink call ms)
    val sinkStats = new java.util.concurrent.ConcurrentHashMap[Long, (Int, Double)]()
    val backlogDone = new CountDownLatch(1)
    addChunk(backlogChunk(), -1L, "generator")
    generator.start()

    val ckpt = new java.io.File(ctx.workDir, s"ckpt-wc-${System.nanoTime()}")
    val query = w.build(in.toDS()).writeStream
      .queryName("wordcount")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (ds: Dataset[WcOut], batchId: Long) =>
        val gid = s"batch $batchId"
        rec.span(-1L, "sink", "sink", gid) { sid =>
          val t0 = System.nanoTime()
          val rows = ds.collect()
          val done = System.nanoTime()
          w.consume(batchId, rows, done)
          sinkStats.put(batchId, (rows.length, (done - t0) / 1e6))
          val n = sinkDone.incrementAndGet()
          if (n == warmBatches) { warmDoneUs = Clock.us(); markSetup() }
          if (n < backlogBatches) addChunk(ready.take(), sid, gid)
          else if (n == backlogBatches) backlogDone.countDown()
        }
        ()
      }
      .start()

    try {
      backlogDone.await()
      val satDoneUs = Clock.us()
      openT0 = System.nanoTime()
      openDeadline = openT0 + (ctx.seconds * 1e9).toLong
      openLoopStart.countDown()
      generator.join()
      val openEnd = System.nanoTime()
      val openEndUs = Clock.us()
      val addedAtEnd = addedCount.get()
      query.processAllAvailable()
      val progress = query.recentProgress.toSeq
      query.stop()
      ctx.drain()
      val drainedUs = Clock.us()
      val retained = Jvm.retainedHeapMb()

      val (attempted, failed, lat) = rec.span(-1L, "phase", "verify") { _ =>
        val (a, f) = w.verify()
        (a, f, w.latencies())
      }
      Seq(("warmup", queryStartUs, warmDoneUs), ("saturated", warmDoneUs, satDoneUs),
        ("open_loop", satDoneUs, openEndUs), ("drain", openEndUs, drainedUs)).foreach {
        case (n, a, b) => rec.add(-1L, "phase", n, "", a, b)
      }
      // trigger ids: warm-up [0, warm), saturated [warm, backlog), open loop after
      val byId = progress.map(p => p.batchId -> p).toMap
      val sat = (warmBatches until backlogBatches).map(i => byId(i.toLong))
      val open = progress.filter(p => p.batchId >= backlogBatches && p.numInputRows > 0)
      val satWallMs = endMs(sat.last) - startMs(sat.head)
      // the median batch's rate, so one stalled trigger does not move it
      val satRates = sat.map(p => p.numInputRows / (dur(p, "triggerExecution") / 1000.0)).sorted.toArray
      val measured = progress.filter(_.batchId >= warmBatches)
      val gids = measured.map(p => s"batch ${p.batchId}")
      val measuredSinks = measured.flatMap(p => Option(sinkStats.get(p.batchId)))
      val satExec = ctx.exec.totals(sat.map(p => s"batch ${p.batchId}"))

      val latMs = lat.map(_._2 / 1e6).sorted.toArray
      val p50 = Stats.quantile(latMs, 0.5)
      val p90 = Stats.quantile(latMs, 0.9)
      val beyond = lat.filter(_._2 / 1e6 > p90).map(_._1).distinct.size

      // backlog at each open-loop trigger start: added by then minus processed before
      val addList = adds.asScala.toSeq
      val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
      var processed = progress.filter(_.batchId < backlogBatches).map(_.numInputRows).sum
      val backlog = progress.filter(_.batchId >= backlogBatches).sortBy(_.batchId).map { p =>
        val t = startMs(p) * 1000000L + offsetNs
        val b = addList.takeWhile(_._1 <= t).lastOption.map(_._2).getOrElse(0L) - processed
        processed += p.numInputRows
        (t, math.max(b, 0L))
      }
      val backlogEnd = backlog.filter(_._1 <= openEnd).lastOption.map(_._2).getOrElse(0L)
      val openEvents = addedAtEnd - backlogBatches.toLong * batchSize

      traceTriggers(rec, measured)
      val e2e = Map(
        "throughput_per_s" -> Stats.quantile(satRates, 0.5),
        "work_cpu_s" -> satExec("cpu_ns") / 1e9,
        "latency_p50_ms" -> p50,
        "latency_p90_ms" -> p90,
        "retained_heap_mb" -> retained)
      val layers = triggerMetrics(measured) ++ stateMetrics(measured) ++
        execMetrics(ctx.exec.totals(gids)) ++
        ctx.plan.metrics(warmDoneUs, drainedUs, measured.size) ++ Map(
        "gen.offered_eps" -> openEvents / ((openEnd - openT0) / 1e9),
        "gen.late_ms_max" -> genLateNs / 1e6,
        "source.backlog_events_max" -> backlog.map(_._2).foldLeft(0L)(math.max).toDouble,
        "source.backlog_events_end" -> backlogEnd.toDouble,
        "sink.write_ms" -> Stats.mean(measuredSinks.map(_._2)),
        "sink.rows" -> measuredSinks.map(_._1).sum.toDouble)
      Map("e2e" -> e2e, "layers" -> layers, "attempted" -> attempted, "failed" -> failed,
        "info" -> Map("saturated_eps" -> e2e("throughput_per_s"), "saturated_batches" -> sat.size,
          "saturated_wall_s" -> satWallMs / 1000.0, "latency_samples" -> latMs.length,
          "open_loop_triggers" -> open.size, "triggers_beyond_p90" -> beyond,
          "events_added" -> addedCount.get()))
    } finally {
      if (query.isActive) query.stop()
      Files.deleteTree(ckpt)
    }
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.get("triggerExecution").toDouble

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Mean per trigger of each `durationMs` phase. */
  def triggerMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = Map(
    "trigger.count" -> ps.size.toDouble,
    "trigger.no_data_count" -> ps.count(_.numInputRows == 0).toDouble,
    "trigger.execution_ms" -> Stats.mean(ps.map(dur(_, "triggerExecution"))),
    "trigger.query_planning_ms" -> Stats.mean(ps.map(dur(_, "queryPlanning"))),
    "trigger.add_batch_ms" -> Stats.mean(ps.map(dur(_, "addBatch"))),
    "trigger.wal_commit_ms" -> Stats.mean(ps.map(dur(_, "walCommit"))),
    "trigger.commit_offsets_ms" -> Stats.mean(ps.map(dur(_, "commitOffsets"))),
    "trigger.latest_offset_ms" -> Stats.mean(ps.map(dur(_, "latestOffset"))))

  /** State-store work: row counts summed over the triggers (total rows
    * at the last one), times as means per trigger.
    */
  def stateMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val ops = ps.map(_.stateOperators.toSeq)
    def sum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ops.map(_.map(f).sum.toDouble)
    Map(
      "state.rows_total" -> sum(_.numRowsTotal).lastOption.getOrElse(0.0),
      "state.rows_updated" -> sum(_.numRowsUpdated).sum,
      "state.rows_removed" -> sum(_.numRowsRemoved).sum,
      "state.rows_dropped_by_watermark" -> sum(_.numRowsDroppedByWatermark).sum,
      "state.memory_mb" -> sum(_.memoryUsedBytes).lastOption.getOrElse(0.0) / 1048576.0,
      "state.commit_ms" -> Stats.mean(sum(_.commitTimeMs)),
      "state.update_ms" -> Stats.mean(sum(_.allUpdatesTimeMs)),
      "state.removal_ms" -> Stats.mean(sum(_.allRemovalsTimeMs)))
  }

  /** Trigger spans and their `durationMs` phases, laid out in execution
    * order inside the trigger; all share the batch id.
    */
  private def traceTriggers(rec: Recorder, ps: Seq[StreamingQueryProgress]): Unit =
    if (rec.enabled) ps.foreach { p =>
      val gid = s"batch ${p.batchId}"
      val t0 = startMs(p) * 1000.0
      val tid = rec.add(-1L, "trigger", s"trigger ${p.batchId}", gid, t0, endMs(p) * 1000.0)
      var t = t0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { k =>
          val d = dur(p, k) * 1000.0
          if (d > 0) rec.add(tid, "trigger_phase", k, gid, t, t + d)
          t += d
        }
    }

  def execMetrics(t: Map[String, Long]): Map[String, Double] = Map(
    "exec.jobs" -> t("jobs").toDouble,
    "exec.stages" -> t("stages").toDouble,
    "exec.tasks" -> t("tasks").toDouble,
    "exec.cpu_s" -> t("cpu_ns") / 1e9,
    "exec.run_s" -> t("run_ms") / 1e3,
    "exec.gc_s" -> t("gc_ms") / 1e3,
    "exec.deserialize_ms" -> t("deser_ms").toDouble,
    "exec.shuffle_write_mb" -> t("shuffle_write_b") / 1048576.0,
    "exec.shuffle_read_mb" -> t("shuffle_read_b") / 1048576.0,
    "exec.spill_mb" -> t("spill_b") / 1048576.0,
    "exec.peak_exec_mem_mb" -> t("peak_mem_b") / 1048576.0)
}

object Stats {
  /** Linear-interpolation quantile of sorted values (Python's
    * `statistics.quantiles(..., method="inclusive")`).
    */
  def quantile(sorted: Array[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
