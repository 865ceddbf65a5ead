package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result file (maps, sequences,
  * numbers, strings, booleans).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
}

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * taken here line up with the epoch-millisecond times of Spark's
  * listener events.
  */
object Clock {
  private val offsetUs = System.currentTimeMillis() * 1000.0 - System.nanoTime() / 1000.0
  def us(): Double = System.nanoTime() / 1000.0 + offsetUs
}

/** One traced interval. `gid` ties the spans of one query or trigger
  * together (spans from listeners only know it through job properties);
  * `parent` is set where the caller knows it and is otherwise resolved
  * by interval containment when the trace is analysed.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String, gid: String,
    startUs: Double, endUs: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "gid" -> gid, "start_us" -> startUs, "end_us" -> endUs)
}

/** Spans kept in memory and written out when the run ends. A disabled
  * recorder still runs the body and returns its result.
  */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(parent: Long, kind: String, name: String, gid: String,
      startUs: Double, endUs: Double): Long = {
    if (!enabled) return -1L
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, kind, name, gid, startUs, endUs))
    id
  }

  /** Runs `f` inside a span; the span id is passed to `f` for children. */
  def span[A](parent: Long, kind: String, name: String, gid: String = "")(f: Long => A): A = {
    if (!enabled) return f(-1L)
    val id = ids.incrementAndGet()
    val t0 = Clock.us()
    try f(id)
    finally spans.add(Span(id, parent, kind, name, gid, t0, Clock.us()))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Executor-side totals from task ends, kept per group (a registry
  * query's job group or a micro-batch id), plus (when tracing) job and
  * stage spans tagged with that group.
  */
final class ExecListener(rec: Recorder) extends SparkListener {
  import ExecListener._
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, AtomicLongArray]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()

  private def counters(gid: String): AtomicLongArray =
    byGroup.computeIfAbsent(gid, _ => new AtomicLongArray(Names.length))
  private def add(gid: String, name: String, v: Long): Unit =
    counters(gid).addAndGet(Names.indexOf(name), v)

  /** Summed counters of the given groups; the peak is a maximum. */
  def totals(gids: Iterable[String]): Map[String, Long] = {
    val arrs = gids.flatMap(g => Option(byGroup.get(g))).toSeq
    Names.indices.map { i =>
      val vs = arrs.map(_.get(i))
      Names(i) -> (if (Names(i) == "peak_mem_b") vs.foldLeft(0L)(math.max) else vs.sum)
    }.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val gid = groupOf(e.properties)
    add(gid, "jobs", 1)
    e.stageIds.foreach(stageGroup.put(_, gid))
    if (rec.enabled) jobStart.put(e.jobId, (e.time * 1000.0, gid))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, gid) =>
      rec.add(-1L, "job", s"job ${e.jobId}", gid, t0, e.time * 1000.0)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val gid = stageGroup.getOrDefault(si.stageId, "")
    add(gid, "stages", 1)
    for (s <- si.submissionTime; f <- si.completionTime)
      rec.add(-1L, "stage", s"stage ${si.stageId}", gid, s * 1000.0, f * 1000.0)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val gid = stageGroup.getOrDefault(e.stageId, "")
    val m = e.taskMetrics
    add(gid, "tasks", 1)
    if (m != null) {
      add(gid, "cpu_ns", m.executorCpuTime)
      add(gid, "run_ms", m.executorRunTime)
      add(gid, "gc_ms", m.jvmGCTime)
      add(gid, "deser_ms", m.executorDeserializeTime)
      add(gid, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add(gid, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add(gid, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      counters(gid).accumulateAndGet(Names.indexOf("peak_mem_b"), m.peakExecutionMemory, math.max)
    }
  }
}

object ExecListener {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "stages", "tasks", "cpu_ns", "run_ms",
    "gc_ms", "deser_ms", "shuffle_write_b", "shuffle_read_b", "spill_b", "peak_mem_b")

  /** Micro-batches carry their batch id as a local property (their job
    * group is the query's run id); registry queries run under a job group.
    */
  def groupOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty("streaming.sql.batchId")).map("batch " + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
}

/** Catalyst phase times of each executed query (from its
  * QueryPlanningTracker) and the graft operators in its physical plan.
  */
final class PlanListener(rec: Recorder) extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  import PlanListener._
  /** Per executed query: when its analysis started (epoch ms) and its figures, in `Names` order. */
  private val queries = new ConcurrentLinkedQueue[(Long, Array[Long])]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").map { p =>
      phases.get(p).map { s =>
        rec.add(-1L, "plan", p, "", s.startTimeMs * 1000.0, s.endTimeMs * 1000.0)
        s.durationMs
      }.getOrElse(0L)
    }
    val ops = collect(qe.executedPlan) { case p => p.getClass.getSimpleName }
    val startMs = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
    queries.add((startMs, (ms ++ Seq(ops.count(_ == "PrefixSumExec").toLong,
      ops.count(_ == "TopKPerKeyExec").toLong)).toArray))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Figures of the queries whose analysis started in [fromUs, toUs)
    * (epoch µs), summed and divided by `per`. Drain the listener bus first.
    */
  def metrics(fromUs: Double, toUs: Double, per: Double): Map[String, Double] = {
    val in = queries.asScala.toSeq.filter { case (t, _) => t * 1000.0 >= fromUs && t * 1000.0 < toUs }
    Names.indices.map(i => Names(i) -> in.map(_._2(i)).sum / per).toMap
  }
}

object PlanListener {
  val Names: IndexedSeq[String] = IndexedSeq("plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms", "plans.prefix_sum_execs", "plans.topk_execs")
}

/** JVM-wide figures: JIT and GC time, codegen compiles, peak RSS, heap. */
object Jvm {
  import java.lang.management.ManagementFactory
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
  /** Heap still in use after a full collection. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** Per-layer figures since JVM start, taken at the end of a run. */
  def layers(): Map[String, Double] = {
    val (compiles, compileMs) = org.apache.spark.PerfbenchAccess.codegen()
    Map("codegen.compiles" -> compiles.toDouble, "codegen.compile_ms" -> compileMs,
      "jvm.jit_ms" -> jitMs().toDouble, "jvm.gc_ms" -> gcMs().toDouble,
      "jvm.peak_rss_mb" -> peakRssMb())
  }
}

/** Everything a workload needs from the session and the harness. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val exec: ExecListener,
    val plan: PlanListener, val params: Map[String, String], val seed: Long,
    val seconds: Double, val workDir: java.io.File) {
  def sc: SparkContext = spark.sparkContext
  def p(k: String): String = params.getOrElse(k, sys.error(s"missing parameter $k"))
  def pl(k: String): Long = p(k).toLong
  def pd(k: String): Double = p(k).toDouble
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
}
