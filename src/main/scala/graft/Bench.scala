package graft

import scala.collection.immutable.SortedSet
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main (driver contract): runs every registered
  * query against SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Timing methodology: each query is fully materialized through the
  * `noop` datasource sink (computes every output column, unlike count()
  * which lets Catalyst prune the expensive expressions away), after a
  * session warm-up action. AQE is on, shuffle partitions match the
  * local core count (not the 200 default — at cluster scale this knob
  * is sized to executor memory instead).
  */
object Bench {
  /** The quiet-box calibration anchor (words/s of the wordcount anchor
    * probe on an IDLE container). Measured once — BASELINE.md round-14
    * "quiet calibration" records the procedure — and fixed by
    * convention; re-baseline ONLY with a new quiet measurement, by
    * changing this one constant (the emitted
    * `quiet_anchor_words_per_s` / `host_factor_vs_quiet` fields derive
    * from it).
    */
  val QuietAnchorWordsPerS = 2491654L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)

    // Warm up the session: JIT, codegen cache, FileSystem init, AQE
    // paths — run two representative queries untimed so the first
    // timed queries don't absorb cold-start cost.
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    Seq("q06_filter_agg", "q26_tumbling_window").foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }

    // Per-query shuffle/spill accounting: wall time on a 32-core box
    // says little about 100 TB behavior — bytes through the shuffle
    // do. Each query runs under its own job group; the listener
    // attributes completed stages to groups via the jobs that own
    // them. Listener delivery is async, so the totals are flushed
    // with a short drain wait before the artifact is written;
    // per-query values are divided by that query's run count (the
    // adaptive third pass makes it 2 or 3).
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicLong
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val shuffleBytes = new ConcurrentHashMap[String, AtomicLong]()
    val spillBytes = new ConcurrentHashMap[String, AtomicLong]()
    // Executor CPU nanoseconds per query: the compute-side twin of the
    // shuffle-bytes gate. Wall clock on this shared box moves 2-8x
    // with host load, but CPU time consumed by the query's own tasks
    // is near-immune to contention (the work is the work, whenever it
    // gets scheduled), so a CPU-time drift flags a real compute
    // regression without a cold-session re-measure.
    val cpuNs = new ConcurrentHashMap[String, AtomicLong]()
    def acc(m: ConcurrentHashMap[String, AtomicLong], g: String, v: Long): Unit =
      m.computeIfAbsent(g, _ => new AtomicLong).addAndGet(v)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g != null) js.stageIds.foreach(sid => stageGroup.put(sid, g))
      }
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val g = stageGroup.get(sc.stageInfo.stageId)
        val m = sc.stageInfo.taskMetrics
        if (g != null && m != null) {
          acc(shuffleBytes, g, m.shuffleWriteMetrics.bytesWritten)
          acc(spillBytes, g, m.diskBytesSpilled)
          acc(cpuNs, g, m.executorCpuTime)
        }
      }
    })

    // Local-iteration subset (the driver never sets this): run only the
    // named queries — used for single-query plan work and the sf1
    // heavy-hitter sweeps where the full 250-query pass would dominate.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val named = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1))).sortBy(_._1)
    val timings = timeQueries(spark, sfDir, named)
    val results = timings.best
    val isolated = timings.isolated
    // Per-query dispersion (max/min across the interleaved samples):
    // the artifact itself shows which numbers are host noise — a query
    // whose spread is 3x did not get slower, its box did.
    // SPARK_GRAFT_ONLY="" (empty) runs ZERO queries — the cheap
    // box-speed probe: warmup + wordcount anchor only, ~2 min, used to
    // decide whether a 30-min full sweep would land on a quiet box.
    val spreads = timings.samples.map { case (n, ss) => n -> ss.max / math.max(ss.min, 1e-9) }
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val total = timings.total
    val failedJson = timings.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val maxSpread = spreads.map(_._2).maxOption.getOrElse(1.0)

    // Reference-parity word count as a machine-readable named metric:
    // the reference's only benchmark (bench/wordcount_test.go:12-49) is
    // a 10 MiB corpus through the stateful running-count path. Timed
    // here in the same warm session via the DSv2 generator source, so
    // the words/s figure lands in every round's bench artifact instead
    // of only in BASELINE.md prose.
    import spark.implicits._
    val avgLen = graft.sources.WordGenSource.corpus(0L).map(_.length + 1).sum /
      graft.sources.WordGenSource.CorpusSize.toDouble
    val wcWords = (10L * 1024 * 1024 / avgLen).toLong
    val wcWordsDf = spark.read.format("graft.sources.WordGenSource")
      .option("rows", wcWords.toString).option("partitions", "12")
      .option("seed", "0").load()
    val wcSec = {
      val t0 = System.nanoTime()
      wcWordsDf.as[(Long, String)].groupByKey(_._2)
        .flatMapGroups { (word: String, it: Iterator[(Long, String)]) =>
          var n = 0L
          it.map { _ => n += 1; s"$word: $n" }
        }
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val wordsPerS = wcWords / wcSec
    // host_factor: this box's speed relative to the previous committed
    // round, measured by the fixed-workload wordcount anchor (identical
    // code + data each round, so the ratio is pure host condition).
    // 0.63 means "this box ran at 0.63x of last round's" — the reader
    // divides raw per-query times by it before calling anything a
    // regression. Read from the PRIOR bench_last.json before this run
    // overwrites it; null when no prior artifact exists.
    // The artifact is SELF-DESCRIBING (r15 verdict): it carries both
    // denominators it normalizes against — host_anchor_words_per_s
    // (the prior-round anchor host_factor divides by, so the ratio is
    // reproducible from the artifact alone) and the fixed quiet-box
    // calibration with its own factor (host_factor_vs_quiet), the
    // round-independent convention BASELINE.md normalizes with.
    val priorAnchor: Option[Long] = try {
      val prior = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("bench_last.json")), "UTF-8")
      """"wordcount_words_per_s":(\d+)""".r.findFirstMatchIn(prior)
        .map(_.group(1).toLong)
    } catch { case _: Throwable => None }
    val hostFactor = priorAnchor.map(a => wordsPerS / a.toDouble)
    val hostFactorJson = hostFactor.map(v => f"$v%.3f").getOrElse("null")
    val priorAnchorJson = priorAnchor.map(_.toString).getOrElse("null")
    val vsQuiet = wordsPerS / QuietAnchorWordsPerS.toDouble

    // Dispersion diagnostics go to stderr: the stdout metric line must
    // stay one short parseable JSON line (adding the spread map inlined
    // pushed it past the consumer's line buffer and it failed to parse).
    System.err.println(f"""[bench] spread=$sp max_spread=$maxSpread%.2f""")
    // The driver captures only the TAIL of stdout and parses ONE JSON
    // line. Per-query maps outgrew that window twice (r7 full names,
    // r9 ~174 short ids), so stdout now carries ONLY the total (+ sf,
    // query count, wordcount parity metric) — a fixed-size line that
    // parses at any query count. The full per-query map and spreads
    // persist in bench_last.json, committed every round.
    // drain the async listener bus before reading the per-group totals:
    // poll until the grand total holds the SAME value across two
    // consecutive 300 ms windows — i.e. three equal reads, each taken
    // once per iteration (reading it twice per iteration let a total
    // that moved between the check and the store get recorded as the
    // stable baseline) — capped at 15 s so a wedged bus cannot hang
    // the artifact write.
    def grandTotal(): Long = {
      var t = 0L
      shuffleBytes.values.forEach(v => t += v.get)
      spillBytes.values.forEach(v => t += v.get)
      cpuNs.values.forEach(v => t += v.get)
      t
    }
    var stablePrev = -1L
    var stableRuns = 0
    var waited = 0
    while (stableRuns < 2 && waited < 50) {
      val t = grandTotal()
      if (t == stablePrev) stableRuns += 1
      else { stableRuns = 0; stablePrev = t }
      Thread.sleep(300)
      waited += 1
    }
    val shuffleMb = results.map(_._1).sorted.map { k =>
      val runs = timings.runs(k)
      val mb = Option(shuffleBytes.get(k)).map(_.get).getOrElse(0L) / runs / 1048576.0
      "\"" + k + "\":" + f"$mb%.1f"
    }.mkString("{", ",", "}")
    val spillMb = results.map(_._1).sorted.flatMap { k =>
      val runs = timings.runs(k)
      val mb = Option(spillBytes.get(k)).map(_.get).getOrElse(0L) / runs / 1048576.0
      if (mb >= 0.05) Some("\"" + k + "\":" + f"$mb%.1f") else None
    }.mkString("{", ",", "}")
    val cpuS = results.map(_._1).sorted.map { k =>
      val runs = timings.runs(k)
      val s = Option(cpuNs.get(k)).map(_.get).getOrElse(0L) / runs / 1e9
      "\"" + k + "\":" + f"$s%.2f"
    }.mkString("{", ",", "}")

    // stdout carries isolated_s under SHORT query ids (the qNNN prefix,
    // unique across the registry): the full names at isolatedN=15 push
    // the one-line contract toward the tail-capture limit that broke
    // parsing in r7/r9 — the full-name map persists in bench_last.json
    val isoJson = isolated.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val isoShort = isolated.sortBy(_._1).map { case (k, v) =>
      (k.takeWhile(_ != '_'), v) }
    // prefixes are unique across the registry today; a future qNNN
    // collision would silently emit duplicate JSON keys — fail loudly
    require(isoShort.map(_._1).distinct.size == isoShort.size,
      s"duplicate short query ids in isolated_s: ${isoShort.map(_._1).mkString(",")}")
    val isoShortJson = isoShort.map { case (k, v) =>
      "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // Per-query visibility for the driver (r17 verdict item 2): the
    // driver's per-query speedup/scaling blocks were empty for two
    // rounds because the stdout line carried no "queries" map. The tail
    // window the driver parses from is 2000 chars (BENCH_r17.json's
    // "tail" field is exactly 2000 chars; full-name and ~174-short-id
    // maps both overflowed it in r7/r9 and parsed null), so the FULL
    // 279-entry map can never ride on stdout. Compromise: a BUDGETED
    // map — the slowest queries first (the only rows where a wall-clock
    // delta is distinguishable from noise), full registry names (the
    // driver matches across rounds by name), as many as fit a hard
    // line budget, with queries_omitted announcing the truncation. The
    // full map still lands in the bench_last*.json artifacts.
    val lineBudget = 1800
    def mkLine(qs: String, omitted: Int): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":$failedJson,"wordcount_words_per_s":$wordsPerS%.0f,"host_factor":$hostFactorJson,"host_anchor_words_per_s":$priorAnchorJson,"quiet_anchor_words_per_s":$QuietAnchorWordsPerS,"host_factor_vs_quiet":$vsQuiet%.3f,"isolated_s":$isoShortJson,"queries":$qs,"queries_omitted":$omitted,"sf":"$sfDir"}"""
    val byTimeDesc = results.sortBy(-_._2)
    val headerLen = mkLine("{}", results.size).length
    val picked = {
      var used = headerLen
      byTimeDesc.takeWhile { case (k, v) =>
        val entryLen = k.length + f"$v%.3f".length + 4 // quotes, colon, comma
        if (used + entryLen <= lineBudget) { used += entryLen; true } else false
      }
    }
    val qsStdout = picked.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val line = mkLine(qsStdout, results.size - picked.size)
    require(line.length <= lineBudget + 64,
      s"bench stdout line overflowed the tail-capture budget: ${line.length}")
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"failed":$failedJson,"wordcount_words_per_s":$wordsPerS%.0f,"host_factor":$hostFactorJson,"host_anchor_words_per_s":$priorAnchorJson,"quiet_anchor_words_per_s":$QuietAnchorWordsPerS,"host_factor_vs_quiet":$vsQuiet%.3f,"isolated_s":$isoJson,"queries":$qsFull,"spreads":$sp,"shuffle_mb":$shuffleMb,"spill_mb":$spillMb,"cpu_s":$cpuS,"sf":"$sfDir"}"""
    // Subset sweeps (SPARK_GRAFT_ONLY) must not clobber the committed
    // full-registry artifact — they write a sibling file instead. Full
    // sweeps ALSO write a per-core-count sibling (bench_last_c8.json /
    // bench_last_c32.json): the driver benches at two core counts and
    // the second run used to overwrite the first's full per-query map
    // (r17 verdict item 2), losing the c32 data the scaling comparison
    // needed.
    val artifacts =
      if (only.isEmpty) Seq("bench_last.json", s"bench_last_c$cpus.json")
      else Seq("bench_subset_last.json")
    artifacts.foreach { artifact =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
        (full + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    }
    println(line)
    spark.stop()
  }

  /** The session every graft tool measures or checks queries in:
    * `local[cpus]`, as many shuffle partitions as cores, AQE on, the
    * graft extensions, UTC. `Verify` builds its session here too, so
    * the oracle checks the plans the bench times when both run with the
    * same `SPARK_GRAFT_CPUS` (their defaults differ: 4 and 32).
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // static conf: the default 100-entry codegen cache thrashes on a
      // 267-query session (q255's 64-column classes re-Janino+re-JIT
      // every run: 3.4 s warm vs 12 s evicted - see BASELINE.md r14)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      // split the single-file testdata scans across cores (default 128m
      // would put the whole 15 MB lineitem file in one task); at
      // cluster scale the many-files layout does this naturally
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  type Query = (SparkSession, String) => DataFrame

  /** How many of the slowest rows [[timeQueries]] re-measures isolated;
    * the stdout line's `isolated_s` map is budgeted for this many. */
  private val isolatedN = 15

  /** What [[timeQueries]] measured, for the queries that never threw.
    * `samples` holds each query's interleaved sweep samples, `isolated`
    * the re-measured slowest rows, `failed` every query that threw on
    * any run and `runs` how often each query ran (failed ones included).
    */
  final case class Timings(
      samples: Seq[(String, List[Double])],
      isolated: Seq[(String, Double)],
      failed: SortedSet[String],
      runs: Map[String, Int]) {
    /** The per-query map: best seconds per query; `n` is its size. */
    val best: Seq[(String, Double)] = samples.map { case (n, ss) => n -> ss.min }
    def total: Double = best.map(_._2).sum
  }

  /** Times `queries` through the `noop` sink, each run under its own job
    * group (the query's name) so listeners can attribute its stages.
    *
    * Min over INTERLEAVED passes: absorbs GC pauses, page-cache misses
    * and other host interference observed to inflate single
    * measurements 5-10x on this shared box. The passes run as full
    * sweeps (all queries, then all again) so a multi-second
    * interference window cannot land on both samples of one query —
    * consecutive per-query repeats did exactly that (observed: an
    * untouched 0.8 s query measured 5.3 s on both back-to-back runs).
    * Queries whose two samples still disagree by >1.5x get a third.
    *
    * Then, self-defense against host noise (the round-12 artifact was
    * produced on a badly loaded box and nearly unusable): the
    * `isolatedN` slowest rows are re-measured ISOLATED — one at a time,
    * nothing else queued, sweep cache pressure gone — as the min of
    * the sweep min and TWO back-to-back isolated runs: the first re-run
    * after a foreign-plan sweep pays HotSpot re-JIT churn, not
    * execution (measured r14 on q255: +22.6 s JIT time / 9.8 s wall on
    * the first isolated run vs +3.2 s JIT / 3.6 s wall immediately
    * after, with ZERO Janino recompiles in both). The steady-state
    * number is the one a production executor sees. A row whose
    * isolated time is far under its sweep time was a victim of the
    * box, not a regression.
    *
    * A query that throws is a failure, not a fast timing: it goes on
    * `failed`, is not run again, and stays out of `samples`,
    * `isolated`, `best` and `total` — also when only a third or an
    * isolated run throws.
    */
  def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Query)]): Timings = {
    val failed = mutable.TreeSet.empty[String]
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    def ok(name: String): Boolean = !failed.contains(name)
    def timeOnce(name: String, fn: Query): Double = {
      spark.sparkContext.setJobGroup(name, name)
      runs(name) += 1
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: $e")
        failed += name
      }
      finally spark.sparkContext.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
    val pass1 = queries.map { case (n, fn) => n -> timeOnce(n, fn) }.toMap
    val pass2 = queries.filter(kv => ok(kv._1)).map { case (n, fn) => n -> timeOnce(n, fn) }.toMap
    val samples = queries.filter(kv => ok(kv._1)).map { case (name, fn) =>
      val two = List(pass1(name), pass2(name))
      val best = two.min
      name -> (if (two.max > best * 1.5 && two.max - best > 0.3)
        timeOnce(name, fn) :: two
      else two)
    }
    val fnOf = queries.toMap
    val isolated = samples.filter(kv => ok(kv._1)).map { case (n, ss) => n -> ss.min }
      .sortBy(-_._2).take(isolatedN).map { case (n, sweepMin) =>
        n -> math.min(sweepMin, math.min(timeOnce(n, fnOf(n)), timeOnce(n, fnOf(n))))
      }
    // a third or isolated run can throw too: drop what failed anywhere
    Timings(samples.filter(kv => ok(kv._1)), isolated.filter(kv => ok(kv._1)),
      SortedSet.from(failed), runs.toMap)
  }
}
