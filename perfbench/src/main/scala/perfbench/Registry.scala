package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** Deterministic tables with the layout and value domains of graft's
  * test data (TESTDATA.md: TPC-H-like star schema plus events, documents
  * and embeddings), sized by a scale factor as the test data is.
  */
object TableGen {
  private val Vocab = ("join hash row batch scan column customer filter small slow merge order " +
    "vector line table data agg value key stream window a spark part group big sort query fast the")
    .split(' ')
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  def write(spark: SparkSession, dir: java.io.File, sf: Double, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    def n(base: Double): Int = math.max(1, math.round(base * sf).toInt)
    def pick[A](xs: Array[A]): A = xs(r.nextInt(xs.length))
    def money(lo: Double, hi: Double): Double = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(new java.io.File(dir, s"$name.parquet").getPath)
    def st(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (f, t) => StructField(f, t, nullable = true) })
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val nCust = n(150000)
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(-999.99, 9999.99),
        pick(Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))))
    val nSupp = n(10000)
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(-999.99, 9999.99))))
    val nPart = n(200000)
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")),
        1 + r.nextInt(50), 900.0 + r.nextInt(1000) / 10.0)))
    val nOrd = n(1500000)
    val orderDay = Array.fill(nOrd)(r.nextInt(2400))
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong, pick(Array("F", "O", "P")),
        money(1000, 500000), day0.plusDays(orderDay(i)),
        pick(Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))))
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampNTZType),
      (0 until 4 * nOrd).map { _ =>
        val o = r.nextInt(nOrd)
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + r.nextInt(7),
          (1 + r.nextInt(50)).toDouble, money(900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(Array("A", "N", "R")), pick(Array("F", "O")), day0.plusDays(orderDay(o) + 1 + r.nextInt(121)))
      })
    val nEv = n(1000000)
    val nUsers = math.max(50, n(15000))
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanUs = 30L * 86400L * 1000000L
    val evTs = Array.fill(nEv)((r.nextDouble() * spanUs).toLong).sorted
    save("events", st("event_id" -> LongType, "ts" -> TimestampNTZType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (0 until nEv).map(i => Row(i.toLong, ev0.plusNanos(evTs(i) * 1000L), r.nextInt(nUsers).toLong,
        pick(Array("click", "error", "purchase", "signup", "view")),
        math.max(0.01, math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")))
    val nDocs = math.max(500, n(50000))
    val texts = new Array[String](nDocs)
    save("documents", st("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
      (0 until nDocs).map { i =>
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) texts(r.nextInt(i)) + " dup"
          else Seq.fill(8 + r.nextInt(85))(pick(Vocab)).mkString(" ")
        Row(i.toLong, texts(i), if (r.nextInt(2) == 0) "en" else pick(Array("de", "en", "es", "fr", "zh")),
          s"src${i % 20}", texts(i).length.toLong)
      })
    val nVec = math.max(500, n(20000))
    save("embeddings", st("vec_id" -> LongType, "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until nVec).map { i =>
        val v = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
  }
}

/** The frozen registry list run as a sweep, in list order: untimed
  * warm-up passes (the first also checks each result's digest against
  * the recorded one), then timed passes to the `noop` sink of the
  * queries that neither threw nor differed.
  */
object RegistrySweep {

  /** One query run: wall and build seconds, RDDs pinned and their bytes. */
  final case class Ran(wallS: Double, buildS: Double, pinnedRdds: Int, pinnedBytes: Long)

  /** Order-insensitive digest of a result: its row count and the sum of
    * per-row hashes, doubles rounded to six significant digits.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => format_string("%.6g", c.cast(DoubleType) + lit(0.0))
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(2147483647L))
    val row = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  def run(ctx: Ctx, tablesDir: String, markSetupDone: () => Unit): Map[String, Any] = {
    val spark = ctx.spark
    val rec = ctx.rec
    val names = ctx.p("reg.queries").split(',').toSeq
    val registry = SparkEntry.queries
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

    /** Builds and runs one query under its own job group; None if it threw.
      * Also returns the RDDs its barriers persisted and their bytes, taken
      * while the query's frames are still reachable.
      */
    def runOne(pass: String, name: String, parent: Long)(
        sink: DataFrame => Unit): Option[Ran] = {
      val gid = s"$pass:$name"
      spark.sparkContext.setJobGroup(gid, gid)
      try rec.span(parent, "query", name, gid) { qid =>
        val before = persisted(spark)
        val t0 = System.nanoTime()
        val fn = registry.getOrElse(name, sys.error(s"query $name is not registered"))
        val df = rec.span(qid, "build", "build", gid)(_ => fn(spark, tablesDir))
        val t1 = System.nanoTime()
        rec.span(qid, "execute", "execute", gid)(_ => sink(df))
        val t2 = System.nanoTime()
        val pinned = persisted(spark) -- before.keys
        Some(Ran((t2 - t0) / 1e9, (t1 - t0) / 1e9, pinned.size, pinned.values.sum))
      } catch {
        case e: Throwable =>
          errors.getOrElseUpdate(name, s"$pass: ${e.toString.take(300)}")
          None
      } finally spark.sparkContext.clearJobGroup()
    }

    rec.span(-1L, "phase", "warmup") { pid =>
      for (p <- 1 to ctx.pl("reg.warmup_passes").toInt; n <- names if !errors.contains(n))
        runOne(s"warm$p", n, pid) { df => if (p == 1) digests(n) = digest(df) else noop(df) }
    }
    // a result that differs from the recorded one is a failure and is not timed
    for (n <- names if !errors.contains(n)) {
      val got = digests.get(n).map { case (rows, h) => s"$rows:$h" }.getOrElse("none")
      ctx.params.get(s"reg.digest.$n") match {
        case None => errors(n) = "no recorded digest"
        case Some(want) if want != got => errors(n) = s"rows:digest $got, expected $want"
        case _ =>
      }
    }
    val timed = names.filterNot(errors.contains)
    markSetupDone()
    ctx.drain()
    val timedStartUs = Clock.us()
    // timed passes; each query is credited with its best pass
    val passes = (1 to ctx.pl("reg.timed_passes").toInt).map { p =>
      rec.span(-1L, "phase", s"timed $p") { pid =>
        timed.flatMap(n => runOne(s"timed$p", n, pid)(noop).map(n -> _)).toMap
      }
    }
    val timedEndUs = Clock.us()
    val retained = Jvm.retainedHeapMb()
    ctx.drain()
    val gids = for (p <- passes.indices; n <- timed) yield s"timed${p + 1}:$n"
    val perPass = (x: Double) => x / passes.size
    val ran = passes.flatMap(_.values)
    val done = timed.filter(n => passes.forall(_.contains(n)))
    val walls = done.map(n => passes.map(_(n).wallS).min)
    val cpu = done.map(n => passes.indices.map(p => ctx.exec.totals(Seq(s"timed${p + 1}:$n"))("cpu_ns")).min)
    val wallsMs = walls.map(_ * 1000.0).sorted.toArray
    val e2e = Map(
      "throughput_per_s" -> done.size / walls.sum,
      "work_cpu_s" -> cpu.sum / 1e9,
      "latency_p50_ms" -> Stats.quantile(wallsMs, 0.5),
      "latency_p90_ms" -> Stats.quantile(wallsMs, 0.9),
      "retained_heap_mb" -> retained)
    val spans = rec.all
    val eagerJobs = gids.map { g =>
      val builds = spans.filter(s => s.kind == "build" && s.gid == g)
      spans.count(j => j.kind == "job" && j.gid == g &&
        builds.exists(b => j.startUs >= b.startUs - 1000 && j.startUs <= b.endUs + 1000))
    }.sum
    val layers = StreamRunner.execMetrics(ctx.exec.totals(gids)).map { case (k, v) =>
      k -> (if (k == "exec.peak_exec_mem_mb") v else perPass(v))
    } ++ Map(
      "plan.build_s" -> perPass(ran.map(_.buildS).sum),
      "plan.eager_jobs" -> perPass(eagerJobs),
      "barrier.checkpoint_rdds" -> perPass(ran.map(_.pinnedRdds).sum),
      "barrier.pinned_mb" -> perPass(ran.map(_.pinnedBytes).sum / 1048576.0)) ++
      ctx.plan.metrics(timedStartUs, timedEndUs, passes.size)
    Map("e2e" -> e2e, "layers" -> layers,
      "digests" -> digests.map { case (n, (rows, h)) => n -> s"$rows:$h" },
      "errors" -> errors, "attempted" -> names.size.toLong, "failed" -> errors.size.toLong,
      "info" -> Map("sweep_s" -> walls.sum, "sweep_cpu_s" -> e2e("work_cpu_s"),
        "query_p50_s" -> e2e("latency_p50_ms") / 1000.0,
        "query_s" -> done.zip(walls).toMap))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Persisted RDDs by id with their memory + disk bytes: what barriers pin. */
  private def persisted(spark: SparkSession): Map[Int, Long] =
    spark.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
}
