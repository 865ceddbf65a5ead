package graft

/** Dev tool: time individual registered queries in isolation (in
  * `Bench.session` — noop sink, AQE on, 32-way shuffle) without
  * paying a full 78-query sweep. Usage:
  *   runMain graft.QTime <sfDir> <q1,q2,...> [reps]
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("q01_pricing_summary"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    def compiles: Long = {
      import scala.jdk.CollectionConverters._
      org.apache.spark.metrics.source.CodegenMetrics.metricRegistry
        .getHistograms.asScala.collectFirst {
          case (name, h) if name.contains("compilationTime") => h.getCount
        }.getOrElse(0L)
    }
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def codeCacheMb: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
        .map(_.getUsage.getUsed / 1048576.0).sum
    }
    names.foreach { n =>
      // pseudo-query: force a full GC + cleaner drain between real runs
      // (dev lever for separating stale-block pressure from real cost)
      if (n == "GC") {
        System.gc(); Thread.sleep(3000)
        val st = spark.sparkContext.getRDDStorageInfo
        println(f"[qtime] GC done: ${st.length} cached RDDs, ${st.map(_.memSize).sum / 1048576.0}%.0f MB")
      } else {
      val fn = SparkEntry.queries(n)
      val j0 = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val g0 = gcMs
      val c0 = compiles
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qtime] $n reps=${ts.map(t => f"$t%.2f").mkString(",")} min=${ts.min}%.2f codegen=+${compiles - c0} gc=+${gcMs - g0}ms codecache=$codeCacheMb%.0fMB jit=+${java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime - j0}ms")
      }
    }
    spark.stop()
  }
}
