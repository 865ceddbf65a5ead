package graft

import java.util.concurrent.ConcurrentHashMap

/** Dev tool (optimization round): per-stage metrics for one registered
  * query — executor CPU, run time, GC, shuffle read/write bytes,
  * records, peak memory and the stage's callsite — so the expensive
  * stage of a multi-stage query can be named instead of guessed.
  * Usage: runMain graft.StageProf <sfDir> <query> [reps]
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q01_pricing_summary")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)

    case class St(cpuS: Double, runS: Double, gcS: Double, shrMb: Double,
      shwMb: Double, inRec: Long, outRec: Long, site: String, nTasks: Int)
    val stages = new ConcurrentHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val m = i.taskMetrics
        if (m != null) stages.put(i.stageId, St(
          m.executorCpuTime / 1e9, m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleReadMetrics.totalBytesRead / 1048576.0,
          m.shuffleWriteMetrics.bytesWritten / 1048576.0,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
          i.name,
          i.numTasks))
      }
    })

    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val fn = SparkEntry.queries(name)
    (1 to reps).foreach { r =>
      stages.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener drain
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_._1)
      println(f"[stageprof] === $name rep $r wall=$wall%.2f s, ${rows.size} stages ===")
      println(f"[stageprof] ${"id"}%5s ${"tasks"}%5s ${"cpu_s"}%7s ${"run_s"}%7s ${"gc_s"}%5s ${"shR_mb"}%7s ${"shW_mb"}%7s ${"inRec"}%9s ${"site"}")
      rows.foreach { case (id, s) =>
        println(f"[stageprof] $id%5d ${s.nTasks}%5d ${s.cpuS}%7.2f ${s.runS}%7.2f ${s.gcS}%5.1f ${s.shrMb}%7.1f ${s.shwMb}%7.1f ${s.inRec}%9d ${s.site.take(150)}")
      }
      val tot = rows.map(_._2)
      println(f"[stageprof] TOTAL cpu=${tot.map(_.cpuS).sum}%.2f run=${tot.map(_.runS).sum}%.2f gc=${tot.map(_.gcS).sum}%.2f shW=${tot.map(_.shwMb).sum}%.1f MB")
    }
    spark.stop()
  }
}
