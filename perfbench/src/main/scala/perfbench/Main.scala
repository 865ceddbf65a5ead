package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.util.Properties
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. `run.py` builds this, writes the
  * parameters file and turns the result file into the reported metrics.
  *
  * {{{
  * Main --gen-tables DIR --sf SF --data-seed N --work DIR
  * Main --workload W --seed N --seconds S --trace 0|1 --cores C
  *      --params FILE --work DIR --out FILE --tables DIR
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    a.get("gen-tables") match {
      case Some(dir) =>
        val spark = session(2, new File(a("work")))
        TableGen.write(spark, new File(dir), a("sf").toDouble, a("data-seed").toLong)
        spark.stop()
      case None => run(a)
    }
  }

  /** The session graft.Bench builds, at the given core count. */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def run(a: Map[String, String]): Unit = {
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000.0
    val props = new Properties()
    val in = new FileInputStream(a("params"))
    try props.load(in) finally in.close()
    val params = props.asScala.toMap
    val work = new File(a("work"))
    val rec = new Recorder(a("trace") == "1")
    val spark = session(a("cores").toInt, work)
    val exec = new ExecListener(rec)
    val plan = new PlanListener(rec)
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    val ctx = new Ctx(spark, rec, exec, plan, params, a("seed").toLong, a("seconds").toDouble, work)
    val sessionUs = Clock.us()
    rec.add(-1L, "phase", "session", "", jvmStartUs, sessionUs)
    @volatile var setupDoneUs = Double.NaN
    val markSetup = () => setupDoneUs = Clock.us()

    val result = a("workload") match {
      case "wordcount_stream" =>
        StreamRunner.run(ctx, new WordCountStream(spark, ctx.seed), markSetup)
      case "registry_sweep" =>
        RegistrySweep.run(ctx, a("tables"), markSetup)
      case other => sys.error(s"unknown workload $other")
    }
    ctx.drain()
    val endUs = Clock.us()
    rec.add(-1L, "run", "run", "", jvmStartUs, endUs)
    val out = result ++ Map(
      "setup_done_us" -> setupDoneUs,
      "layers" -> (result("layers").asInstanceOf[Map[String, Double]] ++ Jvm.layers()),
      "spans" -> rec.all.map(_.toMap))
    val pw = new PrintWriter(a("out"), "UTF-8")
    try pw.write(Json.render(out)) finally pw.close()
    spark.stop()
  }
}
