package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ParquetSchema
import org.apache.spark.sql.types.StructType

/** `Tables` resolves parquet schemas on the driver (`ParquetSchema`):
  * the schema must be the one stock `spark.read.parquet` infers, with
  * no Spark job, and every input that is not a single-footer case must
  * fall back to stock inference.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tempDir(): Path = {
    val d = Files.createTempDirectory("graft-tables")
    d.toFile.deleteOnExit()
    d
  }

  /** The table read through `Tables` and through stock inference agree:
    * the same schema, or the same failure.
    */
  private def assertStockSchema(dir: String, name: String): Option[StructType] = {
    val ours = Try(Tables.table(spark, dir, name).schema)
    val stock = Try(spark.read.parquet(s"$dir/$name.parquet").schema)
    (ours.toEither, stock.toEither) match {
      case (Right(a), Right(b)) => assert(a == b, s"$name: $a != $b"); Some(a)
      case (Left(a), Left(b)) =>
        assert(a.getClass == b.getClass, s"$name: $a vs $b")
        (a, b) match {
          case (x: SparkThrowable, y: SparkThrowable) =>
            assert(x.getCondition == y.getCondition, s"$name: $a vs $b")
          case _ =>
        }
        None
      case (a, b) => fail(s"$name: Tables gave $a, stock inference gave $b")
    }
  }

  private def tableNames(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq

  /** A Spark-written directory table: several part files, `_SUCCESS`. */
  private def writeDirTable(dir: Path, name: String): Unit =
    spark.range(0, 300, 1, 3).select(
      col("id"), (col("id") % 7).cast("int").as("k"),
      concat(lit("v"), col("id").cast("string")).as("s"),
      (col("id") / 3).cast("decimal(12,2)").as("amount"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit(1.5).as("b")).as("st"))
      .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

  test("driver-side schemas equal stock inference for every testdata table") {
    val names = tableNames(sf)
    assert(names.contains("events") && names.size >= 10)
    for (nanos <- Seq("true", "false")) withConf(NanosAsLong, nanos) {
      names.foreach(n => assertStockSchema(sf, n))
      // not vacuous: the plain tables are resolved on the driver
      assert(ParquetSchema.infer(spark, s"$sf/orders.parquet").isDefined)
    }
    // events, the table Tables.events reads under nanosAsLong, too
    withConf(NanosAsLong, "true") {
      assert(ParquetSchema.infer(spark, s"$sf/events.parquet").isDefined)
    }
  }

  test("a Spark-written directory table gets the stock schema, _SUCCESS and all") {
    val d = tempDir()
    writeDirTable(d, "t")
    val files = d.resolve("t.parquet").toFile.list().toSet
    assert(files.contains("_SUCCESS") && files.count(_.endsWith(".parquet")) == 3)
    for (nanos <- Seq("true", "false")) withConf(NanosAsLong, nanos) {
      assert(ParquetSchema.infer(spark, d.resolve("t.parquet").toString).isDefined)
      assert(assertStockSchema(d.toString, "t").isDefined)
    }
    // a glob path is left to stock inference, which expands it
    assert(ParquetSchema.infer(spark, d.resolve("t*.parquet").toString).isEmpty)
    assert(assertStockSchema(d.toString, "t*").isDefined)
  }

  test("building Tables.orders and Tables.events starts no Spark job") {
    val group = "graft-tables-build"
    val jobs = new AtomicInteger
    val seen = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) jobs.incrementAndGet()
        if (g == s"$group-sentinel") seen.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    /** Jobs started in the group while `build` ran; the listener bus is
      * drained by waiting for a later sentinel job's start event.
      */
    def jobsWhile(build: => Seq[DataFrame]): Int = {
      jobs.set(0)
      spark.sparkContext.setJobGroup(group, group)
      try build.foreach(_.schema) finally spark.sparkContext.clearJobGroup()
      val before = seen.get
      spark.sparkContext.setJobGroup(s"$group-sentinel", group)
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seen.get == before && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.get > before, "listener bus did not drain")
      jobs.get
    }
    try {
      // the listener sees stock inference's job ...
      assert(jobsWhile(Seq(spark.read.parquet(s"$sf/orders.parquet"))) >= 1)
      // ... and none from Tables
      assert(jobsWhile(Seq(Tables.orders(spark, sf), Tables.events(spark, sf))) == 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fallback: a partitioned k=v directory gets the stock schema") {
    val d = tempDir()
    spark.range(0, 40).select(col("id"), (col("id") % 3).as("k"))
      .write.partitionBy("k").parquet(d.resolve("p.parquet").toString)
    assert(ParquetSchema.infer(spark, d.resolve("p.parquet").toString).isEmpty)
    val schema = assertStockSchema(d.toString, "p").get
    assert(schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("fallback: spark.sql.parquet.mergeSchema=true gets the merged stock schema") {
    val d = tempDir()
    val path = d.resolve("m.parquet").toString
    spark.range(5).select(col("id"), lit("x").as("a")).write.parquet(path)
    spark.range(5).select(col("id"), lit(2.0).as("b")).write.mode("append").parquet(path)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(ParquetSchema.infer(spark, path).isEmpty)
      val schema = assertStockSchema(d.toString, "m").get
      assert(schema.fieldNames.toSet == Set("id", "a", "b"))
    }
  }

  test("summary files: _common_metadata, then _metadata, win over data files as in stock") {
    val d = tempDir()
    val src = tempDir()
    def footerOf(cols: String*): Path = {
      val out = src.resolve(cols.mkString("_"))
      spark.range(1).select(cols.map(c => col("id").as(c)): _*).coalesce(1)
        .write.parquet(out.toString)
      out.toFile.listFiles().find(_.getName.endsWith(".parquet")).get.toPath
    }
    writeDirTable(d, "s")
    val table = d.resolve("s.parquet")
    Files.copy(footerOf("meta_a", "meta_b"), table.resolve("_metadata"))
    Files.copy(footerOf("common_c"), table.resolve("_common_metadata"))
    def driverSide: Option[Seq[String]] =
      ParquetSchema.infer(spark, table.toString).map(_.fieldNames.toSeq)
    assert(driverSide.contains(Seq("common_c")))
    assert(assertStockSchema(d.toString, "s").get.fieldNames.toSeq == Seq("common_c"))
    Files.delete(table.resolve("_common_metadata"))
    assert(driverSide.contains(Seq("meta_a", "meta_b")))
    assert(assertStockSchema(d.toString, "s").get.fieldNames.toSeq == Seq("meta_a", "meta_b"))
    // an unreadable summary falls back to stock, which fails the same way
    Files.copy(table.resolve("_SUCCESS"), table.resolve("_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assert(driverSide.isEmpty)
    assert(assertStockSchema(d.toString, "s").isEmpty)
  }

  test("fallback: a file-sink output (_spark_metadata) gets the stock schema") {
    import spark.implicits._
    val d = tempDir()
    val path = d.resolve("f.parquet").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val q = in.toDF().select(col("value").as("v")).writeStream.format("parquet")
      .option("checkpointLocation", d.resolve("ck").toString).start(path)
    try q.processAllAvailable() finally q.stop()
    assert(new java.io.File(path, "_spark_metadata").isDirectory)
    assert(ParquetSchema.infer(spark, path).isEmpty)
    assert(assertStockSchema(d.toString, "f").get.fieldNames.toSeq == Seq("v"))
  }

  test("a missing table fails as stock inference does") {
    assert(ParquetSchema.infer(spark, s"$sf/no_such_table.parquet").isEmpty)
    assert(assertStockSchema(sf, "no_such_table").isEmpty)
  }
}
