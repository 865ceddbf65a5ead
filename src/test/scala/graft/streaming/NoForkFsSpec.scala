package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileContext, FileSystem,
  Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** The `file:` FileContext binding GraftExtensions installs: local
  * checkpoints go through [[NoForkFs]] and come out exactly as stock
  * `LocalFs` writes them — same files, `.crc` sidecars included, with
  * checksum verification and the no-overwrite rename check intact.
  */
class NoForkFsSpec extends SparkSpec {
  import spark.implicits._

  private def fileContext(uri: URI): FileContext =
    FileContext.getFileContext(uri, spark.sessionState.newHadoopConf())

  /** Every file under `root`, relative to it. */
  private def fileSet(root: NioPath): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet

  /** Two micro-batches of a running word count checkpointed in a fresh
    * plain temp directory; returns the directory. */
  private def wordCountCheckpoint(): NioPath = {
    implicit val sql = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_nofork_ckpt")
    val in = MemoryStream[String]
    val counts = StatefulStreams.statefulByKey(in.toDS(), (w: String) => w, 0) {
      (n: Int, w: String) => (n + 1, Seq(s"$w:${n + 1}"))
    }
    val received = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def runOnce(): Unit = counts.writeStream
      .foreachBatch { (batch: Dataset[String], _: Long) =>
        batch.collect().foreach(received.add)
      }
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    in.addData(Seq("a", "b", "a"))
    runOnce()
    in.addData(Seq("a", "c"))
    runOnce()
    assert(received.asScala.toSeq.sorted == Seq("a:1", "a:2", "a:3", "b:1", "c:1"))
    ckpt
  }

  test("a file: FileContext in a graft session resolves to NoForkFs") {
    spark.range(1).count() // the binding is made when the first query is analyzed
    assert(fileContext(new URI("file:///")).getDefaultFileSystem.isInstanceOf[NoForkFs])
  }

  test("a stateful stream writes the same checkpoint files as stock LocalFs") {
    val mine = fileSet(wordCountCheckpoint())
    spark.conf.set(NoForkFs.Key, classOf[LocalFs].getName)
    val stock =
      try {
        assert(fileContext(new URI("file:///")).getDefaultFileSystem.isInstanceOf[LocalFs])
        fileSet(wordCountCheckpoint())
      } finally spark.conf.unset(NoForkFs.Key)
    assert(mine.exists(_.startsWith("state/")), s"no state files in $mine")
    assert(mine.exists(_.endsWith(".crc")), s"no .crc sidecars in $mine")
    assert(mine == stock)
  }

  test("atomic create keeps the no-overwrite rename check and a verifiable .crc") {
    def manager(dir: NioPath, fileContextImpl: String) = {
      val conf = spark.sessionState.newHadoopConf()
      conf.set(NoForkFs.Key, fileContextImpl)
      CheckpointFileManager.create(new Path(dir.toUri), conf)
    }
    def write(fm: CheckpointFileManager, dir: NioPath, text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(new Path(dir.resolve("0").toUri), overwriteIfPossible = overwrite)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    val (mine, stock) =
      (Files.createTempDirectory("graft_nofork_atomic"), Files.createTempDirectory("graft_stock_atomic"))
    val fm = manager(mine, classOf[NoForkFs].getName)
    write(fm, mine, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, mine, "again", overwrite = false))
    assert(new String(Files.readAllBytes(mine.resolve("0")), "UTF-8") == "first")
    write(manager(stock, classOf[LocalFs].getName), stock, "first", overwrite = false)
    assert(Files.readAllBytes(mine.resolve(".0.crc")).sameElements(
      Files.readAllBytes(stock.resolve(".0.crc"))))
    // same length, different bytes: only the sidecar can tell
    Files.write(mine.resolve("0"), "fir5t".getBytes("UTF-8"))
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    intercept[ChecksumException] {
      val in = local.open(new Path(mine.resolve("0").toUri))
      try in.readAllBytes() finally in.close()
    }
  }

  test("getFileLinkStatus still reports a symlink") {
    val dir = Files.createTempDirectory("graft_nofork_link")
    val target = Files.write(dir.resolve("target"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val fc = fileContext(dir.toUri)
    val st = fc.getFileLinkStatus(new Path(link.toUri))
    assert(st.isSymlink)
    assert(st.getSymlink == new Path(target.toUri))
    assert(!fc.getFileLinkStatus(new Path(target.toUri)).isSymlink)
    assert(fc.getFileStatus(new Path(link.toUri)).isFile)
  }
}
