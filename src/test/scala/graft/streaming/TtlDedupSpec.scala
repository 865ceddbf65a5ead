package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Spark 4 transformWithState TTL dedup (StatefulStreams.ttlDedup):
  * first occurrence of a key is emitted, repeats within the TTL horizon
  * are dropped, and a key re-arriving after its state entry expired is
  * emitted again — the rolling-horizon semantics of continuous-ingest
  * dedup. Runs on the RocksDB provider (transformWithState rejects the
  * HDFS-backed one) with a plain temp-directory checkpoint.
  *
  * Driving note: with TimeMode.ProcessingTime the engine ALWAYS has
  * another batch to run (processing time must advance for TTL/timer
  * expiry), so `noNewData` is never set and
  * `StreamingQuery.processAllAvailable()` would block forever — the
  * spec polls the sink with a deadline instead, and settles (waits out
  * extra triggers) before asserting nothing else was emitted.
  */
class TtlDedupSpec extends SparkSpec {
  import spark.implicits._

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def run(ttl: java.time.Duration)(
      drive: (MemoryStream[(Long, String)],
              ConcurrentLinkedQueue[(Long, String)]) => Unit): Unit =
    withRocksDb {
      implicit val sql = spark.sqlContext
      val ckpt = Files.createTempDirectory("graft_tws").toString
      val in = MemoryStream[(Long, String)]
      val out = StatefulStreams.ttlDedup(in.toDS(), (r: (Long, String)) => r._1, ttl)
      val received = new ConcurrentLinkedQueue[(Long, String)]()
      val q = out.writeStream
        .foreachBatch { (batch: Dataset[(Long, String)], _: Long) =>
          batch.collect().foreach(received.add)
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      try drive(in, received)
      finally q.stop()
    }

  /** Poll until the sink holds `n` rows (micro-batches keep firing on
    * the trigger clock; there is no "done" signal to await).
    */
  private def awaitCount(
      received: ConcurrentLinkedQueue[(Long, String)], n: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (received.size < n && System.nanoTime() < deadline) Thread.sleep(50)
    assert(received.size >= n, s"sink never reached $n rows: $received")
  }

  /** Wait out several further trigger intervals so a wrongly-emitted
    * duplicate would have landed, then assert the exact sink contents.
    */
  private def settleAndAssert(
      received: ConcurrentLinkedQueue[(Long, String)],
      expect: Seq[(Long, String)]): Unit = {
    Thread.sleep(500)
    assert(received.toArray(Array.empty[(Long, String)]).sorted.toSeq == expect)
  }

  // ---- event-time variant (ttlDedupEventTime) ----
  // rows are (key, event-time ms, payload); the horizon expires when
  // the WATERMARK passes first-occurrence-ts + ttl, so expiry is a
  // function of the data — processAllAvailable works here (event-time
  // timers only advance on new data, unlike the processing-time mode).
  private type Row3 = (Long, Long, String)
  private type Row4 = (Long, Long, String, java.sql.Timestamp)

  private def runEventTime(ttl: java.time.Duration)(
      drive: (MemoryStream[Row3], () => Unit, ConcurrentLinkedQueue[Row3], String) => Unit): Unit =
    withRocksDb {
      implicit val sql = spark.sqlContext
      val ckpt = Files.createTempDirectory("graft_tws_et").toString
      val in = MemoryStream[Row3]
      def start(received: ConcurrentLinkedQueue[Row3]) = {
        import org.apache.spark.sql.functions._
        val wmarked = in.toDS()
          .withColumn("ets", timestamp_millis(col("_2")))
          .withWatermark("ets", "0 milliseconds")
          .as[Row4]
        StatefulStreams
          .ttlDedupEventTime(wmarked, (r: Row4) => r._1, (r: Row4) => r._2, ttl)
          .writeStream
          .foreachBatch { (batch: Dataset[Row4], _: Long) =>
            batch.collect().foreach(r => received.add((r._1, r._2, r._3)))
          }
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
      }
      val received = new ConcurrentLinkedQueue[Row3]()
      var q = start(received)
      def restart(): Unit = { q.stop(); q = start(received) }
      try drive(in, () => restart(), received, ckpt)
      finally q.stop()
    }

  private def sinkSorted(received: ConcurrentLinkedQueue[Row3]): Seq[Row3] =
    received.toArray(Array.empty[Row3]).sorted.toSeq

  test("event-time horizon expires on watermark, never on the wall clock") {
    runEventTime(java.time.Duration.ofMillis(100)) { (in, _, received, _) =>
      val q = () => spark.streams.active.foreach(_.processAllAvailable())
      in.addData(Seq((1L, 1000L, "first"), (1L, 1500L, "dup-same-batch")))
      q()
      // wall-clock far past the 100 ms ttl — but the watermark (1000,
      // one batch behind) has not passed 1000+100, so the repeat drops
      Thread.sleep(500)
      in.addData(Seq((1L, 1050L, "dup-wall-clock-later")))
      q()
      assert(sinkSorted(received) == Seq((1L, 1000L, "first")))
      // advance the watermark past the expiry with an unrelated key...
      in.addData(Seq((9L, 99999L, "advance")))
      q()
      // ...one more batch so the timer fires with watermark 99999
      in.addData(Seq((8L, 100000L, "advance2")))
      q()
      // now key 1 re-arrives past its data-determined horizon
      in.addData(Seq((1L, 100001L, "re-emit")))
      q()
      assert(sinkSorted(received) == Seq((1L, 1000L, "first"),
        (1L, 100001L, "re-emit"), (8L, 100000L, "advance2"), (9L, 99999L, "advance")))
    }
  }

  test("event-time dedup: late first-occurrences behind the watermark are dropped") {
    // TimeMode.EventTime filters input rows older than the current
    // watermark BEFORE the processor sees them — a late "first
    // occurrence" of a new key is dropped, not emitted. Pinned here so
    // the semantic (exactly the native watermark contract, unlike the
    // reference's re-open-window behavior on the parity surface) is
    // explicit.
    runEventTime(java.time.Duration.ofMillis(100)) { (in, _, received, _) =>
      val q = () => spark.streams.active.foreach(_.processAllAvailable())
      in.addData(Seq((1L, 50000L, "advance")))
      q()
      // watermark is now 50000 (after the batch); key 9's only row is
      // far behind it
      in.addData(Seq((9L, 1000L, "late-first")))
      q()
      in.addData(Seq((2L, 60000L, "advance2")))
      q()
      assert(sinkSorted(received) == Seq((1L, 50000L, "advance"), (2L, 60000L, "advance2")),
        s"late row should be dropped, sink: ${sinkSorted(received)}")
    }
  }

  test("event-time dedup state and horizon survive a checkpoint restart") {
    runEventTime(java.time.Duration.ofMillis(100)) { (in, restart, received, _) =>
      val q = () => spark.streams.active.foreach(_.processAllAvailable())
      in.addData(Seq((1L, 1000L, "first")))
      q()
      restart()
      // restored state still suppresses the key: watermark (1000) has
      // not passed 1100, replaying gives the same decision as a
      // continuous run — the horizon is in the checkpoint, not the JVM
      in.addData(Seq((1L, 1040L, "dup-after-restart")))
      q()
      assert(sinkSorted(received) == Seq((1L, 1000L, "first")))
      in.addData(Seq((2L, 50000L, "advance")))
      q()
      in.addData(Seq((3L, 50001L, "advance2")))
      q()
      in.addData(Seq((1L, 50002L, "re-emit")))
      q()
      assert(sinkSorted(received) == Seq((1L, 1000L, "first"),
        (1L, 50002L, "re-emit"), (2L, 50000L, "advance"), (3L, 50001L, "advance2")))
    }
  }

  test("first occurrence per key emitted; repeats within TTL dropped") {
    run(java.time.Duration.ofHours(1)) { (in, received) =>
      in.addData(Seq((1L, "a1"), (2L, "b1"), (1L, "a-dup-same-batch")))
      awaitCount(received, 2)
      settleAndAssert(received, Seq((1L, "a1"), (2L, "b1")))

      // next micro-batches: repeats of 1 and 2 dropped, new key 3 emitted
      in.addData(Seq((1L, "a-dup-next-batch"), (3L, "c1"), (2L, "b-dup")))
      awaitCount(received, 3)
      settleAndAssert(received, Seq((1L, "a1"), (2L, "b1"), (3L, "c1")))
    }
  }

  test("key re-arriving past the TTL horizon is emitted again") {
    run(java.time.Duration.ofMillis(100)) { (in, received) =>
      in.addData(Seq((7L, "first")))
      awaitCount(received, 1)
      // let the state entry expire (TTL is processing-time based)
      Thread.sleep(1000)
      in.addData(Seq((7L, "after-expiry")))
      awaitCount(received, 2)
      settleAndAssert(received, Seq((7L, "after-expiry"), (7L, "first")))
    }
  }
}
