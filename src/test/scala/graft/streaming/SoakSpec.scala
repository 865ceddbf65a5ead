package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.SparkSpec
import graft.queries.EventWindows

/** Volume-scale streaming soak for the heaviest stateful twins: the
  * README STATE table's bounds, held not on a 5-row fixture but across
  * ≥50 micro-batches of sf0.1 arrival volume, with per-batch
  * `numRowsTotal` asserts against the documented bound and a final
  * batch-parity (or invariant) check.
  *
  *  - streamingAttributionEdges: 100k events / 1.5k users in 50
  *    batches — state is EXACTLY one row per user seen (NoTimeout
  *    form), and the full edge multiset equals batch
  *    attributionEdgesOf over the union.
  *  - streamingNearDupPairs: 5k documents in 50 batches — state rows
  *    never exceed the total band-bucket count, and the distinct pair
  *    set equals batch q32 at sf0.1.
  *  - ttlDedupEventTime: 100k events in 50 batches under a 6 h TTL —
  *    state tracks the users-in-horizon bound (arrival rate × horizon,
  *    NOT total keys seen), eviction demonstrably happens mid-soak,
  *    re-emissions per key are ≥ TTL apart in event time, and the
  *    store drains when the watermark passes the last horizon.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.1"
  private val Batches = 50

  private def stateRows(q: StreamingQuery): Long = {
    val p = q.lastProgress
    if (p == null || p.stateOperators.isEmpty) -1L
    else p.stateOperators.map(_.numRowsTotal).sum
  }

  test("soak: attribution edges hold 1 state row/user over 50 sf0.1 batches") {
    implicit val sql = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_soak_attr").toString
    val fed = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
      .orderBy(col("ts_ms"), col("event_id"))
      .as[(Long, Long, String, Long)].collect().toSeq
    // closing batch: one far-future purchase per user, so every user's
    // FINAL session converts — the condition under which the NoTimeout
    // stream and the batch derivation define the same edge multiset
    // (otherwise the batch emits the final unconverted sessions' NULL
    // terminals that only the flush timer would surface in streaming;
    // StateBoundSpec drives that timer path)
    val closeTs = fed.map(_._4).max + 10L * 1800000L
    val closing = fed.map(_._2).distinct.sorted.zipWithIndex
      .map { case (u, i) => (1000000L + i, u, "purchase", closeTs) }
    val all = fed ++ closing
    val chunks = fed.grouped((fed.size + Batches - 1) / Batches).toSeq :+ closing
    val in = MemoryStream[(Long, Long, String, Long)]
    val edges = StatefulStreams.streamingAttributionEdges(
      in.toDF().toDF("event_id", "user_id", "event_type", "ts_ms"), None)
    val received = new ConcurrentLinkedQueue[(String, String)]()
    val q = edges.writeStream
      .foreachBatch { (b: Dataset[(String, String)], _: Long) =>
        b.collect().foreach(received.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      val seen = scala.collection.mutable.Set[Long]()
      chunks.foreach { c =>
        in.addData(c)
        q.processAllAvailable()
        seen ++= c.map(_._2)
        // the STATE bound, exact: one (last_ts, last_kept, converted)
        // row per user ever seen — never events-seen, never evicted
        // under NoTimeout
        assert(stateRows(q) == seen.size.toLong,
          s"state ${stateRows(q)} != users seen ${seen.size}")
      }
      assert(seen.size == 1500)
      def counts(rows: Iterable[(String, String)]) =
        rows.groupBy(identity).map { case (k, v) => k -> v.size }
      val got = counts(received.toArray(Array.empty[(String, String)]).toSeq)
      val want = counts(EventWindows.attributionEdgesOf(
        all.toDF("event_id", "user_id", "event_type", "ts_ms")
          .selectExpr("user_id", "event_id", "event_type", "ts_ms"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
      assert(got == want,
        s"edge multiset diverged: got ${got.size} keys, want ${want.size}")
      info(s"final state rows = ${stateRows(q)} (users = ${seen.size}), " +
        s"edges emitted = ${received.size}")
    } finally q.stop()
  }

  test("soak + recovery: attribution stream killed at batch 25 on RocksDB " +
      "resumes with state intact and exact final parity") {
    // SoakSpec proves bounds at volume; CheckpointRecoverySpec proves
    // restart at fixture scale. This case combines them: the heaviest
    // twin is KILLED mid-soak on the at-scale state backend and must
    // finish bit-identical to the uninterrupted batch derivation.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_soak_recover").toString
    val RestartAt = 25
    val fed = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"))
      .orderBy(col("ts_ms"), col("event_id"))
      .as[(Long, Long, String, Long)].collect().toSeq
    val closeTs = fed.map(_._4).max + 10L * 1800000L
    val closing = fed.map(_._2).distinct.sorted.zipWithIndex
      .map { case (u, i) => (1000000L + i, u, "purchase", closeTs) }
    val all = fed ++ closing
    val chunks = fed.grouped((fed.size + Batches - 1) / Batches).toSeq :+ closing
    val in = MemoryStream[(Long, Long, String, Long)]
    val edges = StatefulStreams.streamingAttributionEdges(
      in.toDF().toDF("event_id", "user_id", "event_type", "ts_ms"), None)
    val received = new ConcurrentLinkedQueue[(String, String)]()
    def start() = edges.writeStream
      .foreachBatch { (b: Dataset[(String, String)], _: Long) =>
        b.collect().foreach(received.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val seen = scala.collection.mutable.Set[Long]()
    val q1 = start()
    try {
      chunks.take(RestartAt).foreach { c =>
        in.addData(c)
        q1.processAllAvailable()
        seen ++= c.map(_._2)
        assert(stateRows(q1) == seen.size.toLong,
          s"pre-kill state ${stateRows(q1)} != users seen ${seen.size}")
      }
    } finally q1.stop() // the kill: mid-soak, state only in the checkpoint
    val usersAtKill = seen.size
    val q2 = start()
    try {
      chunks.drop(RestartAt).foreach { c =>
        in.addData(c)
        q2.processAllAvailable()
        seen ++= c.map(_._2)
        // restored state + new arrivals — a reset-to-zero store would
        // undercount immediately
        assert(stateRows(q2) == seen.size.toLong,
          s"post-restart state ${stateRows(q2)} != users seen ${seen.size}")
      }
      assert(seen.size == 1500)
      def counts(rows: Iterable[(String, String)]) =
        rows.groupBy(identity).map { case (k, v) => k -> v.size }
      val got = counts(received.toArray(Array.empty[(String, String)]).toSeq)
      val want = counts(EventWindows.attributionEdgesOf(
        all.toDF("event_id", "user_id", "event_type", "ts_ms")
          .selectExpr("user_id", "event_id", "event_type", "ts_ms"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
      assert(got == want,
        s"edge multiset diverged after restart: got ${got.size} keys, " +
          s"want ${want.size}")
      info(s"killed after batch $RestartAt ($usersAtKill users in state), " +
        s"resumed to ${stateRows(q2)} state rows, edges = ${received.size}")
    } finally {
      q2.stop()
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("soak: near-dup pair state stays under the bucket bound over 50 batches") {
    implicit val sql = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_soak_near").toString
    val docsAll = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // the documented bound: one state row per band-bucket key, members
    // capped at 256 inside each
    val bucketBound = graft.queries.Dedup.bandedSignatures(docsAll)
      .select(col("band"), col("bkey")).distinct().count()
    val all = docsAll.orderBy(col("doc_id"))
      .as[(Long, String)].collect().toSeq
    val chunks = all.grouped((all.size + Batches - 1) / Batches).toSeq
    val in = MemoryStream[(Long, String)]
    val pairs = StatefulStreams.streamingNearDupPairs(
      in.toDF().toDF("doc_id", "text"))
    val received = new ConcurrentLinkedQueue[(Long, Long, Double)]()
    val q = pairs.writeStream
      .foreachBatch { (b: Dataset[(Long, Long, Double)], _: Long) =>
        b.collect().foreach(received.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      var prev = 0L
      chunks.foreach { c =>
        in.addData(c)
        q.processAllAvailable()
        val s = stateRows(q)
        assert(s <= bucketBound, s"state $s > bucket bound $bucketBound")
        assert(s >= prev, s"bucket state shrank: $s < $prev")
        prev = s
      }
      val streamed = received.toArray(Array.empty[(Long, Long, Double)]).toSet
      val batch = graft.SparkEntry.queries("q32_minhash_lsh")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch,
        s"pair set diverged: only-streaming=${(streamed -- batch).take(5)}, " +
          s"only-batch=${(batch -- streamed).take(5)}")
      info(s"final state rows = $prev of bucket bound $bucketBound, " +
        s"pairs = ${streamed.size}")
    } finally q.stop()
  }

  test("soak: event-time TTL dedup state tracks the horizon, not keys seen") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft_soak_ttl").toString
    val TtlMs = 6L * 3600 * 1000 // 6 h; sf0.1 events span 30 days
    val all = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_type"))
      .orderBy(col("ts_ms"), col("user_id"))
      .as[(Long, Long, String)].collect().toSeq
    val chunks = all.grouped((all.size + Batches - 1) / Batches).toSeq
    val in = MemoryStream[(Long, Long, String)]
    val wmarked = in.toDS()
      .withColumn("ets", timestamp_millis(col("_2")))
      .withWatermark("ets", "0 milliseconds")
      .as[(Long, Long, String, java.sql.Timestamp)]
    val deduped = StatefulStreams.ttlDedupEventTime(
      wmarked, (r: (Long, Long, String, java.sql.Timestamp)) => r._1,
      (r: (Long, Long, String, java.sql.Timestamp)) => r._2,
      java.time.Duration.ofMillis(TtlMs))
    val received = new ConcurrentLinkedQueue[(Long, Long)]()
    val q = deduped.writeStream
      .foreachBatch {
        (b: Dataset[(Long, Long, String, java.sql.Timestamp)], _: Long) =>
          b.collect().foreach(r => received.add((r._1, r._2)))
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      var maxStateSeen = 0L
      var evictionObserved = false
      val fedUsers = scala.collection.mutable.Set[Long]()
      var prevMaxTs = Long.MinValue
      var fed = Vector.empty[(Long, Long, String)]
      chunks.foreach { c =>
        in.addData(c)
        q.processAllAvailable()
        fedUsers ++= c.map(_._1)
        fed ++= c
        // live entries have firstSeen > wm − ttl with wm = max ts of
        // the PREVIOUS batches; bound by the users with any event in
        // that horizon (×2 allows the per-key expiry timer row)
        val horizonFloor =
          if (prevMaxTs == Long.MinValue) Long.MinValue else prevMaxTs - TtlMs
        val bound = fed.iterator.filter(_._2 > horizonFloor).map(_._1).toSet.size
        val s = stateRows(q)
        assert(s <= 2L * bound,
          s"state $s > 2 × horizon bound $bound (wm floor $horizonFloor)")
        if (s < fedUsers.size) evictionObserved = true
        maxStateSeen = math.max(maxStateSeen, s)
        prevMaxTs = math.max(prevMaxTs, c.map(_._2).max)
      }
      // the claim under test: state ~ arrival rate × horizon, NOT the
      // 1,500 distinct keys ever seen (a 14 h batch span under a 6 h
      // TTL churns most of the store every batch)
      assert(evictionObserved, "no batch ever had fewer rows than keys seen")
      // semantic invariants, order-insensitive (sorted feed => no late
      // drops): every user's first occurrence is emitted, and per-key
      // re-emissions are >= TTL apart in event time
      val byKey = received.toArray(Array.empty[(Long, Long)]).toSeq
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val firstTs = all.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      assert(firstTs.keySet == byKey.keySet)
      firstTs.foreach { case (k, t) =>
        assert(byKey(k).head == t, s"user $k first emit ${byKey(k).head} != $t")
      }
      byKey.foreach { case (k, ts) =>
        ts.sliding(2).foreach {
          case Seq(a, b) => assert(b - a >= TtlMs,
            s"user $k re-emitted after ${b - a} ms < TTL $TtlMs")
          case _ =>
        }
      }
      // drain: push the watermark past every horizon; only the
      // far-future sentinels may remain live
      val far = prevMaxTs + 10 * TtlMs
      in.addData(Seq((-1L, far, "sentinel")))
      q.processAllAvailable()
      in.addData(Seq((-2L, far + 1, "sentinel2")))
      q.processAllAvailable()
      assert(stateRows(q) <= 4,
        s"store failed to drain: ${stateRows(q)} rows past the horizon")
      info(s"max state rows = $maxStateSeen (keys ever = ${fedUsers.size}), " +
        s"emissions = ${received.size}, drained to ${stateRows(q)}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
