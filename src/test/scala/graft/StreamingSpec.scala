package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions.{broadcast, col, count, lit}

/** Stream/batch parity: the same tumbling-window transform over the events
  * table must produce identical results via Structured Streaming (memory
  * sink, parquet source) and plain batch execution. */
class StreamingSpec extends SparkSuite {

  test("streaming tumbling counts equal batch tumbling counts") {
    val batchEvents = Tables.events(spark, sf)
    val expected = EventStreams.tumblingCounts(batchEvents)
      .collect().map(_.toSeq).toSet

    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling_out").collect().map(_.toSeq).toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("windowed drift monitor: streaming counts → finalizer equals batch twin") {
    val batchEvents = Tables.events(spark, sf)
    val tot = batchEvents.agg(count(lit(1)).as("__t"))
    val ref = batchEvents.groupBy(col("event_type"))
      .agg(count(lit(1)).as("__c"))
      .crossJoin(broadcast(tot))
      .select(col("event_type"),
        (col("__c").cast("double") / col("__t")).as("p_ref"))
    def countsOf(df: org.apache.spark.sql.DataFrame) =
      EventStreams.tumblingCounts(df, "1 day")
        .select(col("window_start"), col("event_type"), col("n"))
    val expected = EventStreams.windowDrift(countsOf(batchEvents), ref)
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)

    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = countsOf(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("drift_counts")
      .start()
    try {
      q.processAllAvailable()
      val got = EventStreams.windowDrift(spark.table("drift_counts"), ref)
        .collect().map(_.toSeq).toSet
      assert(got === expected)
    } finally q.stop()
  }

  test("windowDrift counts probability mass of event types absent from the reference") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // window W: 3 "click" + 1 "novel"; reference only knows "click"
    // (p_ref = 1.0). The correct JSD over the union vocabulary
    // {click, novel}: p_w = (0.75, 0.25), p_ref = (1, 0), m = (0.875, 0.125)
    //   ½[0.75·ln(0.75/0.875) + 0.25·ln(0.25/0.125)]  (window half)
    // + ½[1.0·ln(1/0.875)]                             (ref half)
    val counts = Seq((ts, "click", 3L), (ts, "novel", 1L))
      .toDF("window_start", "event_type", "n")
    val ref = Seq(("click", 1.0)).toDF("event_type", "p_ref")
    val row = EventStreams.windowDrift(counts, ref).collect()
    assert(row.length === 1)
    val expected = BigDecimal(
      0.5 * (0.75 * math.log(0.75 / 0.875) + 0.25 * math.log(0.25 / 0.125))
        + 0.5 * (1.0 * math.log(1.0 / 0.875)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.head.getAs[Long]("n_events") === 4L)
    assert(row.head.getAs[Double]("jsd") === expected)
    // a ref-only grid would have dropped "novel" entirely and reported
    // the strictly smaller divergence of {click: 0.75} vs {click: 1.0}
    val droppedNovel = 0.5 * (0.75 * math.log(0.75 / 0.875))
      + 0.5 * (1.0 * math.log(1.0 / 0.875))
    assert(expected > droppedNovel)
  }

  test("streaming session windows equal batch session windows") {
    val expected = EventStreams.sessionSpans(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.sessionSpans(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("session_out").collect().map(_.toSeq).toSet === expected)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val expected = EventStreams.attributedPurchases(Tables.events(spark, sf))
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty, "fixture must produce attributed pairs")
    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.attributedPurchases(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib_out")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("attrib_out").collect().map(_.toSeq).toSet === expected)
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch broadcast join") {
    import org.apache.spark.sql.functions._
    val dim = Tables.customer(spark, sf)
    val expected = EventStreams.enrichedStream(
        Tables.events(spark, sf), dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), col("c_name"), col("value"))
      .collect().map(_.toSeq).toSet
    assert(expected.exists(_(2) != null), "fixture must enrich some rows")
    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.enrichedStream(stream, dim, "user_id", "c_custkey")
      .select(col("event_id"), col("user_id"), col("c_name"), col("value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("enrich_out").collect().map(_.toSeq).toSet === expected)
    } finally q.stop()
  }

  test("mapGroupsWithState running stats match batch aggregates") {
    import org.apache.spark.sql.functions._
    val batchEvents = Tables.events(spark, sf)
    val expected = batchEvents.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(unix_micros(col("ts"))).as("last"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.runningUserStats(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("stats_out")
      .start()
    try {
      q.processAllAvailable()
      // one micro-batch → the latest emitted stat per user is the total
      val got = spark.table("stats_out")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n"), max(col("last_us")).as("last"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("dedupedIngestAtomic: replayed batches dedup, torn writes stay invisible") {
    val landing = java.nio.file.Files.createTempDirectory("graft-landing-")
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, landing.resolve("batch1.parquet"))
    java.nio.file.Files.copy(src, landing.resolve("batch2.parquet"))
    val dest = java.nio.file.Files.createTempDirectory("graft-ingest-").toString + "/dest"

    // a previous writer's crash: unpublished garbage under data/ that a
    // directory-listing reader would scan (and die on) — the manifest
    // protocol must never see it
    val torn = new java.io.File(s"$dest/data/epoch-999", "part-00000.parquet")
    torn.getParentFile.mkdirs()
    java.nio.file.Files.write(torn.toPath, "garbage".getBytes("UTF-8"))

    val stream = EventStreams.readEventStream(spark, landing.toString,
      Tables.rawEventSchema(spark, sf), maxFilesPerTrigger = Some(1))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt-").toString
    val q = EventStreams.dedupedIngestAtomic(stream, dest, "event_id", ckpt)
    try q.processAllAvailable() finally q.stop()

    val n = Tables.events(spark, sf).count()
    assert(graft.operators.Sinks.readCommitted(spark, dest).count() === n,
      "replayed batch must dedup to zero new rows; torn write invisible")
  }

  test("dedupedIngestAtomic: crash recovery is exactly-once across restarts") {
    val landing = java.nio.file.Files.createTempDirectory("graft-landing-")
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, landing.resolve("batch1.parquet"))
    val base = java.nio.file.Files.createTempDirectory("graft-recover-")
    val dest = s"$base/dest"
    val ckpt = s"$base/ckpt"
    val schema = Tables.rawEventSchema(spark, sf)

    // run 1: ingest batch 0, checkpoint and sink manifest both commit
    val q1 = EventStreams.dedupedIngestAtomic(
      EventStreams.readEventStream(spark, landing.toString, schema), dest,
      "event_id", ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val n = Tables.events(spark, sf).count()
    assert(graft.operators.Sinks.readCommitted(spark, dest).count() === n)

    // crash window 1: the sink manifest published but the CHECKPOINT
    // commit record was lost (writer died between the two) — on restart
    // Spark re-runs epoch 0 with the same offsets; the stable epoch id
    // must hit the committed manifest and skip, not double-ingest
    val commit0 = java.nio.file.Paths.get(s"$ckpt/commits/0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      "test setup: checkpoint commit record must exist to simulate the crash")
    // the checksum sidecar goes with it (a real crash never wrote either)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$ckpt/commits/.0.crc"))

    // crash window 2, simultaneously: a previous attempt died mid-append —
    // part-files exist under an unpublished attempt dir, no manifest
    val torn = new java.io.File(s"$dest/data/epoch-000000000001-dead",
      "part-00000.parquet")
    torn.getParentFile.mkdirs()
    java.nio.file.Files.write(torn.toPath, "garbage".getBytes("UTF-8"))

    val q2 = EventStreams.dedupedIngestAtomic(
      EventStreams.readEventStream(spark, landing.toString, schema), dest,
      "event_id", ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.operators.Sinks.readCommitted(spark, dest).count() === n,
      "replayed epoch after checkpoint loss must skip its committed manifest")

    // run 3: NEW data after recovery still ingests (the silent-loss trap:
    // unstable epoch ids would skip fresh batches against stale manifests)
    java.nio.file.Files.copy(src, landing.resolve("batch2.parquet"))
    val q3 = EventStreams.dedupedIngestAtomic(
      EventStreams.readEventStream(spark, landing.toString, schema), dest,
      "event_id", ckpt)
    try q3.processAllAvailable() finally q3.stop()
    assert(graft.operators.Sinks.readCommitted(spark, dest).count() === n,
      "key-level dedup drops the replayed rows arriving under a new epoch")
  }

  test("statefulSessions batch twin matches native session_window splits") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
    // same gap semantics, two formulations: explicit keyed state vs the
    // built-in session_window (start = first ts in both)
    val expected = EventStreams.sessionSpans(events)
      .select(unix_micros(col("session_start")), col("user_id"), col("n_events"))
      .collect().map(_.toSeq).toSet
    val got = EventStreams.statefulSessions(events, 30, emitOpen = true)
      .toDF()
      .select(col("session_start_us"), col("user_id"), col("n_events"))
      .collect().map(_.toSeq).toSet
    assert(got === expected)
  }

  test("nearDupIngest: streamed 2-batch admission equals the q_neardup_admit batch twin") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val b1 = docs.filter(_._1 < 60).toSeq
    val b2 = docs.filter(t => t._1 >= 60 && t._1 < 120).toSeq
    val work = java.nio.file.Files.createTempDirectory("graft-neardup-")
    val dest = work.resolve("dest").toString
    val ms = MemoryStream[(Long, String)]
    val input = ms.toDF().toDF("doc_id", "text")
    val q = EventStreams.nearDupIngest(input, dest, "doc_id", "text",
      work.resolve("ckpt").toString,
      numHashes = 16, rowsPerBand = 4, threshold = 0.3)
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      // at-least-once replay: both batches again — exact-id dedup makes
      // the ingest idempotent, nothing new lands
      ms.addData((b1 ++ b2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = graft.operators.Sinks.readCommitted(spark, dest)
      .select("doc_id").as[Long].collect()
    assert(streamed.length === streamed.toSet.size, "replay must not duplicate")
    val twin = SparkEntry.queries("q_neardup_admit")(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed.toSet === twin)
    // the admission must actually reject something, or the fixture is
    // vacuous (near-dups exist under doc_id < 120 at threshold 0.3)
    assert(twin.size < b1.size + b2.size)
  }

  test("statefulSessions streaming closes sessions via event-time timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Double)] // user, us, event, value
    val input = ms.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .withWatermark("ts", "1 minute")
    val q = EventStreams.statefulSessions(input, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("stateful_out")
      .start()
    try {
      val t0 = 1700000000000000L
      val min = 60L * 1000000L
      ms.addData((1L, t0, 1L, 1.0), (1L, t0 + 5 * min, 2L, 2.0))
      q.processAllAvailable()
      assert(spark.table("stateful_out").isEmpty,
        "open session must not emit before the watermark passes its gap")
      // much later event advances the watermark past end+gap ...
      ms.addData((2L, t0 + 180 * min, 3L, 5.0))
      q.processAllAvailable()
      // ... and the timeout fires on the following trigger
      ms.addData((2L, t0 + 181 * min, 4L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_out")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(_.toSeq)
      assert(rows.contains(Seq(1L, t0, t0 + 5 * min, 2L)),
        "user 1's session must flush once the watermark passes end+gap")
    } finally q.stop()
  }

  test("statefulSessions: new key entirely behind the watermark flushes, never crashes") {
    // bulk-historical ingest (the StreamScale 10x probe): other keys
    // advance the watermark, then a later batch introduces a NEW key
    // whose whole session sits behind it — end+gap is already past the
    // watermark, so registering that timeout would throw; the operator
    // must emit the closed session immediately instead (same output the
    // timeout branch would have produced)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Double)]
    val input = ms.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .withWatermark("ts", "1 minute")
    val q = EventStreams.statefulSessions(input, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("stateful_wm_behind")
      .start()
    try {
      val t0 = 1700000000000000L
      val min = 60L * 1000000L
      // batch 1: user 1 at t0 — late-events watermark lands ~t0-1min
      ms.addData((1L, t0, 1L, 1.0))
      q.processAllAvailable()
      // batch 2: user 2's events are AFTER the late-events watermark
      // (so they reach the function), but the same batch carries a fresh
      // user-1 row that advances the EVICTION watermark far past user
      // 2's end+gap — registering that timeout is illegal (the exact
      // StreamScale sf1 crash); the operator must flush user 2's closed
      // session in THIS batch instead
      ms.addData((2L, t0 + 1 * min, 2L, 1.0), (2L, t0 + 5 * min, 3L, 2.0),
        (1L, t0 + 300 * min, 4L, 1.0))
      q.processAllAvailable()
      val rows = spark.table("stateful_wm_behind")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(_.toSeq)
      assert(rows.contains(Seq(2L, t0 + 1 * min, t0 + 5 * min, 2L)),
        s"behind-watermark session must flush immediately, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("statefulSessions: cross-batch out-of-order event extends start, never shrinks end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Double)]
    val input = ms.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .withWatermark("ts", "1 hour") // generous: the late row must NOT be dropped
    val q = EventStreams.statefulSessions(input, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("ooo_out")
      .start()
    try {
      val t0 = 1700000000000000L
      val min = 60L * 1000000L
      ms.addData((1L, t0 + 10 * min, 1L, 1.0))
      q.processAllAvailable()
      // batch 2: event 5 minutes BEFORE the stored session start — must
      // extend the session downward, not rewrite its end backwards
      ms.addData((1L, t0 + 5 * min, 2L, 2.0))
      q.processAllAvailable()
      // advance watermark way past end+gap to flush, then trigger timeout
      ms.addData((2L, t0 + 400 * min, 3L, 0.0))
      q.processAllAvailable()
      ms.addData((2L, t0 + 401 * min, 4L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("ooo_out")
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(_.toSeq)
      assert(rows.contains(Seq(1L, t0 + 5 * min, t0 + 10 * min, 2L)),
        s"out-of-order event must merge as [start-5m, end]: $rows")
      assert(!rows.exists(r => r(1).asInstanceOf[Long] > r(2).asInstanceOf[Long]),
        s"no session may end before it starts: $rows")
    } finally q.stop()
  }

  test("ewmaStream on a static frame is bit-equal to the batch window twin") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val events = Tables.events(spark, sf).filter($"user_id" < 10)
    val streamOut = EventStreams.ewmaStream(events)
      .select($"event_id", round($"ewma", 6).as("ewma_s"))
    val batchOut = graft.operators.TimeSeries
      .ewmaHalving(events, "user_id", "ts", "event_id", "value")
      .select($"event_id", $"ewma".as("ewma_b"))
    val joined = streamOut.join(batchOut, "event_id")
    assert(joined.count() > 0 &&
      joined.count() === batchOut.count() && joined.count() === streamOut.count())
    assert(joined.filter(not($"ewma_s" <=> $"ewma_b")).isEmpty,
      "stream and batch EWMA must agree double-for-double")
  }

  test("ewmaStream carries exact state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, Long, Long, Double)] // user, us, event, value
    val input = ms.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val q = EventStreams.ewmaStream(input)
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_out").start()
    try {
      val t0 = 1700000000000000L
      ms.addData((1L, t0, 1L, 2.0), (1L, t0 + 1000000L, 2L, 4.0))
      q.processAllAvailable()
      ms.addData((1L, t0 + 2000000L, 3L, 6.0))
      q.processAllAvailable()
      val got = spark.table("ewma_out")
        .select($"event_id", round($"ewma", 6).as("e")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // e1 = 2; e2 = (4/2 + 2/4)/(3/4) = 10/3; the third event arrives in
      // a LATER micro-batch and must still see [6,4,2]:
      // (6/2 + 4/4 + 2/8)/(7/8) = 4.25/0.875
      assert(got(1L) === 2.0)
      assert(got(2L) === 3.333333)
      assert(got(3L) === 4.857143)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within watermark") {
    val batchEvents = Tables.events(spark, sf).limit(100).cache()
    val doubled = batchEvents.unionByName(batchEvents)
    // batch twin of dropDuplicatesWithinWatermark is plain dropDuplicates
    assert(doubled.dropDuplicates("event_id").count() === 100)

    val stream = EventStreams.readEventStream(spark, s"$sf/events.parquet",
      Tables.rawEventSchema(spark, sf))
    val q = EventStreams.dedupedStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n === Tables.events(spark, sf).count())
    } finally q.stop()
  }
  test("streamingHeavyHitters: sharded MG state across batches, guarantee holds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val input = ms.toDF().toDF("item")
    val k = 3
    val q = EventStreams.streamingHeavyHitters(input, "item", k, shards = 2)
      .writeStream.outputMode("update")
      .format("memory").queryName("hh_out").start()
    // heavy item appears 12x across two batches amid tail noise
    val b1 = Seq.fill(5)("hot") ++ Seq("a", "b", "c", "d")
    val b2 = Seq.fill(7)("hot") ++ Seq("e", "f", "g", "h")
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      // update-mode memory sink keeps every per-batch emission; the
      // shard's final state is its row with the largest `processed`
      val last = spark.table("hh_out")
        .select($"shard", $"processed", $"counters").collect()
        .groupBy(_.getInt(0)).map { case (sh, rs) =>
          val r = rs.maxBy(_.getLong(1))
          sh -> ((r.getLong(1), r.getMap[String, Long](2).toMap))
        }
      val all = b1 ++ b2
      def shardOf(item: String): Int = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(item.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2).toInt
      }
      val byShard = all.groupBy(shardOf)
      byShard.foreach { case (sh, items) =>
        val (processed, counters) = last(sh)
        assert(processed === items.length.toLong)
        assert(counters.size <= k)
        val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
        // MG guarantee: true - n/(k+1) <= est <= true; heavy items retained
        counters.foreach { case (it, est) =>
          assert(est <= exact(it) && est >= exact(it) - processed / (k + 1))
        }
        exact.filter(_._2 > processed / (k + 1)).keys.foreach { it =>
          assert(counters.contains(it), s"heavy '$it' missing from shard $sh")
        }
      }
      // the heavy item's estimate survives with a cross-batch count only
      // reachable by carrying state (one batch alone holds at most 7)
      assert(last(shardOf("hot"))._2("hot") >= 8L)
    } finally q.stop()
  }

  test("cusumMonitor: alarms equal cusumDaily after every batch prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf).select($"ts", $"event_id")
      .as[(java.sql.Timestamp, Long)].collect()
    val (b1, b2) = ev.partition(_._2 % 2 == 0)
    val state = java.nio.file.Files.createTempDirectory("graft-cusum-")
      .resolve("state").toString
    def twin(rows: Seq[(java.sql.Timestamp, Long)]) =
      graft.operators.TimeSeries
        .cusumDaily(rows.toDF("ts", "event_id"), "ts")
        .collect().map(_.toSeq).toSet
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    val q = EventStreams.cusumMonitor(ms.toDF().toDF("ts", "event_id"), state)
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      // after batch 1: alarms ≡ the batch operator on batch-1 events —
      // shared finalizer code, so equality is bit-exact, not approximate
      val a1 = spark.read.parquet(s"$state/alarms")
        .collect().map(_.toSeq).toSet
      assert(a1 === twin(b1.toSeq), "prefix-1 parity")
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      // after batch 2: the re-baselined statistic over ALL events —
      // exactly what a from-scratch cusumDaily computes
      val a2 = spark.read.parquet(s"$state/alarms")
        .collect().map(_.toSeq).toSet
      assert(a2 === twin(ev.toSeq), "prefix-2 parity")
      assert(a2.nonEmpty)
    } finally q.stop()
  }

  test("msprtMonitor: always-valid p equals msprtDaily after every prefix") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.events(spark, sf).select($"ts", $"event_type")
      .as[(java.sql.Timestamp, String)].collect()
    val (b1, b2) = ev.partition(_._1.getTime % 2 == 0)
    val state = java.nio.file.Files.createTempDirectory("graft-msprt-")
      .resolve("state").toString
    def twin(rows: Seq[(java.sql.Timestamp, String)]) =
      graft.operators.Stats
        .msprtDaily(rows.toDF("ts", "event_type"), "ts", "event_type",
          "purchase", p0 = 0.2, tau = 0.05)
        .collect().map(_.toSeq).toSet
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    val q = EventStreams.msprtMonitor(ms.toDF().toDF("ts", "event_type"),
      state)
    try {
      ms.addData(b1.toSeq: _*)
      q.processAllAvailable()
      // prefix-1 parity: shared finalizer ⇒ bit-equal, not approximate
      val m1 = spark.read.parquet(s"$state/monitor")
        .collect().map(_.toSeq).toSet
      assert(m1 === twin(b1.toSeq), "prefix-1 parity")
      ms.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val m2 = spark.read.parquet(s"$state/monitor")
        .collect().map(_.toSeq).toSet
      assert(m2 === twin(ev.toSeq), "prefix-2 parity")
      assert(m2.nonEmpty)
      // the anytime-validity invariant itself: p is nonincreasing in day
      val ps = spark.read.parquet(s"$state/monitor")
        .orderBy("day").collect().map(_.getDouble(4))
      assert(ps.sliding(2).forall(p => p.head >= p.last - 1e-12))
    } finally q.stop()
  }

  test("RocksDB state store: stateful operators bit-match the default provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val prev = spark.conf.getOption(key)
    var qn = 0
    // One scenario covering all three keyed-state shapes — ewmaStream
    // (flatMapGroupsWithState, NoTimeout, cross-batch memory),
    // statefulSessions (EventTimeTimeout flush) and streamingHeavyHitters
    // (mapGroupsWithState sketch) — run under whichever provider the
    // session conf names at query start. Returns the collected outputs
    // plus whether any query's state operator reported RocksDB custom
    // metrics (proof the provider actually engaged).
    def scenario(): (Map[Long, Double], Set[Seq[Any]], Map[String, Long], Boolean) = {
      val t0 = 1700000000000000L
      val min = 60L * 1000000L
      var sawRocks = false
      def progressHasRocks(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
        if (Option(q.lastProgress).exists(p => p.stateOperators.exists(
          _.customMetrics.keySet().stream().anyMatch(_.contains("rocksdb")))))
          sawRocks = true

      // ewma: 2 batches, third event must see [6,4,2] across the batch seam
      val ms1 = MemoryStream[(Long, Long, Long, Double)]
      val in1 = ms1.toDF().toDF("user_id", "us", "event_id", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      qn += 1
      val q1 = EventStreams.ewmaStream(in1).writeStream
        .outputMode("append").format("memory").queryName(s"rocks_ewma_$qn").start()
      val ewma = try {
        ms1.addData((1L, t0, 1L, 2.0), (1L, t0 + min, 2L, 4.0))
        q1.processAllAvailable()
        ms1.addData((1L, t0 + 2 * min, 3L, 6.0))
        q1.processAllAvailable()
        progressHasRocks(q1)
        spark.table(s"rocks_ewma_$qn").select($"event_id", $"ewma")
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      } finally q1.stop()

      // sessions: timeout-flushed close across batches
      val ms2 = MemoryStream[(Long, Long, Long, Double)]
      val in2 = ms2.toDF().toDF("user_id", "us", "event_id", "value")
        .withColumn("ts", timestamp_micros(col("us"))).drop("us")
        .withWatermark("ts", "1 minute")
      qn += 1
      val q2 = EventStreams.statefulSessions(in2, gapMinutes = 30).writeStream
        .outputMode("append").format("memory").queryName(s"rocks_sess_$qn").start()
      val sessions = try {
        ms2.addData((1L, t0, 1L, 1.0), (1L, t0 + 5 * min, 2L, 2.0))
        q2.processAllAvailable()
        ms2.addData((2L, t0 + 180 * min, 3L, 5.0))
        q2.processAllAvailable()
        ms2.addData((2L, t0 + 181 * min, 4L, 1.0))
        q2.processAllAvailable()
        progressHasRocks(q2)
        spark.table(s"rocks_sess_$qn")
          .select("user_id", "session_start_us", "session_end_us", "n_events")
          .collect().map(_.toSeq).toSet
      } finally q2.stop()

      // heavy hitters: 2-shard MG sketch folded across 2 batches
      val ms3 = MemoryStream[String]
      qn += 1
      val q3 = EventStreams.streamingHeavyHitters(
        ms3.toDF().toDF("item"), "item", k = 3, shards = 2).writeStream
        .outputMode("update").format("memory").queryName(s"rocks_hh_$qn").start()
      val hh = try {
        ms3.addData("a", "a", "b", "c", "a", "d")
        q3.processAllAvailable()
        ms3.addData("a", "b", "b", "e")
        q3.processAllAvailable()
        progressHasRocks(q3)
        // last update per shard, merged: counter map of the final sketches
        spark.table(s"rocks_hh_$qn")
          .select($"shard", $"processed", $"counters")
          .as[(Int, Long, Map[String, Long])].collect()
          .groupBy(_._1).values
          .flatMap(_.maxBy(_._2)._3).toMap
      } finally q3.stop()

      (ewma, sessions, hh, sawRocks)
    }

    try {
      spark.conf.unset(key) // default HDFSBackedStateStoreProvider
      val (e1, s1, h1, r1) = scenario()
      assert(!r1, "default provider must not report rocksdb metrics")
      spark.conf.set(key, rocks)
      val (e2, s2, h2, r2) = scenario()
      assert(r2, "RocksDB provider must engage and report rocksdb custom metrics")
      assert(e2 === e1, "ewma cross-batch state must be provider-invariant")
      assert(s2 === s1, "session timeout flushes must be provider-invariant")
      assert(h2 === h1, "MG sketch folds must be provider-invariant")
      assert(e1.nonEmpty && s1.nonEmpty && h1.nonEmpty, "non-vacuous scenario")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("state telemetry: state rows track KEYS, not stream length (measured)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000000L
    val min = 60L * 1000000L
    // The scaladoc state-size claims (sessions: one record per OPEN
    // session; ewma: ≤ lookback doubles per user; heavy hitters:
    // shards × k counters, CONSTANT in stream length) become
    // measurements here via StateOperatorProgress.
    def lastState(q: org.apache.spark.sql.streaming.StreamingQuery)
        : (Long, Long) = {
      val so = q.recentProgress.flatMap(_.stateOperators).lastOption
        .getOrElse(fail("no state operator progress reported"))
      (so.numRowsTotal, so.memoryUsedBytes)
    }

    // ewma: 3 users; a second batch triples the EVENTS for the same
    // users — state rows must stay 3 (∝ keys, not events)
    val ms1 = MemoryStream[(Long, Long, Long, Double)]
    val in1 = ms1.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
    val q1 = EventStreams.ewmaStream(in1).writeStream
      .outputMode("append").format("memory").queryName("st_ewma").start()
    try {
      ms1.addData((1L, t0, 1L, 1.0), (2L, t0, 2L, 2.0), (3L, t0, 3L, 3.0))
      q1.processAllAvailable()
      assert(lastState(q1)._1 === 3L, "one state row per user")
      ms1.addData((1 to 9).map(i =>
        ((i % 3 + 1).toLong, t0 + i * min, 100L + i, i.toDouble)): _*)
      q1.processAllAvailable()
      val (rows, mem) = lastState(q1)
      assert(rows === 3L, "3× the events, same 3 users → same 3 state rows")
      assert(mem > 0L, "memoryUsedBytes reported")
    } finally q1.stop()

    // sessions: two users inside their gap → exactly 2 OPEN-session rows
    val ms2 = MemoryStream[(Long, Long, Long, Double)]
    val in2 = ms2.toDF().toDF("user_id", "us", "event_id", "value")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")
      .withWatermark("ts", "1 minute")
    val q2 = EventStreams.statefulSessions(in2, gapMinutes = 30).writeStream
      .outputMode("append").format("memory").queryName("st_sess").start()
    try {
      ms2.addData((1L, t0, 1L, 1.0), (1L, t0 + 5 * min, 2L, 2.0),
        (2L, t0 + 5 * min, 3L, 3.0))
      q2.processAllAvailable()
      val (rows, mem) = lastState(q2)
      assert(rows === 2L, "one state row per open session")
      assert(mem > 0L)
    } finally q2.stop()

    // heavy hitters, shards = 1: 6 items then 12 MORE items — state
    // stays ONE row (the k-counter sketch), constant in stream length
    val ms3 = MemoryStream[String]
    val q3 = EventStreams.streamingHeavyHitters(
      ms3.toDF().toDF("item"), "item", k = 3, shards = 1).writeStream
      .outputMode("update").format("memory").queryName("st_hh").start()
    try {
      ms3.addData("a", "a", "b", "c", "a", "d")
      q3.processAllAvailable()
      assert(lastState(q3)._1 === 1L, "single shard → single state row")
      ms3.addData((1 to 12).map(i => s"item$i"): _*)
      q3.processAllAvailable()
      val (rows, mem) = lastState(q3)
      assert(rows === 1L, "12 more distinct items → STILL one state row")
      assert(mem > 0L)
    } finally q3.stop()
  }
}
