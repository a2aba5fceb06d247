package graft

import org.apache.spark.sql.functions._

/** Streaming scale probe (r12 verdict task #8, extended r14 task #6):
  * run a streaming operator against a FILE-SOURCE stream of a table at a
  * given SF and print measured telemetry — turning the scaladoc state /
  * per-batch-cost claims into numbers at 10x/100x.
  *
  * Modes (3rd arg):
  *  - `sessions` (default): statefulSessions over events; reports the
  *    final state-store rows/bytes (state ∝ keys claim).
  *  - `dedup`: dedupedIngestAtomic of events into a fresh destination;
  *    reports per-batch trigger durations as the destination grows — the
  *    anti-join reads the destination's key column each batch, so the
  *    EXPECTED shape is per-batch cost ∝ destination size so far (the
  *    scaladoc's read-the-committed-keys contract), linear per batch,
  *    quadratic summed over a full backfill — fine for ingest (dest
  *    grows by stream volume), wrong for replaying a whole corpus as
  *    one stream, which is what the numbers here demonstrate.
  *  - `neardup`: nearDupIngest of documents; per-batch cost = batch
  *    MinHash + ONE band equi-join against the destination signatures —
  *    growth ∝ band collisions, not destination².
  *
  * The stream is the same parquet the batch queries read, cut into
  * micro-batches with maxFilesPerTrigger, so the state the operator
  * carries is exactly what an ingest of that corpus would hold.
  *
  * Not part of the driver contract (like ScaleUp/KCoreScale).
  * Usage: runMain graft.StreamScale <sfDir> [maxFilesPerTrigger] [mode] */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mfpt = if (args.length > 1) args(1) else "2"
    val mode = if (args.length > 2) args(2) else "sessions"
    val spark = Session.local()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    // the file stream source requires a DIRECTORY; driver testdata is a
    // bare file per table — expose it through a symlink dir in that case
    def streamDir(table: String): String = {
      val raw = new java.io.File(s"$sfDir/$table.parquet")
      if (raw.isDirectory) raw.getAbsolutePath
      else {
        val dir = java.nio.file.Files.createTempDirectory("streamscale_src")
        java.nio.file.Files.createSymbolicLink(
          dir.resolve(s"$table.parquet"), raw.toPath.toAbsolutePath)
        dir.toString
      }
    }

    def eventStream() = Tables.normalizeEventTs(
      spark.readStream.schema(Tables.rawEventSchema(spark, sfDir))
        .option("maxFilesPerTrigger", mfpt).parquet(streamDir("events")))

    def batchTimes(q: org.apache.spark.sql.streaming.StreamingQuery)
        : Seq[(Long, Long, Long)] =
      q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", -1L).toLong))

    mode match {
      case "sessions" =>
        val stream = eventStream().withWatermark("ts", "1 hour")
        val ckpt = s"/tmp/streamscale_ckpt_${System.nanoTime()}"
        val q = graft.streaming.EventStreams.statefulSessions(stream)
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable()
        val so = q.recentProgress.flatMap(_.stateOperators).lastOption
          .getOrElse(sys.error("no state operator progress reported"))
        val batches = q.recentProgress.length
        q.stop()
        val nEvents = Tables.events(spark, sfDir).count()
        val nUsers = Tables.events(spark, sfDir)
          .select(col("user_id")).distinct().count()
        println(s"""STREAMSCALE {"sf_dir":"$sfDir","events":$nEvents,""" +
          s""""users":$nUsers,"state_rows":${so.numRowsTotal},""" +
          s""""state_bytes":${so.memoryUsedBytes},"batches":$batches}""")

      case "dedup" =>
        val work = java.nio.file.Files.createTempDirectory("streamscale_dedup")
        val dest = s"$work/dest"
        val t0 = System.nanoTime()
        val q = graft.streaming.EventStreams
          .dedupedIngestAtomic(eventStream(), dest, "event_id", s"$work/ckpt")
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val bt = batchTimes(q)
        q.stop()
        val destRows = graft.operators.Sinks.readCommitted(spark, dest).count()
        println(s"""STREAMSCALE {"mode":"dedup","sf_dir":"$sfDir",""" +
          s""""batches":${bt.length},"dest_rows":$destRows,""" +
          s""""wall_sec":${"%.1f".format(wall)},""" +
          s""""batch_ms":[${bt.map(_._3).mkString(",")}],""" +
          s""""batch_rows":[${bt.map(_._2).mkString(",")}]}""")

      case "neardup" =>
        val docSchema = spark.read
          .parquet(s"$sfDir/documents.parquet").schema
        val stream = spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", mfpt).parquet(streamDir("documents"))
        val work = java.nio.file.Files.createTempDirectory("streamscale_neardup")
        val dest = s"$work/dest"
        val t0 = System.nanoTime()
        val q = graft.streaming.EventStreams
          .nearDupIngest(stream, dest, "doc_id", "text", s"$work/ckpt")
        q.processAllAvailable()
        val wall = (System.nanoTime() - t0) / 1e9
        val bt = batchTimes(q)
        q.stop()
        val destRows = graft.operators.Sinks.readCommitted(spark, dest).count()
        val srcRows = spark.read.parquet(s"$sfDir/documents.parquet").count()
        println(s"""STREAMSCALE {"mode":"neardup","sf_dir":"$sfDir",""" +
          s""""batches":${bt.length},"src_rows":$srcRows,""" +
          s""""dest_rows":$destRows,"wall_sec":${"%.1f".format(wall)},""" +
          s""""batch_ms":[${bt.map(_._3).mkString(",")}],""" +
          s""""batch_rows":[${bt.map(_._2).mkString(",")}]}""")

      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}
