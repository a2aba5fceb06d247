package graft.bench

import graft.Pipeline
import graft.operators.{Joins, Sinks}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** One daily batch as landed by the input generator. */
final case class Batch(id: String, tickets: String, chats: String, start: String,
                       end: String, drift: Boolean, ticketRows: Long, chatRows: Long)

/** The paper's daily job, run whole. Each batch reads tickets through
  * `TicketDataSource` (served by [[FixtureTransport]]) and chats from
  * landed JSON, runs `Pipeline.run` against the committed destination,
  * appends with `Sinks.appendAtomic` and writes ticket statuses back
  * with `Joins.upsert`. A pass is one daily job over a fresh
  * destination: every batch, one replayed batch id, periodic manifest
  * compaction and a read-back report. One operation is one batch.
  *
  * Traced passes materialize each layer's output before the next layer
  * reads it, so each span is the layer's self time. */
final class Octadesk(work: String, inputs: String) extends Workload {
  import Octadesk._

  val name = "octadesk_daily"

  private val batches: Seq[Batch] = {
    val src = scala.io.Source.fromFile(s"$inputs/batches.tsv", "UTF-8")
    try src.getLines().map(_.split('\t')).map { f =>
      Batch(f(0), s"$inputs/${f(1)}", s"$inputs/${f(2)}", f(3), f(4), f(5) == "1",
        f(6).toLong, f(7).toLong)
    }.toList
    finally src.close()
  }
  require(batches.length > ReplayAfter, s"need more than $ReplayAfter batches")

  override def params: Seq[(String, Any)] = Seq(
    "batches" -> batches.length,
    "ticket_rows" -> batches.map(_.ticketRows).sum,
    "chat_rows" -> batches.map(_.chatRows).sum,
    "drift_batches" -> batches.filter(_.drift).map(_.id),
    "compact_every" -> CompactEvery,
    "replay" -> s"${batches(ReplayOf).id} after ${batches(ReplayAfter).id}",
    "page_size" -> PageSize)

  /** Per-layer sums over the traced passes. */
  private val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(key: String, v: Double): Unit = acc(key) += v

  private def readTickets(spark: SparkSession, b: Batch): DataFrame =
    ticketDocs(spark.read.format("graft.sources.TicketDataSource")
      .option("start", b.start).option("end", b.end)
      .option("pageSize", PageSize.toString)
      .option("transport", classOf[FixtureTransport].getName)
      .option("fixture", b.tickets)
      .load(), b.drift)

  private def emptyDest(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], DestKeys)

  private def writeBack(spark: SparkSession, tickets: DataFrame, status: String,
                        i: Int, b: Batch): Unit = {
    val updates = tickets.select(col("number").cast("string").as("n_ticket"),
      col("status.name").as("status_ticket"), col("createdAt"), lit(b.id).as("batch"))
    val prev =
      if (i == 0) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StatusSchema)
      else spark.read.parquet(s"$status/v${i - 1}")
    Joins.upsert(prev, updates, "n_ticket").write.parquet(s"$status/v$i")
  }

  private def materialize(df: DataFrame, held: mutable.Buffer[DataFrame]): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    m.write.format("noop").mode("overwrite").save()
    held += m
    m
  }

  private def dedupKeys(batch: DataFrame, dest: DataFrame): Seq[String] =
    Seq("number", "n_ticket").filter(k => batch.columns.contains(k) && dest.columns.contains(k))

  /** One batch as users run it: one lazy DAG per action. The fetched
    * tickets are persisted because two actions read them, the append and
    * the write-back, and both must see the same fetch; a second read
    * would page the API again. */
  private def runBatch(spark: SparkSession, root: String, status: String,
                       i: Int, b: Batch): Unit = {
    val tickets = readTickets(spark, b).persist(StorageLevel.MEMORY_AND_DISK)
    val chats = spark.read.json(b.chats)
    val dest = if (i == 0) emptyDest(spark) else Sinks.readCommitted(spark, root)
    require(Sinks.appendAtomic(Pipeline.run(tickets, chats, dest), root, b.id),
      s"batch ${b.id} was not committed")
    writeBack(spark, tickets, status, i, b)
    tickets.unpersist(blocking = true)
  }

  /** One batch with a span around every layer call. */
  private def traceBatch(spark: SparkSession, tr: Tracer, root: String, status: String,
                         i: Int, b: Batch): Unit = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val pages0 = FixtureTransport.pages.get
    val retries0 = FixtureTransport.retries.get
    val (tickets, chats) = tr.span("sources") {
      (materialize(readTickets(spark, b), held), materialize(spark.read.json(b.chats), held))
    }
    add("sources.pages", FixtureTransport.pages.get - pages0)
    add("sources.retries", FixtureTransport.retries.get - retries0)
    add("sources.rows", tickets.count() + chats.count())
    val out = tr.span("Pipeline") {
      val t0 = System.nanoTime()
      val df = Pipeline.run(tickets, chats, emptyDest(spark))
      df.queryExecution.executedPlan
      add("Pipeline.plan_s", (System.nanoTime() - t0) / 1e9)
      materialize(df, held)
    }
    // Pipeline.run over an empty destination: its output is the dedup input
    add("Pipeline.rows_out", out.count())
    val dest = tr.span("Sinks.resolve") {
      if (i == 0) emptyDest(spark) else Sinks.readCommitted(spark, root)
    }
    val kept = tr.span("Joins.dedup") {
      materialize(Joins.dedupAgainst(out, dest, dedupKeys(out, dest)), held)
    }
    add("Joins.dedup_kept", kept.count())
    val before = Sinks.committedFiles(spark, root).toSet
    tr.span("Sinks.append") {
      require(Sinks.appendAtomic(kept, root, b.id), s"batch ${b.id} was not committed")
    }
    val written = Sinks.committedFiles(spark, root).filterNot(before)
    add("Sinks.files_written", written.length)
    add("Sinks.bytes_written", written.map(f => fileBytes(spark, new Path(f))).sum)
    tr.span("Joins.writeback")(writeBack(spark, tickets, status, i, b))
    add("Joins.writeback_rows", tickets.count())
    held.foreach(_.unpersist(blocking = true))
  }

  /** Replaying a committed batch id must be skipped and leave the
    * committed file list unchanged. */
  private def replay(spark: SparkSession, tracer: Option[Tracer], root: String): Boolean = {
    val b = batches(ReplayOf)
    val before = Sinks.committedFiles(spark, root)
    val tickets = readTickets(spark, b).persist(StorageLevel.MEMORY_AND_DISK)
    val df = Pipeline.run(tickets, spark.read.json(b.chats), Sinks.readCommitted(spark, root))
    val won = tracer.fold(Sinks.appendAtomic(df, root, b.id))(
      _.span("Sinks.append")(Sinks.appendAtomic(df, root, b.id)))
    tickets.unpersist(blocking = true)
    if (!won && tracer.isDefined) add("Sinks.replays_skipped", 1)
    !won && Sinks.committedFiles(spark, root) == before
  }

  override def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): PassResult = {
    val root = s"$work/dest-$index"
    val status = s"$work/status-$index"
    val t0 = System.nanoTime()
    var failed = 0
    def traced[T](layer: String)(body: => T): T = tracer.fold(body)(_.span(layer)(body))
    val times = batches.zipWithIndex.map { case (b, i) =>
      val start = System.nanoTime()
      try tracer.fold(runBatch(spark, root, status, i, b))(traceBatch(spark, _, root, status, i, b))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] batch ${b.id} failed: $e")
          failed += 1
      }
      val dt = (System.nanoTime() - start) / 1e9
      if ((i + 1) % CompactEvery == 0) traced("Sinks.compact")(Sinks.compactManifests(spark, root))
      if (i == ReplayAfter) {
        val skipped =
          try replay(spark, tracer, root)
          catch { case e: Exception => System.err.println(s"[perfbench] replay failed: $e"); false }
        if (!skipped) {
          System.err.println(s"[perfbench] replay of ${batches(ReplayOf).id} was not skipped cleanly")
          failed += 1
        }
      }
      b.id -> dt
    }
    val committedRows = traced("Sinks.readback") {
      Sinks.readCommitted(spark, root)
        .groupBy("status_ticket").agg(count(lit(1)).as("rows"), countDistinct("n_ticket"))
        .collect().map(_.getLong(1)).sum
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    if (tracer.isDefined) {
      add("Sinks.dest_bytes", treeBytes(spark, new Path(root)))
      add("Sinks.dest_rows", committedRows)
    }
    // the destination and status table are checked against the oracle
    // after the run, by the caller
    val check = Json.obj(
      "pass" -> index,
      "committed" -> Sinks.committedFiles(spark, root),
      "status" -> s"$status/v${batches.length - 1}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/check-$index.json"),
      check.s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    PassResult(seconds, times, batches.map(b => b.ticketRows + b.chatRows).sum,
      batches.length + 1, failed)
  }

  /** Known defects, measured on every run rather than run into by the
    * batches, whose data are chosen so that no operation fails:
    *  - planning `Pipeline.run` straight over the ticket source fails:
    *    the custom-field branch prunes `created_at` from its
    *    `TicketScan`, whose `filterAttributes` still names it, and
    *    Spark's dynamic partition pruning cannot resolve it. The batches
    *    persist the fetched tickets, so their plans read the cache.
    *  - tickets that share a blank id are cross-joined by the
    *    custom-field enrichment, which joins on the raw id before key
    *    synthesis. The generated tickets all carry ids. */
  override def probes(spark: SparkSession): Seq[Probe] = {
    val b = batches.head
    def probe(metric: String, name: String)(body: => (Double, String)): Probe =
      try { val (value, outcome) = body; Probe(metric, value, name, outcome) }
      catch {
        case e: Exception =>
          Probe(metric, 0, name, s"fails: ${e.getMessage.linesIterator.next()}")
      }
    val unpersisted = probe("probe.unpersisted_source_plans",
        "Pipeline.run over the unpersisted ticket source") {
      Pipeline.run(readTickets(spark, b), spark.read.json(b.chats), emptyDest(spark))
        .queryExecution.executedPlan
      (1, "plans")
    }
    val blankIds = probe("probe.blank_id_rows", "Pipeline.run over 3 tickets, 2 with a blank id") {
      val fixture = java.nio.file.Paths.get(s"$work/blank-ids.tsv")
      val src = scala.io.Source.fromFile(b.tickets, "UTF-8")
      val lines = try src.getLines().take(3).toList finally src.close()
      java.nio.file.Files.write(fixture, lines.zipWithIndex.map { case (l, k) =>
        if (k < 2) l.dropWhile(_ != '\t') else l
      }.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val tickets = readTickets(spark, b.copy(tickets = fixture.toString)).persist()
      val rows = Pipeline.run(tickets, spark.read.json(b.chats).limit(0), emptyDest(spark)).count()
      tickets.unpersist()
      (rows.toDouble, s"$rows rows from 3 tickets")
    }
    Seq(unpersisted, blankIds)
  }

  override def layerMetrics(spark: SparkSession, tracer: Tracer, passes: Int): Seq[Metric] = {
    def per(v: Double) = v / passes
    val (srcS, src) = tracer.total("sources")
    val (pipeS, pipe) = tracer.total("Pipeline")
    Seq(
      Metric("sources.s", per(srcS), "s"),
      Metric("sources.pages", per(acc("sources.pages")), "count"),
      Metric("sources.retries", per(acc("sources.retries")), "count"),
      Metric("sources.rows", per(acc("sources.rows")), "count"),
      Metric("sources.tasks", per(src.tasks), "count"),
      Metric("Pipeline.plan_s", per(acc("Pipeline.plan_s")), "s"),
      Metric("Pipeline.s", per(pipeS), "s"),
      Metric("Pipeline.rows_out", per(acc("Pipeline.rows_out")), "count"),
      Metric("Pipeline.jobs", per(pipe.jobs), "count"),
      Metric("Pipeline.shuffle_mb", per(pipe.shuffleBytes / 1048576.0), "MB"),
      Metric("Joins.dedup_s", per(tracer.total("Joins.dedup")._1), "s"),
      Metric("Joins.dedup_kept_frac",
        acc("Joins.dedup_kept") / math.max(1.0, acc("Pipeline.rows_out")), "fraction"),
      Metric("Joins.writeback_s", per(tracer.total("Joins.writeback")._1), "s"),
      Metric("Joins.writeback_rows", per(acc("Joins.writeback_rows")), "count"),
      Metric("Sinks.append_s", per(tracer.total("Sinks.append")._1), "s"),
      Metric("Sinks.files_written", per(acc("Sinks.files_written")), "count"),
      Metric("Sinks.bytes_written", per(acc("Sinks.bytes_written")), "bytes"),
      Metric("Sinks.replays_skipped", per(acc("Sinks.replays_skipped")), "count"),
      Metric("Sinks.compact_s", per(tracer.total("Sinks.compact")._1), "s"),
      Metric("Sinks.resolve_s", per(tracer.total("Sinks.resolve")._1), "s"),
      Metric("Sinks.readback_s", per(tracer.total("Sinks.readback")._1), "s"),
      Metric("Sinks.dest_bytes_per_row",
        acc("Sinks.dest_bytes") / math.max(1.0, acc("Sinks.dest_rows")), "bytes"))
  }
}

object Octadesk {
  /** The ticket API's page size (reference ticket.py:99). The source's
    * default 7-day scan window is the reference's (main.py:42), so a
    * batch's 5-day lookback is one partition. */
  val PageSize = 100
  val CompactEvery = 3
  /** Batch index replayed, and the batch after which it is replayed:
    * after the first compaction, so the replay is caught by the
    * snapshot registry rather than the loose manifest. */
  val ReplayOf = 1
  val ReplayAfter = 4

  val DestKeys: StructType = StructType(Seq(
    StructField("number", LongType), StructField("n_ticket", StringType)))
  val StatusSchema: StructType = StructType(Seq(
    StructField("n_ticket", StringType), StructField("status_ticket", StringType),
    StructField("createdAt", StringType), StructField("batch", StringType)))

  private def pick(n: Column, options: String*): Column =
    element_at(array(options.map(lit): _*), (n % options.length + 1).cast("int"))

  /** Reshape the source's flat rows into the nested ticket document the
    * pipeline consumes (FIXTURES.md §A1). The drift form lacks
    * `updatedAt`. */
  def ticketDocs(src: DataFrame, drift: Boolean): DataFrame = {
    val n = col("number")
    def iso(c: Column) = date_format(c, "yyyy-MM-dd'T'HH:mm:ssXX")
    def kv(k: String, v: Column) = struct(lit(k).as("key"), v.as("value"))
    val fields = Seq(
      col("uuid").as("id"),
      n,
      concat(lit("Pedido "), n.cast("string")).as("summary"),
      array(lit("uniforme"), pick(n, "vip", "std", "std")).as("tags"),
      iso(col("created_at")).as("createdAt")) ++
      (if (drift) Nil else Seq(iso(col("created_at") + expr("INTERVAL 2 HOURS")).as("updatedAt"))) ++
      Seq(
        struct(col("status").as("name")).as("status"),
        struct(pick(n, "chat", "email", "whatsapp").as("name")).as("channel"),
        struct(concat(lit("Cliente "), (n % 997).cast("string")).as("name"),
          col("requester_email").as("email"),
          array(kv("segmento", pick(n, "escola", "empresa")))
            .as("customField")).as("requester"),
        struct(concat(lit("g"), (n % 7).cast("string")).as("id")).as("group"),
        struct(struct(col("status").as("status")).as("propertiesChanges"))
          .as("lastHumanInteraction"),
        array(Seq(
          kv("cpf", lpad((n * 7919 % 100000000000L).cast("string"), 11, "0")),
          kv("produto", pick(n, "camisa", "calca", "jaleco", "avental")),
          kv("n_do_pedido", concat(lit("PED-"), n.cast("string"))),
          kv("email_do_cliente", col("requester_email")),
          kv("motivo_de_contatos", pick(n, "troca", "atraso", "defeito")),
          kv("canal_interno", lit("x"))): _*).as("customField"))
    src.select(fields: _*)
  }

  def fileBytes(spark: SparkSession, p: Path): Long =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen

  /** Bytes of every file under `root`, orphans and manifests included. */
  def treeBytes(spark: SparkSession, root: Path): Long = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var total = 0L
    while (it.hasNext) total += it.next().getLen
    total
  }
}
