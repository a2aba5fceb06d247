package graft.bench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Engine counters attributed to one job group. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, inputBytes, inputRecords, shuffleBytes, spillBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; inputBytes += o.inputBytes
    inputRecords += o.inputRecords; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** One closed span: a call into a layer's public function. */
final case class Span(layer: String, group: String, seconds: Double)

/** Spans around calls into the program's layers, with Spark engine work
  * attributed to them. Each span runs its jobs under its own job group,
  * and a listener registered by the benchmark sums task metrics per
  * group. Spans never nest, so a span's duration is its self time. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val seq = new AtomicLong
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  private def counters(group: String): Counters =
    byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        counters(g).jobs += 1
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Run `body` as one span of `layer`. */
  def span[T](layer: String)(body: => T): T = {
    val group = s"$layer#${seq.incrementAndGet()}"
    sc.setJobGroup(group, layer, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(layer, group, (System.nanoTime() - t0) / 1e9)
      sc.clearJobGroup()
    }
  }

  /** Seconds spent in `layer` and its summed engine counters. */
  def total(layer: String): (Double, Counters) = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    val sum = new Counters
    val mine = spans.filter(_.layer == layer)
    synchronized(mine.foreach(s => byGroup.get(s.group).foreach(sum += _)))
    (mine.map(_.seconds).sum, sum)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}
