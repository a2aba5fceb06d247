package graft.bench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One pass over a workload's fixed operation list. `ops` holds the
  * names and times of the operations that count as samples; `seconds` is
  * the whole pass, including work between those operations. */
final case class PassResult(seconds: Double, ops: Seq[(String, Double)],
                            inputRows: Long, attempted: Int, failed: Int) {
  def opSeconds: Seq[Double] = ops.map(_._2)
}

/** A named metric with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** The outcome of a known-defect probe, as a per-layer count metric and
  * as text. */
final case class Probe(metric: String, value: Double, name: String, outcome: String)

trait Workload {
  def name: String
  /** Parameters stamped into the record. */
  def params: Seq[(String, Any)]
  /** Run pass number `index`; traced when a tracer is given. */
  def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): PassResult
  /** Per-layer metrics from the traced passes, as per-pass averages. */
  def layerMetrics(spark: SparkSession, tracer: Tracer, passes: Int): Seq[Metric]
  /** Known-defect probes, run after the timed window. */
  def probes(spark: SparkSession): Seq[Probe] = Nil
}

/** The benchmark's JVM side. Usage:
  * {{{
  * graft.bench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --data <dir> --inputs <dir> --expected <file> --out <record.json>
  * graft.bench.Main --workload <registry workload> --data <dir> --dump <dir>
  * }}}
  * Runs the workload from one thread in a closed loop and writes one
  * JSON record. With `--dump`, writes each registry query's output,
  * hash and oracle SQL instead, for the one-time oracle check. */
object Main {
  val SetupCycles = 3
  val WarmPasses = 2

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args("work")
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      graft.GraftExtensions.install(spark)
      spark
    }
    val workload: Workload = args("workload") match {
      case "octadesk_daily" => new Octadesk(work, args("inputs"))
      case "registry" => new Registry(args("data"), args.get("expected"), args.getOrElse("seed", "0").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    args.get("dump") match {
      case Some(dir) =>
        val spark = session()
        workload.asInstanceOf[Registry].dump(spark, dir)
        spark.stop()
      case None => run(args, workload, cores, () => session())
    }
  }

  private def run(args: Map[String, String], workload: Workload, cores: Int,
                  session: () => SparkSession): Unit = {
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"

    // set-up: several session starts, median reported
    val sessionTimes = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) s.stop()
      dt
    }
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("WARN")

    // untimed warm-up: the first pass pays class loading, planning and
    // code generation of every operation, the second lets the JIT settle
    val warm0 = System.nanoTime()
    val warmTimes = (0 until WarmPasses).map(workload.pass(spark, _, None).seconds)
    val warmup = (System.nanoTime() - warm0) / 1e9
    var passIndex = WarmPasses

    // timed window: whole passes until `seconds` have elapsed; a traced
    // run alternates untraced and traced passes
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val plain = mutable.ArrayBuffer.empty[PassResult]
    val withTrace = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || plain.isEmpty || (traced && withTrace.isEmpty)) {
      val useTrace = traced && plain.length > withTrace.length
      val r = workload.pass(spark, passIndex, if (useTrace) tracer else None)
      (if (useTrace) withTrace else plain) += r
      passIndex += 1
    }
    val all = plain ++ withTrace
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum

    val probes = workload.probes(spark)
    val setupS = Stats.median(sessionTimes) + warmup
    val ops = plain.flatMap(_.opSeconds)
    val metrics: Seq[Metric] = tracer match {
      case None => Seq(
        Metric("setup_s", setupS, "s"),
        Metric("wall_s", Stats.median(plain.map(_.seconds)), "s"),
        Metric("op_p50_s", Stats.median(ops), "s"),
        Metric("rows_per_s", plain.map(_.inputRows).sum / ops.sum, "1/s"),
        Metric("peak_rss_mb", Stats.peakRssMb(), "MB"))
      case Some(tr) =>
        Seq(Metric("setup.session_s", Stats.median(sessionTimes), "s"),
          Metric("setup.warmup_s", warmup, "s"),
          Metric("trace.overhead_s",
            Stats.median(withTrace.map(_.seconds)) - Stats.median(plain.map(_.seconds)), "s")) ++
          workload.layerMetrics(spark, tr, withTrace.length) ++
          probes.map(p => Metric(p.metric, p.value, "count"))
    }
    val record = Json.obj(
      "workload" -> workload.name,
      "seed" -> args("seed").toLong,
      "seconds" -> seconds,
      "trace" -> traced,
      "attempted" -> attempted,
      "failed" -> failed,
      "failed_frac" -> failed.toDouble / math.max(1, attempted),
      "passes" -> Json.obj("warmup" -> WarmPasses, "untraced" -> plain.length,
        "traced" -> withTrace.length),
      "warmup_pass_s" -> warmTimes,
      "pass_s" -> plain.map(_.seconds),
      "op_s" -> plain.map(p => Json.obj(p.ops.map { case (n, t) => n -> t }: _*)),
      "traced_pass_s" -> withTrace.map(_.seconds),
      "ops" -> ops.length,
      "setup_session_s" -> sessionTimes,
      "stamp" -> Json.obj(
        "nproc" -> cores,
        "mem_total_kb" -> Stats.memTotalKb(),
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> spark.version,
        "master" -> spark.sparkContext.master,
        "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "params" -> Json.obj(workload.params: _*),
      "probes" -> probes.map(p => Json.obj("metric" -> p.metric, "value" -> p.value,
        "name" -> p.name, "outcome" -> p.outcome)),
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)): _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")),
      record.s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    tracer.foreach(_.stop())
    spark.stop()
  }
}

object Stats {
  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0
  def memTotalKb(): Long = procField("/proc/meminfo", "MemTotal:")
}

/** Minimal JSON rendering for the record. */
object Json {
  final class Raw(val s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw =
    new Raw(kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}"))

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def render(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
