package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import scala.collection.mutable

/** The registry workload: a fixed set of `SparkEntry.queries`, each
  * tagged with the operator module its body calls. One operation is one
  * query execution, built and collected to the driver, whose hash must
  * equal the oracle-verified hash in the expected file. The seed permutes
  * the query order of every pass; the data is fixed. */
final class Registry(dataDir: String, expectedFile: Option[String], seed: Long)
    extends Workload {
  import Registry._

  val name = "registry"

  private val expected: Map[String, String] = expectedFile.toSeq.flatMap { f =>
    val src = scala.io.Source.fromFile(f)
    try src.getLines().map(_.split('\t')).collect {
      case Array(w, q, h) if w == name => q -> h
    }.toList
    finally src.close()
  }.toMap

  override def params: Seq[(String, Any)] = Seq(
    "data" -> dataDir,
    "queries" -> Queries.map { case (q, m) => s"$q:$m" })

  require(expectedFile.isEmpty || Queries.forall { case (q, _) => expected.contains(q) },
    s"no expected hash for some of ${Queries.map(_._1)} in $expectedFile")

  private val inputRows = mutable.HashMap.empty[String, Long]
  private val tracedTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var groupTopKPlans = 0

  override def pass(spark: SparkSession, index: Int, tracer: Option[Tracer]): PassResult = {
    val order = new scala.util.Random(seed * 1000003L + index).shuffle(Queries)
    val t0 = System.nanoTime()
    var failed = 0
    // the first pass counts each query's input rows, untimed
    val counter = if (index == 0) Some(new Tracer(spark)) else None
    val times = order.map { case (q, module) =>
      val start = System.nanoTime()
      val ok =
        try {
          // iterative queries run their loops while the frame is built
          def run() = {
            val df = graft.SparkEntry.queries(q)(spark, dataDir)
            (df, df.collect())
          }
          val (df, rows) = (tracer orElse counter) match {
            case Some(tr) => tr.span(if (counter.isDefined) q else module)(run())
            case None => run()
          }
          if (tracer.isDefined && nodes(df.queryExecution.executedPlan)
                .exists(_.getClass.getSimpleName == "GroupTopKExec"))
            groupTopKPlans += 1
          hash(rows) == expected(q)
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            false
        }
      val dt = (System.nanoTime() - start) / 1e9
      if (!ok) failed += 1
      if (tracer.isDefined) tracedTimes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += dt
      // as graft.Bench: drop operator-internal caches between queries
      spark.catalog.clearCache()
      q -> dt
    }
    counter.foreach { c =>
      Queries.foreach { case (q, _) => inputRows(q) = c.total(q)._2.inputRecords }
      c.stop()
    }
    PassResult((System.nanoTime() - t0) / 1e9, times,
      Queries.map(q => inputRows.getOrElse(q._1, 0L)).sum, order.length, failed)
  }

  override def layerMetrics(spark: SparkSession, tracer: Tracer, passes: Int): Seq[Metric] =
    Modules.flatMap { m =>
      val (secs, c) = tracer.total(m)
      val cores = spark.sparkContext.defaultParallelism
      Seq(
        Metric(s"$m.s", secs / passes, "s"),
        Metric(s"$m.jobs", c.jobs.toDouble / passes, "count"),
        Metric(s"$m.stages", c.stages.toDouble / passes, "count"),
        Metric(s"$m.tasks", c.tasks.toDouble / passes, "count"),
        Metric(s"$m.cpu_s", c.cpuNs / 1e9 / passes, "s"),
        Metric(s"$m.idle_frac", if (secs == 0) 0.0 else 1 - c.runMs / 1000.0 / (cores * secs), "fraction"),
        Metric(s"$m.shuffle_mb", c.shuffleBytes / 1048576.0 / passes, "MB"),
        Metric(s"$m.spill_mb", c.spillBytes / 1048576.0 / passes, "MB"),
        Metric(s"$m.input_mb", c.inputBytes / 1048576.0 / passes, "MB"))
    } ++ Queries.map { case (q, _) =>
      Metric(s"q.$q.s", Stats.median(tracedTimes.getOrElse(q, Nil).toSeq), "s")
    } :+ Metric("extensions.grouptopk_plans", groupTopKPlans.toDouble / passes, "count")

  /** Write every query's output, hash and oracle SQL under `dir`. */
  def dump(spark: SparkSession, dir: String): Unit = {
    val hashes = Queries.map { case (q, _) =>
      val df = graft.SparkEntry.queries(q)(spark, dataDir)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
      s"$name\t$q\t${hash(df.collect())}"
    }
    val oracle = Json.obj(Queries.map { case (q, _) => q -> graft.SparkEntry.oracleSql(q) }: _*)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      oracle.s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/hashes.tsv"),
      hashes.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Registry {
  /** Query -> module. The first three are job-count and shuffle-bound
    * iterative loops; the rest are single-pass scan, codegen and CPU-bound
    * queries, one of which the GroupTopK rewrite plans. */
  val Queries: Seq[(String, String)] = Seq(
    "q_density_clusters" -> "Similarity",
    "q_pagerank" -> "Graph",
    "q_fuzzy_contamination" -> "Dedup",
    "q_topk_per_group" -> "Relational",
    "q_spearman" -> "Stats",
    "q_rake" -> "TextAnalytics")

  val Modules: Seq[String] = Queries.map(_._2).distinct

  /** Order-independent hash of a collected result: MD5 over the sorted
    * row renderings. */
  def hash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
      case b: Array[Byte] => b.mkString("b[", ",", "]")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(r => r.toSeq.map(render).mkString("\u001f")).sorted
      .foreach(s => md.update((s + "\u001e").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
