package graft.perfbench

import graft.SparkEntry
import graft.engine.SyntheticWeb
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** All 87 operators of `SparkEntry.queries`, one operation each, over tables
  * generated from the seed. Each operator's result is written to parquet;
  * run.py compares every result with DuckDB running `SparkEntry.oracleSql`
  * over the same tables. Most operators finish in well under a second, so
  * the pass measures per-operator Spark fixed cost. */
final class QueryPack(a: Main.Args) extends Workload {
  def minPasses = 1
  override def alternate = false

  val tables: Path = a.work.resolve("tables")
  val kernelRoot: Path = a.work.resolve("kernel")
  val outRoot: Path = a.work.resolve("pack_out")
  private val passDirs = mutable.ArrayBuffer[String]()

  /** Source module of each operator, by the module's `specs` list. */
  val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.specs, "TextQueries" -> TextQueries.specs,
    "DedupQueries" -> DedupQueries.specs, "SimilarityQueries" -> SimilarityQueries.specs,
    "CrawlQueries" -> CrawlQueries.specs, "ToolQueries" -> ToolQueries.specs,
    "FetchQueries" -> FetchQueries.specs, "StreamQueries" -> StreamQueries.specs,
    "ReportQueries" -> ReportQueries.specs, "ComplianceQueries" -> ComplianceQueries.specs)
    .map { case (m, specs) => m -> specs.map(_.name).toSet }

  /** Operators in the order the workers take them: the modules whose
    * operators run crawls and dedup chains (seconds each) first, so the
    * pass does not end on one long operator; by name within a module. */
  private val ops: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val heavyFirst = Seq("CrawlQueries", "DedupQueries")
    def rank(name: String): Int = {
      val m = modules.find(_._2.contains(name)).map(_._1).getOrElse("")
      if (heavyFirst.contains(m)) heavyFirst.indexOf(m) else heavyFirst.size
    }
    SparkEntry.queries.toSeq.sortBy(o => (rank(o._1), o._1))
  }

  def prepare(spark: SparkSession): Unit = {
    System.setProperty("graft.kernel.root", kernelRoot.toString)
    Main.rmTree(tables)
    val gen = new ProcessBuilder("python3", "perfbench/gen_tables.py", tables.toString,
      a.seed.toString).inheritIO().redirectOutput(ProcessBuilder.Redirect.DISCARD)
    val rc = gen.start().waitFor()
    if (rc != 0) throw new IllegalStateException(s"gen_tables.py exited with $rc")
  }

  // per-operator (start ms, end ms, seconds) of the last pass, for `layers`
  private var spans: Seq[(String, Long, Long, Double)] = Nil

  /** Runs the operators in order, `a.cores` at a time: each worker
    * thread has its own session (operators set session confs) and takes the
    * next operator when its last one is done. */
  def run(spark: SparkSession, names: Seq[(String, (SparkSession, String) => DataFrame)],
      out: Path): Seq[(String, Long, Long, Double, Option[String])] = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val res = new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long, Double, Option[String])]()
    val workers = (0 until a.cores).map { w =>
      val session = spark.newSession()
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < names.size) {
          val (name, fn) = names(i)
          session.sparkContext.setLocalProperty("perfbench.op", name)
          val t0 = System.currentTimeMillis()
          val s0 = Main.now
          val err = try {
            fn(session, tables.toString).write.mode("overwrite").parquet(out.resolve(name).toString)
            None
          } catch { case e: Throwable => Some(e.getClass.getSimpleName) }
          res.put(name, (name, t0, System.currentTimeMillis(), Main.secs(s0), err))
          i = next.getAndIncrement()
        }
      }, s"pack-$w")
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    names.map(n => res.get(n._1))
  }

  def pass(spark: SparkSession, n: Int, warm: Boolean): PassResult = {
    val out = outRoot.resolve(s"pass_$n")
    Main.rmTree(out)
    // the warm-up pass runs the first operator of each module but
    // CrawlQueries (9 of 87): a full warm-up pass would double the longest run
    if (warm) {
      val s0 = Main.now
      val firsts = modules.filter(_._1 != "CrawlQueries").map(m => ops.find(o => m._2.contains(o._1)).get)
      run(spark, firsts, out)
      Main.rmTree(out)
      return PassResult(Main.secs(s0), 0, 0, Nil, System.currentTimeMillis())
    }
    val s0 = Main.now
    val res = run(spark, ops, out)
    val seconds = Main.secs(s0)
    val endMs = System.currentTimeMillis()
    spans = res.map(r => (r._1, r._2, r._3, r._4))
    passDirs += out.toString
    // an operator that throws leaves no result, which run.py counts as failed
    res.collect { case (name, _, _, _, Some(e)) => System.err.println(s"[perfbench] $name threw $e") }
    PassResult(seconds, ops.size, ops.size, Nil, endMs)
  }

  def layers(spark: SparkSession, trace: Trace, p: PassResult): Map[String, Double] = {
    val jobsByOp = trace.jobs.groupBy(_.op)
    val perOp = spans.map { case (name, _, _, _) => jobsByOp.get(name).map(_.size).getOrElse(0).toDouble }
    val byModule = modules.map { case (m, names) =>
      s"queries.$m.pack_s" -> spans.filter(sp => names.contains(sp._1)).map(_._4).sum
    }
    val stages = trace.stages
    byModule.toMap ++ Map(
      "queries.jobs_per_query" -> Trace.median(perOp),
      "spark.jobs" -> trace.jobs.size.toDouble,
      "spark.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble)
  }

  /** Kernels over the page universe the pack's tool and crawl operators use. */
  override def runLayers(spark: SparkSession): Map[String, Double] = {
    val web = SyntheticWeb.Config(nHosts = 8, pagesPerHost = 32, megaFactor = 4)
    val urls = (0 until web.nHosts).flatMap(h => (0 until 24).map(p => SyntheticWeb.pageUrl(h, p)))
      .filter(u => SyntheticWeb.fetch(web, u).html.nonEmpty)
    Kernels.measure(web, urls, sameHostOnly = false)
  }

  /** Tracing overhead of the pack: the Relational operators run untraced,
    * traced, traced, untraced (warm), and the traced share over untraced. */
  override def overheadProbe(spark: SparkSession, trace: Trace): Double = {
    val rel = ops.filter(o => modules.head._2.contains(o._1))
    val probe = outRoot.resolve("probe")
    def timed(on: Boolean): Double = {
      trace.on = on
      val t = run(spark, rel, probe).map(_._4).sum
      trace.on = false
      t
    }
    val u1 = timed(false); val t1 = timed(true); val t2 = timed(true); val u2 = timed(false)
    Main.rmTree(probe)
    100.0 * ((t1 + t2) / (u1 + u2) - 1.0)
  }

  /** The oracle SQL and where the results are, for run.py's DuckDB check. */
  override def resultExtras: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Files.createDirectories(outRoot)
    val sql = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: ${q(v)}" }
    Files.writeString(outRoot.resolve("oracle_sql.json"), sql.mkString("{", ",\n", "}"))
    s""", "pack": {"tables": ${q(tables.toString)}, "kernel_root": ${q(kernelRoot.toString)}, """ +
      s""""oracle_sql": ${q(outRoot.resolve("oracle_sql.json").toString)}, """ +
      s""""oracle_root": ${q(OracleMat.Root)}, """ +
      s""""passes": ${passDirs.map(q).mkString("[", ", ", "]")}}"""
  }
}
