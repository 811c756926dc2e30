package graft.perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Outcome of one timed pass. `seconds` is the timed region only; the
  * checks run after it, from `endMs` (wall clock) on. `failures` names each
  * failed operation. */
final case class PassResult(seconds: Double, items: Long, attempted: Int,
    failures: Seq[String], endMs: Long)

/** One benchmark workload. A run starts a Spark session, builds the inputs,
  * makes one warm-up pass, then runs whole passes for the run length. */
trait Workload {
  /** Fewest timed passes a run makes, whatever its length. */
  def minPasses: Int
  /** Build this set-up's inputs from the seed. */
  def prepare(spark: SparkSession): Unit
  /** Untimed preparation after set-up and before the first timed pass
    * (the independent expected outputs). */
  def beforeMeasure(spark: SparkSession): Unit = ()
  /** One pass: the timed region followed by its checks. */
  def pass(spark: SparkSession, n: Int, warm: Boolean): PassResult
  /** Failures that are known program faults (counted, not regressions). */
  def knownFault(failure: String): Boolean = false
  /** Per-layer numbers of the pass just traced. */
  def layers(spark: SparkSession, trace: Trace, p: PassResult): Map[String, Double]
  /** Per-layer numbers measured once per traced run (kernels). */
  def runLayers(spark: SparkSession): Map[String, Double] = Map.empty
  /** Whether traced runs alternate untraced and traced passes; if not, every
    * pass is traced and `overheadProbe` supplies the tracing overhead. */
  def alternate: Boolean = true
  def overheadProbe(spark: SparkSession, trace: Trace): Double = 0.0
  /** Extra keys for the result line (read by run.py). */
  def resultExtras: String = ""
}

object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cores: Int)

  /** `--workload --seed --seconds --trace --work --cores`, as run.py passes them. */
  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("cores").toInt)
  }

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(argv: Array[String]): Unit = {
    val entry = now
    val a = parse(argv)
    Files.createDirectories(a.work)
    val w: Workload = a.workload match {
      case "crawl_polite" => new CrawlPolite(a)
      case "dedup_skewed" => new DedupSkewed(a)
      case "query_pack" => new QueryPack(a)
      case other =>
        System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    // set-up, timed from main entry: the Spark session, the inputs and one
    // untimed warm-up pass
    val spark = session(a.cores)
    w.prepare(spark)
    val tw = now
    w.pass(spark, -1, warm = true)
    val setupS = secs(entry)
    System.err.println(f"[perfbench] session+inputs ${(tw - entry) / 1e9}%.2f s, " +
      f"warm-up ${secs(tw)}%.2f s")
    val tb = now
    w.beforeMeasure(spark)
    System.err.println(f"[perfbench] expected outputs in ${secs(tb)}%.2f s")

    val trace = new Trace
    if (a.trace) spark.sparkContext.addSparkListener(trace)
    val untraced = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[PassResult]()
    val perPass = mutable.ArrayBuffer[Map[String, Double]]()
    val start = now
    var n = 0
    // traced runs that alternate make passes untraced, traced, traced,
    // untraced (and so on), so a drift over the passes cancels out of the
    // tracing overhead
    def needMore: Boolean =
      n < w.minPasses || secs(start) < a.seconds || (a.trace && w.alternate && n < 4)
    while (needMore) {
      val on = a.trace && (!w.alternate || n % 4 == 1 || n % 4 == 2)
      trace.reset()
      trace.on = on
      val tp = now
      val p = w.pass(spark, n, warm = false)
      // only the timed region counts: the jobs of the pass's own checks,
      // which start after it, are left out
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      trace.on = false
      trace.until = p.endMs
      passes += p
      (if (on) traced else untraced) += p.seconds
      if (on) perPass += w.layers(spark, trace, p)
      System.err.println(f"[perfbench] pass $n ${p.seconds}%.3f s (with checks ${secs(tp)}%.2f s) items ${p.items}" +
        (if (on) " traced" else "") +
        (if (p.failures.nonEmpty) s" failed ${p.failures.size}: ${p.failures.take(3).mkString("; ")}" else ""))
      n += 1
    }

    val attempted = passes.map(_.attempted).sum
    val failures = passes.flatMap(_.failures)
    val correct = failures.forall(w.knownFault)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val passS = Trace.median(untraced.toSeq)
        val rate = Trace.median(passes.map(p => p.items / p.seconds).toSeq)
        Seq(("setup_s", setupS, "s"),
          ("pass_s", passS, "s"),
          ("items_per_s", rate, "1/s"))
      } else {
        val keys = perPass.flatMap(_.keys).distinct
        val layer = keys.map(k => k -> Trace.median(perPass.flatMap(_.get(k)).toSeq)).toMap
        val overhead =
          if (w.alternate) 100.0 * (Trace.median(traced.toSeq) / Trace.median(untraced.toSeq) - 1.0)
          else w.overheadProbe(spark, trace)
        val all = layer ++ w.runLayers(spark) + ("trace.overhead_pct" -> overhead)
        Layers.all.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
      }
    spark.stop()
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": ${failures.size}, """ +
      s""""metrics": {${ms.mkString(", ")}}${w.resultExtras}}""")
  }
}
