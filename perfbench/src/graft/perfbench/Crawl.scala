package graft.perfbench

import graft.engine.{CrawlOracle, FrontierEngine, SnapshotStore, SyntheticWeb}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One committed crawl row, as both the store and the oracle give it. */
final case class Row(order: Long, url: String, depth: Int, round: Int,
    status: String, title: String, text: String)

/** A stored crawl over a few hosts with a tight per-host budget and links
  * across hosts: many small rounds, where each round's fixed cost (Spark
  * jobs, shuffles, FIFO index, commit) is most of the wall. Each pass stops
  * the crawl once with Config.maxRounds and resumes it with a second crawl
  * call on the same store, the way CrawlJob resumes. The crawl does not
  * depend on the seed; the seed picks the round at which it is interrupted.
  *
  * Operations per pass: each scheduling round (checked against the oracle's
  * same round, the uninterrupted crawl's same round, and the budget), the
  * store as a whole (order_idx, manifest counts, seen set), and each
  * adversarial page run through `Extract.extract` outside Spark. */
final class CrawlPolite(a: Main.Args) extends Workload {
  val web = SyntheticWeb.Config(nHosts = 32, pagesPerHost = 400, megaFactor = 4,
    linksPerPage = 8)
  val cfg = FrontierEngine.Config(maxDepth = 6, maxPages = 800, hostBudget = 8,
    sameHostOnly = false, respectRobots = true, saltBuckets = 4, web = web)
  val seeds: Seq[String] = (0 until 8).map(h => SyntheticWeb.pageUrl(h * 4, 0))
  def minPasses = 1

  private var expected: Seq[Row] = Nil
  private var uninterrupted: Seq[Row] = Nil
  private var uninterruptedSeen: Set[String] = Set.empty
  private var stopAt = 1
  private var sampleUrls: Seq[String] = Nil

  def prepare(spark: SparkSession): Unit = ()

  override def beforeMeasure(spark: SparkSession): Unit = {
    val r = CrawlOracle.run(seeds, CrawlOracle.Config(maxDepth = cfg.maxDepth,
      maxPages = cfg.maxPages, hostBudget = cfg.hostBudget, sameHostOnly = cfg.sameHostOnly,
      respectRobots = cfg.respectRobots, web = web))
    expected = r.rows.map(e => Row(e.orderIdx, e.url, e.depth, e.round, e.status, e.title, e.text))
    // interrupt somewhere in the middle third of the crawl
    val third = math.max(1, r.rounds / 3)
    stopAt = third + new java.util.SplittableRandom(a.seed).nextInt(third)
    sampleUrls = expected.filter(_.status == "OK").map(_.url).take(Kernels.SampleSize)
  }

  /** The rounds that differ from the oracle because of the known ranking
    * fault; a divergence in any other round is a regression. */
  val divergentRounds = Set(5, 6, 7)
  private val OracleDiff = "round (\\d+) differs from CrawlOracle round".r

  override def knownFault(f: String): Boolean = f match {
    case OracleDiff(k) => divergentRounds(k.toInt)
    case _ => f.startsWith("adversarial nested_tables")
  }

  /** Rows committed to a store, in order_idx order. */
  private def storedRows(spark: SparkSession, root: Path, rounds: Int): Seq[Row] =
    spark.read.parquet((1 to rounds).map(k => root.resolve(s"r$k/fetch_log").toString): _*)
      .select(col("order_idx"), col("url"), col("depth"), col("round"), col("status"),
        col("title"), col("text"))
      .collect().map(r => Row(r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getString(6)))
      .sortBy(_.order).toSeq

  private def storedSeen(spark: SparkSession, root: Path, rounds: Int): Set[String] =
    spark.read.parquet((1 to rounds).map(k => root.resolve(s"r$k/seen").toString): _*)
      .select("url").collect().map(_.getString(0)).toSet

  private val StatusCounts = "\"status_counts\":\\{([^}]*)\\}".r
  private val FetchedCount = "\"fetched_count\":(\\d+)".r

  /** Pages the manifests say were committed: the sum of every round's
    * status counts, and the last manifest's running total. */
  private def manifestCounts(store: SnapshotStore, rounds: Int): (Long, Long) = {
    val perRound = (1 to rounds).map { k =>
      store.manifest(k).flatMap(m => StatusCounts.findFirstMatchIn(m)).map(_.group(1))
        .map(_.split(",").filter(_.nonEmpty).map(_.split(":").last.toLong).sum).getOrElse(-1L)
    }
    val total = store.manifest(rounds).flatMap(m => FetchedCount.findFirstMatchIn(m))
      .map(_.group(1).toLong).getOrElse(-1L)
    (perRound.sum, total)
  }

  // facts of the last pass, read by `layers`
  private var lastCommits: Seq[Long] = Nil
  private var lastRounds = 0
  private var lastStartMs = 0L
  private var lastEndMs = 0L
  private var lastResumeAt = 0L
  private var lastStoreBytes = 0L
  private var lastStoreFiles = 0

  def pass(spark: SparkSession, n: Int, warm: Boolean): PassResult = {
    val root = a.work.resolve(s"store_$n")
    Main.rmTree(root)
    val store = new SnapshotStore(root.toString)
    val t0 = System.currentTimeMillis()
    val s0 = Main.now
    // warm-up passes crawl uninterrupted: the reference for resume equality
    if (warm) FrontierEngine.crawl(spark, seeds, cfg, Some(store))
    else {
      FrontierEngine.crawl(spark, seeds, cfg.copy(maxRounds = stopAt), Some(store))
      spark.catalog.clearCache()
      lastResumeAt = System.currentTimeMillis()
      FrontierEngine.crawl(spark, seeds, cfg, Some(store))
    }
    val seconds = Main.secs(s0)
    lastEndMs = System.currentTimeMillis()
    lastStartMs = t0
    // crawl leaves each round's fetched rows cached in what it returns
    spark.catalog.clearCache()
    val rounds = store.currentRound.getOrElse(0)
    val (sumStatus, total) = manifestCounts(store, rounds)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    lastStoreBytes = files.map(Files.size).sum
    lastStoreFiles = files.size
    lastRounds = rounds
    // commit time of each round: the mtime of its manifest, written last
    // before the round directory is renamed into place
    lastCommits = (1 to rounds).map(k =>
      Files.getLastModifiedTime(root.resolve(s"r$k/manifest.json")).toMillis)
    val rows = storedRows(spark, root, rounds)
    val seen = storedSeen(spark, root, rounds)
    Main.rmTree(root)
    if (warm) {
      uninterrupted = rows
      uninterruptedSeen = seen
      return PassResult(seconds, total, 0, Nil, lastEndMs)
    }
    val nRounds = math.max(rounds, expected.map(_.round + 1).maxOption.getOrElse(0))
    val byRound = rows.groupBy(_.round)
    val oracleByRound = expected.groupBy(_.round)
    val freshByRound = uninterrupted.groupBy(_.round)
    val roundFailures = (0 until nRounds).flatMap { k =>
      val got = byRound.getOrElse(k, Nil)
      if (got.groupBy(r => graft.core.UrlNorm.host(r.url)).exists(_._2.size > cfg.hostBudget))
        Some(s"round $k exceeds the host budget")
      else if (got != freshByRound.getOrElse(k, Nil))
        Some(s"round $k differs from the uninterrupted crawl")
      else if (got != oracleByRound.getOrElse(k, Nil))
        Some(s"round $k differs from CrawlOracle round")
      else None
    }
    val storeOk = rows.map(_.order) == rows.indices.map(_.toLong) &&
      sumStatus == rows.size && total == rows.size && seen == uninterruptedSeen
    val adversarial = Kernels.adversarial()
    val failures = roundFailures ++
      (if (storeOk) Nil else Seq("store: order_idx, manifest counts or seen set wrong")) ++
      adversarial.collect { case (name, Some(err)) => s"adversarial $name: $err" }
    PassResult(seconds, total, nRounds + 1 + adversarial.size, failures, lastEndMs)
  }

  /** The fetch+extract stage of a round runs inside the commit's first write:
    * it is the first stage to carry that round's persisted FetchedRow
    * relation. Other stages are attributed by the source file of their call
    * site. */
  private def fetchStages(stages: Seq[Trace#StageRec]): Set[Int] = {
    val seen = scala.collection.mutable.Set[Int]()
    stages.sortBy(_.submitted).flatMap { s =>
      val fresh = s.cached.filter(_._2.contains("FrontierEngine$FetchedRow")).map(_._1)
        .filterNot(seen.contains)
      seen ++= fresh
      if (fresh.nonEmpty) Some(s.id) else None
    }.toSet
  }

  def layers(spark: SparkSession, trace: Trace, p: PassResult): Map[String, Double] = {
    val stages = trace.stages
    val jobs = trace.jobs
    val rounds = math.max(1, lastRounds)
    val walls = (lastStartMs +: lastCommits).sliding(2).collect { case Seq(x, y) => (y - x).toDouble }.toSeq
    val wallMs = (lastEndMs - lastStartMs).toDouble
    val fetchIds = fetchStages(stages)
    val fetch = stages.filter(s => fetchIds(s.id))
    val commit = stages.filter(s => !fetchIds(s.id) && s.in("SnapshotStore.scala"))
    val schedule = stages.filter(s => !fetchIds(s.id) && s.in("FrontierEngine.scala"))
    def stageMs(ss: Seq[Trace#StageRec]) = ss.map(s => (s.completed - s.submitted).toDouble).sum
    val idle = wallMs - Trace.covered(stages, lastStartMs, lastEndMs)
    // state reload on the restarted crawl: from the second crawl call to the
    // first job of its first round (the first job after the call reloads)
    val after = jobs.map(_.start).filter(_ >= lastResumeAt).sorted
    val resumeMs = if (after.size >= 2) (after(1) - lastResumeAt).toDouble else 0.0
    Map(
      "engine.FrontierEngine.rounds" -> lastRounds.toDouble,
      "engine.FrontierEngine.jobs_per_round" -> jobs.size.toDouble / rounds,
      "engine.FrontierEngine.stages_per_round" -> stages.size.toDouble / rounds,
      "engine.FrontierEngine.round_ms" -> Trace.median(walls),
      "engine.FrontierEngine.schedule_ms_per_round" -> stageMs(schedule) / rounds,
      "engine.FrontierEngine.idle_ms_per_round" -> idle / rounds,
      "engine.FrontierEngine.fetch_extract_ms_per_round" -> stageMs(fetch) / rounds,
      "engine.FrontierEngine.fetch_task_skew" -> Trace.median(fetch.map(Trace.skew)),
      "engine.FrontierEngine.busy_share" -> stages.map(_.runMs).sum / (a.cores * wallMs),
      "engine.FrontierEngine.shuffle_bytes_per_page" -> stages.map(_.shuffleWrite).sum.toDouble / p.items,
      "engine.SnapshotStore.commit_ms_per_round" -> stageMs(commit) / rounds,
      "engine.SnapshotStore.files_per_round" -> lastStoreFiles.toDouble / rounds,
      "engine.SnapshotStore.resume_ms" -> resumeMs,
      "engine.SnapshotStore.bytes_per_page" -> lastStoreBytes.toDouble / p.items,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble)
  }

  override def runLayers(spark: SparkSession): Map[String, Double] =
    Kernels.measure(web, sampleUrls, cfg.sameHostOnly) +
      ("core.Extract.adversarial_ms" -> Kernels.adversarialMs)
}
