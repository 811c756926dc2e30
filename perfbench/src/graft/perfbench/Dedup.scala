package graft.perfbench

import graft.queries.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, max, posexplode, udf}
import scala.collection.mutable

/** The dedup corpus, a pure function of (seed, doc id). Every document has
  * 50 tokens drawn from a 2^20-word vocabulary. Ids below `cluster` form one
  * boilerplate cluster: one shared token list, each member with its own last
  * token, so any two members share 47 of their 49 distinct word-3-shingles
  * and most members fall in one bucket of every band. Above it, every tenth
  * document is a planted near duplicate of the one before it, with its own
  * token at position 25 (45 of 51 shingles shared). The shared list does not
  * depend on the seed: which MinHash rows its shingles win decides how many
  * members each band's bucket holds, and so most of the pass's work. */
final case class Corpus(seed: Long, docs: Int, cluster: Int) {
  private def token(prefix: Char, key: Long, a: Long, b: Long): String = {
    val bb = java.nio.ByteBuffer.allocate(24)
    bb.putLong(key); bb.putLong(a); bb.putLong(b)
    prefix + java.lang.Long.toHexString(graft.core.UrlNorm.xxh64(bb.array(), 0L) & 0xFFFFFL)
  }

  def isPlanted(id: Long): Boolean = id >= cluster && (id - cluster) % 10 == 9

  def toks(id: Long): Array[String] = {
    val t =
      if (id < cluster) Array.tabulate(50)(i => token('t', 0L, -1L, i.toLong))
      else Array.tabulate(50)(i => token('t', seed, if (isPlanted(id)) id - 1 else id, i.toLong))
    if (id < cluster) t(49) = token('m', seed, id, 9999L)
    else if (isPlanted(id)) t(25) = token('m', seed, id, 9999L)
    t
  }

  def plantedPairs: Seq[(Long, Long)] =
    (cluster.toLong until docs.toLong).filter(isPlanted).map(id => (id - 1, id))
}

/** MinHash-LSH candidates → exact-Jaccard confirm → connected components over
  * a corpus whose boilerplate cluster fills band buckets with about a
  * thousand documents each, so the tasks holding those buckets emit most of
  * the candidate pairs. */
final class DedupSkewed(a: Main.Args) extends Workload {
  val corpus = Corpus(a.seed, docs = 12000, cluster = 1200)
  /** Three passes: the first after the single warm-up pass still ran ~10%
    * slower, and the median of three does not take it. */
  def minPasses = 3

  private var docs: DataFrame = _

  def prepare(spark: SparkSession): Unit = {
    val c = corpus
    val mk = udf((id: Long) => c.toks(id).toSeq)
    docs = spark.range(c.docs.toLong).select(col("id").as("doc_id"), mk(col("id")).as("toks"))
      .cache()
    docs.count()
  }

  // phase boundaries (ms) and counts of the last pass, for `layers`
  private var bounds = Array.fill(4)(0L)
  private var nCand = 0L
  private var nConf = 0L

  def pass(spark: SparkSession, n: Int, warm: Boolean): PassResult = {
    bounds(0) = System.currentTimeMillis()
    val s0 = Main.now
    val cand = DedupQueries.minhashCandidates(docs).cache()
    nCand = cand.count()
    bounds(1) = System.currentTimeMillis()
    val pairs = DedupQueries.confirmJaccard(docs, cand).cache()
    nConf = pairs.count()
    bounds(2) = System.currentTimeMillis()
    val labels = DedupQueries.ccLabels(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seconds = Main.secs(s0)
    bounds(3) = System.currentTimeMillis()
    val failures = if (warm) Nil else check(cand, pairs, labels)
    cand.unpersist(true)
    pairs.unpersist(true)
    PassResult(seconds, corpus.docs, 3, failures, bounds(3))
  }

  private def key(x: Long, y: Long): Long = (math.min(x, y) << 32) | math.max(x, y)

  /** Checks made apart from the engine: the corpus generator's own token
    * sets, a union-find, and the banding's detection probability. Pairs are
    * kept as sorted arrays of packed keys, since the cluster alone gives
    * hundreds of thousands of them. */
  private def check(cand: DataFrame, pairs: DataFrame, labels: Map[Long, Long]): Seq[String] = {
    val candKeys = cand.collect().map(r => key(r.getLong(0), r.getLong(1))).sorted
    val conf = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val confKeys = conf.map(p => key(p._1, p._2)).sorted
    def has(keys: Array[Long], k: Long) = java.util.Arrays.binarySearch(keys, k) >= 0
    val out = mutable.ArrayBuffer[String]()
    if (!confKeys.forall(has(candKeys, _)))
      out += "candidates do not contain every confirmed pair"
    // token sets as sorted ids, so a pair's intersection is one merge
    val ids = mutable.HashMap[String, Int]()
    val sets = mutable.HashMap[Long, Array[Int]]()
    def set(id: Long) = sets.getOrElseUpdate(id,
      corpus.toks(id).map(t => ids.getOrElseUpdate(t, ids.size)).distinct.sorted)
    def inter(x: Array[Int], y: Array[Int]): Int = {
      var (i, j, n) = (0, 0, 0)
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }
    val lowJ = conf.count { case (x, y) =>
      val (sx, sy) = (set(x), set(y))
      val n = inter(sx, sy)
      n * 10 < (sx.length + sy.length - n) * 8
    }
    val planted = corpus.plantedPairs
    val recall = planted.count(p => has(confKeys, key(p._1, p._2))).toDouble / planted.size
    val j = 45.0 / 51.0
    val pDetect = 1 - math.pow(1 - math.pow(j, 8), 8)
    val sigma = math.sqrt(pDetect * (1 - pDetect) / planted.size)
    if (lowJ > 0 || math.abs(recall - pDetect) > 5 * sigma)
      out += f"confirm: $lowJ pairs below Jaccard 0.8, planted recall $recall%.4f vs $pDetect%.4f"
    // union-find over the confirmed pairs; labels are component minima
    val parent = Array.tabulate(corpus.docs)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (y != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    val node = new Array[Boolean](corpus.docs)
    conf.foreach { case (x, y) =>
      node(x.toInt) = true; node(y.toInt) = true
      val (rx, ry) = (find(x.toInt), find(y.toInt))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val nodes = node.indices.filter(node)
    if (labels.size != nodes.size || !nodes.forall(v => labels.get(v.toLong).contains(find(v).toLong)))
      out += "connected components differ from union-find"
    out.toSeq
  }

  def layers(spark: SparkSession, trace: Trace, p: PassResult): Map[String, Double] = {
    val stages = trace.stages
    def within(i: Int) = stages.filter(s => s.completed > bounds(i) && s.completed <= bounds(i + 1))
    // the candidate stage with the longest task: that task over an even
    // share of the stage's task time across the cores (1 = even, `cores` =
    // one task did all of it)
    val candStage = within(0).filter(_.taskMs.nonEmpty).sortBy(-_.taskMs.max).headOption
    def spread(s: Trace#StageRec) = s.taskMs.max * a.cores.toDouble / math.max(1L, s.taskMs.sum)
    val ccJobs = trace.jobs.count(j => j.start >= bounds(2) && j.name.contains("at DedupQueries.scala"))
    // largest band bucket, counted apart from the timed chain
    val buckets = docs.select(col("doc_id"), posexplode(
        DedupQueries.minhashBandsUdf(DedupQueries.MinhashK, DedupQueries.Bands)(col("toks"), org.apache.spark.sql.functions.lit(3))))
      .groupBy(col("pos"), col("col")).agg(count("*").as("n")).agg(max("n")).head().getLong(0)
    Map(
      "queries.DedupQueries.candidates_s" -> (bounds(1) - bounds(0)) / 1e3,
      "queries.DedupQueries.confirm_s" -> (bounds(2) - bounds(1)) / 1e3,
      "queries.DedupQueries.cc_s" -> (bounds(3) - bounds(2)) / 1e3,
      "queries.DedupQueries.candidate_pairs" -> nCand.toDouble,
      "queries.DedupQueries.confirmed_pairs" -> nConf.toDouble,
      "queries.DedupQueries.max_bucket_docs" -> buckets.toDouble,
      "queries.DedupQueries.cc_jobs" -> ccJobs.toDouble,
      "queries.DedupQueries.candidates_task_skew" -> candStage.map(spread).getOrElse(1.0),
      "queries.DedupQueries.shuffle_bytes_per_doc" -> stages.map(_.shuffleWrite).sum.toDouble / corpus.docs,
      "spark.jobs" -> trace.jobs.size.toDouble,
      "spark.gc_ms" -> stages.map(_.gcMs).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble)
  }
}
