package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Functions._
import graft.jobs.CorpusPipeline
import graft.operators.{Bpe, Dedup, Graphs, TextAnalysis}

/** The training-data path over seeded `documents`. Set-up builds the
  * MinHash-LSH near-duplicate pair graph (threshold 0.2) once and stores
  * it as a `graft.` catalog table, as a deployment would; each op is one
  * pass of corpus cleaning, a scan of the stored pairs, connected
  * components over them, BPE merge training (8 rounds) and PageRank over
  * the pair graph (3 iterations). The iterative operators dominate; the
  * pass itself commits nothing. */
final class CorpusGraph(ctx: Ctx) extends Workload {
  import ctx.spark
  import CorpusGraph.RankTolerance

  private val nCandidates = if (ctx.smoke) 200L else 400L
  private val inputs = new Inputs(spark, ctx.seed)

  val counterWindow = 1
  /** One pass; set-up regenerates the same inputs from the seed, so its
    * results are the reference every timed pass must repeat. */
  def warmup(): Unit = op(0)

  private var setups = 0
  private def pairsTable = s"graft.`pairs_s$setups`"
  private def docs = spark.read.parquet(ctx.path("input/documents"))
  private def pairs = spark.table(pairsTable)
  private var nDocs = 0L

  /** Each pass's component labels, BPE merges and PageRank ranks, the
    * warm-up pass first; every pass must repeat the first (ranks within
    * `RankTolerance`). */
  private val results = mutable.ArrayBuffer[(Seq[Row], Seq[Row], Seq[Row])]()

  def setup(): Unit = {
    if (setups > 0) ctx.deleteTree(s"lake/pairs_s$setups")
    setups += 1
    Seq("input", "lsh").foreach(ctx.deleteTree)
    inputs.documents(nCandidates).write.parquet(ctx.path("input/documents"))
    nDocs = docs.count()
    ctx.tracer.span("operators.lsh_pairs") {
      val (bands, rows) = Dedup.selectLshSplit(spark, threshold = 0.2, maxSignature = 32)
      Dedup.minhashLsh(docs, "doc_id", "text", k = 5, bands = bands,
          rowsPerBand = rows, threshold = 0.2)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .write.parquet(ctx.path("lsh"))
    }
    ctx.tracer.span("v2.pairs_commit") {
      spark.read.parquet(ctx.path("lsh")).createOrReplaceTempView("corpus_pairs")
      spark.sql(s"CREATE TABLE $pairsTable AS SELECT * FROM corpus_pairs")
    }
  }

  private def edges: DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  def op(i: Int): Op = {
    val t = ctx.tracer
    val t0 = System.nanoTime()
    t.span("jobs.corpus_clean")(CorpusPipeline.clean(docs, "doc_id", "text")
      .write.format("noop").mode("overwrite").save())
    t.span("v2.pairs_scan")(pairs.write.format("noop").mode("overwrite").save())
    val labels = t.span("operators.connected_components")(
      Dedup.connectedComponents(pairs).orderBy("id").collect().toSeq)
    val merges = t.span("operators.bpe_merges")(
      Bpe.trainMerges(docs, "text", rounds = 8).collect().toSeq)
    val ranks = t.span("operators.pagerank")(Graphs.pageRank(
        docs.select("doc_id"), "doc_id", edges, "src", "dst", iterations = 3)
      .select("id", "rank").orderBy("id").collect().toSeq)
    val s = (System.nanoTime() - t0) / 1e9
    results += ((labels, merges, ranks))
    Op(s, nDocs)
  }

  def check(ops: IndexedSeq[Op]): Int = {
    val timed = results.toSeq
    val labels = timed.last._1
    val star = Dedup.connectedComponentsStar(pairs).orderBy("id").collect().toSeq
    val ccOk = labels == star && labels.nonEmpty
    if (!ccOk) System.err.println(
      s"[perfbench] corpus_graph: connectedComponents (${labels.size} labels) " +
        s"differs from connectedComponentsStar (${star.size} labels)")
    val (first, rest) = (timed.head, timed.tail)
    val repeats = rest.count { case (l, m, r) =>
      l != first._1 || m != first._2 || !sameRanks(r, first._3) }
    if (repeats > 0) System.err.println(
      s"[perfbench] corpus_graph: $repeats passes differ from the warm-up pass")
    if (!ccOk) ops.size else repeats
  }

  /** PageRank sums doubles in whatever order Spark's tasks finish, so ranks
    * may differ between passes in their last bits. They must agree to the
    * precision the registry's PageRank entry is graded at (ppm to four
    * decimals); the largest difference is recorded in the details. */
  private def sameRanks(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.getLong(0) == y.getLong(0) &&
        math.abs(x.getDouble(1) - y.getDouble(1)) < RankTolerance }

  private def maxRankDiff: Double = results.toSeq.flatMap(r =>
      r._3.zip(results.head._3).map { case (x, y) =>
        math.abs(x.getDouble(1) - y.getDouble(1)) })
    .foldLeft(0.0)(math.max)

  def details: Map[String, Any] = Map(
    "max_rank_diff_between_passes" -> maxRankDiff,
    "documents" -> nDocs, "candidate_ids" -> nCandidates,
    "pairs" -> pairs.count())

  /** The pass's row-local kernels alone (minhash signature, quality
    * signals, language id) into the noop sink: median of three. */
  override def tracedExtras(): Map[String, Double] = {
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("functions.kernel") {
        docs.select(
            minhash_from_hashes(shingle_hash_set(col("text"), 5), 32).as("sig"),
            quality_signals(col("text")).as("q"),
            TextAnalysis.langId(col("text")).as("lang"))
          .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    Map("functions.kernel_s" -> Stats.median(secs))
  }

  def layers(t: TraceView, ops: IndexedSeq[Op]): Map[String, Double] = {
    val lsh = t.lastSetup("operators.lsh_pairs")
    Map(
      "jobs.corpus_clean_s" -> t.seconds("jobs.corpus_clean"),
      "jobs.corpus_clean_jobs" -> t.jobs("jobs.corpus_clean"),
      "operators.connected_components_s" -> t.seconds("operators.connected_components"),
      "operators.connected_components_jobs" -> t.jobs("operators.connected_components"),
      "operators.bpe_merges_s" -> t.seconds("operators.bpe_merges"),
      "operators.bpe_merges_jobs" -> t.jobs("operators.bpe_merges"),
      "operators.pagerank_s" -> t.seconds("operators.pagerank"),
      "operators.pagerank_jobs" -> t.jobs("operators.pagerank"),
      "v2.pairs_scan_s" -> t.seconds("v2.pairs_scan"),
      "v2.pairs_commit_s" -> t.lastSetup("v2.pairs_commit").map(_.seconds).getOrElse(0.0),
      "operators.lsh_pairs_s" -> lsh.map(_.seconds).getOrElse(0.0),
      "operators.lsh_pairs" -> pairs.count().toDouble,
      "operators.lsh_pairs_shuffle_bytes" ->
        lsh.map(s => t.counters(s).shuffleBytes.toDouble).getOrElse(0.0))
  }
}

object CorpusGraph {
  val RankTolerance = 1e-10
}
