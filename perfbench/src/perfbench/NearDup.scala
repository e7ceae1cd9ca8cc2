package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** `neardup`: the near-duplicate pipeline as a batch job. Set-up writes a
  * `documents` corpus: seeded base documents, each replicated
  * [[Replicas]] times with a seeded token prepended to every copy but the
  * first (near-duplicates, not byte duplicates), as the engine's own
  * dedup stress scenario does. Each pass runs `q_dedup_minhash` and then
  * `q_dedup_cluster` from SparkEntry.queries on that corpus.
  */
final class NearDup(ctx: Ctx) extends Workload {
  import NearDup._
  private val spark = ctx.spark
  private val args = ctx.args
  // 3000 base documents at --scale 0.1 (the sf0.1 table has 5000; the
  // engine's dedup stress scenario caps at 1000): enough that task time,
  // spread over every core, outweighs the per-job scheduling overhead,
  // which is what keeps pass times steady between runs
  private val nBase = math.max(40, math.round(30000 * args.scale).toInt)
  private var corpus: Path = _
  private var eligible = 0L

  private val passS = ArrayBuffer.empty[(Int, Double)]
  private val pairsSeen, keepersSeen = ArrayBuffer.empty[Long]
  private val tracedPasses = ArrayBuffer.empty[Int]
  private val tracedOps = ArrayBuffer.empty[String]
  private val pairsMs, clusterMs, minhashMs, shingleMs = ArrayBuffer.empty[Double]

  def build(rep: Int): Unit = {
    val dir = ctx.dir(s"neardup/corpus-$rep")
    eligible = writeCorpus(dir, args.seed, nBase)
    corpus = dir
  }

  def nominalPassS: Double = 10.0

  def pass(p: Int): Unit = {
    val dir = corpus.toString
    val t0 = System.nanoTime()
    var pairs = -1L
    var keepers = -1L
    val ok = ctx.op(s"p$p/pairs") {
      val a = System.nanoTime()
      pairs = ctx.tracer.span("client.pairs", s"p$p/pairs") {
        val df = ctx.tracer.span("queries.minhash", s"p$p/pairs")(SparkEntry.queries("q_dedup_minhash")(spark, dir))
        ctx.tracer.span("exec.count", s"p$p/pairs")(df.count())
      }
      if (ctx.traced) pairsMs += (System.nanoTime() - a) / 1e6
      val want = if (args.wrongModel) eligible * 100 else eligible
      ctx.check(pairs * 10 >= want * Clique * 9,
        s"recall floor: $pairs verified pairs < 0.9 x $Clique x $want eligible cliques") &
        ctx.check(pairs <= nBase.toLong * Replicas * 30,
          s"candidate ceiling: $pairs pairs > 30 per doc") &
        ctx.check(pairsSeen.forall(_ == pairs), s"verified pairs changed between passes: $pairsSeen then $pairs")
    } && ctx.op(s"p$p/cluster") {
      val a = System.nanoTime()
      keepers = ctx.tracer.span("client.cluster", s"p$p/cluster") {
        val df = ctx.tracer.span("queries.cluster", s"p$p/cluster")(SparkEntry.queries("q_dedup_cluster")(spark, dir))
        ctx.tracer.span("exec.count", s"p$p/cluster")(df.filter(col("is_keeper")).count())
      }
      if (ctx.traced) clusterMs += (System.nanoTime() - a) / 1e6
      ctx.check(keepers > 0 && keepers <= nBase.toLong * 2, s"keeper bound: $keepers keepers for $nBase base docs") &
        ctx.check(keepersSeen.forall(_ == keepers), s"keepers changed between passes: $keepersSeen then $keepers")
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (ok && p >= 0) {
      passS += ((p, secs))
      pairsSeen += pairs
      keepersSeen += keepers
    }
    if (ctx.traced) {
      tracedPasses += p
      tracedOps ++= Seq(s"p$p/pairs", s"p$p/cluster")
      ctx.recordJobSpans()
      probeKernels(p)
    } else ctx.exec.takeJobs()
  }

  /** The native kernels called by name through SQL over the same corpus,
    * outside the pass's timing.
    */
  private def probeKernels(p: Int): Unit = {
    val pid = s"p$p/probe"
    spark.read.parquet(corpus.resolve("documents.parquet").toString).createOrReplaceTempView("pb_docs")
    def timed(name: String, q: String): Double = {
      val t0 = System.nanoTime()
      ctx.tracer.span(name, pid)(spark.sql(q).collect())
      (System.nanoTime() - t0) / 1e6
    }
    shingleMs += timed("functions.shingles",
      "SELECT sum(size(graft_shingles(split(text, ' ')))) FROM pb_docs")
    minhashMs += timed("functions.minhash",
      "SELECT sum(size(graft_minhash_sig(graft_minhash_hs(split(text, ' '))))) FROM pb_docs " +
        "WHERE size(split(text, ' ')) >= 3")
  }

  def finish(): Unit = {
    val r = ctx.report
    val docs = nBase.toLong * Replicas
    val plain = passS.filterNot(x => tracedPasses.contains(x._1)).map(_._2).toSeq
    r.put("wall_s", Stats.median(plain), "s", plain.size, "median pass: minhash pairs, then clustering")
    r.put("throughput", docs * plain.size / plain.sum, "items/s", plain.size, s"corpus docs ($docs) per second")
    r.latency("op", passS.map(_._2 * 1000).toSeq)
    r.put("bytes_per_row", Main.bytesUnder(corpus).toDouble / docs, "B", 1, "corpus parquet bytes / docs")
    if (tracedPasses.nonEmpty) {
      val n = tracedPasses.size
      val traced = passS.filter(x => tracedPasses.contains(x._1)).map(_._2).toSeq
      r.put("queries.pairs_ms", Stats.median(pairsMs.toSeq), "ms", pairsMs.size, "q_dedup_minhash build + count")
      r.put("queries.cluster_ms", Stats.median(clusterMs.toSeq), "ms", clusterMs.size, "q_dedup_cluster build + count")
      r.put("queries.verified_pairs", pairsSeen.lastOption.getOrElse(0L).toDouble, "count", pairsSeen.size)
      r.put("queries.keepers", keepersSeen.lastOption.getOrElse(0L).toDouble, "count", keepersSeen.size)
      r.put("functions.shingle_ms", Stats.median(shingleMs.toSeq), "ms", shingleMs.size, "graft_shingles over the corpus")
      r.put("functions.minhash_ms", Stats.median(minhashMs.toSeq), "ms", minhashMs.size,
        "graft_minhash_sig(graft_minhash_hs) over the corpus")
      ctx.execMetrics(tracedOps.toSeq, traced.sum * 1000)
      r.put("exec.ms", Stats.median(Seq(pairsMs, clusterMs).flatten), "ms", n * 2, "per pipeline stage")
      r.put("trace.overhead_ms", (Stats.median(traced) - Stats.median(plain)) * 1000, "ms", n,
        "traced minus untraced median pass")
      Main.putSelfTimes(ctx, n)
    }
  }
}

object NearDup {
  val Replicas = 4
  /** verified pairs a fully recalled clique of [[Replicas]] copies yields */
  val Clique: Long = Replicas.toLong * (Replicas - 1) / 2

  private val Vocab = ("a the data spark table stream query filter join group agg sort hash key value " +
    "row column part line order customer vector batch window merge scan fast slow big small").split(' ')

  /** Writes `<dir>/documents.parquet` and returns the number of base
    * documents with at least 20 tokens: prepending one token leaves their
    * copies at Jaccard >= ~0.8, so each must surface as a full clique.
    */
  def writeCorpus(dir: Path, seed: Long, nBase: Int): Long = {
    val rnd = new SplittableRandom(seed)
    val rows = ArrayBuffer.empty[Row]
    var eligible = 0L
    (0 until nBase).foreach { d =>
      val n = 8 + rnd.nextInt(53)
      val text = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
      if (n >= 20) eligible += 1
      (0 until Replicas).foreach { r =>
        val t = if (r == 0) text else s"x${rnd.nextInt(1000000)} $text"
        rows += Row(d.toLong * Replicas + r, t, if (rnd.nextInt(4) == 0) "de" else "en",
          s"src${rnd.nextInt(3)}", t.length.toLong)
      }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    val spark = org.apache.spark.sql.SparkSession.active
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    eligible
  }
}
