package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Deep checks for the LLM-pipeline operators whose scores are not
  * DuckDB-oracle-able (MinHash/SimHash/cosine use engine-internal hashing
  * or float math): re-derive ground truth on the driver at sf0.001 and
  * assert the distributed results match it exactly.
  */
class LlmOpsSpec extends AnyFunSuite {
  import SparkSessionFixture.{spark, sf}

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Every SQL execution `body` runs, in order. A sentinel execution
    * afterwards flushes the listener bus (events arrive in order), so all
    * of body's executions have been seen when the sentinel's arrives.
    */
  private def executionsDuring[A](body: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      val sentinel = spark.range(1).toDF()
      sentinel.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(sentinel.queryExecution) && System.nanoTime() < deadline)
        Thread.sleep(10)
      val all = seen.toArray(Array.empty[QueryExecution]).toSeq
      assert(all.contains(sentinel.queryExecution), "listener never saw the sentinel")
      (out, all.takeWhile(_ ne sentinel.queryExecution))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Walks final adaptive plans, query stages included. */
  private object plans extends AdaptiveSparkPlanHelper

  // --- ground truth: shingle sets + jaccard computed in plain Scala ---

  private lazy val docs: Map[Long, Set[String]] = {
    Tables.documents(spark, sf).select("doc_id", "text").collect().map { r =>
      val w = r.getString(1).split(" ")
      val sh = (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
      r.getLong(0) -> sh
    }.toMap
  }

  private lazy val trueNearPairs: Map[(Long, Long), Long] = {
    val ids = docs.keys.toSeq.sorted
    (for {
      (a, i) <- ids.zipWithIndex; b <- ids.drop(i + 1)
      inter = (docs(a) & docs(b)).size.toLong
      uni = (docs(a) | docs(b)).size.toLong
      if inter * 2 >= uni
    } yield (a, b) -> (inter * 10000L) / uni).toMap
  }

  test("q_dedup_near equals brute-force shingle Jaccard ground truth") {
    val got = q("q_dedup_near").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == trueNearPairs)
    assert(got.nonEmpty)
  }

  test("q_dedup_minhash: exact precision, and finds the strongest near-dups") {
    val got = q("q_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // every emitted pair is a verified true near-dup with the exact score
    got.foreach { case (pair, j) => assert(trueNearPairs.get(pair).contains(j), s"$pair") }
    // recall on the near-identical tail (jaccard ≥ 0.9): 8 bands of 2 make
    // a miss probability (1 - j²)^8 < 2e-6 per pair — assert full recall
    val strong = trueNearPairs.filter(_._2 >= 9000).keySet
    assert(strong.subsetOf(got.keySet), s"missed ${strong -- got.keySet}")
  }

  test("q_dedup_simhash pairs carry true hamming distance <= 8") {
    val rows = q("q_dedup_simhash").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= 8))
    // simhash-close pairs of this corpus should be the shingle-near ones:
    // every returned pair must share vocabulary heavily — cross-check that
    // at least one true near-dup pair is found (they exist at sf0.001)
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.intersect(trueNearPairs.keySet).nonEmpty)
  }

  test("q_text_repetition equals brute-force bigram counts") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = q("q_text_repetition").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // docs with <2 tokens have no bigrams and (correctly) no output row
    // on either engine — replay only over docs that produce bigrams
    // (sliding(2) would fabricate a 1-word partial window for them)
    val withBigrams = texts.filter(_._2.split(" ").length >= 2)
    assert(got.size == withBigrams.size)
    withBigrams.foreach { case (id, t) =>
      val w = t.split(" ")
      val counts = w.sliding(2).map(_.mkString(" ")).toSeq.groupBy(identity).map(_._2.size)
      val (total, top) = (counts.sum.toLong, counts.max.toLong)
      assert(got(id) == ((total, top, top * 10000 / total)), s"doc $id")
    }
  }

  test("q_lm_score equals brute-force corpus-LM replay") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // corpus LM: trigram and prefix counts over ALL occurrences
    val occ = texts.flatMap { case (id, t) =>
      val w = t.split(" ")
      (0 until w.length - 2).map(i => (id, (w(i), w(i + 1), w(i + 2))))
    }
    val nabc = occ.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nab = occ.groupBy(o => (o._2._1, o._2._2)).view.mapValues(_.size.toLong).toMap
    val want = occ.groupBy(_._1).map { case (id, os) =>
      val p6s = os.map(o => nabc(o._2) * 1000000L / nab((o._2._1, o._2._2)))
      id -> (os.size.toLong, p6s.sum / os.size)
    }
    val got = q("q_lm_score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, exp) => assert(got(id) == exp, s"doc $id") }
    // sanity of the filter signal: some doc repeats trigrams (score > the
    // all-unique-continuation floor would be corpus-dependent; just check
    // scores are within (0, 1e6])
    assert(got.values.forall { case (_, s) => s > 0 && s <= 1000000L })
  }

  test("q_decontaminate equals brute-force 8-gram overlap ground truth") {
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 8).map(i => w.slice(i, i + 8).mkString(" ")).toSet
    }
    val bench = texts.filter(_._1 < 5).values.flatMap(grams).toSet
    val expected = texts.filter(_._1 >= 5).map { case (id, t) =>
      id -> grams(t).count(bench)
    }
    val got = q("q_decontaminate").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, n) =>
      assert(got(id) == ((n.toLong, n > 0)), s"doc $id")
    }
    // the synthetic corpus contains near-dups of the bench docs at every
    // sf — the operator must actually flag something
    assert(got.values.exists(_._2), "no contamination found at all")
  }

  test("hot-bucket cap drops stop-shingle buckets but keeps real near-dups") {
    import spark.implicits._
    // adversarial corpus: 12 pure-boilerplate docs share ONE stop-shingle
    // (each doc's whole set) — uncapped that bucket alone yields all 66
    // pairs at jaccard 1.0; plus one genuine near-dup pair whose docs ALSO
    // carry the hot shingle next to their cold content shingles (the
    // boilerplate-plus-content shape the retained-universe ns protects).
    val sh = ((1L to 12L).map(i => (i, Array(100L)))
      :+ (20L, Array(5L, 6L, 7L, 100L)) :+ (21L, Array(5L, 6L, 8L, 100L)))
      .toDF("doc_id", "shingles")
    val uncapped = graft.queries.DedupQueries.jaccardPairs(sh, cap = 1000L).collect()
    assert(uncapped.length == 66 + 1, "uncapped: hot bucket explodes to all pairs")
    // cap=8 < 12: the stop-shingle bucket is dropped from the bucketed
    // pass; the twelve boilerplate-only docs lose all keys, and the
    // fully-hot rescue surfaces them as SET-IDENTITY keeper pairs
    // (1↔2..12 at jaccard 1.0 — O(group) output, never the 66 all-pairs);
    // the mixed docs keep their cold keys. Candidate work stays bounded
    // by cap².
    val capped = graft.queries.DedupQueries.jaccardPairs(sh, cap = 8L).collect()
    assert(capped.length == 1 + 11)
    val rescued = capped.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 == 1L).sortBy(_._2)
    assert(rescued.toSeq == (2L to 12L).map(i => (1L, i, 10000L)),
      s"fully-hot keeper pairs wrong: ${rescued.toSeq}")
    // ns is scored over the RETAINED universe: {5,6,7} vs {5,6,8} →
    // inter 2, union 4, jaccard 0.5 — the pair SURVIVES. With the full
    // pre-cap sets ({5,6,7,100} vs {5,6,8,100}) the dead hot key would
    // inflate the union to 6 and wrongly drop it below threshold.
    val r = capped.filter(_.getLong(0) == 20L).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (20L, 21L, 5000L))
  }

  test("q_dedup_containment flags inclusion pairs Jaccard structurally misses") {
    import spark.implicits._
    // doc 2's four shingles all appear in 20-shingle doc 1 (a short doc
    // quoted whole inside a long one): jaccard = 4/20 = 0.2 — invisible
    // to the 0.5 gate — but containment = 4/min(20,4) = 1.0. Doc 3 shares
    // nothing and must produce no pair.
    val sh = Seq(
      (1L, (1L to 20L).toArray),
      (2L, Array(3L, 4L, 5L, 6L)),
      (3L, Array(100L, 101L, 102L)))
      .toDF("doc_id", "shingles")
    assert(graft.queries.DedupQueries.jaccardPairs(sh).collect().isEmpty,
      "jaccard misses the inclusion pair")
    val cont = graft.queries.DedupQueries.containmentPairs(sh).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (1L, 2L, 10000L, 2L))
  }

  test("q_dedup_cluster equals driver-side connected components over the pair graph") {
    import scala.collection.mutable
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    trueNearPairs.keys.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val expected = mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { start =>
      if (!expected.contains(start)) {
        val comp = mutable.Set(start)
        val queue = mutable.Queue(start)
        while (queue.nonEmpty) adj(queue.dequeue()).foreach { n =>
          if (comp.add(n)) queue.enqueue(n)
        }
        val cid = comp.min
        comp.foreach(n => expected(n) = cid)
      }
    }
    val got = q("q_dedup_cluster").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, cid) =>
      assert(got(id) == ((cid, id == cid)), s"doc $id")
    }
    // at least one multi-member cluster exists in the synthetic corpus
    assert(expected.exists { case (id, cid) => id != cid })
  }

  test("q_embed_quantize matches driver-side int8 quantization exactly") {
    val got = q("q_embed_quantize").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.keySet == vecs.keySet)
    // HALF_UP away-from-zero to mirror Spark/DuckDB ROUND (Scala's
    // math.round is half-toward-positive-infinity — wrong for negatives)
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    vecs.foreach { case (id, v) =>
      val ma = v.map(math.abs).max
      val qv = if (ma == 0) v.map(_ => 0L) else v.map(x => rnd(x * (127.0 / ma)))
      val qhash = qv.foldLeft(0L)((h, c) => (h * 31 + c + 128) % 1000000007)
      assert(got(id) == ((qv.min, qv.max, qv.sum, qhash)), s"vec $id")
      // a symmetric scale puts the extreme component exactly at ±127
      assert(qv.map(math.abs).max == (if (ma == 0) 0L else 127L))
    }
  }

  // --- cosine ground truth on the driver ---

  private lazy val vecs: Map[Long, Array[Double]] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }

  /** ×1e6 fixed-point rounding matching Spark round()/DuckDB ROUND —
    * half AWAY FROM ZERO. Scala's math.round is half-toward-+∞, which
    * disagrees on negative values landing exactly on .5 (ADVICE r5):
    * replays must round like the engines they replay.
    */
  private def rnd6(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("q_sim_topk matches driver-side brute force exactly") {
    val got = q("q_sim_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = (0L until 5L).flatMap { p =>
      vecs.toSeq.filter(_._1 != p)
        .map { case (id, v) => (id, cos(vecs(p), v)) }
        .sortBy { case (id, s) => (-s, id) }
        .take(10).zipWithIndex
        .map { case ((id, s), i) => (p, (i + 1).toLong, id, rnd6(s)) }
    }
    assert(got.sorted.sameElements(expected.sorted))
  }

  test("q_sim_ann_lsh returns true cosine scores from the probe's bucket") {
    val rows = q("q_sim_ann_lsh").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, id, score) = (r.getLong(0), r.getLong(2), r.getLong(4))
      assert(rnd6(cos(vecs(p), vecs(id))) == score)
    }
    // per-probe ranks are 1..k without gaps
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length))
    }
  }

  test("q_sim_ann_recall equals a driver-side recall replay") {
    // same plane constants as the deployed bucketing, independent
    // arithmetic: left-to-right double accumulation matches graft_vecdot
    // bit-for-bit, so bucket ids and rankings replay exactly
    val planes = graft.queries.VectorQueries.planes
    def bucket(v: Array[Double]): Long =
      planes.indices.map { j =>
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * planes(j)(i); i += 1 }
        if (d > 0) 1L << j else 0L
      }.sum
    def top5(p: Long, pool: Seq[(Long, Array[Double])]): Set[Long] =
      pool.filter(_._1 != p)
        .map { case (id, v) => (id, cos(vecs(p), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    val all = vecs.toSeq
    val expected = (0L until 5L).map { p =>
      val exact = top5(p, all)
      val pb = bucket(vecs(p))
      val approx = top5(p, all.filter { case (id, v) => bucket(v) == pb })
      p -> (exact & approx).size.toLong
    }.toMap
    val rows = q("q_sim_ann_recall").collect()
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap == expected)
    // recall_x1e4 is exactly matched/5 in fixed point
    rows.foreach(r => assert(r.getLong(2) == r.getLong(1) * 2000))
  }

  test("q_sim_ann_ivf scores are true cosines and lists assign to nearest refined centroid") {
    val rows = q("q_sim_ann_ivf").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p, id, score) = (r.getLong(0), r.getLong(2), r.getLong(4))
      assert(rnd6(cos(vecs(p), vecs(id))) == score)
    }
    // replay the one k-means refinement pass on the driver: assign to the
    // seed codebook (first 16 vectors), recompute centroids as quantized
    // integer means — the exact arithmetic the query and oracle use
    def q6(d: Double): Long =
      BigDecimal.valueOf(d * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    val seed = (0L until 16L).map(c => c -> vecs(c)).toMap
    val refined: Map[Long, Array[Double]] = vecs.toSeq
      .groupBy { case (_, v) => seed.minBy { case (c, cv) => (-cos(v, cv), c) }._1 }
      .map { case (cid, members) =>
        cid -> Array.tabulate(64) { i =>
          val s = members.map { case (_, v) => q6(v(i)) }.sum
          BigDecimal.valueOf(s.toDouble / members.size)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact.toDouble / 1e6
        }
      }
    // each returned neighbor's list really is its nearest refined centroid
    rows.foreach { r =>
      val (id, listId) = (r.getLong(2), r.getLong(3))
      val best = refined.minBy { case (c, cv) => (-cos(vecs(id), cv), c) }._1
      assert(best == listId, s"vec $id assigned $listId, nearest is $best")
    }
    // ranks contiguous per probe
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to rs.length))
    }
  }

  test("q_dedup_embed emits each vector's true nearest bucket-mate score") {
    val rows = q("q_dedup_embed").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, nn, score, flag) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(rnd6(cos(vecs(v), vecs(nn))) == score)
      assert(flag == (cos(vecs(v), vecs(nn)) >= 0.95))
    }
  }

  test("q_multimodal_features: decode stub is deterministic and exact") {
    val rows = q("q_multimodal_features").collect()
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    rows.take(20).foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      val checksum = bytes.foldLeft(0L)((h, c) => (h * 31 + (c & 0xff)) % 1000000007L)
      assert(r.getLong(2) == bytes.length.toLong, "byte_len")
      assert(r.getLong(3) == checksum, "checksum")
      assert(r.getString(6) == bytes.take(8).map(b => f"${b & 0xff}%02x").mkString, "head_hex")
    }
  }

  test("q_multimodal_pipeline: resize preserves aspect, frames are in-bounds and exact") {
    val rows = q("q_multimodal_pipeline").collect()
    assert(rows.nonEmpty)
    rows.take(20).foreach { r =>
      val (w, h) = (r.getInt(4), r.getInt(5))
      val (rw, rh) = (r.getInt(6), r.getInt(7))
      assert(math.max(rw, rh) <= 256 && rw >= 1 && rh >= 1)
      // aspect preserved within rounding
      assert(math.abs(rw.toDouble / rh - w.toDouble / h) < 0.05)
      val offsets = r.getString(8).split(",").toSeq.map(_.toLong)
      assert(offsets.length == 4 && offsets.forall(o => o >= 0 && o < r.getLong(2)))
      assert(offsets == offsets.sorted)
    }
  }

  test("q_multimodal_image_decode: real PNG roundtrip returns exact pattern sums") {
    import graft.queries.MultimodalQueries.{decodePng, dims, encodePng, px}
    // driver-side ground truth from the closed form, vs the REAL
    // ImageIO encode→decode roundtrip for a few ids
    Seq(0L, 7L, 123L).foreach { id =>
      val f = decodePng(encodePng(id))
      val (w, h) = dims(id)
      val want = (for { y <- 0 until h; x <- 0 until w } yield px(id, x, y))
      assert((f.media_w, f.media_h) == (w, h))
      assert(f.sum_r == want.map(_._1.toLong).sum, s"id $id sum_r")
      assert(f.sum_g == want.map(_._2.toLong).sum, s"id $id sum_g")
      assert(f.sum_b == want.map(_._3.toLong).sum, s"id $id sum_b")
    }
    // and the registered query end-to-end on the fixture
    val rows = q("q_multimodal_image_decode").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.take(5).foreach { r =>
      val id = r.getLong(0)
      val (w, h) = dims(id)
      val wantR = (for { y <- 0 until h; x <- 0 until w } yield px(id, x, y)._1.toLong).sum
      assert((r.getInt(1), r.getInt(2), r.getLong(3)) == (w, h, wantR), s"doc $id")
    }
  }

  test("q_multimodal_audio_decode: real WAV roundtrip returns exact sample stats") {
    import graft.queries.MultimodalQueries.{decodeWav, encodeWav, pcmSample, PcmLen}
    Seq(0L, 13L, 499L).foreach { d =>
      val f = decodeWav(encodeWav(d))
      val s = Array.tabulate(PcmLen)(i => pcmSample(d, i))
      assert(f.n_samples == PcmLen)
      assert(f.sum_abs == s.map(v => math.abs(v).toLong).sum, s"doc $d sum_abs")
      assert(f.peak == s.map(math.abs).max, s"doc $d peak")
      val zc = (1 until PcmLen).count(i => (s(i) < 0) != (s(i - 1) < 0))
      assert(f.zero_crossings == zc, s"doc $d zero crossings")
    }
  }

  test("q_dedup_image_phash finds exactly the same-pattern image groups") {
    import graft.queries.MultimodalQueries.{encodePhashPng, phashOf, phashPx}
    // the real roundtrip hash equals the closed-form replay
    Seq(0L, 7L, 123L, 499L).foreach { d =>
      val got = phashOf(encodePhashPng(d))
      val g = Array.tabulate(64)(i => phashPx(d, i % 8, i / 8))
      val mean = g.sum / 64
      val want = Array.tabulate(4)(c =>
        (0 until 16).map(j => if (g(16 * c + j) > mean) 1L << j else 0L).sum)
      assert((got.c0, got.c1, got.c2, got.c3) == (want(0), want(1), want(2), want(3)), s"doc $d")
    }
    // mates are exactly the doc's same-pattern group (doc_id % 50), with
    // the noise pixel keeping hamming small but nonzero for most pairs
    val nDocs = Tables.documents(spark, sf).count()
    val rows = q("q_dedup_image_phash").collect()
    assert(rows.length == nDocs)
    val groupSize = nDocs / 50
    rows.foreach { r =>
      val (id, mates, minMate) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(mates == groupSize - 1, s"doc $id mates")
      val expectedMin = if (id < 50) id + 50 else id % 50
      assert(minMate == expectedMin, s"doc $id min mate")
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 8, s"doc $id hamming")
    }
  }

  test("q_embed_stats quantized sums match driver-side exact integers") {
    val got = q("q_embed_stats").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val byLabel = Tables.embeddings(spark, sf).select("label", "embedding").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
      .groupBy(_._1)
    val expected = byLabel.map { case (label, rs) =>
      val qs = rs.map(_._2.map(f =>
        BigDecimal.valueOf(f.toDouble * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP)
          .toLongExact))
      val sums = (0 until 64).map(i => qs.map(_(i)).sum)
      label -> (rs.length.toLong, sums.map(s => BigInt(s) * BigInt(s)).sum.toLong)
    }
    assert(got == expected)
  }

  test("q_sample_split is a deterministic partition of the corpus, ~90/10") {
    val rows = q("q_sample_split").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val total = rows.values.sum
    assert(total == Tables.documents(spark, sf).count())
    val train = rows.collect { case ((_, "train"), n) => n }.sum
    // hash split is binomial around 90%; sf0.001 has 500 docs → ±4σ ≈ 6%
    val frac = train.toDouble / total
    assert(frac > 0.84 && frac < 0.96, s"train fraction $frac")
    // determinism: a second run yields the identical assignment
    val again = q("q_sample_split").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(again == rows)
  }

  test("q_pack_sequences bins are contiguous, complete, and capacity-consistent") {
    val bins = q("q_pack_sequences").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // completeness: every doc is packed exactly once
    assert(bins.map(_._3).sum == docs.length)
    assert(bins.map(_._4).sum == docs.map(_._3).sum)
    docs.groupBy(_._1).foreach { case (lang, ds) =>
      val langBins = bins.filter(_._1 == lang).sortBy(_._2)
      // bins are consecutive from 0 and doc-id ranges never overlap
      assert(langBins.map(_._2).sameElements(langBins.indices.map(_.toLong)))
      langBins.sliding(2).foreach {
        case Array(a, b) => assert(a._6 < b._5, s"$lang bins overlap: $a $b")
        case _ =>
      }
      // greedy rule replayed on the driver gives the same bin per doc
      var cum = 0L
      val expected = ds.sortBy(_._2).map { d =>
        val bin = cum / 2048; cum += d._3; (bin, d._3)
      }
      val expAgg = expected.groupBy(_._1).view.mapValues(v => (v.length.toLong, v.map(_._2).sum)).toMap
      val gotAgg = langBins.map(b => b._2 -> (b._3, b._4)).toMap
      assert(gotAgg == expAgg, s"$lang occupancy mismatch")
    }
  }

  test("q_attribution conserves credit: Σfirst = Σlast = purchases, linear ≈ 1 per conversion") {
    val purchases = Tables.events(spark, sf).filter(col("event_type") === "purchase").count()
    val rows = q("q_attribution").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).sorted.toSeq == Seq("click", "direct", "signup", "view"))
    assert(rows.map(_._2).sum == purchases, "first-touch credit must sum to conversions")
    assert(rows.map(_._3).sum == purchases, "last-touch credit must sum to conversions")
    // linear shares floor-divide per conversion: the total loses at most
    // (channels-1) units of 1e-4 per conversion, never gains
    val lin = rows.map(_._4).sum
    assert(lin <= purchases * 10000 && lin >= purchases * 10000 - purchases * 3,
      s"linear credit $lin outside [${purchases * 10000 - purchases * 3}, ${purchases * 10000}]")
  }

  test("q_quality_auc is a valid rank statistic and its operating point is consistent") {
    val r = q("q_quality_auc").collect().head
    val (nDocs, nPos, nNeg, auc, tp, fp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    assert(nPos + nNeg == nDocs && nPos > 0 && nNeg > 0)
    assert(auc >= 0L && auc <= 1000000L, s"AUC $auc outside [0, 1e6]")
    assert(tp <= nPos && fp <= nNeg, "operating point exceeds its class totals")
  }

  test("q_text_watermark flags every planted green-run doc; clean flags stay in the z>3 band") {
    val rows = q("q_text_watermark").collect()
      .map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    val flagged = rows.filter(_._2).keys.toSet
    val planted = rows.keys.filter(_ % 100 == 0).toSet
    assert(planted.subsetOf(flagged), s"planted docs ${planted -- flagged} escaped detection")
    // a one-sided z>3 test false-positives at ~0.13% per clean doc; allow
    // the band without letting a broken threshold flood through
    val naturals = (flagged -- planted).size
    assert(naturals <= math.max(2, rows.size / 100),
      s"$naturals clean docs flagged — threshold band broken")
  }

  test("n-gram queries survive documents shorter than the n-gram order") {
    import spark.implicits._
    // Spark's slice() throws on a negative length, so an unguarded
    // slice(w, 1, size(w) - 2) crashes the whole query on any 1-token doc
    // (the fixture corpus never has one; a real crawl does)
    val dir = java.nio.file.Files.createTempDirectory("spec_shortdocs")
    Seq(
      (1L, "one", "en", "web", 3L),
      (2L, "two words", "en", "web", 9L),
      (3L, "three words here and more tokens for a real trigram row", "en", "web", 56L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    for (name <- Seq("q_ngram_lm", "q_lm_score", "q_cooccur", "q_dsir_importance",
        "q_curriculum_order", "q_tokenizer_fertility", "q_text_watermark")) {
      val rows = SparkEntry.queries(name)(spark, dir.toString).collect()
      assert(rows.length >= 0, name)
    }
    // the bigram scorer drops only the 1-token doc (no feature mass)
    val dsir = SparkEntry.queries("q_dsir_importance")(spark, dir.toString).collect()
    assert(dsir.map(_.getLong(0)).toSeq.sorted == Seq(2L, 3L))
    // every doc lands in the schedule exactly once, whatever its length
    val curr = SparkEntry.queries("q_curriculum_order")(spark, dir.toString).collect()
    assert(curr.map(_.getLong(0)).toSeq.sorted == Seq(1L, 2L, 3L))
    // the trigram scorer still scores the one doc long enough to have them
    val scored = SparkEntry.queries("q_lm_score")(spark, dir.toString).collect()
    assert(scored.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("q_cluster_kmeans equals a driver-side Lloyd iteration replay") {
    // independent of the DuckDB oracle: re-run seed-assign → exact
    // quantized mean → reassign in plain Scala and compare the audit
    val c0 = (0L until 16L).map(c => c -> vecs(c)).toMap
    def argmax(v: Array[Double], cents: Map[Long, Array[Double]]): (Long, Double) =
      cents.toSeq.map { case (c, cv) => (c, cos(v, cv)) }
        .maxBy { case (c, s) => (s, -c) }
    val a0 = vecs.map { case (id, v) => id -> argmax(v, c0)._1 }
    val cents1: Map[Long, Array[Double]] = a0.groupBy(_._2).map { case (c, m) =>
      val members = m.keys.toSeq.map(vecs)
      val dim = members.head.length
      val sums = Array.tabulate(dim)(i => members.map(v => rnd6(v(i))).sum)
      c -> sums.map(s => s.toDouble / (members.size.toDouble * 1e6))
    }
    val a1 = vecs.map { case (id, v) =>
      val (c, s) = argmax(v, cents1); id -> (a0(id), c, rnd6(s))
    }
    val expected = a1.values.groupBy(_._2).map { case (c, ms) =>
      (c, ms.size.toLong, ms.count { case (l0, l1, _) => l0 != l1 }.toLong,
        ms.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val got = q("q_cluster_kmeans").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  // --- r6: substring marking, temperature mixing, linear classifier ---

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("q_dedup_substring equals a driver replay of 8-token window marking") {
    val words = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val wins = words.toSeq.flatMap { case (id, w) =>
      (0 to w.length - 8).map(i => (id, i, w.slice(i, i + 8).mkString(" ")))
    }
    val dfc = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val rep = wins.filter(t => dfc(t._3) >= 2)
    val perDoc = rep.groupBy(_._1).map { case (id, rs) =>
      id -> ((rs.map(_._2).distinct.size.toLong,
        rs.flatMap(t => t._2 until t._2 + 8).distinct.size.toLong))
    }
    val expected = words.map { case (id, w) =>
      val (dw, ct) = perDoc.getOrElse(id, (0L, 0L))
      (id, w.length.toLong, math.max(w.length - 7, 0).toLong, dw, ct,
        if (ct * 2 >= w.length) 1L else 0L)
    }.toSeq.sortBy(_._1)
    val got = q("q_dedup_substring").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got == expected)
    // the corpus's identical-twin docs must be fully covered and dropped
    assert(got.exists(_._6 == 1L), "expected at least one dropped doc")
  }

  test("q_mix_temperature equals a driver replay of isqrt quotas + md5 draw") {
    val docs = Tables.documents(spark, sf).select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val counts = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def isqrt(n: Long): Long = {
      val s0 = math.floor(math.sqrt(n.toDouble)).toLong
      if ((s0 + 1) * (s0 + 1) <= n) s0 + 1 else if (s0 * s0 > n) s0 - 1 else s0
    }
    val wt = counts.view.mapValues(isqrt).toMap
    val (wsum, n) = (wt.values.sum, counts.values.sum)
    val quota = wt.view.mapValues(w => ((n / 2) * w) / wsum).toMap
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      ds.map(_._2).sortBy(id => (md5hex(id.toString), id))
        .take(quota(lang).toInt).map(lang -> _)
    }.sorted
    val got = q("q_mix_temperature").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expected)
    // temperature must shrink the head language's share vs raw proportion
    val head = counts.maxBy(_._2)._1
    val gotShare = got.count(_._1 == head).toDouble / got.size
    val rawShare = counts(head).toDouble / n
    assert(gotShare < rawShare,
      s"head lang $head share $gotShare not tempered below raw $rawShare")
  }

  test("q_embed_pca_power equals an exact integer replay of Xᶜᵀ(Xᶜ·1)") {
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(e => rnd(e.toDouble * 1000)).toArray)
      .sortBy(_._1)
    val dims = vs.head._2.length
    val mean = Array.tabulate(dims)(p => rnd(vs.map(_._2(p)).sum.toDouble / vs.length))
    val xc = vs.map { case (_, v) => Array.tabulate(dims)(p => v(p) - mean(p)) }
    val dots = xc.map(_.sum)
    val proj = Array.tabulate(dims)(p => xc.zip(dots).map { case (x, d) => d * x(p) }.sum)
    val mx = math.max(proj.map(math.abs).max, 1L)
    val expected = proj.zipWithIndex.map { case (w, i) =>
      (i + 1L, w, if (w < 0) -((-w * 1000000L) / mx) else (w * 1000000L) / mx)
    }.toSeq
    val got = q("q_embed_pca_power").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // the normalizer's pivot loads exactly ±1e6
    assert(got.exists(t => math.abs(t._3) == 1000000L))
  }

  test("q_mix_epochs equals a driver replay of rounded-division repeats") {
    val docs = Tables.documents(spark, sf).select("lang", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").length.toLong)
    val st = docs.groupBy(_._1).view.mapValues(ds => (ds.size.toLong, ds.map(_._2).sum)).toMap
    val (tot, nl) = (st.values.map(_._2).sum, st.size.toLong)
    val rep = st.view.mapValues { case (_, tok) =>
      math.min(4L, math.max(1L, (2 * (tot / nl) + tok) / (2 * tok))) }.toMap
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
      (1L to rep(lang)).map(e => (lang, e, ds.size.toLong, ds.map(_._2).sum))
    }.sorted
    val got = q("q_mix_epochs").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("q_embed_outliers equals an exact top-3-per-label replay") {
    // replay the division-free distance ‖n·x − S‖² in BigInt on the driver
    // and reassemble the query's split-BIGINT output (hi·1e9 + lo)
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vs = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(e => rnd(e.toDouble * 1000000)).toArray))
    val expected = vs.groupBy(_._2).toSeq.flatMap { case (label, g) =>
      val n = BigInt(g.length)
      val dims = g.head._3.length
      val s = Array.tabulate(dims)(p => g.map(v => BigInt(v._3(p))).sum)
      g.map { case (id, _, v) =>
        val dist = (0 until dims).map { p => val t = n * v(p) - s(p); t * t }.sum
        (id, dist)
      }.sortBy { case (id, dist) => (-dist, id) }.take(3).zipWithIndex
        .map { case ((id, dist), i) =>
          (label, i + 1L, id, (dist / 1000000000L).toLong, (dist % 1000000000L).toLong)
        }
    }.sortBy(t => (t._1, t._2))
    val got = q("q_embed_outliers").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // the split is genuinely needed: at least one distance exceeds int64
    // territory's comfort zone (hi half non-zero)
    assert(got.exists(_._4 > 0L))
  }

  test("minLabelComponents: O(log d) rounds on a deep path, exact labels, separate components") {
    import spark.implicits._
    // a 200-hop chain is the adversarial shape for plain min-label
    // propagation (200 rounds — it would blow the 20-round cap and fail
    // loudly); pointer jumping needs ~log2(200) + O(1)
    val n = 200
    val und = (0 until n - 1).map(i => (i.toLong, i + 1L))
    val edges = und.toDF("src", "dst")
      .union(und.map(_.swap).toDF("src", "dst"))
    val ((rounds, got), execs) = executionsDuring {
      val (labels, rounds) = queries.DedupQueries.minLabelComponents(edges)
      (rounds, labels.orderBy("id").as[(Long, Long)].collect())
    }
    assert(rounds <= 12, s"expected O(log n) rounds on the chain, got $rounds")
    // each round costs its checkpoint jobs only: the edge checkpoint, one
    // relaxation per round, one jump per round but the last, and the
    // final collect — no separate convergence job
    assert(execs.size <= 2 * rounds + 1,
      s"${execs.size} SQL executions for $rounds rounds")
    assert(got.sameElements((0 until n).map(i => (i.toLong, 0L))))
    // components never merge across a gap
    val twoRaw = Seq((10L, 11L), (11L, 12L), (20L, 21L))
    val two = twoRaw.toDF("src", "dst").union(twoRaw.map(_.swap).toDF("src", "dst"))
    val (l2, _) = queries.DedupQueries.minLabelComponents(two)
    assert(l2.orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((10L, 10L), (11L, 10L), (12L, 10L), (20L, 20L), (21L, 20L)))
  }

  test("minLabelComponents: an empty edge list converges at once to no labels") {
    import spark.implicits._
    val (labels, rounds) =
      queries.DedupQueries.minLabelComponents(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(rounds == 1)
    assert(labels.count() == 0)
  }

  test("q_dedup_cluster: a corpus with no near-duplicate pair has no clusters") {
    import spark.implicits._
    // every document draws its words from its own vocabulary: no shingle
    // is shared, so the edge list is empty
    val dir = java.nio.file.Files.createTempDirectory("graft_distinct_docs").toString
    (1L to 20L).map(i => (i, (0 until 12).map(k => s"w${i}_$k").mkString(" ")))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("q_dedup_cluster")(spark, dir).collect().isEmpty)
  }

  test("near-dup plans: one corpus scan for the edge list, no sort aggregate for payloads") {
    import plans.collect
    // the edge-list checkpoint is the one execution that reads the
    // corpus: the pair sizes (ns) share the bucket exchange instead of
    // re-scanning, and both edge directions come from one projection
    val (_, execs) = executionsDuring(q("q_dedup_cluster").collect())
    val scanning = execs.filter(qe =>
      collect(qe.executedPlan) { case s: FileSourceScanExec => s }.nonEmpty)
    assert(scanning.size == 1, s"${scanning.size} executions scan the corpus")
    val edgeList = scanning.head.executedPlan
    assert(collect(edgeList) { case s: FileSourceScanExec => s }.size == 1, edgeList.toString)
    assert(collect(edgeList) { case u: UnionExec => u }.isEmpty, edgeList.toString)
    // the pair payload is attached by two joins, not pivoted back with
    // first() over arrays (a SortAggregate)
    val minhash = q("q_dedup_minhash")
    minhash.collect()
    val plan = minhash.queryExecution.executedPlan
    assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan.toString)
  }

  test("q_embed_drift equals an exact two-sample replay in BigInt") {
    // replay ‖n_B·S_A − n_A·S_B‖² on the driver over the same 1e-6
    // quantization and reassemble the split-BIGINT output (hi·1e9 + lo)
    def rnd(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val vs = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(e => rnd(e.toDouble * 1000000)).toArray))
    val expected = vs.groupBy(_._2).toSeq.map { case (label, g) =>
      val (a, b) = g.partition(_._1 % 2 == 0)
      val dims = g.head._3.length
      def sums(side: Array[(Long, Int, Array[Long])]) =
        Array.tabulate(dims)(p => side.map(v => BigInt(v._3(p))).sum)
      val (sa, sb) = (sums(a), sums(b))
      val (na, nb) = (BigInt(a.length), BigInt(b.length))
      val drift = (0 until dims).map { p => val t = nb * sa(p) - na * sb(p); t * t }.sum
      (label, a.length.toLong, b.length.toLong,
        (drift / 1000000000L).toLong, (drift % 1000000000L).toLong)
    }.sortBy(_._1)
    val got = q("q_embed_drift").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.forall(t => t._2 > 0 && t._3 > 0),
      "both epochs must be populated for every label at this sf")
  }

  test("q_quality_linear equals a driver replay of the integer scorer") {
    val stop = Set("the", "a", "row", "data", "value")
    val rows = Tables.documents(spark, sf).select("source", "text").collect()
      .map { r =>
        val w = r.getString(1).split(" ")
        val uniq = w.distinct.length.toLong * 10000 / w.length
        val sr = w.count(stop).toLong * 10000 / w.length
        val wl = w.map(_.length.toLong).sum * 10000 / w.length
        r.getString(0) -> (3 * uniq + 2 * sr - math.abs(wl - 45000))
      }
    val expected = rows.groupBy(_._1).map { case (src, ss) =>
      val scores = ss.map(_._2)
      val kept = scores.count(_ >= 15000).toLong
      (src, scores.size.toLong, kept, kept * 10000 / scores.size,
        scores.sum)
    }.toSeq.sortBy(_._1)
    val got = q("q_quality_linear").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
  }
}
