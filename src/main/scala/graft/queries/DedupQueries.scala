package graft.queries

import graft.{Q, QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (north star):
  * exact (content hash), n-gram Jaccard, MinHash+LSH, and SimHash — over
  * the `documents` table.
  *
  * Scale doctrine (VERDICT r1): NEVER all-pairs. Every near-dup variant
  * buckets documents by a key (shared shingle / LSH band signature /
  * SimHash chunk) with one keyed shuffle, and generates candidate pairs
  * INSIDE each bucket. An O(n²) cross join would be a 100 TB killer and
  * does not appear.
  *
  * Plan shape: bucket → groupBy(key) collect members → in-row pair
  * expansion — rather than a self-join of two copies of the bucketed
  * relation. The self-join form recomputes the expensive
  * scan→shingle→signature subtree once per branch (measured 2× slower at
  * sf0.1 even with persist, whose cache-population races cost more than
  * they saved); the collect form derives that subtree exactly once.
  * Bucket sizes bound the expansion (max 25 docs/shingle at sf0.1), and
  * the stop-shingle guard [[MaxBucketDf]] bounds them by construction:
  * bucket keys over the document-frequency cap are dropped before
  * collection, so Σ bucket² ≤ buckets · cap² no matter the corpus.
  *
  * Determinism: thresholds use integer math (2*inter >= union ⟺
  * Jaccard ≥ 0.5); scores are floor-divided scaled integers. MinHash and
  * SimHash hash through md5 (bit-identical in Spark and DuckDB) truncated
  * to 60 bits, so BOTH are fully DuckDB-oracle-able — the oracle replays
  * the identical signatures, band buckets and chunk keys, reproducing
  * even the probabilistic recall misses exactly. (q_dedup_near's internal
  * shingle hash stays xxhash64: its hashes never influence the output —
  * only set equality — so the faster engine-internal hash is fine there.)
  */
object DedupQueries extends QueryPack {

  /** 60-bit cross-engine hash: first 15 hex chars of md5, parsed as an
    * integer. Spark: CONV(hex,16,10)→BIGINT; DuckDB: CAST('0x'||hex AS
    * BIGINT). Uniform (md5 avalanche), positive, identical in both
    * engines — the primitive that makes MinHash/SimHash oracle-able.
    */
  // private[graft]: NativeFnSpec pins graft_h60 / graft_gram_h60 parity
  // against this hex-chain definition
  private[graft] def h60(e: String): String =
    s"CAST(CONV(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"
  private[queries] def h60Sql(e: String): String =
    s"CAST('0x' || substring(md5($e), 1, 15) AS BIGINT)"

  /** Deterministic total order for an output-sized result. A plain
    * orderBy range-samples its input — which RE-RUNS the whole upstream
    * plan once for sampling and once for the sort. The near-dup result
    * sets are tiny relative to their inputs, so one shuffle of the final
    * rows to a single partition + in-partition sort gives the same total
    * order in a single pass (measured: halves q_dedup_near at sf0.1).
    * Upstream stages keep full parallelism — only the already-small
    * result crosses the final exchange.
    */
  private def orderedOutput(df: DataFrame, cols: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(cols.head, cols.tail: _*)

  /** Distinct 3-word shingle STRINGS of the token array `w`, guarded for
    * documents with fewer than 3 tokens (empty array — matching the
    * oracles' `range(0, len(w)-2)`, which is empty there; unguarded,
    * Spark's `sequence(0, size(w)-3)` would DESCEND and the element_at
    * would throw). Shared by the shingle-Jaccard and MinHash pipelines so
    * the shingle definition can never desynchronize between them.
    */
  // kept private[graft]: NativeFnSpec asserts graft_shingles /
  // graft_minhash_hs parity against this HOF definition on real corpus text
  private[graft] val trigramsExpr: String =
    """CASE WHEN size(w) >= 3
      |  THEN array_distinct(transform(sequence(0, size(w) - 3),
      |    i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
      |  ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin

  /** doc_id + distinct 3-word shingles, hashed to BIGINT at creation:
    * every downstream group/intersect then operates on longs instead of
    * ~15-char strings. A 64-bit collision among the distinct shingles of
    * a corpus partition has probability ~n²/2⁶⁴ — negligible next to the
    * sampling noise of any dedup pipeline. (The spread() matters: the
    * single-file scan would otherwise run the whole shingling pipeline in
    * one task.)
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .withColumn("w", split(col("text"), " "))
      // graft_shingles = the native one-pass twin of
      // transform($trigramsExpr, x -> xxhash64(x)) — same distinct
      // trigram strings, same xxhash64 static, no per-element lambdas
      .select(col("doc_id"), expr("graft_shingles(w)").as("shingles"))
      // materialization boundary: without it, downstream projections that
      // explode `shingles` AND reference it again (size, array_min
      // signatures) re-evaluate the whole HOF construction per OUTPUT row
      // — whole-stage codegen does no CSE across a Generate. The shuffle
      // writes concrete arrays once; measured 5 s → sub-second on the
      // explode stage at sf0.1.
      .repartition(col("doc_id"))

  /** MinHash per-document hash pairs — ONE definition shared by the batch
    * pipeline (q_dedup_minhash) and the ONLINE ingest path
    * (t_online_neardup), so the two can never compute different keys for
    * the same text (an index probed under a drifted key silently admits
    * every duplicate). ONE md5 per distinct 3-shingle yields h1 (hex
    * 1-15) and h2 (hex 16-30, reduced mod 2^56) for Kirsch-Mitzenmacher
    * double hashing g_j = h1 + j·h2. Output: one row per doc — idCol,
    * `hs` (struct<h1s,h2s> of primitive arrays), doc-keyed. Docs under 3
    * tokens emit no rows (empty shingle set — callers needing them route
    * through the exact md5 path instead).
    *
    * DECOUPLED from the band explode (r13, guide §8 / VERDICT r12 #3):
    * the r12 shape carried `bh` — the full shingle-h1 verify payload — on
    * every one of a doc's 8 band rows, so the band exchange shuffled the
    * payload 8× (88 MB at sf0.1, proportionally catastrophic at 100 TB).
    * Callers now shuffle [[minhashBandKeys]]' (id, bb) rows only and
    * rejoin `hs.h1s` from this doc-keyed relation on the PAIR-sized
    * candidate set.
    */
  private[graft] def minhashDocs(docs: DataFrame, idCol: String,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("w", split(col(textCol), " "))
      // empty shingle set → NULL signatures; SQL's equi-join never
      // matches NULL band keys, so exclude <3-token docs to match the
      // oracle. Filtered HERE on the cheap token count: a filter on the
      // constructed hs would be pushed below the repartition and
      // re-evaluate the md5 transform once per row just for the guard.
      .filter(size(col("w")) >= 3)
      .select(col(idCol), expr("graft_minhash_hs(w)").as("hs"))
      // materialization boundary — same rationale as shingled(); measured
      // r13: removing it doubled task time (16.65 s vs 6.47 s warm at
      // sf0.1) because the scan→md5→sig subtree re-derives across the
      // band explode's branches without the concrete exchange
      .repartition(col(idCol))

  /** The lightweight band-key proxy (guide §8): one row per (doc, band) —
    * idCol and the `bb` struct (band, k1, k2). 16 signature minimums in
    * one native codegen pass (graft.functions.MinHashSig), in 8 bands of
    * 2 (s-curve knee ≈ 0.35, right for a 0.5-Jaccard threshold). This is
    * the only relation the band-bucket exchange ever shuffles in the
    * batch pipeline; verify payloads rejoin on the pair-sized candidate
    * set ([[minhashVerify]]). `carry` projects extra per-doc columns
    * (derived from hs) through the explode — for BOUNDED relations only
    * (t_online_neardup's micro-batch, capped by maxFilesPerTrigger),
    * where duplicating a payload 8× costs nothing and saves a join.
    */
  private[graft] def minhashBandKeys(docRel: DataFrame, idCol: String,
      carry: Map[String, Column] = Map.empty): DataFrame =
    docRel
      .select((col(idCol) +: carry.toSeq.map { case (n, c) => c.as(n) } :+
        call_function("graft_minhash_sig", col("hs")).as("sig")): _*)
      .select((col(idCol) +: carry.keys.toSeq.map(col) :+
        explode_outer(expr( // outer: skip the pushed-down non-empty guard
          "transform(sequence(0, 7), bd -> named_struct('band', bd, 'k1', element_at(sig, 2*bd+1), 'k2', element_at(sig, 2*bd+2)))"))
          .as("bb")): _*)

  /** Attach per-doc payload columns to BOTH sides of a candidate pair set
    * as `<c>_a` / `<c>_b`: one join of `cand` to `payload` on `da`, one on
    * `db`. Both sides read the same payload relation (only the output
    * names differ), so the final plan broadcasts the payload ONCE and the
    * second join reads it through a ReusedExchange — the scan→md5 subtree
    * runs once and the pair set never shuffles for it. No aggregate
    * touches the payload arrays. `payload` must carry at most one row
    * per id.
    */
  private def pairPayload(cand: DataFrame, payload: DataFrame, idCol: String): DataFrame = {
    def side(s: String) = payload.select(payload.columns.toSeq.map { c =>
      col(c).as(if (c == idCol) s"d$s" else s"${c}_$s") }: _*)
    cand.join(side("a"), "da").join(side("b"), "db")
  }

  /** The minhash verify payload — one NARROW row per doc (id, shingle-h1
    * set), derived straight from the corpus with no materialization
    * boundary: the single md5 pass lands in the same stage as the join
    * that consumes it. Shared by q_dedup_minhash and the recall audit
    * (which adds the signature column).
    */
  private def minhashPayload(docs: DataFrame, idCol: String,
      textCol: String, withSig: Boolean): DataFrame = {
    val base = docs
      .withColumn("w", split(col(textCol), " "))
      .filter(size(col("w")) >= 3)
      .select(col(idCol), expr("graft_minhash_hs(w)").as("hs"))
    if (withSig)
      base.select(col(idCol), col("hs.h1s").as("bh"),
        call_function("graft_minhash_sig", col("hs")).as("sig"))
    else base.select(col(idCol), col("hs.h1s").as("bh"))
  }

  /** Exact-Jaccard verify terms for a band-candidate pair set: inter/uni
    * of the two shingle-h1 sets, payload attached via [[pairPayload]].
    */
  private[graft] def minhashVerify(cand: DataFrame, docs: DataFrame,
      idCol: String, textCol: String = "text"): DataFrame =
    pairPayload(cand, minhashPayload(docs, idCol, textCol, withSig = false), idCol)
      .withColumn("inter", size(array_intersect(col("bh_a"), col("bh_b"))).cast("long"))
      .withColumn("uni", size(array_union(col("bh_a"), col("bh_b"))).cast("long"))

  /** Hot-bucket cap (the stop-shingle guard): candidate cost of every
    * bucketed dedup is Σ bucket² — the ONLY unbounded term in the cost
    * model at 100 TB. A shingle like "of the and" can occur in 10⁷
    * documents of a web corpus; its bucket alone would dominate the
    * pipeline (and its collect_list buffer the executor heap). Keys whose
    * document frequency exceeds this cap are dropped BEFORE member
    * collection/pair expansion: such keys carry ~zero dedup signal (a
    * shared stop-shingle says nothing about document similarity) and real
    * near-dup pairs still collide on their many non-hot keys. Set well
    * above every testdata bucket (max 25 docs/shingle at sf0.1), so the
    * oracle-checked outputs are unchanged; the SQL oracles replay the same
    * cap, so outputs stay identical even if data ever crosses it.
    *
    * RECALL LOSS (explicit, ADVICE r4): a document whose ENTIRE key set is
    * hot — a pure-boilerplate page whose every shingle/band/chunk exceeds
    * the cap — cannot pair with anything after the guard. The mitigation
    * chain: byte-identical boilerplate is caught upstream by q_dedup_exact
    * (hash dedup has no cap); the shingle-jaccard path additionally routes
    * fully-hot docs through an exact SET-identity keeper pass
    * (the fully-hot rescue in pairCountsWithRescue — set-identical boilerplate groups surface
    * as jaccard-1.0 keeper pairs instead of vanishing); and q_dedup_near
    * scores the survivors over the RETAINED key universe (ns counts
    * post-cap shingles — see [[jaccardPairs]]), so docs that mix
    * boilerplate with real content keep full recall on their non-hot keys
    * instead of having the dead hot keys dilute their union term. What
    * remains invisible: fully-hot docs whose sets DIFFER (no retained
    * signal to score them by) — in the minhash/simhash band paths those
    * docs stay dropped entirely.
    */
  private[graft] val MaxBucketDf = 1000

  /** Drop rows of `ex` whose bucket key `keyCol` occurs more than `cap`
    * times: repartition by the key, count per key (no further exchange —
    * co-partitioned), then a BROADCAST anti-join of the few over-cap
    * keys. The repartition is the same shuffle the downstream
    * bucket-collect needs anyway (callers group by `keyCol`, and the
    * broadcast join preserves partitioning). The count branch does NOT
    * share it: column pruning narrows that branch to the key, so its
    * subtree differs from the collect's and the final plan re-derives
    * `ex` into a second, key-only exchange — one extra pass over the
    * exploded relation's keys.
    *
    * INVARIANT: `keyCol` (and every field of it, when it is a struct) must
    * be non-null. Spark's struct equality treats null fields as equal
    * while the oracle's NOT EXISTS equi-join never matches NULL, so a
    * null-keyed row would be dropped here but kept by the oracle. All
    * three callers guarantee it: shingle keys are explicitly
    * null-filtered after explode_outer, and band/chunk keys are built
    * from signatures of docs pre-filtered to ≥1 token / ≥3 tokens, whose
    * every struct field is a non-null arithmetic derivation.
    */
  private[graft] def dropHotBuckets(ex: DataFrame, keyCol: String, cap: Long): DataFrame = {
    val parted = ex.repartition(col(keyCol))
    val hot = parted.groupBy(col(keyCol)).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > cap).select(col(keyCol))
    parted.join(broadcast(hot), Seq(keyCol), "left_anti")
  }

  /** Ordered candidate pairs from a bucketed relation: `buckets` carries a
    * `members` array of structs with a `doc_id` field; each bucket row
    * expands to its (a, b) member pairs with a.doc_id < b.doc_id. Shared
    * by the shingle, MinHash-band and SimHash-chunk pipelines.
    */
  /** Connected components by min-label propagation WITH POINTER JUMPING
    * (r7, VERDICT #7 — "alternating min-label"): every round does the
    * plain edge relaxation (each node takes the min label over itself
    * and its neighbors) and then a label-to-label self-join that
    * replaces lbl(id) with min(lbl(id), lbl(lbl(id))). The jump halves
    * the depth of the label forest each round, so convergence is
    * O(log diameter) rounds instead of O(diameter) — a 1000-hop chain
    * (adversarial near-dup graphs: boilerplate chains, template
    * families) converges in ~12 rounds where plain propagation needs
    * 1000, the same round bound large-star/small-star contraction buys
    * (Kiveris et al., "Connected Components in MapReduce") without its
    * edge-rewrite bookkeeping. Per round: one edge join + one keyed min
    * + one label self-join, all on the id key; lineage cut per round by
    * an eager localCheckpoint so round N's plan does not replay rounds
    * 0..N-1. Correctness: labels only ever DECREASE and only ever to an
    * id inside the same component (a neighbor's label, or the label's
    * own label), so the unique fixpoint is the component minimum — the
    * jump changes the round count, never the answer.
    *
    * Each round costs its checkpoint jobs and nothing else: round 1's
    * relaxation comes straight from the edge list (every node's label
    * starts as itself), and each relaxation counts the labels it lowered
    * through `Dataset.observe` inside its own checkpoint job. A round
    * that lowers none is the fixpoint; the jump is not observed. A retried
    * task can only add to a count that is already nonzero, and the loop
    * tests only zero against nonzero, so a retry cannot end it early. The
    * loop fails loudly past `maxRounds` rather than returning a
    * half-propagated labeling.
    * DEPLOYMENT CAVEAT (unchanged from r5): localCheckpoint is
    * lineage-destroying and executor-loss-unsafe — a cluster deployment
    * swaps it for reliable checkpoint() on HDFS/object store.
    *
    * `edges` must carry (src, dst) in BOTH directions. Returns the
    * (id, lbl) labeling and the round count (exposed so the spec can
    * pin the logarithmic bound on a deep-path fixture).
    */
  private[graft] def minLabelComponents(
      edges: DataFrame, maxRounds: Int = 20): (DataFrame, Int) = {
    // one cut up front: the edge list feeds every round (and a caller's
    // un-materialized edge plan would otherwise replay per round)
    val e = edges.localCheckpoint(true)
    // checkpoint (id, lbl, nlbl) → (id, least(lbl, nlbl)); returns the
    // new labels and how many of them fell below lbl
    def relaxed(df: DataFrame): (DataFrame, Long) = {
      val obs = Observation()
      val out = df.observe(obs, count(when(col("nlbl") < col("lbl"), 1)).as("dropped"))
        .select(col("id"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      (out, obs.get("dropped").asInstanceOf[Long])
    }
    // round 1's relaxation: with every label still its own id, a node's
    // neighbor minimum is its own least dst
    var (labels, dropped) = relaxed(e.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("nlbl")).withColumn("lbl", col("id")))
    var rounds = 1
    while (dropped > 0 && rounds < maxRounds) {
      // pointer jump: follow the label one hop and keep the smaller.
      // Every lbl is itself a node id, so the left join misses only
      // when the labeled node has no row yet — coalesce keeps the
      // unjumped label in that (never-expected) case
      val jumped = labels.as("a")
        .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")).as("b"),
          col("a.lbl") === col("b.jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.lbl"), coalesce(col("jlbl"), col("a.lbl"))).as("lbl"))
        .localCheckpoint(true)
      // relaxation as aggregate-BEFORE-join (no self-union: the shuffle
      // into the left join carries one row per node, not one per edge —
      // and a Union over a checkpointed LogicalRDD trips Catalyst's
      // union-constraint rewrite on its preserved constraints, a
      // missing-attribute crash this shape sidesteps entirely)
      val nbrMin = e.join(jumped, e("src") === jumped("id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nlbl"))
      val (next, d) = relaxed(jumped.join(nbrMin, jumped("id") === nbrMin("dst"), "left")
        .select(jumped("id"), jumped("lbl"), col("nlbl")))
      labels = next
      dropped = d
      rounds += 1
    }
    require(dropped == 0, s"label propagation did not converge in $rounds rounds")
    (labels, rounds)
  }

  private def expandPairs(buckets: DataFrame): DataFrame =
    buckets
      .filter(size(col("members")) > 1)
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))

  /** exact Jaccard ≥ 0.5 pairs in one pass: explode shingles, bucket by
    * shingle, expand pairs inside each bucket, then count shared shingles
    * per pair — inter is exact because EVERY shared shingle contributes
    * one bucket co-occurrence.
    *
    * The Jaccard is scored over the RETAINED key universe: `ns` counts a
    * document's shingles that SURVIVE the hot-bucket guard, because
    * `inter` can only ever count surviving co-occurrences. Using the full
    * pre-cap set size would skew scores low for boilerplate-heavy docs —
    * the dropped hot keys would inflate the union term while being
    * structurally unable to contribute to the intersection (ADVICE r4).
    * Cost: one extra partial-agg shuffle (map-side collapse to ~one row
    * per (partition, doc)) plus two keyed joins that attach ns to the
    * OUTPUT-sized pair set — both O(docs), dwarfed by the shingle
    * explosion upstream at any scale.
    */
  private[graft] def pairCounts(sh: DataFrame, cap: Long = MaxBucketDf): DataFrame =
    pairCountsWithRescue(sh, cap)._1

  /** The shingle-bucket pair plan PLUS the fully-hot rescue, both carved
    * from ONE exploded relation so the expensive scan→shingle subtree is
    * never duplicated (see the fully-hot rescue's cost note below).
    */
  private def pairCountsWithRescue(sh: DataFrame, cap: Long): (DataFrame, DataFrame) = {
    // explode_outer, not explode: plain explode makes the optimizer push a
    // `size(arr)>0 AND isnotnull(arr)` guard all the way down to the scan,
    // where it re-evaluates the whole shingle construction per row in the
    // single scan task (seen in the physical plan as a Filter under the
    // spread Exchange). Shingle arrays are never empty (≥10 words/doc), so
    // the outer variant is semantically identical and skips the guard.
    //
    // dropHotBuckets is inlined here because the rescue needs the SAME
    // ex0/hot relations. ns, the buckets and the rescue read ex0's one
    // sg-keyed exchange; the hot count writes its own key-only copy (see
    // dropHotBuckets).
    val ex0 = sh.select(col("doc_id"),
        explode_outer(col("shingles")).as("sg"))
      // explode_outer emits one NULL row for an empty shingle set (a <3-token
      // doc); SQL's equi-join never matches NULL, so drop it to stay aligned
      // with the oracle. Sits above the Generate — no pushdown re-evaluation.
      .filter(col("sg").isNotNull)
      .repartition(col("sg"))
    val hot = ex0.groupBy(col("sg")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > cap).select(col("sg"))
    val ex = ex0.join(broadcast(hot), Seq("sg"), "left_anti")
    // retained-universe set size; shares ex's sg-partitioned exchange with
    // the bucket collect (ReuseExchange), then collapses map-side.
    val ns = ex.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val buckets = ex.groupBy("sg")
      .agg(collect_list(struct(col("doc_id"))).as("members"))
    // null-safe joins: da/db are never null (they come from a < b), and a
    // plain `=` would infer isnotnull(doc_id) down into ns's side only,
    // making its subtree differ from the buckets' and re-scanning the corpus
    def sizes(side: String) = ns.select(col("doc_id").as(s"i$side"), col("ns").as(s"n$side"))
    val counts = expandPairs(buckets)
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes("a"), col("da") <=> col("ia"))
      .join(sizes("b"), col("db") <=> col("ib"))
      .drop("ia", "ib")
    // fully-hot rescue: a doc with zero retained keys (absent from ns)
    // is fully hot, and its HOT rows in ex0 are exactly its whole
    // shingle set — so the set-identity key comes from the semi-join,
    // with no second pass over the corpus. Normally zero rows move.
    val keyed = ex0.join(broadcast(hot), Seq("sg"), "left_semi")
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("sg"))).as("sk"))
      .join(ns, Seq("doc_id"), "left_anti")
    val keepers = keyed.groupBy(col("sk")).agg(min(col("doc_id")).as("da"))
    val rescue = keyed.join(keepers, "sk")
      .filter(col("doc_id") > col("da"))
      .select(col("da"), col("doc_id").as("db"), lit(10000L).as("jacc_x1e4"))
    (counts, rescue)
  }

  /** FULLY-HOT doc rescue (VERDICT r5 #6 — the explicit routing of the
    * documented recall loss): a doc whose EVERY shingle exceeds the
    * hot-bucket cap has zero retained keys and is invisible to the
    * bucketed pair pass. Such docs are pure boilerplate; instead of
    * dropping them silently, route them through an EXACT set-identity
    * dedup — group by the full sorted distinct shingle set and emit
    * keeper pairs (min doc_id ↔ each other member) at jaccard 1.0 (the
    * sets are identical by construction, so the score is exact, not
    * estimated). KEEPER pairs, not all-pairs: a 10⁷-doc boilerplate
    * group emits O(group), never O(group²). Docs that are fully hot but
    * set-DISTINCT stay dropped — with every informative key capped there
    * is no signal left to score them, and that residual loss remains
    * documented at [[MaxBucketDf]]. Cost: ZERO extra passes over the
    * corpus — the rescue is carved from the main pass's own relations in
    * pairCountsWithRescue (its hot rows semi-joined from the one
    * exploded relation, fully-hot membership by anti-join against ns).
    * Two earlier formulations re-ran the scan→shingle subtree per union
    * branch because pushed-down projections made the copies canonically
    * distinct and killed exchange reuse (measured 2.3 s → 8+ s at
    * sf0.1); deriving from the shared exchange is the fix.
    */
  private[graft] def jaccardPairs(sh: DataFrame, cap: Long = MaxBucketDf): DataFrame = {
    val (counts, rescue) = pairCountsWithRescue(sh, cap)
    counts
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("uni"))
      .select(col("da"), col("db"),
        expr("CAST((inter * 10000L) div uni AS BIGINT)").as("jacc_x1e4"))
      .unionByName(rescue)
  }

  /** Containment-scored pairs from the same shingle-bucket counts:
    * inter / min(na, nb) ≥ 0.8. The inclusion-detection class Jaccard
    * structurally misses — a short doc quoted whole inside a long one has
    * jaccard ≈ ns_short/ns_long (arbitrarily low) but containment 1.0.
    * `contained` names the doc whose shingle set is the (weakly) smaller
    * side, ties to the lower id. Same plan shape and cost as jaccardPairs:
    * only the output-sized final projection differs.
    */
  private[graft] def containmentPairs(sh: DataFrame, cap: Long = MaxBucketDf): DataFrame =
    pairCounts(sh, cap)
      .withColumn("mn", least(col("na"), col("nb")))
      .filter(col("inter") * 10 >= col("mn") * 8)
      .select(col("da"), col("db"),
        expr("CAST((inter * 10000L) div mn AS BIGINT)").as("cont_x1e4"),
        when(col("na") <= col("nb"), col("da")).otherwise(col("db")).as("contained"))

  override def queries: Seq[Q] = Seq(

    // exact dedup: content hash + keeper rank. Emits one row per document
    // (rank 1 = keeper) so the operator is observable even in corpora with
    // no duplicates; at sf0.1 the 8 duplicated texts rank 2+.
    Q(
      "q_dedup_exact",
      """SELECT doc_id, md5(text) AS text_hash,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS BIGINT) AS dup_rank,
        |  (ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) AS is_keeper
        |FROM documents ORDER BY doc_id""",
    ) { (s, dir) =>
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("text_hash"))
        .withColumn("dup_rank", row_number().over(w).cast("long"))
        .withColumn("is_keeper", col("dup_rank") === 1)
        .orderBy("doc_id")
    },

    // n-gram (3-shingle) exact Jaccard near-dup pairs at ≥ 0.5 via the
    // shingle-bucket count plan above.
    Q(
      "q_dedup_near",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
        |      FROM d),
        |ex0 AS (SELECT doc_id, unnest(shs) AS sg FROM s),
        |hot AS (SELECT sg FROM ex0 GROUP BY sg HAVING COUNT(*) > $MaxBucketDf),
        |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.sg = ex0.sg)),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM ex GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |fh AS (SELECT doc_id, list_sort(shs) AS sk FROM s WHERE len(shs) > 0
        |       AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.doc_id = s.doc_id)),
        |fm AS (SELECT sk, MIN(doc_id) AS da FROM fh GROUP BY sk),
        |resc AS (SELECT fm.da, fh.doc_id AS db, CAST(10000 AS BIGINT) AS jacc_x1e4
        |         FROM fh JOIN fm ON fh.sk = fm.sk AND fh.doc_id > fm.da)
        |SELECT * FROM (
        |  SELECT da, db, CAST((inter * 10000) // (na.ns + nb.ns - inter) AS BIGINT) AS jacc_x1e4
        |  FROM p JOIN n na ON na.doc_id = da JOIN n nb ON nb.doc_id = db
        |  WHERE inter * 2 >= na.ns + nb.ns - inter
        |  UNION ALL SELECT da, db, jacc_x1e4 FROM resc)
        |ORDER BY da, db""",
    ) { (s, dir) =>
      orderedOutput(jaccardPairs(shingled(s, dir)), "da", "db")
    },

    // Containment near-dup (quote/boilerplate-inclusion detection): pairs
    // whose shared shingles cover ≥ 80% of the SMALLER shingle set. The
    // dedup class Jaccard misses by construction: a short doc reproduced
    // inside a long one scores jaccard ≈ short/long (below any threshold)
    // but containment 1.0. Same bucket-count plan as q_dedup_near — only
    // the output-sized final score differs.
    Q(
      "q_dedup_containment",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
        |      FROM d),
        |ex0 AS (SELECT doc_id, unnest(shs) AS sg FROM s),
        |hot AS (SELECT sg FROM ex0 GROUP BY sg HAVING COUNT(*) > $MaxBucketDf),
        |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.sg = ex0.sg)),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM ex GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT da, db,
        |  CAST((inter * 10000) // least(na.ns, nb.ns) AS BIGINT) AS cont_x1e4,
        |  CASE WHEN na.ns <= nb.ns THEN da ELSE db END AS contained
        |FROM p JOIN n na ON na.doc_id = da JOIN n nb ON nb.doc_id = db
        |WHERE inter * 10 >= least(na.ns, nb.ns) * 8
        |ORDER BY da, db""",
    ) { (s, dir) =>
      orderedOutput(containmentPairs(shingled(s, dir)), "da", "db")
    },

    // MinHash + LSH: 16 hash functions via Kirsch-Mitzenmacher double
    // hashing — ONE md5 per shingle yields h1 (hex 1-15) and h2 (hex
    // 16-30, reduced mod 2^56), and g_j = h1 + j·h2 gives the 16
    // signatures with plain arithmetic (max value 2^60 + 15·2^56 < 2^61:
    // no overflow in either engine; DuckDB would error on one, Spark
    // would wrap silently). 8 bands of 2 — the s-curve knee sits near
    // (1/b)^(1/r) ≈ 0.35, right for a 0.5-Jaccard dedup threshold, and
    // pairs at j ≥ 0.9 are missed with probability (1-j²)^8 < 2e-6.
    // Candidates agree on at least one band (the raw (sig, sig) pair is
    // the band key — no extra hash), verified with exact Jaccard ≥ 0.5
    // (row-local array_intersect on the collected h1 sets): probabilistic
    // recall, exact precision. The oracle replays the identical md5-based
    // signatures, so even the banding's recall misses reproduce exactly.
    Q(
      "q_dedup_minhash",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct(list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
         |      FROM d),
         |hh AS (SELECT doc_id, list_transform(list_transform(shs, x -> md5(x)), h -> struct_pack(
         |          h1 := CAST('0x' || substring(h, 1, 15) AS BIGINT),
         |          h2 := CAST('0x' || substring(h, 16, 15) AS BIGINT) % 72057594037927936)) AS hs
         |       FROM s),
         |sg AS (SELECT doc_id,
         |        list_transform(hs, p -> p.h1) AS bh,
         |        list_transform(range(0, 16), j -> list_min(list_transform(hs, p -> p.h1 + j * p.h2))) AS sig
         |      FROM hh),
         |ex0 AS (SELECT doc_id, band, sig[2*band+1] AS k1, sig[2*band+2] AS k2
         |       FROM (SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM sg)),
         |hot AS (SELECT band, k1, k2 FROM ex0 GROUP BY band, k1, k2 HAVING COUNT(*) > $MaxBucketDf),
         |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot
         |        WHERE hot.band = ex0.band AND hot.k1 = ex0.k1 AND hot.k2 = ex0.k2)),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM ex a JOIN ex b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
         |jc AS (SELECT da, db,
         |        CAST(len(list_intersect(x.bh, y.bh)) AS BIGINT) AS inter,
         |        CAST(len(list_distinct(x.bh || y.bh)) AS BIGINT) AS uni
         |      FROM cand JOIN sg x ON x.doc_id = da JOIN sg y ON y.doc_id = db)
         |SELECT da, db, CAST((inter * 10000) // uni AS BIGINT) AS jacc_x1e4
         |FROM jc WHERE inter * 2 >= uni
         |ORDER BY da, db""",
    ) { (s, dir) =>
      val docs = Tables.spread(Tables.documents(s, dir))
      // the band exchange carries (doc_id, bb) ONLY — the r12 shape
      // shuffled the bh verify payload 8× through this exchange
      // (88 MB → ~8 MB at sf0.1; guide §8: shuffle keys, not payloads).
      // group by the bucket STRUCT itself (not its fields): the grouping
      // then reuses dropHotBuckets' partitioning — zero extra exchange
      val buckets = dropHotBuckets(
          minhashBandKeys(minhashDocs(docs, "doc_id"), "doc_id"), "bb", MaxBucketDf)
        .groupBy(col("bb"))
        .agg(collect_list(struct(col("doc_id"))).as("members"))
      val cand = expandPairs(buckets)
        // same pair can collide in several bands — keep one copy
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      orderedOutput(
        minhashVerify(cand, docs, "doc_id")
          .filter(col("inter") * 2 >= col("uni"))
          .select(col("da"), col("db"),
            expr("CAST((inter * 10000L) div uni AS BIGINT)").as("jacc_x1e4")),
        "da", "db")
    },

    // MinHash estimator CALIBRATION (r10) — the eval pass a production
    // dedup pipeline ships next to its sketch: on every LSH candidate
    // pair (no jaccard cutoff — the full estimator range matters),
    // compare the SIGNATURE-estimated similarity (matching positions of
    // the 16 minhashes, an unbiased Jaccard estimator in steps of 1/16)
    // against the EXACT shingle Jaccard, bucketed by the estimate:
    // per-bucket pair count, mean exact Jaccard, and mean |error|. A
    // healthy sketch shows mean_jacc tracking est16·625 within the
    // binomial noise band; drift flags a broken hash family or banding
    // before it silently eats recall. On this corpus the pass EXPOSES the
    // documented Kirsch-Mitzenmacher weakness: for SMALL shingle sets,
    // when one doc's minimal h1 also minimizes every g_j = h1 + j·h2,
    // two docs sharing just that one shingle match many/all positions —
    // mid-range est16 buckets carry near-zero true Jaccard. Harmless for
    // dedup (the exact-Jaccard verify discards them — precision is
    // exact), but exactly the estimator-health signal this query exists
    // to surface, measured instead of assumed. All-integer (est·625 is exact:
    // 10000/16), same construction as q_dedup_minhash via the SHARED
    // minhashDocs/minhashBandKeys — the estimator audited is bit-for-bit the one
    // deployed. Scale: identical candidate plan to q_dedup_minhash
    // (bucket-keyed, MaxBucketDf-capped, never all-pairs); the
    // calibration rollup adds one pair-sized aggregation grouped on 17
    // possible keys.
    Q(
      "q_dedup_minhash_recall",
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id,
         |        list_distinct(list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
         |      FROM d),
         |hh AS (SELECT doc_id, list_transform(list_transform(shs, x -> md5(x)), h -> struct_pack(
         |          h1 := CAST('0x' || substring(h, 1, 15) AS BIGINT),
         |          h2 := CAST('0x' || substring(h, 16, 15) AS BIGINT) % 72057594037927936)) AS hs
         |       FROM s),
         |sg AS (SELECT doc_id,
         |        list_transform(hs, p -> p.h1) AS bh,
         |        list_transform(range(0, 16), j -> list_min(list_transform(hs, p -> p.h1 + j * p.h2))) AS sig
         |      FROM hh),
         |ex0 AS (SELECT doc_id, band, sig[2*band+1] AS k1, sig[2*band+2] AS k2
         |       FROM (SELECT doc_id, sig, unnest(range(0, 8)) AS band FROM sg)),
         |hot AS (SELECT band, k1, k2 FROM ex0 GROUP BY band, k1, k2 HAVING COUNT(*) > $MaxBucketDf),
         |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot
         |        WHERE hot.band = ex0.band AND hot.k1 = ex0.k1 AND hot.k2 = ex0.k2)),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |         FROM ex a JOIN ex b ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
         |jc AS (SELECT da, db,
         |        CAST(len(list_filter(range(0, 16), j -> x.sig[j+1] = y.sig[j+1])) AS BIGINT) AS est,
         |        CAST(len(list_intersect(x.bh, y.bh)) AS BIGINT) AS inter,
         |        CAST(len(list_distinct(x.bh || y.bh)) AS BIGINT) AS uni
         |      FROM cand JOIN sg x ON x.doc_id = da JOIN sg y ON y.doc_id = db)
         |SELECT est AS est16, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM((inter * 10000) // uni) // COUNT(*) AS BIGINT) AS mean_jacc_x1e4,
         |  CAST(SUM(abs(est * 625 - (inter * 10000) // uni)) // COUNT(*) AS BIGINT) AS mean_err_x1e4
         |FROM jc GROUP BY est ORDER BY est16""",
    ) { (s, dir) =>
      // same §8 decoupling as q_dedup_minhash; the estimator audit
      // additionally attaches the 16-signature array per pair side —
      // still ONE payload evaluation via pairPayload
      val docs = Tables.spread(Tables.documents(s, dir))
      val buckets = dropHotBuckets(
          minhashBandKeys(minhashDocs(docs, "doc_id"), "doc_id"), "bb", MaxBucketDf)
        .groupBy(col("bb"))
        .agg(collect_list(struct(col("doc_id"))).as("members"))
      val cand = expandPairs(buckets)
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      pairPayload(cand, minhashPayload(docs, "doc_id", "text", withSig = true), "doc_id")
        .withColumn("est16",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)).cast("long"))
        .withColumn("inter", size(array_intersect(col("bh_a"), col("bh_b"))).cast("long"))
        .withColumn("uni", size(array_union(col("bh_a"), col("bh_b"))).cast("long"))
        .withColumn("jacc_x1e4", expr("(inter * 10000L) div uni"))
        .withColumn("err", abs(col("est16") * 625 - col("jacc_x1e4")))
        .groupBy("est16")
        .agg(count(lit(1)).as("n_pairs"), sum("jacc_x1e4").as("sj"), sum("err").as("se"))
        .select(col("est16"), col("n_pairs"),
          expr("CAST(sj div n_pairs AS BIGINT)").as("mean_jacc_x1e4"),
          expr("CAST(se div n_pairs AS BIGINT)").as("mean_err_x1e4"))
        .orderBy("est16")
    },

    // duplicate CLUSTERING — the step after pair generation that corpus
    // dedup actually ships: connected components over the near-dup pair
    // graph, one keeper per component (min doc_id). Spark side:
    // minLabelComponents — min-label propagation with pointer jumping,
    // O(log diameter) rounds (see the helper's doc for the full round/
    // correctness/deployment reasoning; the expensive shingle pipeline
    // still runs ONCE, checkpointed, not once per round). Oracle: DuckDB
    // computes the identical closure with a recursive CTE.
    Q(
      "q_dedup_cluster",
      s"""WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        list_distinct(list_transform(range(0, len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS shs
        |      FROM d),
        |ex0 AS (SELECT doc_id, unnest(shs) AS sg FROM s),
        |hot AS (SELECT sg FROM ex0 GROUP BY sg HAVING COUNT(*) > $MaxBucketDf),
        |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.sg = ex0.sg)),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS ns FROM ex GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        |      FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |fh AS (SELECT doc_id, list_sort(shs) AS sk FROM s WHERE len(shs) > 0
        |       AND NOT EXISTS (SELECT 1 FROM ex WHERE ex.doc_id = s.doc_id)),
        |fm AS (SELECT sk, MIN(doc_id) AS da FROM fh GROUP BY sk),
        |pr AS (SELECT da, db
        |       FROM p JOIN n na ON na.doc_id = da JOIN n nb ON nb.doc_id = db
        |       WHERE inter * 2 >= na.ns + nb.ns - inter
        |       UNION ALL
        |       SELECT fm.da, fh.doc_id AS db
        |       FROM fh JOIN fm ON fh.sk = fm.sk AND fh.doc_id > fm.da),
        |e AS (SELECT da AS src, db AS dst FROM pr UNION ALL SELECT db, da FROM pr),
        |nd AS (SELECT DISTINCT src AS id FROM e),
        |r AS (SELECT id, id AS lbl FROM nd
        |      UNION
        |      SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id)
        |SELECT id AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id,
        |       (MIN(lbl) = id) AS is_keeper
        |FROM r GROUP BY id ORDER BY doc_id""",
    ) { (s, dir) =>
      // both edge directions from ONE projection of the pair set (a union
      // of two projections aggregates the pair exchange once per branch);
      // the helper checkpoints the edge list itself, so the shingle
      // pipeline above runs once, not once per round
      val edges = jaccardPairs(shingled(s, dir)).select(inline(array(
        struct(col("da").as("src"), col("db").as("dst")),
        struct(col("db").as("src"), col("da").as("dst")))))
      val (labels, _) = minLabelComponents(edges)
      labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("lbl") === col("id")).as("is_keeper"))
        .orderBy("doc_id")
    },

    // SimHash: 60-bit signature from per-token md5-h60 votes; candidate
    // pairs share at least one of four 15-bit chunks (guaranteed complete
    // for hamming ≤ 3, best-effort beyond); emitted with exact hamming
    // distance ≤ 8. Chunks explode from one projection of the signature.
    // The oracle replays the identical hash → identical signatures,
    // chunk buckets, and pairs.
    Q(
      "q_dedup_simhash",
      s"""WITH d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |t AS (SELECT doc_id, ${h60Sql("tok")} AS th FROM d),
         |v AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         |        ${(0 until 60).map(i => s"CAST(SUM((th >> $i) & 1) AS BIGINT) AS b$i").mkString(", ")}
         |      FROM t GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST(${(0 until 60).map(i => s"(CASE WHEN 2*b$i > n THEN ${1L << i} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS sh
         |       FROM v),
         |ex0 AS (SELECT doc_id, sh, c, (sh >> CAST(c*15 AS INT)) & 32767 AS ck
         |       FROM (SELECT doc_id, sh, unnest(range(0, 4)) AS c FROM sh)),
         |hot AS (SELECT c, ck FROM ex0 GROUP BY c, ck HAVING COUNT(*) > $MaxBucketDf),
         |ex AS (SELECT * FROM ex0 WHERE NOT EXISTS (SELECT 1 FROM hot
         |        WHERE hot.c = ex0.c AND hot.ck = ex0.ck)),
         |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.sh AS sha, b.sh AS shb
         |         FROM ex a JOIN ex b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
         |SELECT da, db, CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sha, shb)) <= 8
         |ORDER BY da, db""",
    ) { (s, dir) =>
      // token multiset votes: bit i of simhash = sign of Σ_instances (±1).
      // Voting per token INSTANCE equals voting per distinct token weighted
      // by count, so no (doc, tok) pre-aggregation — one shuffle, not two.
      // The ±1 vote sum is derived, not aggregated: with b_i = Σ bit_i and
      // n = token count, Σ(±1) = 2·b_i − n. The 60 per-bit counters are
      // SIMD-in-a-register packed, 4 16-bit lanes per long (bit g+15·l in
      // lane l of packed counter g): 16 aggregate buffers instead of 61,
      // which keeps the generated HashAggregate small enough to compile
      // fast — the bench runs every query cold, so janino compile time IS
      // query time. Lane 3 (shift 48) bounds tokens/doc at 32767 before
      // signed-long overflow; documents carry ≲2k tokens at every sf.
      val tokens = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), explode_outer(split(col("text"), " ")).as("tok"))
        // graft_h60 = the digest-byte twin of the md5→hex→CONV h60 chain
        // (bit-identical; NativeFnSpec pins it). At one call per token
        // INSTANCE the hex form allocated 3 strings per token — the
        // r12 driver run's 32-core GC pathology lived exactly here.
        .withColumn("th", call_function("graft_h60", col("tok")))
      val packedSums = (0 until 15).map { g =>
        val lanes = (0 until 4)
          .map(l => s"(((th >> ${g + 15 * l}) & 1) << ${16 * l})")
          .mkString(" | ")
        sum(expr(lanes)).as(s"p$g")
      } :+ count(lit(1)).as("n")
      val voted = tokens.groupBy("doc_id").agg(packedSums.head, packedSums.tail: _*)
      val simhash = (0 until 60).map { i =>
        val (g, l) = (i % 15, i / 15)
        val b = expr(s"(p$g >> ${16 * l}) & 65535")
        when(b * 2 > col("n"), lit(1L << i)).otherwise(0L)
      }.reduce(_ + _) // deterministic: plain long addition of disjoint bits
      val sig = voted.select(col("doc_id"), simhash.as("sh"))
      val chunked = sig.select(col("doc_id"), col("sh"),
        explode_outer(expr( // outer: skip the pushed-down non-empty guard
          "transform(sequence(0, 3), c -> named_struct('chunk', c, 'ckey', (sh >> (c * 15)) & 32767))"))
          .as("cc"))
      // struct grouping reuses the guard's partitioning (no extra exchange)
      val buckets = dropHotBuckets(chunked, "cc", MaxBucketDf)
        .groupBy(col("cc"))
        .agg(collect_list(struct(col("doc_id"), col("sh"))).as("members"))
      orderedOutput(
        expandPairs(buckets)
          .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .agg(first(col("a.sh")).as("sha"), first(col("b.sh")).as("shb"))
          .withColumn("hamming", bit_count(expr("sha ^ shb")).cast("long"))
          .filter(col("hamming") <= 8)
          .select(col("da"), col("db"), col("hamming")),
        "da", "db")
    },

    // repeated-SUBSTRING marking (the ExactSubstr pass of "Deduplicating
    // Training Data Makes Language Models Better", Lee et al. 2022): any
    // 8-token window that occurs more than once ANYWHERE in the corpus
    // marks its span, and a document whose marked spans cover at least
    // half its tokens is flagged for dropping. This is a different axis
    // from the pair-based near-dups above — no candidate pairs exist at
    // all; duplication is detected per WINDOW, so boilerplate shared
    // across thousands of otherwise-distinct documents (license headers,
    // navigation chrome) is caught even though no document PAIR clears a
    // Jaccard threshold. Plan: one exchange on the 60-bit window hash
    // (explicit repartition reused by the count window — occurrences stay
    // ROWS, so a corpus-wide boilerplate gram sorts/spills inside its
    // partition instead of materializing one giant collect_list array),
    // then a doc-keyed rollup and one doc-level join. At 100 TB every
    // stage is a keyed shuffle; the only skew risk is a pathological
    // ultra-hot gram, which the sort-based window absorbs by spilling
    // (and AQE splits on the doc-side join). Window-hash collisions are
    // harmless for correctness here because the oracle replays the
    // identical md5-derived hash — both engines see the same buckets.
    Q(
      "q_dedup_substring",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |g0 AS (SELECT doc_id, w, unnest(range(0, len(w) - 7)) AS i FROM t),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |        ${h60Sql("array_to_string(list_slice(w, i + 1, i + 8), ' ')")} AS gh
         |      FROM g0),
         |rep AS (SELECT doc_id, pos
         |        FROM (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS df FROM g)
         |        WHERE df >= 2),
         |per AS (SELECT doc_id AS pdoc, COUNT(DISTINCT pos) AS dup_windows,
         |          COUNT(DISTINCT pos + off) AS covered_tokens
         |        FROM rep, range(0, 8) o(off) GROUP BY doc_id)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(greatest(len(w) - 7, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(dup_windows, 0) AS BIGINT) AS dup_windows,
         |  CAST(COALESCE(covered_tokens, 0) AS BIGINT) AS covered_tokens,
         |  CAST(COALESCE(covered_tokens, 0) * 2 >= len(w) AS BIGINT) AS drop_doc
         |FROM t LEFT JOIN per ON t.doc_id = per.pdoc
         |ORDER BY doc_id""",
    ) { (s, dir) =>
      val k = 8
      val docs = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
      // guard BEFORE sequence(): Spark's sequence(0, n) with n < 0 counts
      // DOWN (DuckDB's range() is empty there), so short docs must never
      // reach the window generator
      val grams = docs.filter(size(col("w")) >= k)
        .select(col("doc_id"),
          // graft_gram_h60 = the one-pass native twin of
          // transform(sequence(0, size(w)-k), i -> h60(concat_ws(' ',
          // slice(w, i+1, k)))) — the HOF copied a k-element array per
          // window (slice) and paid the md5-hex/CONV garbage per window
          posexplode(expr(s"graft_gram_h60(w, $k)"))
            .as(Seq("pos", "gh")))
      // shared exchange: the explicit gh repartition is exactly the
      // distribution the count window needs, so Spark adds only a local
      // sort — one shuffle total for corpus-wide window frequencies
      val marked = grams
        .repartition(col("gh"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy("gh")))
        .filter(col("df") >= 2)
      val per = marked
        .select(col("doc_id"), col("pos"),
          explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tok"))
        .groupBy("doc_id")
        .agg(countDistinct(col("pos")).as("dw"),
          countDistinct(col("tok")).as("ct"))
      docs
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          greatest(size(col("w")) - lit(k - 1), lit(0)).cast("long").as("n_windows"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_windows"),
          coalesce(col("dw"), lit(0L)).cast("long").as("dup_windows"),
          coalesce(col("ct"), lit(0L)).cast("long").as("covered_tokens"),
          (coalesce(col("ct"), lit(0L)) * 2 >= col("n_tokens")).cast("long").as("drop_doc"))
        .orderBy("doc_id")
    },

    // LINE-level boilerplate removal with order-preserving REASSEMBLY
    // (r7 — the CCNet/RefinedWeb line-dedup pass): the corpus is cut
    // into fixed 10-token "lines", any line occurring in MORE THAN TWO
    // distinct documents is boilerplate (headers, chrome, templates) and
    // is REMOVED from every document, and each document's surviving
    // lines are stitched back together in original order — the output is
    // the cleaned corpus, not just a flag. This differs from
    // q_dedup_substring (which MARKS duplicated windows and flags docs)
    // exactly where production pipelines differ: line dedup rewrites the
    // text and keeps the doc. Plan: line explode → one line-keyed
    // distinct-doc count (partial-aggregated), the hot-line set (tiny —
    // boilerplate by definition concentrates) broadcasts back as a
    // left-anti-style flag join, then ONE doc-keyed rollup rebuilds the
    // text via sort_array(collect_list(struct(pos, line))) — per-doc
    // arrays, bounded by document length, never corpus-sized. At 100 TB
    // swap the broadcast for a regular join if the hot set ever outgrows
    // the driver (the plan is otherwise unchanged). Output ships the
    // cleaned text as its md5 (hash-stable, size-bounded) + exact
    // kept/dropped counts.
    Q(
      "q_dedup_lines",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        array_to_string(w[i*10+1 : i*10+10], ' ') AS line
        |      FROM d, unnest(range(0, CAST(ceil(len(w)/10.0) AS BIGINT))) t(i)),
        |hot AS (SELECT line FROM c GROUP BY line HAVING COUNT(DISTINCT doc_id) > 2),
        |k AS (SELECT c.*, NOT EXISTS(SELECT 1 FROM hot WHERE hot.line = c.line) AS keep
        |      FROM c)
        |SELECT doc_id,
        |  CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        |  CAST(COUNT(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped,
        |  md5(COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep), ''))
        |    AS clean_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""",
    ) { (s, dir) =>
      val d = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) > 0) // sequence(0, -1) would count DOWN
      val lines = d.select(col("doc_id"),
        // graft_lines = the one-pass native twin of
        // transform(sequence(0, ceil(size(w)/10)-1),
        //   i -> array_join(slice(w, i*10+1, 10), ' ')) — the HOF copied
        // a 10-element slice array per line (NativeFnSpec pins parity)
        posexplode(expr("graft_lines(w, 10)")).as(Seq("pos", "line")))
      val hot = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 2)
        .select(col("line"), lit(true).as("_hot"))
      lines.join(broadcast(hot), Seq("line"), "left")
        .withColumn("keep", col("_hot").isNull)
        .groupBy("doc_id")
        .agg(
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
          md5(array_join(
            expr("transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, line) END)), x -> x.line)"),
            " ")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // Cross-source duplication CONTINGENCY (r8) — the dedup AUDIT: which
    // sources share content with which (crawl mirroring a curated dump,
    // two crawls overlapping), counted as distinct shared contents per
    // unordered source pair, plus the diagonal (contents duplicated
    // WITHIN one source). This is the report a curation team reads
    // before choosing the q_mix_dedup_priority policy. The oracle
    // self-joins per-content source sets (n² per content); the Spark
    // side never self-joins: ONE content-keyed aggregation collects each
    // content's tiny per-source count list (bounded by #sources), pairs
    // come from an aggregate-sized slice/transform expansion, and the
    // diagonal falls out of the same pass (c ≥ 2). Scale: one keyed
    // shuffle of pre-combined (content, source) rows; the pair explode
    // is per-content O(#sources²) with #sources small and fixed —
    // nothing grows with corpus size except the one partial-agg'd
    // exchange.
    Q(
      "q_dedup_cross_source",
      """WITH cs AS (SELECT md5(substr(text, 1, 256)) AS k, source, COUNT(*) AS c
        |    FROM documents GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.source AS source_a, b.source AS source_b
        |  FROM cs a JOIN cs b ON a.k = b.k AND a.source < b.source
        |  UNION ALL
        |  SELECT source, source FROM cs WHERE c >= 2)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""",
    ) { (s, dir) =>
      val cs = Tables.spread(Tables.documents(s, dir))
        .select(md5(substring(col("text"), 1, 256)).as("k"), col("source"))
        .groupBy("k", "source").agg(count(lit(1)).as("c"))
      val perK = cs.groupBy("k").agg(
        sort_array(collect_list(struct(col("source"), col("c")))).as("arr"))
      perK.select(explode(expr(
          """concat(
            |  flatten(transform(arr, (x, i) ->
            |    transform(slice(arr, i + 2, size(arr)),
            |      y -> struct(x.source AS source_a, y.source AS source_b)))),
            |  transform(filter(arr, x -> x.c >= 2),
            |    x -> struct(x.source AS source_a, x.source AS source_b)))""".stripMargin))
          .as("p"))
        .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
        .agg(count(lit(1)).cast("long").as("n_shared"))
        .orderBy("source_a", "source_b")
    },
  )
}
