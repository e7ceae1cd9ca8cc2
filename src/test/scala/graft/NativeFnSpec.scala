package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity pins for the r12 native expressions: each must be bit-identical
  * to the interpreted HOF pipeline it replaced, on REAL corpus text
  * (punctuation, unicode, empty tokens from double spaces included) plus
  * edge shapes (under-3-token docs). A native twin that drifts from its
  * HOF silently changes dedup candidates — these pins make that a test
  * failure instead of an oracle surprise.
  */
class NativeFnSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def corpus = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(spark.createDataFrame(Seq(
        (100001L, ""), (100002L, "one"), (100003L, "two words"),
        (100004L, "exactly three words"), (100005L, "a  b   c d"),
        (100006L, "rep rep rep rep rep")))
        .toDF("doc_id", "text"))
      .withColumn("w", split(col("text"), " "))
  }

  test("graft_shingles equals the xxhash64-over-trigrams HOF") {
    val hof = expr(
      s"transform(${graft.queries.DedupQueries.trigramsExpr}, x -> xxhash64(x))")
    val diff = corpus
      .select(col("doc_id"), expr("graft_shingles(w)").as("native"), hof.as("hofv"))
      .filter(not(col("native") <=> col("hofv")))
      .count()
    assert(diff == 0L)
  }

  test("graft_minhash_hs equals the md5-hex CONV HOF") {
    val hof = expr(
      s"""transform(transform(${graft.queries.DedupQueries.trigramsExpr}, x -> md5(x)),
         |  h -> named_struct('h1', CAST(CONV(substring(h, 1, 15), 16, 10) AS BIGINT),
         |    'h2', CAST(CONV(substring(h, 16, 15), 16, 10) AS BIGINT) % 72057594037927936L))""".stripMargin)
    // struct-of-arrays return (r13): pair i of the native form is
    // (h1s[i], h2s[i]) — compare each lane against the HOF's struct array
    val diff = corpus
      .select(col("doc_id"), expr("graft_minhash_hs(w)").as("native"), hof.as("hofv"))
      .filter(
        to_json(col("native.h1s")) =!= to_json(expr("transform(hofv, p -> p.h1)")) ||
        to_json(col("native.h2s")) =!= to_json(expr("transform(hofv, p -> p.h2)")))
      .count()
    assert(diff == 0L)
  }

  test("graft_h60 equals the md5-hex CONV h60 chain per token") {
    val diff = corpus
      .select(explode(col("w")).as("tok"))
      .select(call_function("graft_h60", col("tok")).as("native"),
        expr(graft.queries.DedupQueries.h60("tok")).as("hofv"))
      .filter(not(col("native") <=> col("hofv")))
      .count()
    assert(diff == 0L)
  }

  test("graft_gram_h60 equals the h60-over-sliced-windows HOF") {
    for (k <- Seq(1, 2, 8)) {
      val hof = expr(
        s"""transform(sequence(0, size(w) - $k),
           |  i -> ${graft.queries.DedupQueries.h60(s"concat_ws(' ', slice(w, i + 1, $k))")})""".stripMargin)
      val diff = corpus
        .filter(size(col("w")) >= k) // the HOF's sequence() descends below k
        .select(col("doc_id"), expr(s"graft_gram_h60(w, $k)").as("native"), hof.as("hofv"))
        .filter(to_json(col("native")) =!= to_json(col("hofv")))
        .count()
      assert(diff == 0L, s"k=$k")
    }
    // under k tokens the native form is EMPTY (the oracles' empty range)
    val short = corpus.filter(size(col("w")) < 8)
      .select(expr("graft_gram_h60(w, 8)").as("native"))
      .filter(size(col("native")) =!= 0).count()
    assert(short == 0L)
  }

  test("graft_char_ngrams equals the substring-per-position HOF") {
    for (n <- Seq(1, 3)) {
      val hof = expr(
        s"transform(sequence(1, length(text) - ${n - 1}), i -> substring(text, i, $n))")
      val diff = Tables.documents(spark, dir)
        .select(col("text"))
        .unionByName(spark.createDataFrame(Seq(
          Tuple1("abc"), Tuple1("ab"), Tuple1("héllo wörld"), Tuple1("日本語テキスト")))
          .toDF("text"))
        .filter(length(col("text")) >= n)
        .select(expr(s"graft_char_ngrams(text, $n)").as("native"), hof.as("hofv"))
        .filter(to_json(col("native")) =!= to_json(col("hofv")))
        .count()
      assert(diff == 0L, s"n=$n")
    }
    // under n chars the native form is EMPTY (callers filter, oracle range())
    val short = spark.createDataFrame(Seq(Tuple1("ab"), Tuple1("")))
      .toDF("text")
      .select(expr("graft_char_ngrams(text, 3)").as("native"))
      .filter(size(col("native")) =!= 0).count()
    assert(short == 0L)
  }

  test("graft_lines equals the array_join-over-slice HOF") {
    val hof = expr(
      """transform(sequence(0, CAST(ceil(size(w)/10.0) AS INT) - 1),
        |  i -> array_join(slice(w, i*10+1, 10), ' '))""".stripMargin)
    val diff = corpus
      .filter(size(col("w")) > 0) // the HOF's sequence() descends on empty
      .select(col("doc_id"), expr("graft_lines(w, 10)").as("native"), hof.as("hofv"))
      .filter(to_json(col("native")) =!= to_json(col("hofv")))
      .count()
    assert(diff == 0L)
  }

  test("graft_word_grams equals the concat_ws-over-slice HOF") {
    for (k <- Seq(1, 2, 8)) {
      val hof = expr(
        s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', slice(w, i + 1, $k)))")
      val diff = corpus
        .filter(size(col("w")) >= k)
        .select(col("doc_id"), expr(s"graft_word_grams(w, $k)").as("native"), hof.as("hofv"))
        .filter(to_json(col("native")) =!= to_json(col("hofv")))
        .count()
      assert(diff == 0L, s"k=$k")
    }
    val short = corpus.filter(size(col("w")) < 2)
      .select(expr("graft_word_grams(w, 2)").as("native"))
      .filter(size(col("native")) =!= 0).count()
    assert(short == 0L)
  }

  test("graft_packed_pairs equals the flatten/transform/slice HOF") {
    // pack 32-bit-domain values like the call site does (customer keys):
    // the HOF's ANSI multiply overflows on full 64-bit hashes, a domain
    // the query never feeds it
    val base = corpus
      .select(expr("transform(graft_shingles(w), x -> pmod(x, 1000000L))").as("cs0"))
      .select(expr("sort_array(cs0)").as("cs"))
    val hof = expr(
      """flatten(transform(cs, (x, i) ->
        |  transform(slice(cs, i + 2, size(cs)),
        |    y -> x * 4294967296L + y)))""".stripMargin)
    val diff = base
      .select(expr("graft_packed_pairs(cs)").as("native"), hof.as("hofv"))
      .filter(not(col("native") <=> col("hofv")))
      .count()
    assert(diff == 0L)
  }

  test("graft_packed_pairs counts pairs in Long up to its guard") {
    // n = 46342 is the first length whose Int product n*(n-1) wraps
    // negative; the output array itself (8.6 GB) is too big to build here
    assert(graft.functions.PairKernel.pairCount(46342) == 1073767311)
    assert(graft.functions.PairKernel.pairCount(65536) == 2147450880)
    assert(graft.functions.PairKernel.pairCount(0) == 0)
    intercept[IllegalArgumentException](graft.functions.PairKernel.pairCount(65537))
  }

  test("graft_minhash_sig skips null hash elements like its zip_with/array_min HOF") {
    // a nullable element type (any parquet round trip yields one) is
    // accepted; a pair with a null half contributes nothing, and a
    // document with no contributing pair reads 16 nulls
    val hof = "transform(sequence(0, 15), j -> " +
      "array_min(zip_with(hs.h1s, hs.h2s, (a, b) -> a + j * b)))"
    val df = spark.createDataFrame(Seq[(Seq[Option[Long]], Seq[Option[Long]])](
      (Seq(Some(5L), None, Some(3L)), Seq(Some(1L), Some(9L), Some(4L))),
      (Seq(Some(7L), Some(2L)), Seq(None, Some(6L))),
      (Seq(None), Seq(Some(1L))),
      (Seq(Some(1L), Some(8L)), Seq(Some(2L)))))
      .toDF("a", "b")
      .select(struct(col("a").as("h1s"), col("b").as("h2s")).as("hs"))
    val rows = df.select(
      call_function("graft_minhash_sig", col("hs")).as("native"), expr(hof).as("hofv"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Any](0) == r.getSeq[Any](1)))
    assert(rows(0).getSeq[Any](0).head == 3L)
    assert(rows(2).getSeq[Any](0).forall(_ == null))
  }

  test("the extensions and register paths expose exactly the one function table") {
    import org.apache.spark.sql.SparkSession
    import graft.functions.{GraftExtensions, GraftFunctions}
    val names = GraftFunctions.table.map(_._1.funcName).toSet
    assert(names.size == GraftFunctions.table.size)
    def graftFns(s: SparkSession): Set[String] = s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    val shared = spark // the fixture's context, which the new session reuses
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).create()
      finally { SparkSession.setActiveSession(shared); SparkSession.setDefaultSession(shared) }
    // every session of this context also gets the extensions from its
    // conf, so the register path starts from a session stripped of them
    val reg = ext.newSession()
    GraftFunctions.table.foreach(f => reg.sessionState.functionRegistry.dropFunction(f._1))
    assert(graftFns(reg).isEmpty)
    GraftFunctions.register(reg)
    Seq("extensions" -> ext, "register" -> reg).foreach { case (path, s) =>
      assert(graftFns(s) == names, path)
      GraftFunctions.table.foreach { case (id, info, _) =>
        assert(s.sessionState.catalog.lookupFunctionInfo(id).getClassName == info.getClassName,
          s"$path: ${id.funcName}")
      }
      assert(s.sql("SELECT graft_vecdot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
        .head().getDouble(0) == 11.0, path)
    }
  }
}
