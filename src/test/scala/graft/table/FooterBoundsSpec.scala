package graft.table

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSessionFixture
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Per-file stats read from parquet footers ([[Footers]]) against the
  * reference they replaced: a min/max aggregate over the files grouped by
  * input_file_name(), rendered the same way (six decimals rounded outward
  * for numerics, the raw string for STRING, no entry for a null, NaN or
  * infinite bound). Files are written by Spark from seeded fuzz.
  */
class FooterBoundsSpec extends AnyFunSuite {
  import SparkSessionFixture.spark

  private val schema = StructType(Seq(
    StructField("b", ByteType), StructField("sh", ShortType),
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("f", FloatType), StructField("d", DoubleType),
    StructField("dl", DecimalType(10, 2)), StructField("dw", DecimalType(30, 4)),
    StructField("s", StringType), StructField("n", IntegerType)))
  private val statsCols = schema.fieldNames.toSeq

  /** the stats aggregate: per-file bounds from one Spark job */
  private def aggregateStats(files: Seq[String]): Map[String, Map[String, (String, String)]] = {
    val df0 = spark.read.schema(schema).parquet(files: _*)
    val strCols = statsCols.filter(c => df0.schema(c).dataType == StringType).toSet
    val aggs = statsCols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    def render(c: String, v: Any, mode: java.math.RoundingMode): Option[String] =
      if (strCols(c)) Some(v.toString)
      else (v match {
        case d: java.math.BigDecimal => Some(d)
        case d: Double => Option.when(!d.isNaN && !d.isInfinite)(new java.math.BigDecimal(d))
        case f: Float => Option.when(!f.isNaN && !f.isInfinite)(new java.math.BigDecimal(f.toDouble))
        case n: Number => Some(java.math.BigDecimal.valueOf(n.longValue))
      }).map(_.setScale(6, mode).toPlainString)
    df0.groupBy(input_file_name().as("_f")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      Paths.get(new java.net.URI(r.getString(0)).getPath).toString ->
        statsCols.zipWithIndex.flatMap { case (c, i) =>
          if (r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i)) None
          else for {
            mn <- render(c, r.get(1 + 2 * i), java.math.RoundingMode.FLOOR)
            mx <- render(c, r.get(2 + 2 * i), java.math.RoundingMode.CEILING)
          } yield c -> (mn, mx)
        }.toMap
    }.toMap
  }

  // U+F000 sorts before U+1F600 in UTF-8 and code-point order, after it in UTF-16
  private val strings = Seq("", "a", "ab", "z", "\u00e9", "\uF000", "\uD83D\uDE00", "~")
  private val doubles = Seq(0.0, -0.0, 1.5, -2.25, 1e300, -1e-300, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NaN)

  /** a row of fuzz, about one value in eight null; `special` lets ±Inf,
    * NaN and -0.0 into the float columns
    */
  private def fuzzRow(r: Random, special: Boolean): Row = {
    def opt(a: => Any): Any = if (r.nextInt(8) == 0) null else a
    def dbl = if (special && r.nextInt(4) == 0) doubles(r.nextInt(doubles.size))
      else r.nextGaussian() * math.pow(10, r.nextInt(12) - 4)
    val sign = java.math.BigInteger.valueOf(if (r.nextBoolean()) 1 else -1)
    Row(opt((r.nextInt(256) - 128).toByte), opt((r.nextInt(65536) - 32768).toShort),
      opt(r.nextInt()), opt(r.nextLong()), opt(dbl.toFloat), opt(dbl),
      opt(java.math.BigDecimal.valueOf(r.nextLong() % 10000000000L, 2)),
      opt(new java.math.BigDecimal(new java.math.BigInteger(90, r.self).multiply(sign), 4)),
      opt(strings(r.nextInt(strings.size)) + (if (r.nextBoolean()) r.nextInt(100) else "")),
      null)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def parquetIn(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.sorted
    finally s.close()
  }

  private def rowGroups(file: String): Int = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
    try r.getFooter.getBlocks.size finally r.close()
  }

  /** the per-file bounds the newest entry of `t` recorded, by file */
  private def recorded(t: GraftTable): Map[String, Map[String, (String, String)]] = {
    val e = t.commitLog.entries().last
    e.dataFiles.zip(e.fileStats.map(_.map { case (c, r) => c -> (r.lo, r.hi) })).toMap
  }

  private def fresh(tag: String): GraftTable =
    GraftTable.createOrReplace(spark, Files.createTempDirectory(s"footer_$tag").toString)

  test("appended files record the footer bounds the aggregate finds, over fuzz") {
    (1 to 6).foreach { seed =>
      val r = new Random(seed)
      val t = fresh(s"fuzz$seed")
      t.append(frame(Seq.fill(80)(fuzzRow(r, special = seed % 2 == 0))).repartition(4),
        statsCols = statsCols)
      val got = recorded(t)
      assert(got.size == 4)
      assert(got == aggregateStats(got.keys.toSeq), s"seed $seed")
      assert(got.values.forall(m => !m.contains("n")), "an all-null column has no bounds")
    }
  }

  test("a multi-row-group file with NaN in one row group records what the aggregate finds") {
    val r = new Random(7)
    val rows = Seq.tabulate(400) { i =>
      val x = fuzzRow(r, special = false)
      // -0.0 and ±Inf in the second row group, NaN only in the fourth
      val d: Any = i match {
        case 45 => -0.0
        case 50 => Double.PositiveInfinity
        case 55 => Double.NegativeInfinity
        case 130 => Double.NaN
        case _ => x.get(5)
      }
      val f = d match { case v: Double => v.toFloat; case _ => null }
      Row.fromSeq(x.toSeq.updated(5, d).updated(4, f))
    }
    val dir = Files.createTempDirectory("footer_rg").resolve("p")
    frame(rows).coalesce(1).write.option("parquet.block.row.count.limit", "40")
      .parquet(dir.toString)
    val files = parquetIn(dir)
    assert(files.size == 1 && rowGroups(files.head) >= 10)
    val t = fresh("rg")
    t.addFiles(files, statsCols = statsCols)
    val got = recorded(t).values.head
    assert(got == aggregateStats(files).values.head)
    assert(!got.contains("d") && !got.contains("f"))
    assert(got.contains("l") && got.contains("s"))
  }

  test("a value over 4 KiB leaves its column unbounded, and a point read still finds it") {
    val big = "~" * 5000
    val keys = (0 until 120).map(i => f"k$i%03d").updated(70, big)
    val dir = Files.createTempDirectory("footer_big").resolve("p")
    spark.createDataFrame(keys.map(k => Row(k, k.length)).asJava,
        StructType(Seq(StructField("s", StringType), StructField("len", IntegerType))))
      .coalesce(1).write.option("parquet.block.row.count.limit", "40").parquet(dir.toString)
    val files = parquetIn(dir)
    assert(files.size == 1 && rowGroups(files.head) == 3)
    val t = fresh("big")
    t.addFiles(files, statsCols = Seq("s", "len"))
    val stats = recorded(t)(files.head)
    assert(stats.get("s").map(_._2.length).isEmpty, "recorded a bound for s")
    assert(stats("len") == (("4.000000", "5000.000000")))
    assert(t.readEq("s", big).count() == 1)
    assert(t.planScan(s"s = '$big'").filesOpened == 1)
  }
}
