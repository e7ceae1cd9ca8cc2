package graft.table

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import scala.jdk.CollectionConverters._

import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, FIXED_LEN_BYTE_ARRAY, FLOAT, INT32, INT64}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Every fact the table layer takes from a parquet file's footer: its row
  * count, its Spark read schema and its top-level columns' bounds. Like
  * Iceberg's `ParquetUtil.fileMetrics`, bounds come from the footer the
  * write left, never from a second scan of the file.
  *
  * A column's bounds fold its chunk statistics over row groups. A chunk
  * of nulls only is skipped. Any other chunk without min/max (parquet-mr
  * drops them for a float chunk holding NaN, and all statistics of a
  * chunk holding a value over 4 KiB) leaves the column unbounded in the
  * file: skipping it would exclude rows the file holds. Only these kinds
  * have bounds, as a closed [[Bounds.Interval]]: INT32/INT64 unannotated or
  * signed, FLOAT/DOUBLE when finite, and DECIMAL as unscaled value and
  * scale, as numbers; STRING as strings, in code-point order, which is
  * parquet's unsigned byte order over UTF-8. TIMESTAMP, written as INT96,
  * has none.
  */
private[table] object Footers {

  import Bounds.{Interval, Num, Str}

  /** `nullFree`: the columns whose every chunk records zero nulls;
    * `nullOnly`: the columns that hold no value but null, and so no bound
    */
  final case class Footer(rows: Long, schema: StructType, bounds: Map[String, Interval],
      nullFree: Set[String], nullOnly: Set[String])

  /** a footer reader whose Hadoop conf is built at first use and shared
    * by every file it reads (`files.map(reader(spark))`). The options are
    * explicit: the one-argument ParquetFileReader.open parses a fresh
    * Hadoop Configuration per call.
    */
  def reader(spark: SparkSession): String => Footer = {
    lazy val conf = spark.sessionState.newHadoopConf()
    lazy val opts = HadoopReadOptions.builder(conf).build()
    lazy val toSpark = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    file => {
      val path = new org.apache.hadoop.fs.Path(file)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf), opts)
      val meta = try r.getFooter finally r.close()
      // (row count, chunk statistics by column) of each row group with rows
      val groups = meta.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map(b =>
        b.getRowCount -> b.getColumns.asScala.collect {
          case c if c.getPath.size == 1 && c.getStatistics != null =>
            c.getPath.toArray.head -> (c.getStatistics: Statistics[_])
        }.toMap)
      def nulls(st: Option[Statistics[_]]) = st.filter(_.isNumNullsSet).map(_.getNumNulls)
      val cols = meta.getFileMetaData.getSchema.getFields.asScala.toSeq
        .collect { case f if f.isPrimitive => f.asPrimitiveType }
      // each column's chunk statistics over the row groups holding a non-null
      val held = cols.map(t => t -> groups.collect {
        case (n, st) if !nulls(st.get(t.getName)).contains(n) => st.get(t.getName)
      })
      Footer(meta.getBlocks.asScala.map(_.getRowCount).sum,
        // converted exactly as Spark's own schema inference converts it
        ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(path, meta), toSpark),
        held.flatMap { case (t, sts) => unionAll(sts.map(boundOf(t, _))).map(t.getName -> _) }.toMap,
        cols.map(_.getName).filter(c => groups.forall(g => nulls(g._2.get(c)).contains(0L))).toSet,
        held.collect { case (t, sts) if sts.isEmpty => t.getName }.toSet)
    }
  }

  /** one chunk's bounds: None when it records none or its kind has none */
  private def boundOf(t: PrimitiveType, chunk: Option[Statistics[_]]): Option[Interval] =
    chunk.filter(_.hasNonNullValue).flatMap { st =>
      val (mn, mx) = (st.genericGetMin: Any, st.genericGetMax: Any)
      def num(v: Any, scale: Int = 0) = Num(BigDecimal(v match {
        case b: Binary => new JBigDecimal(new BigInteger(b.getBytes), scale)
        case n => JBigDecimal.valueOf(n.asInstanceOf[Number].longValue, scale)
      }))
      (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
        case (INT32 | INT64, null) => Some(Interval(num(mn), num(mx)))
        case (INT32 | INT64, a: IntLogicalTypeAnnotation) if a.isSigned =>
          Some(Interval(num(mn), num(mx)))
        case (INT32 | INT64 | FIXED_LEN_BYTE_ARRAY | BINARY, d: DecimalLogicalTypeAnnotation) =>
          Some(Interval(num(mn, d.getScale), num(mx, d.getScale)))
        case (FLOAT | DOUBLE, null) =>
          val (lo, hi) = (mn.asInstanceOf[Number].doubleValue, mx.asInstanceOf[Number].doubleValue)
          Option.when(lo.isFinite && hi.isFinite)(
            Interval(Num(BigDecimal(new JBigDecimal(lo))), Num(BigDecimal(new JBigDecimal(hi)))))
        case (BINARY, _: StringLogicalTypeAnnotation) => Some(Interval(
          Str(mn.asInstanceOf[Binary].toStringUsingUTF8), Str(mx.asInstanceOf[Binary].toStringUsingUTF8)))
        case _ => None
      }
    }

  /** the bounds covering every bound: None if there is none or one is missing */
  def unionAll(bs: Seq[Option[Interval]]): Option[Interval] =
    if (bs.exists(_.isEmpty)) None else bs.flatten.reduceOption(_ union _)
}
