package graft.table

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Which data files an equality delete can touch, decided on the driver
  * from metadata alone. Iceberg's scan planning applies an equality
  * delete only to data files older than it whose column bounds can hold
  * its keys; this is that rule over the commit log.
  *
  * One commit's delete files form a group: they share a seq and key
  * columns. A group's key bounds are the min and max of each key column
  * over its files, read from their parquet footers (and cached per file:
  * delete files are immutable and live under UUID shard paths). A data
  * file at seq `s` is out of reach of a group at seq `d` when `s >= d`, or
  * when for some key column the file's recorded bounds
  * ([[LogEntry.fileMayContain]], with its commit-level fallback) cannot
  * intersect the group's. A group whose files hold no rows reaches
  * nothing.
  *
  * A key column proves nothing, so the delete still applies, when:
  *  - its type is not INT32/INT64 (signed, unannotated) or STRING;
  *  - it holds a null (the read's null-safe join matches null to null,
  *    which bounds do not describe), or the footer has no statistics;
  *  - by field id, it resolves to no column of the schema the data file
  *    was written under, or to one of another kind (integral keys need
  *    an integral column, string keys a STRING column);
  *  - the data file has no bounds for that column.
  * Positional deletes and deletion vectors form no group: they always
  * apply.
  */
private[table] object DeleteScope {

  type DeleteFile = (String, Long, Seq[String])

  /** one key column's bounds over a delete file's rows */
  sealed trait KeyRange
  final case class IntRange(lo: Long, hi: Long) extends KeyRange
  final case class StrRange(lo: String, hi: String) extends KeyRange

  /** what a delete file's footer says about its keys: whether it holds no
    * rows, and the bounds of each column it can bound
    */
  final case class FileKeys(empty: Boolean, ranges: Map[String, KeyRange])

  /** a footer that cannot be read bounds nothing */
  private val Unknown = FileKeys(empty = false, Map.empty)

  /** `deleteFiles` without the equality-delete groups that can touch
    * none of `dataFiles`: the deletes a read of `dataFiles` applies.
    */
  def reachable(entries: Seq[LogEntry], dataFiles: Seq[(String, Long)],
      deleteFiles: Seq[DeleteFile], keysOf: String => FileKeys): Seq[DeleteFile] = {
    val unreached = reach(entries, deleteFiles, keysOf)
      .collect { case (g, touches) if !dataFiles.exists(touches) => g }.flatten.toSet
    if (unreached.isEmpty) deleteFiles else deleteFiles.filterNot(unreached)
  }

  /** Every equality-delete group among `deleteFiles`, with a test of
    * whether it can touch a data file (path, seq) of the state that
    * `entries` fold to.
    */
  def reach(entries: Seq[LogEntry], deleteFiles: Seq[DeleteFile], keysOf: String => FileKeys)
      : Seq[(Seq[DeleteFile], ((String, Long)) => Boolean)] = {
    val groups = deleteFiles.filterNot(d => CommitLog.isPositionalFlavor(d._3))
      .groupBy(d => (d._2, d._3)).toSeq
    if (groups.isEmpty) return Nil
    val bySeq = entries.map(e => e.seq -> e).toMap
    val fileIndex = mutable.HashMap.empty[Long, Map[String, Int]]
    val schemaJsons = TreeMap.from(entries.collect {
      case e if e.schemaJson.nonEmpty => e.seq -> e.schemaJson })
    val schemas = mutable.HashMap.empty[Long, Option[StructType]]
    def schemaAt(seq: Long): Option[StructType] = schemas.getOrElseUpdate(seq,
      schemaJsons.maxBefore(seq + 1).map(j => DataType.fromJson(j._2).asInstanceOf[StructType]))
    groups.map { case ((dseq, cols), files) =>
      val keys = files.map(f => keysOf(f._1)).filterNot(_.empty)
      val ranges = cols.map(c => unionAll(keys.map(_.ranges.get(c))))
      val ids = cols.map(c => schemaAt(dseq).flatMap(_.fields.find(_.name == c)).flatMap(fieldId))
      // the prunes that can rule a file at seq s out: one per key column
      // that resolves to a column of the same kind in the file's schema
      val prunesAt = mutable.HashMap.empty[Long, Seq[Prune]]
      def prunes(s: Long): Seq[Prune] = prunesAt.getOrElseUpdate(s, {
        val fields = schemaAt(s).map(_.fields.toSeq).getOrElse(Nil)
        cols.indices.flatMap { j =>
          for {
            id <- ids(j)
            r <- ranges(j)
            f <- fields.find(fieldId(_).contains(id))
            p <- (r, f.dataType) match {
              case (IntRange(lo, hi), ByteType | ShortType | IntegerType | LongType) =>
                Some(Prune(f.name, lo, hi))
              case (StrRange(lo, hi), StringType) => Some(Prune.str(f.name, lo, hi))
              case _ => None
            }
          } yield p
        }
      })
      val touches: ((String, Long)) => Boolean = { case (f, s) =>
        keys.nonEmpty && s < dseq && {
          val ps = prunes(s)
          ps.isEmpty || bySeq.get(s).forall { e =>
            fileIndex.getOrElseUpdate(s, e.dataFiles.zipWithIndex.toMap).get(f)
              .forall(i => ps.forall(e.fileMayContain(i, _)))
          }
        }
      }
      (files, touches)
    }
  }

  private def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(GraftTable.FidKey)) Some(f.metadata.getLong(GraftTable.FidKey))
    else None

  private def union(a: KeyRange, b: KeyRange): Option[KeyRange] = (a, b) match {
    case (IntRange(l1, h1), IntRange(l2, h2)) => Some(IntRange(l1 min l2, h1 max h2))
    case (StrRange(l1, h1), StrRange(l2, h2)) =>
      Some(StrRange(Prune.StrOrder.min(l1, l2), Prune.StrOrder.max(h1, h2)))
    case _ => None
  }

  /** the bounds covering every range, or None if one is unbounded */
  private def unionAll(rs: Seq[Option[KeyRange]]): Option[KeyRange] =
    if (rs.isEmpty || rs.exists(_.isEmpty)) None
    else rs.tail.foldLeft(rs.head)((acc, r) => acc.flatMap(union(_, r.get)))

  // process-wide, by absolute path, capped like the bloom-sidecar cache:
  // entry count and (string) bytes, cleared wholesale past either cap
  private val cache = new ConcurrentHashMap[String, FileKeys]()
  private val cacheBytes = new AtomicLong(0)
  private val cacheLock = new Object
  private val MaxEntries = 16384
  private val MaxBytes = 64L * 1024 * 1024

  /** [[FileKeys]] of one delete file, from the cache or its footer. A
    * footer that cannot be read bounds nothing and is not cached: a
    * transient failure costs one plan its scoping, never a wrong answer,
    * and a missing or corrupt file fails where the read opens it.
    */
  def footerKeys(file: String, conf: => Configuration): FileKeys = {
    val hit = cache.get(file)
    if (hit != null) hit
    else {
      val keys = try readFooter(file, conf) catch { case NonFatal(_) => return Unknown }
      cacheLock.synchronized {
        if (cache.size() >= MaxEntries || cacheBytes.get() > MaxBytes) {
          cache.clear(); cacheBytes.set(0)
        }
        if (cache.putIfAbsent(file, keys) == null)
          cacheBytes.addAndGet(file.length + keys.ranges.map {
            case (c, StrRange(lo, hi)) => c.length + lo.length + hi.length
            case (c, _) => c.length + 16
          }.sum.toLong)
      }
      keys
    }
  }

  private def readFooter(file: String, conf: Configuration): FileKeys = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf),
      HadoopReadOptions.builder(conf).build())
    val meta = try r.getFooter finally r.close()
    val blocks = meta.getBlocks.asScala.filter(_.getRowCount > 0).toSeq
    if (blocks.isEmpty) FileKeys(empty = true, Map.empty)
    else FileKeys(empty = false, meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive =>
        f.getName -> unionAll(blocks.map(b =>
          b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(f.getName)))
            .flatMap(c => rangeOf(f.asPrimitiveType, c.getStatistics))))
    }.collect { case (c, Some(r)) => c -> r }.toMap)
  }

  private def rangeOf(t: PrimitiveType, st: Statistics[_]): Option[KeyRange] =
    if (st == null || !st.isNumNullsSet || st.getNumNulls != 0 || !st.hasNonNullValue) None
    else (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32 | INT64, a) if a == null ||
          (a.isInstanceOf[IntLogicalTypeAnnotation] && a.asInstanceOf[IntLogicalTypeAnnotation].isSigned) =>
        Some(IntRange(st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue))
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        Some(StrRange(st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
          st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
      case _ => None
    }
}
