package graft.table

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Which data files an equality delete can touch, decided on the driver
  * from metadata alone. Iceberg's scan planning applies an equality
  * delete only to data files older than it whose column bounds can hold
  * its keys; this is that rule over the commit log.
  *
  * One commit's delete files form a group: they share a seq and key
  * columns. A group's key bounds are the min and max of each key column
  * over its files, read from their parquet footers ([[Footers]]) and
  * cached per file (delete files are immutable and live under UUID shard
  * paths). A data file at seq `s` is out of reach of a group at seq `d`
  * when `s >= d`, or when for some key column the file's recorded bounds
  * ([[LogEntry.fileMayContain]], with its commit-level fallback) cannot
  * intersect the group's. A group whose files hold no rows reaches
  * nothing.
  *
  * A key column proves nothing, so the delete still applies, when:
  *  - its column in the delete file's footer schema is not integral or
  *    STRING, or it has no footer bounds;
  *  - it holds a null, or a chunk's null count is unknown (the read's
  *    null-safe join matches null to null, which bounds do not describe);
  *  - by field id, it resolves to no column of the schema the data file
  *    was written under, or to one of another kind (integral keys need
  *    an integral column, string keys a STRING column);
  *  - the data file has no bounds for that column.
  * Positional deletes and deletion vectors form no group: they always
  * apply.
  */
private[table] object DeleteScope {

  import Bounds.{Interval, Str}

  type DeleteFile = (String, Long, Seq[String])

  /** what a delete file's footer says about its keys: whether it holds no
    * rows, and the bounds of each column it can bound
    */
  final case class FileKeys(empty: Boolean, ranges: Map[String, Interval])

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
    val fileIndex = mutable.LongMap.empty[Map[String, Int]]
    val schemaJsons = TreeMap.from(entries.collect {
      case e if e.schemaJson.nonEmpty => e.seq -> e.schemaJson })
    val schemas = mutable.HashMap.empty[Long, Option[StructType]]
    def schemaAt(seq: Long): Option[StructType] = schemas.getOrElseUpdate(seq,
      schemaJsons.maxBefore(seq + 1).map(j => DataType.fromJson(j._2).asInstanceOf[StructType]))
    groups.map { case ((dseq, cols), files) =>
      val keys = files.map(f => keysOf(f._1)).filterNot(_.empty)
      val ranges = cols.map(c => Footers.unionAll(keys.map(_.ranges.get(c))))
      val ids = cols.map(c => schemaAt(dseq).flatMap(_.fields.find(_.name == c)).flatMap(fieldId))
      // the prunes that can rule a file at seq s out: one per key column
      // that resolves to a column of the same kind in the file's schema
      val prunesAt = mutable.LongMap.empty[Seq[Prune]]
      def prunes(s: Long): Seq[Prune] = prunesAt.getOrElseUpdate(s, {
        val fields = schemaAt(s).map(_.fields.toSeq).getOrElse(Nil)
        cols.indices.flatMap { j =>
          for {
            id <- ids(j)
            r <- ranges(j)
            f <- fields.find(fieldId(_).contains(id))
            if keyKind.get(f.dataType).contains(r.isStr)
          } yield Prune(f.name, r)
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

  /** the column types that can bound keys, to whether they are STRING */
  private val keyKind: Map[DataType, Boolean] = Map(ByteType -> false, ShortType -> false,
    IntegerType -> false, LongType -> false, StringType -> true)

  private def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(GraftTable.FidKey)) Some(f.metadata.getLong(GraftTable.FidKey))
    else None

  // process-wide, by absolute path, capped like the bloom-sidecar cache:
  // entry count and (string) bytes, cleared wholesale past either cap
  private val cache = new ConcurrentHashMap[String, FileKeys]()
  private val cacheBytes = new AtomicLong(0)
  private val cacheLock = new Object
  private val MaxEntries = 16384
  private val MaxBytes = 64L * 1024 * 1024

  /** [[FileKeys]] of one delete file, from the cache or its footer, read
    * by `footer`. A footer that cannot be read bounds nothing and is not
    * cached: a transient failure costs one plan its scoping, never a
    * wrong answer, and a missing or corrupt file fails where the read
    * opens it.
    */
  def footerKeys(file: String, footer: String => Footers.Footer): FileKeys = {
    val hit = cache.get(file)
    if (hit != null) hit
    else {
      val keys = try keysOf(footer(file)) catch { case NonFatal(_) => return Unknown }
      cacheLock.synchronized {
        if (cache.size() >= MaxEntries || cacheBytes.get() > MaxBytes) {
          cache.clear(); cacheBytes.set(0)
        }
        if (cache.putIfAbsent(file, keys) == null)
          cacheBytes.addAndGet(file.length + keys.ranges.map { case (c, r) =>
            c.length + Seq(r.lo, r.hi).flatten.map { case Str(v) => v.length; case _ => 8 }.sum
          }.sum.toLong)
      }
      keys
    }
  }

  /** a delete file's bounds of its integral and STRING columns with no null */
  private def keysOf(f: Footers.Footer): FileKeys =
    FileKeys(empty = f.rows == 0, f.bounds.filter { case (c, _) =>
      f.nullFree(c) && f.schema.find(_.name == c).exists(x => keyKind.contains(x.dataType))
    })
}
