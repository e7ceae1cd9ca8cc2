package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._

import graft.table.Bounds.{Interval, Num, Recorded, Str}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkShims
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegerType, LongType, MetadataBuilder, StringType, StructField, StructType}

/** A Spark-managed table over the CommitLog: the capability port of the
  * reference's Iceberg table (create/append/equality+positional deletes/
  * time-travel/compaction/hidden partitioning/tags/metadata tables),
  * re-expressed as parquet + a snapshot log instead of a REST catalog
  * (SURVEY.md §7.3; reference main.rs / decouple.rs / deletes.rs).
  *
  * Read path (merge-on-read): data files are unioned with their commit
  * seq; equality deletes anti-join rows whose key matches AND whose data
  * seq ≤ the delete's seq — later appends are untouched, matching
  * Iceberg's sequence-number scoping of equality deletes. Catalyst sees
  * an ordinary left_anti join and optimizes it like any other (broadcast
  * when the delete set is small — the common case). A delete that no
  * scanned file can hold, by seq and by key bounds, is left out of the
  * plan altogether ([[DeleteScope]]). Every pruned read
  * is planned by one planner, [[planScan]]: it turns a predicate's
  * conjuncts into file prunes over per-file stats, partition values and
  * blooms, and returns one [[ScanPlan]] holding the log entries it read,
  * the surviving files, their counts and the read over them. Scan
  * schemas come from parquet file footers read on the driver, so
  * building a read plan runs no Spark job (short of a scan listing more
  * files than spark.sql.sources.parallelPartitionDiscovery.threshold, or
  * an equality probe on a partition column and a string range over a
  * truncstr one, whose partition values a one-row local job computes).
  *
  * Write path: every write that stages files goes through one
  * primitive, [[writeAndCommit]]. Executors write parquet shards in
  * parallel (df.write); the Spark driver lists them, derives the metadata
  * the write records (per-file stats and row counts from the footers the
  * write left ([[Footers]]), blooms from one aggregate job, lineage
  * markers, partition values), checks that the table directory is still
  * the one the write began in, and makes exactly ONE O(1) commit — the
  * decoupled many-writers/one-committer architecture of
  * decouple.rs:112-300.
  */
final class GraftTable(spark: SparkSession, val root: Path) {
  import GraftTable.{Assign, Derive, Derived, Lineage, NoLineage, Rewritten}

  private val log = new CommitLog(root)

  private def newShardDir(kind: String): Path =
    root.resolve(kind).resolve(UUID.randomUUID().toString)

  /** walk with the stream closed (Files.walk leaks a directory fd
    * until GC otherwise).
    */
  private def walked[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.walk(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private def parquetFilesIn(dir: Path): Seq[String] =
    walked(dir)(_.filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted)

  /** Bounds of `statsCols` from the files' [[Footers]], as recorded
    * ([[Bounds.Recorded]]): PER FILE (Iceberg-manifest granularity), and
    * per commit, the fallback of a file with no bound of its own. So a
    * commit bounds a column only when every file holding a non-null of it
    * does (a DOUBLE file with Inf must not fall back to its siblings').
    */
  private def perFileStats(footers: => Seq[Footers.Footer], statsCols: Seq[String])
      : (Seq[Map[String, Recorded]], Seq[(String, Recorded)]) =
    if (statsCols.isEmpty || footers.isEmpty) (Nil, Nil)
    else (footers.map(f => statsCols.flatMap(c =>
        f.bounds.get(c).flatMap(Recorded.of).map(c -> _)).toMap),
      statsCols.flatMap(c => Footers.unionAll(footers.filterNot(_.nullOnly(c)).map(_.bounds.get(c)))
        .flatMap(Recorded.of).map(c -> _)))

  /** Per-file bloom filters for `bloomCols` over `files` (a fresh
    * write) — one aggregate scan per column: each value contributes its
    * K md5-derived bit positions (the SQL twin of [[Bloom.positions]]),
    * folded DISTRIBUTEDLY into 64-bit lanes with bit_or (m/64 rows per
    * file — executor memory is O(lanes), never O(values)), and the driver
    * packs the bitset. Nulls contribute no positions: a null never
    * matches an equality probe, so pruning a null-only file is correct.
    */
  private def perFileBlooms(
      files: Seq[String], bloomCols: Seq[String],
      bloomBits: Int = Bloom.DefaultM)
      : Seq[Map[String, String]] =
    if (bloomCols.isEmpty || files.isEmpty) Nil
    else {
      require(bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0,
        s"bloomBits must be a power of two >= 64: $bloomBits")
      val df0 = readParquet(files)
      // ONE scan covers every bloom column: each row contributes K tagged
      // (column index, position) structs per column (nulls contribute
      // none). First 8 hex chars of md5("$i:" + value) = 32 bits; % m is
      // uniform for power-of-two m — must mirror Bloom.positions.
      val tagged = bloomCols.zipWithIndex.flatMap { case (c, ci) =>
        (0 until Bloom.K).map { i =>
          expr(s"IF(`$c` IS NULL, NULL, named_struct('ci', $ci, " +
            s"'p', CAST(conv(substring(md5(concat('$i:', CAST(`$c` AS STRING))), 1, 8)" +
            s", 16, 10) AS BIGINT) % ${bloomBits}L))")
        }
      }
      val byFileCol = df0
        .select(input_file_name().as("_f"), explode(array(tagged: _*)).as("_s"))
        .filter(col("_s").isNotNull)
        .select(col("_f"), col("_s.ci").as("_ci"),
          expr("CAST(_s.p DIV 64 AS INT)").as("_lane"),
          expr("shiftleft(1L, CAST(_s.p % 64 AS INT))").as("_bit"))
        .groupBy("_f", "_ci", "_lane").agg(expr("bit_or(_bit)").as("_bits"))
        .collect()
        .groupBy(r => (Paths.get(new java.net.URI(r.getString(0)).getPath).toString,
          r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.flatMap { r =>
            val lane = r.getInt(2); val bits = r.getLong(3)
            (0 until 64).collect { case b if (bits & (1L << b)) != 0 => lane * 64 + b }
          }.toSeq
        }
      files.map { f =>
        bloomCols.zipWithIndex.flatMap { case (c, ci) =>
          byFileCol.get((f, ci)).map(ps => c -> Bloom.encode(ps, bloomBits))
        }.toMap
      }
    }

  /** Write-side CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT):
    * table properties `check.<name> = <sql predicate>` are enforced on
    * every ROW-ADDING path — append/appendInTxn/appendPartitioned/
    * overwritePartitions before a byte is written, and the inserted/
    * replacement row sets of appendAndDelete, upsert, merge, and
    * updateWhereEq (ADVICE r6 closed the latter four) — a batch
    * containing ANY violating row is rejected whole before the commit
    * (atomic: nothing commits, the table is untouched; a shard already
    * staged to disk becomes a vacuumable orphan). SQL CHECK semantics: a
    * row violates only when the
    * predicate is FALSE; a NULL predicate passes. Cost: one filtered
    * count over the INCOMING batch per constraint (batch-sized, never
    * table-sized) and only when constraints are declared; the read path
    * pays nothing. The count re-evaluates the batch plan — cache
    * non-deterministic sources before appending under constraints.
    */
  private def enforceConstraints(df: DataFrame): Unit = {
    val checks = properties().collect {
      case (k, pred) if k.startsWith("check.") => (k.stripPrefix("check."), pred)
    }
    checks.foreach { case (name, pred) =>
      val violations = df.filter(!coalesce(expr(pred), lit(true))).count()
      if (violations > 0) throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($pred) violated by $violations row(s); " +
          "append rejected, table unchanged")
    }
  }

  /** The one place a write's file metadata is derived. One footer read
    * per file gives the stats and the row counts, the bloom aggregate is
    * the one Spark job, and partition values come from paths.
    */
  private def derived(files: Seq[String], d: Derive, lineage: Lineage): Derived = {
    lazy val footers = files.map(Footers.reader(spark))
    val (stats, fold) = perFileStats(footers, d.statsCols)
    val fileStats =
      if (d.partDims == 0) stats
      else {
        val parts = files.map(f => (0 until d.partDims).flatMap(i =>
          partValueFromPath(f, i).map(v => partColFor(i) -> Recorded(v, v))).toMap)
        if (stats.isEmpty) parts else parts.zip(stats).map { case (a, b) => a ++ b }
      }
    val blooms = perFileBlooms(files, d.bloomCols, d.bloomBits)
    val (rows, ids) = lineage match {
      case Assign => (footers.map(_.rows), Nil)
      case Rewritten(mat, _) => physMarkers(files, mat)
      case NoLineage => (Nil, Nil)
    }
    Derived(files, fold, fileStats, blooms, rows, ids)
  }

  /** The one write-and-commit path of every table write that stages
    * files (decouple.rs:112-300: many writers, one committer):
    *  1. note the identity of the directory at `root` ([[rootKey]]);
    *  2. run `write`, which stages files by writing into the fresh shard
    *     directory `shard(kind)` names — at most one `data` and one
    *     `deletes` shard; a write that stages nothing calls neither;
    *  3. list the staged files;
    *  4. derive what `derive` and `lineage` ask of the data files;
    *  5. refuse if another directory was swapped onto `root` meanwhile
    *     ([[requireSameRoot]]), also when step 2 or 4 failed;
    *  6. commit ONE entry: the staged files, after the files `adopt`
    *     keeps by path with their recorded metadata (a replace that keeps
    *     part of the live set). `base` is the committed set a
    *     state-dependent rewrite was built from (see [[rewriteRetry]]).
    * A failure at any step leaves the staged shards for
    * removeOrphanFiles. Returns the entry's seq and the staged data files.
    */
  private def writeAndCommit(op: String, action: String,
      derive: Derive = Derive(), lineage: Lineage = NoLineage,
      equalityCols: Seq[String] = Nil, schemaJson: => String = "",
      partSpec: String = "", txnMarker: String = "",
      props: Map[String, String] = Map.empty,
      base: Option[Seq[LogEntry]] = None,
      adopt: Option[(Seq[LogEntry], Seq[(String, Long)])] = None)(
      write: (String => String) => Unit): (Long, Seq[String]) = {
    val atStart = rootKey()
    val staged = scala.util.Try {
      val shards = scala.collection.mutable.Map.empty[String, Path]
      write { kind =>
        val dir = newShardDir(kind)
        shards(kind) = dir
        dir.toString
      }
      def files(kind: String) = shards.get(kind).map(parquetFilesIn).getOrElse(Nil)
      (derived(files("data"), derive, lineage), files("deletes"))
    }
    requireSameRoot(op, atStart, staged.failed.toOption)
    val (m, deleteFiles) = staged.get
    // a replace keeping files by path: they keep their recorded metadata,
    // and the fresh files' arrays pad to one element each. No commit-level
    // fold: the kept files' recorded columns may differ from statsCols, and
    // absent commit stats make pruning consult the per-file bounds
    val (files, fold, fileStats, blooms, rows, ids) = adopt match {
      case None => (m.files, m.fold, m.fileStats, m.blooms, m.rows, m.ids)
      case Some((entries, kept)) =>
        val (keptStats, keptBlooms) = adoptedMeta(entries, kept)
        val (keptRows, keptIds) = adoptedLineage(entries, kept)
        def pad[A](xs: Seq[A], empty: A): Seq[A] = if (xs.isEmpty) m.files.map(_ => empty) else xs
        (kept.map(_._1) ++ m.files, Nil, keptStats ++ pad(m.fileStats, Map.empty[String, Recorded]),
          keptBlooms ++ pad(m.blooms, Map.empty[String, String]),
          keptRows ++ pad(m.rows, 0L), keptIds ++ pad(m.ids, -1L))
    }
    val seq = log.commit(action, files, deleteFiles, equalityCols, fold, schemaJson, fileStats,
      partSpec, blooms, rows, ids,
      rowIdHigh = lineage match { case Rewritten(_, high) => high; case _ => -1L },
      assignRowIds = lineage == Assign, txnMarker = txnMarker, props = props,
      expectedCommittedSeqs = base.map(_.map(_.seq).toSet))
    (seq, m.files)
  }

  /** the identity (device and inode) of the directory now at `root`. */
  private def rootKey(): AnyRef =
    Files.readAttributes(root, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  /** [[writeAndCommit]]'s refusal to commit a write that began when
    * `root` had identity `atStart` (see [[rootKey]]) if another directory
    * has since been swapped onto `root` (GraftSql's REPLACE TABLE): the
    * write's earlier task files landed in the moved-away copy and its
    * later ones here, so committing would add a partial file set to the
    * replacement. A write that failed (`failure`, often the swap's own
    * doing: a shard or input file gone from under it) is refused the same
    * way, with the failure as the cause. Not a [[CommitConflictException]],
    * so [[rewriteRetry]] never retries it. A swap after this check and
    * before the commit's claim still commits to the replacement.
    */
  private def requireSameRoot(op: String, atStart: AnyRef, failure: Option[Throwable]): Unit =
    if (rootKey() != atStart)
      throw new java.util.ConcurrentModificationException(
        s"$op: table directory $root was replaced during the write", failure.orNull)

  /** marker path a staged transaction entry records */
  private def markerOf(marker: Path): String = marker.toAbsolutePath.normalize.toString

  /** fast_append: write data files, commit one `add` entry. With
    * `statsCols`, the commit records min/max of those columns at BOTH
    * commit and per-file granularity — the manifest statistics Iceberg
    * uses for scan pruning — read from the new files' parquet footers. With
    * `bloomCols`, each file additionally records a bloom filter (default
    * 16 KiB, see [[Bloom.DefaultM]]) per column so POINT reads skip files
    * whose bounds intersect but which definitely lack the key (see
    * [[Bloom]]).
    */
  def append(df: DataFrame, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, bloomBits: Int = Bloom.DefaultM): Long =
    appendAs("append", df, Nil, Derive(statsCols, bloomCols, bloomBits))

  /** shared body of every append: `df`, conformed and checked, laid out
    * by `specs` (none: one plain shard) and committed as one `add` entry.
    */
  private def appendAs(op: String, df: DataFrame, specs: Seq[PartitionSpec], derive: Derive,
      txnMarker: String = "", props: Map[String, String] = Map.empty): Long = {
    requireNoReserved(df)
    val in = conformToCurrent(df)
    enforceConstraints(in)
    writeAndCommit(op, "add", derive.copy(partDims = specs.size), Assign,
      schemaJson = idSchemaJson(in.schema), partSpec = PartitionSpec.renderAll(specs),
      txnMarker = txnMarker, props = props)(shard => writeLaidOut(in, specs, shard("data")))._1
  }

  /** `df` written into `dir` laid out by `specs`: repartitioned BY the
    * partition tuple, so each tuple is written by exactly one task — one
    * file per partition per write instead of (tasks × partitions) small
    * files — under one nested `_p=`, `_p1=`, … directory per dimension.
    * Without specs, written as is.
    */
  private def writeLaidOut(df: DataFrame, specs: Seq[PartitionSpec], dir: String): Unit =
    if (specs.isEmpty) df.write.parquet(dir)
    else {
      val pcols = specs.indices.map(partColFor)
      specs.zipWithIndex.foldLeft(df) { case (d, (sp, i)) =>
          d.withColumn(partColFor(i), sp.transform.expr(col(sp.col)))
        }
        .repartition(pcols.map(col): _*)
        .write.partitionBy(pcols: _*).parquet(dir)
    }

  /** Register EXISTING parquet files into the table WITHOUT copying or
    * rewriting a byte — Iceberg's `add_files` procedure / Delta's
    * CONVERT TO DELTA, the O(metadata) migration path that turns a raw
    * parquet lake into a governed table in one commit. At 100 TB this is
    * the difference between an afternoon of manifest writes and weeks of
    * rewriting the lake. The log stores the files' ABSOLUTE paths (the
    * same out-of-root adoption shallow clones use, so reads, time travel
    * and vacuum's is-it-referenced logic all already understand them);
    * per-file stats and row counts are read from the footers at adoption
    * so data skipping and row-id lineage work immediately; later
    * compaction rewrites adopted files INTO the table root exactly as it
    * does native ones. Schema contract: EVERY file's footer schema must
    * match the first file's, and that the table's current logical schema,
    * by (name, type) — widening belongs to widenColumn, not to an import.
    */
  def addFiles(extFiles: Seq[String], statsCols: Seq[String] = Nil): Long = {
    require(extFiles.nonEmpty, "addFiles: empty file list")
    // canonicalize through SYMLINKS (toRealPath), not just lexically
    // (ADVICE r9): a retried import addressing the same parquet through a
    // symlinked or bind-mounted alias would evade a normalize-only
    // duplicate check and double-register every row. The resolved real
    // path is also what the log RECORDS, so later dupe checks, lineage
    // lookups and sweeps all see one spelling per physical file. Vanished
    // files fall back to the lexical form (the isRegularFile require
    // below still rejects them with the clearer message).
    def realOr(p: Path): Path =
      try p.toRealPath() catch { case _: java.io.IOException => p.toAbsolutePath.normalize }
    val files = extFiles.map(f => realOr(Paths.get(f)).toString)
    files.foreach(f => require(Files.isRegularFile(Paths.get(f)),
      s"addFiles: not a file: $f"))
    // reject files the table already references (any ref: head, tags,
    // branches, pending txns) — a RETRIED migration job re-running the
    // same import must fail loudly, not silently register the same
    // parquet twice and duplicate every row (Iceberg's add_files
    // check_duplicate_files, which defaults to on). The reference side is
    // symlink-resolved too: an earlier import may have registered the
    // alias spelling.
    val referenced = referencedByAnyRef.map(realOr)
    val dupes = files.filter(f => referenced.contains(Paths.get(f)))
    require(dupes.isEmpty,
      s"addFiles: ${dupes.size} file(s) already referenced by this table " +
        s"(re-run import?): ${dupes.take(3).mkString(", ")}")
    // one footer per file gives its schema, row count and stats
    val footers = files.map(Footers.reader(spark))
    def typed(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq.sortBy(_._1)
    files.zip(footers).foreach { case (f, ft) =>
      require(typed(ft.schema) == typed(footers.head.schema), s"addFiles: schema mismatch — " +
        s"${files.head} has ${typed(footers.head.schema)}, $f has ${typed(ft.schema)}")
    }
    val df0 = spark.read.schema(footers.head.schema).parquet(files: _*)
    requireNoReserved(df0)
    schemaFrom(log.entries()).foreach { cur =>
      require(typed(cur) == typed(df0.schema),
        s"addFiles: schema mismatch — table has ${typed(cur)}, files have ${typed(df0.schema)}")
    }
    enforceConstraints(df0)
    val (stats, fold) = perFileStats(footers, statsCols)
    log.commit("add", dataFiles = files, stats = fold,
      schemaJson = idSchemaJson(df0.schema), fileStats = stats,
      fileRows = footers.map(_.rows), assignRowIds = true)
  }

  /** fast_append STAGED under a multi-table transaction: identical to
    * [[append]] except the committed entry carries the transaction's
    * marker path — the entry (and its data) stays invisible to every
    * reader until the marker file is atomically created, which publishes
    * ALL of the transaction's staged entries across all tables at once
    * (GraftCatalog.transact). Row-id ranges are claimed at stage time,
    * so concurrent transactions never mint overlapping ids even before
    * either publishes. `props` (e.g. a txn.<appId> idempotence
    * watermark) ride the staged entry: invisible like its rows until the
    * marker publishes, then folded atomically WITH them — so a
    * multi-table transaction can be made replay-safe (crash before
    * publish → replay reprocesses; crash after → the visible watermark
    * skips the whole transaction).
    */
  def appendInTxn(df: DataFrame, marker: Path, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, props: Map[String, String] = Map.empty): Long =
    appendAs("appendInTxn", df, Nil, Derive(statsCols, bloomCols), markerOf(marker), props)

  /** IDEMPOTENT append (Delta's txnAppId/txnVersion, Iceberg's WAP-id
    * dedup): the commit carries `txn.<appId> = version` as an entry
    * property, and a call whose version is ≤ the recorded watermark is a
    * NO-OP returning the current head — so a streaming `foreachBatch`
    * sink that crashes between writing and recording its offset can
    * REPLAY the batch without double-appending (exactly-once table
    * writes over at-least-once delivery). The version stamp rides the
    * SAME log entry as the data (one atomic commit): there is no window
    * where the data landed but the watermark didn't. Contract, exactly
    * Delta's: one live committer per appId (Structured Streaming runs
    * foreachBatch single-threaded per query) — two concurrent writers
    * sharing an appId could both pass the watermark check; different
    * appIds never interact. Watermark reads are metadata-sized
    * (properties fold); versions must be monotonically increasing per
    * appId, which epoch/batch ids are.
    */
  def appendIdempotent(df: DataFrame, appId: String, version: Long,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    require(appId.nonEmpty && !appId.contains('='), s"bad appId: $appId")
    val key = s"txn.$appId"
    val last = properties().get(key).map(_.toLong).getOrElse(Long.MinValue)
    if (version <= last)
      return log.entries().lastOption.map(_.seq).getOrElse(-1L) // replayed batch: no-op
    appendAs("appendIdempotent", df, Nil, Derive(statsCols, bloomCols),
      props = Map(key -> version.toString))
  }

  /** Partitioned fast_append (hidden partitioning): data is clustered and
    * laid out by `spec.transform(spec.col)`, and each file's partition
    * value is recorded as an exact [v, v] file-stat on the derived
    * partition column — so partition pruning IS file pruning, exactly how
    * Iceberg turns a manifest's partition tuple into scan pruning.
    *
    * Write shape for scale ([[writeLaidOut]]): one file per partition
    * per epoch instead of (tasks × partitions) small files, the classic
    * small-files explosion on a 1000-executor cluster. Readers
    * filter on the SOURCE column via planScan; the transform
    * never leaks into queries.
    */
  def appendPartitioned(df: DataFrame, spec: PartitionSpec,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    appendPartitioned(df, Seq(spec), statsCols, bloomCols)

  /** Multi-dimensional hidden partitioning: Iceberg specs compose several
    * (column, transform) dimensions — e.g. day(ts) + bucket(id), exactly
    * the reference's event workload shape (kafka-load-gen/main.go:52-53:
    * rolling timestamps + stable ids). Each dimension derives its own
    * partition column and path segment (nested directories), each file
    * records the full partition TUPLE as exact per-dimension file stats,
    * and planScan prunes on every dimension whose source column
    * matches — independently, so a day-bounded probe and an id-point
    * probe each open only their slice of the grid.
    */
  def appendPartitioned(df: DataFrame, specs: Seq[PartitionSpec],
      statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    require(specs.nonEmpty, "at least one partition dimension")
    require(specs.map(_.col).distinct.size == specs.size,
      "one transform per source column")
    appendAs("appendPartitioned", df, specs, Derive(statsCols, bloomCols))
  }

  /** [[appendPartitioned]] STAGED under a multi-table transaction (the
    * partitioned analogue of [[appendInTxn]]): the entry carries the
    * transaction's marker and stays invisible until the marker publishes
    * every staged table at once. The shape a derived index needs — a
    * bucket-partitioned table that must move in lockstep with the corpus
    * it indexes (GraftCatalog.CatalogTxn.appendPartitioned).
    */
  def appendPartitionedInTxn(df: DataFrame, spec: PartitionSpec, marker: Path,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    appendAs("appendPartitionedInTxn", df, Seq(spec), Derive(statsCols, bloomCols), markerOf(marker))

  /** Atomic partition overwrite (Iceberg's dynamic overwrite / INSERT
    * OVERWRITE PARTITION — the daily-backfill op): replace, in ONE
    * commit, every partition the incoming data touches with exactly the
    * incoming content. The replacement lands partition-laid-out with
    * per-file stats (future reads prune like any partitioned append);
    * the displaced rows are removed via equality-delete keys — the
    * distinct source values currently living in the touched partitions,
    * discovered from the incoming data's partition values. Untouched
    * partitions never move; time travel sees the pre-overwrite state.
    * Like upsert, keys come from the files ALREADY WRITTEN, not from a
    * second evaluation of a possibly non-deterministic `df` lineage.
    */
  def overwritePartitions(df: DataFrame, spec: PartitionSpec,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    requireNoReserved(df)
    val in = conformToCurrent(df)
    enforceConstraints(in)
    writeAndCommit("overwritePartitions", "mixed", Derive(statsCols, bloomCols, partDims = 1),
      Assign, equalityCols = Seq(spec.col), schemaJson = idSchemaJson(in.schema),
      partSpec = spec.render) { shard =>
      val dir = shard("data")
      writeLaidOut(in, Seq(spec), dir)
      val written = spark.read.schema(in.schema).parquet(dir)
      val pv = written.select(spec.transform.expr(col(spec.col)).as("_pv")).distinct()
      // existing rows of the touched partitions -> distinct delete keys.
      // The keys overlapping the new data are harmless: the delete scopes
      // to seq strictly below this commit, so the replacement survives it.
      writeKeys(read().join(pv, spec.transform.expr(col(spec.col)) === col("_pv"), "left_semi"),
        Seq(spec.col), shard("deletes"))
    }._1
  }

  private val PartCol = "_p"
  private val SeqCol = "_seq"

  /** partition-value column for dimension `i`; dimension 0 keeps the
    * original single-spec name so existing logs stay readable.
    */
  private def partColFor(i: Int): String = if (i == 0) PartCol else s"_p$i"

  /** Every column name the table layer synthesizes: the partition values
    * (_p, _p1, …, write path), the commit sequence (_seq, MoR read path),
    * and the physical row address (_file/_pos, positional deletes), and the
    * z-order rewrite's scratch columns (_zval/_zq). A
    * user column with one of these names would be silently overwritten by
    * the MoR machinery and dropped on plain reads — reject it at the
    * write.
    */
  private def requireNoReserved(df: DataFrame): Unit = {
    val named = Set(PartCol, SeqCol, FileCol, PosCol, "_zval", "_zq",
      RowIdCol, LastSeqCol, RowIdPhys, LastSeqPhys)
    val clash = df.columns.filter(c => named(c) || c.matches("_p\\d+"))
    require(clash.isEmpty,
      s"reserved column name(s) ${clash.mkString(", ")}: " +
        s"$PartCol[n]/$SeqCol/$FileCol/$PosCol/$RowIdCol/$LastSeqCol " +
        "are synthesized by the table layer")
  }

  /** WIDEN ON WRITE: cast incoming columns UP to the current schema's
    * type wherever the safe promotion applies (int→long, float→double,
    * decimal precision). A write must never NARROW the table's recorded
    * schema — before this (r10 fuzz finding, surfaced by the addFiles
    * strict-schema check), an int-typed append landing after
    * widenColumn(long) stamped its own narrower schemaJson as the head
    * schema while reads kept serving long (old files cannot down-cast),
    * leaving schemaAt() and read().schema contradicting each other.
    * Iceberg semantics: writers conform to the table schema; evolution
    * only ever goes through widenColumn. Unknown/extra columns pass
    * through untouched (each path keeps its own contract for those).
    */
  private def conformToCurrent(df: DataFrame): DataFrame =
    schemaAt() match {
      case None => df
      case Some(cur) =>
        val curByName = cur.fields.map(f => f.name -> f.dataType).toMap
        val needs = df.schema.fields.exists(f =>
          curByName.get(f.name).exists(t => t != f.dataType && safeWiden(f.dataType, t)))
        if (!needs) df
        else df.select(df.schema.fields.map { f =>
          curByName.get(f.name) match {
            case Some(t) if t != f.dataType && safeWiden(f.dataType, t) =>
              col(f.name).cast(t).as(f.name)
            case _ => col(f.name)
          }
        }.toSeq: _*)
    }

  // ---- row lineage (Iceberg v3): every appended row gets a STABLE id,
  // assigned as metadata — file j of an append carries fileRowIds(j), and
  // row ordinal i of that file IS id fileRowIds(j) + i. Nothing is written
  // into data files on the append path (the ids derive from the manifest,
  // exactly Iceberg v3's inherited row ids); a full compact() materializes
  // the ids physically (Iceberg rewrites do the same) so lineage survives
  // the rewrite, under reserved physical names the logical schema never
  // sees. _last_seq is the snapshot that produced the row's current
  // version (last_updated_sequence_number): the adding commit's seq for
  // manifest-derived rows, the materialized value after rewrites. ----

  private val RowIdCol = "_row_id"
  private val LastSeqCol = "_last_seq"
  private val RowIdPhys = "_g_rowid"
  private val LastSeqPhys = "_g_lastseq"

  /** `spark.read.parquet(files)` with the scan schema read from the
    * footer of `files.head` on the driver, converted exactly as Spark's
    * own inference converts it. Without a schema, Spark runs a job per
    * read just to infer it; with this, building a read plan runs none.
    * Sound because Spark with mergeSchema off also samples one file,
    * and every caller passes files sharing one physical schema. The
    * footer, not the log, is the source: files physically carry columns
    * the recorded schema leaves out (lineage, dropped-column
    * pass-through).
    */
  private def readParquet(files: Seq[String]): DataFrame =
    spark.read.schema(Footers.reader(spark)(files.head).schema).parquet(files: _*)

  private def partValueFromPath(f: String, dim: Int): Option[String] = {
    val prefix = s"${partColFor(dim)}="
    f.split('/').find(_.startsWith(prefix))
      .map(_.stripPrefix(prefix))
      // Spark %XX-escapes path-unsafe chars in partition dir names;
      // string partition VALUES must compare unescaped (numerics are
      // never escaped, so this is a no-op for them)
      .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName)
      .filter(v => v.nonEmpty && v != "__HIVE_DEFAULT_PARTITION__")
  }

  /** latest partition spec dimensions recorded in the log (empty when the
    * table is unpartitioned).
    */
  def partitionSpecs: Seq[PartitionSpec] = specsFrom(log.entries())

  /** single-dimension convenience view of [[partitionSpecs]]. */
  def partitionSpec: Option[PartitionSpec] = partitionSpecs.headOption

  private def specsFrom(entries: Seq[LogEntry]): Seq[PartitionSpec] =
    entries.reverse.iterator.map(_.partSpec).find(_.nonEmpty)
      .map(PartitionSpec.parseAll).getOrElse(Nil)

  private def schemaFrom(entries: Seq[LogEntry]): Option[StructType] =
    entries.filter(_.schemaJson.nonEmpty).lastOption
      .map(e => DataType.fromJson(e.schemaJson).asInstanceOf[StructType])

  // ---- field-id schema evolution (Iceberg's stable-id model, the
  // reference's explicit field ids in lib.rs:58-62): every column gets a
  // stable id recorded in the per-snapshot schema JSON (StructField
  // metadata); reads resolve old files to the current schema BY ID, so
  // renames and safe type widenings never rewrite data files. ----

  import GraftTable.FidKey

  /** field-metadata key holding a column's INITIAL DEFAULT (Iceberg v3
    * default values): a SQL literal, read in place of null for rows whose
    * files predate the column. Stored in the per-snapshot schema JSON —
    * adding a defaulted column is metadata-only, no file is touched.
    */
  private val DefaultKey = "graft_default"

  private def fieldId(f: StructField): Option[Long] =
    if (f.metadata.contains(FidKey)) Some(f.metadata.getLong(FidKey)) else None

  private def fieldDefault(f: StructField): Option[String] =
    if (f.metadata.contains(DefaultKey)) Some(f.metadata.getString(DefaultKey)) else None

  /** Stamp stable field ids onto `schema`: a name present in the previous
    * recorded schema keeps its id (renames preserve ids only through
    * [[renameColumn]], matching Iceberg's name-resolution-on-write); new
    * names get fresh ids above `floor` — the max id EVER assigned, over
    * all historical schemas, not just the latest: a schema-narrowing
    * append followed by a new column must never recycle a dropped
    * column's id, or alignByFieldId would rebind old data into the new
    * column (Iceberg's last-assigned-id counter serves the same purpose).
    */
  private def withFieldIds(schema: StructType, prev: Option[StructType], floor: Long): StructType = {
    val prevByName =
      prev.map(_.fields.map(f => f.name -> f).toMap).getOrElse(Map.empty[String, StructField])
    var next = floor
    StructType(schema.fields.map { f =>
      val prevF = prevByName.get(f.name)
      val id = prevF.flatMap(fieldId).getOrElse { next += 1; next }
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      // an incoming writer schema carries no metadata: a default recorded
      // by addColumn must survive subsequent appends' schema stamps, or
      // the next commit's schema would silently erase it
      prevF.flatMap(fieldDefault).foreach { d =>
        if (!f.metadata.contains(DefaultKey)) mb.putString(DefaultKey, d)
      }
      f.copy(metadata = mb.putLong(FidKey, id).build())
    })
  }

  private def idSchemaJson(schema: StructType): String = {
    val hist = log.entries().filter(_.schemaJson.nonEmpty)
      .map(e => DataType.fromJson(e.schemaJson).asInstanceOf[StructType])
    val floor = hist.flatMap(_.fields).flatMap(fieldId).foldLeft(0L)(math.max)
    withFieldIds(schema, hist.lastOption, floor).json
  }

  /** Iceberg's safe type promotions — shared by widenColumn (write-time
    * check) and alignByFieldId (read-time cast guard).
    */
  private def safeWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    case (a: org.apache.spark.sql.types.DecimalType,
          b: org.apache.spark.sql.types.DecimalType) =>
      b.scale == a.scale && b.precision >= a.precision
    case (a, b) => a == b
  }

  /** Add a column as a METADATA-ONLY commit, optionally with an initial
    * default (Iceberg v3 default values): rows in files written before
    * this commit read `defaultSql` (a SQL literal, e.g. "'unrated'" or
    * "7") instead of null — no file is rewritten. Rows written AFTER the
    * column exists read exactly what their writer stored, including
    * explicit nulls (initial-default semantics: the default belongs to
    * the pre-add epochs, it is not a null-coalescing view). Without a
    * default this is plain add-column evolution (old rows read null), as
    * appends with a widened schema already provide — registered here so
    * the evolution is explicit and default-capable.
    */
  def addColumn(name: String, dataType: DataType,
      defaultSql: Option[String] = None): Long = {
    val cur = schemaAt().getOrElse(
      throw new IllegalStateException("cannot evolve an empty table"))
    require(!cur.fieldNames.contains(name), s"column already exists: $name")
    defaultSql.foreach { d =>
      // the literal must evaluate and cast NOW — a typo'd default that
      // only explodes on some later read would poison every old epoch.
      // Non-null required in BOTH ANSI modes: non-ANSI nulls a bad cast
      // instead of throwing, and a null default is a contradiction anyway
      val v = scala.util.Try(
        spark.range(1).select(expr(d).cast(dataType)).head()).toOption
        .filter(!_.isNullAt(0))
      require(v.isDefined, s"default $d is not a literal castable to ${dataType.simpleString}")
    }
    val mb = new MetadataBuilder()
    defaultSql.foreach(mb.putString(DefaultKey, _))
    val next = StructType(cur.fields :+
      StructField(name, dataType, nullable = true, mb.build()))
    log.commit("schema", schemaJson = idSchemaJson(next))
  }

  /** Rename a column, preserving its stable field id (Iceberg rename): a
    * metadata-only commit — no data file is touched, and files written
    * under the old name keep resolving to the new one by id on read.
    */
  def renameColumn(oldName: String, newName: String): Long = {
    val cur = schemaAt().getOrElse(
      throw new IllegalStateException("cannot evolve an empty table"))
    require(cur.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!cur.fieldNames.contains(newName), s"column already exists: $newName")
    val next = StructType(cur.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    log.commit("schema", schemaJson = next.json)
  }

  /** Widen a column's type in place — Iceberg's safe promotions only
    * (int→long, float→double, decimal precision increase at the same
    * scale). Metadata-only commit; old files keep their narrow physical
    * type and are cast up on read.
    */
  def widenColumn(name: String, to: DataType): Long = {
    val cur = schemaAt().getOrElse(
      throw new IllegalStateException("cannot evolve an empty table"))
    val f = cur.fields.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"no such column: $name"))
    require(safeWiden(f.dataType, to),
      s"unsafe type change: ${f.dataType.simpleString} -> ${to.simpleString}")
    val next = StructType(cur.fields.map(x =>
      if (x.name == name) x.copy(dataType = to) else x))
    log.commit("schema", schemaJson = next.json)
  }

  /** Align one epoch's files to the CURRENT schema by stable field id:
    * columns renamed since the epoch was written are renamed on the fly;
    * types widened since are cast up. Fields without ids, or absent from
    * the current schema, pass through untouched (add-column evolution is
    * handled by unionByName downstream) — EXCEPT when the current schema
    * binds the same NAME to a different id: then the epoch's column is an
    * orphan of a dropped field that was later re-added under the same
    * name, and by-id resolution must read NULL for it (Iceberg
    * semantics). Passing it through would let unionByName rebind the
    * historical values into the new column by name, so it is dropped.
    * The same shadowing applies to columns a file carries BEYOND its
    * entry's recorded schema (materializing rewrites preserve dropped
    * columns physically without re-declaring them — see
    * materializedSchemaJson): no id means no resolution, so a live
    * same-name field always wins.
    *
    * All renames happen in ONE simultaneous select: sequential
    * withColumnRenamed would collide on swap-shaped rename histories
    * (rename y→z then x→y: renaming the old epoch's x→y first yields two
    * y columns, and the second rename grabs both). The cast fires only
    * for safe WIDENINGS — if a later append narrowed the declared type,
    * the file's own (wider) type is kept and unionByName coerces the
    * union up, as it always did; a forced narrowing cast would throw
    * under ANSI on the very rows that used to read fine.
    */
  private def alignByFieldId(
      df: DataFrame, at: Option[StructType], cur: Option[StructType]): DataFrame =
    (at, cur) match {
      case (Some(a), Some(c)) =>
        val curById = c.fields.flatMap(f => fieldId(f).map(_ -> f)).toMap
        val curIdByName = c.fields.flatMap(f => fieldId(f).map(f.name -> _)).toMap
        val atByName = a.fields.map(f => f.name -> f).toMap
        val cols = df.columns.flatMap { name =>
          atByName.get(name).flatMap(f => fieldId(f).map(f -> _)) match {
            case Some((f, id)) =>
              curById.get(id) match {
                case Some(t) =>
                  val base =
                    if (t.dataType != f.dataType && safeWiden(f.dataType, t.dataType))
                      col(name).cast(t.dataType)
                    else col(name)
                  Some(base.as(t.name))
                case None if curIdByName.get(name).exists(_ != id) =>
                  None // orphaned id shadowed by a re-added same-name field
                case None => Some(col(name))
              }
            // a column the file carries BEYOND its entry's recorded
            // schema (a materializing rewrite preserving a dropped
            // column's history) has no id to resolve by: it passes
            // through by name like any orphan, but a live same-name
            // field must shadow it — otherwise compaction would launder
            // dropped-column values into a later re-added column that
            // by-id resolution reads as NULL everywhere else. Legacy
            // id-less schemas (no ids anywhere) keep plain name passing.
            case None if a.fields.exists(f => fieldId(f).isDefined) &&
              curIdByName.contains(name) => None
            case None => Some(col(name))
          }
        }
        df.select(cols.toSeq: _*)
      case _ => df
    }

  /** engine-evaluated partition value of a literal — one local one-row
    * job, so bucket hashing always matches the write path bit-for-bit.
    * The literal is first cast to the COLUMN's recorded type: xxhash64 of
    * IntegerType(42) and LongType(42) differ, so hashing the literal with
    * its runtime Scala type would compute the wrong bucket and silently
    * prune the right file. None when the transform yields null for the
    * value (e.g. a non-numeric literal against a numeric transform) —
    * callers then skip partition pruning instead of crashing
    * (never-prune-blind).
    */
  def partitionValueOf(spec: PartitionSpec, value: Any,
      colType: Option[org.apache.spark.sql.types.DataType] = None): Option[BigDecimal] = {
    import spark.implicits._
    val typed = colType
      .orElse(schemaAt().flatMap(_.fields.find(_.name == spec.col)).map(_.dataType))
      .map(t => typedLit(value).cast(t)).getOrElse(typedLit(value))
    // Try: under ANSI an uncastable literal throws here; the read then
    // proceeds unpruned and the residual filter surfaces the clear error
    // (or an empty result in non-ANSI sessions) — never an opaque crash
    // inside scan planning
    scala.util.Try(
      spark.range(1)
        .select(spec.transform.expr(typed).cast("string")).as[String].head())
      .toOption.flatMap(Option(_)).map(BigDecimal(_))
  }

  /** engine-side evaluation of a STRING-valued transform on a literal —
    * one local one-row job, same doctrine as [[partitionValueOf]]: the
    * bound is computed by the exact expression that laid the data out
    * (character semantics included), never a driver re-implementation.
    */
  private def partitionValueStrOf(spec: PartitionSpec, value: Any): Option[String] = {
    import spark.implicits._
    scala.util.Try(
      spark.range(1)
        .select(spec.transform.expr(
          typedLit(value).cast(org.apache.spark.sql.types.StringType)))
        .as[String].head())
      .toOption.flatMap(Option(_))
  }

  /** equality delete: persist the key set as a delete file, commit a
    * `delete` entry scoped to the given equality columns
    * (deletes.rs:65-92).
    */
  def delete(keys: DataFrame, equalityCols: Seq[String]): Long =
    deleteAs("delete", keys, equalityCols)

  /** equality delete STAGED under a multi-table transaction: identical to
    * [[delete]] except the entry carries the transaction's marker path —
    * the deleted rows keep being served until the marker lands, then the
    * delete scopes exactly the data committed below its stage-time seq
    * (GraftCatalog.transact publishes and validates; a replace landing
    * between stage and publish aborts the transaction rather than
    * swallowing this entry). The delete-file write is batch-key-sized;
    * the commit is one metadata file like every delete.
    */
  def deleteInTxn(keys: DataFrame, equalityCols: Seq[String], marker: Path): Long =
    deleteAs("deleteInTxn", keys, equalityCols, markerOf(marker))

  private def deleteAs(op: String, keys: DataFrame, equalityCols: Seq[String],
      txnMarker: String = ""): Long = {
    require(equalityCols != CommitLog.DvCols,
      s"equality columns ${CommitLog.DvCols.mkString(",")} are reserved for deletion vectors")
    writeAndCommit(op, "delete", equalityCols = equalityCols, txnMarker = txnMarker)(shard =>
      writeKeys(keys, equalityCols, shard("deletes")))._1
  }

  /** an equality delete's key set: the distinct `cols` of `keys` */
  private def writeKeys(keys: DataFrame, cols: Seq[String], dir: String): Unit =
    keys.select(cols.map(col): _*).distinct().write.parquet(dir)

  /** physical row address columns exposed by readWithPos / consumed by
    * deleteAt: Spark's file-source _metadata struct.
    */
  private val FileCol = "_file"
  private val PosCol = "_pos"

  /** rename-STABLE file key: the path suffix from the table-structure
    * segment (data/ or deletes/) — identical for the same file whether
    * rendered as a write-time `file:` URI, an absolute path, or a
    * root-relative log path. Positional deletes, deletion vectors and
    * row-lineage bases address files by THIS key (and every match
    * normalizes both sides through it), so a moved/renamed table keeps
    * its deletes and row ids — the physical-address counterpart of the
    * commit log's relative paths. Greedy `.*` pins the LAST structure
    * segment, so a warehouse path containing `/data/` cannot confuse it;
    * shard dirs are UUIDs and can never introduce another.
    */
  private def fileKey(c: Column): Column =
    regexp_replace(regexp_replace(c, "^file:/+", "/"), "^.*/(data|deletes)/", "$1/")

  private def fileKeyOf(p: String): String =
    p.replaceFirst("^file:/+", "/").replaceFirst("^.*/(data|deletes)/", "$1/")

  /** snapshot read carrying each row's physical address (file path + row
    * ordinal) — the handle a positional delete targets.
    */
  def readWithPos(asOf: Long = Long.MaxValue): DataFrame =
    readPruned(asOf, Nil, keepLineage = true)

  /** snapshot read carrying row lineage (Iceberg v3): `_row_id` — the
    * stable identity assigned when the row was first committed, surviving
    * deletes around it and full compaction — and `_last_seq`, the snapshot
    * that produced the row's current version. Rows from history that
    * predates lineage metadata read a null `_row_id` (Iceberg's inherited
    * ids behave the same for pre-v3 files), never an invented one.
    */
  def readWithLineage(asOf: Long = Long.MaxValue): DataFrame = {
    val entries = log.entries(asOf)
    readPrunedState(CommitLog.stateFrom(entries), entries, rowLineage = true)
  }

  /** POSITIONAL delete (the second Iceberg v2 delete flavor next to
    * equality deletes): `positions` addresses rows as (_file, _pos) from
    * readWithPos. Unlike an equality delete it can remove ONE of several
    * identical rows — e.g. a single corrupt duplicate — because it names
    * the physical row, not a key predicate. Data files are immutable, so
    * a position uniquely identifies a row forever (until a replace
    * rewrites the file set, which folds prior deletes in).
    */
  def deleteAt(positions: DataFrame): Long =
    // empty equalityCols marks the positional flavor in the log entry
    writeAndCommit("deleteAt", "posdelete")(shard =>
      addressesOf(positions).write.parquet(shard("deletes")))._1

  /** distinct (_file, _pos) row addresses under the CANONICAL file key,
    * not the write-time URI: the address must keep naming its row after
    * the table directory moves (also merges mixed-vintage renderings of
    * the SAME file when a rewrite folds legacy URI-keyed positional files
    * with fresh addresses)
    */
  private def addressesOf(addr: DataFrame): DataFrame =
    addr.select(fileKey(col(FileCol)).as(FileCol), col(PosCol)).distinct()

  // ---- deletion vectors (Iceberg v3 DVs): the third delete flavor.
  // A DV file holds ONE ROW PER DATA FILE — (_file, _card, _words) where
  // _words is a dense little-endian bitmap of deleted row ordinals in
  // 64-bit lanes. The read path applies it as a broadcast join keyed on
  // file path plus a ROW-LOCAL O(1) bit test — no per-delete-commit
  // anti-join shuffle, which is what makes update-heavy tables readable:
  // K accumulated positional-delete commits cost K anti-joins, one DV
  // commit costs a single broadcast probe per row. The bitmap is
  // O(file rows / 64) bits dense; Iceberg v3 uses roaring bitmaps for
  // adaptivity — the seam to swap is Dv.encode/apply below, nothing in
  // the log format. ----

  private val DvCardCol = "_card"
  private val DvWordsCol = "_words"

  /** build DV rows — one per addressed data file — from (_file, _pos)
    * addresses, fully distributed: positions fold into 64-bit lanes via
    * bit_or (map-side partial agg), lanes gather into the dense word
    * array per file. Executor memory is O(one file's bitmap), never
    * O(all deleted positions).
    */
  private def dvRowsOf(addr: DataFrame): DataFrame =
    addressesOf(addr)
      .select(col(FileCol), expr(s"int($PosCol div 64)").as("_wi"),
        expr(s"shiftleft(1L, int($PosCol % 64))").as("_bit"))
      .groupBy(col(FileCol), col("_wi")).agg(expr("bit_or(_bit)").as("_w"))
      .groupBy(col(FileCol))
      .agg(map_from_entries(collect_list(struct(col("_wi"), col("_w")))).as("_m"),
        max(col("_wi")).as("_mw"),
        sum(expr("bit_count(_w)")).cast("long").as(DvCardCol))
      .select(col(FileCol), col(DvCardCol),
        expr(s"transform(sequence(0, _mw), wi -> coalesce(try_element_at(_m, wi), 0L))")
          .as(DvWordsCol))

  /** inverse of [[dvRowsOf]] — decode a DV relation back to (_file, _pos)
    * addresses (used when folding existing vectors with new deletes).
    */
  private def dvPositionsOf(dv: DataFrame): DataFrame =
    dv.select(col(FileCol), posexplode(col(DvWordsCol)).as(Seq("_wi", "_w")))
      .select(col(FileCol), explode(expr(
        "filter(transform(sequence(0, 63), " +
          "b -> if(((_w >> b) & 1) = 1, cast(_wi as bigint) * 64 + b, " +
          "cast(null as bigint))), x -> x is not null)")).as(PosCol))

  /** one deletion-vector commit of the addresses `addr` */
  private def dvCommit(op: String, action: String, addr: DataFrame,
      base: Option[Seq[LogEntry]] = None): Long =
    writeAndCommit(op, action, equalityCols = CommitLog.DvCols, base = base)(shard =>
      dvRowsOf(addr).write.parquet(shard("deletes")))._1

  /** POSITIONAL delete committed directly as a deletion vector:
    * semantically identical to [[deleteAt]] (drop exactly the addressed
    * rows), physically the bitmap encoding the read path applies without
    * an anti-join.
    */
  def deleteVectors(positions: DataFrame): Long = dvCommit("deleteVectors", "dv", positions)

  /** Fold ALL live positional-flavor deletes — plain positional delete
    * files and existing vectors — into ONE deletion-vector commit
    * (Iceberg's rewrite_position_delete_files): after it, the read path
    * applies a single broadcast bitmap probe instead of one anti-join per
    * accumulated delete commit. Metadata-only with respect to data: no
    * data file is read or moved, equality deletes keep their seq scoping,
    * and all history stays travelable (the superseded delete files remain
    * referenced by their original entries until snapshot expiration).
    * Returns the current head if there is nothing to fold.
    */
  def rewritePositionDeletes(): Long = rewriteRetry(rewritePositionDeletesOnce())

  private def rewritePositionDeletesOnce(): Long = {
    val entries = log.entries()
    val (_, dels) = CommitLog.stateFrom(entries)
    val posFiles = dels.filter(_._3.isEmpty).map(_._1)
    val dvFiles = dels.filter(_._3 == CommitLog.DvCols)
    // nothing to fold: no positional files and at most one DV generation
    if (posFiles.isEmpty && dvFiles.map(_._2).distinct.size <= 1)
      return entries.lastOption.map(_.seq).getOrElse(-1L)
    val fromPos =
      if (posFiles.isEmpty) None
      else Some(readParquet(posFiles).select(col(FileCol), col(PosCol)))
    val fromDv =
      if (dvFiles.isEmpty) None
      else Some(dvPositionsOf(readParquet(dvFiles.map(_._1))))
    val addr = (fromPos.toSeq ++ fromDv.toSeq).reduce(_.unionByName(_))
    // validated like every state-dependent rewrite: a positional delete
    // committed after this fold's read would be superseded WITHOUT being
    // encoded — its rows would silently come back
    dvCommit("rewritePositionDeletes", "dvrewrite", addr, base = Some(entries))
  }

  /** shared body of the mixed (append+delete-in-one-transaction)
    * commits: `rows` staged as data, then the distinct `equalityCols` of
    * `keys(dataShard)` as the delete, both committed in ONE entry.
    */
  private def mixedCommit(op: String, rows: DataFrame, equalityCols: Seq[String],
      derive: Derive = Derive(), txnMarker: String = "")(keys: String => DataFrame): Long =
    writeAndCommit(op, "mixed", derive, Assign, equalityCols = equalityCols,
      schemaJson = idSchemaJson(rows.schema), txnMarker = txnMarker) { shard =>
      val dir = shard("data")
      rows.write.parquet(dir)
      writeKeys(keys(dir), equalityCols, shard("deletes"))
    }._1

  /** MoR upsert STAGED under a multi-table transaction (the reference's
    * atomic mixed commit, deletes.rs:94-110, inside the multi-table
    * marker protocol): one mixed entry — equality delete of the incoming
    * keys plus the replacement rows — invisible until the marker lands,
    * then scoping exactly like [[upsert]] (delete applies below the
    * STAGE-time seq; the staged rows carry that seq and survive their
    * own delete). Keys come from the written files, upsert's determinism
    * doctrine; constraints gate the replacement rows.
    */
  def upsertInTxn(df: DataFrame, keyCols: Seq[String], marker: Path): Long =
    upsertAs("upsertInTxn", df, keyCols, Derive(), markerOf(marker))

  /** atomic mixed commit: new data files AND a delete in ONE log entry
    * (deletes.rs:94-110 — appends + deletes in a single transaction).
    */
  def appendAndDelete(df: DataFrame, keys: DataFrame, equalityCols: Seq[String]): Long = {
    requireNoReserved(df)
    val in = conformToCurrent(df)
    enforceConstraints(in)
    mixedCommit("appendAndDelete", in, equalityCols)(_ => keys)
  }

  /** snapshot read; `asOf` = time travel to that committed seq. */
  def read(asOf: Long = Long.MaxValue): DataFrame = readPruned(asOf, Nil)

  /** Iceberg's `TIMESTAMP AS OF` flavor of time travel: read the snapshot
    * that was current at wall-clock `tsMs` — the last commit whose
    * recorded timestamp (the committer's clock, like Iceberg's
    * snapshot-log entries) is ≤ it. Spec-tested rather than registered:
    * wall-clock timestamps are not oracle-reproducible. Refuses a
    * timestamp before the first commit, matching Iceberg's "cannot find a
    * snapshot older than" error.
    */
  def readAsOfTime(tsMs: Long): DataFrame = {
    val at = log.entries().filter(_.tsMs <= tsMs).map(_.seq).maxOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot committed at or before timestamp $tsMs"))
    read(asOf = at)
  }

  // ---- branches: Iceberg branch refs, used as write-audit-publish.
  // A branch is an isolated staging lineage seeded with a copy of the
  // committed log METADATA (O(snapshots) small JSON entries — data files
  // are shared by absolute path, never copied). Risky writes land on the
  // branch, the audit reads the branch view, and publishBranch
  // fast-forwards main — the WAP pattern Iceberg ships for exactly the
  // "validate a batch before the table's consumers see it" need a
  // training-data pipeline has. ----

  private def branchRoot(name: String): Path = {
    // one path segment, no traversal: branch("..") would resolve to the
    // table root itself and masquerade as a branch (the same safeName
    // class GraftCatalog enforces, ADVICE r5)
    require(name.nonEmpty && name != "." && name != ".." &&
        !name.contains('/') && !name.contains('\\') && !name.contains('\u0000'),
      s"invalid branch name: $name")
    root.resolve("_branches").resolve(name)
  }

  /** write `es` verbatim as a fresh per-seq log under `dstLog` (branch
    * seeding and shallow clones share this shape).
    */
  private def seedLog(dstLog: Path, es: Seq[LogEntry]): Unit = {
    Files.createDirectories(dstLog)
    es.foreach { e =>
      Files.write(dstLog.resolve(f"${e.seq}%020d.json"),
        Json.renderEntry(e).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Create branch `name` at the current head and return it as a table.
    * Exclusive: creating an existing branch fails (like tag creation).
    *
    * Seeded entries reference the owning table's files by `..`-stepping
    * RELATIVE paths (`../../data/...`): the branch lives INSIDE the
    * table directory, so a catalog rename moves branch and data files
    * together and the references must travel with them — an absolute
    * seed would sever every branch on the first rename.
    */
  def createBranch(name: String): GraftTable = {
    val bRoot = branchRoot(name)
    require(!Files.exists(bRoot), s"branch already exists: $name")
    val rootAbs = root.toAbsolutePath.normalize
    val bAbs = rootAbs.resolve("_branches").resolve(name)
    def branchRel(p: String): String = {
      val q = Paths.get(p).toAbsolutePath.normalize
      if (q.startsWith(rootAbs)) bAbs.relativize(q).toString else p
    }
    val es = log.entries()
    // txnMarker cleared (ADVICE r6): these entries are PROVEN committed
    // (entries() filters pending), and the warehouse marker sweep only
    // scans catalog table logs — a branch log still referencing a marker
    // after main checkpointed (which strips ITS references) would see the
    // marker vacuumed and its committed entries silently flip to pending
    //
    // PENDING txn stages seed too, marker PRESERVED (r12): a staged-but-
    // unpublished (or abandoned) transaction claimed its seq on main, and
    // the branch must not re-mint it — a branch commit reusing a burned
    // seq shifts the branch's history one snapshot against main's, so a
    // rollback/time-travel target inside the branch (and the straight
    // line after publish) resolves to the WRONG snapshot. The marker
    // reference keeps the stage pending on the branch exactly as it is
    // on main (presumed abort until the marker lands).
    val pending = log.pendingEntries
    seedLog(bRoot.resolve("_log"), (es.map(_.copy(txnMarker = "")) ++ pending)
      .sortBy(_.seq).map(e => e.copy(
        dataFiles = e.dataFiles.map(branchRel),
        deleteFiles = e.deleteFiles.map(branchRel),
        // bloom sidecars travel like data files: the seed `..`-steps to
        // the owning table's _log/_puffin, so a rename moves both together
        bloomsRef = if (e.bloomsRef.isEmpty) "" else branchRel(e.bloomsRef),
        txnMarker = if (e.txnMarker.isEmpty) "" else branchRel(e.txnMarker))))
    // the base is the seq WATERMARK (burned/staged claims included), not
    // the last committed seq: publish replays strictly above it, and the
    // seeded pending stages must never replay as if the branch made them
    Files.writeString(bRoot.resolve("_base"), log.headSeq().toString)
    new GraftTable(spark, bRoot)
  }

  /** Existing branch names (empty when none were ever created). */
  def branches: Seq[String] = {
    val dir = root.resolve("_branches")
    if (!Files.exists(dir)) Nil
    else {
      // one flat directory listing — Files.walk would recurse through
      // every branch's whole log + staged data tree just to name them
      val s = Files.list(dir)
      try s.iterator().asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
  }

  /** Open an existing branch as a table (appends/deletes/reads/time
    * travel all work on it — it IS a table over its own log).
    */
  def branch(name: String): GraftTable = {
    val bRoot = branchRoot(name)
    require(Files.exists(bRoot), s"no such branch: $name")
    new GraftTable(spark, bRoot)
  }

  /** Publish (Iceberg fast-forward): replay the branch's staged commits
    * onto main — metadata-only, one CAS commit per staged entry; the data
    * files the branch wrote are adopted by path, never rewritten or
    * copied. Precondition: main's head still equals the branch's base —
    * concurrent main commits mean the audit no longer describes what
    * publishing would produce, so the caller re-branches and re-audits
    * (Iceberg's fast-forward refuses non-ancestors the same way).
    * Returns the new main seqs.
    */
  def publishBranch(name: String): Seq[Long] = {
    val bRoot = branchRoot(name)
    require(Files.exists(bRoot), s"no such branch: $name")
    val base = Files.readString(bRoot.resolve("_base")).trim.toLong
    // compare the CLAIMED watermark, not the last committed seq: the base
    // counts burned/staged claims (see createBranch), and any main-side
    // claim since the branch point — committed or staged — invalidates
    // the audit the same way a committed advance does
    val head = log.headSeq()
    require(head == base,
      s"main advanced past branch base ($base -> $head); re-branch and re-audit")
    // pending txn stages replay too, still carrying their marker: a
    // transaction staged on the branch and not yet published must stay
    // publishable (or abandoned) after the fast-forward, not silently
    // vanish from the replayed history
    val staged = new CommitLog(bRoot).entriesWithPending().filter(_.seq > base)
    staged.map { e =>
      // lineage carries verbatim: the branch log was seeded with main's
      // entries, so its row-id counter CONTINUED main's — and the
      // fast-forward precondition (main unmoved since the base) means no
      // main commit could have claimed an overlapping range meanwhile.
      // Property assignments replay too (they are fold entries like any
      // other): a governance policy or idempotence watermark set on the
      // audit branch must be enforced on main after the fast-forward —
      // dropping them would silently serve unmasked data and re-admit
      // replayed batches (r8 fix; the pre-r8 replay lost e.props)
      log.commit(e.action, e.dataFiles, e.deleteFiles, e.equalityCols, e.stats,
        e.schemaJson, e.fileStats, e.partSpec, CommitLog.bloomsOf(e),
        fileRows = e.fileRows, fileRowIds = e.fileRowIds, rowIdHigh = e.rowIdHigh,
        txnMarker = e.txnMarker, props = e.props)
    }
  }

  /** Cherry-pick (Iceberg's cherrypick_snapshot, applied to a branch):
    * replay ONE staged branch commit onto main — metadata-only, files
    * adopted by path with stats and blooms — without publishing the rest
    * of the branch and WITHOUT publishBranch's fast-forward precondition
    * (main may have advanced). Three guards make the relaxation safe:
    *
    *  - PURE APPENDS only: an equality delete or replace scopes by
    *    sequence number, so replaying one out of its original position
    *    would change which rows it affects — the same reason Iceberg
    *    cherry-picks only appends and dynamic overwrites.
    *  - Applied-pick refusal: the adopted file paths are unique (UUID
    *    shard dirs), so a main entry already carrying them means this
    *    staged commit was picked before — a second apply would silently
    *    double every row (Iceberg tracks published snapshot ids the
    *    same way).
    *  - Schema compatibility with main's CURRENT schema: the pick is
    *    committed under MAIN's current schemaJson (a commit's schema is
    *    also the head schema in this model, so adopting the staged
    *    entry's own schema would roll back any rename/widen main did
    *    after the branch base — and a later append would then re-assign
    *    fresh ids, orphaning historical columns). That is only sound
    *    when every staged (id, name, type) exists in main's current
    *    schema — the staged files then read under main's schema
    *    unchanged, missing columns filling as nulls. Anything else
    *    (branch-side new columns, main-side renames/widens of a staged
    *    column) is refused: re-branch and publish.
    */
  /** cherryPick's three guards over one staged entry, shared with
    * rebaseBranch's all-or-nothing pre-validation. Returns main's
    * current schema json (the schema the pick commits under).
    */
  private def requirePickable(e: LogEntry, mainEntries: Seq[LogEntry]): String = {
    require(e.action == "add" && e.deleteFiles.isEmpty,
      s"cherry-pick supports pure appends only (staged ${e.seq} is '${e.action}'): " +
        "deletes and replaces scope by sequence number and would change " +
        "meaning replayed out of context")
    // property assignments scope by FOLD ORDER (last write wins), so
    // replaying one onto a main that advanced past the branch base can
    // REGRESS a later main-side write — e.g. an idempotence watermark
    // rolled back to an older version re-admits every replayed batch, a
    // masking policy flipped back serves unmasked data. Refused like
    // deletes: a props-carrying commit (file-less `props` or an
    // idempotent append) publishes only via the fast-forward path,
    // whose unmoved-main precondition keeps the fold linear.
    require(e.props.isEmpty,
      s"cherry-pick refuses property-carrying commits (staged ${e.seq} " +
        s"assigns ${e.props.keys.mkString(", ")}): assignments fold in seq " +
        "order and would regress later main-side writes; re-branch and " +
        "publish (fast-forward) instead")
    require(e.dataFiles.nonEmpty &&
        !mainEntries.exists(_.dataFiles.toSet.intersect(e.dataFiles.toSet).nonEmpty),
      s"staged ${e.seq} was already picked (its files are referenced by main)")
    def idNameTypes(json: String): Set[(Long, String, DataType)] =
      DataType.fromJson(json).asInstanceOf[StructType]
        .fields.flatMap(f => fieldId(f).map((_, f.name, f.dataType))).toSet
    val currentJson =
      mainEntries.filter(_.schemaJson.nonEmpty).lastOption.map(_.schemaJson).getOrElse("")
    if (e.schemaJson.nonEmpty) {
      require(currentJson.nonEmpty &&
          idNameTypes(e.schemaJson).subsetOf(idNameTypes(currentJson)),
        s"staged ${e.seq}'s schema is not contained in main's current schema " +
          "(renamed/widened/new columns since the branch base); " +
          "re-branch and publish instead")
    }
    currentJson
  }

  def cherryPick(name: String, seq: Long): Long = {
    val bRoot = branchRoot(name)
    require(Files.exists(bRoot), s"no such branch: $name")
    val base = Files.readString(bRoot.resolve("_base")).trim.toLong
    val e = new CommitLog(bRoot).entries().filter(_.seq > base)
      .find(_.seq == seq)
      .getOrElse(throw new IllegalArgumentException(
        s"branch $name has no staged commit $seq"))
    val mainEntries = log.entries()
    val currentJson = requirePickable(e, mainEntries)
    // row ids are RE-ASSIGNED from main's counter (unlike publishBranch):
    // main may have advanced past the branch base and claimed the very
    // range the branch assigned — ids are manifest metadata here, so a
    // fresh assignment is free and collision-proof
    log.commit(e.action, e.dataFiles, Nil, Nil, e.stats,
      if (e.schemaJson.nonEmpty) currentJson else "",
      e.fileStats, e.partSpec, CommitLog.bloomsOf(e),
      fileRows = e.fileRows, assignRowIds = e.fileRows.nonEmpty)
  }

  /** REBASE publish — the diverged-main complement of publishBranch's
    * fast-forward: replay EVERY staged branch commit onto a main that
    * has advanced past the branch base, in staged order, each under
    * cherryPick's safety guards (pure appends, no double-pick, schema
    * containment). All staged commits are validated FIRST, against
    * main's state plus the picks that would precede them — a branch
    * with any unreplayable commit is refused WHOLE, never left
    * half-published. Metadata-only like every publish: files adopt by
    * path, row ids re-assign from main's counter. Returns the new main
    * seqs (empty for an empty branch).
    */
  def rebaseBranch(name: String): Seq[Long] = {
    val bRoot = branchRoot(name)
    require(Files.exists(bRoot), s"no such branch: $name")
    val base = Files.readString(bRoot.resolve("_base")).trim.toLong
    val staged = new CommitLog(bRoot).entries().filter(_.seq > base)
    val mainEntries = log.entries()
    // all-or-nothing: validate the whole set before the first commit.
    // Each later pick is checked against main AS IF the earlier picks
    // landed (their file sets join the double-pick reference check).
    staged.foldLeft(mainEntries) { (view, e) =>
      requirePickable(e, view)
      view :+ e.copy(seq = view.lastOption.map(_.seq + 1).getOrElse(0L))
    }
    staged.map(e => cherryPick(name, e.seq))
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`,
    * Iceberg's snapshot-ref export): replay the source's commit-log
    * METADATA into a fresh table root. Every source data/delete file is
    * adopted by ABSOLUTE path — the entries are written resolved, and
    * paths outside the clone root are never rebased (CommitLog keeps
    * them verbatim), so nothing is copied and the clone is O(metadata)
    * regardless of table size. The clone then evolves independently:
    * its own appends land under its own root (root-relative paths), its
    * deletes scope its own log, and time travel over the clone sees the
    * source's full pre-clone history. Positional deletes and deletion
    * vectors keep working because they address files by rename-stable
    * structure keys, which are identical through the clone.
    *
    * Scope: the COMMIT LOG is cloned — tags and branches are refs into
    * the source's lineage and stay with the source (Delta clones behave
    * the same way); re-tag on the clone if a pin is needed there.
    *
    * CAVEAT (exactly Delta's): the clone pins no lock on the source —
    * expiring snapshots or vacuuming the SOURCE can physically delete
    * files the clone still references, and renaming/moving the source
    * directory severs the absolute references the same way (the clone
    * trades relocatability for zero-copy; deep-copy if the source must
    * stay movable). A production deployment gates source GC and renames
    * on registered clones or deep-copies on expiry.
    * Reference: catalog-level table management, lib.rs:34-78.
    */
  def cloneTo(dir: String): GraftTable = cloneTo(dir, Long.MaxValue)

  /** Version-as-of shallow clone (Delta's `CLONE ... VERSION AS OF`):
    * identical to [[cloneTo]] but the clone's history ends at `asOf` —
    * entries above it never enter the clone's log, so the clone's head
    * IS the source's historical snapshot and its own lineage grows from
    * there. The source is untouched.
    */
  def cloneTo(dir: String, asOf: Long): GraftTable = {
    val dst = Paths.get(dir)
    val empty = !Files.exists(dst) || {
      val s = Files.list(dst)
      try !s.iterator().hasNext finally s.close()
    }
    require(empty, s"clone target exists and is non-empty: $dir")
    // resolved entries carry absolute paths; outside the clone root they
    // are never rebased, so the source's files are adopted verbatim
    val es = log.entries(asOf)
    require(asOf == Long.MaxValue || es.exists(_.seq == asOf),
      s"clone asOf $asOf is not a committed snapshot")
    // txnMarker cleared, same argument as createBranch (ADVICE r6): the
    // entries are proven committed, and a clone may live OUTSIDE any
    // catalog — vacuumTxnMarkers could never see its references at all
    seedLog(dst.resolve("_log"), es.map(_.copy(txnMarker = "")))
    // provenance marker only — never read on the hot path
    Files.writeString(dst.resolve("_cloned_from"),
      s"${root.toAbsolutePath.normalize} @ ${es.lastOption.map(_.seq).getOrElse(-1L)}")
    new GraftTable(spark, dst)
  }

  /** Incremental (CDC-style) read — Iceberg's incremental append scan:
    * the rows ADDED by commits in (fromSeq, toSeq] that are still live at
    * toSeq. The downstream-consumer primitive: a pipeline that processed
    * the table up to snapshot `fromSeq` calls this to get exactly the new
    * rows, paying for the NEW files only — the historical files are never
    * opened (the seq filter prunes them from the manifest before any scan
    * is planned). Deletes committed in range still apply to in-range data
    * (an equality delete scopes data with seq strictly below it), so a
    * row appended and then deleted inside the range is not emitted.
    *
    * Like Iceberg, the range must not cross a `replace` (compaction)
    * commit: a replace rewrites surviving history into fresh files with a
    * new seq, so "added since" becomes indistinguishable from "rewritten
    * since" and the scan would re-emit old rows as new. Callers consume
    * incrementally BETWEEN compaction generations (or re-baseline with a
    * full read after one) — the same contract Iceberg enforces by
    * throwing on non-append snapshots in range.
    */
  def readIncremental(fromSeq: Long, toSeq: Long = Long.MaxValue): DataFrame = {
    val entries = log.entries(toSeq)
    require(!entries.exists(e => e.seq > fromSeq && e.action == "replace"),
      s"incremental read ($fromSeq, $toSeq] crosses a replace/compaction commit; " +
        "re-baseline with a full read instead")
    val (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    readPrunedState((dataFiles.filter(_._2 > fromSeq), deleteFiles), entries)
  }

  /** Changelog (CDC) read — Iceberg's create_changelog_view: every row
    * CHANGE in (fromSeq, toSeq], with `change_type` ('insert'/'delete')
    * and `change_seq` (the commit that made it). Inserts are the rows a
    * commit appended that survive its own scope (a mixed commit's delete
    * never touches its own append — seq rule); deletes are the rows of
    * the PRE-commit state matched by that commit's equality-delete keys,
    * so a downstream consumer can replay row-level effects in commit
    * order instead of diffing full snapshots.
    *
    * Scale: the plan is a union of one bounded term per commit in range —
    * insert terms open only that commit's files (seq-pruned before
    * planning, like readIncremental); each delete term is the MoR view at
    * seq-1 semi-joined to that commit's (small) key files, which
    * data-skipping bounds to intersecting files. Cost ∝ changed data ×
    * commits in range, never ∝ table history. Like readIncremental, the
    * range must not cross a `replace`: a rewrite has no row-level delta.
    */
  def readChangelog(fromSeq: Long, toSeq: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val all = log.entries(toSeq)
    require(!all.exists(e => e.seq > fromSeq && e.action == "replace"),
      s"changelog read ($fromSeq, $toSeq] crosses a replace/compaction commit; " +
        "re-baseline with a full read instead")
    // every term is renamed to the HEAD-schema name of its field id:
    // a range crossing a renameColumn would otherwise union the delete
    // terms (read at seq-1, under the historical name) with insert terms
    // under the new name, double-columning the output. Ids absent from
    // the head schema (dropped columns) are dropped from the term.
    val headSchema = schemaFrom(all)
    def alignToHead(df: DataFrame, atSeq: Long): DataFrame =
      (schemaFrom(all.filter(_.seq <= atSeq)), headSchema) match {
        case (Some(at), Some(head)) =>
          val headName = head.fields.flatMap(f => fieldId(f).map(_ -> f.name)).toMap
          val cols = at.fields.toSeq.flatMap { f =>
            fieldId(f).flatMap(headName.get) match {
              case Some(hn) => Some(col(f.name).as(hn))
              case None if fieldId(f).isEmpty => Some(col(f.name)) // pre-id era
              case None => None // dropped from the head schema
            }
          }
          df.select(cols: _*)
        case _ => df
      }
    // every per-commit term derives from the ONE parsed `all` — calling
    // read()/readIncremental() here would re-list and re-parse the whole
    // log per commit in range, making metadata I/O O(range × history)
    // instead of the documented O(range)
    def entriesAt(atSeq: Long) = all.filter(_.seq <= atSeq)
    // a dvrewrite re-encodes existing positional deletes without changing
    // any row — it has no row-level delta, like a checkpoint; emitting its
    // delete files as a term would replay every already-deleted row
    val frames = all.filter(e => e.seq > fromSeq && e.action != "dvrewrite").flatMap { e =>
      val dels =
        if (e.deleteFiles.isEmpty) None
        else {
          val pre = entriesAt(e.seq - 1)
          // positional flavors (posdelete/dv) match rows by PHYSICAL
          // address, so the pre-state read must carry lineage and the
          // semi-join keys on (_file, _pos) — an equality-style join on
          // their (empty/sentinel) column list would be a cross join
          // marking every pre-state row deleted
          val matched =
            if (CommitLog.isPositionalFlavor(e.equalityCols)) {
              val addrs =
                if (e.equalityCols == CommitLog.DvCols)
                  dvPositionsOf(readParquet(e.deleteFiles))
                else readParquet(e.deleteFiles)
              readPrunedState(CommitLog.stateFrom(pre), pre, keepLineage = true)
                .withColumn(FileCol, fileKey(col(FileCol)))
                .join(addrs.withColumn(FileCol, fileKey(col(FileCol))),
                  Seq(FileCol, PosCol), "left_semi")
                .drop(FileCol, PosCol)
            } else {
              val keys = readParquet(e.deleteFiles)
              readPrunedState(CommitLog.stateFrom(pre), pre)
                .join(keys, e.equalityCols, "left_semi")
            }
          Some(alignToHead(matched, e.seq - 1)
            .withColumn("change_type", lit("delete"))
            .withColumn("change_seq", lit(e.seq)))
        }
      val ins =
        if (e.dataFiles.isEmpty) None
        else {
          val at = entriesAt(e.seq)
          val (dataFiles, deleteFiles) = CommitLog.stateFrom(at)
          Some(alignToHead(
            readPrunedState((dataFiles.filter(_._2 > e.seq - 1), deleteFiles), at),
            e.seq)
            .withColumn("change_type", lit("insert"))
            .withColumn("change_seq", lit(e.seq)))
        }
      dels.toSeq ++ ins.toSeq
    }
    frames match {
      case Seq() =>
        read(toSeq).limit(0)
          .withColumn("change_type", lit(""))
          .withColumn("change_seq", lit(0L))
      case fs => fs.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Fold the commit log into one checkpoint file (see
    * CommitLog.checkpoint): after N commits a fresh read plans from
    * 1 + O(new commits) metadata files instead of N. Pure metadata —
    * no data file is read or moved, and all history stays travelable.
    */
  def checkpointMetadata(): Long = log.checkpoint()

  /** upsert (MERGE by key): one atomic commit that equality-deletes the
    * incoming keys from prior data and appends the new rows — row-level
    * update semantics on immutable files, the reference's
    * append+delete-in-one-transaction shape (deletes.rs:94-110)
    * generalized to "latest row wins".
    */
  def upsert(df: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    upsertAs("upsert", df, keyCols, Derive(statsCols, bloomCols))

  private def upsertAs(op: String, df: DataFrame, keyCols: Seq[String], derive: Derive,
      txnMarker: String = ""): Long = {
    requireNoReserved(df)
    val in = conformToCurrent(df)
    mixedCommit(op, in, keyCols, derive, txnMarker) { dir =>
      // the delete-key set comes from the data ALREADY WRITTEN, not from a
      // second evaluation of df's lineage: a non-deterministic source
      // (sample(), mid-ingest re-read) would otherwise delete keys it never
      // appended, or append rows whose old versions survive
      val written = spark.read.schema(in.schema).parquet(dir)
      // constraints gate the INSERTED/REPLACEMENT rows (ADVICE r6: every
      // row-adding path, not just append) — checked over the written
      // parquet, honoring the same determinism doctrine as the delete keys;
      // a violation throws BEFORE the commit, leaving the table unchanged
      // (the orphaned shard is reclaimed by removeOrphanFiles)
      enforceConstraints(written)
      written
    }
  }

  /** Full three-clause MERGE INTO (Iceberg/Delta's
    * `MERGE ... WHEN MATCHED [AND cond] THEN UPDATE/DELETE,
    *  WHEN NOT MATCHED [AND cond] THEN INSERT`), merge-on-read — the CDC
    * apply primitive. Source rows are matched to the current view by
    * `keyCols`:
    *  - matched AND `deleteWhen`   → the target row is deleted
    *  - matched otherwise          → replaced by the source row (UPDATE SET *)
    *  - not matched AND `insertWhen` → inserted
    * The clause conditions are Columns over the SOURCE row (a CDC feed's
    * op column: `deleteWhen = col("op") === "D"`). Source may carry
    * extra columns (op codes, metadata) — appended rows are projected to
    * the target's current schema. ONE atomic mixed commit: an equality
    * delete of the matched keys plus the appended replacement/insert
    * rows (sequence-number scoping makes the appended rows survive their
    * own delete, exactly like upsert).
    *
    * Scale shape: the only target-side cost is a key-column projection
    * scan joined to the (written-once) source — Catalyst broadcasts the
    * source side when small, the common CDC case; no target file is
    * read beyond the key columns and none is rewritten (MoR). The
    * source is staged to parquet once and re-read for every derived
    * frame, upsert's determinism doctrine.
    */
  def merge(source: DataFrame, keyCols: Seq[String],
      deleteWhen: Column = lit(false), insertWhen: Column = lit(true)): Long = {
    requireNoReserved(source)
    val in = conformToCurrent(source)
    val stage = Files.createTempDirectory("graft_merge_src")
    val staged = stage.resolve("src") // parquet refuses a pre-existing dir
    try {
      in.write.parquet(staged.toString)
      val src = spark.read.schema(in.schema).parquet(staged.toString)
      // an EMPTY target (no committed schema) matches nothing: the merge
      // degenerates to the filtered insert, and the full source schema
      // becomes the table's (pre-project the source if op columns exist)
      val (matched, unmatched) = schemaAt() match {
        case None => (src.limit(0), src)
        case Some(_) =>
          val tgtKeys = read().select(keyCols.map(col): _*).distinct()
          (src.join(tgtKeys, keyCols, "left_semi"),
            src.join(tgtKeys, keyCols, "left_anti"))
      }
      // replacement/insert rows must carry EVERY target column: the
      // commit's schema stamp is last-writer-wins, so a source missing a
      // target column would silently narrow the head schema table-wide
      // (dropping the column for untouched rows too). SQL MERGE rejects
      // the same omission at analysis time.
      val outCols = schemaAt().map(_.fieldNames.toSeq).getOrElse(source.columns.toSeq)
      val missing = outCols.filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"merge source lacks target column(s) ${missing.mkString(", ")}: " +
          "UPDATE/INSERT rows must carry every target column")
      // clause conditions follow SQL MERGE's WHEN ... AND <cond>: a NULL
      // condition does not fire the clause (coalesce, not 3VL leak — a
      // NULL deleteWhen row must fall through to the UPDATE, not vanish)
      val del = coalesce(deleteWhen, lit(false))
      val ins = coalesce(insertWhen, lit(false))
      val appendRows = matched.filter(!del)
        .unionByName(unmatched.filter(ins))
        .select(outCols.map(col): _*)
      // constraints gate the UPDATE/INSERT rows (over the staged source —
      // deterministic re-read, so the checked rows ARE the written rows)
      enforceConstraints(appendRows)
      mixedCommit("merge", appendRows, keyCols)(_ => matched)
    } finally {
      walked(stage)(_.toSeq).reverse.foreach(p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
    }
  }

  /** Copy-on-write UPDATE ... WHERE key = value (Iceberg's
    * write.update.mode = copy-on-write, the read-optimized complement of
    * the MoR upsert): only the files that MAY contain the key — pruned
    * by the same per-file stats + bloom probes as readEq — are
    * rewritten with the assignments applied; every other live file is
    * ADOPTED BY PATH into the replace entry with its recorded
    * stats/blooms/lineage, never read, never moved. The classic
    * fix-one-record op on an append-mostly table: write cost ∝ files
    * holding the key, read cost afterwards is ZERO extra (no delete
    * files to merge — the COW/MoR trade). Rewrites materialize row
    * lineage, so an updated row KEEPS its _row_id: an update is a new
    * version of the SAME row, where upsert mints a new one.
    *
    * Falls back to a full materializing rewrite (compact()'s shape,
    * update applied) when a flat replace entry cannot adopt: pending
    * delete files, live files straddling a schema boundary (same two
    * conditions as compactSmall/rollbackTo), or assignments that change
    * the logical schema (adopted and rewritten physical schemas would
    * diverge). Like any replace, CDC/incremental ranges must not cross
    * it, and adopted files re-stamp _last_seq (adoptedLineage note).
    */
  def updateWhereEq(keyCol: String, value: Any, set: Map[String, Column],
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    rewriteRetry(updateWhereEqOnce(keyCol, value, set, statsCols, bloomCols))

  private def updateWhereEqOnce(keyCol: String, value: Any, set: Map[String, Column],
      statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    require(set.nonEmpty, "update with no assignments")
    val entries = log.entries()
    // SQL UPDATE on an empty table = 0 rows affected, not an error: no
    // commit, head unchanged (-1 on an entry-less log) — the same
    // contract as the provably-absent no-op below, which also returns
    // the current head without burning a sequence number.
    if (entries.isEmpty) return log.headSeq()
    val state @ (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    val (schemaJson, uniformSchema) = liveSchema(entries, dataFiles)
    def applySet(df: DataFrame): DataFrame =
      set.foldLeft(df) { case (d, (c, e)) =>
        d.withColumn(c, when(col(keyCol) === lit(value), e).otherwise(col(c)))
      }
    // schema preservation is judged on the PLAN only (no data read)
    val fullView = rewriteSource(entries, state)
    // constraints gate the POST-ASSIGNMENT versions of the touched rows
    // (ADVICE r6): an UPDATE must not be the path that sneaks a violating
    // value into a CHECK-gated table. Only the updated rows are checked
    // (untouched rows already passed at their own write), and only when
    // constraints are declared — enforceConstraints is a no-op otherwise.
    enforceConstraints(applySet(fullView).filter(col(keyCol) === lit(value)))
    val schemaChanged =
      logicalSchemaOf(applySet(fullView)).json != logicalSchemaOf(fullView).json
    val derive = Derive(statsCols, bloomCols)
    if (deleteFiles.nonEmpty || !uniformSchema || schemaChanged)
      return rewriteCommit("updateWhereEq", entries, Some(applySet(fullView)), derive,
        materializedSchemaJson(applySet(fullView)))._1
    val affected = CommitLog.stateFrom(entries, eqPrunes(entries, keyCol, value))._1
    if (affected.isEmpty) return entries.last.seq // key provably absent: no-op
    val affectedPaths = affected.map(_._1).toSet
    rewriteCommit("updateWhereEq", entries, Some(applySet(rewriteSource(entries, (affected, Nil)))),
      derive, schemaJson, adopt = Some(dataFiles.filterNot(f => affectedPaths(f._1))))._1
  }

  /** DELETE WHERE col BETWEEN lo AND hi, metadata-only when the layout
    * allows (Iceberg's metadata delete / Delta's partition delete): each
    * live data file is classified by its RECORDED per-file bounds, read
    * in the column's kind ([[Bounds]]: numbers, or STRING in code-point
    * order; a bound of a kind with none, such as a DATE, straddles) —
    * fully inside the range is dropped from the file list without being
    * read, fully outside is adopted verbatim with its stats/blooms/
    * lineage, and only files whose bounds STRADDLE the range (or carry
    * no bounds for the column) are rewritten, filtered. On a table laid
    * out by appendPartitioned over the delete column, every file is
    * inside or outside — dropping a partition of a 100 TB table is one
    * O(metadata) commit with ZERO data I/O, which is why engines ship
    * this as a distinct operation from row-level deletes.
    *
    * Delete-where semantics: rows where the predicate is NULL (null col)
    * are RETAINED, matching SQL DELETE. Pending MoR delete files or
    * non-uniform live schemas force the full copy-on-write path (same
    * rationale as updateWhereEq: an adopting replace must not change
    * what historical delete entries apply to, and mixed physical schemas
    * cannot adopt under one recorded schema).
    */
  def deleteWhereRange(colName: String, loV: Any, hiV: Any,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): DeleteWhereReport =
    rewriteRetry(deleteWhereRangeOnce(colName, loV, hiV, statsCols, bloomCols))

  private def deleteWhereRangeOnce(colName: String, loV: Any, hiV: Any,
      statsCols: Seq[String], bloomCols: Seq[String]): DeleteWhereReport = {
    val entries = log.entries()
    // SQL DELETE on an empty table = 0 rows affected, not an error (same
    // contract as updateWhereEq's empty/absent no-ops): no commit, the
    // report carries the unchanged head and zero file classifications.
    if (entries.isEmpty) return DeleteWhereReport(log.headSeq(), 0, 0, 0)
    val state @ (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    val (schemaJson, uniformSchema) = liveSchema(entries, dataFiles)
    // predicate-NULL rows survive: not(coalesce(cond, false))
    val retain = !coalesce(col(colName) >= lit(loV) && col(colName) <= lit(hiV), lit(false))
    val derive = Derive(statsCols, bloomCols)
    if (deleteFiles.nonEmpty || !uniformSchema) {
      val (seq, files) = rewriteCommit("deleteWhereRange", entries,
        Some(rewriteSource(entries, state).filter(retain)), derive, schemaJson)
      return DeleteWhereReport(seq, dropped = dataFiles.size, kept = 0,
        rewritten = files.size)
    }
    val (allStats, _) = adoptedMeta(entries, dataFiles)
    // lo and hi in the column's kind ([[Bounds.probe]]; a DATE has none, so
    // every file straddles). 0 = bounds ⊆ [lo, hi] between the probes'
    // inner ends (drop), 1 = disjoint beyond their outer ends (keep), 2 = straddle
    val str = schemaFrom(entries).flatMap(_.find(_.name == colName)).exists(_.dataType == StringType)
    val (lo, hi) = (Bounds.probe(loV, str), Bounds.probe(hiV, str))
    val classed = dataFiles.zip(allStats).map { case (f, st) =>
      val b = st.get(colName).map(_.in(str))
      (f, (lo, hi) match {
        case (Some(l), Some(h)) if b.exists(_.within(Interval(l.hi, h.lo))) => 0
        case (Some(l), Some(h)) if b.exists(_.disjoint(Interval(l.lo, h.hi))) => 1
        case _ => 2
      })
    }
    val dropped = classed.collect { case (f, 0) => f }
    val kept = classed.collect { case (f, 1) => f }
    val straddling = classed.collect { case (f, 2) => f }
    if (dropped.isEmpty && straddling.isEmpty)
      return DeleteWhereReport(entries.last.seq, 0, kept.size, 0) // provably no match
    // spec-scoped pruning survives a metadata-only range delete (ADVICE
    // r6): when no straddler was rewritten and every adopted file was
    // written under ONE partition spec, the replace records that spec —
    // bucket transforms only prune via requireSpec, and the adopted
    // files already carry their exact [v,v] partition stats. Mixed or
    // absent specs, or any rewrite (whose output is not partition-laid),
    // fall back to "" — the same conservative drop compact() documents.
    val specBySeq = entries.map(e => e.seq -> e.partSpec).toMap
    val keptSpecs = kept.map(f => specBySeq.getOrElse(f._2, "")).distinct
    val outSpec =
      if (straddling.isEmpty && keptSpecs.size == 1) keptSpecs.head else ""
    val (seq, newFiles) = rewriteCommit("deleteWhereRange", entries,
      Option.when(straddling.nonEmpty)(rewriteSource(entries, (straddling, Nil)).filter(retain)),
      derive, schemaJson, partSpec = outSpec, adopt = Some(kept))
    DeleteWhereReport(seq, dropped.size, kept.size, newFiles.size)
  }

  /** Table-property assignment (Iceberg's UpdateProperties): one
    * file-less "props" commit; an EMPTY value unsets the key. Properties
    * version with the log — [[properties]] at an asOf replays exactly the
    * assignments visible then.
    */
  def setProperties(kv: Map[String, String]): Long = {
    require(kv.nonEmpty, "empty property assignment")
    log.commit("props", props = kv)
  }

  /** Policy-driven maintenance (r8): one entry point that applies the
    * upkeep the table DECLARES in its own properties — the "set the
    * policy on the table, point a dumb cron at maintain()" operations
    * model of Delta's auto-optimize and Iceberg's table-property-driven
    * maintenance (commit.manifest*, history.expire.*). Recognized keys:
    *
    *   maint.compact.target-bytes  bin-pack files smaller than this
    *                               (compactSmall; skipped when <2 qualify)
    *   maint.expire.enabled        "true" → expireSnapshots() (tag-aware;
    *                               trades pre-head history for space)
    *   maint.expire.horizon-ms     age gate for the file sweep expiration
    *                               performs; defaults to
    *                               maint.vacuum.horizon-ms, then to the 3h
    *                               removeOrphanFiles default — NEVER to 0,
    *                               because maintain() is the cron-beside-
    *                               live-ingest entry point and a zero
    *                               horizon would reclaim a concurrent
    *                               writer's staged-but-uncommitted parquet
    *                               (the r7 hazard). Provable immediate
    *                               reclamation (GDPR erasure) calls
    *                               expireSnapshots(0) directly, with
    *                               ingest paused.
    *   maint.vacuum.horizon-ms     removeOrphanFiles horizon; data files,
    *                               delete files and bloom sidecars no ref
    *                               uses and older than this are reclaimed
    *
    * Absent keys skip their step — a table with no maint.* properties is
    * a no-op. Steps run compact → expire → vacuum (rewrite first so
    * expiration folds its output; vacuum last so both steps' debris goes).
    * Every step rides the SAME concurrency discipline as calling it
    * directly (optimistic rewrite validation + maintenance flock), so
    * maintain() is safe beside live writers. Returns a per-step report.
    */
  def maintain(): Map[String, Long] = {
    val props0 = properties()
    var report = Map.empty[String, Long]
    props0.get("maint.compact.target-bytes").map(_.toLong).foreach { target =>
      val nSmall = log.state()._1.count { case (f, _) =>
        val p = Paths.get(f)
        Files.exists(p) && Files.size(p) < target
      }
      if (nSmall >= 2) {
        compactSmall(target, statsCols = statsColsOf(props0))
        report += "compacted_small" -> nSmall.toLong
      } else report += "compacted_small" -> 0L
    }
    if (props0.get("maint.expire.enabled").contains("true")) {
      val beforeSeqs = log.entries().map(_.seq).toSet
      expireSnapshots(
        props0.get("maint.expire.horizon-ms").map(_.toLong)
          .orElse(props0.get("maint.vacuum.horizon-ms").map(_.toLong))
          .getOrElse(3L * 3600 * 1000))
      report += "expired_entries" ->
        (beforeSeqs -- log.entries().map(_.seq).toSet).size.toLong
    }
    props0.get("maint.vacuum.horizon-ms").map(_.toLong).foreach { h =>
      report += "orphans_removed" -> removeOrphanFiles(h).toLong
    }
    report
  }

  /** stats columns a maintenance rewrite should recompute, declared as
    * `maint.stats-cols` (comma-separated; empty/absent = none).
    */
  private def statsColsOf(props: Map[String, String]): Seq[String] =
    props.get("maint.stats-cols").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** Write-time skipping declaration (the `write.*` table-property
    * convention, Iceberg's write.metadata/parquet.bloom-filter-enabled
    * family): (stats columns, bloom columns) every PROPERTY-DRIVEN
    * writer should record per-file skipping metadata for at append
    * time. ONE properties() fold serves both (per-statement metadata
    * cost doctrine). The SQL front end consults this on INSERT/CTAS —
    * a table declared once is skipping-capable from its first batch,
    * whoever writes it — while Scala callers keep their explicit
    * per-call arguments.
    */
  def writeSkippingCols: (Seq[String], Seq[String]) = {
    val p = properties()
    def csv(key: String): Seq[String] = p.get(key).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    (csv("write.stats-cols"), csv("write.bloom-cols"))
  }

  /** head (or as-of) table properties: fold of every entry's assignments
    * in seq order, empty-value unsets winning like any later write.
    */
  def properties(asOf: Long = Long.MaxValue): Map[String, String] =
    log.entries(asOf).foldLeft(Map.empty[String, String]) { (m, e) =>
      e.props.foldLeft(m) {
        case (acc, (k, v)) if v.isEmpty => acc - k
        // `txn.*` idempotence watermarks are MONOTONIC by contract
        // (appendIdempotent only ever writes version > watermark), so the
        // fold takes the numeric MAX instead of last-write (ADVICE r9):
        // expiration's props re-stamp is the one writer that can place a
        // STALE watermark at a seq above a pending staged txn's higher
        // one — under last-write, that txn publishing after the expire
        // regressed the watermark and a replayed batch double-appended.
        // Max-fold is arm-proof: publish → max(stale, staged) = staged;
        // abort → the re-stamp alone stands. Non-numeric values (not a
        // watermark) keep last-write.
        case (acc, (k, v)) if k.startsWith("txn.") =>
          val prior = acc.get(k).flatMap(_.toLongOption)
          val next = v.toLongOption
          (prior, next) match {
            case (Some(p), Some(n)) => acc.updated(k, math.max(p, n).toString)
            case _ => acc.updated(k, v)
          }
        case (acc, (k, v)) => acc.updated(k, v)
      }
    }

  /** Governed read: [[read]] with the table's declared masking and
    * row-filter policies applied from its PROPERTIES — the policies
    * travel with the table (set once by an admin, enforced for every
    * governed reader), not with the query:
    *
    *  - `mask.<col> = hash`   → column replaced by its SHA-256 hex (a
    *    stable pseudonym: joins/grouping still work across tables that
    *    hash the same key — the GDPR-pseudonymization trick)
    *  - `mask.<col> = null`   → column nulled, type preserved
    *  - `mask.<col> = redact` → column replaced by the literal '***'
    *  - `filter.row = <sql>`  → SQL predicate rows must satisfy
    *
    * Row-local projection/filter over the normal MoR view: zero extra
    * shuffles, and Catalyst pushes the row filter toward the scan like
    * any user predicate. Unknown mask kinds fail loudly — a typo'd
    * policy must never silently serve unmasked data.
    */
  def readGoverned(asOf: Long = Long.MaxValue): DataFrame = {
    val ps = properties(asOf)
    val base = read(asOf)
    val filtered = ps.get("filter.row").map(base.filter).getOrElse(base)
    ps.collect { case (k, kind) if k.startsWith("mask.") => (k.stripPrefix("mask."), kind) }
      .foldLeft(filtered) { case (df, (c, kind)) =>
        require(df.columns.contains(c), s"masking policy on unknown column: $c")
        kind match {
          case "hash" => df.withColumn(c, sha2(col(c).cast("string"), 256))
          case "null" => df.withColumn(c, lit(null).cast(df.schema(c).dataType))
          case "redact" => df.withColumn(c, lit("***"))
          case other => throw new IllegalArgumentException(
            s"unknown mask kind '$other' for column $c")
        }
      }
  }

  /** immutable named snapshot (Iceberg tag): the handle a training run
    * records so its exact input stays reproducible. Tagged history
    * survives expireSnapshots. The default pins the last COMMITTED
    * snapshot — headSeq() counts claimed-but-unwritten entries (a racing
    * or crashed committer), which are not taggable.
    */
  def tag(name: String, seq: Long = -1L): Unit = {
    val target =
      if (seq >= 0) seq
      else log.entries().lastOption.map(_.seq)
        .getOrElse(throw new IllegalStateException("cannot tag an empty table"))
    log.createTag(name, target)
  }

  def readTag(name: String): DataFrame = {
    val seq = log.tags.getOrElse(name,
      throw new NoSuchElementException(s"no such tag: $name"))
    read(asOf = seq)
  }

  def tags: Map[String, Long] = log.tags

  /** Iceberg metadata tables: the table's own history and live-file
    * manifest exposed as queryable DataFrames (`SELECT * FROM t.snapshots
    * / t.files` in Iceberg-Spark). Paths/timestamps are in the schema but
    * scenario goldens select the deterministic columns.
    */
  def snapshotsMeta: DataFrame = {
    import spark.implicits._
    snapshots.map(e => (e.seq, e.action, e.dataFiles.size, e.deleteFiles.size,
      e.equalityCols.mkString(","), e.partSpec, e.tsMs))
      .toDF("seq", "action", "n_data_files", "n_delete_files",
        "equality_cols", "part_spec", "ts_ms")
  }

  /** Iceberg `partitions` metadata table: per live partition tuple, the
    * file and row counts — the table-health dashboard query (skew,
    * small-partition tails, row distribution) answered WITHOUT opening a
    * single data file. Partition values come from the exact [v,v]
    * per-file stats the partitioned writers record (multi-dim specs
    * contribute one `col=value` term per dimension); files committed
    * without a spec report the null tuple, like Iceberg's unpartitioned
    * row. Metadata-only: O(live files) log work on the driver — the same
    * scale class as reading a manifest list.
    */
  def partitionsMeta: DataFrame = {
    import spark.implicits._
    val entries = log.entries()
    val live = CommitLog.stateFrom(entries)._1
    val bySeq = entries.map(e => e.seq -> e).toMap
    val idxBySeq = bySeq.map { case (s, e) => s -> e.dataFiles.zipWithIndex.toMap }
    val isPartKey = (k: String) => k == PartCol || k.matches("_p\\d+")
    live.map { case (f, seq) =>
      val e = bySeq(seq)
      val i = idxBySeq(seq)(f)
      val stats = e.fileStats.lift(i).getOrElse(Map.empty[String, Recorded])
      val tuple = stats.toSeq.filter(x => isPartKey(x._1)).sortBy(_._1)
        .map { case (c, r) => s"$c=${r.lo}" }.mkString(",")
      (if (e.partSpec.isEmpty || tuple.isEmpty) null else tuple,
        e.fileRows.lift(i).getOrElse(0L))
    }.toDF("partition", "rows")
      .groupBy("partition")
      .agg(count(lit(1)).as("n_files"), sum("rows").as("n_rows"))
  }

  /** Iceberg `refs` metadata table: every named ref — main, tags,
    * branches — with the kind and the seq it points at. Metadata-only.
    */
  def refsMeta: DataFrame = {
    import spark.implicits._
    val head = log.entries().lastOption.map(_.seq).getOrElse(-1L)
    val tagRows = tags.toSeq.map { case (n, s) => (n, "tag", s) }
    val brRows = branches.map { n =>
      (n, "branch", branch(n).snapshots.lastOption.map(_.seq).getOrElse(-1L))
    }
    (Seq(("main", "branch", head)) ++ tagRows ++ brRows)
      .toDF("name", "kind", "seq")
  }

  def filesMeta: DataFrame = {
    import spark.implicits._
    val live = log.state()
    val entriesBySeq = snapshots.map(e => e.seq -> e).toMap
    // per-entry file→index maps keep this O(files), not O(files²)
    val indexBySeq = entriesBySeq.map { case (s, e) =>
      s -> e.dataFiles.zipWithIndex.toMap
    }
    live._1.map { case (f, seq) =>
      val e = entriesBySeq(seq)
      val stats = indexBySeq(seq).get(f).flatMap(e.fileStats.lift).getOrElse(Map.empty)
        .toSeq.sortBy(_._1).map { case (c, r) => s"$c:[${r.lo},${r.hi}]" }
        .mkString(";")
      (f, seq, e.action, stats)
    }.toDF("path", "added_seq", "action", "file_stats")
  }

  /** The table's one scan planner: plan a read of the head snapshot
    * from a predicate. `where` splits at its top-level ANDs
    * ([[ScanPlan.conjuncts]]), and every conjunct that compares one
    * snapshot column (by exact, unqualified name) with non-null literals
    * prunes files:
    *  - `=`: per-file stats, every partition dimension on the column
    *    (bucket included) and the bloom probe ([[eqPrunes]]);
    *  - `>=`, `>`, `<=`, `<`, `BETWEEN`: the tightest lower and upper
    *    bound on the column, either one alone, as one interval in the
    *    column's kind ([[rangePrunes]]); a strict bound prunes by its
    *    closed superset;
    *  - the first `IN`: the union, over its values, of the files that
    *    value's equality prune keeps under all the other prunes — one
    *    plan that opens each surviving file once, where one read per
    *    value would pay a log read, a plan build and a union leg each.
    * Every other conjunct only filters. This is hidden partitioning plus
    * data skipping: the caller names only source columns, and a file is
    * dropped only when its recorded bounds, partition values or bloom
    * prove it cannot match, so `read` always answers what
    * `read().filter(where)` answers. At 100 TB it is the difference
    * between a point probe opening 3 files and opening 300,000.
    */
  def planScan(where: Expression): ScanPlan = {
    val entries = log.entries()
    val types = schemaFrom(entries).map(_.fields.map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty[String, DataType])
    def colOf(a: UnresolvedAttribute): Option[String] =
      Some(a.nameParts).collect { case Seq(c) if types.contains(c) => c }
    def valueOf(l: Literal): Option[Any] =
      Option(CatalystTypeConverters.convertToScala(l.value, l.dataType))
    val conj = ScanPlan.conjuncts(where)
    val eqs = conj.flatMap {
      case ScanPlan.Eq(a, l) => for (c <- colOf(a); v <- valueOf(l)) yield (c, v)
      case _ => None
    }
    val in = conj.iterator.flatMap {
      case ScanPlan.InList(a, ls) => colOf(a).map(_ -> ls.flatMap(valueOf))
      case _ => None
    }.nextOption()
    // each range side in its column's kind; the residual filter keeps every one
    val sides = conj.flatMap {
      case ScanPlan.Range(bs) => bs.flatMap(b => for {
        c <- colOf(b.col); v <- valueOf(b.value); s <- Bounds.rangeSide(v, types(c) == StringType, b.lower)
      } yield c -> s)
      case _ => Nil
    }
    val ranges = sides.map(_._1).distinct.map(c =>
      c -> rangePrunes(entries, c, sides.collect { case (`c`, r) => r }.reduce(_ intersect _)))
    val prunes = eqs.flatMap { case (c, v) => eqPrunes(entries, c, v) } ++ ranges.flatMap(_._2)
    val (data, dels) = in match {
      case None => CommitLog.stateFrom(entries, prunes)
      case Some((c, vs)) =>
        val states = vs.map(v => CommitLog.stateFrom(entries, prunes ++ eqPrunes(entries, c, v)))
        // first-seen order, one copy per file — the per-value states are
        // all subsets of the same snapshot state
        (states.flatMap(_._1).distinct, states.flatMap(_._2).distinct)
    }
    val applied = DeleteScope.reachable(entries, data, dels, deleteKeys)
    new ScanPlan(where, entries, data, applied,
      (eqs.map(_._1) ++ in.map(_._1) ++ ranges.map(_._1)).distinct,
      () => readPrunedState((data, applied), entries, scoped = true))
  }

  /** [[planScan]] of a predicate in SQL text, parsed by the session's
    * own parser: `t.planScan("ts_us BETWEEN 0 AND 86399999999").read`.
    */
  def planScan(where: String): ScanPlan =
    planScan(SparkShims.parseExpression(spark, where))

  /** point read: `colName = value` through [[planScan]]. */
  def readEq(colName: String, value: Any): DataFrame = planScan(ScanPlan.eq(colName, value)).read

  /** data files a [[readEq]] scan opens. */
  def prunedFileCountEq(colName: String, value: Any): Int =
    planScan(ScanPlan.eq(colName, value)).filesOpened

  /** range read: `colName BETWEEN lo AND hi` through [[planScan]]. */
  def readRange(colName: String, lo: BigDecimal, hi: BigDecimal): DataFrame =
    planScan(ScanPlan.closed(colName, lo, hi)).read

  /** data files a [[readRange]] scan opens. */
  def prunedFileCount(colName: String, lo: BigDecimal, hi: BigDecimal): Int =
    planScan(ScanPlan.closed(colName, lo, hi)).filesOpened

  /** range predicates on one column for `range`, its conjuncts' tightest
    * sides in the column's kind, either one optional. Each order-preserving
    * partition dimension of that kind over the column maps each side
    * through its monotone transform (truncstr: a prefix sorts ≤ all it
    * prefixes), scoped by `requireSpec` to entries written under THIS
    * spec (Iceberg's per-manifest spec-id scoping). A range never carries
    * a bloom probe, even when lo = hi.
    */
  private def rangePrunes(entries: Seq[LogEntry], colName: String, range: Interval): Seq[Prune] = {
    val specs = specsFrom(entries)
    val render = PartitionSpec.renderAll(specs)
    Prune(colName, range) +: specs.zipWithIndex.collect {
      case (sp, i) if sp.col == colName && sp.transform.orderPreserving &&
          sp.transform.stringValued == range.isStr =>
        Prune(partColFor(i), range.map {
          case Str(v) => partitionValueStrOf(sp, v).map(Str)
          case Num(v) => Some(Num(sp.transform.eval(v)))
        }, requireSpec = render)
    }.filter(_.range != Interval.Full)
  }

  /** equality predicates for one `col = value` conjunct of [[planScan]]
    * (and for the files updateWhereEq may rewrite).
    */
  private def eqPrunes(entries: Seq[LogEntry], colName: String, value: Any): Seq[Prune] = {
    val specs = specsFrom(entries)
    val render = PartitionSpec.renderAll(specs)
    lazy val colType =
      schemaFrom(entries).flatMap(_.fields.find(_.name == colName)).map(_.dataType)
    val partPrunes = specs.zipWithIndex.collect {
      // prune kind follows the PARTITION VALUE's kind, not the probe's:
      // bucket-on-string is numeric-valued (the hash IS the value),
      // truncstr is string-valued
      case (sp, i) if sp.col == colName && sp.transform.stringValued =>
        partitionValueStrOf(sp, value)
          .map(pv => Prune(partColFor(i), Interval.point(Str(pv)), requireSpec = render))
      case (sp, i) if sp.col == colName =>
        partitionValueOf(sp, value, colType)
          .map(pv => Prune(partColFor(i), Interval.point(Num(pv)), requireSpec = render))
    }.flatten
    // the bloom probe attaches only when its rendering provably equals
    // the write side's cast-to-string (exact-type matches; a DOUBLE
    // renders "150.0" vs an INT's "150", so near-matches get stats-only
    // pruning instead of a false-negative risk)
    val bloomVal: Option[String] = (colType, value) match {
      case (Some(org.apache.spark.sql.types.StringType), s: String) => Some(s)
      case (Some(IntegerType | LongType), v @ (_: Int | _: Long)) =>
        Some(v.toString)
      case _ => None
    }
    // the prune KIND follows the column's type; a probe of the other kind
    // prunes by partition values only, and the residual filter keeps the rows
    partPrunes ++ Bounds.probe(value, colType.contains(StringType))
      .map(Prune(colName, _, bloom = bloomVal))
  }

  private def readPruned(asOf: Long, prune: Seq[Prune],
      keepLineage: Boolean = false): DataFrame = {
    val entries = log.entries(asOf)
    readPrunedState(CommitLog.stateFrom(entries, prune), entries, keepLineage)
  }

  /** delete-file key bounds for [[DeleteScope]], from footers read on
    * the driver (and cached)
    */
  private def deleteKeys: String => DeleteScope.FileKeys = {
    val footer = Footers.reader(spark)
    DeleteScope.footerKeys(_, footer)
  }

  /** the merge-on-read view of `state`; `scoped`: [[planScan]] has
    * scoped its deletes to its data files already
    */
  private def readPrunedState(
      state: (Seq[(String, Long)], Seq[(String, Long, Seq[String])]),
      entries: Seq[LogEntry],
      keepLineage: Boolean = false,
      rowLineage: Boolean = false,
      scoped: Boolean = false): DataFrame = {
    val (dataFiles, liveDeletes) = state
    // schema as of any point of this read's history — drives field-id
    // alignment of old epochs onto the CURRENT schema (renames/widenings)
    val current = schemaFrom(entries)
    def schemaAtSeq(seq: Long) = schemaFrom(entries.filter(_.seq <= seq))
    if (dataFiles.isEmpty) {
      // preserve the table schema on an all-pruned/empty read so callers
      // (a ScanPlan's residual filter included) can still resolve columns
      return current match {
        case Some(sch) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        case None => spark.emptyDataFrame
      }
    }
    // positional-flavor deletes (positional files and deletion vectors)
    // address rows physically, so the scan must carry each row's (file,
    // ordinal) — also kept when the caller asked for lineage (readWithPos)
    // and while DERIVING row ids (base + ordinal) for rowLineage reads
    val needsPos = keepLineage || rowLineage ||
      liveDeletes.exists(d => CommitLog.isPositionalFlavor(d._3))
    // an equality delete no scanned file can hold is never read or joined
    val deleteFiles =
      if (scoped) liveDeletes else DeleteScope.reachable(entries, dataFiles, liveDeletes, deleteKeys)
    val byEntrySeq = entries.map(e => e.seq -> e).toMap
    // allowMissingColumns = add-column evolution on read: snapshots written
    // before a column was added contribute nulls for it; alignByFieldId
    // first maps each epoch's names/types onto the current schema by id.
    def readEpoch(seq: Long, files: Seq[String], bases: Map[String, Long]): DataFrame = {
      val raw0 = readParquet(files)
      val hasPhys = raw0.columns.contains(RowIdPhys)
      // physically materialized lineage (rewrites carry it) is internal:
      // it never reaches a plain read's output
      val raw = if (hasPhys && !rowLineage) raw0.drop(RowIdPhys, LastSeqPhys) else raw0
      val aligned = alignByFieldId(raw, schemaAtSeq(seq), current)
      // initial defaults (Iceberg v3): a current-schema field ABSENT from
      // this epoch's files reads its recorded default, not null — applied
      // per epoch BEFORE the union, so an explicit null written after the
      // column existed is never conflated with a pre-add row
      val df0 = current.map(_.fields.toSeq).getOrElse(Nil)
        .foldLeft(aligned) { (d, f) =>
          fieldDefault(f) match {
            case Some(dflt) if !d.columns.contains(f.name) =>
              d.withColumn(f.name, expr(dflt).cast(f.dataType))
            case _ => d
          }
        }
        .withColumn("_seq", lit(seq))
      val df1 =
        if (needsPos)
          df0.withColumn(FileCol, col("_metadata.file_path"))
            .withColumn(PosCol, col("_metadata.row_index"))
        else df0
      if (!rowLineage) df1
      else if (hasPhys)
        // rewritten files carry their rows' ORIGINAL ids physically
        df1.withColumn(RowIdCol, col(RowIdPhys))
          .withColumn(LastSeqCol, col(LastSeqPhys))
          .drop(RowIdPhys, LastSeqPhys)
      else {
        // manifest-derived (Iceberg v3 inherited) ids: file base + row
        // ordinal. The base map is O(files of this entry) metadata; both
        // the _metadata URI and the log path normalize through fileKey,
        // so bases survive a table move. Entries without recorded bases
        // (pre-lineage history) surface null ids, never invented ones.
        val idCol =
          if (bases.isEmpty) lit(null).cast("long")
          else try_element_at(typedLit(bases), fileKey(col(FileCol))) + col(PosCol)
        df1.withColumn(RowIdCol, idCol)
          .withColumn(LastSeqCol, lit(seq))
      }
    }
    val scanned = dataFiles
      .groupBy(_._2).toSeq.sortBy(_._1)
      .flatMap { case (seq, files) =>
        val marked: Map[String, Long] = byEntrySeq.get(seq)
          .filter(_.fileRowIds.nonEmpty)
          .map(e => e.dataFiles.zip(e.fileRowIds).toMap).getOrElse(Map.empty)
        // files that materialize lineage PHYSICALLY (marker -2, e.g.
        // compactSmall's packed output) read separately from manifest-
        // derived siblings adopted into the same entry: their parquet
        // schemas differ by the lineage columns, and one mixed scan would
        // resolve against whichever file the reader sampled first
        val (physF, plainF) = files.partition(f => marked.get(f._1).contains(-2L))
        // -1 = adopted file with no recorded lineage: skip, not base -1
        val bases = marked.filter(_._2 >= 0)
          .map { case (f, b) => fileKeyOf(f) -> b }
        Seq(physF, plainF).filter(_.nonEmpty)
          .map(fs => readEpoch(seq, fs.map(_._1), bases))
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    // a current column absent from EVERY scanned epoch (a pruned read
    // that opens only files written before the column was added) still
    // reads null: the output schema must not depend on what was pruned
    val data = current.map(_.fields.toSeq).getOrElse(Nil)
      .filterNot(f => scanned.columns.contains(f.name))
      .foldLeft(scanned)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val result = deleteFiles.groupBy(x => (x._2, x._3)).toSeq.sortBy(_._1._1)
      .foldLeft(data) { case (acc, ((dseq, eqCols), files)) =>
        if (eqCols == CommitLog.DvCols) {
          // deletion vectors: broadcast the (one row per data file) DV
          // relation and drop rows whose ordinal's bit is set — a row-
          // local O(1) probe, no anti-join. No seq guard: positions name
          // immutable rows, and files appended after the DV are simply
          // absent from its map (left join keeps them). try_element_at:
          // an ordinal past the bitmap's tail means "not deleted".
          val dv = readParquet(files.map(_._1))
            .select(fileKey(col(FileCol)).as("_dvf"), col(DvWordsCol).as("_dvw"))
          acc.join(broadcast(dv), fileKey(col(FileCol)) === col("_dvf"), "left")
            .filter(col("_dvw").isNull ||
              coalesce(
                expr(s"shiftright(try_element_at(_dvw, int($PosCol div 64) + 1), " +
                  s"int($PosCol % 64)) & 1"),
                lit(0L)) === 0L)
            .drop("_dvf", "_dvw")
        } else if (eqCols.isEmpty) {
          // positional flavor: drop exactly the addressed rows. The seq
          // guard is redundant (files are immutable, an address can only
          // name a row that predates the delete) but kept for symmetry.
          val dels = readParquet(files.map(_._1))
            .select(fileKey(col(FileCol)).as(s"_d$FileCol"), col(PosCol).as(s"_d$PosCol"))
          acc.join(dels,
            fileKey(col(FileCol)) === col(s"_d$FileCol") && col(PosCol) === col(s"_d$PosCol") &&
              (col("_seq") < lit(dseq)), "left_anti")
        } else {
          // equality keys were recorded under the names current AT DELETE
          // time; resolve them to today's names by field id so a delete
          // still applies after the key column was renamed (Iceberg scopes
          // delete files by field id the same way).
          val toCurrent: Map[String, String] = (schemaAtSeq(dseq), current) match {
            case (Some(a), Some(c)) =>
              val curById = c.fields.flatMap(f => fieldId(f).map(_ -> f.name)).toMap
              a.fields.flatMap(f => fieldId(f).flatMap(curById.get).map(f.name -> _)).toMap
            case _ => Map.empty
          }
          // prefix the delete-side keys so the anti-join condition is
          // unambiguous; left_anti output keeps only left columns.
          val dels = readParquet(files.map(_._1))
            .select(eqCols.map(c => col(c).as(s"_d_${toCurrent.getOrElse(c, c)}")): _*)
          // strictly-less: an equality delete applies to data committed
          // BEFORE it — data in the same (mixed) commit is untouched,
          // matching Iceberg's sequence-number rule.
          val keyCond = eqCols.map(toCurrent.withDefault(identity))
            .map(c => col(c) <=> col(s"_d_$c")).reduce(_ && _)
          acc.join(dels, keyCond && (col("_seq") < lit(dseq)), "left_anti")
        }
      }
    val cleaned = result.drop("_seq")
    if (keepLineage) cleaned else cleaned.drop(FileCol, PosCol)
  }

  /** per-file stats and blooms of already-committed files, for adoption
    * by path (rollbackTo's metadata-only branch, compactSmall's kept
    * files): the recorded metadata travels with the file so a replace
    * that never reads it also never degrades its pruning.
    */
  private def adoptedMeta(entries: Seq[LogEntry], files: Seq[(String, Long)])
      : (Seq[Map[String, Recorded]], Seq[Map[String, String]]) = {
    val byEntry = entries.map(e => e.seq -> e).toMap
    val metas = files.map { case (f, s) =>
      val e = byEntry(s)
      val i = e.dataFiles.indexOf(f)
      (e.fileStats.lift(i).getOrElse(Map.empty[String, Recorded]),
        CommitLog.bloomsOf(e).lift(i).getOrElse(Map.empty[String, String]))
    }
    (metas.map(_._1), metas.map(_._2))
  }

  /** row-lineage metadata of already-committed files, for adoption by
    * path: each file keeps its recorded (row count, first-row-id base).
    * Files without recorded lineage adopt the -1 sentinel (the read path
    * skips it — their rows read null ids, exactly as before adoption).
    * Adoption re-groups files under the adopting entry's seq, so derived
    * `_last_seq` re-stamps to the adopting replace for these rows — a
    * documented divergence from a full compact, which materializes the
    * original last-update seq physically.
    */
  private def adoptedLineage(entries: Seq[LogEntry], files: Seq[(String, Long)])
      : (Seq[Long], Seq[Long]) = {
    val byEntry = entries.map(e => e.seq -> e).toMap
    val rr = files.map { case (f, s) =>
      val e = byEntry(s)
      val i = e.dataFiles.indexOf(f)
      (e.fileRows.lift(i).getOrElse(0L), e.fileRowIds.lift(i).getOrElse(-1L))
    }
    (rr.map(_._1), rr.map(_._2))
  }

  /** The MoR view prepared for a REWRITE: when the table carries row
    * lineage, the view includes each row's id and last-update seq under
    * the reserved PHYSICAL column names, so writing it materializes
    * lineage into the new files and the ids survive the rewrite (Iceberg
    * v3 rewrites carry row ids into rewritten files the same way).
    * Callers record `logicalSchemaOf(view)` in the replace entry — the
    * physical lineage columns never enter the logical schema — and pass
    * the current nextRowId as the entry's rowIdHigh so the id counter
    * survives even after expiration drops the entries that advanced it.
    */
  private def rewriteSource(entries: Seq[LogEntry],
      state: (Seq[(String, Long)], Seq[(String, Long, Seq[String])])): DataFrame =
    if (!materializes(entries)) readPrunedState(state, entries)
    else readPrunedState(state, entries, rowLineage = true)
      .withColumnRenamed(RowIdCol, RowIdPhys)
      .withColumnRenamed(LastSeqCol, LastSeqPhys)

  /** whether a rewrite of `entries`' state materializes row lineage: the
    * table carries it
    */
  private def materializes(entries: Seq[LogEntry]): Boolean = entries.exists(_.rowIdHigh >= 0)

  /** The schema a flat replace entry records (the latest in `entries`)
    * and whether every live file of `live` was written under it: a
    * replace entry holds one schema and reads its files in ONE scan, so
    * it can adopt them by path, or scan them together, only then. A
    * metadata-only rename or widen after the last data commit changes the
    * recorded schema without touching any file.
    */
  private def liveSchema(entries: Seq[LogEntry], live: Seq[(String, Long)]): (String, Boolean) = {
    val schemaJson =
      entries.filter(_.schemaJson.nonEmpty).lastOption.map(_.schemaJson).getOrElse("")
    val liveSeqs = live.map(_._2).toSet
    (schemaJson, (entries.filter(e => liveSeqs(e.seq) && e.dataFiles.nonEmpty)
      .map(_.schemaJson) :+ schemaJson).distinct.size <= 1)
  }

  /** Every `replace` that stages files, through [[writeAndCommit]]: `out`
    * (None: nothing staged) is written as the data shard, laid out by
    * `layout`, and replaces the live set of `entries` — all of it, or all
    * but the files `adopt` keeps by path. Row lineage materializes when
    * `entries` carry it; the commit validates against `base` (default
    * `entries`) and carries its id counter forward. Returns the entry's
    * seq and the fresh files.
    */
  private def rewriteCommit(op: String, entries: Seq[LogEntry], out: Option[DataFrame],
      derive: Derive, schemaJson: => String, layout: Seq[PartitionSpec] = Nil,
      partSpec: String = "", base: Option[Seq[LogEntry]] = None,
      adopt: Option[Seq[(String, Long)]] = None): (Long, Seq[String]) = {
    val b = base.getOrElse(entries)
    writeAndCommit(op, "replace", derive.copy(partDims = layout.size),
      Rewritten(materializes(entries), CommitLog.nextRowId(b)), schemaJson = schemaJson,
      partSpec = if (layout.isEmpty) partSpec else PartitionSpec.renderAll(layout),
      base = Some(b), adopt = adopt.map(entries -> _))(shard =>
      out.foreach(writeLaidOut(_, layout, shard("data"))))
  }

  /** PhysLineage marker for every file of a fresh lineage-materializing
    * rewrite: fileRowIds = -2 tells the read path these files carry their
    * ids physically (see readPrunedState's split). No marker when the
    * table has no lineage.
    */
  private def physMarkers(files: Seq[String], materialized: Boolean)
      : (Seq[Long], Seq[Long]) =
    if (!materialized) (Nil, Nil)
    else (files.map(_ => 0L), files.map(_ => -2L))

  private def logicalSchemaOf(view: DataFrame): StructType =
    view.drop(RowIdPhys, LastSeqPhys).schema

  /** Schema stamp for a MATERIALIZING rewrite (compact / sorted / z-order
    * / copy-on-write): the CURRENT schema's fields with their existing
    * ids (types taken from the view, so a type-changing update keeps its
    * id through the promotion) — never re-derived from the view's full
    * column list. The view also carries pass-through columns of DROPPED
    * fields (history stays readable through the rewrite); stamping those
    * would RESURRECT them into the head schema with fresh ids, making
    * compaction visible to reads and laundering orphaned values into a
    * later re-added same-name column. They are written physically but
    * stay OUT of the recorded schema; alignByFieldId passes them through
    * by name exactly like the un-rewritten originals.
    */
  private def materializedSchemaJson(view: DataFrame): String = {
    val v = logicalSchemaOf(view)
    schemaAt() match {
      case Some(c) =>
        val vByName = v.fields.map(f => f.name -> f).toMap
        StructType(c.fields.flatMap(cf =>
          vByName.get(cf.name).map(vf => cf.copy(dataType = vf.dataType)))).json
      case None => idSchemaJson(v)
    }
  }

  /** Optimistic concurrency for state-dependent rewrites (Iceberg's
    * replace-commit validation, r7): each attempt rebuilds its content
    * from a fresh log read and hands commit() the committed-seq set it
    * built from; commit throws [[CommitConflictException]] when that set
    * drifted — a concurrent commit landed, or a staged transaction
    * PUBLISHED, between the read and the claim (the check runs under the
    * table's maintenance lock, the same lock transact publishes under,
    * so it cannot itself race the marker). Without this, a replace built
    * from a stale read silently swallows the concurrent rows — the
    * classic compaction lost-update. Retrying re-runs the whole rewrite
    * (Spark jobs included): conflicts are maintenance-vs-ingest races
    * and rare, and the rebuild is the only correct response. Appends
    * never validate, never lock, never wait — ingest is unaffected.
    */
  private def rewriteRetry[A](f: => A): A = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= 6) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** compaction: materialize the MoR view into fresh files and commit a
    * `replace` — deletes are folded in, history before the replace is
    * superseded (but still time-travelable). With `statsCols`/`bloomCols`
    * the fresh files record skipping metadata like an append's would.
    * Row lineage is materialized into the rewritten files (see
    * [[rewriteSource]]), so readWithLineage returns identical ids across
    * the rewrite.
    */
  def compact(statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long =
    rewriteRetry(compactOnce(statsCols, bloomCols))

  private def compactOnce(statsCols: Seq[String], bloomCols: Seq[String]): Long = {
    val entries = log.entries()
    val view = rewriteSource(entries, CommitLog.stateFrom(entries))
    rewriteCommit("compact", entries, Some(view), Derive(statsCols, bloomCols),
      materializedSchemaJson(view))._1
  }

  /** Partition-layout-PRESERVING compaction: the MoR view rewrites under
    * `spec` with appendPartitioned's write shape (repartition by the
    * partition value → one file per value, exact [v, v] partition stats
    * per file) and commits as a REPLACE that records the spec — so
    * partition pruning keeps working across the rewrite. A plain
    * [[compact]] writes an unpartitioned blob and silently DROPS the
    * layout: every later partition-scoped probe falls back to whatever
    * plain column stats the compact recorded, and bucket-transform
    * pruning (which only works spec-scoped) is lost entirely. At 100 TB
    * a partitioned fact compacts THIS way, partition by partition.
    */
  def compactPartitioned(spec: PartitionSpec, statsCols: Seq[String] = Nil): Long =
    rewriteRetry(compactPartitionedOnce(spec, statsCols))

  private def compactPartitionedOnce(spec: PartitionSpec, statsCols: Seq[String]): Long = {
    val entries = log.entries()
    require(entries.nonEmpty, "compact on an empty table")
    val view = rewriteSource(entries, CommitLog.stateFrom(entries))
    rewriteCommit("compactPartitioned", entries, Some(view), Derive(statsCols),
      materializedSchemaJson(view), layout = Seq(spec))._1
  }

  /** Bin-packing small-file compaction (Iceberg's rewrite_data_files
    * binpack with its min-input-size filter): consolidate ONLY the live
    * files smaller than `targetBytes` into ~targetBytes outputs; files
    * already at size are ADOPTED BY PATH with their recorded per-file
    * stats and blooms — pure metadata for them, no read, no write. This
    * is the 100 TB difference from compact(): a steady-ingest table
    * accumulates a small-file tail every epoch, and the maintenance job
    * should pay for that tail, never for the healthy bulk a full rewrite
    * would copy (at 100 TB a full compact IS a 100 TB write).
    *
    * Pending equality deletes are applied, not folded by a full rewrite:
    * the files a pending delete can touch ([[DeleteScope]]: older than
    * the delete, with bounds that can hold its keys) are rewritten with
    * the deletes applied, each on its own, never merged or shuffled with
    * other files, so it keeps its key clustering; every other file is adopted,
    * and the replace carries no delete file. Pending deletes that touch
    * no file give a metadata-only replace.
    *
    * Falls back to a full compact() when a positional delete or deletion
    * vector is pending, or when the live files straddle a schema
    * boundary — rollbackTo's conditions, for the same structural reasons
    * (a replace entry carries one flat file list and one schema, so it
    * can neither re-scope positional deletes, which name rows by file and
    * ordinal, nor align mixed physical schemas). With fewer than two
    * small files and no pending delete there is nothing to do: no
    * commit, the current head seq is returned. The replace records no partition
    * spec (like rollbackTo); adopted files keep pruning through their
    * per-file stats, and the next partitioned rewrite re-establishes
    * spec pruning. With `statsCols`/`bloomCols`, the NEW packed files
    * get fresh stats/blooms, so consolidation never degrades skipping.
    */
  def compactSmall(targetBytes: Long, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long =
    rewriteRetry(compactSmallOnce(targetBytes, statsCols, bloomCols))

  private def compactSmallOnce(targetBytes: Long, statsCols: Seq[String],
      bloomCols: Seq[String]): Long = {
    val entries = log.entries()
    require(entries.nonEmpty, "compactSmall on an empty table")
    val (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    val (schemaJson, uniformSchema) = liveSchema(entries, dataFiles)
    // the full-rewrite fallback records the SAME skipping metadata the
    // caller asked for — a maintenance op must never erase pruning
    if (deleteFiles.exists(d => CommitLog.isPositionalFlavor(d._3)) || !uniformSchema)
      return compact(statsCols, bloomCols)
    val sized = dataFiles.map { case (f, s) => (f, s, Files.size(Paths.get(f))) }
    val small = sized.filter(_._3 < targetBytes)
    val packed = if (small.size >= 2) small else Nil
    if (packed.isEmpty && deleteFiles.isEmpty) return entries.last.seq // nothing to pack
    // the files a pending equality delete can touch are rewritten with it
    // applied; the replace then carries no delete file
    val reach = DeleteScope.reach(entries, deleteFiles, deleteKeys).map(_._2)
    val packedPaths = packed.map(_._1).toSet
    val touched = sized.filter(x => !packedPaths(x._1) && reach.exists(_((x._1, x._2))))
    val rewritten = packedPaths ++ touched.map(_._1)
    val kept = sized.filterNot(x => rewritten(x._1))
    val outFiles =
      math.max(1, math.ceil(packed.map(_._3).sum.toDouble / targetBytes).toInt)
    // all read through the lineage-aware MoR view, deletes applied: the
    // rewritten files materialize their rows' original ids physically,
    // exactly like a full compact's output. Small files are packed into
    // outFiles; each touched file is its own view, written as read, so
    // no read split merges it with another and it keeps its key
    // clustering and its pruning.
    val views = (Seq(packed -> true).filter(_._1.nonEmpty) ++ touched.map(f => Seq(f) -> false))
      .map { case (fs, pack) =>
        val v = rewriteSource(entries, (fs.map(x => (x._1, x._2)), deleteFiles))
        if (pack) v.repartition(outFiles) else v
      }
    rewriteCommit("compactSmall", entries,
      views.reduceOption(_.unionByName(_, allowMissingColumns = true)),
      Derive(statsCols, bloomCols), schemaJson, adopt = Some(kept.map(x => (x._1, x._2))))._1
  }

  /** Backfill per-file column stats (Iceberg's compute-stats
    * maintenance): a METADATA-ONLY replace adopting every live file by
    * path, attaching min/max bounds for `statsCols` read from the files'
    * parquet footers — no data read or rewritten, blooms and row lineage
    * carried over, existing bounds merged under the fresh ones. The op
    * that turns a table ingested WITHOUT stats into a skipping-capable
    * one, paying one footer read per file instead of a full rewrite.
    * Preconditions mirror the other
    * metadata-only replaces — pending deletes or a schema straddle fall
    * back to compact(statsCols), which records the same bounds on its
    * rewritten output. Like rollbackTo's adoption, the replace records
    * no partition spec; per-file partition-value stats keep pruning
    * source-column bounds.
    */
  def recomputeStats(statsCols: Seq[String]): Long =
    rewriteRetry(recomputeStatsOnce(statsCols))

  private def recomputeStatsOnce(statsCols: Seq[String]): Long = {
    require(statsCols.nonEmpty, "recomputeStats: name at least one column")
    val entries = log.entries()
    require(entries.nonEmpty, "recomputeStats on an empty table")
    val (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    val (schemaJson, uniformSchema) = liveSchema(entries, dataFiles)
    if (deleteFiles.nonEmpty || !uniformSchema) return compact(statsCols)
    val files = dataFiles.map(_._1)
    val fresh = derived(files, Derive(statsCols), NoLineage)
    val (oldStats, oldBlooms) = adoptedMeta(entries, dataFiles)
    val (rows, ids) = adoptedLineage(entries, dataFiles)
    val merged = oldStats.zip(fresh.fileStats).map { case (o, f) => o ++ f }
    log.commit("replace", dataFiles = files,
      stats = fresh.fold,
      schemaJson = schemaJson, fileStats = merged, fileBlooms = oldBlooms,
      fileRows = rows, fileRowIds = ids,
      rowIdHigh = CommitLog.nextRowId(entries),
      expectedCommittedSeqs = Some(entries.map(_.seq).toSet))
  }

  /** Roll the table back to its committed state at `seq` (Iceberg
    * rollback): a NEW `replace` commit — history is preserved, the
    * rolled-over snapshots stay time-travelable until expiration.
    *
    * When the target state carries no pending delete files (the common
    * case — e.g. right after a compaction generation) AND every
    * file-contributing entry at or below the target recorded the same
    * schema, the rollback is METADATA-ONLY: the old files are reinstated
    * by path with their per-file stats carried over, no data is read or
    * written. Otherwise the target view is materialized into fresh files
    * (as compaction does). Both conditions are load-bearing: a replace
    * entry holds one flat file list, so it cannot re-encode multiple
    * delete scopes, and it reads all its files in ONE scan, so it cannot
    * align files whose physical schemas straddle a rename/widen boundary
    * (the normal read path aligns per source epoch; a flat adoption
    * would mis-merge them).
    * The reinstating entry records no partition spec, so spec-scoped
    * partition pruning degrades to never-prune-blind for those files
    * (the preserved per-file partition-value stats still prune
    * source-column bounds); the next compaction re-establishes full
    * pruning.
    */
  def rollbackTo(seq: Long): Long = rewriteRetry(rollbackToOnce(seq))

  private def rollbackToOnce(seq: Long): Long = {
    val entries = log.entries(seq)
    require(entries.nonEmpty, s"no committed snapshot at or before $seq")
    val (dataFiles, deleteFiles) = CommitLog.stateFrom(entries)
    val (schemaJson, uniformSchema) = liveSchema(entries, dataFiles)
    // the id counter must NEVER regress — derive it from the FULL log,
    // not the rollback target: ids assigned after `seq` stay burned.
    // The full committed set is also the rewrite's conflict base: a
    // commit landing ANYWHERE (even above the target) while the rollback
    // builds would be silently superseded by the replace.
    val base = Some(log.entries())
    if (deleteFiles.isEmpty && uniformSchema)
      // metadata-only: adopt the live files by path, keep their stats
      // AND blooms (a rollback must not reopen the point-read pruning
      // gap the filters were recorded to close) and their row lineage
      rewriteCommit("rollbackTo", entries, None, Derive(), schemaJson, base = base,
        adopt = Some(dataFiles))._1
    else rewriteCommit("rollbackTo", entries,
      Some(rewriteSource(entries, (dataFiles, deleteFiles))), Derive(), schemaJson,
      base = base)._1
  }

  /** Sort-clustered compaction (Iceberg's rewrite_data_files with a sort
    * order): the MoR view is range-repartitioned on `sortCol` into
    * `numFiles` files with DISJOINT value ranges, and per-file bounds are
    * recorded. After this, a bounded read opens only the files whose
    * range intersects — on an unsorted table every file straddles the
    * whole domain and nothing prunes; clustering is what converts file
    * stats into actual skipped I/O. This is the standard maintenance step
    * that keeps a 100 TB time-series table readable by key range.
    */
  def compactSorted(sortCol: String, numFiles: Int): Long =
    rewriteRetry(compactSortedOnce(sortCol, numFiles))

  private def compactSortedOnce(sortCol: String, numFiles: Int): Long = {
    val entries = log.entries()
    val view = rewriteSource(entries, CommitLog.stateFrom(entries))
    rewriteCommit("compactSorted", entries,
      Some(view.repartitionByRange(numFiles, col(sortCol)).sortWithinPartitions(sortCol)),
      Derive(Seq(sortCol)), materializedSchemaJson(view))._1
  }

  /** Z-order compaction (Iceberg's rewrite_data_files with zorder(a, b)):
    * interleave the bits of the min-max-normalized dimension values and
    * cluster files by equal Z-VALUE RANGES, so per-file bounds shrink on
    * BOTH dimensions at once — a lexicographic sort only ever prunes its
    * leading column. numFiles must be a power of 4: each file then covers
    * exactly one cell of the √n × √n quadrant grid, which also makes the
    * file layout deterministic (explicit z-range bucketing, not sampled
    * range boundaries — RangePartitioner's reservoir sampling could
    * otherwise wobble a file edge across a quadrant line and flip the
    * pruning counts this rewrite exists to improve).
    *
    * The min/max normalization bounds come from one aggregate collect —
    * metadata-sized (1 row), the same driver-side scale as the per-file
    * stats fold. Null dimension values normalize to 0 (sort first).
    */
  def compactZOrder(cols: Seq[String], numFiles: Int): Long =
    rewriteRetry(compactZOrderOnce(cols, numFiles))

  private def compactZOrderOnce(cols: Seq[String], numFiles: Int): Long = {
    require(cols.size == 2, "z-order is implemented for two dimensions")
    require(Set(4, 16, 64, 256)(numFiles), s"numFiles must be a power of 4, got $numFiles")
    val entries = log.entries()
    val view = rewriteSource(entries, CommitLog.stateFrom(entries))
    val Seq(a, b) = cols
    val bounds = view.agg(
      min(col(a)).cast("double"), max(col(a)).cast("double"),
      min(col(b)).cast("double"), max(col(b)).cast("double")).collect()(0)
    // an empty view (everything deleted) or an all-null dimension has no
    // bounds: treat it as a zero-span dim (norm = 0), so the rewrite
    // degenerates to the same empty/flat replace any compaction produces
    // instead of throwing on a null min (found by the model fuzzer)
    def bd(i: Int): Double = if (bounds.isNullAt(i)) 0.0 else bounds.getDouble(i)
    def norm(c: String, lo: Double, hi: Double): Column = {
      val span = hi - lo
      if (span <= 0) lit(0L)
      else least(lit(65535L), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) * 65535.0 / span).cast("long")))
    }
    // Morton spread: value bit i -> z bit 2i (the other dim fills 2i+1)
    def spreadBits(c: Column): Column =
      (0 until 16).map(i => shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 2 * i))
        .reduce(_ bitwiseOR _)
    val z = spreadBits(norm(a, bd(0), bd(1)))
      .bitwiseOR(shiftleft(spreadBits(norm(b, bd(2), bd(3))), 1))
    // explicit equal z-range bucket per file: top log2(numFiles) bits
    val shift = 32 - (math.log(numFiles) / math.log(2)).round.toInt
    val zq = shiftright(z, shift)
    val outCols = view.columns.map(col).toIndexedSeq
    rewriteCommit("compactZOrder", entries,
      Some(view
        .withColumn("_zval", z).withColumn("_zq", zq)
        .repartitionByRange(numFiles, col("_zq"))
        .sortWithinPartitions("_zval")
        .select(outCols: _*)),
      Derive(cols), materializedSchemaJson(view))._1
  }

  /** Orphan-file removal WITHOUT expiration (Iceberg's standalone
    * remove_orphan_files): delete parquet files under data/ and deletes/
    * that NO log entry references — the debris of crashed or still-racing
    * writers, which wrote files but never won (or reached) a commit. No
    * snapshot is touched: all history stays travelable, unlike
    * expireSnapshots which trades history for space. `olderThanMs` is the
    * safety horizon (Iceberg's older_than): an in-flight writer's files
    * are younger than it and survive; the default (3h, Iceberg's) makes
    * the maintenance job safe to run beside live ingest. Returns the
    * number of files removed.
    */
  /** Every data/delete file any REF of this table still references: the
    * main log plus every branch's copied log. A branch shares its base
    * history's files with main BY PATH (createBranch copies metadata
    * only), so a maintenance sweep that consulted main's log alone would
    * delete files an un-published audit branch still reads — breaking
    * branch reads and the later publishBranch replay. Iceberg's
    * remove_orphan_files / expire_snapshots are ref-aware for branches
    * the same way they are for tags.
    */
  /** canonical (absolute, normalized) file set referenced by head or any
    * branch — resolved entry paths are already canonical, but normalize
    * again defensively: the sweeps below DELETE whatever fails to match,
    * so a representation mismatch (table opened via a relative or
    * dot-infixed root) must never read as "unreferenced".
    */
  private def referencedByAnyRef: Set[Path] = {
    val branchEntries = branches.flatMap(n => new CommitLog(branchRoot(n)).entries())
    // pending txn entries count as references: their transaction may
    // still publish, so sweeps must not reclaim staged files until
    // expiration retires the abandoned entry (TxnAbandonHorizonMs)
    (log.entries() ++ log.pendingEntries ++ branchEntries)
      .flatMap(e => e.dataFiles ++ e.deleteFiles)
      .map(Paths.get(_).toAbsolutePath.normalize).toSet
  }

  def removeOrphanFiles(olderThanMs: Long = 3L * 3600 * 1000): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    val referenced = referencedByAnyRef
    val victims = Seq("data", "deletes").flatMap { kind =>
      val dir = root.resolve(kind)
      if (!Files.exists(dir)) Nil
      else walked(dir)(_.toSeq).filter { p =>
        p.getFileName.toString.endsWith(".parquet") &&
          !referenced.contains(p.toAbsolutePath.normalize) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      }
    }
    victims.foreach(Files.delete)
    // bloom-sidecar sweep (r8): a sidecar whose entry expired (or whose
    // commit lost every CAS attempt) is debris like an orphan shard.
    // Ref-aware exactly as the data sweep: the main log, PENDING txn
    // entries and every branch's log keep their sidecars; the age gate
    // protects a committer between sidecar write and CAS claim.
    val bloomRefs =
      (log.entries() ++ log.pendingEntries ++
        branches.flatMap(n => new CommitLog(branchRoot(n)).entries()))
        .map(_.bloomsRef).filter(_.nonEmpty)
        .map(Paths.get(_).toAbsolutePath.normalize).toSet
    val pf = root.resolve("_log").resolve("_puffin")
    val bloomVictims =
      if (!Files.exists(pf)) Nil
      else walked(pf)(_.toSeq).filter { p =>
        p.getFileName.toString.endsWith(".json") &&
          !bloomRefs.contains(p.toAbsolutePath.normalize) &&
          Files.getLastModifiedTime(p).toMillis < cutoff
      }
    bloomVictims.foreach(Files.delete)
    victims.size + bloomVictims.size
  }

  /** Snapshot expiration + orphan-file removal (Iceberg's
    * expire_snapshots ∘ remove_orphan_files): compacts the current MoR
    * view into a replace commit, drops every older log entry, and deletes
    * data/delete files no longer referenced. Reads are unchanged; time
    * travel before the expiration point is — deliberately — gone, which
    * is what bounds metadata and reclaims storage on a long-lived table.
    *
    * `orphanOlderThanMs` age-gates the file sweep exactly like
    * [[removeOrphanFiles]]: a concurrent writer that has staged parquet
    * but not yet committed is referenced by NOTHING, and a zero-horizon
    * sweep would delete its files out from under the commit (r7). The
    * default stays 0 — immediate, provable reclamation is the
    * GDPR-erasure contract this op anchors (t_gdpr_erasure pins that
    * every byte is gone) — so a deployment running expiration BESIDE
    * live ingest passes the same 3h horizon removeOrphanFiles defaults
    * to; one paused for maintenance keeps 0.
    */
  def expireSnapshots(orphanOlderThanMs: Long = 0L): Long = {
    // 0 = no gate at all (never "this millisecond's files survive" —
    // a same-ms compact output must stay immediately reclaimable-around)
    val cutoff =
      if (orphanOlderThanMs <= 0) Long.MaxValue
      else System.currentTimeMillis() - orphanOlderThanMs
    val seq = compact()
    // tagged snapshots are retained (Iceberg's ref-aware retention): a
    // tag's replay needs every entry from its last preceding `replace`
    // (its history base) through the tag itself, so expiration keeps
    // everything from the earliest such base; orphan removal keeps every
    // data AND delete file referenced at head or at any tag
    val all = log.entries()
    def baseFor(at: Long): Long =
      all.filter(e => e.seq <= at && e.action == "replace")
        .lastOption.map(_.seq).getOrElse(0L)
    val keepFrom = (log.tags.values.toSeq.map(baseFor) :+ seq).min
    // properties are LOG-FOLDED, so dropping pre-base entries would
    // silently lose every assignment they carried — governance policies
    // would stop masking, and idempotence watermarks (txn.*) would reset,
    // letting a replayed streaming batch double-append. Re-stamp the
    // pre-expiration fold when expiration changed it (Iceberg keeps
    // properties in table metadata OUTSIDE snapshots for this reason).
    // Re-stamp ONLY keys no SURVIVING entry touches: a concurrent
    // set/unset lands with seq > keepFrom, survives expiration, and must
    // win over the stale pre-expiration fold — blanket-re-stamping
    // savedProps would clobber it (lost update). A key untouched by every
    // surviving entry can only have been assigned by dropped entries, so
    // its re-stamp races with nothing.
    val savedProps = properties()
    log.expireBefore(keepFrom)
    // pendingEntries too: a STAGED entry's props land when its txn
    // publishes, and they must win over this re-stamp exactly like a
    // committed survivor's — making the key set structural means a
    // staged-props kind (say a governance assignment inside a txn)
    // cannot re-open the lost-update window (r10 verdict watch item).
    // EXCEPT numeric txn.* watermarks: those fold by MAX (and only
    // those — the fold keeps last-write for non-numeric txn.* values,
    // so the exemption tests the VALUES, not just the prefix; r11
    // review), so a re-stamp can never clobber a later published
    // value — and suppressing their re-stamp WOULD be a real bug: an
    // ABANDONED stage carrying txn.app=12 would silently erase the
    // committed watermark 10 when expiration drops its entry
    // (invisible stage + no re-stamp = no fold input at all), and a
    // replayed batch at version 10 would double-append — the
    // exactly-once hole the re-stamp exists to close. Last-write-fold
    // keys accept the narrower trade: an abandoned stage suppresses
    // their re-stamp until the abandonment horizon retires it —
    // strictly safer than a re-stamp racing (and out-folding) a
    // concurrent publish.
    val pendingSuppressed = log.pendingEntries.flatMap(_.props.toSeq).collect {
      case (k, v) if !(k.startsWith("txn.") && v.toLongOption.isDefined &&
          savedProps.get(k).forall(_.toLongOption.isDefined)) => k
    }.toSet
    val touchedBySurvivors =
      log.entries().flatMap(_.props.keys).toSet ++ pendingSuppressed
    val droppedOnly = savedProps.filter { case (k, _) => !touchedBySurvivors.contains(k) }
    if (droppedOnly.nonEmpty)
      log.commit("props", props = droppedOnly)
    // keep every file any RETAINED entry references (head, tags, and the
    // time-travel points between them stay readable); only files of
    // dropped entries are orphans
    val referenced = referencedByAnyRef
    Seq("data", "deletes").foreach { kind =>
      val dir = root.resolve(kind)
      if (Files.exists(dir)) {
        walked(dir)(_.toSeq)
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            !referenced.contains(p.toAbsolutePath.normalize) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
          .foreach(Files.delete)
      }
    }
    seq
  }

  /** schema recorded at (the latest data commit ≤) `seq` — the evolution
    * history a catalog would serve.
    */
  def schemaAt(seq: Long = Long.MaxValue): Option[org.apache.spark.sql.types.StructType] =
    schemaFrom(log.entries(seq))

  def snapshots: Seq[LogEntry] = log.entries()
  def headSeq: Long = log.headSeq()
  def commitLog: CommitLog = log

  /** The LIVE partition layout: the most recent commit that recorded a
    * partition spec. Every surface that makes a layout decision —
    * SQL INSERT's partitioned append, dynamic partition overwrite,
    * layout-preserving compaction, DESCRIBE/SHOW CREATE rendering —
    * resolves through here, so they can never drift apart (r11 review:
    * four hand-rolled copies of this lookup).
    */
  def currentLayout: Option[String] =
    log.entries().reverse.collectFirst { case e if e.partSpec.nonEmpty => e.partSpec }

  /** [[currentLayout]] parsed all-or-nothing: Nil when unpartitioned OR
    * when any dimension fails to parse (PartitionSpec.parseAll's
    * never-act-at-the-wrong-granularity contract).
    */
  def currentSpecs: Seq[PartitionSpec] =
    currentLayout.map(PartitionSpec.parseAll).getOrElse(Nil)
}

/** How [[GraftTable.deleteWhereRange]] handled each live data file:
  * `dropped` left the file list without being read, `kept` were adopted
  * verbatim, `rewritten` straddled the range and were filtered+rewritten.
  * dropped + kept + rewritten-source = the pre-delete live file count
  * (on the copy-on-write fallback path, kept = 0 and rewritten counts
  * the OUTPUT files of the full rewrite).
  */
final case class DeleteWhereReport(seq: Long, dropped: Int, kept: Int, rewritten: Int)

object GraftTable {
  /** field-metadata key holding a column's stable field id */
  private[table] val FidKey = "graft_fid"

  /** What a staged write derives from its fresh data files: per-file
    * bounds for `statsCols` and their commit-level fold, blooms for
    * `bloomCols` at `bloomBits`, and the exact [v, v] values of the first
    * `partDims` partition dimensions, read from the directory names.
    */
  private final case class Derive(statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomBits: Int = Bloom.DefaultM, partDims: Int = 0)

  /** How a commit records its fresh data files' row lineage. */
  private sealed trait Lineage
  /** none: the commit stages delete files only */
  private case object NoLineage extends Lineage
  /** footer row counts; the commit assigns the files fresh row ids */
  private case object Assign extends Lineage
  /** a rewrite's output, carrying its rows' ids physically when
    * `materialized` ([[physMarkers]]); the entry carries the id counter
    * `rowIdHigh` forward
    */
  private final case class Rewritten(materialized: Boolean, rowIdHigh: Long) extends Lineage

  /** Metadata derived from fresh data files by [[derived]]. */
  private final case class Derived(files: Seq[String],
      fold: Seq[(String, Recorded)], fileStats: Seq[Map[String, Recorded]],
      blooms: Seq[Map[String, String]], rows: Seq[Long], ids: Seq[Long])

  /** idempotent create: drop-if-exists then create — the reference's
    * init() shape (lib.rs:44-78: exists → drop → create).
    */
  def createOrReplace(spark: SparkSession, dir: String): GraftTable = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
    Files.createDirectories(p)
    new GraftTable(spark, p)
  }

  def open(spark: SparkSession, dir: String): GraftTable =
    new GraftTable(spark, Paths.get(dir))
}
