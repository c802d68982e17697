package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Catalyst-integrated reads over a [[SnapshotStore]] table.
  *
  * [[SnapshotStore.read]] prunes files from predicates the CALLER passes
  * explicitly (`partValues` / `colRanges`) — correct, but it forks the
  * query API: an operator composing over a snapshot table has to thread
  * its filters to the read call by hand, and anything Catalyst derives
  * later (a pushed-down join bound, a constant-folded predicate) never
  * reaches the manifest. This module closes that gap the way the
  * lakehouse formats do (Delta's TahoeFileIndex / Iceberg's
  * SparkScanBuilder): a custom [[FileIndex]] backs an ordinary
  * parquet `HadoopFsRelation`, and `listFiles` — invoked by
  * `FileSourceStrategy` at PLANNING time with the query's own pushed
  * data filters — translates those Catalyst expressions into the
  * manifest's partition-dir + per-file-range pruning. An ordinary
  * `df.filter($"k" === x)` then skips files with zero caller
  * cooperation, and every Spark optimization over file sources
  * (column pruning, filter pushdown into row groups, DPP on the
  * partition dirs' redundant data column) applies unchanged.
  *
  * Soundness: translation is CONSERVATIVE. A conjunct it cannot map
  * (wrong type, non-stats column, non-literal bound) prunes nothing —
  * the parquet scan still evaluates every filter, so pruning is purely
  * an efficiency layer. A file is skipped only when some translated
  * range is provably disjoint with the file's recorded [lo,hi] — the
  * same rule [[SnapshotStore.prunedFiles]] applies; files without a
  * recorded range are always read.
  *
  * Deletion vectors: a version whose entries carry DV sidecars gets the
  * same `(file, row_index)` anti-join [[SnapshotStore.read]] applies,
  * layered ON TOP of the relation — filters on data columns still push
  * below the (left-anti) join into the scan, so manifest pruning
  * composes with merge-on-read deletes.
  *
  * 100 TB: this is the read path that makes the snapshot layer a Spark
  * citizen at scale — planning-time file pruning from the sectioned
  * manifest (partition-scoped section reads) rather than an
  * enumerate-then-filter of a million FileStatuses, and the relation's
  * `sizeInBytes` reflects the PRUNED table so join-strategy sizing
  * (broadcast decisions) sees the real scan volume.
  */
object SnapshotRelation {

  /** The table as a DataFrame whose scan prunes files at planning time
    * from ordinary query filters (see object doc).
    *
    * @param partCol the logical column the table is hive-partitioned by
    *   (the writer's `partCol`; not persisted by the store, same contract
    *   as [[SnapshotStore.merge]]). Equality/IN filters on it prune whole
    *   partition dirs — with a sectioned manifest, without reading the
    *   non-matching sections at all.
    */
  def frame(spark: SparkSession, root: String, asOf: Option[Long] = None,
            partCol: Option[String] = None): DataFrame = {
    val v = asOf.orElse(SnapshotStore.currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val m = SnapshotStore.manifestAt(root, v)
    val schema = m.schema.getOrElse(
      throw new IllegalStateException(
        s"version $v of $root predates schema recording; use SnapshotStore.read"))
    val entries = SnapshotStore.entriesOf(root, m)
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val index = new SnapshotFileIndex(root, v, schema, partCol)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    val base = spark.baseRelationToDataFrame(relation)
    val dvRefs = entries.flatMap(SnapshotStore.entryDvs).distinct
    if (dvRefs.isEmpty) base
    else {
      // Merge-on-read: mask DV'd (file, row_index) pairs exactly like
      // SnapshotStore.scanEntries. Applied over ALL rows (a DV pair can
      // only match its own file, so plain files pass untouched) — one
      // scan, and the left-anti join keeps data filters pushable.
      val dv = spark.read
        .parquet(dvRefs.map(r =>
          Paths.get(root, SnapshotStore.DvDir, r).toString): _*)
        .select(col("file").as("__file"), col("pos").as("__pos"))
      base
        .withColumn("__file",
          expr("substring_index(_metadata.file_path, '/data/', -1)"))
        .withColumn("__pos", col("_metadata.row_index"))
        .join(dv, Seq("__file", "__pos"), "left_anti")
        .drop("__file", "__pos")
    }
  }

  /** Conjunctive filter translation: Catalyst expressions → the store's
    * (partition values, per-column key ranges). Returns None when the
    * conjunction is provably unsatisfiable on some column (empty range /
    * empty partition set) — zero files need listing. Exposed for the
    * spec; every arm is conservative (see object doc).
    */
  private[sources] def translate(
      filters: Seq[Expression], partCol: Option[String],
      statsCols: Seq[String])
      : Option[(Option[Set[String]], Map[String, (Long, Long)])] = {

    // Key-space image of a literal under the manifest's stats encoding:
    // integral/date/timestamp stats are the raw long; strings go through
    // the order-preserving 8-byte-prefix key. Doubles/decimals are NOT
    // handled — fileRanges records them truncated, so a translated range
    // could unsoundly skip; they fall to the parquet scan.
    def key(v: Any, dt: DataType): Option[Long] = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(v match {
          case n: java.lang.Number => n.longValue
          case other => other.toString.toLong
        })
      case StringType => Some(SnapshotStore.stringKey(v.toString))
      case _ => None
    }
    // The raw value a partition filter compares against, rendered the
    // way merge/prunedFiles expect (partDir escapes it).
    def partVal(v: Any, dt: DataType): Option[String] = dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType => Some(String.valueOf(v))
      case _ => None // dates/timestamps render engine-specifically; skip
    }
    def isPart(a: Attribute) = partCol.exists(_.equalsIgnoreCase(a.name))
    def statsCol(a: Attribute): Option[String] =
      statsCols.find(_.equalsIgnoreCase(a.name))

    var parts: Option[Set[String]] = None
    var ranges = Map.empty[String, (Long, Long)]
    var unsat = false

    def addParts(vals: Set[String]): Unit = {
      val next = parts.fold(vals)(_ intersect vals)
      if (next.isEmpty) unsat = true
      parts = Some(next)
    }
    def addRange(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      val merged = (math.max(l0, lo), math.min(h0, hi))
      if (merged._1 > merged._2) unsat = true
      ranges += c -> merged
    }

    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: Attribute, Literal(v, dt)) if v != null => eq(a, v, dt)
      case EqualTo(Literal(v, dt), a: Attribute) if v != null => eq(a, v, dt)
      case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null => eq(a, v, dt)
      case EqualNullSafe(Literal(v, dt), a: Attribute) if v != null => eq(a, v, dt)
      case In(a: Attribute, list) if list.nonEmpty && list.forall {
            case Literal(v, _) => v != null; case _ => false } =>
        val lits = list.collect { case Literal(v, dt) => (v, dt) }
        if (isPart(a)) {
          val vals = lits.flatMap { case (v, dt) => partVal(v, dt) }
          if (vals.length == lits.length) addParts(vals.toSet)
        }
        statsCol(a).foreach { c =>
          val keys = lits.flatMap { case (v, dt) => key(v, dt) }
          if (keys.length == lits.length) addRange(c, keys.min, keys.max)
        }
      case GreaterThan(a: Attribute, Literal(v, dt)) if v != null => lower(a, v, dt)
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) if v != null => lower(a, v, dt)
      case LessThan(a: Attribute, Literal(v, dt)) if v != null => upper(a, v, dt)
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) if v != null => upper(a, v, dt)
      case GreaterThan(Literal(v, dt), a: Attribute) if v != null => upper(a, v, dt)
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) if v != null => upper(a, v, dt)
      case LessThan(Literal(v, dt), a: Attribute) if v != null => lower(a, v, dt)
      case LessThanOrEqual(Literal(v, dt), a: Attribute) if v != null => lower(a, v, dt)
      case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
        statsCol(a).foreach { c =>
          val (lo, hi) = SnapshotStore.stringPrefixRange(v.toString)
          addRange(c, lo, hi)
        }
      case _ => () // not translatable: prunes nothing, scan re-checks
    }
    // Strict bounds are widened to inclusive key ranges on purpose: for
    // strings the prefix key collapses distinct values anyway, and an
    // inclusive envelope is always sound.
    def eq(a: Attribute, v: Any, dt: DataType): Unit = {
      if (isPart(a)) partVal(v, dt).foreach(s => addParts(Set(s)))
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, k, k)
    }
    def lower(a: Attribute, v: Any, dt: DataType): Unit =
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, k, Long.MaxValue)
    def upper(a: Attribute, v: Any, dt: DataType): Unit =
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, Long.MinValue, k)

    filters.foreach(walk)
    if (unsat) None else Some((parts, ranges))
  }
}

/** [[FileIndex]] over one pinned version of a [[SnapshotStore]] table.
  * Planning-time `listFiles` maps the query's pushed filters onto the
  * manifest's partition/section/range pruning; see [[SnapshotRelation]].
  */
private[sources] final class SnapshotFileIndex(
    root: String, version: Long, schema: StructType,
    partCol: Option[String]) extends FileIndex {

  private val statsColNames = SnapshotStore.statsCols(root)
  private def abs(entry: String): java.nio.file.Path =
    Paths.get(root, "data", SnapshotStore.entryPath(entry))

  private def statuses(entries: Seq[String]): Seq[FileStatus] =
    entries.map { e =>
      val p = abs(e)
      new FileStatus(Files.size(p), false, 1, 128L << 20, 0L,
        new HPath(p.toUri))
    }

  // All data columns live in the files (the writer duplicates the
  // partition column; the __part dirs are redundant metadata), so the
  // relation is unpartitioned to Spark and EVERY filter arrives as a
  // data filter — partition-dir pruning happens inside translate.
  override def partitionSchema: StructType = new StructType()

  override def rootPaths: Seq[HPath] =
    Seq(new HPath(Paths.get(root, "data").toUri))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned = SnapshotRelation.translate(
      partitionFilters ++ dataFilters, partCol, statsColNames) match {
      case None => Nil // conjunction provably unsatisfiable
      case Some((parts, ranges)) =>
        SnapshotStore.prunedFiles(root, version, parts, None, ranges)
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses(pruned).toArray))
  }

  override lazy val inputFiles: Array[String] =
    SnapshotStore.entriesAt(root, version).map(e => abs(e).toString).toArray

  override def refresh(): Unit = () // pinned version: nothing to refresh

  override lazy val sizeInBytes: Long =
    SnapshotStore.entriesAt(root, version).map(e => Files.size(abs(e))).sum
}
