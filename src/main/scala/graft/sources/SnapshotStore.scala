package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-isolated table layout over plain parquet — the transactional
  * core a lakehouse format (Iceberg/Delta) adds on top of exactly the
  * directory shape `Sinks` writes, built here from first principles
  * because neither format is on this classpath.
  *
  * The mechanism is the standard one:
  *
  *   - DATA FILES ARE IMMUTABLE. Every write lands under
  *     `table/data/<commitUuid>/…` and is never modified or deleted by a
  *     later commit (until an explicit vacuum).
  *   - A MANIFEST names the exact file set of one table version:
  *     `table/_manifests/v<13-digit>.json` → list of data-file paths
  *     relative to the table root (+ row count for audit, + optional
  *     writer transaction marker, + optional per-file column stats).
  *   - COMMIT = exclusive publish of the next manifest: the bytes are
  *     written and fsynced under a hidden tmp name, then hard-linked to
  *     the version's name ([[Manifest.publish]]). The link is atomic and
  *     exclusive, so a reader never sees a partial manifest and two racing
  *     writers race for the same version number with exactly one winner
  *     (Delta and Iceberg publish their logs the same way on
  *     filesystems). The loser REBASES automatically when the two
  *     write sets are disjoint ([[commitRebasing]] — driver-side manifest
  *     math, the finished data files are reused) and surfaces a
  *     [[SnapshotConflictException]] only on a true intersection
  *     (optimistic concurrency, no locks).
  *   - READ pins a version: list manifests once, take the max (or an
  *     explicit `asOf`), then read ONLY that manifest's files. A reader
  *     never observes a half-written commit — uncommitted data files are
  *     invisible because no manifest names them, and replaced files stay
  *     readable because commits never delete. This is the isolation
  *     `Sinks.mergeIntoPartitioned` documents it lacks.
  *   - CDC between versions is a MANIFEST SET DIFF ([[changes]]): the
  *     net row delta v1→v2 is exactly (rows of files added) exceptAll
  *     (rows of files removed) — cost proportional to touched files,
  *     never table size.
  *   - Idempotent writers: a commit may carry a `(appId, batchId)`
  *     transaction marker; [[lastTxn]] lets a restarted streaming writer
  *     skip a batch it already published (the Delta `txn` action).
  *
  * Scale posture: a commit writes the NEW data files plus one manifest
  * (KBs–MBs of file names), never rewrites history; a read adds one
  * directory listing + one manifest parse over the plain-parquet cost.
  * Partition-grained replacement keeps merge cost proportional to touched
  * partitions, same as the non-transactional sink. What a real format
  * adds beyond this core — manifest trees for million-file tables,
  * catalog-level atomicity across tables — is noted in SURVEY §7.4; the
  * isolation/time-travel/conflict/CDC contract is fully here and
  * spec-gated (SnapshotStoreSpec).
  */
object SnapshotStore {

  final class SnapshotConflictException(msg: String) extends RuntimeException(msg)

  private val ManifestDir = "_manifests"
  private val SectionDir = "sections"

  /** Above this file count a commit writes the SECTIONED manifest layout
    * (measured: the flat layout is driver-bound at million-file scale —
    * 4.9 s parse, 11 s CDC diff, 95 MB text at 1e6 entries; see
    * BASELINE.md). Sections are partition-grouped,
    * content-addressed files read lazily: a partition-pruned read parses
    * only matching sections, an incremental diff skips identical section
    * refs wholesale, and a commit re-writes only sections whose content
    * changed (Iceberg's manifest-list idea on the same primitives).
    * Package-visible so the spec can gate the layout at small counts.
    */
  private[graft] var sectionThreshold = 50000

  private[graft] val DvDir = "_dv"

  /** A manifest entry is a root-relative data-file path, optionally
    * annotated `path#dv=ref1;ref2` with the deletion-vector files that
    * apply to it (position-delete sidecars under `_dv/`, the Delta-DV /
    * Iceberg-position-delete idea). The annotation is part of the entry
    * STRING, so the manifest set-diff machinery ([[changedFiles]],
    * section content addressing) sees a DV-delete commit as remove(old
    * entry) + add(annotated entry) — CDC and incremental diffs work
    * unchanged, and [[changes]]' exceptAll algebra yields exactly the
    * deleted rows.
    */
  private[graft] def entryPath(e: String): String = {
    val i = e.indexOf("#dv=")
    if (i < 0) e else e.substring(0, i)
  }

  private[graft] def entryDvs(e: String): Seq[String] = {
    val i = e.indexOf("#dv=")
    if (i < 0) Nil
    else e.substring(i + 4).split(';').toSeq.filter(_.nonEmpty)
  }

  private def renderEntry(path: String, dvs: Seq[String]): String =
    if (dvs.isEmpty) path else path + "#dv=" + dvs.mkString(";")

  /** DV-aware scan of manifest entries: plain entries read as a direct
    * multi-path parquet scan (full pushdown, zero overhead); annotated
    * entries anti-join their positions against the union of their DV
    * files on (file, row_index) — the merge-on-read path, which
    * [[compact]] collapses back to plain files. The file identity rides
    * `_metadata.file_path`'s root-relative tail, matching the writer's
    * manifest rendering (every component under data/ is writer-
    * controlled, so '/data/' cannot recur inside a path).
    */
  private def scanEntries(spark: SparkSession, root: String,
                          entries: Seq[String],
                          schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    val reader = schema.fold(spark.read)(spark.read.schema)
    def paths(es: Seq[String]) =
      es.map(e => Paths.get(root, "data", entryPath(e)).toString)
    val (dvE, plainE) = entries.partition(e => entryDvs(e).nonEmpty)
    val plain =
      if (plainE.isEmpty) None else Some(reader.parquet(paths(plainE): _*))
    val masked = if (dvE.isEmpty) None else {
      val refs = dvE.flatMap(entryDvs).distinct
      val dv = spark.read
        .parquet(refs.map(r => Paths.get(root, DvDir, r).toString): _*)
        .select(col("file").as("__file"), col("pos").as("__pos"))
      val scan = reader.parquet(paths(dvE): _*)
        .withColumn("__file",
          expr("substring_index(_metadata.file_path, '/data/', -1)"))
        .withColumn("__pos", col("_metadata.row_index"))
      // No broadcast hint: DV parquet sizes are visible to Catalyst, so
      // the (typically tiny) DV side broadcasts on its own stats and a
      // pathological huge DV still gets a sane shuffled anti-join.
      Some(scan.join(dv, Seq("__file", "__pos"), "left_anti")
        .drop("__file", "__pos"))
    }
    (plain, masked) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException("scanEntries on empty list")
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  private def manifestPath(root: String, version: Long): Path =
    Paths.get(root, ManifestDir, f"v$version%013d.json")

  /** Whether `root` holds a snapshot table (has a manifest log). */
  def isTable(root: String): Boolean = Files.isDirectory(Paths.get(root, ManifestDir))

  /** When `version` was published: its manifest's mtime (the file is
    * linked into place whole and never rewritten).
    */
  def committedAtMillis(root: String, version: Long): Long =
    Files.getLastModifiedTime(manifestPath(root, version)).toMillis

  /** The one parse of `version`'s manifest; every field accessor below
    * projects it. A truncated or malformed manifest throws naming the file.
    */
  private[graft] def manifestAt(root: String, version: Long): Manifest =
    Manifest.read(manifestPath(root, version), statsCols(root).headOption)

  /** All committed versions, ascending (empty for a non-table path). A
    * publish's hidden tmp file (`.v…json.<uuid>.tmp`) is not a version.
    */
  def versions(root: String): Seq[Long] = {
    val dir = Paths.get(root, ManifestDir)
    if (!Files.isDirectory(dir)) return Nil
    val it = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
    } finally it.close()
  }

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** Per-file per-column [lo,hi] ranges: file → (column → range). */
  private[graft] type FileStats = Map[String, Map[String, (Long, Long)]]

  /** Order-preserving 8-byte-prefix key for STRING stats columns. A
    * string column's per-file range is harvested as the encoding of the
    * footer min/max's first 8 UTF-8 bytes (the same truncated-binary-
    * stats idea parquet itself uses), so string predicates prune through
    * the SAME signed-Long range machinery as integral columns — no
    * manifest format change. Truncation only ever widens a file's range
    * (prefixing is weakly monotone in byte order), so pruning stays
    * sound: equal prefixes collapse to equal keys and the file is read,
    * never skipped. Missing bytes pad with 0x00 and the unsigned byte
    * order maps onto signed Long order by flipping the top bit.
    *
    * Probe shapes against a declared string stats column:
    *   - equality / full bounds: `stringKey(s)` on both ends
    *     (`col = s` → `(stringKey(s), stringKey(s))`,
    *     `lo <= col <= hi` → `(stringKey(lo), stringKey(hi))`)
    *   - prefix probe (`col LIKE 'p%'`): [[stringPrefixRange]]
    */
  def stringKey(s: String): Long =
    prefixKey(s.getBytes(StandardCharsets.UTF_8), 0x00)

  /** [lo,hi] key range covering every string that starts with `p` (pads
    * the bytes past the prefix with 0x00 / 0xFF respectively).
    */
  def stringPrefixRange(p: String): (Long, Long) = {
    val b = p.getBytes(StandardCharsets.UTF_8)
    (prefixKey(b, 0x00), prefixKey(b, 0xFF))
  }

  private def prefixKey(bytes: Array[Byte], pad: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xFF else pad & 0xFF)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** The `__part=<v>` path component Spark's hive layout writes for value
    * `v` — special characters percent-escaped exactly as Spark escapes
    * them at write time, null as the hive default-partition sentinel.
    * Rendering through the SAME escaper the writer uses is what makes the
    * merge/prune path tests sound for string partition values (a space or
    * ':' in the value, or a null, would otherwise silently miss the dir
    * and carry stale files forward).
    */
  private def partDir(value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // Spark's own rendering (ExternalCatalogUtils.getPartitionPathString)
    // maps BOTH null and the empty string to the hive default-partition
    // sentinel — mirror it fully, or a merge touching a ""-valued
    // partition misses the dir and carries stale files forward.
    if (value == null || value.toString.isEmpty)
      s"__part=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"__part=${ExternalCatalogUtils.escapePathName(value.toString)}"
  }

  /** The partition column recorded IN version `v`'s manifest:
    * `Some(Some(c))` partitioned, `Some(None)` explicitly unpartitioned,
    * `None` when the manifest predates the embedded record (legacy).
    */
  private[graft] def partColAt(root: String, version: Long): Option[Option[String]] =
    manifestAt(root, version).partCol

  /** The row-identity key a keyed commit (MERGE INTO, keyed upsert)
    * declares in its manifest — what lets [[changes]] pair that commit's
    * delete+insert rows into update_preimage/update_postimage images (the
    * Delta CDF contract).
    */
  private[graft] def changeKeyAt(root: String, version: Long): Option[Seq[String]] =
    manifestAt(root, version).changeKey

  /** The partition-dir → section-ref map of a sectioned manifest; None
    * for the flat layout.
    */
  private[graft] def sectionsAt(root: String, version: Long): Option[Seq[(String, String)]] =
    manifestAt(root, version).sections

  /** One section: newline-separated `path` or `path<TAB>{"col":[lo,hi],…}`
    * lines — per-file stats ride the section so a pruned read never
    * touches table-proportional metadata.
    */
  private def readSection(root: String, ref: String): Seq[(String, Map[String, (Long, Long)])] = {
    val p = Paths.get(root, ManifestDir, SectionDir, ref)
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    if (txt.isEmpty) Nil
    else txt.split('\n').toSeq.map(Manifest.parseSectionLine(_, p.toString))
  }

  /** The table schema recorded at `version` — commits write it so reads
    * are inference-free and SCHEMA EVOLUTION works: a file written before
    * a column existed simply yields nulls for it when scanned under the
    * newer schema (parquet's standard missing-column fill). None only for
    * manifests predating schema recording.
    */
  def schemaAt(root: String, version: Long): Option[org.apache.spark.sql.types.StructType] =
    manifestAt(root, version).schema

  /** Per-file per-column ranges recorded at `version` (empty when the
    * table declares no stats columns). Keys are root-relative paths.
    */
  private[graft] def statsAt(root: String, version: Long): FileStats =
    statsOf(root, manifestAt(root, version))

  /** Per-file ranges of one parsed manifest: the flat layout carries
    * them inline (legacy single-column maps land on the first declared
    * stats column, so pre-change tables keep their file-skipping and the
    * next commit re-renders them nested); sections carry them per line.
    */
  private def statsOf(root: String, m: Manifest): FileStats = m.sections match {
    case Some(refs) =>
      refs.flatMap { case (_, ref) => readSection(root, ref) }.filter(_._2.nonEmpty).toMap
    case None => m.ranges
  }

  /** The declared stats columns (table-level config, set once at create;
    * order is the [[read]] `keyRange` shorthand's binding: it targets the
    * FIRST declared column).
    */
  def statsCols(root: String): Seq[String] = {
    // 'stats_col' (singular) is the pre-multi-column file name — read it
    // as a fallback so tables written before the rename keep their
    // declared column and its file-skipping.
    val candidates = Seq("stats_cols", "stats_col")
      .map(n => Paths.get(root, ManifestDir, n))
    candidates.find(Files.exists(_)).fold(Seq.empty[String]) { p =>
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
  }

  /** [lo,hi] per declared stats column across one parquet file, from
    * its FOOTER only (no data read; parquet-hadoop ships with Spark).
    * Integral-backed types (int/long/date/timestamp/short-decimal) use
    * the footer value directly; STRING/BINARY columns harvest the
    * order-preserving [[stringKey]] of the footer min/max (truncation is
    * a widening, so a parquet-side truncated max stays an upper bound).
    * Columns missing, unsupported, or all-null in the file get no entry
    * — such files are never skipped on that column.
    */
  private def fileRanges(abs: Path, colNames: Seq[String]): Map[String, (Long, Long)] = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      colNames.flatMap { colName =>
        val ranges = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == colName).flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: Number, mx: Number) => Some((mn.longValue, mx.longValue))
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) =>
                Some((prefixKey(mn.getBytes, 0x00), prefixKey(mx.getBytes, 0x00)))
              case _ => None
            }
          }
        }
        if (ranges.isEmpty) None
        else Some(colName -> (ranges.map(_._1).min, ranges.map(_._2).max))
      }.toMap
    } finally r.close()
  }

  /** Exact row count of one written parquet file from its FOOTER only
    * (block metadata — no data pages touched). Summing these over a
    * commit's files gives the manifest's exact row count without a
    * second plan execution or any block-store pin of the content.
    */
  private def footerRowCount(abs: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs.toUri),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount
    finally r.close()
  }

  private def statsFor(root: String, files: Seq[String]): Option[(Seq[String], FileStats)] = {
    val cols = statsCols(root)
    if (cols.isEmpty) None
    else Some(cols -> files.map(f =>
      f -> fileRanges(Paths.get(root, "data", f), cols))
      .filter(_._2.nonEmpty).toMap)
  }

  /** Every entry of one parsed manifest, sorted (sections read in full). */
  private[graft] def entriesOf(root: String, m: Manifest): Seq[String] =
    m.sections.fold(m.files) { refs =>
      refs.flatMap { case (_, ref) => readSection(root, ref).map(_._1) }.sorted
    }

  /** The manifest-recorded row count of `version` (full snapshots record
    * their exact count; incremental commits record -1 — appends don't
    * re-count history).
    */
  def rowsAt(root: String, version: Long): Long = manifestAt(root, version).rows

  /** Data-file paths (absolute) of one version. */
  def filesAt(root: String, version: Long): Seq[String] =
    entriesAt(root, version)
      .map(rel => Paths.get(root, "data", entryPath(rel)).toString)

  /** Raw manifest entries of `version` (root-relative, DV annotations
    * intact) — what [[SnapshotRelation]]'s file index plans over.
    */
  private[graft] def entriesAt(root: String, version: Long): Seq[String] =
    entriesOf(root, manifestAt(root, version))

  /** The most recent batch id committed by writer `appId` at or before the
    * current version — the restarted-streaming-writer replay guard: a
    * foreachBatch sink skips any batchId <= this (see
    * [[graft.streaming.SnapshotSink]]).
    */
  def lastTxn(root: String, appId: String): Option[Long] = {
    val fromLive = versions(root).reverse.iterator.flatMap { v =>
      manifestAt(root, v).txn.filter(_._1 == appId).map(_._2)
    }.nextOption()
    // Vacuum may have pruned the manifest that carried this app's latest
    // marker — the checkpoint preserves it (Delta's SetTransaction state),
    // so the exactly-once replay guard survives retention. batchIds are
    // strictly increasing per app, so max is the latest.
    (fromLive.toSeq ++ txnCheckpoint(root).get(appId).toSeq).maxOption
  }

  /** App → latest batch markers carried forward by [[vacuum]] out of
    * pruned manifests. Lives beside the manifests; vacuum never deletes it.
    */
  private def txnCheckpoint(root: String): Map[String, Long] = {
    val p = Paths.get(root, ManifestDir, "txn_checkpoint.json")
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      Manifest.readJson(p).properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }
  }

  private def writeTxnCheckpoint(root: String, state: Map[String, Long]): Unit = {
    val p = Paths.get(root, ManifestDir, "txn_checkpoint.json")
    val body = Manifest.renderJson { g =>
      g.writeStartObject()
      state.toSeq.sortBy(_._1).foreach { case (app, b) => g.writeNumberField(app, b) }
      g.writeEndObject()
    }
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write `df` as immutable parquet under a fresh commit dir; return the
    * root-relative file paths. One parquet directory per commit — the
    * files inside get parquet's own part-file names.
    *
    * Partitioned commits write a SHADOW `__part` directory column and keep
    * the user's column in the data files: reads are then plain multi-path
    * scans (no cross-commit partition inference — Spark rejects key=value
    * dirs nested under differing commit uuids), and partition pruning
    * happens at the MANIFEST level ([[read]]'s partValues) — file-list
    * pruning before the scan, the same layer a table format prunes at.
    */
  private[graft] def writeDataFiles(df: DataFrame, root: String,
                                    partCol: Option[String]): Seq[String] = {
    val commitId = java.util.UUID.randomUUID().toString
    val dir = Paths.get(root, "data", commitId)
    val w = partCol match {
      case Some(c) => df.withColumn("__part", col(c)).write.mode("error")
        .partitionBy("__part")
      case None => df.write.mode("error")
    }
    w.parquet(dir.toString)
    import scala.jdk.CollectionConverters._
    val it = Files.walk(dir)
    try it.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .map(p => Paths.get(root, "data").relativize(p).toString)
      .toSeq
    finally it.close()
  }

  /** Atomically publish `files` as version `next`. Throws
    * [[SnapshotConflictException]] if another writer committed `next`
    * first — the caller's read-compute-commit cycle must restart from the
    * new current version (its survivor set may be stale).
    */
  private[graft] def commit(root: String, next: Long, files: Seq[String],
                            rows: Long,
                            stats: Option[(Seq[String], FileStats)] = None,
                            txn: Option[(String, Long)] = None,
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            partCol: Option[String] = None,
                            changeKey: Option[Seq[String]] = None): Long = {
    val record = Manifest(rows, schema.map(_.json), Some(partCol),
      changeKey, txn, stats.map(_._1))
    val manifest =
      if (files.length >= sectionThreshold) {
        // Sectioned layout: group by partition dir ("" = unpartitioned),
        // content-address each group. An untouched partition re-renders
        // to the SAME hash → same ref, no write — commit IO is
        // proportional to touched partitions, and incremental diffs skip
        // identical refs wholesale.
        val statsMap: FileStats = stats.map(_._2).getOrElse(Map.empty)
        val byPart = files.groupBy(f =>
          f.split('/').find(_.startsWith("__part=")).getOrElse(""))
        val secDir = Paths.get(root, ManifestDir, SectionDir)
        Files.createDirectories(secDir)
        val refs = byPart.toSeq.sortBy(_._1).map { case (pd, fs) =>
          val bodyTxt = fs.sorted.map(f =>
            Manifest.renderSectionLine(f, statsMap.getOrElse(f, Map.empty)))
            .mkString("\n")
          val ref = md5Hex(bodyTxt) + ".list"
          val sp = secDir.resolve(ref)
          if (!Files.exists(sp)) {
            // Content-addressed: two writers racing on the same content
            // produce the same bytes — the lost move is benign.
            val tmp = secDir.resolve(ref + "." + java.util.UUID.randomUUID() + ".tmp")
            Files.write(tmp, bodyTxt.getBytes(StandardCharsets.UTF_8))
            try Files.move(tmp, sp, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch { case _: java.nio.file.FileAlreadyExistsException =>
              Files.deleteIfExists(tmp) }
          }
          pd -> ref
        }
        record.copy(sections = Some(refs))
      } else record.copy(files = files, ranges = stats.fold(Map.empty: FileStats)(_._2))
    if (!Manifest.publish(manifestPath(root, next), Manifest.render(manifest)))
      throw new SnapshotConflictException(
        s"version $next already committed by a concurrent writer at $root")
    next
  }

  /** How many times an incremental writer rebases onto concurrent commits
    * before giving up (each rebase is driver-side manifest math, no data
    * rewrite — the bound exists only to turn a livelock into an error).
    */
  private val MaxRebases = 20

  /** Optimistic-retry commit — the Delta/Iceberg commit-protocol idea.
    * Publishes `(entries(base) − replaced) ++ added`; when a concurrent
    * writer wins the version race, instead of surfacing the conflict this
    * RE-VALIDATES the write set against the new current version and, if
    * the two commits are disjoint, re-derives the manifest on top of it
    * (a rebase: driver-side set math only — the already-written data
    * files are untouched). On a 1000-writer cluster this is the
    * difference between "concurrent ingest works" and "every collision
    * aborts a task's finished work".
    *
    * Rebase is REFUSED (the conflict propagates) when the concurrent
    * commit actually intersects this one:
    *   - any `replaced` entry is gone from the current manifest — the
    *     files this commit rewrites were themselves rewritten (write-write
    *     overlap: racing merges/deletes/compactions of the same rows);
    *   - `conflictOnAddsIn = Some(dirs)` and a concurrent commit ADDED
    *     files under a touched partition dir — a read-modify-write whose
    *     row-level outcome (e.g. merge key uniqueness within the
    *     partition) assumed it saw the whole partition;
    *   - `conflictOnAddsIn = None` (whole-table write set, e.g. an
    *     unpartitioned delete) and the concurrent commit added anything;
    *   - the table schema changed between `base` and current.
    *
    * `conflictOnAddsIn = Some(Set.empty)` declares a write with no
    * partition-level read set: a blind append (pure addition) or a
    * compaction (row movement only) — these rebase over concurrent
    * appends anywhere and conflict only through the `replaced` rule.
    *
    * Isolation level, stated honestly: this is write-serializable, not
    * strictly serializable — a delete/merge serializes AT ITS SNAPSHOT, so
    * rows appended concurrently to partitions it did not rewrite are not
    * re-scanned (the outcome equals "delete, then append"), the same
    * WriteSerializable default Delta documents.
    */
  private[graft] def commitRebasing(root: String, base: Long,
      replaced: Seq[String], added: Seq[String],
      conflictOnAddsIn: Option[Set[String]],
      rows: Long,
      freshStats: Option[(Seq[String], FileStats)],
      txn: Option[(String, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      partCol: Option[String] = None,
      changeKey: Option[Seq[String]] = None): Long = {
    val replacedSet = replaced.toSet
    def dirOf(e: String) =
      entryPath(e).split('/').find(_.startsWith("__part=")).getOrElse("")
    // One parse per attempt: the base this attempt derives from.
    var b = base
    var bm = if (base >= 0) Some(manifestAt(root, base)) else None
    // The layout this write's files were produced against: what the base
    // manifest recorded (authoritative), or the caller's declaration for
    // writers on legacy/fresh tables.
    val writeLayout: Option[Option[String]] =
      bm.flatMap(_.partCol).orElse(Some(partCol).filter(_.isDefined))
    var attempts = 0
    while (true) {
      val baseEntries = bm.fold(Seq.empty[String])(entriesOf(root, _))
      val kept = baseEntries.filterNot(replacedSet)
      val keptSet = kept.toSet
      val stats = freshStats.map { case (c, fresh) =>
        val carried: FileStats = bm.fold(Map.empty: FileStats)(
          statsOf(root, _).filter { case (k, _) => keptSet(k) })
        c -> (carried ++ fresh)
      }
      try return commit(root, b + 1, kept ++ added, rows, stats, txn, schema,
        partCol, changeKey)
      catch {
        case conflict: SnapshotConflictException =>
          attempts += 1
          val cur = currentVersion(root).getOrElse(throw conflict)
          val cm = manifestAt(root, cur)
          // Layout guard: a concurrent overwrite that re-partitioned the
          // table invalidates this write's file layout wholesale — the
          // files were already laid out under the scheme the BASE version
          // recorded, so rebasing them onto a re-layouted current would
          // commit a mixed-layout table. Compares base layout vs current
          // layout (both manifest-recorded); legacy manifests without the
          // record skip the guard (side-file world, best effort).
          for {
            was <- writeLayout
            now <- cm.partCol
            if was != now
          } throw new SnapshotConflictException(
            s"concurrent commit re-layouted $root (partition column now " +
              s"${now.getOrElse("<none>")}, this write laid out " +
              s"${was.getOrElse("<none>")}); retry against the new layout")
          if (attempts > MaxRebases || cur <= b) throw conflict
          // Name+type+order equality: nullability differs legitimately
          // between a Seq-built frame (primitives non-null) and the same
          // table re-read from parquet (everything nullable) — only a real
          // column change is a conflict.
          def shape(s: Option[org.apache.spark.sql.types.StructType]) =
            s.map(_.fields.toSeq.map(f => (f.name, f.dataType)))
          val okSchema = shape(cm.schema) == shape(bm.fold(schema)(_.schema))
          if (!okSchema) throw new SnapshotConflictException(
            s"concurrent schema change at $root: this commit derives from " +
              s"version $b's schema; rebase abandoned")
          val curEntries = entriesOf(root, cm)
          val curSet = curEntries.toSet
          val missing = replaced.filterNot(curSet)
          if (missing.nonEmpty) throw new SnapshotConflictException(
            s"write-write conflict at $root: ${missing.size} file(s) this " +
              s"commit rewrites were changed by a concurrent commit " +
              s"(e.g. ${missing.head})")
          val concurrentAdds = curEntries.filterNot(baseEntries.toSet)
          conflictOnAddsIn match {
            case None if concurrentAdds.nonEmpty =>
              throw new SnapshotConflictException(
                s"whole-table write at $root conflicts with " +
                  s"${concurrentAdds.size} concurrently added file(s)")
            case Some(dirs) =>
              val clash = concurrentAdds.filter(e => dirs(dirOf(e)))
              if (clash.nonEmpty) throw new SnapshotConflictException(
                s"concurrent commit added files under a partition this " +
                  s"commit rewrites at $root (e.g. ${clash.head})")
            case _ => ()
          }
          b = cur // disjoint: rebase this write set onto the new current
          bm = Some(cm)
      }
    }
    -1L // unreachable
  }

  // -- Column identity (schema evolution beyond add-column) ------------------
  //
  // Every column gets a STABLE numeric id, recorded as `parquet.field.id`
  // field metadata in the manifest schema AND written into the parquet
  // footers (Spark's own field-id write path, on by default). With the
  // session's field-id READ path enabled, a schema'd scan matches columns
  // by id first — so RENAME is a metadata-only commit (old files resolve
  // the renamed column by id; no rewrite), DROP hides the column from the
  // recorded schema (old versions still time-travel to it), and a
  // re-added name gets a FRESH id so dropped data never resurrects.
  // Ids are assigned at overwrite/create; appends carry them; evolved
  // (added) columns allocate past the max id any RETAINED version ever
  // recorded. (After a drop + full history vacuum + same-name re-add, the
  // high-water mark is forgotten with the history — the documented bound,
  // same reason the lakehouse formats persist their counter in protocol
  // metadata.)

  private val FieldIdKey = "parquet.field.id"

  private[graft] def fieldIdsOf(schema: org.apache.spark.sql.types.StructType): Map[String, Long] =
    schema.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(f => f.name -> f.metadata.getLong(FieldIdKey)).toMap

  private def withId(f: org.apache.spark.sql.types.StructField, id: Long) =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** First id no retained version has ever used (never reuse a dropped
    * column's id — reuse would resurrect its bytes from old files).
    */
  private def nextColId(root: String): Long = {
    val used = versions(root).flatMap(v => schemaAt(root, v))
      .flatMap(s => fieldIdsOf(s).values)
    if (used.isEmpty) 1L else used.max + 1L
  }

  /** Stamp `df`'s columns with the table's column identity: existing
    * columns keep their recorded id (identity survives an overwrite —
    * it replaces CONTENT, not the columns' meaning), new names allocate
    * fresh ids. The metadata rides the frame into the parquet writer
    * (footers get field ids) and into the committed schema.
    */
  private def stampFieldIds(root: String, df: DataFrame): DataFrame = {
    val existing = currentVersion(root).flatMap(schemaAt(root, _))
      .map(fieldIdsOf).getOrElse(Map.empty)
    var next = nextColId(root)
    val cols = df.schema.fields.map { f =>
      val id = existing.getOrElse(f.name, { val n = next; next += 1; n })
      col(f.name).as(f.name, withId(f, id).metadata)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Field-id column resolution is a READ-side session conf that defaults
    * off; without it a renamed column silently reads as null from
    * pre-rename files. Assert it whenever the schema being served carries
    * ids (harmless otherwise; schemas without ids keep name matching).
    */
  private def ensureFieldIdRead(spark: SparkSession,
                                schema: Option[org.apache.spark.sql.types.StructType]): Unit =
    if (schema.exists(s => fieldIdsOf(s).nonEmpty))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** One metadata-only schema evolution step — the ALTER TABLE algebra.
    * Steps compose: [[alterColumns]] applies a whole statement's list
    * against one evolving schema and publishes ONE commit, so a refused
    * later step leaves the table at its pre-statement version (atomic
    * ALTER, per ADVICE r14 — the per-step-commit shape left a multi-change
    * statement half-applied on failure).
    */
  sealed trait ColumnChange
  object ColumnChange {
    case class Rename(from: String, to: String) extends ColumnChange
    case class Drop(name: String) extends ColumnChange
    case class Add(name: String,
                   dataType: org.apache.spark.sql.types.DataType) extends ColumnChange
    case class Widen(name: String,
                     to: org.apache.spark.sql.types.DataType) extends ColumnChange
  }

  /** Apply `steps` in order against the current schema and publish the
    * result as ONE metadata-only commit (same file list, same stats). All
    * validation runs before anything is written: any refused step aborts
    * the whole statement with the table untouched. Returns the current
    * version unchanged for an empty list.
    *
    * Step semantics (each refuses loudly outside its contract):
    *   - Rename: by stable field id, no rewrite — refuses on tables
    *     predating column identity (old files would read null under the
    *     new name) and on declared stats columns (per-file ranges are
    *     keyed by name). Renaming the partition column renames the layout
    *     record with it.
    *   - Drop: the recorded schema loses the field; no file is touched,
    *     old versions still serve it, and a later same-name Add gets a
    *     fresh id so dropped bytes never resurrect. Refuses on the
    *     partition column (a re-layout = overwrite) and stats columns.
    *   - Add: nullable field, fresh id; files written before it scan as
    *     null — the append(evolveSchema = true) contract, without data.
    *   - Widen: int→long / float→double class upcasts only (the set old
    *     parquet files provably serve); refuses on the partition column.
    */
  def alterColumns(root: String, steps: Seq[ColumnChange]): Long = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    if (steps.isEmpty) return base
    val bm = manifestAt(root, base)
    var schema = bm.schema.getOrElse(throw new IllegalStateException(
      s"$root predates schema recording; overwrite() it first"))
    var pc = layoutOf(root, Some(bm))
    val stats = statsCols(root)
    // Fresh ids allocate cumulatively across the statement's Adds, past
    // every id any retained version ever recorded.
    var nextId = nextColId(root)
    var changed = false
    steps.foreach {
      case ColumnChange.Rename(from, to) =>
        require(schema.fieldNames.contains(from), s"no column '$from' at $root")
        require(!schema.fieldNames.contains(to),
          s"column '$to' already exists at $root")
        require(fieldIdsOf(schema).contains(from),
          s"table at $root predates column identity; rewrite it once with " +
            "SnapshotStore.overwrite to assign field ids, then rename")
        require(!stats.contains(from),
          s"'$from' is a declared stats column; its per-file ranges are keyed " +
            "by name — compact/overwrite to re-declare stats before renaming")
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        pc = pc.map(c => if (c == from) to else c)
        changed = true
      case ColumnChange.Drop(name) =>
        require(schema.fieldNames.contains(name), s"no column '$name' at $root")
        require(schema.fields.length > 1, s"cannot drop the only column of $root")
        require(!pc.contains(name),
          s"'$name' is the partition column; dropping it is a re-layout — " +
            "use overwrite() with a new layout")
        require(!stats.contains(name),
          s"'$name' is a declared stats column; re-declare stats first")
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == name))
        changed = true
      case ColumnChange.Add(name, dataType) =>
        require(!schema.fieldNames.contains(name),
          s"column '$name' already exists")
        val f = org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true)
        val stamped = if (fieldIdsOf(schema).isEmpty) f
          else { val id = nextId; nextId += 1; withId(f, id) }
        schema = schema.add(stamped)
        changed = true
      case ColumnChange.Widen(name, to) =>
        val f = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no column '$name' at $root"))
        if (f.dataType != to) {
          require(Widenings((f.dataType, to)),
            s"cannot widen '$name' from ${f.dataType.simpleString} to " +
              s"${to.simpleString}: not a parquet-readable upcast " +
              s"(supported: byte/short/int→wider integral, float→double)")
          require(!pc.contains(name),
            s"'$name' is the partition column; widening it would re-render " +
              "partition dirs — re-layout with overwrite() instead")
          schema = org.apache.spark.sql.types.StructType(
            schema.fields.map(x => if (x.name == name) x.copy(dataType = to)
              else x))
          changed = true
        }
    }
    if (!changed) return base // all steps idempotent no-ops
    commitRebasing(root, base, Nil, Nil, Some(Set.empty), bm.rows,
      statsFor(root, Nil), None, Some(schema), pc)
  }

  /** RENAME COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def renameColumn(root: String, from: String, to: String): Long =
    alterColumns(root, Seq(ColumnChange.Rename(from, to)))

  /** DROP COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def dropColumn(root: String, name: String): Long =
    alterColumns(root, Seq(ColumnChange.Drop(name)))

  /** ADD COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def addColumn(root: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Long =
    alterColumns(root, Seq(ColumnChange.Add(name, dataType)))

  /** The widenings the metadata-only path supports: exactly the upcasts
    * Spark's own parquet readers perform when the requested type is wider
    * than the file's physical type (vectorized updater support, spec-
    * proven in SnapshotStoreSpec — a pair outside this set would make old
    * files UNREADABLE under the new schema, so anything else refuses).
    */
  private val Widenings: Set[(org.apache.spark.sql.types.DataType,
                              org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set(
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType))
  }

  /** WIDEN a column's type as a metadata-only commit (int → long,
    * float → double, …): same file list, same stats; files written with
    * the narrower physical type read under the wider requested schema
    * through Spark's own parquet upcast path, and every future commit
    * conforms (casts) incoming frames to the widened type. Outside the
    * proven-readable set, refuses loudly — a widening that old files
    * cannot serve would be silent table corruption, not evolution.
    * Idempotent no-op when the column already has the target type.
    * See [[alterColumns]] for the multi-step atomic form.
    */
  def widenColumn(root: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Long =
    alterColumns(root, Seq(ColumnChange.Widen(name, to)))

  /** Create the table (or replace its content wholesale) with a new
    * snapshot. Returns the committed version. `declareStatsCols` declares
    * the columns whose per-file [min,max] every commit harvests from
    * parquet footers (the file-skipping layer) — integral-backed types
    * directly, strings via the order-preserving [[stringKey]] prefix
    * encoding; `declareStatsCol` is the single-column convenience form.
    */
  def overwrite(df: DataFrame, root: String,
                partCol: Option[String] = None,
                declareStatsCol: Option[String] = None,
                declareStatsCols: Seq[String] = Nil,
                txn: Option[(String, Long)] = None): Long = {
    val declared = declareStatsCols ++ declareStatsCol.toSeq
    if (declared.nonEmpty) {
      val p = Paths.get(root, ManifestDir, "stats_cols")
      Files.createDirectories(p.getParent)
      Files.write(p, declared.distinct.mkString(",").getBytes(StandardCharsets.UTF_8))
    }
    // The partition column is table METADATA from this commit on (the SQL
    // catalog's INSERT path needs it to reproduce the layout). It rides
    // INSIDE the atomically-published manifest — a failed overwrite
    // leaves no layout record pointing at content it never replaced, and
    // a concurrent append can never observe the new record against the
    // old file list (the r12 side-file ordering hazard).
    // Column identity: stamp stable field ids (existing names keep their
    // recorded id, new names allocate) — the footers get them via Spark's
    // field-id write path, the manifest schema records them, and rename/
    // drop evolution becomes metadata-only from this commit on.
    // Content streams STRAIGHT into the commit's parquet data files — ONE
    // plan execution, no block-store staging. The manifest's exact row
    // count comes from the written files' parquet FOOTERS (metadata-only
    // reads, same layer statsFor harvests), so count and write agree by
    // construction even for non-deterministic sources. (The previous
    // shape localCheckpoint(true)-pinned the full content so a second
    // count() action would see the written rows; block-store rows are
    // ~3x data size — r13 forensics — so a 100 TB initial load would OOM
    // the block store before the write finished.)
    val stamped = stampFieldIds(root, df)
    val files = writeDataFiles(stamped, root, partCol)
    val rows = files.map(f => footerRowCount(Paths.get(root, "data", f))).sum
    val next = currentVersion(root).getOrElse(-1L) + 1
    val v = commit(root, next, files, rows, statsFor(root, files),
      txn, Some(stamped.schema), partCol)
    // The legacy side file is now shadowed by the manifest record; drop a
    // stale one so external inspection can't read a contradicting layout.
    Files.deleteIfExists(Paths.get(root, ManifestDir, "part_col"))
    v
  }

  /** The table's recorded partition column, if any. Authoritative source
    * is the CURRENT manifest's embedded `part_col` record (committed
    * atomically with the file list it describes); tables whose manifests
    * predate the embedded record fall back to the legacy `_manifests/
    * part_col` side file (written by [[notePartCol]] backfills). Absent
    * on pre-record tables and unpartitioned ones.
    */
  def partColOf(root: String): Option[String] =
    layoutOf(root, currentVersion(root).map(manifestAt(root, _)))

  /** [[partColOf]] against an already-parsed current manifest. */
  private def layoutOf(root: String, current: Option[Manifest]): Option[String] =
    current.flatMap(_.partCol) match {
      case Some(recorded) => recorded
      case None =>
        val p = Paths.get(root, ManifestDir, "part_col")
        if (!Files.exists(p)) None
        else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim)
          .filter(_.nonEmpty)
    }

  /** Record `c` as the table's partition column if no record exists yet
    * (`recorded` is the table's current [[partColOf]]); fail loudly on a
    * mismatch (one table, one layout — a second partition column would
    * silently break the per-partition cost model of merge/compact and the
    * SQL INSERT path).
    */
  private def notePartCol(root: String, c: String,
                          recorded: Option[String]): Unit = recorded match {
    case Some(prev) => require(prev == c,
      s"table at $root is partitioned by '$prev'; a write partitioned by " +
        s"'$c' would mix layouts (overwrite() re-layouts a table)")
    case None =>
      val p = Paths.get(root, ManifestDir, "part_col")
      Files.createDirectories(p.getParent)
      Files.write(p, c.getBytes(StandardCharsets.UTF_8))
  }

  /** Append-only commit: previous snapshot's files plus the new ones.
    * (rows = -1: the manifest's row count is audit metadata for full
    * snapshots; incremental commits don't re-count history.)
    *
    * `evolveSchema = true` allows the commit to ADD columns (Delta-style
    * add-column evolution): the new columns append to the recorded table
    * schema, and files written before the column existed read as null
    * for it — no rewrite of history. Dropping or missing columns always
    * fails loudly.
    */
  def append(df: DataFrame, root: String,
             partCol: Option[String] = None,
             txn: Option[(String, Long)] = None,
             evolveSchema: Boolean = false): Long = {
    val base = currentVersion(root)
    val bm = base.map(manifestAt(root, _))
    val tableSchema = for (v <- base; m <- bm)
      yield m.schema.getOrElse(read(df.sparkSession, root, Some(v)).schema)
    val conformed0 = tableSchema.fold(df)(st => conform(df, st, evolveSchema))
    // Evolved (added) columns join the table's column identity with fresh
    // ids — allocated past every id any retained version used, so a
    // re-added name can never resurrect a dropped column's bytes.
    val conformed = {
      val known = tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
      val extras = conformed0.schema.fields.filterNot(f => known(f.name))
      if (extras.isEmpty || tableSchema.forall(fieldIdsOf(_).isEmpty)) conformed0
      else {
        var next = nextColId(root)
        conformed0.select(conformed0.schema.fields.map { f =>
          if (known(f.name)) col(f.name)
          else { val id = next; next += 1; col(f.name).as(f.name, withId(f, id).metadata) }
        }.toIndexedSeq: _*)
      }
    }
    // Default to the table's recorded layout so callers that don't thread
    // the partition column (the SQL INSERT path) still append partitioned
    // files; an explicit partCol must agree with the record.
    val recorded = layoutOf(root, bm)
    val pc = partCol.orElse(recorded)
    pc.foreach(notePartCol(root, _, recorded))
    val files = writeDataFiles(conformed, root, pc)
    // Blind append: no partition-level read set, so it rebases over ANY
    // concurrent commit (Delta's append-never-conflicts rule) — only a
    // concurrent schema change aborts it.
    commitRebasing(root, base.getOrElse(-1L), Nil, files, Some(Set.empty),
      -1L, statsFor(root, files), txn, Some(conformed.schema), pc)
  }

  /** Cast `df` to the table's column set and types — every commit must
    * write type-identical parquet, or a later multi-file scan hits footer
    * disagreements (int32 base vs int64 update was the concrete failure:
    * a Scala literal's Long next to a parquet int column). Missing
    * columns always fail; extra columns fail unless `evolve` (append's
    * evolveSchema) admits them as NEW table columns after the existing
    * ones.
    */
  private def conform(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
                      evolve: Boolean = false): DataFrame = {
    val have = df.columns.toSet
    val missing = schema.fieldNames.filterNot(have)
    require(missing.isEmpty,
      s"commit is missing table columns: ${missing.mkString(",")}")
    val extra = df.columns.filterNot(schema.fieldNames.toSet)
    require(evolve || extra.isEmpty,
      s"commit adds new columns ${extra.mkString(",")}; " +
        "pass evolveSchema=true to evolve the table schema")
    // The alias re-attaches each table field's metadata — the column
    // identity (parquet.field.id) must ride every commit's frame into the
    // parquet footers, or rename-by-id stops resolving in the new files.
    df.select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata))
      .toIndexedSeq ++ extra.map(col): _*)
  }

  /** MERGE-style keyed upsert with SNAPSHOT ISOLATION — the transactional
    * twin of [[Sinks.mergeIntoPartitioned]], same per-partition cost
    * model and the same key-cannot-change-partition contract. The commit
    * swaps the affected partitions' files for rewritten ones in ONE
    * atomic manifest publish: a concurrent reader holds either the old
    * version (all old files, still on disk) or the new one — never a mix.
    * A concurrent WRITER that committed first invalidates this merge's
    * survivor set: the conflict surfaces as [[SnapshotConflictException]]
    * and the whole read-compute-commit cycle must be retried on the new
    * snapshot.
    *
    * Partition values are matched against the hive dir rendering through
    * Spark's own path escaper ([[partDir]]), so string values with
    * special characters and nulls replace correctly. Timestamp partition
    * columns are rejected: their dir rendering is session-zone-dependent
    * and a silent mismatch would duplicate rows.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCol: String, partCol: String,
            txn: Option[(String, Long)] = None): Long = {
    require(!updates.schema(partCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.TimestampType],
      s"merge partCol '$partCol' is a timestamp: its hive dir rendering " +
        "is timezone-dependent; partition by a date or string rendering instead")
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to merge into at $root"))
    val bm = manifestAt(root, base)
    val baseFiles = entriesOf(root, bm)
    // The kept/replaced split below is a path test on hive partition dirs;
    // a base snapshot NOT partitioned by partCol would silently keep every
    // old file (duplicate keys in affected partitions). Fail loudly instead.
    require(baseFiles.forall(_.split('/').exists(_.startsWith("__part="))),
      s"merge requires a partitioned base snapshot " +
        s"(write it with overwrite(df, root, Some(\"$partCol\")))")
    // backfill the layout record on pre-record tables
    notePartCol(root, partCol, layoutOf(root, Some(bm)))
    val target = read(spark, root, Some(base))
    val cols = target.columns.map(col).toSeq
    val parts = updates.select(col(partCol)).distinct()
    // Null-safe semi join ON THE RENDERED PARTITION CLASS: a plain
    // equi-join would never match a NULL partition value, and null + ""
    // share one physical dir (the hive default-partition sentinel), so
    // the match key must collapse them too — otherwise a merge touching
    // "" removes the shared dir's files while the null rows were never
    // in the rewrite (silent row loss). <=> matches null to null;
    // partKey folds "" into null to mirror [[partDir]].
    def partKey(c: org.apache.spark.sql.Column) =
      when(c.isNull || c.cast("string") === "", lit(null: String))
        .otherwise(c.cast("string"))
    val affected = target.join(
      broadcast(parts.withColumnRenamed(partCol, "__mergePart")),
      partKey(col(partCol)) <=> partKey(col("__mergePart")), "left_semi")
    val survivors = affected
      .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
    // Straight-to-parquet staging (see replaceWhere): the rewritten
    // partitions' content executes once, into the commit's data files,
    // never through the block store.
    val merged = survivors.select(cols: _*)
      .unionByName(conform(updates, target.schema))
    val newFiles = writeDataFiles(merged, root, Some(partCol))
    // Carry forward every base file OUTSIDE the affected partitions. The
    // partition value is in the file path (hive layout), so the kept/
    // replaced split is a path test — rendered with the same escaping the
    // writer used, no data read.
    val affectedDirs = parts.collect().map(r => partDir(r.get(0))).toSet
    val replaced = baseFiles.filter(f =>
      f.split('/').exists(affectedDirs.contains))
    // Read-modify-write of the affected partitions: rebase over concurrent
    // commits elsewhere; conflict if they touched (rewrote OR appended
    // into) these partitions — the upsert's key-uniqueness read them.
    commitRebasing(root, base, replaced, newFiles, Some(affectedDirs), -1L,
      statsFor(root, newFiles), txn, Some(target.schema), Some(partCol),
      changeKey = Some(Seq(keyCol)))
  }

  /** Row-level DELETE with snapshot isolation — the GDPR/right-to-be-
    * forgotten primitive a training-data table needs as a first-class
    * transactional call, not a manual read-filter-overwrite dance.
    * Removes every row where `predicate` is TRUE (NULL keeps the row,
    * standard DELETE semantics).
    *
    * With `partCol`, cost is ∝ touched partitions: only partitions that
    * CONTAIN matching rows are rewritten (their survivors re-written,
    * their old files dropped from the manifest); every other partition's
    * files carry forward verbatim — same cost model and null/empty
    * partition-class handling as [[merge]]. Without `partCol` the whole
    * table rewrites (documented: the unpartitioned trade).
    *
    * The removal is CDC-visible: [[changes]] across the delete commit
    * yields exactly the deleted rows as `_change_type='delete'`. The old
    * version's files stay on disk until [[vacuum]]'s retention passes —
    * time travel still sees the deleted rows, so TRUE erasure is
    * delete + vacuum(0 retained history), the same two-step Delta
    * documents for GDPR.
    *
    * A predicate matching nothing publishes nothing and returns the
    * current version. A delete matching everything publishes a zero-file
    * manifest, which [[read]] serves as a schema'd empty frame.
    */
  /** Filter matching the partition CLASS of any of `values` — the same
    * null/empty-string collapsing the hive dir rendering applies (null
    * and "" share one physical dir), so callers selecting "rows in these
    * partitions" agree exactly with the file-path test the commit uses.
    */
  def partitionIn(partCol: String, values: Seq[Any]): org.apache.spark.sql.Column = {
    def cls(v: Any): Option[String] =
      Option(v).map(_.toString).filter(_.nonEmpty)
    val key = when(col(partCol).isNull || col(partCol).cast("string") === "",
      lit(null: String)).otherwise(col(partCol).cast("string"))
    val (nullClass, strs) = values.map(cls).partition(_.isEmpty)
    val hit = if (strs.isEmpty) lit(false)
      else key.isin(strs.flatten.distinct: _*)
    if (nullClass.nonEmpty) hit || key.isNull else hit
  }

  /** Copy-on-write commit primitive for row-level SQL DML (UPDATE / MERGE
    * INTO): atomically replace the content of the given partitions — or
    * the whole table when `affectedParts` is None — with `content`,
    * carrying every other partition's files forward verbatim. The Delta
    * `replaceWhere` shape: cost ∝ touched partitions, never table size.
    *
    * `baseVersion` is the snapshot the caller READ to compute `content`
    * (snapshot isolation): the commit rebases over concurrent commits
    * elsewhere and conflicts if they touched the replaced partitions.
    * `affectedParts = Some(Nil)` is a pure-insert commit (nothing
    * replaced, blind-append conflict semantics). Content conforms to the
    * table schema like every other writer; a partitioned table whose
    * layout was never recorded refuses loudly (writing unpartitioned
    * files next to hive dirs would silently break the per-partition cost
    * model).
    */
  def replaceWhere(spark: SparkSession, root: String, baseVersion: Long,
                   content: DataFrame,
                   affectedParts: Option[Seq[Any]],
                   txn: Option[(String, Long)] = None): Long = {
    val bm = manifestAt(root, baseVersion)
    val baseFiles = entriesOf(root, bm)
    val layout = partColOf(root)
    val partitioned = baseFiles.exists(_.split('/').exists(_.startsWith("__part=")))
    require(layout.isDefined || !partitioned,
      s"table at $root is partitioned but predates the part_col record; " +
        "rewrite it with SnapshotStore.overwrite(df, root, Some(col)) first")
    require(affectedParts.isEmpty || layout.isDefined,
      s"partition-scoped replaceWhere needs a partitioned table at $root")
    val schema = bm.schema
    val conformed = schema.fold(content)(s => conform(content, s))
    // Content streams STRAIGHT into the commit's parquet data files — one
    // plan execution, no driver/block-store staging. (The previous shape
    // localCheckpoint(true)-pinned the full conformed content first; block
    // store rows are ~3x data size — r13 forensics — so an unpartitioned
    // UPDATE at table scale would OOM the block store before the write
    // finished. The data files themselves are the durable staging: a
    // rebase retry is manifest math over already-written files.) An empty
    // content plan writes no part files and commits a file-less swap.
    val newFiles = writeDataFiles(conformed, root, layout)
    affectedParts match {
      case Some(parts) =>
        val dirs = parts.map(partDir).toSet
        val replaced = baseFiles.filter(_.split('/').exists(dirs.contains))
        if (replaced.isEmpty && newFiles.isEmpty) return baseVersion // no-op
        commitRebasing(root, baseVersion, replaced, newFiles, Some(dirs), -1L,
          statsFor(root, newFiles), txn, schema, layout)
      case None =>
        commitRebasing(root, baseVersion, baseFiles, newFiles, None, -1L,
          statsFor(root, newFiles), txn, schema, layout)
    }
  }

  def delete(spark: SparkSession, root: String, predicate: org.apache.spark.sql.Column,
             partCol: Option[String] = None,
             txn: Option[(String, Long)] = None,
             deletionVectors: Boolean = false): Long = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to delete from at $root"))
    if (deletionVectors) return deleteWithDv(spark, root, predicate, txn, base)
    val target = read(spark, root, Some(base))
    val keep = !coalesce(predicate, lit(false))
    val bm = manifestAt(root, base)
    val baseFiles = entriesOf(root, bm)
    partCol match {
      case Some(pc) =>
        require(baseFiles.forall(_.split('/').exists(_.startsWith("__part="))),
          s"partition-pruned delete requires a partitioned base snapshot " +
            s"(write it with overwrite(df, root, Some(\"$pc\")))")
        val parts = target.filter(predicate).select(col(pc)).distinct()
        val partVals = parts.collect().map(_.get(0))
        if (partVals.isEmpty) return base // nothing matches, publish nothing
        val affectedDirs = partVals.map(partDir).toSet
        def partKey(c: org.apache.spark.sql.Column) =
          when(c.isNull || c.cast("string") === "", lit(null: String))
            .otherwise(c.cast("string"))
        val affected = target.join(
          broadcast(parts.withColumnRenamed(pc, "__delPart")),
          partKey(col(pc)) <=> partKey(col("__delPart")), "left_semi")
        // Survivors stream straight to the commit's data files — no
        // block-store pin (see replaceWhere); an all-deleted partition
        // writes no files for itself.
        val newFiles = writeDataFiles(affected.filter(keep)
          .select(target.columns.map(col).toIndexedSeq: _*), root, Some(pc))
        val replaced = baseFiles.filter(f =>
          f.split('/').exists(affectedDirs.contains))
        commitRebasing(root, base, replaced, newFiles, Some(affectedDirs),
          -1L, statsFor(root, newFiles), txn, Some(target.schema), Some(pc))
      case None =>
        if (target.filter(predicate).isEmpty) return base
        // Preserve the table's recorded layout: a whole-table delete is a
        // content rewrite, not a re-layouting — survivors land back under
        // the same partition scheme they came from.
        val layout = layoutOf(root, Some(bm))
        // Straight-to-parquet staging (see replaceWhere): a delete matching
        // everything writes no part files -> a zero-file manifest, which
        // read() serves as a schema'd empty frame.
        val newFiles = writeDataFiles(target.filter(keep), root, layout)
        // Whole-table rewrite: conflictOnAddsIn = None — any concurrent
        // addition intersects the read set, only version races on an
        // otherwise-unchanged table rebase.
        commitRebasing(root, base, baseFiles, newFiles, None, -1L,
          statsFor(root, newFiles), txn, Some(target.schema), layout)
    }
  }

  /** Deletion-vector DELETE: instead of rewriting touched partitions'
    * survivors, write ONE small position-delete sidecar under `_dv/`
    * (columns `file`, `pos` = parquet row index) and commit a manifest
    * where each touched file's entry gains a `#dv=` annotation. Cost is
    * ∝ MATCHING ROWS, not touched-partition bytes — the 100 TB shape for
    * a GDPR delete of one user's rows scattered across the table, where
    * the rewrite path would re-copy gigabytes per touched partition for
    * kilobytes of removals. Reads apply the DV as an anti-join on
    * (file, row_index) until [[compact]] materializes it; [[changes]]
    * sees exactly the deleted rows; [[vacuum]] GCs DVs once a rewrite or
    * compaction orphans them. Same commit atomicity and time-travel
    * contract as every other writer.
    */
  /** The LIVE rows of `version` with their physical row identity: every
    * table column plus `__file` (root-relative data path) and `__pos`
    * (parquet row index); rows existing DVs already deleted are excluded.
    * Because data files are immutable, (`__file`, `__pos`) is a STABLE,
    * content-independent row identity — row-level DML uses it both as the
    * deletion-vector write target and as a deterministic ANSI-cardinality
    * key (safe under stage retry, unlike monotonically_increasing_id).
    * Predicates a caller applies on table columns push down through the
    * DV anti-join into the parquet scan as usual.
    */
  def positionScan(spark: SparkSession, root: String, version: Long): DataFrame = {
    val m = manifestAt(root, version)
    val entries = entriesOf(root, m)
    val schema = m.schema
    ensureFieldIdRead(spark, schema)
    if (entries.isEmpty) {
      val st = schema.getOrElse(throw new IllegalStateException(
        s"version $version of $root has no files and predates schema recording"))
      return spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        .withColumn("__file", lit(null).cast("string"))
        .withColumn("__pos", lit(null).cast("long"))
    }
    val reader = schema.fold(spark.read)(spark.read.schema)
    val scan0 = reader
      .parquet(entries.map(e => Paths.get(root, "data", entryPath(e)).toString): _*)
      .withColumn("__file",
        expr("substring_index(_metadata.file_path, '/data/', -1)"))
      .withColumn("__pos", col("_metadata.row_index"))
    val priorRefs = entries.flatMap(entryDvs).distinct
    if (priorRefs.isEmpty) scan0 else {
      val prior = spark.read
        .parquet(priorRefs.map(r => Paths.get(root, DvDir, r).toString): _*)
        .select(col("file").as("__file"), col("pos").as("__pos"))
      scan0.join(prior, Seq("__file", "__pos"), "left_anti")
    }
  }

  private def deleteWithDv(spark: SparkSession, root: String,
                           predicate: org.apache.spark.sql.Column,
                           txn: Option[(String, Long)], base: Long): Long = {
    val bm = manifestAt(root, base)
    val entries = entriesOf(root, bm)
    if (entries.isEmpty) return base
    val schema = bm.schema
    // Position scan over ALL entries, minus rows existing DVs already
    // deleted (so re-deleting an already-dead row is a no-op, not a
    // duplicate position).
    val matches = positionScan(spark, root, base)
      .filter(coalesce(predicate, lit(false)))
      .select(col("__file").as("file"), col("__pos").as("pos"))
      .localCheckpoint(true)
    if (matches.isEmpty) return base
    val ref = writeDvFile(root, matches)
    // Touched-file list is bounded by the manifest size, never row count.
    val touched = matches.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val replaced = entries.filter(e => touched(entryPath(e)))
    val annotated = replaced.map(e =>
      renderEntry(entryPath(e), entryDvs(e) :+ ref))
    // Stats re-key onto the annotated entries: deletion only narrows a
    // file's true range, so the recorded [lo,hi] stays a sound bound.
    val cols = statsCols(root)
    val fresh = if (cols.isEmpty) None else {
      val old = statsOf(root, bm)
      Some(cols -> replaced.flatMap { e =>
        old.get(e).map(v =>
          renderEntry(entryPath(e), entryDvs(e) :+ ref) -> v)
      }.toMap)
    }
    // File-scoped write set: the DV annotates exactly `replaced`; rebase
    // over concurrent commits that left those entries alone (their
    // positions — parquet row indexes of immutable files — stay valid).
    commitRebasing(root, base, replaced, annotated, Some(Set.empty), -1L,
      fresh, txn, schema, layoutOf(root, Some(bm)))
  }

  /** Merge-on-read row-level UPDATE / MERGE commit — the deletion-vector
    * twin of [[replaceWhere]], cost ∝ ACTED rows, never touched-partition
    * bytes. Atomically, in ONE manifest publish:
    *
    *   1. the rows of `acted` (table columns plus `__file`/`__pos` from
    *      [[positionScan]], plus boolean `keepCol`) are position-deleted
    *      via one DV sidecar annotating exactly the files that own them;
    *   2. the `keepCol`=true subset re-appends with its (updated) column
    *      values, and `inserts` rows (plain table columns — a MERGE's NOT
    *      MATCHED output) append alongside, all in one write job.
    *
    * So keep=true acts as UPDATE (delete old position + append new row),
    * keep=false as DELETE, and a row never in `acted` is untouched — its
    * file bytes are not rewritten (an mtime-stable base, spec-gated).
    * Reads serve through the DV anti-join until [[compact]] materializes;
    * [[changes]]' exceptAll algebra sees exactly delete(old values) +
    * insert(new values).
    *
    * `acted` is staged once to a parquet scratch dir under the table root
    * (never the block store — localCheckpoint rows are ~3× data size, the
    * r13 forensics) so its three consumers (DV positions, touched-file
    * list, re-append content) rescan written bytes instead of re-running
    * the matching join. The staging dir is removed before returning.
    *
    * `conflictOnAddsIn` declares the read set for rebase over concurrent
    * commits ([[commitRebasing]]): an UPDATE's row-level read passes
    * `Some(Set.empty)` (file-scoped — positions of immutable files stay
    * valid; concurrent appends cannot invalidate them), a MERGE passes
    * `None` (its join + cardinality check read the WHOLE target, so any
    * concurrent add could have matched).
    */
  def updateRows(spark: SparkSession, root: String, baseVersion: Long,
                 acted: DataFrame, keepCol: String,
                 inserts: Option[DataFrame] = None,
                 conflictOnAddsIn: Option[Set[String]] = Some(Set.empty),
                 txn: Option[(String, Long)] = None,
                 changeKey: Option[Seq[String]] = None): Long = {
    val bm = manifestAt(root, baseVersion)
    val entries = entriesOf(root, bm)
    val schema = bm.schema
    val layout = partColOf(root)
    val tableCols = schema.map(_.fieldNames.toSeq)
      .getOrElse(acted.columns.toSeq.filterNot(
        c => c == "__file" || c == "__pos" || c == keepCol))
    val stagingDir = Paths.get(root, "_staging",
      java.util.UUID.randomUUID().toString)
    try {
      Files.createDirectories(stagingDir.getParent)
      acted.select((Seq("__file", "__pos", keepCol) ++ tableCols)
        .map(col): _*).write.parquet(stagingDir.toString)
      // An empty acted plan writes no part files (an empty parquet dir is
      // unreadable, not a 0-row frame) — detect emptiness from the dir.
      val hasActed = {
        import scala.jdk.CollectionConverters._
        val it = Files.walk(stagingDir)
        try it.iterator().asScala.exists(
          _.getFileName.toString.endsWith(".parquet"))
        finally it.close()
      }
      val staged = if (hasActed) Some(spark.read.parquet(stagingDir.toString))
        else None
      val replaced = staged.fold(Seq.empty[String]) { st =>
        val touched = st.select(col("__file")).distinct()
          .collect().map(_.getString(0)).toSet
        entries.filter(e => touched(entryPath(e)))
      }
      val ref = staged.map(st => writeDvFile(root,
        st.select(col("__file").as("file"), col("__pos").as("pos"))))
      val annotated = ref.toSeq.flatMap(r => replaced.map(e =>
        renderEntry(entryPath(e), entryDvs(e) :+ r)))
      val additions0 = (staged.map(_.filter(col(keepCol))
          .select(tableCols.map(col): _*)).toSeq ++
        inserts.map(_.select(tableCols.map(col): _*)).toSeq)
        .reduceOption(_.unionByName(_))
      val newFiles = additions0.fold(Seq.empty[String]) { a =>
        writeDataFiles(schema.fold(a)(s => conform(a, s)), root, layout)
      }
      if (!hasActed && newFiles.isEmpty) return baseVersion // full no-op
      // Stats: untouched carried by commitRebasing; annotated entries
      // re-key their old ranges (deletion only narrows a file's true
      // range); fresh files harvest from their footers.
      val cols = statsCols(root)
      val fresh = if (cols.isEmpty) None else {
        val old = statsOf(root, bm)
        val rekeyed = ref.toSeq.flatMap(r => replaced.flatMap { e =>
          old.get(e).map(v => renderEntry(entryPath(e), entryDvs(e) :+ r) -> v)
        }).toMap
        val harvested = statsFor(root, newFiles).map(_._2).getOrElse(Map.empty)
        Some(cols -> (rekeyed ++ harvested))
      }
      commitRebasing(root, baseVersion, replaced, annotated ++ newFiles,
        conflictOnAddsIn, -1L, fresh, txn, schema, layout, changeKey)
    } finally {
      if (Files.exists(stagingDir)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(stagingDir)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }

  private def writeDvFile(root: String, matches: DataFrame): String = {
    val id = java.util.UUID.randomUUID().toString
    val dvDir = Paths.get(root, DvDir)
    Files.createDirectories(dvDir)
    val tmp = dvDir.resolve(id + ".tmp")
    // One sidecar per delete commit (a GDPR-sized match list is small);
    // coalesce(1) is the deliberate single-file layout, not a bottleneck.
    matches.coalesce(1).write.parquet(tmp.toString)
    import scala.jdk.CollectionConverters._
    val it = Files.walk(tmp)
    val part = try it.iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no DV part file under $tmp"))
    finally it.close()
    val dest = dvDir.resolve(id + ".parquet")
    Files.move(part, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // Drop the spark output dir scaffolding (_SUCCESS, crc files).
    val rm = Files.walk(tmp)
    try rm.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
    finally rm.close()
    id + ".parquet"
  }

  /** Read a snapshot: the current version, or `asOf` for time travel.
    * Plan-wise this is a plain multi-path parquet scan of the manifest's
    * exact file list — column pruning, predicate pushdown, and (hive
    * paths) partition values all work as usual.
    *
    * Manifest-level pruning before the scan:
    *   - `partValues` keeps only files under a matching `__part=` dir
    *     (pass RAW values; they are escaped the way the writer escaped).
    *   - `colRanges` is a conjunction of [lo,hi] (inclusive) predicates
    *     against the declared stats columns' per-file ranges — a file is
    *     skipped ONLY when provably disjoint on some column; files
    *     without a recorded range are always read.
    *   - `keyRange` is shorthand for the FIRST declared stats column.
    *
    * Pruning that eliminates every file returns an EMPTY DataFrame with
    * the table schema (a point lookup on an absent key is a legitimate
    * empty result, not an error).
    */
  def read(spark: SparkSession, root: String,
           asOf: Option[Long] = None,
           partValues: Option[Set[String]] = None,
           keyRange: Option[(Long, Long)] = None,
           colRanges: Map[String, (Long, Long)] = Map.empty): DataFrame = {
    val v = asOf.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root"))
    val m = manifestAt(root, v)
    // Manifest-recorded schema: inference-free planning, and the schema-
    // evolution contract — files predating a column scan as null for it.
    val schema = m.schema
    val rels = prunedOf(root, m, partValues, keyRange, colRanges)
    if (rels.nonEmpty) {
      ensureFieldIdRead(spark, schema)
      return scanEntries(spark, root, rels, schema)
    }
    entriesOf(root, m).headOption match {
      case Some(any) =>
        ensureFieldIdRead(spark, schema)
        schema.fold(spark.read)(spark.read.schema)
          .parquet(Paths.get(root, "data", entryPath(any)).toString).limit(0)
      case None =>
        // A zero-file version is legitimate (e.g. a streaming writer's
        // empty bootstrap batch, or a delete that emptied the table): serve
        // the manifest-recorded schema as an empty frame instead of failing
        // every later read/merge against the table.
        val st = schema.getOrElse(throw new IllegalStateException(
          s"version $v of $root has no files and predates schema recording"))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
    }
  }

  /** Root-relative files of `version` surviving manifest-level pruning
    * (see [[read]] for the predicate semantics). Exposed so specs (and
    * operators sizing a scan) can count candidate files without reading.
    */
  def prunedFiles(root: String, version: Long,
                  partValues: Option[Set[String]] = None,
                  keyRange: Option[(Long, Long)] = None,
                  colRanges: Map[String, (Long, Long)] = Map.empty): Seq[String] =
    prunedOf(root, manifestAt(root, version), partValues, keyRange, colRanges)

  private def prunedOf(root: String, m: Manifest,
                       partValues: Option[Set[String]],
                       keyRange: Option[(Long, Long)],
                       colRanges: Map[String, (Long, Long)]): Seq[String] = {
    val effective = colRanges ++ keyRange.flatMap(r =>
      statsCols(root).headOption.map(_ -> r)).toMap
    def overlaps(byCol: Map[String, (Long, Long)]) =
      effective.forall { case (c, (lo, hi)) =>
        byCol.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      }
    val dirs = partValues.map(_.map(partDir))
    m.sections match {
      case Some(refs) =>
        // Lazy by construction: partition pruning selects SECTIONS before
        // any per-file metadata is read — the layout's whole point.
        val chosen = dirs.fold(refs)(ds => refs.filter { case (pd, _) => ds(pd) })
        chosen.flatMap { case (_, ref) => readSection(root, ref) }
          .collect { case (f, byCol) if overlaps(byCol) => f }.sorted
      case None =>
        dirs.fold(m.files)(ds => m.files.filter(_.split('/').exists(ds)))
          .filter(f => overlaps(m.ranges.getOrElse(f, Map.empty)))
    }
  }

  /** Transactional small-file compaction — the OPTIMIZE half of the
    * maintenance pair (vacuum is the GC half). A streaming writer
    * ([[graft.streaming.SnapshotSink]]) publishes one commit per
    * micro-batch, so a hot partition accretes one small file set per
    * batch; compact rewrites the selected partitions' files into
    * `numFiles` range-split files and publishes the swap as ONE commit —
    * content-identical by construction, snapshot-isolated like any other
    * commit (readers hold the old or the new version, never a mix; a
    * racing writer surfaces as [[SnapshotConflictException]]).
    *
    * `partValues` (raw values, escaped like [[read]]) restricts the
    * rewrite to named partitions — cost ∝ touched partitions, the only
    * shape that survives at table scale; None compacts everything.
    * `sortBy` orders rows within the range-split, so each output file
    * carries a NARROW [min,max] on the sort key — compaction is also how
    * a table EARNS its manifest-stats pruning (and parquet row-group
    * skipping) after unsorted ingest.
    *
    * `zorderBy` (two or more non-negative integral columns, exclusive
    * with `sortBy`) clusters on the Morton interleave of the keys'
    * quantile buckets instead ([[Sinks.zorderKeyN]] — the OPTIMIZE
    * ZORDER BY of the lakehouse formats): every output file then carries
    * a narrow range on EVERY listed column simultaneously, so a table
    * with multi-column declared stats earns conjunctive manifest pruning
    * a single-key sort can never give (perfect on the sort key, none on
    * the others). Bucket width scales with arity (16 bits at 2 keys,
    * 63/k beyond) so the interleave always fills a positive long.
    */
  def compact(spark: SparkSession, root: String, partCol: String,
              partValues: Option[Set[String]] = None,
              numFiles: Int = 1, sortBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil,
              txn: Option[(String, Long)] = None): Long = {
    require(zorderBy.isEmpty || zorderBy.length >= 2,
      "zorderBy takes two or more columns")
    require(zorderBy.isEmpty || sortBy.isEmpty,
      "pass sortBy or zorderBy, not both")
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to compact at $root"))
    val bm = manifestAt(root, base)
    require(entriesOf(root, bm)
      .forall(_.split('/').exists(_.startsWith("__part="))),
      "compact requires a partitioned base snapshot")
    // backfill the layout record on pre-record tables
    notePartCol(root, partCol, layoutOf(root, Some(bm)))
    val victims = prunedOf(root, bm, partValues, None, Map.empty)
    if (victims.isEmpty) return base // nothing to rewrite, publish nothing
    // Recorded schema: victims predating an evolved column still compact
    // into full-schema files (nulls materialized) instead of silently
    // narrowing the table. DV-aware: compacting an annotated file
    // MATERIALIZES its deletions — the rewrite drops the annotation and
    // the orphaned DV file falls to vacuum.
    val slice = scanEntries(spark, root, victims, bm.schema)
    val arranged =
      if (zorderBy.nonEmpty) {
        // Quantile-bucket maxes from one tiny aggregate (offline layout
        // job, same driver-side single-row action as writeZordered).
        val aggs = zorderBy.map(c => max(col(c)).cast("long").as(s"__m_$c"))
        val r = slice.agg(aggs.head, aggs.tail: _*).head()
        val buckets = 1L << Sinks.zorderBits(zorderBy.length)
        val keys = zorderBy.zipWithIndex.map { case (c, i) =>
          (col(c).cast("long") * buckets / (r.getLong(i) + 1L)).cast("long")
        }
        val zk = Sinks.zorderKeyN(keys)
        slice.withColumn("__z", zk)
          .repartitionByRange(math.max(numFiles, 1), col(partCol), col("__z"))
          .sortWithinPartitions(col(partCol), col("__z"))
          .drop("__z")
      } else {
        val keys = (partCol +: sortBy).distinct.map(col)
        (if (numFiles > 1) slice.repartitionByRange(numFiles, keys: _*)
         else slice.repartition(col(partCol)))
          .sortWithinPartitions(keys: _*)
      }
    val newFiles = writeDataFiles(arranged, root, Some(partCol))
    // Row movement only (no partition-level read set): rebase over
    // concurrent appends anywhere; conflict only if a concurrent commit
    // rewrote one of the victims out from under the compaction.
    commitRebasing(root, base, victims, newFiles, Some(Set.empty), -1L,
      statsFor(root, newFiles), txn,
      bm.schema.orElse(Some(slice.schema)), Some(partCol))
  }

  /** OPTIMIZE — the auto-sized maintenance rewrite behind the SQL
    * statement (`OPTIMIZE graft.t [ZORDER BY (a, b)]`) and the
    * convenience form of [[compact]] for Scala callers who don't want to
    * pick a file count: the output file count comes from the CURRENT
    * version's live data bytes at `targetFileBytes` per file (file sizes
    * are filesystem metadata — no data read; 128 MB default, the
    * standard lakehouse bin size). Partitioned tables delegate to
    * [[compact]] (whole-table scope, recorded partition column);
    * unpartitioned tables get the same semantics inline — one
    * content-identical rewrite commit, DVs materialized, `zorderBy`
    * clustering honored — which plain compact refuses (it keys its
    * pruning on partition dirs). Returns the committed version (the
    * current one when the table has no files to rewrite).
    */
  def optimize(spark: SparkSession, root: String,
               zorderBy: Seq[String] = Nil,
               targetFileBytes: Long = 128L << 20,
               txn: Option[(String, Long)] = None): Long = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to optimize at $root"))
    val bm = manifestAt(root, base)
    val entries = entriesOf(root, bm)
    if (entries.isEmpty) return base
    val bytes = entries.map(e =>
      Files.size(Paths.get(root, "data", entryPath(e)))).sum
    val numFiles = math.max(1L,
      math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
    layoutOf(root, Some(bm)) match {
      case Some(pc) =>
        compact(spark, root, pc, None, numFiles, Nil, zorderBy, txn)
      case None =>
        require(zorderBy.isEmpty || zorderBy.length >= 2,
          "zorderBy takes two or more columns")
        val schema = bm.schema
        val slice = scanEntries(spark, root, entries, schema)
        val arranged =
          if (zorderBy.nonEmpty) {
            val aggs = zorderBy.map(c => max(col(c)).cast("long").as(s"__m_$c"))
            val r = slice.agg(aggs.head, aggs.tail: _*).head()
            val buckets = 1L << Sinks.zorderBits(zorderBy.length)
            val keys = zorderBy.zipWithIndex.map { case (c, i) =>
              (col(c).cast("long") * buckets / (r.getLong(i) + 1L)).cast("long")
            }
            slice.withColumn("__z", Sinks.zorderKeyN(keys))
              .repartitionByRange(numFiles, col("__z"))
              .sortWithinPartitions(col("__z"))
              .drop("__z")
          } else slice.repartition(numFiles)
        val newFiles = writeDataFiles(arranged, root, None)
        // Row movement only — same rebase posture as compact.
        commitRebasing(root, base, entries, newFiles, Some(Set.empty), -1L,
          statsFor(root, newFiles), txn, schema, None)
    }
  }

  /** Merge-on-read debt of one table version: how much of the file set
    * carries DV annotations and how many deleted-row positions the
    * referenced DV files hold. Manifest math + DV parquet FOOTERS only —
    * no data pages read, so polling this per commit is free at any table
    * size. `dvRows` counts position entries across distinct referenced DV
    * files (a row deleted twice across stacked DVs counts per entry —
    * debt measures mask work the reader pays, not net dead rows).
    */
  final case class DvDebt(annotatedFiles: Int, totalFiles: Int, dvRows: Long) {
    def annotatedFraction: Double =
      if (totalFiles == 0) 0.0 else annotatedFiles.toDouble / totalFiles
  }

  def dvDebt(root: String, version: Option[Long] = None): DvDebt = {
    version.orElse(currentVersion(root)) match {
      case None => DvDebt(0, 0, 0L)
      case Some(v) =>
        val entries = entriesAt(root, v)
        val annotated = entries.filter(e => entryDvs(e).nonEmpty)
        val refs = annotated.flatMap(entryDvs).distinct
        val dvRows = refs
          .map(r => footerRowCount(Paths.get(root, DvDir, r))).sum
        DvDebt(annotated.size, entries.size, dvRows)
    }
  }

  /** Materialize the current version's deletion vectors: rewrite ONLY the
    * annotated files (DV-masked scan → plain files) and publish the swap
    * as one commit. Cost ∝ annotated files, never table size; untouched
    * files stay byte-identical and keep their manifest stats; orphaned DV
    * files fall to [[vacuum]]. Content-identical by construction, so the
    * commit rebases over concurrent appends like a compaction (row
    * movement only). Returns the current version unchanged when no file
    * is annotated. This collapses the measured merge-on-read read tax
    * (BASELINE.md Round 15: full read 9.49 s at sf100 under DVs vs
    * 0.74 s plain) without compact's whole-partition rewrite.
    */
  def materializeDv(spark: SparkSession, root: String,
                    txn: Option[(String, Long)] = None): Long = {
    val base = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    val bm = manifestAt(root, base)
    val annotated = entriesOf(root, bm).filter(e => entryDvs(e).nonEmpty)
    if (annotated.isEmpty) return base
    val layout = layoutOf(root, Some(bm))
    val schema = bm.schema
    val rewritten = scanEntries(spark, root, annotated, schema)
    val newFiles = writeDataFiles(rewritten, root, layout)
    commitRebasing(root, base, annotated, newFiles, Some(Set.empty), -1L,
      statsFor(root, newFiles), txn, schema, layout)
  }

  /** Debt-driven maintenance trigger — the snapshot store's twin of the
    * ANN index's churn-fraction RebuildThreshold (AnnIvf.scala): each
    * merge-on-read commit leaves DV mask work every subsequent read pays;
    * past a threshold the one-time rewrite is cheaper than the recurring
    * tax. Checks [[dvDebt]] (footer/manifest math only) and, when EITHER
    * bound is crossed — annotated-file fraction or absolute DV row mass —
    * runs exactly one [[materializeDv]] commit. Returns the new version
    * when maintenance ran, None when the table is under budget. Callers
    * poll it after writes (e.g. a streaming sink's batch hook); an
    * under-threshold call costs a manifest parse + DV footer reads.
    */
  def maintain(spark: SparkSession, root: String,
               maxAnnotatedFraction: Double = 0.3,
               maxDvRows: Long = Long.MaxValue,
               txn: Option[(String, Long)] = None): Option[Long] = {
    val debt = dvDebt(root)
    val over = debt.annotatedFiles > 0 &&
      (debt.annotatedFraction > maxAnnotatedFraction || debt.dvRows > maxDvRows)
    if (!over) None else Some(materializeDv(spark, root, txn))
  }

  /** RESTORE: publish version `version`'s exact content — file list, DV
    * annotations, stats, schema, and partition layout — as a NEW commit
    * on top of the current version (the lakehouse rollback verb: history
    * is never rewritten, recovery from a bad write is one forward
    * commit). Pure driver-side manifest math — data files are immutable
    * so the old version's files ARE the restored content; nothing is
    * copied or rewritten. CDC across the restore commit is automatically
    * the inverse delta of what it undoes (manifest set diff). The write
    * set is the WHOLE table (`conflictOnAddsIn = None`): a concurrent
    * append racing a restore conflicts instead of silently vanishing.
    * Refuses loudly when vacuum has already dropped any of the target
    * version's files — a restore that publishes a manifest naming dead
    * files would be deferred corruption, not rollback. Restoring the
    * current version is a no-op (returns it unchanged).
    */
  def restore(root: String, version: Long,
              txn: Option[(String, Long)] = None): Long = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to restore at $root"))
    if (version == cur) return cur
    require(Files.exists(manifestPath(root, version)),
      s"version $version does not exist at $root (vacuumed or never committed)")
    val m = manifestAt(root, version)
    val target = entriesOf(root, m)
    val missingData = target.map(entryPath)
      .filterNot(f => Files.exists(Paths.get(root, "data", f)))
    val missingDv = target.flatMap(entryDvs).distinct
      .filterNot(r => Files.exists(Paths.get(root, DvDir, r)))
    require(missingData.isEmpty && missingDv.isEmpty,
      s"cannot restore $root to v$version: vacuum already removed " +
        s"${missingData.size} data file(s) and ${missingDv.size} DV file(s) " +
        (missingData ++ missingDv).take(3).mkString("(e.g. ", ", ", ")"))
    val cols = statsCols(root)
    val stats = if (cols.isEmpty) None else Some(cols -> statsOf(root, m))
    commitRebasing(root, cur, entriesAt(root, cur), target, None,
      m.rows, stats, txn, m.schema, m.partCol.flatten)
  }

  /** Zero-copy shallow CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE`
    * idea): publish `srcRoot`'s version `version` (default current) as a
    * brand-new table at `dstRoot` — same entries, DV annotations, schema,
    * partition layout, stats, and row count — WITHOUT copying any data
    * bytes. The clone is a v0 commit of its own manifest log; from then
    * on the two tables diverge independently (every write names its own
    * new files under its own root).
    *
    * Cross-table GC safety is delegated to the filesystem: each shared
    * data/DV file is HARDLINKED into the clone's directory tree (an
    * O(files) metadata operation — no data pages move), so the inode's
    * link count IS the cross-clone reference count. [[vacuum]] stays
    * entirely single-table — it unlinks its own table's directory
    * entries, and a shared inode survives until the LAST referencing
    * table drops it. No clone registry, no ref-count sidecar, nothing
    * for a crashed clone to corrupt: a half-linked clone has no manifest
    * yet, so it is invisible, and the stray links are plain unreferenced
    * files. On a filesystem without hardlinks (object stores) the link
    * degrades to a per-file copy — still manifest-driven and
    * incremental, just not zero-byte; a format targeting such stores
    * shares files by absolute path + ref-counted GC instead, the
    * documented trade (SURVEY §7.4).
    *
    * Refuses a vacuumed source version (same rule as [[restore]]) and a
    * destination that already has a manifest log (CLONE creates tables;
    * it never overlays one).
    */
  def cloneTable(srcRoot: String, dstRoot: String,
                 version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion(srcRoot)).getOrElse(
      throw new IllegalStateException(s"no snapshot to clone at $srcRoot"))
    require(Files.exists(manifestPath(srcRoot, v)),
      s"version $v does not exist at $srcRoot (vacuumed or never committed)")
    require(currentVersion(dstRoot).isEmpty,
      s"clone target $dstRoot already has a manifest log")
    val m = manifestAt(srcRoot, v)
    val entries = entriesOf(srcRoot, m)
    def linkInto(sub: String, rel: String): Unit = {
      val src = Paths.get(srcRoot, sub, rel)
      require(Files.exists(src),
        s"cannot clone $srcRoot v$v: vacuum already removed $sub/$rel")
      val dst = Paths.get(dstRoot, sub, rel)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst)) {
        try Files.createLink(dst, src)
        catch {
          // FileAlreadyExists: a concurrent/retried clone linked it — the
          // content is identical by construction (same immutable source).
          case _: java.nio.file.FileAlreadyExistsException => ()
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            try Files.copy(src, dst)
            catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
      }
    }
    entries.map(entryPath).foreach(linkInto("data", _))
    entries.flatMap(entryDvs).distinct.foreach(linkInto(DvDir, _))
    // Declared stats columns are a table-level side record — carry them
    // so the clone's future commits keep harvesting the same pruning
    // stats the source declared.
    val srcStatsCols = statsCols(srcRoot)
    if (srcStatsCols.nonEmpty) {
      val p = Paths.get(dstRoot, ManifestDir, "stats_cols")
      Files.createDirectories(p.getParent)
      Files.write(p, srcStatsCols.mkString(",")
        .getBytes(StandardCharsets.UTF_8))
    }
    val stats =
      if (srcStatsCols.isEmpty) None
      else Some(srcStatsCols -> statsOf(srcRoot, m))
    commit(dstRoot, 0L, entries, m.rows, stats, None, m.schema, m.partCol.flatten)
  }

  /** Manifest set diff `from` → `to`: (files added, files removed). The
    * incremental-consumer primitive — O(manifest size) driver math, no
    * data read.
    */
  def changedFiles(root: String, from: Long, to: Long): (Seq[String], Seq[String]) = {
    val (ma, mb) = (manifestAt(root, from), manifestAt(root, to))
    (ma.sections, mb.sections) match {
      case (Some(fa), Some(fb)) =>
        // Identical section refs carry identical file sets (content-
        // addressed) — skip them wholesale; the diff parses only TOUCHED
        // partitions' sections. A section's content embeds its partition
        // dir in every path, so equal refs across different partitions
        // cannot occur.
        val refsA = fa.map(_._2).toSet
        val refsB = fb.map(_._2).toSet
        val a = fa.filterNot(s => refsB(s._2))
          .flatMap(s => readSection(root, s._2).map(_._1)).toSet
        val b = fb.filterNot(s => refsA(s._2))
          .flatMap(s => readSection(root, s._2).map(_._1)).toSet
        ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
      case _ =>
        val a = entriesOf(root, ma).toSet
        val b = entriesOf(root, mb).toSet
        ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
    }
  }

  /** CDC between two versions: the table columns plus `_change_type`
    * ('insert' = net row additions from → to, 'delete' = net removals).
    * Because data files are immutable, the delta is exactly
    * rows(added files) exceptAll rows(removed files) (and the reverse
    * for deletes) — a merge's rewritten survivors cancel out of both
    * sides, leaving the true row-level change. Cost is proportional to
    * the TOUCHED files, never the table: an append's delta reads only
    * the appended files (removed set is empty).
    *
    * UPDATE IMAGES (the Delta CDF update_preimage/update_postimage
    * contract): with a row-identity key, a deleted and an inserted row
    * sharing the key are one row's before/after images, so a downstream
    * incremental consumer can tell an in-place update from genuine
    * insert+delete churn. The key comes from `updateKey` when the caller
    * passes one, else — for a SINGLE-commit hop (to == from+1) — from the
    * `change_key` the commit itself declared (MERGE INTO records its ON
    * equi-columns, the keyed upsert its keyCol; see [[changeKeyAt]]).
    * Multi-commit ranges without an explicit key keep the plain
    * insert/delete labeling — different commits may disagree on the key,
    * and a wrong pairing is worse than none. Rows whose key is NULL never
    * pair (SQL equality semantics). A row whose key VALUE was rewritten
    * by the update surfaces as delete+insert — which is what it is.
    *
    * Pairing is VALUE-level, not row-level (the documented contract,
    * negative-control-gated in SnapshotStoreSpec): when a commit both
    * deletes and inserts rows under one shared key value, EVERY such row
    * labels as an update image — a genuine extra insert under that value
    * rides as a second postimage, not as 'insert'. This is sound for the
    * writers that declare keys (MERGE's ANSI cardinality check and the
    * upsert's key semantics make the pairing 1:1 per value); consumers
    * passing their own `updateKey` over hand-built commits must expect
    * the value-level grouping.
    */
  def changes(spark: SparkSession, root: String, from: Long, to: Long,
              updateKey: Seq[String] = Nil): DataFrame = {
    val (added, removed) = changedFiles(root, from, to)
    // Both sides scan under the TO version's schema so the delta is
    // union-compatible even across a schema-evolving commit (old files
    // yield nulls for columns added since `from`).
    val toM = manifestAt(root, to)
    val schema = toM.schema
    def scan(fs: Seq[String]): DataFrame = {
      if (fs.isEmpty)
        (entriesOf(root, toM) ++ entriesAt(root, from)).headOption match {
          case Some(any) =>
            schema.fold(spark.read)(spark.read.schema)
              .parquet(Paths.get(root, "data", entryPath(any)).toString).limit(0)
          case None => // both versions empty (e.g. empty bootstrap commit)
            val st = schema.getOrElse(throw new IllegalStateException(
              s"versions $from..$to of $root have no files and no recorded schema"))
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st)
        }
      // DV-aware on BOTH sides: an annotated entry scans as its live rows
      // only, so a DV-delete commit's delta is exactly the deleted rows.
      else scanEntries(spark, root, fs, schema)
    }
    val a = scan(added)
    val r = scan(removed)
    val ins = a.exceptAll(r)
    val del = r.exceptAll(a)
    val key: Seq[String] =
      if (updateKey.nonEmpty) updateKey
      else if (to == from + 1) toM.changeKey.getOrElse(Nil)
      else Nil
    if (key.isEmpty || !key.forall(a.columns.contains))
      ins.withColumn("_change_type", lit("insert"))
        .unionByName(del.withColumn("_change_type", lit("delete")))
    else {
      // Keys present on BOTH sides pair into update images; the rest keep
      // their plain labels. Semi/anti joins against the key projection —
      // touched-file-sized frames, and the cardinality contract of the
      // keyed writers (MERGE's ANSI check, the upsert's key semantics)
      // makes the pairing 1:1 for the commits that declare a key.
      val delKeys = del.select(key.map(col): _*).distinct()
      val insKeys = ins.select(key.map(col): _*).distinct()
      ins.join(delKeys, key, "left_anti")
        .withColumn("_change_type", lit("insert"))
        .unionByName(del.join(insKeys, key, "left_anti")
          .withColumn("_change_type", lit("delete")))
        .unionByName(del.join(insKeys, key, "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
        .unionByName(ins.join(delKeys, key, "left_semi")
          .withColumn("_change_type", lit("update_postimage")))
    }
  }

  /** Drop data files no LIVE manifest references (after `keepVersions`
    * manifests are pruned) — the maintenance job, never part of a commit.
    * Readers pinned to a retained version stay safe; time travel beyond
    * the horizon is gone, which is the documented trade.
    *
    * `minAgeMs` is the in-flight-writer guard (Delta's retention window):
    * a commit's data files exist BEFORE its manifest does, so a vacuum
    * racing an in-flight commit would see them unreferenced and delete
    * them — the writer would then publish a manifest naming missing
    * files. Files and directories younger than the window are never
    * touched (an in-flight writer's output directory can be empty for a
    * moment); set 0 only when no concurrent writer can exist. The same
    * window reclaims publish tmp files a crashed commit left in
    * `_manifests`.
    */
  def vacuum(root: String, keepVersions: Int = 2,
             minAgeMs: Long = 15L * 60 * 1000): Unit = {
    val vs = versions(root)
    val dead = vs.dropRight(keepVersions)
    val live = vs.takeRight(keepVersions).map(manifestAt(root, _))
    val liveEntries = live.flatMap(entriesOf(root, _))
    val referenced = liveEntries.map(entryPath).toSet
    // Harvest txn markers out of the manifests about to be pruned so
    // lastTxn's exactly-once contract survives retention (a compaction or
    // other writer's commits can push an app's latest marker out of the
    // keep window).
    val harvested = dead.flatMap(manifestAt(root, _).txn)
    if (harvested.nonEmpty) {
      val merged = (txnCheckpoint(root).toSeq ++ harvested)
        .groupBy(_._1).map { case (app, bs) => app -> bs.map(_._2).max }
      writeTxnCheckpoint(root, merged)
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    val dataDir = Paths.get(root, "data")
    import scala.jdk.CollectionConverters._
    def old(p: Path) = Files.getLastModifiedTime(p).toMillis <= cutoff
    if (Files.isDirectory(dataDir)) {
      val it = Files.walk(dataDir)
      val (files, dirs) = try it.iterator().asScala.toList
        .filter(_ != dataDir).partition(Files.isRegularFile(_))
      finally it.close()
      // Directory ages are taken BEFORE deleting files: removing a file
      // bumps its directory's mtime, and an emptied old commit dir must
      // still go.
      val oldDirs = dirs.filter(p => Files.isDirectory(p) && old(p))
      files.filter(p => !referenced.contains(dataDir.relativize(p).toString) && old(p))
        .foreach(Files.delete)
      // prune now-empty old commit dirs (best-effort, deepest first)
      oldDirs.reverse.foreach { p =>
        val s = Files.list(p)
        val empty = try !s.iterator().hasNext finally s.close()
        if (empty)
          try Files.delete(p)
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
      }
    }
    // DV GC: drop deletion-vector files no LIVE manifest entry annotates
    // (a compaction materialized them, or their data file was rewritten
    // by a merge), same age guard as data files.
    val liveDvs = liveEntries.flatMap(entryDvs).toSet
    val dvDir = Paths.get(root, DvDir)
    if (Files.isDirectory(dvDir)) {
      val it = Files.list(dvDir)
      try it.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !liveDvs.contains(p.getFileName.toString) && old(p))
        .toList.foreach(Files.delete)
      finally it.close()
    }
    // Staging GC: updateRows removes its parquet staging dir in a finally,
    // but a JVM kill mid-commit can strand one — sweep stale dirs under
    // the same age guard (an in-flight writer's staging is younger).
    val stagingDir = Paths.get(root, "_staging")
    if (Files.isDirectory(stagingDir)) {
      val it = Files.list(stagingDir)
      val stale = try it.iterator().asScala.filter(old).toList
      finally it.close()
      stale.foreach { p =>
        val walk = Files.walk(p)
        try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
    // Section GC: drop section files no LIVE manifest references, same
    // age guard (an in-flight commit writes its sections before its
    // manifest exists).
    val liveSecs = live.flatMap(_.sections.getOrElse(Nil).map(_._2)).toSet
    val secDir = Paths.get(root, ManifestDir, SectionDir)
    if (Files.isDirectory(secDir)) {
      val it = Files.list(secDir)
      try it.iterator().asScala
        .filter(p => !liveSecs.contains(p.getFileName.toString) && old(p))
        .toList.foreach(Files.delete)
      finally it.close()
    }
    // Publish GC: a commit that crashed between writing its tmp file and
    // linking it leaves the tmp behind; a live publish's tmp is younger.
    val manifestDir = Paths.get(root, ManifestDir)
    if (Files.isDirectory(manifestDir)) {
      val it = Files.list(manifestDir)
      try it.iterator().asScala
        .filter(p => Manifest.isPublishTmp(p.getFileName.toString) && old(p))
        .toList.foreach(Files.deleteIfExists)
      finally it.close()
    }
    dead.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
  }
}
