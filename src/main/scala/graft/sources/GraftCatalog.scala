package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** SQL citizenship for the snapshot layer: a DataSource V2 `TableCatalog`
  * over a directory of [[SnapshotStore]] tables, so plain Spark SQL —
  * including time travel and transactional DML — works with zero
  * Scala-API cooperation:
  *
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/tables")
  *   spark.sql("SELECT * FROM graft.docs WHERE k = 5")
  *   spark.sql("SELECT * FROM graft.docs VERSION AS OF 3")
  *   spark.sql("CREATE TABLE graft.t (k BIGINT, v STRING) PARTITIONED BY (k)")
  *   spark.sql("INSERT INTO graft.t SELECT ...")        -- append commit
  *   spark.sql("INSERT OVERWRITE graft.t SELECT ...")   -- replace commit
  *   spark.sql("SELECT * FROM graft.docs.history")      -- commit log
  *   spark.sql("SELECT * FROM graft.docs.files")        -- current file list
  *
  * Reads: `loadTable` resolves the requested snapshot version from the
  * manifest log (current, `VERSION AS OF` n, or the newest manifest
  * committed at-or-before a `TIMESTAMP AS OF` bound) and returns a table
  * whose scan machinery is Spark's OWN parquet DSv2 stack
  * (`ParquetTable` over the version's exact file list, with the
  * manifest-recorded schema as the user-specified schema). That buys the
  * full native read path for free — column pruning, filter pushdown into
  * row-group stats, vectorized decode — while the snapshot layer
  * contributes exactly what a table format should: WHICH files constitute
  * the version, and the authoritative schema.
  *
  * Writes go through the SAME manifest-commit protocol as the Scala API —
  * `INSERT INTO` delegates to [[SnapshotStore.append]] (blind append,
  * rebases over concurrent commits), `INSERT OVERWRITE` to
  * [[SnapshotStore.overwrite]] — via the DSv2 V1Write fallback, so a SQL
  * writer and a Scala writer interleave under the same optimistic
  * protocol and no file ever bypasses the log. The table's recorded
  * partition column ([[SnapshotStore.partColOf]]) reproduces the layout;
  * a PARTITIONED-but-unrecorded legacy table refuses SQL writes loudly
  * rather than silently mixing layouts. Time-traveled tables are
  * read-only (you cannot insert into the past). CREATE TABLE publishes an
  * empty v0 snapshot carrying the declared schema (and partition column),
  * which also gives non-atomic CTAS: create, then the INSERT path.
  *
  * Metadata tables (Iceberg idiom): `<table>.history` (one row per
  * committed version: version, committed_at, rows, num_files, dv_files)
  * and `<table>.files` (the resolved version's manifest entries) — both
  * served driver-side from the manifest log via `LocalScan`; they are
  * KB-sized reads even at million-file scale (sectioned manifests).
  *
  * Deletion vectors: a version whose entries carry `#dv=` sidecars cannot
  * be served as a bare file list (the deleted rows are still IN the
  * files). `loadTable` refuses such versions by name and points at the
  * two honest outs — `SnapshotStore.compact` (which materializes DVs) or
  * the Scala read path (which anti-joins them). Refusal over silent
  * resurrection.
  *
  * 100 TB: planning cost is one manifest read (sectioned manifests keep
  * that KB-sized at million-file scale); the scan itself is the native
  * parquet path and inherits every scale property the rest of the engine
  * relies on. The catalog holds NO state beyond its root — concurrent
  * writers publishing new versions are picked up by the next `loadTable`
  * (SQL statements pin the version they resolved, the snapshot-isolation
  * contract).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.root must point at the tables directory"))
  }

  override def name(): String = catName

  private def dirOf(ident: Identifier): java.nio.file.Path =
    ident.namespace.foldLeft(Paths.get(root))(_.resolve(_)).resolve(ident.name)

  private def isTable(p: java.nio.file.Path): Boolean =
    SnapshotStore.isTable(p.toString)

  // -- TableCatalog ---------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = namespace.foldLeft(Paths.get(root))(_.resolve(_))
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    val it = Files.list(dir)
    try it.iterator().asScala
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally it.close()
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  /** `VERSION AS OF <n>` — the literal manifest version. */
  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident, Some(version.toLong))

  /** `TIMESTAMP AS OF <t>` (micros since epoch): the newest version whose
    * manifest was committed at or before the bound — manifest commit
    * mtime IS the version's publication instant (create-exclusive move,
    * never rewritten).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDirFor(ident).getOrElse(throw new NoSuchTableException(ident))
    val vs = SnapshotStore.versions(dir)
    if (vs.isEmpty) throw new NoSuchTableException(ident)
    val at = vs.filter(commitMicros(dir, _) <= timestampMicros)
    if (at.isEmpty) throw new IllegalArgumentException(
      s"$catName.${ident.name}: no version committed at or before " +
        s"timestamp $timestampMicros (earliest is v${vs.head})")
    tableAt(ident, Some(at.last))
  }

  private def commitMicros(dir: String, v: Long): Long =
    SnapshotStore.committedAtMillis(dir, v) * 1000L

  /** The snapshot directory `ident` denotes: either directly
    * (`graft.ns.table`), or — when `ident.name` is a metadata-table
    * suffix — the table the NAMESPACE path denotes (`graft.table.history`
    * parses as namespace=[table], name=history).
    */
  private def tableDirFor(ident: Identifier): Option[String] = {
    val d = dirOf(ident)
    if (isTable(d)) Some(d.toString)
    else if (MetaTables.contains(ident.name) && ident.namespace.nonEmpty) {
      val parent = ident.namespace.foldLeft(Paths.get(root))(_.resolve(_))
      if (isTable(parent)) Some(parent.toString) else None
    } else None
  }

  private val MetaTables = Set("history", "files")

  private def tableAt(ident: Identifier, asOf: Option[Long]): Table = {
    val dir = dirOf(ident)
    if (!isTable(dir)) {
      // graft.<table>.history / graft.<table>.files
      if (MetaTables.contains(ident.name))
        tableDirFor(ident).foreach { td =>
          return metaTable(s"$catName.${ident.namespace.mkString(".")}.${ident.name}",
            td, ident.name, asOf)
        }
      throw new NoSuchTableException(ident)
    }
    val tableDir = dir.toString
    val v = asOf.orElse(SnapshotStore.currentVersion(tableDir)).getOrElse(
      throw new NoSuchTableException(ident))
    if (!SnapshotStore.versions(tableDir).contains(v))
      throw new IllegalArgumentException(
        s"$catName.${ident.name}: no committed version $v " +
          s"(have ${SnapshotStore.versions(tableDir).mkString(", ")})")
    val m = SnapshotStore.manifestAt(tableDir, v)
    val entries = SnapshotStore.entriesOf(tableDir, m)
    val hasDvs = entries.exists(_.contains("#dv="))
    val schema = m.schema
    // Renamed columns resolve by field id — assert the read-side conf
    // whenever the served schema carries ids (no-op otherwise).
    if (schema.exists(s => SnapshotStore.fieldIdsOf(s).nonEmpty))
      SparkSession.active.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // entryPath strips DV annotations (`path#dv=ref`): the delegate table
    // only ever sees real file paths — for DV versions it contributes
    // schema/properties while the scan goes through GraftDvScanBuilder.
    val files = entries.map(e =>
      Paths.get(tableDir, "data", SnapshotStore.entryPath(e)).toString)
    // SQL writes reproduce the table's layout from the recorded partition
    // column. A table whose files are partitioned but whose layout was
    // never recorded (pre-record history) stays read-only: appending
    // unpartitioned files would silently break merge/compact's
    // per-partition cost model.
    val partitioned = entries.exists(_.split('/').exists(_.startsWith("__part=")))
    val partCol = SnapshotStore.partColOf(tableDir)
    val writable =
      if (asOf.isDefined) Left("time-traveled tables are read-only " +
        "(INSERT goes to the current version)")
      else if (partitioned && partCol.isEmpty)
        Left("table is partitioned but predates the part_col record; " +
          "rewrite it with SnapshotStore.overwrite(df, root, Some(col)) " +
          "to enable SQL writes")
      else Right(partCol)
    new GraftSnapshotTable(s"$catName.${ident.name}", v, tableDir, writable,
      ParquetTable(s"$catName.${ident.name}@v$v", SparkSession.active,
        CaseInsensitiveStringMap.empty(), files, schema,
        classOf[ParquetFileFormat]), hasDvs)
  }

  /** `<table>.history` / `<table>.files` as driver-side LocalScan tables —
    * the manifest log is the data, no Spark job runs. Both respect
    * `VERSION AS OF`: `files` shows that version's manifest entries,
    * `history` the log AS OF that version (the commits visible to a
    * reader pinned there — not the full log, which would leak the future
    * into a time-traveled view).
    */
  private def metaTable(name: String, tableDir: String, kind: String,
                        asOf: Option[Long]): Table = kind match {
    case "history" =>
      asOf.foreach { v =>
        require(SnapshotStore.versions(tableDir).contains(v),
          s"$name: no committed version $v")
      }
      val rows = SnapshotStore.versions(tableDir)
        .filter(v => asOf.forall(v <= _)).map { v =>
        val m = SnapshotStore.manifestAt(tableDir, v)
        val entries = SnapshotStore.entriesOf(tableDir, m)
        Row(v, new java.sql.Timestamp(commitMicros(tableDir, v) / 1000L),
          m.rows, entries.size,
          entries.count(_.contains("#dv=")))
      }
      new GraftMetaTable(name, StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("rows", LongType, nullable = false),
        StructField("num_files", IntegerType, nullable = false),
        StructField("dv_files", IntegerType, nullable = false))), rows)
    case "files" =>
      val v = asOf.orElse(SnapshotStore.currentVersion(tableDir)).getOrElse(
        throw new IllegalArgumentException(s"$name: table has no versions"))
      val rows = SnapshotStore.entriesAt(tableDir, v).map { e =>
        val path = SnapshotStore.entryPath(e)
        val part = path.split('/').find(_.startsWith("__part="))
          .map(_.stripPrefix("__part=")).orNull
        Row(path, part, SnapshotStore.entryDvs(e).size)
      }
      new GraftMetaTable(name, StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("partition", StringType, nullable = true),
        StructField("dv_count", IntegerType, nullable = false))), rows)
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  /** CREATE TABLE: publish an empty v0 snapshot carrying the declared
    * schema (and single identity partition column, if any) through the
    * normal commit protocol. CTAS composes this with the INSERT path
    * (non-atomic create-then-insert, the no-staging-catalog contract).
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table = {
    val dir = dirOf(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    val partCol = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
        Some(t.references.head.fieldNames.head)
      case other => throw new UnsupportedOperationException(
        s"graft tables support a single identity partition column; got " +
          other.mkString(", "))
    }
    partCol.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"partition column '$c' is not in the table schema")
    }
    // Loud refusal over silent drop (the catalog-wide style): snapshot
    // tables carry no property store, so TBLPROPERTIES/COMMENT that the
    // user actually wrote must not vanish. Spark itself injects reserved
    // keys (owner/provider/location/external) into every CREATE — those
    // pass through.
    val reserved = Set("owner", "provider", "location", "external")
    val userProps = properties.asScala.keys.filterNot(k =>
      reserved(k.toLowerCase) || k.startsWith("option."))
    if (userProps.nonEmpty) throw new UnsupportedOperationException(
      s"graft tables do not store table properties; got " +
        s"${userProps.mkString(", ")}")
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    SnapshotStore.overwrite(empty, dir.toString, partCol)
    tableAt(ident, None)
  }

  /** ALTER TABLE — the metadata-only schema evolutions (each one commit):
    *
    *   ALTER TABLE graft.t ADD COLUMN c BIGINT          -- null-filled past
    *   ALTER TABLE graft.t RENAME COLUMN a TO b         -- by field id, no rewrite
    *   ALTER TABLE graft.t DROP COLUMN c                -- hidden, not erased
    *   ALTER TABLE graft.t ALTER COLUMN c TYPE BIGINT   -- widen only (parquet upcast)
    *
    * Everything else (narrowing/lateral type changes, nested fields,
    * properties) refuses loudly — the catalog-wide style.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDirFor(ident).getOrElse(throw new NoSuchTableException(ident))
    // The whole statement maps to ONE SnapshotStore.alterColumns commit:
    // validation of every change runs against the evolving schema before
    // anything publishes, so a refused change (e.g. one bad column in a
    // multi-column ADD) leaves the table at its pre-statement version —
    // atomic ALTER, never partially applied (ADVICE r14).
    val steps = changes.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft tables support top-level ADD COLUMN only")
        SnapshotStore.ColumnChange.Add(add.fieldNames.head, add.dataType)
      case ren: TableChange.RenameColumn =>
        require(ren.fieldNames.length == 1,
          "graft tables support top-level RENAME COLUMN only")
        SnapshotStore.ColumnChange.Rename(ren.fieldNames.head, ren.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "graft tables support top-level DROP COLUMN only")
        SnapshotStore.ColumnChange.Drop(del.fieldNames.head)
      case wid: TableChange.UpdateColumnType =>
        require(wid.fieldNames.length == 1,
          "graft tables support top-level ALTER COLUMN TYPE only")
        SnapshotStore.ColumnChange.Widen(wid.fieldNames.head, wid.newDataType)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change not supported on graft tables: $other")
    }
    SnapshotStore.alterColumns(dir, steps)
    tableAt(ident, None)
  }

  /** DROP TABLE: remove the table directory wholesale — manifest log,
    * sections, and data files. Not transactional (there is no parent log
    * to record the drop in); concurrent readers holding a version keep
    * their open file handles, exactly like dropping any filesystem table.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!isTable(dir)) return false
    val it = Files.walk(dir)
    try it.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally it.close()
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    val to = dirOf(newIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    // Manifest entries are table-root-relative by design, so a wholesale
    // directory move IS a rename.
    Files.move(from, to)
  }

  // -- SupportsNamespaces (directories without a manifest log) --------------

  override def listNamespaces(): Array[Array[String]] = {
    val it = Files.list(Paths.get(root))
    try it.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString))
      .toArray
    finally it.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      Files.isDirectory(namespace.foldLeft(Paths.get(root))(_.resolve(_)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(namespace.foldLeft(Paths.get(root))(_.resolve(_)))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = namespace.foldLeft(Paths.get(root))(_.resolve(_))
    if (!Files.isDirectory(dir)) return false
    // A table directory is NOT a namespace (mirrors listNamespaces, which
    // already excludes them): without this, DROP NAMESPACE graft.t CASCADE
    // on a table path would delete the table's manifest log and data
    // through the namespace path.
    require(!isTable(dir),
      s"${namespace.mkString(".")} is a table, not a namespace; use DROP TABLE")
    val it = Files.list(dir)
    val empty = try !it.iterator().hasNext finally it.close()
    require(empty || cascade, s"namespace ${namespace.mkString(".")} is not empty")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally walk.close()
    true
  }
}

/** A pinned snapshot version as a DSv2 table. Scan planning delegates
  * wholesale to the native parquet table built over the version's file
  * list; writes (when `writable`) delegate to the SnapshotStore commit
  * protocol through the V1Write fallback — `INSERT INTO` is an append
  * commit (rebases over concurrent writers), `INSERT OVERWRITE` a
  * replace commit. `writable = Left(reason)` refuses at analysis with
  * the reason (time travel, unrecorded legacy layout).
  */
private[sources] class GraftSnapshotTable(tableName: String, version: Long,
                                          location: String,
                                          writable: Either[String, Option[String]],
                                          delegate: ParquetTable,
                                          hasDvs: Boolean = false)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = tableName

  /** `DELETE FROM graft.t WHERE …` — Spark's metadata-delete path: the
    * condition arrives as V1 filters and maps onto
    * [[SnapshotStore.delete]]'s transactional commit. Predicates that
    * don't translate (expressions, subqueries) make `canDeleteWhere`
    * false and the statement refuses loudly — never a partial delete.
    *
    * Mode choice is the cost model, decided from the filter's references:
    *   - partition-aligned predicates (or no predicate at all) take the
    *     REWRITE path — wholly-deleted partitions drop their files from
    *     the manifest without writing anything;
    *   - row-level predicates take the DELETION-VECTOR path — cost ∝
    *     matching rows (one KB-sized sidecar), not touched-partition
    *     bytes; reads serve through the DV scan until the next compact.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable.isRight &&
      filters.forall(GraftFilterTranslation.toColumn(_).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val partCol = writable.fold(
      reason => throw new UnsupportedOperationException(s"$tableName: $reason"),
      identity)
    val pred = filters.toSeq.flatMap(GraftFilterTranslation.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    val refs = filters.flatMap(_.references).toSet
    val partitionAligned =
      refs.isEmpty || partCol.exists(pc => refs.subsetOf(Set(pc)))
    SnapshotStore.delete(SparkSession.active, location, pred, partCol,
      deletionVectors = !partitionAligned)
  }

  override def schema(): StructType = delegate.schema

  /** AUTOMATIC_SCHEMA_EVOLUTION (writable tables only) opts into Spark's
    * own MERGE WITH SCHEMA EVOLUTION machinery: the analyzer computes the
    * add-column/widen changes from the source schema and routes them
    * through [[GraftCatalog.alterTable]] — ONE atomic metadata-only
    * commit (alterColumns), refused loudly for anything beyond the
    * supported evolution set — then re-resolves the merge against the
    * reloaded (evolved) relation. Old files read the new columns as null;
    * time travel keeps the old shape. The evolution commit lands at
    * ANALYSIS time (Spark's DSv2 contract for this capability), so a
    * merge that subsequently fails leaves the added nullable column —
    * metadata-only, the documented trade vs Delta's in-transaction
    * evolution.
    */
  override def capabilities(): java.util.Set[TableCapability] =
    if (writable.isRight)
      java.util.Set.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    else
      java.util.Set.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def properties(): java.util.Map[String, String] =
    (Map("location" -> location, "snapshot-version" -> version.toString,
      "provider" -> "graft-snapshot",
      "deletion-vectors" -> hasDvs.toString) ++
      writable.toOption.flatten.map("partition-column" -> _)).asJava

  /** Plain versions scan through Spark's native parquet DSv2 stack; a
    * version carrying deletion vectors scans through [[GraftDvScanBuilder]]
    * — the SAME DV anti-join the Scala path applies
    * ([[SnapshotStore.read]]), surfaced via the V1 fallback so a reader
    * between a GDPR delete and the next compaction sees the masked table
    * instead of a refusal (r12 refused these versions by name).
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (hasDvs)
      new GraftDvScanBuilder(location, version, delegate.schema)
    else delegate.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val partCol = writable.fold(
      reason => throw new UnsupportedOperationException(s"$tableName: $reason"),
      identity)
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite)
                SnapshotStore.overwrite(data, location, partCol)
              else
                SnapshotStore.append(data, location, partCol)
          }
      }
    }
  }
}

/** Scan for a deletion-vector-carrying snapshot version: plans the Scala
  * read path's DataFrame — parquet scan of the version's files, anti-join
  * against the DV sidecars on (file, row_index) — and hands Spark its RDD
  * through the DSv2→V1 fallback ([[V1Scan]], the same bridge the built-in
  * JDBC source rides). Column pruning and filter pushdown are applied to
  * the INNER DataFrame, so Catalyst pushes predicates through the
  * anti-join into the parquet scan below it (an anti-join never removes a
  * filter's rows from the left side — pushdown is semantics-preserving);
  * every filter is ALSO reported back as residual, so correctness never
  * depends on the translation.
  *
  * 100 TB: the anti-join is the designed GDPR-window shape — DV sidecars
  * are KBs and broadcast on their own stats; the underlying scan keeps
  * native vectorized decode. The V1 bridge costs one InternalRow→Row→
  * InternalRow conversion pass versus the columnar path, bounded by the
  * window between a delete and the next compact (which materializes DVs
  * and restores the native path).
  */
private[sources] class GraftDvScanBuilder(location: String, version: Long,
                                          tableSchema: StructType)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.sources
  import org.apache.spark.sql.Column

  private var required: StructType = tableSchema
  private var filters: Array[sources.Filter] = Array.empty

  override def pushFilters(fs: Array[sources.Filter]): Array[sources.Filter] = {
    filters = fs
    fs // all residual: the inner filter is best-effort, Spark re-checks
  }

  override def pushedFilters(): Array[sources.Filter] =
    filters.filter(translate(_).isDefined)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def translate(f: sources.Filter): Option[Column] =
    GraftFilterTranslation.toColumn(f)

  override def build(): Scan = new org.apache.spark.sql.connector.read.V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](ctx: SQLContext): T = {
      val pushable = filters.flatMap(translate)
      val cols = required.fieldNames
      new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = required
        override def buildScan(): org.apache.spark.rdd.RDD[Row] = {
          var df = SnapshotStore.read(ctx.sparkSession, location, Some(version))
          pushable.foreach(p => df = df.filter(p))
          if (cols.nonEmpty)
            df = df.select(cols.map(org.apache.spark.sql.functions.col)
              .toIndexedSeq: _*)
          else df = df.select() // COUNT(*)-style empty projection
          df.rdd
        }
      }.asInstanceOf[T]
    }
  }
}

/** V1 `Filter` → `Column` translation, shared by the DV scan (pushdown
  * into the inner frame) and SQL DELETE (`SupportsDelete.deleteWhere`).
  * None = untranslated: the DV scan leaves those to Spark's residual
  * evaluation; DELETE refuses them at `canDeleteWhere` (loud, never a
  * silent over- or under-delete).
  */
object GraftFilterTranslation {
  import org.apache.spark.sql.{sources, Column}
  import org.apache.spark.sql.functions.{col, lit, not}

  def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case sources.And(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case sources.Or(l, r) =>
      for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case sources.Not(c) => toColumn(c).map(not)
    case _ => None
  }
}

/** Driver-side metadata table (`history` / `files`): rows come straight
  * from the manifest log, served through `LocalScan` — no Spark job, no
  * file IO beyond the KB-sized manifests.
  */
private[sources] class GraftMetaTable(tableName: String, tableSchema: StructType,
                                      data: Seq[Row])
  extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Collections.singleton(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] = {
          val conv = CatalystTypeConverters.createToCatalystConverter(tableSchema)
          data.map(r => conv(r).asInstanceOf[InternalRow]).toArray
        }
      }
    }
}
