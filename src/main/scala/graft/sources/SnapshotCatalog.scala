package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Catalog-level atomicity ACROSS [[SnapshotStore]] tables — the
  * "multi-table transaction" a lakehouse catalog adds on top of
  * single-table snapshots, built with the same primitive: one versioned
  * pointer file, advanced by an exclusive atomic publish
  * ([[Manifest.publish]]).
  *
  * Mechanism (the Iceberg-REST/HMS pointer-swap design):
  *
  *   - A catalog snapshot is a manifest `_catalog/v<13-digit>.json`
  *     mapping table name → pinned table version.
  *   - A multi-table writer first lands its per-table commits as usual
  *     (each table's own atomic manifest publish) — those versions are
  *     REAL but INVISIBLE to catalog readers, because a catalog reader
  *     resolves every table version through one catalog snapshot.
  *   - It then publishes the new name→version map as the next catalog
  *     version: one exclusive hard-link of a fully written file, so the
  *     cross-table cut flips atomically.
  *     Two racing publishers race for the version number; the loser gets
  *     [[SnapshotStore.SnapshotConflictException]] and must re-read,
  *     re-validate, and retry — same optimistic contract as the store.
  *   - A reader pins a catalog version once and reads every table `asOf`
  *     its pinned version: a consistent multi-table cut, immune to any
  *     later table- or catalog-level commit (tables never delete data
  *     files until vacuum, and vacuum's keepVersions horizon is the
  *     documented same trade as single-table time travel).
  *
  * Scale posture: a catalog snapshot is a KB of names — publish cost is
  * constant regardless of data volume; reads add one tiny manifest parse
  * over the per-table cost.
  */
object SnapshotCatalog {

  private val Dir = "_catalog"

  private def path(root: String, v: Long): Path =
    Paths.get(root, Dir, f"v$v%013d.json")

  def versions(root: String): Seq[Long] = {
    val dir = Paths.get(root, Dir)
    if (!Files.isDirectory(dir)) return Nil
    val it = Files.list(dir)
    try {
      it.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong }
        .toSeq.sorted
    } finally it.close()
  }

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** The consistent cut: table name → table version at one catalog
    * version (current unless `asOf`).
    */
  def snapshot(root: String, asOf: Option[Long] = None): Map[String, Long] = {
    val v = asOf.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no catalog snapshot at $root"))
    // Only the tables map: other top-level fields are not tables.
    val tables = Manifest.readJson(path(root, v)).get("tables")
    require(tables != null && tables.isObject,
      s"malformed catalog manifest at version $v of $root")
    tables.properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap
  }

  /** Atomically publish a new cross-table cut. `expectedBase` carries the
    * optimistic-concurrency check: the catalog version this writer READ
    * its world at (None for the bootstrap publish). If someone published
    * since, the swap must not proceed on a stale validation — conflict.
    */
  def publish(root: String, tables: Map[String, Long],
              expectedBase: Option[Long]): Long = {
    require(tables.nonEmpty, "empty catalog publish")
    val cur = currentVersion(root)
    if (cur != expectedBase)
      throw new SnapshotStore.SnapshotConflictException(
        s"catalog at $root moved: expected base $expectedBase, found $cur")
    val next = cur.getOrElse(-1L) + 1
    val body = Manifest.renderJson { g =>
      g.writeStartObject()
      g.writeObjectFieldStart("tables")
      tables.toSeq.sortBy(_._1).foreach { case (n, v) => g.writeNumberField(n, v) }
      g.writeEndObject()
      g.writeEndObject()
    }
    if (!Manifest.publish(path(root, next), body))
      throw new SnapshotStore.SnapshotConflictException(
        s"catalog version $next already committed at $root")
    next
  }

  /** Read table `name` at the pinned catalog cut — the reader-side half
    * of multi-table consistency.
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, root: String,
                name: String, tableRoot: String,
                catalogAsOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val cut = snapshot(root, catalogAsOf)
    val v = cut.getOrElse(name,
      throw new IllegalArgumentException(s"table $name not in catalog cut $cut"))
    SnapshotStore.read(spark, tableRoot, Some(v))
  }
}
