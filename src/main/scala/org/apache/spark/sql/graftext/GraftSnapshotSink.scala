package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

import graft.sources.SnapshotStore
import graft.streaming.SnapshotSink

/** Shared `option("path")` / `option("table", "<catalog>.<table>")`
  * resolution for the graft streaming source and sink: a table name is
  * looked up through the session's `spark.sql.catalog.<catalog>.root` —
  * the same name SQL uses against a [[graft.sources.GraftCatalog]] — so
  * stream producers and consumers aren't coupled to filesystem layout.
  */
private[graftext] object GraftTableResolve {
  def root(sqlContext: SQLContext, parameters: Map[String, String],
           who: String): String =
    parameters.get("path").orElse(parameters.get("table").map { t =>
      val parts = t.split('.')
      require(parts.length >= 2, s"$who: option(\"table\", \"$t\") must " +
        "be <catalog>.<table> (optionally with namespaces between)")
      val confKey = s"spark.sql.catalog.${parts.head}.root"
      val catRoot = sqlContext.sparkSession.conf.getOption(confKey).getOrElse(
        throw new IllegalArgumentException(
          s"$who: no snapshot catalog named '${parts.head}' — set $confKey"))
      val dir = parts.tail.foldLeft(java.nio.file.Paths.get(catRoot))(_.resolve(_))
      require(SnapshotStore.isTable(dir.toString),
        s"$who: $t resolves to $dir, which is not a snapshot table")
      dir.toString
    }).getOrElse(throw new IllegalArgumentException(
      s"$who requires option(\"path\", <snapshot table root>) or " +
        "option(\"table\", \"<catalog>.<table>\")"))
}

/** `df.writeStream.format("graft")` — the snapshot layer as a first-class
  * Structured Streaming SINK, completing the symmetry with the
  * `graft-cdc` source (read a snapshot table like Kafka; now write one
  * like a lakehouse table) and retiring the bespoke `foreachBatch`
  * adapter from the public write path:
  *
  *   counts.writeStream.format("graft")
  *     .option("table", "graft.totals")      // or option("path", <root>)
  *     .option("key", "user_id")             // upsert mode: merge by key
  *     .option("partition", "part")
  *     .option("checkpointLocation", ckpt)
  *     .outputMode("update").start()
  *
  * Two shapes, chosen by the `key` option:
  *   - WITH `key` (+ required `partition`): every micro-batch is a
  *     [[graft.sources.SnapshotStore.merge]] commit — keyed upsert with
  *     per-touched-partition cost, the natural sink for update-mode
  *     aggregations.
  *   - WITHOUT `key`: every micro-batch is an append commit — the
  *     event-log shape for append-mode streams; `partition` optional.
  *
  * Exactly-once is the `(appId, batchId)` transaction-marker contract of
  * [[SnapshotSink]]: a restart-replayed batch is a no-op, a crash between
  * sink-commit and checkpoint-commit cannot double-apply. `appId`
  * defaults to the query's checkpoint location — stable across restarts,
  * distinct per query; override with `option("appId", …)` when two
  * queries share a checkpoint layout. Empty micro-batches publish
  * nothing (no zero-file bootstrap versions).
  *
  * V1 sink on purpose (same bridge as the source): `addBatch` receives
  * the micro-batch as an incremental plan, re-wraps it as a batch frame
  * over the SAME execution (one pass), and pins it so the commit's
  * multiple consumers (emptiness guard, key-uniqueness join, file write)
  * never re-execute the source scan.
  */
final class GraftSnapshotSinkProvider extends StreamSinkProvider
  with org.apache.spark.sql.sources.RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `spark.read.format("graft")` — the batch-read twin: the snapshot
    * table's current version (or `option("versionAsOf", n)`) through the
    * Scala read path (manifest-pinned file list, DV masking, recorded
    * schema), bridged as a V1 relation. Column pruning and translatable
    * filters push into the inner scan; Spark re-checks every filter, so
    * correctness never rides the translation. Also what makes a typo'd
    * `SELECT * FROM graft.nope` fail with the table name instead of a
    * direct-file-query riddle.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = GraftTableResolve.root(sqlContext, p, "graft")
    require(SnapshotStore.isTable(root),
      s"graft: '$root' is not a snapshot table (no manifest log); " +
        "point option(\"path\") at a table root or option(\"table\") at " +
        "a catalog name")
    new GraftSnapshotRelation(sqlContext, root, p.get("versionasof").map(_.toLong))
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    // Option keys arrive in whatever case the caller typed; normalize once.
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = GraftTableResolve.root(sqlContext, p, "graft sink")
    require(partitionColumns.isEmpty,
      "graft sink takes its layout from option(\"partition\", col) " +
        "(one identity column), not partitionBy")
    val key = p.get("key")
    val part = p.get("partition")
    require(key.isEmpty || part.isDefined,
      "graft sink: option(\"key\") needs option(\"partition\") — keyed " +
        "merge cost is per touched partition (SnapshotStore.merge)")
    val appId = p.get("appid")
      .orElse(p.get("checkpointlocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: set option(\"checkpointLocation\", …) (it doubles as " +
          "the exactly-once transaction app id) or option(\"appId\", …)"))
    new GraftSnapshotSink(root, key, part, appId)
  }
}

private[graftext] final class GraftSnapshotRelation(ctx: SQLContext,
                                                    root: String,
                                                    asOf: Option[Long])
  extends org.apache.spark.sql.sources.BaseRelation
  with org.apache.spark.sql.sources.PrunedFilteredScan {

  import graft.sources.{GraftFilterTranslation, SnapshotStore}

  override def sqlContext: SQLContext = ctx

  override val schema =
    SnapshotStore.read(ctx.sparkSession, root, asOf).schema

  // Spark re-evaluates every filter above the scan (the default
  // unhandled-filters contract); the pushed fragment is a best-effort
  // data reduction, same posture as the DV scan bridge.
  override def buildScan(requiredColumns: Array[String],
                         filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    var df = SnapshotStore.read(ctx.sparkSession, root, asOf)
    filters.flatMap(GraftFilterTranslation.toColumn).foreach(f => df = df.filter(f))
    df = if (requiredColumns.nonEmpty)
      df.select(requiredColumns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    else df.select() // COUNT(*)-style empty projection
    df.rdd
  }
}

private[graftext] final class GraftSnapshotSink(root: String,
                                                key: Option[String],
                                                part: Option[String],
                                                appId: String) extends Sink {

  private val commitBatch: (DataFrame, Long) => Unit = key match {
    case Some(k) => SnapshotSink.mergeBatch(root, k, part.get, appId)
    case None => SnapshotSink.appendBatch(root, part, appId)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The engine hands addBatch a STREAMING-planned frame (actions like
    // .write refuse it). Re-wrap the same incremental execution as a
    // batch frame — one execution, the standard V1-sink bridge — then pin
    // it: the commit path reads the batch more than once (emptiness
    // guard, merge's survivor join, the file write), and each unpinned
    // read would re-run the micro-batch scan.
    val spark = data.sparkSession.asInstanceOf[ClassicSession]
    val batch = spark.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema).localCheckpoint(true)
    commitBatch(batch, batchId)
  }

  override def toString: String = s"GraftSnapshotSink[$root]"
}
