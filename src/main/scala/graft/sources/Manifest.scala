package graft.sources

import java.io.StringWriter
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonGenerator, JsonProcessingException}
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.types.{DataType, StructType}

/** One [[SnapshotStore]] table version as its manifest records it — the
  * single typed form of `_manifests/v<13-digit>.json`:
  *
  *   - `rows`: exact row count for full snapshots, -1 for incremental
  *     commits;
  *   - `schemaJson`: the table schema (Spark's JSON form), absent on
  *     manifests predating schema recording;
  *   - `partCol`: the layout record — `Some(Some(c))` partitioned by `c`,
  *     `Some(None)` declared unpartitioned, `None` when the manifest
  *     predates the record;
  *   - `changeKey`: the row-identity key a keyed commit declares;
  *   - `txn`: the writer's `(appId, batchId)` marker;
  *   - `statsCols` + `ranges`: the declared stats columns and (flat
  *     layout only) each file's per-column `[lo,hi]`;
  *   - `files` (flat layout) or `sections` (partition dir → section file
  *     ref, the sectioned layout whose sections carry paths and ranges).
  *     Paths are table-root-relative, so a table directory can be moved
  *     or renamed wholesale.
  *
  * [[Manifest.read]] and [[Manifest.render]] are its only codec; every
  * store accessor is a projection of one parse. Rendering is compact with
  * a fixed key order, so the bytes are stable and content-addressed
  * section refs stay put across releases.
  */
private[graft] final case class Manifest(
    rows: Long,
    schemaJson: Option[String],
    partCol: Option[Option[String]],
    changeKey: Option[Seq[String]],
    txn: Option[(String, Long)],
    statsCols: Option[Seq[String]],
    ranges: SnapshotStore.FileStats = Map.empty,
    files: Seq[String] = Nil,
    sections: Option[Seq[(String, String)]] = None) {

  lazy val schema: Option[StructType] =
    schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
}

private[graft] object Manifest {

  private val mapper = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()

  /** The one JSON reader: `bytes` must hold exactly one complete JSON
    * object. Truncated, malformed or empty input throws an
    * IllegalStateException naming `source`, never a partial value.
    */
  def parseJson(bytes: Array[Byte], source: => String): JsonNode = {
    val node =
      try mapper.readTree(bytes)
      catch {
        case e: JsonProcessingException => throw new IllegalStateException(
          s"malformed or truncated manifest $source: ${e.getOriginalMessage}", e)
      }
    if (node == null || !node.isObject) throw new IllegalStateException(
      s"malformed or truncated manifest $source: not a JSON object")
    node
  }

  /** [[parseJson]] over a file's bytes, named by its path. */
  def readJson(p: Path): JsonNode = parseJson(Files.readAllBytes(p), p.toString)

  /** The one JSON writer: compact, keys in the order `body` emits them. */
  def renderJson(body: JsonGenerator => Unit): String = {
    val out = new StringWriter
    val g = mapper.getFactory.createGenerator(out)
    try body(g) finally g.close()
    out.toString
  }

  /** The manifest at `p`. `legacyStatsCol` is the column a pre-multi-
    * column flat `"stats":{"file":[lo,hi]}` map ranges over (the table's
    * first declared stats column); it is consulted only for that layout.
    */
  def read(p: Path, legacyStatsCol: => Option[String]): Manifest = {
    val o = readJson(p)
    def opt(k: String) = Option(o.get(k)).filterNot(_.isNull)
    val files = opt("files").map(strings)
    val sections = opt("sections").map(_.properties.asScala.toSeq
      .map(e => e.getKey -> e.getValue.asText))
    if (files.isEmpty && sections.isEmpty) throw new IllegalStateException(
      s"malformed manifest $p: neither a files list nor sections")
    val (statsCols, ranges): (Option[Seq[String]], SnapshotStore.FileStats) =
      opt("stats") match {
        case Some(st) if st.has("ranges") =>
          Some(strings(st.get("cols"))) -> st.get("ranges").properties.asScala
            .map(e => e.getKey -> rangesOf(e.getValue)).toMap
        case Some(st) =>
          None -> legacyStatsCol.fold(Map.empty: SnapshotStore.FileStats) { c =>
            st.properties.asScala.map(e => e.getKey -> Map(c -> range(e.getValue))).toMap
          }
        case None => opt("stats_cols").map(strings) -> Map.empty
      }
    Manifest(
      rows = opt("rows").fold(-1L)(_.asLong),
      schemaJson = opt("schema").map(_.asText),
      partCol = Option(o.get("part_col")).map(n => if (n.isNull) None else Some(n.asText)),
      changeKey = opt("change_key").map(strings).filter(_.nonEmpty),
      txn = opt("txn").map(t => t.get("app").asText -> t.get("batch").asLong),
      statsCols = statsCols,
      ranges = ranges,
      files = files.getOrElse(Nil),
      sections = sections)
  }

  def render(m: Manifest): String = renderJson { g =>
    g.writeStartObject()
    g.writeNumberField("rows", m.rows)
    m.schemaJson.foreach(g.writeStringField("schema", _))
    // Always emitted (null when unpartitioned) so a reader can tell "no
    // partitioning" from "predates the record".
    m.partCol.foreach {
      case Some(c) => g.writeStringField("part_col", c)
      case None => g.writeNullField("part_col")
    }
    m.changeKey.filter(_.nonEmpty).foreach(writeStrings(g, "change_key", _))
    m.txn.foreach { case (app, batch) =>
      g.writeObjectFieldStart("txn")
      g.writeStringField("app", app)
      g.writeNumberField("batch", batch)
      g.writeEndObject()
    }
    m.sections match {
      case Some(refs) =>
        m.statsCols.foreach(writeStrings(g, "stats_cols", _))
        g.writeObjectFieldStart("sections")
        refs.sortBy(_._1).foreach { case (pd, ref) => g.writeStringField(pd, ref) }
        g.writeEndObject()
      case None =>
        m.statsCols.foreach { cols =>
          g.writeObjectFieldStart("stats")
          writeStrings(g, "cols", cols)
          g.writeObjectFieldStart("ranges")
          m.ranges.toSeq.sortBy(_._1).foreach { case (f, byCol) =>
            g.writeFieldName(f)
            writeRanges(g, byCol)
          }
          g.writeEndObject()
          g.writeEndObject()
        }
        writeStrings(g, "files", m.files.sorted)
    }
    g.writeEndObject()
  }

  /** One section line: `path`, or `path<TAB>{"col":[lo,hi],…}`. */
  def renderSectionLine(path: String, byCol: Map[String, (Long, Long)]): String =
    if (byCol.isEmpty) path else path + "\t" + renderJson(writeRanges(_, byCol))

  def parseSectionLine(line: String, source: => String): (String, Map[String, (Long, Long)]) = {
    val t = line.indexOf('\t')
    if (t < 0) line -> Map.empty
    else line.substring(0, t) ->
      rangesOf(parseJson(line.substring(t + 1).getBytes(StandardCharsets.UTF_8), source))
  }

  /** Publish `body` as `dest` so no reader ever sees a partial file:
    * write and fsync `.<name>.<uuid>.tmp` beside it, hard-link it to
    * `dest`, then remove the tmp name. The link is exclusive, so this
    * returns false when `dest` already exists (a concurrent writer won
    * the version) and true when this call published it.
    */
  def publish(dest: Path, body: String): Boolean = {
    Files.createDirectories(dest.getParent)
    val tmp = dest.resolveSibling(
      s".${dest.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.CREATE_NEW,
        StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.wrap(body.getBytes(StandardCharsets.UTF_8))
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      try { Files.createLink(dest, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** A leftover [[publish]] tmp name (a crash between write and link). */
  def isPublishTmp(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".tmp")

  private def strings(n: JsonNode): Seq[String] =
    n.elements.asScala.map(_.asText).toSeq

  private def range(n: JsonNode): (Long, Long) = n.get(0).asLong -> n.get(1).asLong

  private def rangesOf(n: JsonNode): Map[String, (Long, Long)] =
    n.properties.asScala.map(e => e.getKey -> range(e.getValue)).toMap

  private def writeStrings(g: JsonGenerator, field: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(field)
    xs.foreach(g.writeString)
    g.writeEndArray()
  }

  private def writeRanges(g: JsonGenerator, byCol: Map[String, (Long, Long)]): Unit = {
    g.writeStartObject()
    byCol.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
      g.writeArrayFieldStart(c)
      g.writeNumber(lo)
      g.writeNumber(hi)
      g.writeEndArray()
    }
    g.writeEndObject()
  }
}
