package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registry workloads: rows of `graft.SparkEntry.queries` written to
  * the noop sink, as `graft.Bench` does, with an order-insensitive hash
  * of each row's output taken on the same execution.
  */
object Registry {
  /** The rows whose cost is task CPU, shuffle, the graftext kernels and
    * the iterative operators rather than the per-query floor.
    */
  def isHeavy(name: String): Boolean =
    Seq("dedup_", "ml_", "q_graph_").exists(name.startsWith) ||
      name == "q_text_dedup_spans" || name == "q_pipeline_curate"

  /** Family of a row: its first two `_`-separated words (q_agg, q_join). */
  def family(name: String): String = name.split('_').take(2).mkString("_")

  /** Rows that need the BPE merges, a ~11 s fit the run budget cannot
    * repeat in every registry-light set-up. */
  def usesBpe(name: String): Boolean = name.startsWith("q_text_bpe")

  /** Light rows in a fixed order whose every prefix spreads over the
    * families: round-robin across families (sorted), each family's rows
    * in name order. A run takes a prefix, so every seed runs the same rows.
    */
  def lightOrder(names: Iterable[String]): Seq[String] = {
    val fams = names.filterNot(n => isHeavy(n) || usesBpe(n)).toSeq.sorted
      .groupBy(family).toSeq.sortBy(_._1).map(_._2)
    val depth = fams.map(_.size).max
    (0 until depth).flatMap(i => fams.flatMap(_.lift(i)))
  }

  /** operators-heavy leaves out ml_ann_join_pq: its output is not
    * reproducible run to run, and the residual PQ codebook it fits (no
    * ensure function of its own) would add ~10 s to every set-up. */
  def heavyRows(names: Iterable[String]): Seq[String] =
    names.filter(n => isHeavy(n) && n != "ml_ann_join_pq").toSeq.sorted

  /** A value with the same canonical form on every run: floating point
    * rounded to 9 significant digits (sums may add in any order), arrays
    * and maps sorted (collect_list order is not defined).
    */
  def canon(c: Column, dt: DataType): Column = dt match {
    case FloatType | DoubleType =>
      when(c.isNull, lit(null: String))
        .otherwise(format_string("%.8e", (c.cast(DoubleType) + lit(0.0))))
    case ArrayType(et, _) =>
      val inner = transform(c, x => canon(x, et))
      if (orderable(canonType(et))) array_sort(inner) else inner
    case MapType(kt, vt, _) =>
      val entries = transform(map_entries(c), e =>
        struct(canon(e.getField("key"), kt).as("k"), canon(e.getField("value"), vt).as("v")))
      if (orderable(canonType(kt)) && orderable(canonType(vt))) array_sort(entries) else entries
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def canonType(dt: DataType): DataType = dt match {
    case FloatType | DoubleType => StringType
    case ArrayType(et, n) => ArrayType(canonType(et), n)
    case MapType(kt, vt, _) => ArrayType(StructType(Seq(
      StructField("k", canonType(kt)), StructField("v", canonType(vt)))))
    case st: StructType => StructType(st.fields.map(f => f.copy(dataType = canonType(f.dataType))))
    case other => other
  }

  private def orderable(dt: DataType): Boolean = dt match {
    case _: MapType | _: BinaryType | _: CalendarIntervalType | _: VariantType => false
    case ArrayType(et, _) => orderable(et)
    case st: StructType => st.fields.forall(f => orderable(f.dataType))
    case _ => true
  }

  /** Per-row xxhash64 of the canonical columns, summed as two 32-bit
    * halves (no overflow below 2^31 rows) next to the row count. A sum
    * does not depend on row order.
    */
  def hashCols(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def hashString(n: Any, lo: Any, hi: Any): String =
    s"$n:${Option(lo).getOrElse(0)}:${Option(hi).getOrElse(0)}"

  /** Hash of a frame by a separate aggregation (reference for specs). */
  def hashOf(df: DataFrame): String = {
    val r = df.agg(hashCols(df).head, hashCols(df).tail: _*).head()
    hashString(r.get(0), r.get(1), r.get(2))
  }

  /** Run `name` once into the noop sink and return its output hash. */
  def runRow(spark: SparkSession, rec: Rec, d: String, name: String,
             fn: (SparkSession, String) => DataFrame): String = {
    val df = rec.span("SparkEntry.build") { fn(spark, d) }
    val obs = Observation(s"chk_${name}_${System.nanoTime()}")
    val cols = hashCols(df)
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val r = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(120, "s"))
    hashString(r.get(0), r.get(1), r.get(2))
  }
}
