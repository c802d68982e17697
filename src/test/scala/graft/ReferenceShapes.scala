package graft

import graft.Tables._
import graft.operators.{Decontam, MinHash, SimHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Equivalence references the specs pin production code against: the
  * interpreted higher-order-function (HOF) twins of the codegen'd graftext
  * kernels, and the superseded shapes of registered queries. None of them
  * runs in production; each spec asserts its production counterpart
  * row- or element-identical to the reference here.
  */
object ReferenceShapes {

  // ---- HOF twins of the graftext kernels -------------------------------

  /** Word n-grams as space-joined strings — the HOF twin of NGramsJoined
    * (DecontamSpec). `toks` must be a projected attribute, not an inline
    * `split(...)`: HOF lambdas are interpreted and re-evaluate captured
    * expressions per element.
    */
  def gramsOfHof(toks: Column, n: Int): Column = {
    require(n >= 1, s"gram length must be >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Quantized dot product of two equal-length bigint arrays — the HOF
    * twin of QuantizedDot (ExprSpec).
    */
  def qdotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** 64-bit simhash (majority vote per bit over the token hashes) — the
    * HOF twin of SimHash64 (ExprSpec).
    */
  def fingerprint64Hof(toks: Column): Column = {
    val bits = SimHash.Bits
    val base = transform(toks, t => xxhash64(t))
    val zero = array((0 until bits).map(_ => lit(0L)): _*)
    val bitArrays = transform(base, h =>
      array((0 until bits).map(b =>
        shiftrightunsigned(h, b).bitwiseAND(lit(1L))): _*))
    val counts = aggregate(bitArrays, zero, (acc, v) => zip_with(acc, v, _ + _))
    val n = size(base).cast(LongType)
    (0 until bits).map { b =>
      when(element_at(counts, b + 1) * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Order-sensitive rotate-xor fold of the token hashes — the HOF twin of
    * FingerprintXor (HashExprsSpec).
    */
  def fingerprintHof(toks: Column): Column =
    aggregate(transform(toks, t => xxhash64(t)), lit(0L),
      (acc, h) => shiftleft(acc, 7).bitwiseOR(shiftrightunsigned(acc, 57)).bitwiseXOR(h))

  /** One xxhash64 per token — the HOF twin of TokenHashes (HashExprsSpec). */
  def baseHashesHof(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** 32-slot minhash signature from per-token base hashes, same rot/xor
    * mixing — the HOF twin of MinHashSlots (ExprSpec).
    */
  def signatureFromBaseHof(base: Column): Column =
    array((0 until MinHash.NumHashes).map { j =>
      val r = MinHash.rots(j)
      array_min(transform(base, h =>
        shiftleft(h, r).bitwiseOR(shiftrightunsigned(h, 64 - r))
          .bitwiseXOR(lit(MinHash.xorMasks(j)))))
    }: _*)

  /** 64-bit hashed word bigrams, whole-array hash for docs shorter than
    * n — the HOF twin of HashedBigrams (HashExprsSpec).
    */
  def hashedShinglesHof(toks: Column, n: Int): Column = {
    require(n == 2, s"hashedShinglesHof implements bigrams (n=2), got n=$n")
    val th = transform(toks, t => xxhash64(t))
    // zip_with against the self-shifted array: the lambda touches ONLY its
    // bound args (an element_at(th, i+j) form re-evaluates th per element).
    val sh = slice(
      zip_with(th, slice(th, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => xxhash64(a, b)),
      lit(1), size(toks) - 1)
    when(size(toks) < n, array(xxhash64(th))).otherwise(sh)
  }

  /** Per-band hash vector of a signature (element b is band b's hash) —
    * the HOF twin of BandHashes (HashExprsSpec).
    */
  def bandHashesHof(sig: Column): Column =
    transform(sequence(lit(0), lit(MinHash.Bands - 1)),
      b => xxhash64(slice(sig, b * MinHash.RowsPerBand + 1, lit(MinHash.RowsPerBand))))

  // ---- superseded query shapes -----------------------------------------

  /** The collect_set shape of q_dedup_cross_source that the registered
    * source-bitmask form replaced (PipelineOpsSpec). It is also the shape
    * a deployment with more than 63 sources would need.
    */
  def crossSourceSetsReference(s: SparkSession, d: String): DataFrame = {
    val srcSets = documents(s, d)
      .select(col("source"), split(col("text"), " ").as("toks"))
      .select(col("source"), explode(Decontam.gramsOf(col("toks"), 5)).as("g"))
      .groupBy(col("g")).agg(collect_set(col("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
    srcSets
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("src_a").asc, col("src_b").asc)
  }

  /** The posexplode/reassemble shape of q_text_stopfilter that the
    * registered in-array filter replaced (PipelineOpsSpec).
    */
  def stopfilterExplodeReference(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "value", "row")
    documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .filter(!col("term").isInCollection(stop))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("term")))),
          x => x.getField("term")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .orderBy(col("doc_id").asc)
  }

  /** The salted two-phase window form of q_agg_topk_group that the typed
    * TopK aggregator replaced (TopKAggSpec; timings in BASELINE.md "TopK
    * formulations").
    */
  def topKWindowed(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey").asc)
    val w1 = Window.partitionBy(col("c_mktsegment"), col("salt")).orderBy(ord: _*)
    val w2 = Window.partitionBy(col("c_mktsegment")).orderBy(ord: _*)
    orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .withColumn("salt", pmod(col("o_orderkey"), lit(64L)))
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= 3)
      .withColumn("rn", row_number().over(w2).cast(LongType))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment").asc, col("rn").asc)
  }

  /** The readable NTILE-window form of q_rfm_segment — three
    * unpartitioned windows, i.e. a deliberate single-partition global
    * sort. PipelineOpsSpec asserts the registered exact-NTILE
    * reconstruction ≡ this, row for row. Never register this shape; it is
    * the thing the scalable form exists to replace.
    */
  def rfmNtileReference(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = graft.operators.WinOps.rfmAgg(s, d)
    val wR = Window.orderBy(col("last_od").asc, col("o_custkey").asc)
    val wF = Window.orderBy(col("frequency").asc, col("o_custkey").asc)
    val wM = Window.orderBy(col("monetary_cents").asc, col("o_custkey").asc)
    agg.select(col("o_custkey"), col("last_od"), col("frequency"),
      col("monetary_cents"),
      ntile(5).over(wR).cast(LongType).as("r_score"),
      ntile(5).over(wF).cast(LongType).as("f_score"),
      ntile(5).over(wM).cast(LongType).as("m_score"))
      .orderBy(col("o_custkey").asc)
  }
}
