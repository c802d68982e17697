package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.QueryExecutionMetering
import scala.collection.mutable

/** One benchmark run in one JVM: set-up, the timed window, the output
  * check, then a JSON dump of raw records for `perfbench/run.py`, which
  * turns them into metrics.
  *
  *   Harness --workload registry-light|operators-heavy|store-mixed|pin
  *           --seed N --seconds S --trace 0|1 --corpus DIR --out FILE
  *           --nproc N [--store DIR]
  */
object Harness {
  /** Light rows per second of --seconds: the HEAD rate on 4 cores, so a
    * run's pass lasts about --seconds while every seed runs the same rows.
    */
  val LightRowsPerSecond = 2.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val traced = a("trace") == "1"
    val d = a("corpus")
    val nproc = a("nproc").toInt
    val rec = new Rec(traced)
    val out = mutable.LinkedHashMap[String, Any]()
    val fns = graft.SparkEntry.queries
    var listen: Listen = null

    // ---- set-up ---------------------------------------------------------
    val spark = rec.span("Sessions.build", always = true) {
      graft.Sessions.build(s"local[$nproc]",
        graft.Sessions.autoShufflePartitions(d, nproc), "perfbench")
    }
    rec.spark = spark
    if (traced) {
      listen = new Listen(rec)
      spark.sparkContext.addSparkListener(listen)
      spark.listenerManager.register(listen)
    }
    var store: Store = null
    workload match {
      case "registry-light" =>
      case "operators-heavy" =>
        rec.span("AnnIvf.ensureIndex", always = true) { graft.operators.AnnIvf.ensureIndex(spark, d) }
        rec.span("Pq.ensureCodebook", always = true) { graft.operators.Pq.ensureCodebook(spark, d) }
      case "store-mixed" =>
        store = new Store(spark, rec, a("store"), seed, seconds)
      case "pin" =>
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    rec.span("warmup", always = true) {
      workload match {
        case "store-mixed" => store.setup()
        case _ => graft.Tables.lineitem(spark, d).limit(100).collect()
      }
    }
    out("setup_end_epoch_ms") = System.currentTimeMillis()
    out("setup_jit_ms") = Proc.jitMs()

    // ---- timed window ---------------------------------------------------
    val cpu0 = Proc.processCpuNs(); val gc0 = Proc.gcMs(); val w0 = rec.now()
    workload match {
      case "registry-light" =>
        val rows = Registry.lightOrder(fns.keys)
        val n = math.min(rows.size, math.max(20, math.round(seconds * LightRowsPerSecond).toInt))
        registryPass(spark, rec, listen, d, fns, shuffled(rows.take(n), seed))
      case "operators-heavy" =>
        registryPass(spark, rec, listen, d, fns, shuffled(Registry.heavyRows(fns.keys), seed))
      case "store-mixed" => store.run()
      case "pin" => registryPass(spark, rec, listen, d, fns, shuffled(fns.keys.toSeq.sorted, seed))
    }
    val w1 = rec.now(); val cpu1 = Proc.processCpuNs(); val gc1 = Proc.gcMs()
    out("window") = Map("start" -> w0, "end" -> w1, "cpu_ns" -> (cpu1 - cpu0),
      "gc_ms" -> (gc1 - gc0), "vm_hwm_kb" -> Proc.status().getOrElse("VmHWM", -1L))

    // ---- output check (outside the window) -------------------------------
    if (store != null) {
      val (attempted, failed, bad) = store.check()
      out("store_check") = Map("attempted" -> attempted, "failed" -> failed, "errors" -> bad.take(20))
      out("store") = store.summary()
    }
    out("ops") = rec.opsOut
    out("spans") = rec.spansOut
    if (listen != null) {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      out ++= listen.out
    }
    out("env") = Map("spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "cores" -> Runtime.getRuntime.availableProcessors())
    val tmp = java.nio.file.Paths.get(a("out") + ".tmp")
    java.nio.file.Files.write(tmp, Json.render(out).getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(a("out")),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    spark.stop()
  }

  def shuffled(rows: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(rows)

  /** Each row once, in the given order, into the noop sink. */
  def registryPass(spark: SparkSession, rec: Rec, listen: Listen, d: String,
                   fns: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                   names: Seq[String]): Unit =
    names.foreach { name =>
      if (listen != null) listen.currentOp = name
      val cg0 = CodeGenerator.compileTime
      val rule0 = QueryExecutionMetering.INSTANCE.totalTime
      val start = rec.now()
      var hash: String = null
      var err: String = null
      try hash = rec.span("row", always = true, attrs = Map("row" -> name)) {
        Registry.runRow(spark, rec, d, name, fns(name))
      } catch { case e: Throwable => err = e.toString }
      val end = rec.now()
      val extra =
        if (listen == null) Map.empty
        else {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          Map("compile_ns" -> (CodeGenerator.compileTime - cg0),
            "rule_ns" -> (QueryExecutionMetering.INSTANCE.totalTime - rule0))
        }
      rec.op(Map("kind" -> "row", "name" -> name, "start" -> start, "end" -> end,
        "ok" -> (err == null), "err" -> err, "hash" -> hash) ++ extra)
    }
}
