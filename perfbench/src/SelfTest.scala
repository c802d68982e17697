package perfbench

import org.apache.spark.sql.functions._

/** Self-tests for the JVM side of the benchmark's arithmetic: the result
  * hash ignores row order and partitioning but not content, and the
  * calling thread's io counters see a known read. Prints one
  * `selftest <name> ok|FAIL` line each and exits non-zero on a failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var failed = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"selftest $name ${if (ok) "ok" else "FAIL"}")
      if (!ok) failed += 1
    }

    val tmp = java.nio.file.Files.createTempFile("known", ".bin")
    val bytes = 1 << 20
    java.nio.file.Files.write(tmp, Array.fill[Byte](bytes)(7))
    def readAll(): Unit = {
      val in = new java.io.FileInputStream(tmp.toFile)
      try { val buf = new Array[Byte](8192); while (in.read(buf) >= 0) () } finally in.close()
    }
    // Load the classes on both paths first: class loading reads jars.
    readAll()
    Proc.threadIo()
    val before = Proc.threadIo()
    readAll()
    val after = Proc.threadIo()
    val rchar = after("rchar") - before("rchar")
    // The /proc read itself adds about a hundred bytes.
    check(s"io_rchar_counts_known_read ($rchar for $bytes)",
      rchar >= bytes && rchar < bytes + (16 << 10))
    var other = 0L
    val t = new Thread(() => {
      val b0 = Proc.threadIo()
      java.nio.file.Files.readAllBytes(tmp)
      other = Proc.threadIo()("rchar") - b0("rchar")
    })
    val mine0 = Proc.threadIo()("rchar")
    t.start(); t.join()
    check("io_rchar_is_per_thread",
      other >= bytes && Proc.threadIo()("rchar") - mine0 < (64 << 10))
    java.nio.file.Files.delete(tmp)

    val spark = graft.Sessions.build("local[2]", 2, "perfbench-selftest")
    import spark.implicits._
    val base = (1 to 500).map(i => (i.toLong, i * 0.1, Seq(i % 7, i % 3), Map(s"k$i" -> i * 1.5)))
      .toDF("id", "x", "arr", "m")
    val h = Registry.hashOf(base)
    check("hash_ignores_row_order", Registry.hashOf(base.orderBy(col("id").desc)) == h)
    check("hash_ignores_partitioning", Registry.hashOf(base.repartition(5)) == h)
    check("hash_ignores_array_order",
      Registry.hashOf(base.withColumn("arr", reverse(col("arr")))) == h)
    check("hash_sees_one_changed_row",
      Registry.hashOf(base.withColumn("x", when(col("id") === 250, 0.0).otherwise(col("x")))) != h)
    check("hash_sees_a_duplicate_row", Registry.hashOf(base.union(base.limit(1))) != h)
    check("hash_ignores_float_sum_order",
      Registry.hashOf(Seq(0.1 + 0.2 + 0.3).toDF("s")) == Registry.hashOf(Seq(0.3 + 0.2 + 0.1).toDF("s")))
    val rec = new Rec(traced = false)
    check("observed_hash_matches_aggregate",
      Registry.runRow(spark, rec, "", "base", (_, _) => base.repartition(3)) == h)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
