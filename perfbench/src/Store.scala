package perfbench

import graft.sources.SnapshotStore
import graft.sources.SnapshotStore.SnapshotConflictException
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** store-mixed: a closed loop of three clients on one fresh SnapshotStore
  * table. The clients take operations from one seeded schedule until it
  * is done: appends of small batches into two of the first half of the
  * partitions, keyed deletes and merges within one partition of the
  * second half, reads of the latest version of one partition and of
  * recent older versions, and maintain + compact + vacuum once per round
  * of operations. Commits run one at a time (see `commitLock`); reads
  * run beside them. A shared
  * schedule keeps the three clients busy to the end, so the window's
  * wall does not hang on whichever client drew the slowest operations.
  *
  * Every commit records its version and its row delta per partition, so
  * the row count of each version follows from the commits alone and
  * every read is checked against it.
  */
final class Store(spark: SparkSession, rec: Rec, root: String, seed: Long,
                  seconds: Int) {
  import spark.implicits._
  val Parts = 16
  val Batch = 200
  val Clients = 3
  val KeepVersions = 32
  val Lookback = 4
  /** One round: 3 appends, a delete, a merge, 8 reads and maintenance,
    * in a seeded order; a round per 2 s of --seconds, at least two. */
  val Round: Seq[String] = Seq.fill(3)("append") ++ Seq("delete", "merge") ++
    Seq.fill(4)("read_latest") ++ Seq.fill(4)("read_asof")
  val rounds: Int = math.max(2, seconds / 2)
  val schedule: IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until rounds).flatMap(_ => rnd.shuffle(Round) :+ "maintain")
  }

  /** The newest version a commit call has returned. Readers read it, not
    * `currentVersion()`, which can name a manifest still being written
    * (see `commitLock`). Reads where the two differ are counted. */
  private val acked = new AtomicLong(-1)
  private val nextId = new AtomicLong(0)
  private val live = mutable.LinkedHashSet[Long]()
  /** version -> (kind, per-partition row delta). */
  val commits = new java.util.concurrent.ConcurrentHashMap[Long, (String, Map[String, Long])]()
  val readsDone = new ConcurrentLinkedQueue[(Long, String, Long)]()
  val userBytes = new AtomicLong(0)
  val writtenBytes = new AtomicLong(0)
  val rewritten = new AtomicLong(0)
  /** One commit or vacuum at a time; reads run beside them. At the parent
    * commit, a commit that starts while another publishes its manifest
    * can parse the half-written manifest and fail, and vacuum's
    * empty-directory sweep (no age guard) removed an in-flight append's
    * output directory (ROADMAP item 3). */
  private val commitLock = new java.util.concurrent.locks.ReentrantLock()

  /** Failures outside any one operation (a client thread that died). */
  val errors = new ConcurrentLinkedQueue[String]()

  def part(id: Long): String = "p" + (id % Parts)

  /** An id never used before, in partition `p`. */
  private def freshId(p: Int): Long = nextId.getAndIncrement() * Parts + p

  /** Take up to `k` live ids of partition `p` out of the live set, so no
    * other client deletes or merges them meanwhile. */
  private def checkout(p: Int, k: Int, rnd: scala.util.Random): Seq[Long] = live.synchronized {
    val picked = rnd.shuffle(live.iterator.filter(_ % Parts == p).toIndexedSeq).take(k)
    picked.foreach(live.remove)
    picked
  }
  private def giveBack(ids: Seq[Long]): Unit = live.synchronized { ids.foreach(live.add) }

  private def rows(ids: Seq[Long], rnd: scala.util.Random, gen: Int): DataFrame = {
    val data = ids.map(id => (id, part(id), gen.toLong, rnd.alphanumeric.take(48).mkString))
    userBytes.addAndGet(data.map(r => 8L + r._2.length + 8 + r._4.length).sum)
    data.toDF("id", "part", "v", "payload").repartition(1)
  }

  private def deltas(ids: Seq[Long], sign: Long): Map[String, Long] =
    ids.groupBy(part).map { case (p, xs) => p -> sign * xs.size }

  /** Sizes of every regular file under the table root. */
  def diskFiles(): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val it = Files.walk(p)
    try it.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.size(f)).toMap
    finally it.close()
  }

  private def bytesOf(files: Iterable[String]): Long =
    files.map(Paths.get(_)).filter(Files.exists(_)).map(Files.size).sum

  def liveBytes(v: Long): Long = bytesOf(SnapshotStore.filesAt(root, v))

  private def currentVersion(): Long =
    rec.span("SnapshotStore.currentVersion") { SnapshotStore.currentVersion(root) }.getOrElse(-1L)

  /** One commit with retries; records latency, attempts and rebase. */
  private def commit(kind: String, delta: Map[String, Long])(call: => Long): Boolean = {
    val start = rec.now()
    var attempts = 0
    var conflicts = 0
    var conflict: String = null
    var done = false
    var base = -1L
    var v = -1L
    var err: String = null
    while (!done && err == null && attempts < 50) {
      attempts += 1
      base = currentVersion()
      commitLock.lock()
      try {
        v = rec.span(s"SnapshotStore.$kind") { call }
        done = true
      } catch {
        case c: SnapshotConflictException =>
          conflicts += 1
          if (conflict == null) conflict = c.getMessage
          Thread.sleep(5L * attempts)
        case e: Throwable => err = e.toString
      } finally commitLock.unlock()
    }
    if (done && v > base) {
      acked.accumulateAndGet(v, (a: Long, b: Long) => math.max(a, b))
      if (commits.putIfAbsent(v, (kind, delta)) != null) err = s"version $v committed twice"
    } else if (!done && err == null) err = s"$kind: gave up after $attempts conflicts"
    rec.op(Map("kind" -> "commit", "name" -> kind, "start" -> start, "end" -> rec.now(),
      "ok" -> (err == null), "err" -> err, "attempts" -> attempts, "conflicts" -> conflicts,
      "first_conflict" -> conflict,
      "base" -> base, "version" -> v))
    err == null
  }

  def setup(): Unit = {
    val rnd = new scala.util.Random(seed)
    val ids = (0L until 6400L)
    nextId.set(ids.size / Parts)
    val v = SnapshotStore.overwrite(rows(ids, rnd, 0), root, Some("part"))
    commits.put(v, ("overwrite", deltas(ids, 1)))
    acked.set(v)
    ids.foreach(live.add)
    // One operation of each kind before the window, so the window does
    // not time the first-call class loading and compilation of each path.
    Seq("append", "delete", "merge", "read_latest", "read_asof", "maintain")
      .zipWithIndex.foreach { case (k, i) => op(k, -1 - i) }
    userBytes.set(0)
  }

  /** Operation `i` of the schedule; its randomness depends only on the
    * seed and `i`, not on which client runs it. */
  private def op(kind: String, i: Int): Unit = {
    // SplittableRandom mixes the seed: java.util.Random's first draw is
    // nearly the same for neighbouring seeds, which sent every keyed
    // change to one partition.
    val rnd = new scala.util.Random(new java.util.SplittableRandom(seed * 1000003L + i).nextLong())
    // Appends go to the first half of the partitions and keyed changes to
    // the second: keyed changes rewrite partitions that appends do not grow.
    val half = Parts / 2
    val p = rnd.nextInt(half)
    kind match {
      case "append" =>
        val ids = (0 until Batch).map(j => freshId((p + j % 2) % half))
        val df = rows(ids, rnd, i)
        if (commit("append", deltas(ids, 1)) { SnapshotStore.append(df, root, Some("part")) })
          giveBack(ids)
      case "delete" =>
        val ids = checkout(half + p, 20, rnd)
        if (!commit("delete", deltas(ids, -1)) {
          SnapshotStore.delete(spark, root, col("id").isin(ids: _*), Some("part"))
        }) giveBack(ids)
      case "merge" =>
        val old = checkout(half + p, 10, rnd)
        val fresh = (0 until 10).map(_ => freshId(half + p))
        val df = rows(old ++ fresh, rnd, i)
        if (commit("merge", deltas(fresh, 1)) { SnapshotStore.merge(spark, root, df, "id", "part") })
          giveBack(old ++ fresh)
        else giveBack(old)
      case "read_latest" | "read_asof" => read(kind, rnd.nextInt(Parts), rnd)
      case "maintain" => maintenance(rnd.nextInt(Parts))
    }
  }

  private def maintenance(p: Int): Unit = {
    rec.span("SnapshotStore.maintain") { SnapshotStore.maintain(spark, root) }
      .foreach { v => commits.put(v, ("maintain", Map.empty)); acked.accumulateAndGet(v, (a: Long, b: Long) => math.max(a, b)) }
    commit("compact", Map.empty) {
      val before = SnapshotStore.currentVersion(root).map(b => SnapshotStore.filesAt(root, b).toSet)
        .getOrElse(Set.empty)
      val v = SnapshotStore.compact(spark, root, "part", Some(Set("p" + p)))
      rewritten.addAndGet(bytesOf(SnapshotStore.filesAt(root, v).toSet -- before))
      v
    }
    commitLock.lock()
    try {
      val before = diskFiles()
      // The store's default age guard: within a run it prunes manifests
      // and reclaims no data file.
      rec.span("SnapshotStore.vacuum") { SnapshotStore.vacuum(root, KeepVersions) }
      val after = diskFiles()
      writtenBytes.addAndGet((before -- after.keySet).values.sum)
    } finally commitLock.unlock()
  }

  private def read(kind: String, part: Int, rnd: scala.util.Random): Unit = {
    val start = rec.now()
    var err: String = null
    var v = -1L
    val p = if (kind == "read_latest") "p" + part else ""
    var n = -1L
    var files = Map.empty[String, Any]
    var ahead = 0L
    try {
      val latest = acked.get()
      ahead = currentVersion() - latest
      v = if (p.nonEmpty) latest else math.max(0L, latest - rnd.nextInt(Lookback + 1))
      val df = rec.span("SnapshotStore.read_plan") {
        if (p.nonEmpty) SnapshotStore.read(spark, root, Some(v), partValues = Some(Set(p)))
        else SnapshotStore.read(spark, root, Some(v))
      }
      n = rec.span("SnapshotStore.read_exec") { df.count() }
      if (rec.traced && p.nonEmpty) files = Map(
        "files_total" -> SnapshotStore.filesAt(root, v).size,
        "files_read" -> SnapshotStore.prunedFiles(root, v, Some(Set(p))).size)
      readsDone.add((v, p, n))
    } catch { case e: Throwable => err = e.toString }
    rec.op(Map("kind" -> "read", "name" -> kind, "start" -> start, "end" -> rec.now(),
      "ok" -> (err == null), "err" -> err, "version" -> v, "part" -> p, "rows" -> n,
      "ahead" -> ahead) ++ files)
  }

  /** The timed loop: three clients take the schedule's operations in turn. */
  def run(): Unit = {
    val before = diskFiles()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (1 to Clients).map { c =>
      val t = new Thread(() =>
        try {
          var i = next.getAndIncrement()
          while (i < schedule.size) { op(schedule(i), i); i = next.getAndIncrement() }
        } catch { case e: Throwable => errors.add(s"client $c: $e") }, s"client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    writtenBytes.addAndGet(diskFiles().values.sum - before.values.sum)
  }

  /** Expected rows per (version, partition) from the commit log, and the
    * reads that disagree with it. Versions must run without a gap.
    */
  def check(): (Int, Int, Seq[String]) = {
    val vs = commits.keySet().asScala.toSeq.sorted
    val bad = mutable.Buffer[String]()
    if (vs.zip(vs.drop(1)).exists { case (a, b) => b != a + 1 })
      bad += s"commit versions are not contiguous: ${vs.mkString(",")}"
    val expected = mutable.Map[Long, Map[String, Long]]()
    var acc = Map.empty[String, Long]
    vs.foreach { v =>
      acc = commits.get(v)._2.foldLeft(acc) { case (m, (p, d)) => m.updated(p, m.getOrElse(p, 0L) + d) }
      expected(v) = acc
    }
    val rs = readsDone.asScala.toSeq
    rs.foreach { case (v, p, n) =>
      val exp = expected.get(v).map(m => if (p.isEmpty) m.values.sum else m.getOrElse(p, 0L))
      if (!exp.contains(n)) bad += s"read v$v ${if (p.isEmpty) "all" else p}: $n rows, expected ${exp.getOrElse("no such commit")}"
    }
    val last = vs.lastOption.getOrElse(-1L)
    val table = try SnapshotStore.read(spark, root, Some(last)).count()
                catch { case e: Throwable => bad += s"final read: $e"; -1L }
    if (expected.get(last).map(_.values.sum) != Some(table))
      bad += s"final version v$last has $table rows, expected ${expected.get(last).map(_.values.sum)}"
    bad ++= errors.asScala
    (rs.size + 1, bad.size, bad.toSeq)
  }

  def summary(): Map[String, Any] = {
    val v = SnapshotStore.currentVersion(root).getOrElse(-1L)
    val manifests = Paths.get(root, "_manifests")
    val manifestBytes = if (!Files.isDirectory(manifests)) 0L else {
      val it = Files.walk(manifests)
      try it.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally it.close()
    }
    Map("version" -> v, "versions" -> SnapshotStore.versions(root).size,
      "live_files" -> SnapshotStore.filesAt(root, v).size,
      "live_bytes" -> liveBytes(v), "disk_bytes" -> diskFiles().values.sum,
      "manifest_bytes" -> manifestBytes, "user_bytes" -> userBytes.get,
      "written_bytes" -> writtenBytes.get, "rewritten_bytes" -> rewritten.get,
      "commits" -> commits.size)
  }
}
