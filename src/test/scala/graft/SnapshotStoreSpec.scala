package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** The transactional contract of the manifest-based snapshot store:
  * atomic commits, reader isolation (a pinned version is immune to later
  * commits), time travel, optimistic-concurrency conflict, merge
  * equivalence with the non-transactional sink, and vacuum safety.
  */
class SnapshotStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(prefix: String): String = {
    val b = Paths.get("target/graft-scratch")
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix).toString
  }

  private def base = Tables.customer(spark, TestSpark.sf0001)
    .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))

  test("overwrite + read round-trip; append adds; versions are time travel") {
    import spark.implicits._
    val root = scratch("snap_rt_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    assert(v0 == 0L)
    assert(SnapshotStore.read(spark, root).count() == base.count())

    val extra = Seq((900001L, 3L, "NEW"), (900002L, 4L, "NEW"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val v1 = SnapshotStore.append(extra, root, Some("c_nationkey"))
    assert(v1 == 1L)
    assert(SnapshotStore.read(spark, root).count() == base.count() + 2)
    // time travel: v0 still reads the original content exactly
    assert(SnapshotStore.read(spark, root, Some(v0)).count() == base.count())
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
  }

  test("part_col rides the manifest: atomic with the file list; concurrent re-layout conflicts") {
    import spark.implicits._
    val root = scratch("snap_pc_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    assert(SnapshotStore.partColOf(root).contains("c_nationkey"))
    // no side file: the record is INSIDE the atomically-committed manifest
    assert(!Files.exists(Paths.get(root, "_manifests", "part_col")))
    assert(SnapshotStore.partColAt(root, 0L).contains(Some("c_nationkey")))

    // a writer that laid out files under the old scheme, racing an
    // overwrite that re-layouts the table, must CONFLICT — rebasing its
    // files in would commit a mixed-layout table (the r12 side-file
    // ordering hazard, now closed by the manifest-embedded record).
    val extra = Seq((900001L, 3L, "NEW"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val staged = SnapshotStore.writeDataFiles(extra, root, Some("c_nationkey"))
    SnapshotStore.overwrite(base, root, None) // v1: table is now unpartitioned
    assert(SnapshotStore.partColOf(root).isEmpty)
    assert(SnapshotStore.partColAt(root, 1L).contains(None))
    intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.commitRebasing(root, 0L, Nil, staged, Some(Set.empty),
        -1L, None, None, Some(extra.schema), Some("c_nationkey"))
    }
    // the failed commit published nothing
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))

    // append with no explicit layout inherits the manifest record
    val v2 = SnapshotStore.append(extra, root)
    assert(v2 == 2L)
    assert(SnapshotStore.partColAt(root, 2L).contains(None))
    assert(SnapshotStore.read(spark, root).count() == base.count() + 1)
  }

  test("merge: same content as the non-transactional sink; old version intact (isolation)") {
    import spark.implicits._
    val root = scratch("snap_merge_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val victims = base.filter(col("c_nationkey") === 3L)
      .select(col("c_custkey")).as[Long].take(2).toSeq
    val updates = (victims.map(k => (k, 3L, "MERGED")) :+ ((999999L, 3L, "MERGED")))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")

    // The reader's snapshot, pinned BEFORE the merge commits.
    val pinnedFiles = SnapshotStore.filesAt(root, v0)

    val v1 = SnapshotStore.merge(spark, root, updates, "c_custkey", "c_nationkey")
    assert(v1 == v0 + 1)

    // New version ≡ reference merge.
    val expect = base.join(updates.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
      .unionByName(updates)
    val got = SnapshotStore.read(spark, root)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)

    // ISOLATION: every file of the pinned version still exists and the old
    // version still reads the ORIGINAL content — the merge replaced the
    // manifest, not the bytes.
    pinnedFiles.foreach(f => assert(Files.exists(Paths.get(f)), s"$f deleted by commit"))
    val old = SnapshotStore.read(spark, root, Some(v0))
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    assert(old.exceptAll(base).count() == 0 && base.exceptAll(old).count() == 0)
  }

  test("racing commits: exactly one wins, the loser gets a conflict") {
    import spark.implicits._
    val root = scratch("snap_race_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val upd = Seq((999998L, 5L, "A")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    // Both writers read version 0. Writer A commits v1 through the public
    // surface; writer B — which computed its file set against v0 and
    // therefore also targets v1 — must get a conflict at publish time,
    // never a silent clobber or a double-commit. B's publish step is the
    // package-private commit(), exactly what merge() calls last.
    val first = SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
    assert(first == 1L)
    val e = intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.commit(root, 1L, Seq("never-written/part-0.parquet"), -1L)
    }
    assert(e.getMessage.contains("already committed"))
    // the conflict left the store intact: v1 is still writer A's commit
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
  }

  test("merge refuses a base snapshot not hive-partitioned by partCol") {
    import spark.implicits._
    val root = scratch("snap_guard_")
    SnapshotStore.overwrite(base, root, None) // partCol as a data column
    val upd = Seq((1L, 3L, "X")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
    }
    assert(e.getMessage.contains("partitioned base snapshot"))
  }

  test("manifest stats: key-range read skips disjoint files, content identical to a filter") {
    import spark.implicits._
    val root = scratch("snap_stats_")
    // Range-partition by the stats key so each data file carries a narrow
    // [min,max] — the layout a sorted/z-ordered table has, where manifest
    // pruning pays off.
    val sorted = base.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions(col("c_custkey"))
    val v0 = SnapshotStore.overwrite(sorted, root, Some("c_nationkey"),
      declareStatsCol = Some("c_custkey"))

    val all = SnapshotStore.prunedFiles(root, v0)
    val hit = SnapshotStore.prunedFiles(root, v0, keyRange = Some((10L, 20L)))
    assert(hit.nonEmpty && hit.size < all.size / 2,
      s"expected narrow-range pruning: ${hit.size} of ${all.size} files")

    // pruned read ≡ filtered full read (pruning must be sound, not just tight)
    val pruned = SnapshotStore.read(spark, root, keyRange = Some((10L, 20L)))
      .filter(col("c_custkey").between(10, 20))
    val full = SnapshotStore.read(spark, root)
      .filter(col("c_custkey").between(10, 20))
    assert(pruned.exceptAll(full).count() == 0 && full.exceptAll(pruned).count() == 0)

    // merge: kept files carry their ranges forward, new files get fresh ones
    val upd = Seq((999995L, 3L, "S1")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val v1 = SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
    val hi = SnapshotStore.prunedFiles(root, v1, keyRange = Some((999995L, 999995L)))
    assert(hi.nonEmpty, "the merged-in key's file must survive its own range probe")
    assert(SnapshotStore.read(spark, root, Some(v1), keyRange = Some((999995L, 999995L)))
      .filter(col("c_custkey") === 999995L).count() == 1)
    // and the carried-forward stats still prune the untouched low range
    val hitV1 = SnapshotStore.prunedFiles(root, v1, keyRange = Some((10L, 20L)))
    assert(hitV1.size < SnapshotStore.prunedFiles(root, v1).size / 2)
  }

  test("vacuum drops unreferenced files, keeps retained versions readable") {
    import spark.implicits._
    val root = scratch("snap_vac_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val upd = Seq((999997L, 3L, "V1")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
    val upd2 = Seq((999996L, 4L, "V2")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.merge(spark, root, upd2, "c_custkey", "c_nationkey")
    val v0Files = SnapshotStore.filesAt(root, 0L)

    // minAgeMs = 0: this spec IS the no-concurrent-writer case; the
    // retention-window default is gated separately below.
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 0L)

    assert(SnapshotStore.versions(root) == Seq(1L, 2L))
    // v1 and v2 must both still read fully
    assert(SnapshotStore.read(spark, root, Some(1L)).count() == base.count() + 1)
    assert(SnapshotStore.read(spark, root, Some(2L)).count() == base.count() + 2)
    // some v0-only file is gone (the rewritten nation-3 partition's originals)
    val survivors = SnapshotStore.filesAt(root, 1L).toSet ++
      SnapshotStore.filesAt(root, 2L).toSet
    val v0Only = v0Files.filterNot(survivors.contains)
    assert(v0Only.nonEmpty && v0Only.forall(f => !Files.exists(Paths.get(f))),
      "vacuum must delete exactly the unreferenced files")
  }

  test("vacuum retention window: files younger than minAgeMs survive (in-flight commit safety)") {
    import spark.implicits._
    val root = scratch("snap_vacage_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    // Simulate an IN-FLIGHT commit: data files written, manifest not yet
    // published — at this instant they are unreferenced, which is exactly
    // what a concurrent vacuum sees.
    val orphanDir = Paths.get(root, "data", "in-flight-commit")
    Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-00000.parquet")
    Files.write(orphan, Array[Byte](1, 2, 3))
    SnapshotStore.vacuum(root, keepVersions = 1) // default minAgeMs
    assert(Files.exists(orphan),
      "a freshly-written unreferenced file must survive the retention window")
    // And once it is old, the same vacuum reclaims it.
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(!Files.exists(orphan))
  }

  test("merge escapes hive partition paths: string values with specials and NULL replace correctly") {
    import spark.implicits._
    val root = scratch("snap_esc_")
    val t = Seq((1L, "a b", "v1"), (2L, "x:y", "v1"), (3L, null, "v1"),
      (4L, "plain", "v1"), (5L, null, "keep"))
      .toDF("k", "p", "payload")
    SnapshotStore.overwrite(t, root, Some("p"))
    val upd = Seq((1L, "a b", "v2"), (3L, null, "v2")).toDF("k", "p", "payload")
    SnapshotStore.merge(spark, root, upd, "k", "p")
    val got = SnapshotStore.read(spark, root)
      .select(col("k"), col("p"), col("payload"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    // Exactly 5 rows: an unescaped path test would carry the old "a b" and
    // null-partition files forward alongside the rewrite (k=1/k=3 twice),
    // and a null-blind semi join would drop k=5 (null partition survivor).
    assert(got == Set(
      (1L, Some("a b"), "v2"), (2L, Some("x:y"), "v1"), (3L, None, "v2"),
      (4L, Some("plain"), "v1"), (5L, None, "keep")), got.toString)
    // partValues pruning takes RAW values and escapes the same way
    val pv = SnapshotStore.read(spark, root, partValues = Some(Set("a b")))
    assert(pv.select(col("k")).collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("merge collapses empty-string and null partition values like Spark's writer does") {
    import spark.implicits._
    // Spark renders BOTH null and "" as __HIVE_DEFAULT_PARTITION__ — they
    // share one physical dir. A merge touching either must rewrite the
    // WHOLE shared dir's rows, or the other class's rows are lost when the
    // dir's files leave the manifest.
    val root = scratch("snap_emptypart_")
    val t = Seq((1L, "", "v1"), (2L, null, "v1"), (3L, "real", "v1"))
      .toDF("k", "p", "payload")
    SnapshotStore.overwrite(t, root, Some("p"))
    val upd = Seq((1L, "", "v2")).toDF("k", "p", "payload")
    SnapshotStore.merge(spark, root, upd, "k", "p")
    val got = SnapshotStore.read(spark, root)
      .select(col("k"), col("p"), col("payload"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet
    // k=2 (null partition, same physical dir as "") must SURVIVE the merge
    // that touched "", and k=1 must appear exactly once with new content.
    // Note: hive layout cannot distinguish "" from null on read-back of
    // the SHADOW dir — but p is a real data column here, so "" round-trips
    // through the data files... except the rewritten rows pass through
    // writeDataFiles' partitionBy, which only shadows __part; p itself is
    // data. Both classes must hold their original p.
    assert(got == Set(
      (1L, Some(""), "v2"), (2L, None, "v1"), (3L, Some("real"), "v1")),
      got.toString)
  }

  test("zero-file version reads as an empty frame with the recorded schema") {
    import spark.implicits._
    val root = scratch("snap_zerofile_")
    val df = Seq((1L, "a")).toDF("k", "payload")
    SnapshotStore.overwrite(df, root)
    // A delete/merge that empties the table publishes a zero-file
    // manifest; reads must serve schema'd emptiness, not throw.
    SnapshotStore.commit(root, 1L, Nil, 0L, schema = Some(df.schema))
    val empty = SnapshotStore.read(spark, root)
    assert(empty.columns.toSeq == Seq("k", "payload") && empty.count() == 0)
    // CDC across the emptying commit: one delete, zero inserts.
    val delta = SnapshotStore.changes(spark, root, 0L, 1L)
    assert(delta.filter(col("_change_type") === "delete").count() == 1)
    assert(delta.filter(col("_change_type") === "insert").count() == 0)
  }

  test("vacuum preserves txn markers pruned out of the retention window (checkpoint)") {
    import spark.implicits._
    val root = scratch("snap_txnvac_")
    val mk = (k: Long, v: String) => Seq((k, k % 2, v)).toDF("k", "p", "payload")
    SnapshotStore.overwrite(mk(1L, "a"), root, Some("p"), txn = Some("appA" -> 7L))
    // Two more commits by OTHER writers push appA's marker out of a
    // keepVersions=2 window.
    SnapshotStore.merge(spark, root, mk(2L, "b"), "k", "p", txn = Some("appB" -> 1L))
    SnapshotStore.merge(spark, root, mk(3L, "c"), "k", "p")
    assert(SnapshotStore.lastTxn(root, "appA").contains(7L))
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 0L)
    // appA's manifest (v0) is gone — the checkpoint must still answer.
    assert(SnapshotStore.versions(root) == Seq(1L, 2L))
    assert(SnapshotStore.lastTxn(root, "appA").contains(7L),
      "vacuum erased the exactly-once replay guard")
    assert(SnapshotStore.lastTxn(root, "appB").contains(1L))
    // Live markers still win when newer than the checkpoint.
    SnapshotStore.merge(spark, root, mk(4L, "d"), "k", "p", txn = Some("appA" -> 9L))
    assert(SnapshotStore.lastTxn(root, "appA").contains(9L))
  }

  test("legacy stats layout (stats_col + flat ranges) still prunes and upgrades on next commit") {
    import spark.implicits._
    import java.nio.charset.StandardCharsets
    val root = scratch("snap_legacy_")
    val sorted = base.repartitionByRange(8, col("c_custkey"))
      .sortWithinPartitions(col("c_custkey"))
    val v0 = SnapshotStore.overwrite(sorted, root, Some("c_nationkey"),
      declareStatsCol = Some("c_custkey"))
    // Rewrite the table's metadata into the PRE-multi-column layout:
    // 'stats_col' (singular) + flat "file":[lo,hi] ranges.
    val mdir = Paths.get(root, "_manifests")
    Files.move(mdir.resolve("stats_cols"), mdir.resolve("stats_col"))
    val mf = mdir.resolve(f"v$v0%013d.json")
    val txt = new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
    val legacy = txt
      .replaceAll("\"stats\":\\{\"cols\":\\[[^\\]]*\\],\"ranges\":\\{", "\"stats\":{")
      .replaceAll("\\{\"c_custkey\":(\\[-?\\d+,-?\\d+\\])\\}", "$1")
      .replace("}},\"files\":", "},\"files\":")
    assert(!legacy.contains("ranges") && legacy.contains("\"stats\":{\""),
      s"fixture must be the flat legacy shape: ${legacy.take(200)}")
    Files.write(mf, legacy.getBytes(StandardCharsets.UTF_8))
    // Declared column and pruning both survive through the fallbacks.
    assert(SnapshotStore.statsCols(root) == Seq("c_custkey"))
    val all = SnapshotStore.prunedFiles(root, v0)
    val hit = SnapshotStore.prunedFiles(root, v0, keyRange = Some((10L, 20L)))
    assert(hit.nonEmpty && hit.size < all.size / 2,
      s"legacy stats must still prune: ${hit.size}/${all.size}")
    // The next commit carries the legacy ranges forward in the NEW format.
    val upd = Seq((999994L, 3L, "L1")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val v1 = SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
    val hitV1 = SnapshotStore.prunedFiles(root, v1, keyRange = Some((10L, 20L)))
    assert(hitV1.size < SnapshotStore.prunedFiles(root, v1).size / 2,
      "carried-forward legacy ranges must keep pruning after the upgrade commit")
  }

  test("catalog snapshot parser ignores non-table numeric fields") {
    import graft.sources.SnapshotCatalog
    import java.nio.charset.StandardCharsets
    val cat = scratch("snap_catscope_")
    // A future publish rendering with extra top-level numeric fields must
    // not leak into the table map.
    val dir = Paths.get(cat, "_catalog")
    Files.createDirectories(dir)
    Files.write(dir.resolve(f"v${0L}%013d.json"),
      """{"base":7,"tables":{"t1":3,"t2":5},"ts":1700000000000}"""
        .getBytes(StandardCharsets.UTF_8))
    assert(SnapshotCatalog.snapshot(cat) == Map("t1" -> 3L, "t2" -> 5L))
  }

  test("delete(predicate): filter-equivalent, partition-pruned, CDC-visible, vacuum-reclaimed") {
    import spark.implicits._
    val root = scratch("snap_del_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    // Partial within-partition delete: two named victims out of nation 3,
    // so the partition rewrite must KEEP its other rows.
    val victims = base.filter(col("c_nationkey") === 3L)
      .select(col("c_custkey")).as[Long].take(2).toSeq
    val pred = col("c_nationkey") === 3L && col("c_custkey").isin(victims: _*)
    // Capture untouched-partition file mtimes BEFORE the delete.
    val nation4Files = SnapshotStore.prunedFiles(root, v0, Some(Set("4")))
      .map(f => Paths.get(root, "data", f))
    val mtimes = nation4Files.map(p => p -> Files.getLastModifiedTime(p)).toMap
    assert(nation4Files.nonEmpty)

    val v1 = SnapshotStore.delete(spark, root, pred, Some("c_nationkey"))
    assert(v1 == v0 + 1)
    val cols = Seq(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val got = SnapshotStore.read(spark, root).select(cols: _*)
    val expect = base.filter(!pred).select(cols: _*)
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
      "delete must equal the read-filter reference")
    assert(got.count() < base.count(), "the predicate must actually match rows")

    // Partition pruning: nation-4 files are the SAME paths, untouched bytes.
    val n4After = SnapshotStore.prunedFiles(root, v1, Some(Set("4")))
      .map(f => Paths.get(root, "data", f))
    assert(n4After.toSet == nation4Files.toSet,
      "untouched partitions must carry their files forward verbatim")
    n4After.foreach(p => assert(Files.getLastModifiedTime(p) == mtimes(p),
      s"$p was rewritten by a delete that shouldn't touch its partition"))

    // CDC: the delete commit's delta is exactly the removed rows.
    val delta = SnapshotStore.changes(spark, root, v0, v1)
    assert(delta.filter(col("_change_type") === "insert").count() == 0)
    val dels = delta.filter(col("_change_type") === "delete").select(cols: _*)
    val expDel = base.filter(pred).select(cols: _*)
    assert(dels.exceptAll(expDel).count() == 0 && expDel.exceptAll(dels).count() == 0,
      "CDC must surface exactly the deleted rows")

    // Time travel still sees them (erasure needs vacuum)…
    assert(SnapshotStore.read(spark, root, Some(v0)).count() == base.count())
    // …and vacuum past the retention horizon reclaims the old bytes.
    val v0Only = SnapshotStore.filesAt(root, v0).toSet --
      SnapshotStore.filesAt(root, v1).toSet
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(v0Only.nonEmpty && v0Only.forall(f => !Files.exists(Paths.get(f))),
      "vacuum must reclaim the pre-delete files (true erasure)")
    assert(SnapshotStore.read(spark, root).count() == expect.count())

    // No-match delete publishes nothing.
    assert(SnapshotStore.delete(spark, root,
      col("c_custkey") === -1L, Some("c_nationkey")) == v1)
  }

  test("delete: NULL predicate keeps rows; delete-all yields a readable empty table") {
    import spark.implicits._
    val root = scratch("snap_delall_")
    val t = Seq((1L, Some(10L), "a"), (2L, None, "b"), (3L, Some(5L), "c"))
      .toDF("k", "score", "payload")
    SnapshotStore.overwrite(t, root)
    // score > 7: TRUE deletes k=1; NULL (k=2) and FALSE (k=3) survive —
    // standard SQL DELETE three-valued logic.
    SnapshotStore.delete(spark, root, col("score") > 7L)
    val got = SnapshotStore.read(spark, root).select(col("k"))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L), got.toString)
    // Delete-all: zero-file manifest, still readable with schema.
    val vAll = SnapshotStore.delete(spark, root, lit(true))
    val empty = SnapshotStore.read(spark, root)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "score", "payload"))
    // And a later append revives the table on the recorded schema.
    SnapshotStore.append(Seq((9L, Some(1L), "z")).toDF("k", "score", "payload"), root)
    assert(SnapshotStore.read(spark, root).count() == 1)
    assert(SnapshotStore.versions(root).max == vAll + 1)
  }

  test("merge rejects a timestamp partition column") {
    import spark.implicits._
    val root = scratch("snap_ts_")
    val t = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "x"))
      .toDF("k", "p", "payload")
    SnapshotStore.overwrite(t, root, Some("p"))
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.merge(spark, root, t, "k", "p")
    }
    assert(e.getMessage.contains("timestamp"))
  }

  test("CDC changes(v1,v2): manifest set diff equals the full-read row diff across append + merge") {
    import spark.implicits._
    val root = scratch("snap_cdc_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val extra = Seq((900001L, 3L, "NEW")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.append(extra, root, Some("c_nationkey"))
    val victims = base.filter(col("c_nationkey") === 4L)
      .select(col("c_custkey")).as[Long].take(2).toSeq
    val upd = (victims.map(k => (k, 4L, "MERGED")) :+ ((900002L, 4L, "MERGED")))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val v2 = SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")

    val dataCols = Seq(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val delta = SnapshotStore.changes(spark, root, v0, v2).cache()
    val ins = delta.filter(col("_change_type") === "insert").select(dataCols: _*)
    val del = delta.filter(col("_change_type") === "delete").select(dataCols: _*)
    val full2 = SnapshotStore.read(spark, root, Some(v2)).select(dataCols: _*)
    val full0 = SnapshotStore.read(spark, root, Some(v0)).select(dataCols: _*)
    val expIns = full2.exceptAll(full0)
    val expDel = full0.exceptAll(full2)
    assert(ins.exceptAll(expIns).count() == 0 && expIns.exceptAll(ins).count() == 0,
      "insert delta must equal the full-read diff")
    assert(del.exceptAll(expDel).count() == 0 && expDel.exceptAll(del).count() == 0,
      "delete delta must equal the reverse full-read diff")
    // Rewritten-but-unchanged survivors cancel out: the merged partition's
    // survivors appear in neither side.
    // 4 inserts: appended 900001, merged-in 900002, 2 upserted keys' new
    // content; 2 deletes: the upserted keys' old content. The merged
    // partition's untouched survivors appear in NEITHER side.
    assert(ins.count() == 4 && del.count() == 2,
      s"net delta sizes: ins=${ins.count()} del=${del.count()}")
    // Touched-files-only cost: an append-only step's delta reads just the
    // appended files.
    val (addedA, removedA) = SnapshotStore.changedFiles(root, v0, v0 + 1)
    assert(removedA.isEmpty && addedA.nonEmpty)
    delta.unpersist()
  }

  test("updateRows: rebases over a concurrent blind append; conflicts when a concurrent commit rewrote a touched file; stats pruning survives the update") {
    import spark.implicits._
    val root = scratch("snap_updrows_")
    val df = (1L to 400L).map(k => (k, k % 4, s"v$k")).toDF("k", "p", "v")
    // Declared stats on k → per-file [lo,hi] ranges in the manifest.
    val v0 = SnapshotStore.overwrite(df, root, Some("p"), declareStatsCol = Some("k"))
    def acted(pred: org.apache.spark.sql.Column) = {
      val pos = SnapshotStore.positionScan(spark, root, SnapshotStore.currentVersion(root).get)
      pos.filter(pred).select(
        Seq(col("__file"), col("__pos"), lit(true).as("__keep")) ++
          Seq(col("k"), col("p"), concat(col("v"), lit("!")).as("v")): _*)
    }
    // Baseline pruning: a narrow keyRange must not scan every file.
    val allFiles = SnapshotStore.prunedFiles(root, v0).size
    val prunedBefore = SnapshotStore.prunedFiles(root, v0, keyRange = Some((10L, 12L))).size
    assert(prunedBefore < allFiles, s"setup: stats must prune ($prunedBefore of $allFiles)")

    // 1. Concurrent blind APPEND lands between read and commit: the DV
    // update's read set is its touched files' positions (immutable), so
    // the commit must REBASE, not conflict.
    val a1 = acted(col("k").isin(10L, 11L))
    SnapshotStore.append(Seq((901L, 0L, "late")).toDF("k", "p", "v"), root, Some("p"))
    val v2 = SnapshotStore.updateRows(spark, root, v0, a1, "__keep")
    assert(v2 == v0 + 2, "update must rebase over the concurrent append")
    val got = SnapshotStore.read(spark, root)
      .filter(col("k").isin(10L, 11L, 901L)).select(col("k"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((10L, "v10!"), (11L, "v11!"), (901L, "late")), got.toString)

    // Stats pruning still correct AFTER the update: the annotated entries
    // re-keyed their ranges and the delta files harvested fresh ones, so
    // a point lookup prunes AND returns the updated row.
    val prunedAfter = SnapshotStore.prunedFiles(root, v2, keyRange = Some((10L, 12L)))
    assert(prunedAfter.size < SnapshotStore.prunedFiles(root, v2).size,
      "stats pruning lost across a DV update")
    val viaPruned = SnapshotStore.read(spark, root, Some(v2),
      keyRange = Some((10L, 12L))).filter(col("k") === 10L)
      .select(col("v")).collect().map(_.getString(0)).toSeq
    assert(viaPruned == Seq("v10!"),
      s"pruned read must serve the post-update row: $viaPruned")

    // 2. A concurrent commit that REWROTE a touched file (compact) must
    // conflict the stale update loudly — its positions are dead.
    val base2 = SnapshotStore.currentVersion(root).get
    SnapshotStore.compact(spark, root, "p")
    intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.updateRows(spark, root, base2,
        // acted was planned against base2's files; recompute positions
        // against base2 explicitly so they reference the pre-compact files
        SnapshotStore.positionScan(spark, root, base2).filter(col("k") === 20L)
          .select(Seq(col("__file"), col("__pos"), lit(true).as("__keep")) ++
            Seq(col("k"), col("p"), col("v")): _*),
        "__keep")
    }
  }

  test("deletion vectors: delete writes a sidecar not a rewrite; read/CDC/compact/vacuum honor it") {
    import spark.implicits._
    val root = scratch("snap_dv_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val dataDir = Paths.get(root, "data")
    def dataFiles(): Map[String, Long] = {
      val it = Files.walk(dataDir)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      } finally it.close()
    }
    val before = dataFiles()
    val victims = base.orderBy(col("c_custkey")).limit(7)
      .select("c_custkey").as[Long].collect().toSet
    val pred = col("c_custkey").isin(victims.toSeq: _*)

    val v1 = SnapshotStore.delete(spark, root, pred, deletionVectors = true)
    assert(v1 == v0 + 1)
    // The headline property: NO data file written or touched — the
    // delete's write cost is the sidecar alone (∝ matching rows).
    assert(dataFiles() == before, "a DV delete must not write or touch data files")
    val dvDir = Paths.get(root, "_dv")
    assert(Files.isDirectory(dvDir) && Files.list(dvDir).count() == 1)

    // Read ≡ filter, and the annotated entries are visible to prunedFiles.
    val got = SnapshotStore.read(spark, root)
    val want = SnapshotStore.read(spark, root, Some(v0)).filter(!pred)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(got.count() == base.count() - victims.size)
    assert(SnapshotStore.prunedFiles(root, v1).exists(_.contains("#dv=")))

    // CDC: exactly the deleted rows, no inserts.
    val delta = SnapshotStore.changes(spark, root, v0, v1).cache()
    assert(delta.filter(col("_change_type") === "insert").count() == 0)
    val dels = delta.filter(col("_change_type") === "delete")
    assert(dels.count() == victims.size &&
      dels.select("c_custkey").as[Long].collect().toSet == victims)
    delta.unpersist()

    // Time travel still sees the pre-delete rows.
    assert(SnapshotStore.read(spark, root, Some(v0)).count() == base.count())

    // A second DV delete stacks on already-annotated entries.
    val victims2 = base.orderBy(col("c_custkey").desc).limit(3)
      .select("c_custkey").as[Long].collect().toSet
    val v2 = SnapshotStore.delete(spark, root,
      col("c_custkey").isin(victims2.toSeq: _*), deletionVectors = true)
    assert(SnapshotStore.read(spark, root).count() ==
      base.count() - victims.size - victims2.size)
    // Re-deleting already-dead rows is a no-op commit-wise.
    assert(SnapshotStore.delete(spark, root, pred, deletionVectors = true) == v2)

    // Compaction materializes the DVs: entries lose their annotation,
    // content identical, and vacuum then reclaims the orphaned sidecars.
    val v3 = SnapshotStore.compact(spark, root, "c_nationkey")
    assert(SnapshotStore.prunedFiles(root, v3).forall(!_.contains("#dv=")))
    assert(SnapshotStore.read(spark, root).count() ==
      base.count() - victims.size - victims2.size)
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0)
    val left = { val s = Files.list(dvDir); try s.count() finally s.close() }
    assert(left == 0, "vacuum must GC DV sidecars once compaction orphans them")
    assert(SnapshotStore.read(spark, root).count() ==
      base.count() - victims.size - victims2.size)
  }

  test("string stats: prefix-key encoding prunes equality/prefix/range probes soundly") {
    import spark.implicits._
    val root = scratch("snap_sstat_")
    // Words spread across the alphabet; range-partition on the string so
    // each file carries a narrow [min,max] prefix-key range.
    val words = (0 until 2000).map { i =>
      val w = f"${('a' + i % 26).toChar}%c${('a' + (i / 26) % 26).toChar}%cword$i%04d"
      (w, i.toLong)
    }.toDF("w", "v")
    val sorted = words.repartitionByRange(10, col("w")).sortWithinPartitions(col("w"))
    val ver = SnapshotStore.overwrite(sorted, root, declareStatsCol = Some("w"))

    val all = SnapshotStore.prunedFiles(root, ver)
    // Equality probe: both bounds are the stringKey of the value.
    val needle = "dcword0055"
    val eqKey = SnapshotStore.stringKey(needle)
    val eqHit = SnapshotStore.prunedFiles(root, ver, keyRange = Some((eqKey, eqKey)))
    assert(eqHit.nonEmpty && eqHit.size < all.size / 2,
      s"equality probe should prune: ${eqHit.size} of ${all.size}")
    val eqRead = SnapshotStore.read(spark, root, keyRange = Some((eqKey, eqKey)))
      .filter(col("w") === needle)
    assert(eqRead.count() == 1)

    // Prefix probe: LIKE 'm%' — covers every string starting with "m".
    val (plo, phi) = SnapshotStore.stringPrefixRange("m")
    val pfHit = SnapshotStore.prunedFiles(root, ver, keyRange = Some((plo, phi)))
    assert(pfHit.size < all.size, "prefix probe should skip disjoint files")
    val pf = SnapshotStore.read(spark, root, keyRange = Some((plo, phi)))
      .filter(col("w").startsWith("m"))
    val pfFull = SnapshotStore.read(spark, root).filter(col("w").startsWith("m"))
    assert(pf.exceptAll(pfFull).count() == 0 && pfFull.exceptAll(pf).count() == 0)
    assert(pf.count() > 0)

    // Range probe: 'ba' <= w <= 'dz' via plain stringKey bounds.
    val (rlo, rhi) = (SnapshotStore.stringKey("ba"), SnapshotStore.stringKey("dz"))
    val pred = col("w") >= "ba" && col("w") <= "dz"
    val rg = SnapshotStore.read(spark, root, keyRange = Some((rlo, rhi))).filter(pred)
    val rgFull = SnapshotStore.read(spark, root).filter(pred)
    assert(rg.exceptAll(rgFull).count() == 0 && rgFull.exceptAll(rg).count() == 0)
    assert(SnapshotStore.prunedFiles(root, ver,
      keyRange = Some((rlo, rhi))).size < all.size)

    // Encoding properties: order-preserving on prefixes, ties widen only.
    assert(SnapshotStore.stringKey("a") < SnapshotStore.stringKey("ab"))
    assert(SnapshotStore.stringKey("ab") < SnapshotStore.stringKey("b"))
    assert(SnapshotStore.stringKey("same-8-byte-prefix-A") ==
      SnapshotStore.stringKey("same-8-byte-prefix-B"),
      "identical 8-byte prefixes must collapse to the same key (widening, never skipping)")
  }

  test("multi-column stats: conjunctive pruning is strictly tighter than either column alone") {
    import spark.implicits._
    val root = scratch("snap_mcol_")
    // 4x4 block layout, one commit per block: each commit's files carry
    // narrow [min,max] on BOTH a and b — the z-order-style layout where
    // multi-column manifest pruning pays.
    def block(ai: Int, bi: Int) =
      (0 until 25).map(i => (ai * 25 + (i % 25), bi * 25 + ((i * 7) % 25), 1L))
        .toDF("a", "b", "v")
    SnapshotStore.overwrite(block(0, 0), root,
      declareStatsCols = Seq("a", "b"))
    for (ai <- 0 until 4; bi <- 0 until 4; if (ai, bi) != ((0, 0)))
      SnapshotStore.append(block(ai, bi), root)
    val v = SnapshotStore.currentVersion(root).get
    val all = SnapshotStore.prunedFiles(root, v)
    val onlyA = SnapshotStore.prunedFiles(root, v, colRanges = Map("a" -> (0L, 24L)))
    val onlyB = SnapshotStore.prunedFiles(root, v, colRanges = Map("b" -> (30L, 45L)))
    val both = SnapshotStore.prunedFiles(root, v,
      colRanges = Map("a" -> (0L, 24L), "b" -> (30L, 45L)))
    assert(onlyA.size < all.size && onlyB.size < all.size)
    assert(both.size < math.min(onlyA.size, onlyB.size),
      s"conjunction must out-prune both: all=${all.size} a=${onlyA.size} b=${onlyB.size} both=${both.size}")
    // Soundness: pruned read + residual filter ≡ full read + filter.
    val pred = col("a").between(0, 24) && col("b").between(30, 45)
    val pr = SnapshotStore.read(spark, root,
      colRanges = Map("a" -> (0L, 24L), "b" -> (30L, 45L))).filter(pred)
    val fu = SnapshotStore.read(spark, root).filter(pred)
    assert(pr.exceptAll(fu).count() == 0 && fu.exceptAll(pr).count() == 0)
    assert(pr.count() > 0, "the probe range must actually match rows")
    // Empty prune is a legitimate empty result, not an error.
    val none = SnapshotStore.read(spark, root,
      colRanges = Map("a" -> (5000L, 6000L)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("a", "b", "v"))
  }

  test("compact: transactional small-file rewrite; content identical; sorted layout earns range pruning") {
    import spark.implicits._
    val root = scratch("snap_compact_")
    // Streaming-sink shape: 10 commits, each file spanning the FULL key
    // range (k interleaved mod 10) — worst case for manifest stats.
    // coalesce(1): ONE wide-range file per partition per commit — without
    // it the local 32-way parallelism shreds each 40-row slice into
    // near-singleton files whose ranges are accidentally narrow.
    def slice(i: Int) = (0 until 40)
      .map(j => (j * 10 + i, j % 2, s"x$i")).toDF("k", "p", "payload")
      .coalesce(1)
    SnapshotStore.overwrite(slice(0), root, Some("p"),
      declareStatsCols = Seq("k"))
    for (i <- 1 until 10) SnapshotStore.append(slice(i), root, Some("p"))
    val v9 = SnapshotStore.currentVersion(root).get
    val before = SnapshotStore.prunedFiles(root, v9)
    // Unsorted ingest: the key-range probe prunes (almost) nothing.
    val probeBefore = SnapshotStore.prunedFiles(root, v9, keyRange = Some((0L, 39L)))
    assert(probeBefore.size > before.size / 2,
      s"fixture defect: unsorted files should span wide ranges (${probeBefore.size}/${before.size})")

    val vC = SnapshotStore.compact(spark, root, "p", numFiles = 8,
      sortBy = Seq("k"))
    assert(vC == v9 + 1)
    val after = SnapshotStore.prunedFiles(root, vC)
    assert(after.size < before.size / 2,
      s"compaction must shrink the file count: ${before.size} -> ${after.size}")
    // Content identical; the pre-compact version still reads (isolation).
    val cols = Seq(col("k"), col("p"), col("payload"))
    val now = SnapshotStore.read(spark, root, Some(vC)).select(cols: _*)
    val old = SnapshotStore.read(spark, root, Some(v9)).select(cols: _*)
    assert(now.exceptAll(old).count() == 0 && old.exceptAll(now).count() == 0)
    // The sorted range-split earns manifest pruning the ingest never had.
    val probeAfter = SnapshotStore.prunedFiles(root, vC, keyRange = Some((0L, 39L)))
    assert(probeAfter.nonEmpty && probeAfter.size < after.size / 2,
      s"sorted compaction must enable range pruning (${probeAfter.size}/${after.size})")
    assert(SnapshotStore.read(spark, root, keyRange = Some((0L, 39L)))
      .filter(col("k").between(0, 39)).count() == 40)

    // Selective compaction: partition 1's files are physically untouched.
    val p1Before = SnapshotStore.prunedFiles(root, vC, Some(Set("1"))).toSet
    val vS = SnapshotStore.compact(spark, root, "p", partValues = Some(Set("0")))
    val p1After = SnapshotStore.prunedFiles(root, vS, Some(Set("1"))).toSet
    assert(p1After == p1Before, "a partition outside the compaction set must keep its files")
    // CDC across the compaction is EMPTY net change (pure rewrite).
    assert(SnapshotStore.changes(spark, root, v9, vC).count() == 0,
      "compaction must be row-invisible to a CDC consumer")
  }

  test("z-order compaction: conjunctive lookup prunes strictly more than single-key sort; content identical") {
    import spark.implicits._
    // Identical unsorted ingest into two tables: a and b independent
    // (a = n mod 100, b = (n div 100) mod 100 — uniform over the grid).
    def ingest(root: String): Long = {
      def slice(i: Int) = (0 until 2000).map { j =>
        val n = i * 2000 + j
        (n.toLong, (n % 100).toLong, ((n / 100) % 100).toLong, 0L)
      }.toDF("id", "a", "b", "p").coalesce(1)
      SnapshotStore.overwrite(slice(0), root, Some("p"),
        declareStatsCols = Seq("a", "b"))
      (1 until 10).map(i => SnapshotStore.append(slice(i), root, Some("p"))).last
    }
    val zRoot = scratch("snap_zord_")
    val sRoot = scratch("snap_sort_")
    val zPre = ingest(zRoot); ingest(sRoot)
    val vz = SnapshotStore.compact(spark, zRoot, "p", numFiles = 64,
      zorderBy = Seq("a", "b"))
    val vs = SnapshotStore.compact(spark, sRoot, "p", numFiles = 64,
      sortBy = Seq("a"))
    // Content identical across the z-order rewrite.
    val cols = Seq(col("id"), col("a"), col("b"), col("p"))
    val now = SnapshotStore.read(spark, zRoot, Some(vz)).select(cols: _*)
    val old = SnapshotStore.read(spark, zRoot, Some(zPre)).select(cols: _*)
    assert(now.exceptAll(old).count() == 0 && old.exceptAll(now).count() == 0)
    // The two-column box probe: z-order carries narrow ranges on BOTH
    // columns per file; the single-key sort is perfect on a, blind on b.
    val probe = Map("a" -> (0L, 12L), "b" -> (30L, 42L))
    val zHit = SnapshotStore.prunedFiles(zRoot, vz, colRanges = probe)
    val sHit = SnapshotStore.prunedFiles(sRoot, vs, colRanges = probe)
    val zAll = SnapshotStore.prunedFiles(zRoot, vz)
    assert(zAll.size > 32, s"fixture: expected ~64 files, got ${zAll.size}")
    assert(zHit.nonEmpty && zHit.size < sHit.size,
      s"z-order must out-prune the single-key sort on a 2-column box: " +
        s"z=${zHit.size} sort=${sHit.size} of ${zAll.size}")
    // Soundness: pruned read + residual filter ≡ full read + filter.
    val pred = col("a").between(0, 12) && col("b").between(30, 42)
    val pr = SnapshotStore.read(spark, zRoot, colRanges = probe).filter(pred)
    val fu = SnapshotStore.read(spark, zRoot).filter(pred)
    assert(pr.exceptAll(fu).count() == 0 && fu.exceptAll(pr).count() == 0)
    assert(pr.count() == 13L * 13 * 2, "box must match 13x13 cells x2 rows")
  }

  test("sectioned manifest layout: full lifecycle identical to flat; untouched partitions share section refs") {
    import spark.implicits._
    // Force the million-file layout at spec scale.
    val saved = SnapshotStore.sectionThreshold
    SnapshotStore.sectionThreshold = 10
    try {
      val root = scratch("snap_sect_")
      val sorted = base.repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions(col("c_custkey"))
      val v0 = SnapshotStore.overwrite(sorted, root, Some("c_nationkey"),
        declareStatsCol = Some("c_custkey"))
      assert(SnapshotStore.sectionsAt(root, v0).isDefined,
        "fixture: the commit must have taken the sectioned path")
      // Read + count identical to the source.
      assert(SnapshotStore.read(spark, root).count() == base.count())
      // Stats pruning works out of section-resident per-file ranges.
      val all = SnapshotStore.prunedFiles(root, v0)
      val hit = SnapshotStore.prunedFiles(root, v0, keyRange = Some((10L, 20L)))
      assert(hit.nonEmpty && hit.size < all.size / 2,
        s"sectioned stats must prune: ${hit.size}/${all.size}")
      // Partition pruning selects sections before reading per-file data.
      val n3 = SnapshotStore.prunedFiles(root, v0, Some(Set("3")))
      assert(n3.nonEmpty && n3.forall(_.contains("__part=3")))

      // Merge: only the touched partition's section ref changes.
      val refs0 = SnapshotStore.sectionsAt(root, v0).get.toMap
      val upd = Seq((999993L, 3L, "SEC")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
      val v1 = SnapshotStore.merge(spark, root, upd, "c_custkey", "c_nationkey")
      val refs1 = SnapshotStore.sectionsAt(root, v1).get.toMap
      assert(refs1("__part=3") != refs0("__part=3"),
        "the merged partition's section must be re-addressed")
      val unchanged = refs0.keySet - "__part=3"
      assert(unchanged.nonEmpty && unchanged.forall(pd => refs1(pd) == refs0(pd)),
        "untouched partitions must keep their content-addressed sections")
      // Content equivalence with the reference merge.
      val cols = Seq(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      val got = SnapshotStore.read(spark, root).select(cols: _*)
      val expect = base.join(upd.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
        .unionByName(upd)
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
      // Incremental diff parses only touched sections and is exact.
      val (added, removed) = SnapshotStore.changedFiles(root, v0, v1)
      assert(added.nonEmpty && (added ++ removed).forall(_.contains("__part=3")),
        "the diff must touch only the merged partition's files")
      val delta = SnapshotStore.changes(spark, root, v0, v1)
      assert(delta.filter(col("_change_type") === "insert").select(cols: _*)
        .collect().map(_.getLong(0)).toSet == Set(999993L))

      // Delete + carried stats still prune; CDC sees the removal.
      val vDel = SnapshotStore.delete(spark, root,
        col("c_custkey") === 999993L, Some("c_nationkey"))
      assert(SnapshotStore.read(spark, root).filter(col("c_custkey") === 999993L).count() == 0)
      assert(SnapshotStore.prunedFiles(root, vDel, keyRange = Some((10L, 20L))).size <
        SnapshotStore.prunedFiles(root, vDel).size / 2)

      // Vacuum: orphaned sections are GC'd, live ones survive and read.
      val secDir = Paths.get(root, "_manifests", "sections")
      import scala.jdk.CollectionConverters._
      def secCount = { val s = Files.list(secDir); try s.iterator().asScala.size finally s.close() }
      val before = secCount
      SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0L)
      assert(secCount < before, "vacuum must GC sections only dead manifests referenced")
      assert(SnapshotStore.read(spark, root).count() == base.count(),
        "the live version must still read after section GC")
    } finally SnapshotStore.sectionThreshold = saved
  }

  test("schema evolution: evolveSchema append adds a column; old files read as null; history intact") {
    import spark.implicits._
    val root = scratch("snap_evolve_")
    val v0 = SnapshotStore.overwrite(
      Seq((1L, "a"), (2L, "b")).toDF("k", "payload"), root)
    // Un-flagged extra column fails loudly…
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.append(
        Seq((3L, "c", 0.9)).toDF("k", "payload", "quality"), root)
    }
    assert(e.getMessage.contains("evolveSchema"))
    // …and a missing column fails even WITH the flag (add-only contract).
    val e2 = intercept[IllegalArgumentException] {
      SnapshotStore.append(Seq(Tuple1(4L)).toDF("k"), root,
        evolveSchema = true)
    }
    assert(e2.getMessage.contains("missing"))

    val v1 = SnapshotStore.append(
      Seq((3L, "c", 0.9)).toDF("k", "payload", "quality"), root,
      evolveSchema = true)
    val now = SnapshotStore.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "payload", "quality"))
    val got = now.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    // Pre-evolution rows surface null for the new column — no rewrite of
    // the old files happened (their paths are carried forward verbatim).
    assert(got == Set((1L, "a", None), (2L, "b", None), (3L, "c", Some(0.9))),
      got.toString)
    assert(SnapshotStore.filesAt(root, v0).toSet.subsetOf(
      SnapshotStore.filesAt(root, v1).toSet))
    // Time travel to v0 still reads the ORIGINAL two-column schema.
    assert(SnapshotStore.read(spark, root, Some(v0)).columns.toSeq ==
      Seq("k", "payload"))
    // A post-evolution plain append conforms to the evolved schema.
    SnapshotStore.append(
      Seq((5L, "e", 0.5)).toDF("k", "payload", "quality"), root)
    assert(SnapshotStore.read(spark, root).count() == 4)
    // CDC across the evolving commit is union-compatible (TO schema).
    val delta = SnapshotStore.changes(spark, root, v0, v1)
    assert(delta.columns.toSeq == Seq("k", "payload", "quality", "_change_type"))
    assert(delta.filter(col("_change_type") === "insert").count() == 1)
  }

  test("catalog: cross-table cut is atomic — a pinned reader never observes a torn invariant") {
    import spark.implicits._
    import graft.sources.SnapshotCatalog
    val cat = scratch("snap_cat_")
    val totalsRoot = s"$cat/totals"
    val detailRoot = s"$cat/detail"
    // Cross-table invariant: totals.total == sum(detail.amount).
    def detail(n: Int) = (1 to n).map(i => (i.toLong, 10L)).toDF("id", "amount")
    def totals(n: Int) = Seq((1L, n * 10L)).toDF("rid", "total")
    val t0 = SnapshotStore.overwrite(totals(10), totalsRoot)
    val d0 = SnapshotStore.overwrite(detail(10), detailRoot)
    val c0 = SnapshotCatalog.publish(cat,
      Map("totals" -> t0, "detail" -> d0), expectedBase = None)

    def invariantAt(catV: Long): (Long, Long) = {
      val tot = SnapshotCatalog.readTable(spark, cat, "totals", totalsRoot, Some(catV))
        .select(col("total")).head().getLong(0)
      val det = SnapshotCatalog.readTable(spark, cat, "detail", detailRoot, Some(catV))
        .agg(sum(col("amount"))).head().getLong(0)
      (tot, det)
    }
    assert(invariantAt(c0) == ((100L, 100L)))

    // Writer lands BOTH table commits (real, durable, versioned) — but a
    // catalog reader still resolves the OLD cut until the pointer flips.
    val t1 = SnapshotStore.overwrite(totals(15), totalsRoot)
    val d1 = SnapshotStore.overwrite(detail(15), detailRoot)
    assert(invariantAt(c0) == ((100L, 100L)),
      "table-level commits must be invisible through the pinned catalog cut")

    val c1 = SnapshotCatalog.publish(cat,
      Map("totals" -> t1, "detail" -> d1), expectedBase = Some(c0))
    assert(invariantAt(c1) == ((150L, 150L)))
    // Time travel to the old cut still reads a CONSISTENT world.
    assert(invariantAt(c0) == ((100L, 100L)))

    // Optimistic concurrency: a publisher validating against a stale base
    // must conflict, not clobber.
    val e = intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotCatalog.publish(cat,
        Map("totals" -> t1, "detail" -> d0), expectedBase = Some(c0))
    }
    assert(e.getMessage.contains("moved") || e.getMessage.contains("committed"))
    assert(SnapshotCatalog.snapshot(cat) ==
      Map("totals" -> t1, "detail" -> d1))
  }

  // -- optimistic rebase (the Delta commit-protocol retry) -------------------

  /** Stage writer B's rewrite of one partition against version `asOf`:
    * returns (replaced entries, new files, partition dir) with the data
    * files already on disk — the state a writer holds the instant before
    * its commit, letting the tests interleave a concurrent commit
    * deterministically (a thread race only SOMETIMES rebases).
    */
  private def stageRewrite(root: String, asOf: Long, nation: Long,
                           newKey: Long): (Seq[String], Seq[String], String) = {
    import spark.implicits._
    val dir = s"__part=$nation"
    val entries = SnapshotStore.entriesAt(root, asOf)
    val replaced = entries.filter(_.split('/').contains(dir))
    val slice = SnapshotStore.read(spark, root, Some(asOf))
      .filter(col("c_nationkey") === nation)
      .unionByName(Seq((newKey, nation, "STAGED"))
        .toDF("c_custkey", "c_nationkey", "c_mktsegment"))
    val files = SnapshotStore.writeDataFiles(slice, root, Some("c_nationkey"))
    (replaced, files, dir)
  }

  test("rebase: a rewrite staged against v0 lands AFTER a concurrent disjoint merge") {
    import spark.implicits._
    val root = scratch("snap_rebase_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val schema0 = SnapshotStore.schemaAt(root, 0L)
    // Writer B stages its rewrite of partition 1 against v0...
    val (replacedB, filesB, dirB) = stageRewrite(root, 0L, 1L, 777001L)
    // ...then writer A lands v1 first, merging into partition 3.
    val updA = Seq((888001L, 3L, "A"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    assert(SnapshotStore.merge(spark, root, updA, "c_custkey", "c_nationkey") == 1L)
    // B's publish targets v1, conflicts, and rebases onto A's commit:
    // disjoint partitions, so both effects must land.
    val vB = SnapshotStore.commitRebasing(root, 0L, replacedB, filesB,
      Some(Set(dirB)), -1L, None, None, schema0)
    assert(vB == 2L)
    val got = SnapshotStore.read(spark, root)
    assert(got.filter(col("c_custkey") === 777001L).count() == 1)
    assert(got.filter(col("c_custkey") === 888001L).count() == 1)
    assert(got.count() == base.count() + 2)
    // the intermediate versions stay time-travel consistent
    assert(SnapshotStore.read(spark, root, Some(1L))
      .filter(col("c_custkey") === 777001L).count() == 0)
  }

  test("rebase refused on write-write overlap: concurrent commit rewrote my files") {
    import spark.implicits._
    val root = scratch("snap_rebase_ww_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val schema0 = SnapshotStore.schemaAt(root, 0L)
    // B stages a rewrite of partition 3 against v0; A's merge then rewrites
    // partition 3 too (B's replaced files leave the manifest).
    val (replacedB, filesB, dirB) = stageRewrite(root, 0L, 3L, 777002L)
    val updA = Seq((888002L, 3L, "A"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.merge(spark, root, updA, "c_custkey", "c_nationkey")
    val e = intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.commitRebasing(root, 0L, replacedB, filesB,
        Some(Set(dirB)), -1L, None, None, schema0)
    }
    assert(e.getMessage.contains("write-write"))
    // A's commit is intact, B published nothing.
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
    assert(SnapshotStore.read(spark, root)
      .filter(col("c_custkey") === 777002L).count() == 0)
  }

  test("rebase refused when a concurrent commit APPENDED into a touched partition; blind append still rebases") {
    import spark.implicits._
    val root = scratch("snap_rebase_add_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val schema0 = SnapshotStore.schemaAt(root, 0L)
    val (replacedB, filesB, dirB) = stageRewrite(root, 0L, 1L, 777003L)
    // A appends a row INTO partition 1 — B's read-modify-write of that
    // partition no longer saw the whole partition.
    val extraA = Seq((888003L, 1L, "A"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    assert(SnapshotStore.append(extraA, root, Some("c_nationkey")) == 1L)
    val e = intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.commitRebasing(root, 0L, replacedB, filesB,
        Some(Set(dirB)), -1L, None, None, schema0)
    }
    assert(e.getMessage.contains("added files under a partition"))
    // A blind append staged against v0 (no partition read set) rebases
    // over A's commit regardless of partition.
    val extraC = Seq((777004L, 1L, "C"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val filesC = SnapshotStore.writeDataFiles(extraC, root, Some("c_nationkey"))
    val vC = SnapshotStore.commitRebasing(root, 0L, Nil, filesC,
      Some(Set.empty), -1L, None, None, schema0)
    assert(vC == 2L)
    assert(SnapshotStore.read(spark, root).count() == base.count() + 2)
  }

  test("rebase refused across a concurrent schema change") {
    import spark.implicits._
    val root = scratch("snap_rebase_schema_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val schema0 = SnapshotStore.schemaAt(root, 0L)
    val (replacedB, filesB, dirB) = stageRewrite(root, 0L, 1L, 777005L)
    // A evolves the schema (adds a column) — B's files lack it under the
    // OLD column order assumptions; the rebase must abandon.
    val extraA = Seq((888005L, 2L, "A", 1.0))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_score")
    SnapshotStore.append(extraA, root, Some("c_nationkey"), evolveSchema = true)
    val e = intercept[SnapshotStore.SnapshotConflictException] {
      SnapshotStore.commitRebasing(root, 0L, replacedB, filesB,
        Some(Set(dirB)), -1L, None, None, schema0)
    }
    assert(e.getMessage.contains("schema"))
  }

  test("racing disjoint merges through the public API: both land, reads see both") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = scratch("snap_race2_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val updA = Seq((888006L, 2L, "A"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val updB = Seq((888007L, 4L, "B"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val ga = new java.util.concurrent.CyclicBarrier(2)
    val fa = Future { ga.await(); SnapshotStore.merge(spark, root, updA, "c_custkey", "c_nationkey") }
    val fb = Future { ga.await(); SnapshotStore.merge(spark, root, updB, "c_custkey", "c_nationkey") }
    val (va, vb) = (Await.result(fa, 5.minutes), Await.result(fb, 5.minutes))
    // Whichever writer lost the version race rebased instead of failing.
    assert(Set(va, vb) == Set(1L, 2L))
    val got = SnapshotStore.read(spark, root)
    assert(got.filter(col("c_custkey").isin(888006L, 888007L)).count() == 2)
    assert(got.count() == base.count() + 2)
  }

  test("rename column: metadata-only commit (no data rewrite, mtime proof); old versions keep old names; appends compose") {
    import spark.implicits._
    val root = scratch("snap_ren_")
    val df = Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p"))                        // v0
    def mtimes() = SnapshotStore.entriesAt(root, SnapshotStore.versions(root).last)
      .map(e => e -> Files.getLastModifiedTime(
        Paths.get(root, "data", SnapshotStore.entryPath(e))).toMillis).toMap
    val before = mtimes()
    val v1 = SnapshotStore.renameColumn(root, "v", "payload")           // v1
    assert(v1 == 1L)
    // metadata-only: SAME manifest entries, SAME file mtimes — no rewrite
    assert(SnapshotStore.entriesAt(root, 0L) == SnapshotStore.entriesAt(root, 1L))
    assert(mtimes() == before, "rename must not touch a data file")
    // pre-rename files serve the renamed column BY ID with real values
    val now = SnapshotStore.read(spark, root)
    assert(now.columns.toSeq == Seq("k", "p", "payload"))
    assert(now.select(col("k"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "b")))
    // time travel: v0 still reads the OLD name
    assert(SnapshotStore.read(spark, root, Some(0L)).columns.toSeq == Seq("k", "p", "v"))
    // an append AFTER the rename writes under the new name; both file
    // generations serve one coherent column
    SnapshotStore.append(Seq((3L, 0L, "c")).toDF("k", "p", "payload"), root) // v2
    assert(SnapshotStore.read(spark, root).select(col("payload"))
      .collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
    // renaming the partition column updates the layout record too
    SnapshotStore.renameColumn(root, "p", "bucket")                     // v3
    assert(SnapshotStore.partColOf(root).contains("bucket"))
    SnapshotStore.append(Seq((4L, 1L, "d")).toDF("k", "bucket", "payload"), root) // v4
    assert(SnapshotStore.read(spark, root).count() == 4L)
  }

  test("drop column hides without erasing; re-added name gets a fresh id and never resurrects old bytes; add/rename compose") {
    import spark.implicits._
    val root = scratch("snap_drop_")
    val df = Seq((1L, 0L, "secret-a"), (2L, 1L, "secret-b")).toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p"))                        // v0
    SnapshotStore.dropColumn(root, "v")                                 // v1
    assert(SnapshotStore.read(spark, root).columns.toSeq == Seq("k", "p"))
    // time travel still serves the dropped column (hide, not erase)
    assert(SnapshotStore.read(spark, root, Some(0L)).select(col("v"))
      .collect().map(_.getString(0)).toSet == Set("secret-a", "secret-b"))
    // re-add the SAME name: fresh id — old files' bytes must NOT resurrect
    SnapshotStore.addColumn(root, "v", org.apache.spark.sql.types.StringType) // v2
    val reborn = SnapshotStore.read(spark, root).select(col("k"), col("v"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(reborn == Set((1L, null), (2L, null)),
      s"dropped column resurrected: $reborn")
    // add + rename compose: new appends fill the re-added column, then it
    // renames without rewrite
    SnapshotStore.append(Seq((3L, 0L, "new")).toDF("k", "p", "v"), root) // v3
    SnapshotStore.renameColumn(root, "v", "v2")                          // v4
    val composed = SnapshotStore.read(spark, root).select(col("k"), col("v2"))
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(composed == Set((1L, null), (2L, null), (3L, "new")), composed.toString)
    // guard rails: partition/stats columns and identity-less tables refuse
    intercept[IllegalArgumentException] { SnapshotStore.dropColumn(root, "p") }
    intercept[IllegalArgumentException] { SnapshotStore.renameColumn(root, "k", "p") }
  }

  test("widen column: metadata-only type evolution — old int files read as long, appends conform, narrowing refuses") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    val root = scratch("snap_widen_")
    val df = Seq((1, 0L, 1.5f), (2, 1L, 2.5f)).toDF("k", "p", "score")
    SnapshotStore.overwrite(df, root, Some("p"))                        // v0
    assert(SnapshotStore.read(spark, root).schema("k").dataType == IntegerType)
    def entries(v: Long) = SnapshotStore.entriesAt(root, v)
    SnapshotStore.widenColumn(root, "k", LongType)                      // v1
    SnapshotStore.widenColumn(root, "score", DoubleType)                // v2
    // metadata-only: identical file lists across all three versions
    assert(entries(0L) == entries(1L) && entries(1L) == entries(2L))
    val widened = SnapshotStore.read(spark, root)
    assert(widened.schema("k").dataType == LongType)
    assert(widened.schema("score").dataType == DoubleType)
    // the NARROW physical files serve real values under the wide schema
    assert(widened.select(col("k"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.5), (2L, 2.5)))
    // time travel: v0 still reads the narrow type
    assert(SnapshotStore.read(spark, root, Some(0L))
      .schema("k").dataType == IntegerType)
    // appends conform to the widened type — incl. values past Int range
    SnapshotStore.append(
      Seq((5000000000L, 0L, 9.25)).toDF("k", "p", "score"), root)       // v3
    assert(SnapshotStore.read(spark, root).select(col("k"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5000000000L))
    // narrowing / lateral changes refuse loudly; idempotent re-widen no-ops
    intercept[IllegalArgumentException] {
      SnapshotStore.widenColumn(root, "k", IntegerType)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.widenColumn(root, "p",
        org.apache.spark.sql.types.StringType)
    }
    assert(SnapshotStore.widenColumn(root, "k", LongType) ==
      SnapshotStore.currentVersion(root).get, "re-widen must be a no-op")
  }

  test("dvDebt + maintain: threshold crossing triggers exactly one materialization commit") {
    import spark.implicits._
    val root = scratch("snap_maint_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    assert(SnapshotStore.dvDebt(root) == SnapshotStore.DvDebt(0,
      SnapshotStore.prunedFiles(root, v0).size, 0L))

    val victims = base.orderBy(col("c_custkey")).limit(9)
      .select("c_custkey").as[Long].collect().toSet
    val pred = col("c_custkey").isin(victims.toSeq: _*)
    val v1 = SnapshotStore.delete(spark, root, pred, deletionVectors = true)
    val debt = SnapshotStore.dvDebt(root)
    // debt is measured from footers/manifest only: exact DV row mass,
    // annotated fraction strictly between 0 and the whole table only if
    // some partitions were untouched — victims are the 9 smallest keys,
    // scattered, so just assert the invariants.
    assert(debt.dvRows == victims.size.toLong && debt.annotatedFiles > 0)
    assert(debt.annotatedFraction > 0.0 && debt.annotatedFraction <= 1.0)

    // Under budget: nothing happens, version unchanged.
    assert(SnapshotStore.maintain(spark, root,
      maxAnnotatedFraction = 1.1, maxDvRows = Long.MaxValue).isEmpty)
    assert(SnapshotStore.currentVersion(root).contains(v1))

    // Over budget (absolute row-mass bound): exactly ONE commit.
    val untouched = SnapshotStore.prunedFiles(root, v1)
      .filterNot(_.contains("#dv=")).toSet
    val v2 = SnapshotStore.maintain(spark, root, maxDvRows = victims.size - 1L)
    assert(v2.contains(v1 + 1), s"expected one maintenance commit, got $v2")
    // Debt collapsed; content identical to the masked read.
    assert(SnapshotStore.dvDebt(root).annotatedFiles == 0)
    val got = SnapshotStore.read(spark, root)
    val want = SnapshotStore.read(spark, root, Some(v0)).filter(!pred)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // Untouched files carried verbatim (byte-identical: same entries).
    assert(untouched.subsetOf(
      SnapshotStore.prunedFiles(root, v2.get).toSet))
    // Re-poll: under budget again, no second commit.
    assert(SnapshotStore.maintain(spark, root, maxDvRows = 0L).isEmpty)
    assert(SnapshotStore.currentVersion(root) == v2)
  }

  test("restore publishes an old version as a new commit: inverse CDC, time travel intact") {
    import spark.implicits._
    val root = scratch("snap_restore_")
    val v0 = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val extra = Seq((900001L, 3L, "NEW"), (900002L, 4L, "NEW"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val v1 = SnapshotStore.append(extra, root, Some("c_nationkey"))
    val victims = base.orderBy(col("c_custkey")).limit(5)
      .select("c_custkey").as[Long].collect().toSet
    val v2 = SnapshotStore.delete(spark, root,
      col("c_custkey").isin(victims.toSeq: _*), Some("c_nationkey"))

    val v3 = SnapshotStore.restore(root, v0)
    assert(v3 == v2 + 1)
    // Restored content ≡ the time-travel read of the target version.
    val got = SnapshotStore.read(spark, root)
    val want = SnapshotStore.read(spark, root, Some(v0))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(SnapshotStore.rowsAt(root, v3) == base.count())
    assert(SnapshotStore.partColOf(root).contains("c_nationkey"))

    // CDC across the restore commit is the INVERSE of what it undoes:
    // the deleted victims come back as inserts, the appended rows leave.
    val delta = SnapshotStore.changes(spark, root, v2, v3).cache()
    assert(delta.filter(col("_change_type") === "insert")
      .select("c_custkey").as[Long].collect().toSet == victims)
    assert(delta.filter(col("_change_type") === "delete")
      .select("c_custkey").as[Long].collect().toSet == Set(900001L, 900002L))
    delta.unpersist()

    // History untouched: every prior version still time-travels.
    assert(SnapshotStore.read(spark, root, Some(v1)).count() == base.count() + 2)
    assert(SnapshotStore.read(spark, root, Some(v2)).count() ==
      base.count() + 2 - victims.size)
    // Restoring the current version is a no-op.
    assert(SnapshotStore.restore(root, v3) == v3)
    // Vacuum honors the restore: v3 names v0's files, so they survive a
    // retention that prunes v0's own manifest; a later restore to a
    // PRUNED version refuses loudly instead of publishing dead files.
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0)
    assert(SnapshotStore.read(spark, root).count() == base.count())
    intercept[IllegalArgumentException] { SnapshotStore.restore(root, v1) }
  }

  test("keyed CDC pairing is VALUE-level (negative control): shared key groups all rows as update images") {
    import spark.implicits._
    val root = scratch("snap_cdc_nc_")
    // Hand-built commits where the keyed writers' 1:1-per-value
    // cardinality contract does NOT hold: v0 has one row under k=1, v1
    // has TWO (one changed row + one genuinely new row under the same
    // key value). This pins the documented contract before a downstream
    // consumer discovers it: value-level semi/anti pairing labels BOTH
    // v1 rows as postimages — the genuine insert does NOT keep 'insert'.
    val v0 = SnapshotStore.overwrite(
      Seq((1L, 1L), (2L, 2L)).toDF("k", "x"), root)
    val v1 = SnapshotStore.overwrite(
      Seq((1L, 10L), (1L, 11L), (2L, 2L)).toDF("k", "x"), root)
    val d = SnapshotStore.changes(spark, root, v0, v1, updateKey = Seq("k"))
      .select("_change_type", "k", "x").as[(String, Long, Long)]
      .collect().toSet
    assert(d == Set(
      ("update_preimage", 1L, 1L),
      ("update_postimage", 1L, 10L),
      ("update_postimage", 1L, 11L)),
      s"value-level pairing contract changed: $d")
    // The unkeyed read of the same hop keeps the honest row-level labels.
    val plain = SnapshotStore.changes(spark, root, v0, v1)
      .select("_change_type", "k", "x").as[(String, Long, Long)]
      .collect().toSet
    assert(plain == Set(
      ("delete", 1L, 1L), ("insert", 1L, 10L), ("insert", 1L, 11L)))
  }

  test("overwrite streams to data files: one plan execution, no block-store pin, exact footer count") {
    import spark.implicits._
    val root = scratch("snap_ow_stream_")
    val n = 10000L
    // An accumulator in the source plan counts rows PRODUCED: a shape
    // that pins-then-counts (the pre-r16 localCheckpoint(true) + count())
    // would produce each row once into the block store but a shape that
    // re-executes the plan for the count would read 2n. Exactly n proves
    // one execution with the manifest count taken from parquet footers.
    val acc = spark.sparkContext.longAccumulator("ow_rows_seen")
    val src = spark.range(n).mapPartitions(it => it.map { i => acc.add(1); i })
      .toDF("id").withColumn("grp", pmod(col("id"), lit(7)))
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val v = SnapshotStore.overwrite(src, root, Some("grp"))
    assert(acc.value == n,
      s"overwrite must execute its plan exactly once (saw ${acc.value} of $n rows)")
    val pinnedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((pinnedAfter -- pinnedBefore).isEmpty,
      "overwrite must not materialize content in the block store")
    // the manifest still records the EXACT row count (footer-derived)
    assert(SnapshotStore.rowsAt(root, v) == n)
    assert(SnapshotStore.read(spark, root).count() == n)
  }

  test("cloneTable: zero-copy clone reads identical, diverges independently, and vacuum on either side never breaks the other") {
    import spark.implicits._
    val src = scratch("clone_src_")
    val dst = scratch("clone_dst_") + "/t" // fresh path, no manifest log
    SnapshotStore.overwrite(base, src, Some("c_nationkey"),
      declareStatsCol = Some("c_custkey"))
    // DV debt rides the clone too: annotated entries must serve masked
    SnapshotStore.delete(spark, src, col("c_custkey") <= 5,
      Some("c_nationkey"), deletionVectors = true)
    val expect = SnapshotStore.read(spark, src)
      .orderBy("c_custkey").collect().toSeq

    val v0 = SnapshotStore.cloneTable(src, dst)
    assert(v0 == 0L, "a clone is a brand-new table at its own v0")
    assert(SnapshotStore.read(spark, dst).orderBy("c_custkey")
      .collect().toSeq == expect, "clone must read identical at creation")

    // ZERO-COPY: every cloned data file is the SAME inode (hardlink), not
    // a byte copy — O(files) metadata, no data pages moved.
    val sample = SnapshotStore.entriesAt(dst, 0L).take(3)
    assert(sample.nonEmpty)
    sample.foreach { e =>
      val rel = e.split("#dv=").head
      assert(Files.isSameFile(Paths.get(src, "data", rel),
        Paths.get(dst, "data", rel)), s"$rel must be hardlinked, not copied")
    }

    // DIVERGENCE: writes to one side are invisible to the other.
    SnapshotStore.append(Seq((900001L, 3L, "CLONE"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment"), dst, Some("c_nationkey"))
    SnapshotStore.append(Seq((900002L, 4L, "SRC"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment"), src, Some("c_nationkey"))
    assert(SnapshotStore.read(spark, dst).filter(col("c_custkey") === 900002L).isEmpty)
    assert(SnapshotStore.read(spark, src).filter(col("c_custkey") === 900001L).isEmpty)

    // GC SAFETY: compact the CLONE (rewrites its content into new files)
    // then vacuum it to one retained version — the shared base files drop
    // out of the clone's tree, but the inode link count keeps them alive
    // for the source. Then the mirror image.
    SnapshotStore.compact(spark, dst, "c_nationkey")
    SnapshotStore.vacuum(dst, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotStore.read(spark, src).orderBy("c_custkey").collect()
      .map(_.getLong(0)).toSeq ==
      (expect.map(_.getLong(0)) :+ 900002L).sorted,
      "vacuuming the clone must never delete a file the source references")
    SnapshotStore.compact(spark, src, "c_nationkey")
    SnapshotStore.vacuum(src, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotStore.read(spark, dst).count() == expect.size + 1,
      "vacuuming the source must never delete a file the clone references")

    // Declared stats columns carry over: the clone's own commits keep
    // harvesting pruning stats for the source's declared column.
    assert(SnapshotStore.statsCols(dst) == Seq("c_custkey"))

    // Refusals: existing manifest log, and a vacuumed source version.
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTable(src, dst)
    }
    intercept[IllegalArgumentException] {
      SnapshotStore.cloneTable(src, scratch("clone_dst2_") + "/t",
        version = Some(0L)) // src v0 fell to the vacuum above
    }
  }

  private def manifestFile(root: String, v: Long) =
    Paths.get(root, "_manifests", f"v$v%013d.json")

  private def text(p: java.nio.file.Path) =
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8)

  private def ageBy(p: java.nio.file.Path, ms: Long): Unit =
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ms))

  test("manifest bytes are pinned: flat manifest, sectioned root and a section line") {
    import org.apache.spark.sql.types._
    val idMeta = new MetadataBuilder().putLong("parquet.field.id", 1L).build()
    val schema = StructType(Seq(StructField("k", LongType, nullable = true, idMeta),
      StructField("s", StringType)))
    val files = Seq("c1/__part=2/part-00001.parquet", "c1/__part=1/part-00000.parquet",
      "c1/__part=1/part-00002.parquet")
    val stats = Some(Seq("k", "s") -> Map(
      files(0) -> Map("k" -> (-3L, 9L)),
      files(1) -> Map("s" -> (10L, 20L), "k" -> (1L, 5L))))
    val app = "app \"q\" \\ x"
    def commitFixture(root: String) = SnapshotStore.commit(root, 0L, files, 7L, stats,
      Some(app -> 4L), Some(schema), Some("p"), Some(Seq("k")))
    val schemaJson = """"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",""" +
      """\"type\":\"long\",\"nullable\":true,\"metadata\":{\"parquet.field.id\":1}},""" +
      """{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","""
    val head = """{"rows":7,""" + schemaJson +
      """"part_col":"p","change_key":["k"],"txn":{"app":"app \"q\" \\ x","batch":4},"""

    val flat = scratch("snap_golden_flat_")
    commitFixture(flat)
    assert(text(manifestFile(flat, 0L)) == head +
      """"stats":{"cols":["k","s"],"ranges":{""" +
      """"c1/__part=1/part-00000.parquet":{"k":[1,5],"s":[10,20]},""" +
      """"c1/__part=2/part-00001.parquet":{"k":[-3,9]}}},""" +
      """"files":["c1/__part=1/part-00000.parquet","c1/__part=1/part-00002.parquet",""" +
      """"c1/__part=2/part-00001.parquet"]}""")
    // Every accessor projects the same parse of those bytes.
    assert(SnapshotStore.rowsAt(flat, 0L) == 7L)
    assert(SnapshotStore.schemaAt(flat, 0L).contains(schema))
    assert(SnapshotStore.partColAt(flat, 0L).contains(Some("p")))
    assert(SnapshotStore.changeKeyAt(flat, 0L).contains(Seq("k")))
    assert(SnapshotStore.lastTxn(flat, app).contains(4L))
    assert(SnapshotStore.statsAt(flat, 0L) == stats.get._2)
    assert(SnapshotStore.entriesAt(flat, 0L) == files.sorted)

    val plain = scratch("snap_golden_plain_")
    SnapshotStore.commit(plain, 0L, Seq("c2/part-0.parquet"), -1L)
    assert(text(manifestFile(plain, 0L)) ==
      """{"rows":-1,"part_col":null,"files":["c2/part-0.parquet"]}""")

    val saved = SnapshotStore.sectionThreshold
    SnapshotStore.sectionThreshold = 1
    try {
      val sec = scratch("snap_golden_sec_")
      commitFixture(sec)
      assert(text(manifestFile(sec, 0L)) == head + """"stats_cols":["k","s"],""" +
        """"sections":{"__part=1":"fc83a9762cb0916380daf44ce92fe5d7.list",""" +
        """"__part=2":"f3eba0887294d32afde36af89b3b5870.list"}}""")
      assert(text(Paths.get(sec, "_manifests", "sections",
        "fc83a9762cb0916380daf44ce92fe5d7.list")) ==
        "c1/__part=1/part-00000.parquet\t{\"k\":[1,5],\"s\":[10,20]}\n" +
          "c1/__part=1/part-00002.parquet")
      assert(SnapshotStore.statsAt(sec, 0L) == stats.get._2)
      assert(SnapshotStore.entriesAt(sec, 0L) == files.sorted)
    } finally SnapshotStore.sectionThreshold = saved
  }

  test("a manifest truncated inside its files list fails naming the manifest, never yields fewer files") {
    val root = scratch("snap_trunc_files_")
    val v = SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val mf = manifestFile(root, v)
    val whole = text(mf)
    val firstEntry = whole.indexOf("\"files\":[") + "\"files\":[".length
    val afterFirst = whole.indexOf("\",\"", firstEntry) + 2
    assert(SnapshotStore.filesAt(root, v).size >= 2 && afterFirst > firstEntry,
      "fixture needs at least two files")
    // Cut after a whole entry, inside the next entry, and just before "]}".
    for (cut <- Seq(afterFirst, afterFirst + 5, whole.length - 2)) {
      Files.write(mf, whole.substring(0, cut).getBytes("UTF-8"))
      val e1 = intercept[IllegalStateException](SnapshotStore.filesAt(root, v))
      assert(e1.getMessage.contains(mf.toString), e1.getMessage)
      val e2 = intercept[IllegalStateException](SnapshotStore.read(spark, root))
      assert(e2.getMessage.contains(mf.toString), e2.getMessage)
    }
  }

  test("a manifest truncated before its files list fails with the same named error") {
    val root = scratch("snap_trunc_head_")
    val v = SnapshotStore.overwrite(base, root, Some("c_nationkey"),
      declareStatsCol = Some("c_custkey"))
    val mf = manifestFile(root, v)
    val whole = text(mf)
    val ranges = whole.indexOf("\"ranges\":{")
    assert(ranges > 0 && ranges < whole.indexOf("\"files\":["))
    for (cut <- Seq(ranges + 20, whole.indexOf("\"part_col\""), 1, 0)) {
      Files.write(mf, whole.substring(0, cut).getBytes("UTF-8"))
      val calls = Seq[() => Any](
        () => SnapshotStore.filesAt(root, v),
        () => SnapshotStore.read(spark, root),
        () => SnapshotStore.prunedFiles(root, v, keyRange = Some((10L, 20L))),
        () => SnapshotStore.rowsAt(root, v))
      calls.foreach { call =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(mf.toString), e.getMessage)
      }
    }
  }

  test("a leftover publish tmp file is no version; the next commit takes its number; vacuum reclaims it once old") {
    import spark.implicits._
    val root = scratch("snap_pubtmp_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val mdir = Paths.get(root, "_manifests")
    // A publish of version 1 that crashed before linking its tmp file.
    val tmp = mdir.resolve(f".v${1L}%013d.json.${java.util.UUID.randomUUID()}.tmp")
    Files.write(tmp, """{"rows":-1,"part_col":"c_nat""".getBytes("UTF-8"))
    assert(SnapshotStore.versions(root) == Seq(0L))
    assert(SnapshotStore.currentVersion(root).contains(0L))
    val extra = Seq((900001L, 3L, "NEW")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    assert(SnapshotStore.append(extra, root) == 1L)
    assert(SnapshotStore.read(spark, root).count() == base.count() + 1)
    def tmps() = {
      import scala.jdk.CollectionConverters._
      val it = Files.list(mdir)
      try it.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.endsWith(".tmp")).toSet
      finally it.close()
    }
    assert(tmps() == Set(tmp.getFileName.toString), "a commit must not leave its own tmp")
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 60000L)
    assert(Files.exists(tmp), "a young tmp may be a live publish")
    ageBy(tmp, 3600000L)
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 60000L)
    assert(!Files.exists(tmp), "vacuum must reclaim a stale publish tmp")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
  }

  test("vacuum keeps an empty data directory younger than minAgeMs (an in-flight write's output)") {
    val root = scratch("snap_vacdir_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val v0Dirs = SnapshotStore.entriesAt(root, 0L).map(_.split('/').head).toSet
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val inFlight = Paths.get(root, "data", java.util.UUID.randomUUID().toString)
    Files.createDirectories(inFlight)
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 60000L)
    assert(Files.isDirectory(inFlight), "a fresh empty output dir must survive")
    ageBy(inFlight, 3600000L)
    // An emptied old commit dir goes in the same sweep that deletes its files.
    import scala.jdk.CollectionConverters._
    v0Dirs.foreach { d =>
      val it = Files.walk(Paths.get(root, "data", d))
      try it.iterator().asScala.toList.foreach(ageBy(_, 3600000L))
      finally it.close()
    }
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 60000L)
    assert(!Files.exists(inFlight), "a stale empty dir is reclaimed")
    assert(v0Dirs.forall(d => !Files.exists(Paths.get(root, "data", d))),
      "the superseded commit's directory must be pruned with its files")
    assert(SnapshotStore.read(spark, root).count() == base.count())
  }
}
