package graft.io

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The log-structured table's four contracts: snapshot correctness
  * (upsert == the anti-join semantics Load.upsert defines), file-level
  * pruning from manifest key stats, optimistic concurrency without lost
  * updates, and crash invisibility of unreferenced data files — plus
  * time travel as a fold property. */
class LogTableSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-logtable").resolve("t").toString

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** The stats-pruned read path: the `graft-log` DSv2 scan. */
  private def load(t: String) = spark.read.format("graft-log").load(t)

  /** Live files the last planned `graft-log` scan kept after manifest
    * pruning (and how many it saw). */
  private def planned: Int = graft.sources.v2.LogTableScan.lastPlannedFiles.get()
  private def seen: Int = graft.sources.v2.LogTableScan.lastTotalFiles.get()

  test("create/read round-trip and upsert equals the keyed anti-join semantics") {
    val t = tmpTable()
    val base = (1L to 1000L).map(i => (i, s"base$i")).toDF("k", "v")
    LogTable.create(spark, t, base, "k")
    assert(rows(LogTable.read(spark, t)) == rows(base))

    val incoming = (900L to 1100L).map(i => (i, s"new$i")).toDF("k", "v")
    LogTable.upsert(spark, t, incoming, "k")
    val expected = graft.etl.Load.upsert(base, incoming, Seq("k"))
    assert(rows(LogTable.read(spark, t)) == rows(expected),
      "log-table upsert diverged from the reference delete-then-insert semantics")
  }

  test("manifest key stats prune untouched files: a narrow upsert rewrites only overlapping ranges") {
    val t = tmpTable()
    // range-partitioned create → files with disjoint key ranges
    val base = (1L to 10000L).map(i => (i, s"base$i")).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    LogTable.create(spark, t, base, "k")
    val before = LogTable.read(spark, t).inputFiles.toSet
    assert(before.size >= 8)

    LogTable.upsert(spark, t, Seq((5L, "touched")).toDF("k", "v"), "k")
    val after = LogTable.read(spark, t).inputFiles.toSet
    // exactly one range file intersects k=5: every other file survives
    // IDENTICALLY (same path — never rewritten, never copied)
    assert((before -- after).size == 1,
      s"upsert of one key rewrote ${(before -- after).size} files")
    assert((after -- before).nonEmpty)
    val r = LogTable.read(spark, t)
    assert(r.filter(col("k") === 5L).select("v").head().getString(0) == "touched")
    assert(r.count() == 10000L)
  }

  test("concurrent upserts: no lost update, both commits land (optimistic log)") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 2000L).map(i => (i, s"base$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), "k")
    val lowKeys = (1L to 200L).map(i => (i, s"low$i"))
    val highKeys = (1801L to 2000L).map(i => (i, s"high$i"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(lowKeys, highKeys).map { ks =>
      new Thread(() =>
        try LogTable.upsert(spark, t, ks.toDF("k", "v"), "k")
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent upsert failed: ${errs.peek()}")
    val r = LogTable.read(spark, t)
    assert(r.count() == 2000L)
    assert(rows(r.filter(col("k") <= 200L)) == lowKeys.toSet)
    assert(rows(r.filter(col("k") >= 1801L)) == highKeys.toSet)
    // both writers committed: the log advanced past both
    assert(LogTable.version(t) >= 3L)
  }

  test("conflicting upserts to the SAME keys serialize: the loser recomputes, one writer wins wholly") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 500L).map(i => (i, s"base$i")).toDF("k", "v"), "k")
    val v0 = LogTable.version(t)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("alpha", "beta").map { tag =>
      new Thread(() =>
        try LogTable.upsert(spark, t,
          (1L to 100L).map(i => (i, s"$tag$i")).toDF("k", "v"), "k")
        catch { case e: Throwable => errs.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"conflicting upsert failed: ${errs.peek()}")
    val r = LogTable.read(spark, t)
    assert(r.count() == 500L, "conflict resolution lost or duplicated rows")
    // serializable outcome: the overlapped keys hold ONE writer's values
    // in full — the loser's recompute ran against the winner's snapshot,
    // so no interleaving of the two batches is possible
    val vals = r.filter(col("k") <= 100L).select("v")
      .collect().map(_.getString(0)).toSet
    val alphaAll = (1L to 100L).map(i => s"alpha$i").toSet
    val betaAll = (1L to 100L).map(i => s"beta$i").toSet
    assert(vals == alphaAll || vals == betaAll,
      s"interleaved writer values survived the conflict: ${vals.take(5)}")
    assert(LogTable.version(t) >= v0 + 2, "both writers must have committed")
    // untouched keys unchanged
    assert(rows(r.filter(col("k") > 100L)) ==
      (101L to 500L).map(i => (i, s"base$i")).toSet)
  }

  test("a data file no manifest references is invisible (crashed writer)") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    // simulate a writer that died after landing data, before its commit
    val orphanSrc = Files.createTempDirectory("graft-orphan")
    Seq((99L, "orphan")).toDF("k", "v").write.mode("overwrite")
      .parquet(orphanSrc.resolve("p").toString)
    val part = Files.list(orphanSrc.resolve("p")).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, Paths.get(t, "data", "deadbeef-orphan.parquet"))
    assert(rows(LogTable.read(spark, t)) == Set((1L, "a"), (2L, "b")),
      "unreferenced data file leaked into the snapshot")
  }

  test("vacuum removes only unreferenced debris; history and head stay intact") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    LogTable.upsert(spark, t, Seq((2L, "b2")).toDF("k", "v"), "k")
    // plant crashed-writer debris
    Files.write(Paths.get(t, "data", "11111111-orphan.parquet"), Array[Byte](1, 2, 3))
    val removed = LogTable.vacuum(t)
    assert(removed == Seq("11111111-orphan.parquet"), s"vacuumed $removed")
    // superseded-version files survive (time travel stays valid)
    assert(rows(LogTable.readVersion(spark, t, v1)) == Set((1L, "a"), (2L, "b")))
    assert(rows(LogTable.read(spark, t)) == Set((1L, "a"), (2L, "b2")))
    assert(LogTable.vacuum(t).isEmpty)
  }

  test("merge: delete/update/insert clauses resolve per-row; untouched files survive in place") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 4000L).map(i => (i, if (i % 3 == 0) "F" else "O", s"base$i"))
        .toDF("k", "status", "v").repartitionByRange(8, col("k")), "k")
    val before = LogTable.read(spark, t).inputFiles.toSet
    // source overlaps keys 3500-4200, inserts 4001-4200; its own status
    // column drives the delete clause
    val src = (3500L to 4200L).map(i => (i, if (i % 5 == 0) "F" else "O", s"new$i"))
      .toDF("k", "status", "v")
    LogTable.merge(spark, t, src, "k",
      updateWhen = Some("true"),
      deleteWhen = Some("_src_status = 'F'"),
      insertUnmatched = true)
    val r = LogTable.read(spark, t).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getString(2))).toMap
    // matched + source-F -> deleted
    assert(!r.contains(3500L) && !r.contains(4000L), "source-F matches must delete")
    // matched + not F -> updated to source image
    assert(r(3501L) == ("O", "new3501"))
    // unmatched source -> inserted (unless its delete clause... no: only MATCHED delete)
    assert(r(4002L) == ("O", "new4002") && r(4005L) == ("F", "new4005"),
      "unmatched source rows insert regardless of the matched-only delete clause")
    // untouched target rows keep their values AND their physical files
    assert(r(100L) == ("O", "base100"))
    val after = LogTable.read(spark, t).inputFiles.toSet
    assert((before intersect after).nonEmpty, "merge rewrote files outside the key range")
    // expected cardinality: 4000 base - matched deletes + inserts
    val matchedDel = (3500L to 4000L).count(_ % 5 == 0)
    val inserts = (4001L to 4200L).size
    assert(r.size == 4000 - matchedDel + inserts)
    // upsert equivalence: merge with default clauses == upsert
    val t2 = tmpTable()
    LogTable.create(spark, t2,
      (1L to 500L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    val t3 = tmpTable()
    LogTable.create(spark, t3,
      (1L to 500L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    val inc = (400L to 600L).map(i => (i, s"n$i")).toDF("k", "v")
    LogTable.merge(spark, t2, inc, "k")
    LogTable.upsert(spark, t3, inc, "k")
    assert(rows(LogTable.read(spark, t2)) == rows(LogTable.read(spark, t3)),
      "default-clause merge must equal upsert")
  }

  test("key-range scan prunes to intersecting files from manifest stats alone") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 8000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, col("k")), "k")
    val all = LogTable.read(spark, t).inputFiles.toSet
    assert(all.size >= 8)
    val ranged = load(t).filter(col("k").between(100L, 150L))
    assert(rows(ranged) == (100L to 150L).map(i => (i, s"v$i")).toSet)
    assert(planned == 1, s"point-range read opened $planned of ${all.size} files")
    // a range past the table reads nothing
    assert(load(t).filter(col("k").between(50000L, 60000L)).isEmpty)
  }

  test("deleteRange: fully-covered files drop metadata-only; straddlers rewrite survivors") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 8000L).map(i => (i, s"v$i")).toDF("k", "v")
        .repartitionByRange(8, col("k")), "k")
    val entries = LogTable.read(spark, t).inputFiles.toSet
    val dataFilesBefore = Files.list(Paths.get(t, "data")).count()
    // pick a range aligned to swallow whole middle files but cut into
    // their neighbors: delete [1500, 6500] over ~1000-row range files
    LogTable.deleteRange(spark, t, "k", 1500L, 6500L)
    val r = LogTable.read(spark, t)
    assert(rows(r) ==
      ((1L to 1499L) ++ (6501L to 8000L)).map(i => (i, s"v$i")).toSet)
    // covered files were dropped without rewriting: the data dir grew by
    // at most the two straddling-file rewrites (metadata-only for the rest)
    val dataFilesAfter = Files.list(Paths.get(t, "data")).count()
    assert(dataFilesAfter - dataFilesBefore <= 2,
      s"bulk delete wrote ${dataFilesAfter - dataFilesBefore} new files — not metadata-only")
    // untouched boundary files survive identically (same physical path)
    val after = r.inputFiles.toSet
    assert((entries intersect after).nonEmpty, "delete rewrote untouched files")
    // deleting an empty range is a no-op commit-wise
    val v = LogTable.version(t)
    LogTable.deleteRange(spark, t, "k", 50000L, 60000L)
    assert(LogTable.version(t) == v)
  }

  test("compact bin-packs small files, preserves rows, history, and pruning") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((0L, "seed")).toDF("k", "v"), "k")
    // a month of tiny appends: 12 single-file commits
    (1L to 12L).foreach { b =>
      LogTable.append(spark, t,
        (b * 100L until b * 100L + 50L).map(i => (i, s"v$i")).toDF("k", "v")
          .coalesce(1), "k")
    }
    val preCompactVersion = LogTable.version(t)
    val expected = rows(LogTable.read(spark, t))
    assert(LogTable.read(spark, t).inputFiles.length == 13)

    LogTable.compact(spark, t, "k", targetRows = 400L)
    val r = LogTable.read(spark, t)
    assert(rows(r) == expected, "compaction changed table contents")
    assert(r.inputFiles.length <= 3,
      s"compaction left ${r.inputFiles.length} files for ~601 rows at target 400")
    // compacted files carry disjoint key ranges: a point read opens one
    // (keys 110-115 sit far from any range-partition boundary)
    load(t).filter(col("k").between(110L, 115L)).collect()
    assert(planned == 1)
    // history intact: the pre-compaction snapshot still reads
    assert(rows(LogTable.readVersion(spark, t, preCompactVersion)) == expected)
    // idempotent: nothing small left to merge
    val v = LogTable.version(t)
    LogTable.compact(spark, t, "k", targetRows = 400L)
    assert(LogTable.version(t) == v, "re-compaction committed a no-op")
  }

  test("compact racing an upsert: neither lost, rows reflect the upsert") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((0L, "seed")).toDF("k", "v"), "k")
    (1L to 8L).foreach { b =>
      LogTable.append(spark, t,
        (b * 100L until b * 100L + 50L).map(i => (i, s"v$i")).toDF("k", "v")
          .coalesce(1), "k")
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val upserted = (100L to 120L).map(i => (i, s"up$i"))
    val threads = Seq(
      new Thread(() =>
        try LogTable.compact(spark, t, "k", targetRows = 400L)
        catch { case e: Throwable => errs.add(e) }),
      new Thread(() =>
        try LogTable.upsert(spark, t, upserted.toDF("k", "v"), "k")
        catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"compact/upsert race failed: ${errs.peek()}")
    val r = LogTable.read(spark, t)
    assert(r.count() == 401L, "race lost or duplicated rows")
    assert(rows(r.filter(col("k").between(100L, 120L))) == upserted.toSet,
      "compaction resurrected pre-upsert rows")
  }

  test("changes: pure-append range serves added files directly (no join), as inserts") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    LogTable.append(spark, t, Seq((2L, "b"), (3L, "c")).toDF("k", "v"), "k")
    LogTable.append(spark, t, Seq((4L, "d")).toDF("k", "v"), "k")
    val feed = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
    assert(!feed.queryExecution.optimizedPlan.toString.contains("Join"),
      "append-only change feed must not diff snapshots")
    val got = feed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(got == Set((2L, "b", "insert"), (3L, "c", "insert"), (4L, "d", "insert")))
    // an empty range yields an empty feed
    assert(LogTable.changes(spark, t, "k", v1, v1).isEmpty)
  }

  test("changes: upsert range diffs snapshots into insert/update/delete with correct images") {
    val t = tmpTable()
    LogTable.create(spark, t,
      Seq((1L, "keep"), (2L, "old"), (3L, "gone"), (4L, null.asInstanceOf[String]))
        .toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    // upsert: update k=2, insert k=5, fill the null at k=4
    LogTable.upsert(spark, t,
      Seq((2L, "new"), (5L, "fresh"), (4L, "filled")).toDF("k", "v"), "k")
    // delete k=3
    LogTable.deleteRange(spark, t, "k", 3L, 3L)
    val feed = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
    val got = feed.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(got == Set(
      (2L, "new", "update"),
      (4L, "filled", "update"), // NULL -> value must surface (null-safe diff)
      (5L, "fresh", "insert"),
      (3L, "gone", "delete")))
  }

  test("per-column manifest stats: the scan prunes any integral column, keeps stat-less files") {
    val t = tmpTable()
    // score correlates with k, so a range layout on k is tight in score too
    val base = (1L to 8000L).map(i => (i, s"v$i", i * 2 + 1)).toDF("k", "v", "score")
      .repartitionByRange(8, col("k"))
    LogTable.create(spark, t, base, "k")
    val all = LogTable.read(spark, t).inputFiles.length
    assert(all >= 8)
    val pruned = load(t).filter(col("score").between(1001L, 1099L))
    assert(pruned.collect().map(_.getAs[Long]("k")).toSet == (500L to 549L).toSet)
    assert(planned == 1, s"secondary-column read opened $planned of $all files")
    // a manifest written without cols stats (legacy) is conservatively scanned
    import scala.jdk.CollectionConverters._
    val vfile = Files.list(Paths.get(t, "_log")).iterator().asScala.toSeq.head
    Files.writeString(vfile,
      Files.readString(vfile).replaceAll(""","cols":\{[^}]*\}""", ""))
    val legacy = load(t).filter(col("score").between(1001L, 1099L))
    assert(legacy.collect().map(_.getAs[Long]("k")).toSet == (500L to 549L).toSet,
      "legacy manifests must still answer correctly, just without skipping")
    assert(planned == all, "stat-less files must not be pruned")
  }

  test("z-order compaction: manifest stats prune on BOTH dimensions at once") {
    val t = tmpTable()
    // a and b are independent; a k-range or hash layout is tight in neither
    val rows = (0L until 4096L).map { i =>
      val a = (i * 2654435761L) % 65536L
      val b = (i * 40503L + 7L) % 65536L
      (i, a, b)
    }
    LogTable.create(spark, t, rows.take(1).toDF("k", "a", "b"), "k")
    rows.drop(1).grouped(200).foreach { g =>
      LogTable.append(spark, t, g.toDF("k", "a", "b").coalesce(1), "k")
    }
    val before = LogTable.read(spark, t).inputFiles.length
    assert(before >= 16)
    // before compaction: every file spans nearly the full a/b space
    load(t).filter(col("a").between(0L, 8191L)).collect()
    val preA = planned
    assert(preA == before, s"unclustered layout should prune nothing, pruned to $preA")

    // 16 output files → the top FOUR z bits split the space, so a probe
    // fixing two high bits of one dimension covers 4/16 cells; sampled
    // range boundaries add at most a couple of straddlers — scanning
    // half the files is a structural bound, not a lucky one
    LogTable.compact(spark, t, "k", targetRows = 256L, zorderBy = Some(("a", "b")))
    val files = LogTable.read(spark, t).inputFiles.length
    assert(files >= 12, s"compaction left only $files files — probe needs more")
    // and the answers stay exact
    val qa = load(t).filter(col("a").between(0L, 4095L))   // 1/16 of a-space
    assert(qa.collect().map(_.getAs[Long]("k")).toSet ==
      rows.filter(r => r._2 <= 4095L).map(_._1).toSet)
    val qaFiles = planned
    val qb = load(t).filter(col("b").between(0L, 4095L))   // 1/16 of b-space
    assert(qb.collect().map(_.getAs[Long]("k")).toSet ==
      rows.filter(r => r._3 <= 4095L).map(_._1).toSet)
    val qbFiles = planned
    assert(qaFiles * 2 <= files,
      s"z-layout pruned a-dimension to $qaFiles/$files — no skipping")
    assert(qbFiles * 2 <= files,
      s"z-layout pruned b-dimension to $qbFiles/$files — no skipping")
  }

  test("schema evolution rides the manifest: added columns surface as NULLs on old files") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    // append a batch that ADDS a column
    LogTable.append(spark, t,
      Seq((3L, "c", 30)).toDF("k", "v", "score"), "k")
    val r = LogTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v", "score"),
      s"evolved read lost/misordered columns: ${r.columns.toSeq}")
    val byK = r.collect().map(x => x.getAs[Long]("k") ->
      (x.getAs[String]("v"), Option(x.getAs[Any]("score")))).toMap
    assert(byK(1L) == ("a", None) && byK(2L) == ("b", None),
      "pre-evolution rows must carry NULL for the added column")
    assert(byK(3L) == ("c", Some(30)))
    // time travel reads v1 under the schema committed AT v1
    assert(LogTable.readVersion(spark, t, v1).columns.toSeq == Seq("k", "v"))
    // upsert evolution: a batch missing `score` keeps the column; its
    // own rows carry NULL there
    LogTable.upsert(spark, t, Seq((2L, "b2")).toDF("k", "v"), "k")
    val r2 = LogTable.read(spark, t)
    assert(r2.columns.toSeq == Seq("k", "v", "score"),
      "upsert with a narrower batch must not drop table columns")
    val byK2 = r2.collect().map(x => x.getAs[Long]("k") ->
      (x.getAs[String]("v"), Option(x.getAs[Any]("score")))).toMap
    assert(byK2(2L) == ("b2", None) && byK2(3L) == ("c", Some(30)))
  }

  test("changes: append + key-DV delete window serves delta-proportionally with exact images") {
    val t = tmpTable()
    // 8 range-clustered files, 1000 keys/file — the pruning substrate
    val base = (1L to 8000L).map(i => (i, s"base$i")).toDF("k", "v")
      .repartitionByRange(8, col("k"))
    LogTable.create(spark, t, base, "k")
    val v1 = LogTable.version(t)
    // clustered retire (one file's range) + disjoint-key ingest
    LogTable.deleteKeysDV(spark, t, "k", (10L to 60L))
    LogTable.append(spark, t,
      (9001L to 9100L).map(i => (i, s"new$i")).toDF("k", "v"), "k")
    val served0 = LogTable.cdcDeltaServes.get()
    val scanned = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          scanned.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val feed = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
        val rows = feed.collect()
        // listener delivery is async; wait until the count settles
        var prev = -1L
        var spins = 0
        while (prev != scanned.get() && spins < 30) {
          prev = scanned.get(); Thread.sleep(100); spins += 1
        }
        rows
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(LogTable.cdcDeltaServes.get() == served0 + 1,
      "append + inline-key-delete window must serve via the delta path, not a snapshot diff")
    val asSet = got.map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[String]("_change_type"))).toSet
    val expected =
      (10L to 60L).map(i => (i, s"base$i", "delete")).toSet ++
        (9001L to 9100L).map(i => (i, s"new$i", "insert")).toSet
    assert(asSet == expected)
    // the scans-only-the-delta claim: the retired keys live in ONE of the
    // eight base files (~1000 rows) and the ingest added 100 — a snapshot
    // diff would read 2x 8000+. Generous 2x slack for the probe/read split.
    assert(scanned.get() > 0 && scanned.get() <= 2500,
      s"delta-path feed read ${scanned.get()} records — not delta-proportional")

    // a key retired BEFORE the window must not re-emit: its row is
    // already dead under fromV's live vectors
    val v2 = LogTable.version(t)
    LogTable.deleteKeysDV(spark, t, "k", Seq(60L, 61L)) // 60 already dead
    val feed2 = LogTable.changes(spark, t, "k", v2, LogTable.version(t))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type"))).toSet
    assert(feed2 == Set((61L, "delete")),
      s"already-dead key must not re-emit a delete, got $feed2")
  }

  test("changes: reinsert-after-delete in window falls back to the exact diff (net update)") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, s"base$i")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    LogTable.deleteKeysDV(spark, t, "k", Seq(5L, 6L))
    // k=5 comes BACK inside the window — net effect is an update, which
    // the delta path cannot prove without the key probe; it must detect
    // the collision and hand the window to the snapshot diff
    LogTable.append(spark, t, Seq((5L, "reborn")).toDF("k", "v"), "k")
    val served0 = LogTable.cdcDeltaServes.get()
    val got = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(LogTable.cdcDeltaServes.get() == served0,
      "colliding insert/delete keys must not take the delta path")
    assert(got == Set((5L, "reborn", "update"), (6L, "base6", "delete")))
  }

  test("changes replay: applying the feed to the old snapshot reconstructs the head") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 500L).map(i => (i, s"base$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), "k")
    val v1 = LogTable.version(t)
    LogTable.upsert(spark, t,
      (450L to 550L).map(i => (i, s"up$i")).toDF("k", "v"), "k")
    LogTable.deleteRange(spark, t, "k", 100L, 199L)
    LogTable.append(spark, t, Seq((9999L, "tail")).toDF("k", "v"), "k")
    val head = LogTable.version(t)

    val state = scala.collection.mutable.Map(
      LogTable.readVersion(spark, t, v1).collect()
        .map(r => r.getLong(0) -> r.getString(1)): _*)
    LogTable.changes(spark, t, "k", v1, head).collect().foreach { r =>
      val (k, v, ct) = (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"))
      ct match {
        case "insert" | "update" => state(k) = v
        case "delete" => state.remove(k)
      }
    }
    assert(state.toMap == LogTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap,
      "replaying the change feed diverged from the head snapshot")
  }

  test("truncateHistory: checkpoint keeps recent versions readable, drops old history and its files") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 1000L).map(i => (i, s"v1_$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), "k")
    (2 to 6).foreach { n =>
      LogTable.upsert(spark, t,
        (1L to 100L).map(i => (i, s"v${n}_$i")).toDF("k", "v"), "k")
    }
    assert(LogTable.version(t) == 6L)
    val headRows = rows(LogTable.read(spark, t))
    val v4Rows = rows(LogTable.readVersion(spark, t, 4L))
    val v5Rows = rows(LogTable.readVersion(spark, t, 5L))
    val dataBefore = Files.list(Paths.get(t, "data")).count()

    val (mDropped, fDropped) = LogTable.truncateHistory(t, keepLast = 2)
    assert(mDropped == 3, s"v1-v3 should drop, dropped $mDropped")
    assert(fDropped >= 1, "files referenced only by dropped history must be vacuumed")
    assert(Files.list(Paths.get(t, "data")).count() < dataBefore)

    // head and retained versions are untouched
    assert(LogTable.version(t) == 6L)
    assert(rows(LogTable.read(spark, t)) == headRows)
    assert(rows(LogTable.readVersion(spark, t, 5L)) == v5Rows)
    assert(rows(LogTable.readVersion(spark, t, 4L)) == v4Rows,
      "the checkpoint version must reproduce the pre-truncation snapshot")
    // history below the checkpoint is gone — and LOUDLY so: an audit
    // must never read "empty table" where history was dropped
    val gone = intercept[IllegalStateException](LogTable.readVersion(spark, t, 2L))
    assert(gone.getMessage.contains("truncation checkpoint"))
    val feedGone = intercept[IllegalStateException](
      LogTable.changes(spark, t, "k", 1L, 6L))
    assert(feedGone.getMessage.contains("truncation checkpoint"),
      "a change feed from dropped history must fail, not re-emit the table as inserts")

    // the log keeps working: a later writer lands v7 on top of the checkpoint
    LogTable.upsert(spark, t, Seq((1L, "after")).toDF("k", "v"), "k")
    assert(LogTable.version(t) == 7L)
    val r = LogTable.read(spark, t)
    assert(r.count() == 1000L)
    assert(r.filter(col("k") === 1L).head().getString(1) == "after")
    // truncating again with nothing below the new cut is a no-op
    assert(LogTable.truncateHistory(t, keepLast = 10) == ((0, 0)))
  }

  test("type drift fails loudly: same-name different-type batches are rejected, not coerced") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    val longV = Seq((2L, 9L)).toDF("k", "v")
    val eAppend = intercept[IllegalArgumentException](
      LogTable.append(spark, t, longV, "k"))
    assert(eAppend.getMessage.contains("type changes are not evolution"))
    val eUpsert = intercept[IllegalArgumentException](
      LogTable.upsert(spark, t, longV, "k"))
    assert(eUpsert.getMessage.contains("type changes are not evolution"))
    // table unharmed
    assert(rows(LogTable.read(spark, t)) == Set((1L, "a")))
  }

  test("merge rejects a source narrower than the table instead of nulling kept columns") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a", 10L)).toDF("k", "v", "extra"), "k")
    val e = intercept[IllegalArgumentException](
      LogTable.merge(spark, t, Seq((1L, "b")).toDF("k", "v"), "k"))
    assert(e.getMessage.contains("align first"))
    assert(LogTable.read(spark, t).collect().head.getLong(2) == 10L)
  }

  test("change feed crosses a schema evolution: old snapshot aligns with typed NULLs") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    // an upsert that BOTH evolves the schema and removes files → the
    // diff path must align the pre-evolution snapshot
    LogTable.upsert(spark, t,
      Seq((2L, "b2", 7), (3L, "c", 9)).toDF("k", "v", "w"), "k")
    val feed = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
    val got = feed.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      Option(r.getAs[Any]("w")), r.getAs[String]("_change_type"))).toSet
    assert(got == Set(
      (2L, "b2", Some(7), "update"),
      (3L, "c", Some(9), "insert")))
  }

  test("change feed crosses a RENAME: served under end-version names, a rename alone is not an update") {
    val t = tmpTable()
    LogTable.create(spark, t,
      Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "n"), "k")
    val v1 = LogTable.version(t)
    LogTable.renameColumn(spark, t, "v", "label")
    // a genuine change after the rename (written under the new name)
    LogTable.upsert(spark, t,
      Seq((2L, "b2", 7L), (3L, "c", 9L)).toDF("k", "label", "n"), "k")
    // window crossing the rename: physical identity projects the before
    // snapshot to the END names — the feed is exactly the real changes,
    // never a whole-table "update" storm from the name change
    val feed = LogTable.changes(spark, t, "k", v1, LogTable.version(t))
    val got = feed.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[String]("label"), r.getAs[Long]("n"),
      r.getAs[String]("_change_type"))).toSet
    assert(got == Set(
      (2L, "b2", 7L, "update"),
      (3L, "c", 9L, "insert")), s"got $got")
    // the KEY column renames too: the caller addresses the feed by the
    // end-version key name and the window still diffs exactly
    val v2 = LogTable.version(t)
    LogTable.renameColumn(spark, t, "k", "id")
    LogTable.deleteKeysDV(spark, t, "id", Seq(1L))
    val feed2 = LogTable.changes(spark, t, "id", v2, LogTable.version(t))
    val got2 = feed2.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String]("_change_type"))).toSet
    assert(got2 == Set((1L, "delete")), s"got $got2")
  }

  test("racing creators: exactly one wins; the loser is told, never silently doubled") {
    val t = tmpTable()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq("alpha", "beta").map { tag =>
      new Thread(() =>
        try {
          LogTable.create(spark, t,
            (1L to 200L).map(i => (i, s"$tag$i")).toDF("k", "v"), "k")
          results.add(s"$tag:won")
        } catch {
          case e: IllegalStateException if e.getMessage.contains("raced") =>
            results.add(s"$tag:lost")
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val rs = results.iterator().asScala.toSeq.sorted
    assert(rs.count(_.endsWith(":won")) == 1 && rs.count(_.endsWith(":lost")) == 1,
      s"create race outcome: $rs")
    // no duplicate keys — exactly one creator's 200 rows
    val r = LogTable.read(spark, t)
    assert(r.count() == 200L)
    assert(r.select("v").collect().map(_.getString(0).take(4)).distinct.length == 1,
      "both creators' rows went live")
  }

  test("a stats column named like a manifest field can't corrupt the parse") {
    val t = tmpTable()
    // "removes" as a column name: its cols entry would terminate the
    // adds block early and shadow the real removal list — it must be
    // excluded from stats instead
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, i * 2)).toDF("k", "removes"), "k")
    LogTable.upsert(spark, t, Seq((5L, 999L)).toDF("k", "removes"), "k")
    val r = LogTable.read(spark, t)
    assert(r.count() == 100L)
    assert(r.filter(col("k") === 5L).head().getLong(1) == 999L)
    // the manifest's real removal list survived the upsert (no stale
    // resurrection): key 5's old row is gone, and no file entry carries
    // a stats key shadowing a manifest field
    val entries = LogTable.parse(Files.readString(
      Files.list(Paths.get(t, "_log")).iterator().next())).adds
    assert(entries.forall(e => !e.cols.contains("removes")))
  }

  test("property: manifest render/parse round-trips hostile names, stats, schema, checkpoint") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[T](g: Gen[T], n: Int): Seq[T] =
      (1 to n).flatMap(i => g.apply(Gen.Parameters.default.withSize(12), Seed(i.toLong)))
    // file and stats-key names: the charset the format actually admits
    // (file names are engine UUIDs; hostile column names are excluded
    // from stats at write time — pinned by the next test). The schema
    // string below IS hostile: it exercises the escape-aware field.
    val nameGen = Gen.nonEmptyListOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('_', '.', ' ', '-'))).map(_.mkString)
    val statGen = for {
      lo <- Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)
      w <- Gen.chooseNum(0L, 1000L)
    } yield (lo, lo + w)
    val entryGen = for {
      f <- nameGen; (lo, hi) <- statGen; n <- Gen.chooseNum(0L, 1L << 40)
      cols <- Gen.mapOf(Gen.zip(nameGen, statGen))
    } yield LogTable.FileEntry(f, lo, hi, n, cols)
    val manifestGen = for {
      v <- Gen.chooseNum(1L, 1L << 30)
      adds <- Gen.listOf(entryGen)
      removes <- Gen.listOf(nameGen)
      schema <- Gen.oneOf(Gen.const(""), nameGen,
        Gen.const("""{"type":"struct","fields":[{"name":"a\"b","type":"long","nullable":true,"metadata":{}}]}"""),
        // a RENAME-mapped schema: the graft.physical metadata (and a
        // field literally named dvs) must survive the escape-aware parse
        Gen.const("""{"type":"struct","fields":[{"name":"dvs","type":"long","nullable":true,"metadata":{"graft.physical":"old_dvs"}}]}"""))
      ckpt <- Gen.oneOf(true, false)
      // deletion vectors: file name → sorted key list (render sorts;
      // generate sorted so equality is structural)
      dvs <- Gen.mapOf(Gen.zip(nameGen,
        Gen.listOf(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2))
          .map(ks => ks.distinct.sorted: Seq[Long])))
      // table properties: manifest-safe plain tokens (setProperties'
      // admitted charset) — including EMPTY values, the UNSET tombstones
      // the fold depends on round-tripping exactly
      props <- Gen.mapOf(Gen.zip(nameGen,
        Gen.oneOf(Gen.const(""), nameGen)))
      // positional-vector sidecar lists: file → sorted sidecar names
      // (render sorts; generate sorted so equality is structural),
      // including the EMPTY list edge
      dvp <- Gen.mapOf(Gen.zip(nameGen,
        Gen.listOf(nameGen).map(ss => ss.distinct.sorted: Seq[String])))
    } yield LogTable.Manifest(v, adds, removes, schema, ckpt, dvs = dvs,
      props = props, dvp = dvp)
    samples(manifestGen, 300).foreach { m =>
      val back = LogTable.parse(LogTable.render(m))
      assert(back == m, s"round-trip drift:\n  in  $m\n  out $back\n  json ${LogTable.render(m)}")
    }
  }

  test("a column whose name would break the manifest grammar is excluded from stats, not mangled") {
    val t = tmpTable()
    val df = (1L to 100L).map(i => (i, i * 3))
      .toDF("k", """weird"{na,me]""")
    LogTable.create(spark, t, df, "k")
    val entries = LogTable.parse(Files.readString(
      Files.list(Paths.get(t, "_log")).iterator().next())).adds
    assert(entries.forall(e => e.cols.keySet == Set("k")),
      s"hostile column leaked into stats: ${entries.head.cols.keySet}")
    // no stats → the scan keeps every file (conservative) and answers right
    val r = load(t).filter(col("""`weird"{na,me]`""").between(30L, 60L))
    assert(r.collect().map(_.getLong(0)).toSet == (10L to 20L).toSet)
  }

  test("typed manifest stats: timestamp, date, double, and string columns all prune files") {
    val t = tmpTable()
    // every secondary column correlates with k, so a k-range layout is
    // tight in all of them — pruning on any column should hit ~1 file
    val base = (1L to 8000L).map(i => (i, i.toDouble / 10.0, f"s$i%05d"))
      .toDF("k", "d", "s")
      .withColumn("ts", col("k").cast("timestamp"))
      .withColumn("day", date_add(lit("1970-01-01").cast("date"), col("k").cast("int")))
      .repartitionByRange(8, col("k"))
    LogTable.create(spark, t, base, "k")
    val all = LogTable.read(spark, t).inputFiles.length
    assert(all >= 8)

    val ts = load(t).filter(col("ts").between(
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1400L))),
      lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1490L)))))
    assert(ts.collect().map(_.getAs[Long]("k")).toSet == (1400L to 1490L).toSet)
    assert(planned == 1, s"timestamp window opened $planned of $all files")

    val dy = load(t).filter(col("day").between(
      to_date(lit(java.time.LocalDate.ofEpochDay(2400L).toString)),
      to_date(lit(java.time.LocalDate.ofEpochDay(2490L).toString))))
    assert(dy.collect().map(_.getAs[Long]("k")).toSet == (2400L to 2490L).toSet)
    assert(planned == 1, s"date window opened $planned of $all files")

    val dd = load(t).filter(col("d").between(350.05, 359.0))
    assert(dd.collect().map(_.getAs[Long]("k")).toSet == (3501L to 3590L).toSet)
    assert(planned == 1, s"double window opened $planned of $all files")

    // zero-padded strings order like their numbers, so the layout is
    // tight in s too
    val ss = load(t).filter(col("s").between("s04400", "s04490"))
    assert(ss.collect().map(_.getAs[Long]("k")).toSet == (4400L to 4490L).toSet)
    assert(planned == 1, s"string window opened $planned of $all files")
  }

  test("string bounds: long values truncate to a valid window, non-ASCII drops stats, both stay correct") {
    val t = tmpTable()
    val longStr = (1L to 100L).map(i => (i, f"prefix-prefix-prefix-prefix-$i%04d"))
      .toDF("k", "s")
    LogTable.create(spark, t, longStr, "k")
    val entry = LogTable.parse(Files.readString(
      Files.list(Paths.get(t, "_log")).iterator().next())).adds.head
    val (lo, hi) = entry.colsS("s")
    assert(lo.length <= 24 && hi.length <= 25,
      s"string bounds not truncated: '$lo' / '$hi'")
    assert(lo <= "prefix-prefix-prefix-prefix-0001" &&
      hi >= "prefix-prefix-prefix-prefix-0100",
      s"truncated bounds must still admit every value: ['$lo','$hi']")
    // a window inside the common prefix admits the file and answers right
    val r = load(t).filter(col("s").between(
      "prefix-prefix-prefix-prefix-0010", "prefix-prefix-prefix-prefix-0020"))
    assert(r.collect().map(_.getLong(0)).toSet == (10L to 20L).toSet)

    // non-ASCII bounds: stats are dropped (byte order vs UTF-16 order
    // diverge), the file is conservatively admitted, answers stay exact
    val t2 = tmpTable()
    LogTable.create(spark, t2,
      (1L to 50L).map(i => (i, s"é$i")).toDF("k", "s"), "k")
    val e2 = LogTable.parse(Files.readString(
      Files.list(Paths.get(t2, "_log")).iterator().next())).adds.head
    assert(!e2.colsS.contains("s"), "non-ASCII bounds must not be committed")
    assert(load(t2).filter(col("s").between("é1", "é2"))
      .collect().map(_.getLong(0)).nonEmpty)
  }

  test("added-file conflict: a racer's insert into an uncovered key range forces recompute, not duplicates") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 10L).map(i => (i, s"base$i")).toDF("k", "v"), "k")
    // the racer lands key 100 INSIDE our upsert's read-compute-commit
    // window — no existing file covers 100, so the remove-set check
    // alone would re-claim and let BOTH rows go live (the WriteSerializable
    // anomaly the added-file check closes)
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => () // fire once; the racer commits too
      LogTable.append(spark, t, Seq((100L, "racer")).toDF("k", "v"), "k")
    }
    try LogTable.upsert(spark, t, Seq((100L, "ours")).toDF("k", "v"), "k")
    finally LogTable.onCommitAttempt = () => ()
    val r = LogTable.read(spark, t)
    val k100 = r.filter(col("k") === 100L).collect()
    assert(k100.length == 1,
      s"duplicate key after added-file race: ${k100.length} rows for k=100")
    // serializable outcome = append-then-upsert: the upsert's value wins
    assert(k100.head.getString(1) == "ours")
    assert(r.count() == 11L)
  }

  test("a recompute storm fails loudly: one claim budget bounds re-claims and recomputes") {
    val t = tmpTable()
    val base = (1L to 10L).map(i => (i, s"base$i"))
    LogTable.create(spark, t, base.toDF("k", "v"), "k")
    // a racer lands a row INSIDE the upsert's key range on each of its
    // first 60 claim attempts: every lost claim is an added-file
    // conflict, so every one forces a recompute. The guard keeps the
    // racer's own commit from re-firing the hook.
    var racers = 0
    var inRacer = false
    LogTable.onCommitAttempt = () =>
      if (!inRacer && racers < 60) {
        inRacer = true
        racers += 1
        try LogTable.append(spark, t,
          Seq((100L + racers, s"racer$racers")).toDF("k", "v"), "k")
        finally inRacer = false
      }
    val e =
      try intercept[IllegalStateException] {
        LogTable.upsert(spark, t, Seq((5L, "ours"), (500L, "ours")).toDF("k", "v"), "k")
      } finally LogTable.onCommitAttempt = () => ()
    assert(e.getMessage.contains("straight races"), e.getMessage)
    assert(racers == 50, s"the upsert made $racers claim attempts, not one budget's 50")
    // the storm landed every racer and nothing of the upsert
    assert(rows(LogTable.read(spark, t)) ==
      (base ++ (1 to racers).map(i => (100L + i, s"racer$i"))).toSet)
  }

  test("every row-level verb is all-or-nothing when its commit fails") {
    val base = (1L to 100L).map(i => (i, s"base$i"))
    val batch = Seq((5L, "new5"), (150L, "new150")).toDF("k", "v")
    val verbs: Seq[(String, String => Unit)] = Seq(
      "upsert" -> (t => LogTable.upsert(spark, t, batch, "k")),
      "merge" -> (t => LogTable.merge(spark, t, batch, "k")),
      "upsertDV" -> (t => LogTable.upsertDV(spark, t, batch, "k")),
      "mergeDV" -> (t => LogTable.mergeDV(spark, t, batch, "k")),
      "deleteRange" -> (t => LogTable.deleteRange(spark, t, "k", 10L, 60L)),
      "deleteWhere" -> (t => LogTable.deleteWhere(spark, t, _ => true, col("k") < 10L)),
      "deleteWherePositional" -> (t =>
        LogTable.deleteWherePositional(spark, t, _ => true, col("k") < 10L)),
      "compact" -> (t => LogTable.compact(spark, t, "k", targetRows = 1000L)))
    verbs.foreach { case (name, verb) =>
      val t = tmpTable()
      // two small files, so compact has work to do too
      LogTable.create(spark, t, base.take(50).toDF("k", "v").coalesce(1), "k")
      LogTable.append(spark, t, base.drop(50).toDF("k", "v").coalesce(1), "k")
      val v = LogTable.version(t)
      LogTable.onCommitAttempt = () => {
        LogTable.onCommitAttempt = () => ()
        throw new java.io.IOException(s"injected commit failure in $name")
      }
      val e =
        try intercept[java.io.IOException](verb(t))
        finally LogTable.onCommitAttempt = () => ()
      assert(e.getMessage == s"injected commit failure in $name", s"$name: $e")
      assert(LogTable.version(t) == v, s"$name: a failed commit moved the version")
      assert(rows(LogTable.read(spark, t)) == base.toSet,
        s"$name: a failed commit changed what readers see")
      import scala.jdk.CollectionConverters._
      val ls = Files.list(Paths.get(t, "_log"))
      val tmps =
        try ls.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(".tmp-")).toList
        finally ls.close()
      assert(tmps.isEmpty, s"$name: a failed commit left $tmps in _log")
    }
  }

  test("append racing a DROP COLUMN never resurrects the dropped column") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 10L).map(i => (i, s"v$i", i * 2)).toDF("k", "v", "x"), "k")
    // the racer drops x INSIDE the append's claim window: pre-fix the
    // re-claim's schema union merged head{k,v} ++ ours-only{x} and
    // committed the dropped column back over files that still
    // physically carry it (and a racing RENAME would have committed two
    // logical fields over one physical name). Serial semantics:
    // drop-then-append(batch with x) refuses loudly — the physical name
    // is reserved for the table's lifetime — so the race must too.
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.dropColumns(spark, t, Seq("x"))
    }
    val e = intercept[Exception] {
      try LogTable.append(spark, t,
        Seq((11L, "v11", 22L)).toDF("k", "v", "x"), "k")
      finally LogTable.onCommitAttempt = () => ()
    }
    assert(Option(e.getMessage).exists(_.contains("x")), s"$e")
    val cols = LogTable.read(spark, t).columns.toSet
    assert(cols == Set("k", "v"), s"dropped column resurrected: $cols")
    assert(LogTable.read(spark, t).count() == 10L)
  }

  test("readVersion beyond the head refuses instead of serving invented history") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    LogTable.append(spark, t, Seq((2L, "b")).toDF("k", "v"), "k")
    val head = LogTable.version(t)
    val e = intercept[IllegalArgumentException](
      LogTable.readVersion(spark, t, head + 7).collect())
    assert(e.getMessage.contains("does not exist"), e.getMessage)
    assert(LogTable.readVersion(spark, t, head).count() == 2L)
  }

  test("ADD CONSTRAINT racing a violating data commit refuses — re-validated per CAS attempt") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, i)).toDF("k", "m"), "k")
    // the racer lands a violating file INSIDE the constraint commit's
    // claim window: its own write-time gate passes (the constraint has
    // not landed yet), so the constraint commit's re-claim must re-prove
    // the constraint over the fresh snapshot — pre-fix it validated once
    // up front and the re-claim landed the constraint over data that
    // violates it
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.append(spark, t, Seq((200L, -5L)).toDF("k", "m"), "k")
    }
    try {
      val e = intercept[IllegalArgumentException] {
        LogTable.setProperties(t, Map("constraint.m_pos" -> "m >= 0"))
      }
      assert(e.getMessage.contains("violates"), e.getMessage)
    } finally LogTable.onCommitAttempt = () => ()
    // serializable outcome = append first, constraint refused: the
    // racer's row is live and the constraint never landed
    assert(LogTable.read(spark, t).count() == 101L)
    assert(!LogTable.tableProps(t).contains("constraint.m_pos"))
    // ... and with no racer, the same constraint still refuses while the
    // violating row lives, then lands after its deletion
    intercept[IllegalArgumentException](
      LogTable.setProperties(t, Map("constraint.m_pos" -> "m >= 0")))
    LogTable.deleteWhere(spark, t, _ => true, col("m") < 0L)
    LogTable.setProperties(t, Map("constraint.m_pos" -> "m >= 0"))
    assert(LogTable.tableProps(t).get("constraint.m_pos").contains("m >= 0"))
  }

  test("merge-on-read SQL racing a vector delete: loud re-run demand, the racer's delete survives") {
    val wh = Files.createTempDirectory("graft-mrace").toString
    spark.conf.set("spark.sql.catalog.graftmrace",
      classOf[graft.sources.v2.LogCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmrace.warehouse", wh)
    spark.sql("CREATE NAMESPACE graftmrace.etl")
    spark.sql("CREATE TABLE graftmrace.etl.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('keyCol'='k')")
    spark.sql("INSERT INTO graftmrace.etl.t " +
      "SELECT id, concat('v', id) FROM range(1, 2001)")
    val path = s"$wh/etl/t"
    spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
    // the racer vector-deletes one of the statement's matched keys
    // INSIDE its read-compute-commit window: the delta's decisions
    // (k=5 gets an updated image) predate the racer's kill — landing
    // them would RESURRECT the deleted row. The read-set rule must
    // force a loud re-run instead.
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.deleteKeysDV(spark, path, "k", Seq(5L))
    }
    val e =
      try intercept[Exception] {
        spark.sql("UPDATE graftmrace.etl.t SET v = 'upd' WHERE k IN (5, 1500)")
      } finally {
        LogTable.onCommitAttempt = () => ()
        spark.conf.unset("spark.graft.rowLevel.mode")
      }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("re-run"), s"expected the loud re-run demand, got: $msgs")
    // the racer's delete survived; the failed statement applied NOTHING
    assert(spark.sql("SELECT count(*) FROM graftmrace.etl.t WHERE k = 5")
      .head().getLong(0) == 0L, "the merge-on-read race resurrected a deleted row")
    assert(spark.sql("SELECT v FROM graftmrace.etl.t WHERE k = 1500")
      .head().getString(0) == "v1500", "a failed statement half-applied")
    // the demanded re-run then succeeds and serializes after the racer
    spark.conf.set("spark.graft.rowLevel.mode", "merge-on-read")
    try spark.sql("UPDATE graftmrace.etl.t SET v = 'upd' WHERE k IN (5, 1500)")
    finally spark.conf.unset("spark.graft.rowLevel.mode")
    assert(spark.sql("SELECT count(*) FROM graftmrace.etl.t WHERE k = 5")
      .head().getLong(0) == 0L, "the re-run matched a key the racer deleted")
    assert(spark.sql("SELECT v FROM graftmrace.etl.t WHERE k = 1500")
      .head().getString(0) == "upd")
  }

  test("deleteRange vs racing append into the range: the delete serializes after, rows do not survive") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 10L).map(i => (i, s"base$i")).toDF("k", "v"), "k")
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.append(spark, t, Seq((150L, "late")).toDF("k", "v"), "k")
    }
    try LogTable.deleteRange(spark, t, "k", 5L, 200L)
    finally LogTable.onCommitAttempt = () => ()
    val r = LogTable.read(spark, t)
    assert(r.filter(col("k") === 150L).isEmpty,
      "a row appended inside the deleted range survived the delete that committed after it")
    assert(rows(r) == (1L to 4L).map(i => (i, s"base$i")).toSet)
  }

  test("append to a pre-evolution table: legacy file schema is inferred, narrow batches can't hide columns") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a", 10L)).toDF("k", "v", "extra"), "k")
    // strip committed schemas → the legacy shape (manifests written
    // before schema evolution existed)
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(t, "_log")).iterator().asScala.toSeq.foreach { p =>
      val m = LogTable.parse(Files.readString(p))
      Files.writeString(p, LogTable.render(m.copy(schema = "")))
    }
    // a narrower batch must not become the committed schema as-is — the
    // legacy file's 'extra' column would vanish from every later read
    LogTable.append(spark, t, Seq((2L, "b")).toDF("k", "v"), "k")
    val r = LogTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "v", "extra"),
      s"legacy columns hidden after narrow append: ${r.columns.toSeq}")
    val byK = r.collect().map(x => x.getAs[Long]("k") ->
      (x.getAs[String]("v"), Option(x.getAs[Any]("extra")))).toMap
    assert(byK(1L) == ("a", Some(10L)) && byK(2L) == ("b", None))
    // and type drift against the INFERRED schema still fails loudly
    val t2 = tmpTable()
    LogTable.create(spark, t2, Seq((1L, "a")).toDF("k", "v"), "k")
    Files.list(Paths.get(t2, "_log")).iterator().asScala.toSeq.foreach { p =>
      val m = LogTable.parse(Files.readString(p))
      Files.writeString(p, LogTable.render(m.copy(schema = "")))
    }
    val e = intercept[IllegalArgumentException](
      LogTable.append(spark, t2, Seq((2L, 9L)).toDF("k", "v"), "k"))
    assert(e.getMessage.contains("type changes are not evolution"))
  }

  test("vacuum grace window: young unreferenced files survive (in-flight writer guard)") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    // a freshly-staged file an in-flight writer is about to reference
    Files.write(Paths.get(t, "data", "22222222-staged.parquet"), Array[Byte](1))
    assert(LogTable.vacuum(t, graceMillis = 600000L).isEmpty,
      "grace-window vacuum deleted a young file")
    assert(Files.exists(Paths.get(t, "data", "22222222-staged.parquet")))
    // without grace (single-writer maintenance) it goes
    assert(LogTable.vacuum(t) == Seq("22222222-staged.parquet"))
  }

  test("foreign TIMESTAMP_MILLIS file decodes correctly through the connector reader") {
    // the legacy-append path invites externally-written files; an INT64
    // timestamp annotated MILLIS (or NANOS) must decode by ITS unit, not
    // assumed micros (1000x off otherwise)
    val t = tmpTable()
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 10:00:00")
    LogTable.create(spark, t,
      Seq((1L, ts0)).toDF("k", "ts"), "k")
    // forge a MILLIS file the way a foreign writer would produce it
    val stage = Files.createTempDirectory("graft-millis")
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MILLIS")
    try Seq((2L, java.sql.Timestamp.valueOf("2024-03-02 10:00:00")))
      .toDF("k", "ts").coalesce(1).write.mode("overwrite").parquet(stage.toString)
    finally prev.fold(spark.conf.unset(tsKey))(spark.conf.set(tsKey, _))
    val part = Files.list(stage).iterator()
    val src = {
      import scala.jdk.CollectionConverters._
      part.asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    }
    Files.move(src, Paths.get(t, "data", "foreign.parquet"))
    // hand-commit v2 referencing the foreign file (no stats — admit-all)
    Files.writeString(Paths.get(t, "_log", "v00000002.json"),
      LogTable.render(LogTable.Manifest(2L,
        adds = Seq(LogTable.FileEntry("foreign.parquet", 2L, 2L, 1L)),
        removes = Seq.empty, keyCol = "k")))
    val got = spark.read.format("graft-log").load(t)
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toSeq
    assert(got == Seq(
      (1L, ts0), (2L, java.sql.Timestamp.valueOf("2024-03-02 10:00:00"))),
      s"foreign MILLIS decode produced $got")
  }

  test("concurrent writers: the MICROS conf override never interleaves or leaks") {
    // two threads race create+appends on separate tables through the
    // shared session; every produced file must carry INT64 micros stats
    // (an interleaved restore would write INT96 = no timestamp stats)
    // and the session conf must come back to its prior value
    val tsKey = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(tsKey, "INT96") // a worst-case prior value
    try {
      val tables = (0 until 2).map(_ => tmpTable())
      val threads = tables.map { t =>
        new Thread(() => {
          LogTable.create(spark, t,
            Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
              .toDF("k", "ts"), "k")
          for (i <- 2 to 4)
            LogTable.append(spark, t,
              Seq((i.toLong, java.sql.Timestamp.valueOf(s"2024-01-0$i 00:00:00")))
                .toDF("k", "ts"), "k")
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(spark.conf.get(tsKey) == "INT96", "conf override leaked")
      // every commit carried timestamp stats -> a ts window prunes to
      // the matching file on both tables (INT96 files would carry no
      // stats and admit everything)
      for (t <- tables) {
        load(t).filter(col("ts").between(
          lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-04T00:00:00Z")
            .minusSeconds(12 * 3600))),
          lit(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z")))))
          .collect()
        assert(planned == 1,
          s"ts window planned $planned of $seen files on $t — missing micros stats")
      }
    } finally spark.conf.unset(tsKey)
  }

  test("create on an existing table throws the typed TableAlreadyExistsException") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    intercept[TableAlreadyExistsException](
      LogTable.create(spark, t, Seq((2L, "b")).toDF("k", "v"), "k"))
    assert(rows(LogTable.read(spark, t)) == Set((1L, "a")))
  }

  test("time travel: earlier versions stay readable after upserts") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "v1a"), (2L, "v1b")).toDF("k", "v"), "k")
    val v1 = LogTable.version(t)
    LogTable.upsert(spark, t, Seq((2L, "v2b"), (3L, "v2c")).toDF("k", "v"), "k")
    assert(rows(LogTable.readVersion(spark, t, v1)) == Set((1L, "v1a"), (2L, "v1b")))
    assert(rows(LogTable.read(spark, t)) == Set((1L, "v1a"), (2L, "v2b"), (3L, "v2c")))
  }

  test("overwriteAll supersedes a racing append: the racer's file does not survive the replace-all commit") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 10L).map(i => (i, s"base$i")).toDF("k", "v"), "k")
    // the racer lands INSIDE the overwrite's read-compute-commit window;
    // replace-all semantics = the serial order append→overwrite, so the
    // racer's row must NOT survive (the full-range added-file conflict
    // forces the re-run that refreshes the remove set)
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.append(spark, t, Seq((100L, "racer")).toDF("k", "v"), "k")
    }
    try LogTable.overwriteAll(spark, t,
      Seq((1L, "new")).toDF("k", "v"), "k")
    finally LogTable.onCommitAttempt = () => ()
    assert(rows(LogTable.read(spark, t)) == Set((1L, "new")),
      "replace-all must supersede the racing append's rows")
  }

  // stage rows for commitStreamingEpoch: Spark-written parquet parts
  // moved into a fresh staging dir under the table's data root — the
  // exact layout the streaming sink's tasks produce
  private def stage(t: String, df: org.apache.spark.sql.DataFrame): (java.nio.file.Path, Set[String]) = {
    val staging = Files.createTempDirectory(Paths.get(t, "data"), ".staging-test-")
    val tmp = Files.createTempDirectory("graft-stage-src")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("out").toString)
    import scala.jdk.CollectionConverters._
    val ls = Files.list(tmp.resolve("out"))
    val parts = try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq finally ls.close()
    val names = parts.map { p =>
      Files.move(p, staging.resolve(p.getFileName))
      p.getFileName.toString
    }
    (staging, names.toSet)
  }

  test("streaming epoch commits are exactly-once: replays and zombie attempts are fenced by the txn watermark") {
    val t = tmpTable()
    LogTable.create(spark, t, (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), "k")
    assert(LogTable.lastTxnEpoch(t, "q1").isEmpty)
    // epoch 0 lands
    val (s0, f0) = stage(t, (101L to 110L).map(i => (i, s"e0-$i")).toDF("k", "v"))
    assert(LogTable.commitStreamingEpoch(spark, t, s0, f0,
      LogTable.read(spark, t).schema, "k", "q1", 0L))
    assert(LogTable.read(spark, t).count() == 110L)
    assert(LogTable.lastTxnEpoch(t, "q1").contains(0L))
    // replaying epoch 0 (restarted driver re-running an acknowledged
    // batch) commits NOTHING
    val (s0r, f0r) = stage(t, (101L to 110L).map(i => (i, s"e0-$i")).toDF("k", "v"))
    assert(!LogTable.commitStreamingEpoch(spark, t, s0r, f0r,
      LogTable.read(spark, t).schema, "k", "q1", 0L))
    assert(LogTable.read(spark, t).count() == 110L)
    // a different app's epoch 0 is independent
    val (sq2, fq2) = stage(t, (201L to 205L).map(i => (i, s"q2-$i")).toDF("k", "v"))
    assert(LogTable.commitStreamingEpoch(spark, t, sq2, fq2,
      LogTable.read(spark, t).schema, "k", "q2", 0L))
    assert(LogTable.read(spark, t).count() == 115L)
    // zombie race INSIDE the commit loop: another attempt of the SAME
    // epoch lands between our snapshot read and our claim — the in-loop
    // fence must drop ours instead of re-claiming a duplicate
    val (sz, fz) = stage(t, (301L to 305L).map(i => (i, s"z-$i")).toDF("k", "v"))
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      val (sr, fr) = stage(t, (301L to 305L).map(i => (i, s"z-$i")).toDF("k", "v"))
      assert(LogTable.commitStreamingEpoch(spark, t, sr, fr,
        LogTable.read(spark, t).schema, "k", "q1", 1L))
    }
    try LogTable.commitStreamingEpoch(spark, t, sz, fz,
      LogTable.read(spark, t).schema, "k", "q1", 1L)
    finally LogTable.onCommitAttempt = () => ()
    assert(LogTable.read(spark, t).count() == 120L,
      "zombie epoch attempt must not double-append")
    assert(LogTable.read(spark, t).filter(col("k") === 301L).count() == 1L)
    assert(LogTable.lastTxnEpoch(t, "q1").contains(1L))
    // history truncation keeps the watermark: the checkpoint carries the
    // per-app fold, so a replay after retention still fences
    LogTable.truncateHistory(t, 0)
    assert(LogTable.lastTxnEpoch(t, "q1").contains(1L))
    assert(LogTable.lastTxnEpoch(t, "q2").contains(0L))
    val (s1r, f1r) = stage(t, (301L to 305L).map(i => (i, s"z-$i")).toDF("k", "v"))
    assert(!LogTable.commitStreamingEpoch(spark, t, s1r, f1r,
      LogTable.read(spark, t).schema, "k", "q1", 1L))
    assert(LogTable.read(spark, t).count() == 120L)
    // RESTORE must not reset the watermark: rolling contents back is a
    // data operation, and un-fencing acknowledged epochs would let a
    // restarted stream double-append them onto the restored state
    val preRestoreV = LogTable.version(t)
    LogTable.restore(t, preRestoreV) // no-op restore (same content)
    assert(LogTable.version(t) == preRestoreV + 1)
    assert(LogTable.lastTxnEpoch(t, "q1").contains(1L),
      "restore must preserve streaming txn watermarks")
    val (s2r, f2r) = stage(t, (301L to 305L).map(i => (i, s"z-$i")).toDF("k", "v"))
    assert(!LogTable.commitStreamingEpoch(spark, t, s2r, f2r,
      LogTable.read(spark, t).schema, "k", "q1", 1L))
    assert(LogTable.read(spark, t).count() == 120L)
  }

  test("TIMESTAMP AS OF resolution monotonizes skewed commit clocks") {
    // ts is stamped by whichever process commits: a writer on a fast
    // clock (or an NTP step-back between commits) can record
    // ts(v2) > ts(v3). Resolution must fold max(ts, prev) over version
    // order — otherwise an instant can map to a version whose
    // PREDECESSOR claims to be in the future, and increasing instants
    // can answer non-monotone versions.
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    Thread.sleep(5)
    LogTable.upsert(spark, t, Seq((2L, "b")).toDF("k", "v"), "k")
    Thread.sleep(5)
    LogTable.upsert(spark, t, Seq((3L, "c")).toDF("k", "v"), "k")
    val v3RawTs = LogTable.history(t).find(_.version == 3L).get.commitTsMillis
    // skew v2's stamp one hour into the future, as a fast-clock writer would
    val m2 = Paths.get(t, "_log", "v00000002.json")
    val skewed = v3RawTs + 3600L * 1000L
    Files.writeString(m2,
      Files.readString(m2).replaceFirst(""""ts":\d+""", s""""ts":$skewed"""))
    // raw resolution would answer v3 at v3's own stamp while v2 "is in
    // the future" — inconsistent (a snapshot includes its predecessors).
    // Monotonized, v2 AND v3 both resolve at the skewed instant.
    assert(LogTable.versionAtTimestamp(t, v3RawTs) == 1L,
      "an instant before the monotonized clock of v2/v3 must serve v1")
    assert(LogTable.versionAtTimestamp(t, skewed) == 3L,
      "at the skewed instant the head is live (ties -> highest version)")
    // monotone: increasing instants never answer a decreasing version
    val instants = Seq(v3RawTs - 10L, v3RawTs, skewed - 1L, skewed, skewed + 10L)
      .filter(i => i >= LogTable.history(t).head.commitTsMillis)
    val answers = instants.map(LogTable.versionAtTimestamp(t, _))
    assert(answers == answers.sorted,
      s"non-monotone resolution: $instants -> $answers")
  }

  test("grace-0 vacuum never sweeps a .staging- dir (active-writer guard)") {
    // with graceMillis <= 0 the age predicate would short-circuit true
    // and delete an ACTIVELY-WRITING epoch's staging dir mid-write; the
    // sweep must skip staging dirs entirely at grace 0 and only collect
    // them once a positive grace window says they are debris
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    val staging = Paths.get(t, "data", ".staging-qLIVE-epoch-7")
    Files.createDirectories(staging)
    Files.write(staging.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    LogTable.vacuum(t) // grace 0: orphan FILES sweep, staging dirs never
    assert(Files.exists(staging.resolve("part-0.parquet")),
      "grace-0 vacuum deleted an in-flight staging part")
    Thread.sleep(30)
    LogTable.vacuum(t, graceMillis = 1L) // graced: now it is debris
    assert(!Files.exists(staging), "graced vacuum left stale staging debris")
  }

  test("a dropped column cannot sneak back in through append or upsert evolution") {
    val t = tmpTable()
    LogTable.create(spark, t,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "aux"), "k")
    LogTable.dropColumns(spark, t, Seq("aux"))
    assert(LogTable.read(spark, t).schema.fieldNames.toSeq == Seq("k", "v"))
    // the write paths run the same physical-carrier guard as addColumns:
    // a batch still carrying 'aux' would re-evolve the schema and
    // resurface the OLD values on the files that still hold the bytes
    val appendBack = intercept[IllegalArgumentException](
      LogTable.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "v", "aux"), "k"))
    assert(appendBack.getMessage.contains("compact"), appendBack.getMessage)
    val upsertBack = intercept[IllegalArgumentException](
      LogTable.upsert(spark, t, Seq((1L, "a2", 11L)).toDF("k", "v", "aux"), "k"))
    assert(upsertBack.getMessage.contains("compact"), upsertBack.getMessage)
    // compact purges the bytes; then the SAME writes evolve cleanly and
    // old rows read the promised NULL
    LogTable.compact(spark, t, "k", targetRows = 1000L)
    LogTable.append(spark, t, Seq((3L, "c", 30L)).toDF("k", "v", "aux"), "k")
    val got = LogTable.read(spark, t).orderBy("k").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((1L, -1L), (2L, -1L), (3L, 30L)),
      s"post-compact re-evolution resurfaced dropped values: $got")
  }

  test("cloneTable: zero-copy clone is a full independent table — writes, maintenance, and history never cross") {
    val src = tmpTable()
    LogTable.create(spark, src,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), "k")
    LogTable.upsert(spark, src, Seq((1L, "v1b")).toDF("k", "v"), "k")
    val dst = tmpTable()
    val (nFiles, nRows) = LogTable.cloneTable(src, dst)
    assert(nRows == 100L && nFiles >= 1)
    assert(rows(LogTable.read(spark, dst)) == rows(LogTable.read(spark, src)))
    // the clone carries the source's key property: keyed writes work
    LogTable.upsert(spark, dst, Seq((2L, "clone")).toDF("k", "v"), "k")
    assert(LogTable.read(spark, src).filter(col("k") === 2L)
      .head().getString(1) == "v2", "a clone write leaked into the source")
    // time-travel clone: the v1 snapshot, not the head
    val dstV1 = tmpTable()
    LogTable.cloneTable(src, dstV1, Some(1L))
    assert(LogTable.read(spark, dstV1).filter(col("k") === 1L)
      .head().getString(1) == "v1", "asOf clone served the head, not v1")
    // maintenance independence: rewrite EVERY source file, then truncate
    // the source's history and vacuum — the clone (sharing inodes via
    // hard links) must keep reading its own snapshot
    LogTable.upsert(spark, src,
      (1L to 100L).map(i => (i, s"w$i")).toDF("k", "v"), "k")
    LogTable.truncateHistory(src, keepLast = 0)
    LogTable.vacuum(src)
    assert(LogTable.read(spark, dst).count() == 100L,
      "source maintenance broke the clone's files")
    assert(LogTable.read(spark, dst).filter(col("k") === 2L)
      .head().getString(1) == "clone")
    // loud edges: missing source, existing target
    intercept[IllegalArgumentException](
      LogTable.cloneTable(src + "-nope", tmpTable()))
    intercept[graft.io.TableAlreadyExistsException](
      LogTable.cloneTable(src, dst))
  }

  test("racing ADD COLUMNs of one name with different types fail loudly, not silently retyped") {
    // serial execution fails the second add with cannot-re-add; the
    // commit loop's re-claim schema merge must preserve that outcome —
    // keeping the head's field and dropping the loser's type would
    // silently commit a schema the loser never wrote
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.addColumns(spark, t, Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))
    }
    val e =
      try intercept[IllegalStateException] {
        LogTable.addColumns(spark, t, Seq(
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.IntegerType)))
      } finally LogTable.onCommitAttempt = () => ()
    assert(e.getMessage.contains("schema conflict"), e.getMessage)
    // the winner's type stands; the table is not poisoned
    val schema = LogTable.read(spark, t).schema
    assert(schema("x").dataType == org.apache.spark.sql.types.LongType)
  }

  test("renameColumn: metadata-only mapping — zero rewrites; reads, writes, stats pruning, time travel all map") {
    val t = tmpTable()
    val base = (1L to 1000L).map(i => (i, s"base$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    LogTable.create(spark, t, base, "k")
    val filesBefore = LogTable.read(spark, t).inputFiles.toSet
    LogTable.renameColumn(spark, t, "v", "label")
    // the rename rewrote ZERO data files (pure manifest commit)
    assert(LogTable.read(spark, t).inputFiles.toSet == filesBefore,
      "rename must not rewrite data files")
    val r = LogTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "label"))
    assert(r.filter(col("k") === 7L).select("label").head().getString(0) == "base7")
    // time travel: the pre-rename version reads under the OLD name
    assert(LogTable.readVersion(spark, t, 1L).columns.toSeq == Seq("k", "v"))
    // post-rename upsert arrives under the NEW logical name; the data
    // file lands under the PHYSICAL name and the committed schema keeps
    // the mapping (restamp path — the next read would NULL otherwise)
    LogTable.upsert(spark, t,
      Seq((7L, "upd"), (2000L, "ins")).toDF("k", "label"), "k")
    val r2 = LogTable.read(spark, t)
    assert(r2.count() == 1001)
    assert(r2.filter(col("k") === 7L).select("label").head().getString(0) == "upd")
    assert(r2.filter(col("k") === 2000L).select("label").head().getString(0) == "ins")
    assert(r2.filter(col("k") === 9L).select("label").head().getString(0) == "base9")
    // stats-pruned read by the NEW name (manifest string bounds are
    // keyed by the physical name; admission must map)
    val w = load(t).filter(col("label").between("base100", "base199"))
    assert(w.columns.contains("label"))
    assert(w.filter(col("label") === "base150").count() == 1)
    // the old name stays reserved: every live file physically carries it
    val e = intercept[IllegalArgumentException] {
      LogTable.addColumns(spark, t, Seq(org.apache.spark.sql.types.StructField(
        "v", org.apache.spark.sql.types.StringType)))
    }
    assert(e.getMessage.contains("physically"), e.getMessage)
    // a change feed CROSSING the rename serves under the END version's
    // names (physical identity projects the before snapshot): exactly
    // the upsert's changes, never a whole-table rename-as-update storm
    val crossing = LogTable.changes(spark, t, "k", 1L, LogTable.version(t))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("label"),
        r.getAs[String]("_change_type"))).toSet
    assert(crossing == Set((7L, "upd", "update"), (2000L, "ins", "insert")),
      s"got $crossing")
    // a window entirely after the rename serves under the new name
    val ch = LogTable.changes(spark, t, "k", 2L, LogTable.version(t))
    assert(ch.columns.contains("label"))
    assert(ch.filter(col("k") === 2000L).select("_change_type")
      .head().getString(0) == "insert")
    // the DSv2 connector serves mapped tables: partitions project by
    // PHYSICAL name, the scan reports logical names upward — values,
    // filters, and time travel all agree with the LogTable API
    val viaConnector = spark.read.format("graft-log").load(t)
    assert(viaConnector.columns.toSeq == Seq("k", "label"))
    assert(viaConnector.count() == 1001)
    assert(viaConnector.filter(col("k") === 7L)
      .select("label").head().getString(0) == "upd")
    assert(viaConnector.filter(col("label") === "base9").count() == 1)
    assert(spark.read.format("graft-log").option("asOf", 1).load(t)
      .columns.toSeq == Seq("k", "v"))
    // key-range pushdown still prunes from the (physically-keyed)
    // manifest stats when filtering by the LOGICAL name
    spark.read.format("graft-log").load(t)
      .filter(col("k") === 5L).collect()
    assert(graft.sources.v2.LogTableScan.lastPlannedFiles.get() <
      graft.sources.v2.LogTableScan.lastTotalFiles.get(),
      "mapped-table scan lost manifest pruning")
    // manifest-stats aggregate pushdown answers through the mapping too
    val agg = spark.read.format("graft-log").load(t)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min(col("k")).as("mn"),
        org.apache.spark.sql.functions.max(col("k")).as("mx")).head()
    assert(agg.getLong(0) == 1001 && agg.getLong(1) == 1L && agg.getLong(2) == 2000L)
    // predicate delete on the mapped table (the SQL DELETE bridge's
    // engine path): the rewrite reads logically, lands physically
    LogTable.deleteWhere(spark, t, _ => true, col("label") === "ins")
    assert(LogTable.read(spark, t).count() == 1000)
    assert(LogTable.read(spark, t).filter(col("k") === 2000L).count() == 0)
  }

  test("renameColumn: key-column rename updates the key property; renames compose; clone keeps the mapping") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"), "k")
    LogTable.renameColumn(spark, t, "k", "id")
    assert(LogTable.tableKeyCol(t).contains("id"))
    LogTable.append(spark, t, Seq((200L, "x")).toDF("id", "v"), "id")
    assert(LogTable.read(spark, t).count() == 101)
    // second rename composes: physical stays the ORIGINAL name
    LogTable.renameColumn(spark, t, "id", "key_id")
    val r = LogTable.read(spark, t)
    assert(r.columns.toSeq == Seq("key_id", "v"))
    assert(r.filter(col("key_id") === 200L).count() == 1)
    // keyed write under the latest name: manifest minKey/maxKey pruning
    // still works (the footer stats come from the physical column)
    LogTable.upsert(spark, t, Seq((200L, "y")).toDF("key_id", "v"), "key_id")
    assert(LogTable.read(spark, t).filter(col("key_id") === 200L)
      .select("v").head().getString(0) == "y")
    assert(LogTable.read(spark, t).count() == 101)
    // a zero-copy clone carries the mapping with the schema
    val dst = tmpTable()
    LogTable.cloneTable(t, dst)
    assert(LogTable.read(spark, dst).columns.toSeq == Seq("key_id", "v"))
    assert(LogTable.read(spark, dst).filter(col("key_id") === 200L)
      .select("v").head().getString(0) == "y")
    // deletion vectors COMPOSE with the mapping: the vector keys off the
    // renamed key column's PHYSICAL identity on both the engine and the
    // connector read paths
    LogTable.deleteKeysDV(spark, t, "key_id", Seq(7L))
    assert(LogTable.read(spark, t).filter(col("key_id") === 7L).count() == 0)
    assert(LogTable.read(spark, t).count() == 100)
    assert(spark.read.format("graft-log").load(t).count() == 100)
    assert(spark.read.format("graft-log").load(t)
      .filter(col("key_id") === 7L).count() == 0)
    // renaming BACK to the physical name DISSOLVES the mapping (the
    // field's logical name equals its physical name again, so the
    // metadata becomes inert): the table returns to the unmapped fast
    // path and the mapped-table write restrictions lift with it
    LogTable.renameColumn(spark, t, "key_id", "k")
    assert(LogTable.read(spark, t).columns.toSeq == Seq("k", "v"))
    assert(LogTable.mappingOf(
      LogTable.snapshotWithSchema(t, None)._3).isEmpty,
      "rename back to the physical name must dissolve the mapping")
    assert(LogTable.tableKeyCol(t).contains("k"))
    LogTable.renameColumn(spark, t, "k", "key_id") // restore for the rest
    // loud edges: unknown source name, target collision, no-op rename
    intercept[IllegalArgumentException](
      LogTable.renameColumn(spark, t, "nope", "x"))
    intercept[IllegalArgumentException](
      LogTable.renameColumn(spark, t, "v", "key_id"))
    intercept[IllegalArgumentException](
      LogTable.renameColumn(spark, t, "v", "v"))
  }

  test("deletion vectors: a 10-key merge on a 4-file table rewrites ZERO data files; reads/travel/feed/compact all apply them") {
    val t = tmpTable()
    val base = (1L to 4000L).map(i => (i, s"base$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    LogTable.create(spark, t, base, "k")
    val before = LogTable.read(spark, t).inputFiles.toSet
    assert(before.size == 4)
    val incoming = (1L to 10L).map(i => (i * 400L, s"dv${i * 400L}"))
      .toDF("k", "v")
    LogTable.upsertDV(spark, t, incoming, "k")
    val after = LogTable.read(spark, t).inputFiles.toSet
    assert(before.subsetOf(after),
      "merge-on-read must not rewrite or drop a single existing file")
    assert((after -- before).nonEmpty, "incoming rows land as new files")
    // value-identical to the copy-on-write upsert
    val r = LogTable.read(spark, t)
    assert(r.count() == 4000)
    assert(r.filter(col("k") === 400L).select("v").head().getString(0) == "dv400")
    assert(r.filter(col("k") === 400L).count() == 1,
      "the vector-dead base row must not resurface beside its replacement")
    assert(r.filter(col("k") === 399L).select("v").head().getString(0) == "base399")
    // time travel BEFORE the vector sees the original row
    assert(LogTable.readVersion(spark, t, 1L).filter(col("k") === 400L)
      .select("v").head().getString(0) == "base400")
    // DV key delete: zero reads, zero rewrites, rows gone — including a
    // key whose live row sits in the DV-ADDED file
    val files2 = LogTable.read(spark, t).inputFiles.toSet
    LogTable.deleteKeysDV(spark, t, "k", Seq(5L, 6L, 400L))
    assert(LogTable.read(spark, t).inputFiles.toSet == files2,
      "deleteKeysDV must be metadata-only")
    val r2 = LogTable.read(spark, t)
    assert(r2.count() == 3997)
    assert(r2.filter(col("k") === 5L).count() == 0)
    assert(r2.filter(col("k") === 400L).count() == 0)
    // a change feed over a DV window must NOT take the append fast path
    // (the added files alone are not the change set)
    val ch = LogTable.changes(spark, t, "k", 1L, LogTable.version(t))
    assert(ch.filter(col("k") === 5L).select("_change_type")
      .head().getString(0) == "delete")
    assert(ch.filter(col("k") === 800L).select("_change_type")
      .head().getString(0) == "update")
    // the DSv2 connector APPLIES the vectors: each partition carries its
    // file's dead keys and the reader filters — including count(*),
    // whose footer shortcut must disable on vectored files, and the
    // stats-only aggregate pushdown, which must fall back to the scan
    val viaConnector = spark.read.format("graft-log").load(t)
    assert(viaConnector.count() == 3997,
      "DSv2 count(*) served vector-dead rows")
    assert(viaConnector.filter(col("k") === 400L).count() == 0)
    assert(viaConnector.filter(col("k") === 399L)
      .select("v").head().getString(0) == "base399")
    val aggR = viaConnector.agg(count(lit(1)), min(col("k")), max(col("k"))).head()
    assert(aggR.getLong(0) == 3997 && aggR.getLong(1) == 1L,
      "aggregate pushdown answered from stats despite live vectors")
    // time travel through the connector respects the vector fold too
    assert(spark.read.format("graft-log").option("asOf", 1).load(t)
      .count() == 4000)
    LogTable.compact(spark, t, "k", targetRows = 1000000L)
    val r3 = LogTable.read(spark, t)
    assert(r3.count() == 3997)
    assert(r3.filter(col("k") === 400L).count() == 0)
    assert(spark.read.format("graft-log").load(t).count() == 3997)
    // the small-delta budget is a loud contract, not a silent rewrite
    intercept[IllegalArgumentException] {
      LogTable.deleteKeysDV(spark, t, "k",
        (1L to (LogTable.DvMaxKeys + 1).toLong).toSeq)
    }
    // the ACCUMULATION budget too: per-commit-legal vectors that pile
    // past 4x the budget on one file refuse with the compact() hint
    val tAcc = tmpTable()
    LogTable.create(spark, tAcc,
      (1L to 50000L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    val oldCap = sys.props.get("graft.dv.maxKeys")
    sys.props("graft.dv.maxKeys") = "100"
    try {
      for (b <- 0 until 4)
        LogTable.deleteKeysDV(spark, tAcc, "k",
          (b * 100L + 1L to b * 100L + 100L).toSeq)
      // the 5th key lands in the SAME file that already accumulated 4x
      // the per-commit budget
      val e = intercept[IllegalStateException] {
        LogTable.deleteKeysDV(spark, tAcc, "k", Seq(401L))
      }
      assert(e.getMessage.contains("compact"), e.getMessage)
      LogTable.compact(spark, tAcc, "k", targetRows = 1000000L)
      LogTable.deleteKeysDV(spark, tAcc, "k", Seq(401L)) // budget restored
      assert(LogTable.read(spark, tAcc).count() == 50000L - 401L)
    } finally oldCap match {
      case Some(v) => sys.props("graft.dv.maxKeys") = v
      case None => sys.props.remove("graft.dv.maxKeys")
    }
  }

  test("mergeDV: conditional merge-on-read equals copy-on-write merge, rewrites ZERO files, revalidates its read set") {
    def mk(): String = {
      val t = tmpTable()
      LogTable.create(spark, t,
        (1L to 2000L).map(i => (i, if (i % 3 == 0) "F" else "O", s"b$i"))
          .toDF("k", "status", "v").repartitionByRange(4, col("k")), "k")
      t
    }
    val srcDf = Seq((5L, "O", "u5"), (6L, "F", "u6"), (9L, "O", "u9"),
      (3000L, "O", "i3000")).toDF("k", "status", "v")
    val cow = mk()
    LogTable.merge(spark, cow, srcDf, "k", updateWhen = Some("true"),
      deleteWhen = Some("_src_status = 'F'"), insertUnmatched = true)
    val mor = mk()
    val before = LogTable.read(spark, mor).inputFiles.toSet
    LogTable.mergeDV(spark, mor, srcDf, "k", updateWhen = Some("true"),
      deleteWhen = Some("_src_status = 'F'"), insertUnmatched = true)
    val after = LogTable.read(spark, mor).inputFiles.toSet
    assert(before.subsetOf(after),
      "conditional merge-on-read must not rewrite or drop existing files")
    assert((after -- before).nonEmpty)
    def rows3(t: String) = LogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows3(mor) == rows3(cow),
      "merge-on-read diverged from the copy-on-write merge semantics")
    val r = LogTable.read(spark, mor)
    assert(r.filter(col("k") === 6L).count() == 0)   // matched, src F → delete
    assert(r.filter(col("k") === 5L).select("v").head().getString(0) == "u5")
    assert(r.filter(col("k") === 3000L).count() == 1) // unmatched → insert
    assert(r.count() == 2000) // 2000 - 1 delete + 1 insert
    // read-set revalidation: a racer's metadata-only FULL-FILE drop of a
    // touched file (no adds, no removes conflict) must force recompute —
    // without requireLive the stale decisions would land and resurrect
    // the racer-deleted rows via the appended updates
    val t2 = mk()
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.deleteRange(spark, t2, "k", 1L, 500L) // whole first file drops
    }
    try LogTable.mergeDV(spark, t2,
      Seq((5L, "O", "upd5"), (1500L, "O", "upd1500")).toDF("k", "status", "v"),
      "k", updateWhen = Some("true"), deleteWhen = None, insertUnmatched = false)
    finally LogTable.onCommitAttempt = () => ()
    val r2 = LogTable.read(spark, t2)
    // serial order (delete; merge): k=5 is gone and must NOT resurrect
    // as an appended update; k=1500 (outside the racer's range) updates
    assert(r2.filter(col("k") === 5L).count() == 0,
      "stale mergeDV decisions resurrected a racer-deleted row")
    assert(r2.filter(col("k") === 1500L).select("v").head().getString(0) == "upd1500")
  }

  test("mergeDV: source-decidable insert-heavy merges mint no phantom dead keys") {
    // the fast path computes dead keys from the source alone — keys
    // BEYOND every file's range cannot match, and marking them would
    // accumulate one DV entry per NEW key (burning the requireDvBudget
    // cap and dragging every read's anti-join) on a pure-insert stream
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 2000L).map(i => (i, "O", s"b$i"))
        .toDF("k", "status", "v").repartitionByRange(4, col("k")), "k")
    val newKeys = (5000L to 5100L).map(i => (i, "O", s"n$i"))
      .toDF("k", "status", "v")
    LogTable.mergeDV(spark, t, newKeys, "k", updateWhen = Some("true"),
      deleteWhen = Some("_src_status = 'F'"), insertUnmatched = true)
    assert(LogTable.liveDvs(t, None).isEmpty,
      "insert-only source-decidable merge registered phantom dead keys")
    assert(LogTable.read(spark, t).count() == 2101)
  }

  test("mergeDV: in-range unmatched keys mint no phantom dead keys (interleaved inserts)") {
    // keys INSIDE existing file ranges but matching no live row are the
    // case the range filter alone cannot catch: without the membership
    // probe every interleaved new key would mint one DV entry per commit
    // (updateWhen defaults to 'true', so the source-decided fate is
    // always "dies") — accumulating until requireDvBudget's hard stop on
    // merges that change nothing. The probe restores exact key-set
    // parity with the joined path: only keys present LIVE in a touched
    // file mark.
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 2000L).filter(_ % 2 == 1).map(i => (i, "O", s"b$i"))
        .toDF("k", "status", "v").repartitionByRange(4, col("k")), "k")
    // 100 EVEN keys — inside the files' [1,1999] ranges, all unmatched —
    // plus one genuine update (k=501)
    val src = ((2L to 200L by 2).map(i => (i, "O", s"n$i")) :+
      ((501L, "O", "upd501"))).toDF("k", "status", "v")
    LogTable.mergeDV(spark, t, src, "k", updateWhen = Some("true"),
      deleteWhen = None, insertUnmatched = true)
    val dvs = LogTable.liveDvs(t, None)
    assert(dvs.valuesIterator.flatten.toSet == Set(501L),
      s"interleaved unmatched keys minted phantom DV entries: $dvs")
    assert(LogTable.read(spark, t).count() == 1100)
    assert(LogTable.read(spark, t).filter(col("k") === 501L)
      .select("v").head().getString(0) == "upd501")
    // a second interleaved batch (fresh unmatched keys + one update)
    // stays bounded the same way — the dead-KEY set grows only by the
    // genuinely matched key, never by the inserts
    val src2 = ((1002L to 1100L by 2).map(i => (i, "O", s"n$i")) :+
      ((3L, "O", "upd3"))).toDF("k", "status", "v")
    LogTable.mergeDV(spark, t, src2, "k", updateWhen = Some("true"),
      deleteWhen = None, insertUnmatched = true)
    val dvs2 = LogTable.liveDvs(t, None)
    assert(dvs2.valuesIterator.flatten.toSet == Set(501L, 3L),
      s"second interleaved merge accumulated phantom DV entries: $dvs2")
    assert(LogTable.read(spark, t).count() == 1150)
  }

  test("mergeDV: nondeterministic WHEN conditions are rejected from the fast path") {
    // pre-analysis a nondeterministic function is an UnresolvedFunction
    // whose default deterministic=true would wave it through — the guard
    // must judge the RESOLVED tree. rand() < 2.0 is always true, so the
    // merge must behave exactly like updateWhen='true' through the
    // joined path (value-level pin; the fast path's source-side replay
    // would be inconsistent across its executions for a genuinely
    // random condition)
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, "O", s"b$i"))
        .toDF("k", "status", "v").repartitionByRange(2, col("k")), "k")
    LogTable.mergeDV(spark, t,
      Seq((5L, "O", "u5"), (500L, "O", "i500")).toDF("k", "status", "v"),
      "k", updateWhen = Some("rand() < 2.0"), deleteWhen = None,
      insertUnmatched = true)
    val r = LogTable.read(spark, t)
    assert(r.count() == 101)
    assert(r.filter(col("k") === 5L).select("v").head().getString(0) == "u5")
    assert(r.filter(col("k") === 500L).count() == 1)
  }

  test("mergeDV: target-referencing conditions take the joined path and still equal copy-on-write") {
    // the r18 source-decidable fast path computes dead keys from the
    // source frame alone when every WHEN condition references only
    // `_src_` columns; a condition touching TARGET columns must keep
    // the exact joined evaluation — this pins that fallback's semantics
    // against the copy-on-write merge for a condition the fast path
    // cannot serve (it reads the target's status, not the source's)
    def mk(): String = {
      val t = tmpTable()
      LogTable.create(spark, t,
        (1L to 2000L).map(i => (i, if (i % 3 == 0) "F" else "O", s"b$i"))
          .toDF("k", "status", "v").repartitionByRange(4, col("k")), "k")
      t
    }
    val srcDf = Seq((3L, "O", "u3"), (5L, "O", "u5"), (6L, "O", "u6"),
      (3000L, "O", "i3000")).toDF("k", "status", "v")
    // delete matched rows whose TARGET image is an F row (k=3, k=6);
    // update the other matches (k=5); insert unmatched (k=3000)
    val cow = mk()
    LogTable.merge(spark, cow, srcDf, "k", updateWhen = Some("true"),
      deleteWhen = Some("status = 'F'"), insertUnmatched = true)
    val mor = mk()
    LogTable.mergeDV(spark, mor, srcDf, "k", updateWhen = Some("true"),
      deleteWhen = Some("status = 'F'"), insertUnmatched = true)
    def rows3(t: String) = LogTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows3(mor) == rows3(cow),
      "target-condition merge-on-read diverged from copy-on-write")
    val r = LogTable.read(spark, mor)
    assert(r.filter(col("k") === 3L).count() == 0,
      "matched row with target status F must delete")
    assert(r.filter(col("k") === 5L).select("v").head().getString(0) == "u5")
    assert(r.filter(col("k") === 3000L).count() == 1)
  }

  test("deletion vectors on a table whose columns shadow the reader's helper names") {
    // the anti-join's helper columns must not replace-and-drop user data
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 50L).map(i => (i, s"f$i", s"k$i")).toDF("k", "_dv_file", "_dv_key"), "k")
    LogTable.deleteKeysDV(spark, t, "k", Seq(7L))
    val r = LogTable.read(spark, t)
    assert(r.columns.toSeq == Seq("k", "_dv_file", "_dv_key"))
    assert(r.count() == 49)
    assert(r.filter(col("k") === 7L).count() == 0)
    assert(r.filter(col("k") === 8L).select("_dv_file").head().getString(0) == "f8")
    assert(r.filter(col("k") === 8L).select("_dv_key").head().getString(0) == "k8")
  }

  test("deletion vectors: clone and restore carry them; a vector racing a rewrite of its file is never lost") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    LogTable.deleteKeysDV(spark, t, "k", Seq(7L))
    val vDel = LogTable.version(t)
    // zero-copy clone: the vector rides the v1 manifest
    val dst = tmpTable()
    LogTable.cloneTable(t, dst)
    assert(LogTable.read(spark, dst).count() == 99)
    assert(LogTable.read(spark, dst).filter(col("k") === 7L).count() == 0)
    // wreck + restore: the restored snapshot's vector comes back with it
    LogTable.overwriteAll(spark, t, Seq((0L, "junk")).toDF("k", "v"), "k")
    LogTable.restore(t, vDel)
    assert(LogTable.read(spark, t).count() == 99)
    assert(LogTable.read(spark, t).filter(col("k") === 7L).count() == 0,
      "restore resurrected a vector-dead row")
    // race: a DV lands on a file an in-flight copy-on-write upsert is
    // about to remove — the rewrite must recompute (dvConflict), not
    // drop the racer's delete with the file
    val t2 = tmpTable()
    LogTable.create(spark, t2,
      (1L to 100L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.deleteKeysDV(spark, t2, "k", Seq(50L))
    }
    try LogTable.upsert(spark, t2, Seq((1L, "upd")).toDF("k", "v"), "k")
    finally LogTable.onCommitAttempt = () => ()
    val r = LogTable.read(spark, t2)
    assert(r.filter(col("k") === 1L).select("v").head().getString(0) == "upd")
    assert(r.filter(col("k") === 50L).count() == 0,
      "the racing DV delete was lost by the rewrite's re-claim")
    assert(r.count() == 99)
  }

  test("stored properties cannot alias manifest structural fields; schema parse anchors to the tail") {
    val t = tmpTable()
    LogTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"), "k")
    // every top-level manifest field name the regex parser keys on is
    // refused as a stored property — a stored 'schema' would render
    // inside the props object AHEAD of the real trailing schema field
    // and, pre-fix, alias the first-match parse (DataType.fromJson then
    // throws on the property VALUE and every read of the table dies)
    val structural = Seq("schema", "adds", "removes", "checkpoint",
      "txns", "dvs", "props", "ts", "keyCol")
    for (bad <- structural) {
      val e = intercept[IllegalArgumentException](
        LogTable.setProperties(t, Map(bad -> "x")))
      assert(e.getMessage.contains(bad), e.getMessage)
    }
    // the refusals committed nothing; the table still reads
    assert(LogTable.read(spark, t).count() == 1L)
    assert(LogTable.tableProps(t).isEmpty)
    // UNSET of a reserved name is ALLOWED — it is the remediation for a
    // legacy property stored before the ban existed, so refusing it
    // would make such a table unfixable forever. The tombstones render
    // as empty-string entries inside the props object; every structural
    // field parse must be unaffected (bracket/brace-shaped values,
    // head-anchored ts, tail-anchored schema, keyCol rendered BEFORE
    // props so first-match wins).
    LogTable.setProperties(t, Map("ok" -> "1"), unset = structural)
    assert(LogTable.read(spark, t).count() == 1L)
    assert(LogTable.tableProps(t) == Map("ok" -> "1"))
    assert(LogTable.tableKeyCol(t).contains("k"),
      "a 'keyCol' props tombstone aliased the manifest keyCol parse")
    assert(LogTable.version(t) > 0L,
      "a 'ts'/'version' props tombstone broke the manifest head parse")
    // parse self-defense for PRE-EXISTING manifests that stored one
    // before the refusal existed: render always places schema LAST, so
    // the parse anchors to the final match and the props entry cannot
    // alias it (and the props block itself round-trips the entry)
    val realSchema = """{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}}]}"""
    val m = LogTable.Manifest(1L, Seq.empty, Seq.empty, realSchema,
      props = Map("schema" -> "bogus"))
    val back = LogTable.parse(LogTable.render(m))
    assert(back.schema == realSchema,
      s"a stored 'schema' property aliased the manifest schema: ${back.schema}")
    assert(back.props == Map("schema" -> "bogus"))
  }

  test("deletion-vector verbs tolerate INT key columns (parity with the SQL delta writer)") {
    // the SQL merge-on-read delta writer's keyGet supports Int/Short
    // keys; the programmatic DV verbs must not crash on the same table
    // (pre-fix: Row.getLong on an IntegerType key threw ClassCastException)
    val t = tmpTable()
    val base = (1 to 100).map(i => (i, s"base$i")).toDF("k", "v") // k: INT
    LogTable.create(spark, t, base, "k")
    LogTable.upsertDV(spark, t,
      Seq((5, "upd5"), (101, "new101")).toDF("k", "v"), "k")
    val r1 = LogTable.read(spark, t)
    assert(r1.count() == 101L)
    assert(r1.filter(col("k") === 5).head().getString(1) == "upd5")
    LogTable.mergeDV(spark, t, Seq((6, "upd6")).toDF("k", "v"), "k")
    val r2 = LogTable.read(spark, t)
    assert(r2.filter(col("k") === 6).head().getString(1) == "upd6")
    assert(r2.count() == 101L)
  }

  test("positional deletion vectors: bulk predicate DELETE commits bitmaps, zero rewrites") {
    val t = tmpTable()
    val base = (1L to 10000L).map(i => (i, s"v$i", i % 7)).toDF("k", "v", "m")
      .repartitionByRange(4, col("k"))
    LogTable.create(spark, t, base, "k")
    val filesBefore = LogTable.read(spark, t).inputFiles.toSet
    // bulk: ~43% of the table dies — far over any key-set budget; the
    // commit is metadata + bitmap sidecars, zero data files rewritten
    LogTable.deleteWherePositional(spark, t, _ => true, col("m") < 3)
    assert(LogTable.read(spark, t).inputFiles.toSet == filesBefore,
      "a positional delete rewrote data files")
    assert(LogTable.liveDvs(t, None).isEmpty, "positional path minted key vectors")
    assert(LogTable.livePosDvs(t, None).nonEmpty)
    val expected1 = (1L to 10000L).count(_ % 7 >= 3).toLong
    val r1 = LogTable.read(spark, t)
    assert(r1.count() == expected1, s"${r1.count()} != $expected1")
    assert(r1.filter(col("m") < 3).count() == 0L)
    // composes with a KEY vector on the same files
    LogTable.deleteKeysDV(spark, t, "k", Seq(3L, 10L))
    assert(LogTable.read(spark, t).filter(col("k").isin(3L, 10L)).count() == 0L)
    // a second positional pass accumulates (bitmaps OR at read) and
    // never re-marks the already-dead (net-new exactness)
    LogTable.deleteWherePositional(spark, t, _ => true, col("m") === 3L)
    val r2 = LogTable.read(spark, t)
    assert(r2.filter(col("m") <= 3).count() == 0L)
    val expected2 = (1L to 10000L).count(i => i % 7 > 3).toLong
    assert(r2.count() == expected2)
    // time travel: the pre-delete snapshot is intact
    assert(LogTable.readVersion(spark, t, 1L).count() == 10000L)
    val vVectored = LogTable.version(t)
    // clone carries positional vectors AND their sidecars
    val dst = tmpTable()
    LogTable.cloneTable(t, dst)
    assert(LogTable.read(spark, dst).count() == expected2)
    assert(LogTable.read(spark, dst).filter(col("m") <= 3).count() == 0L)
    // compact is the vacuum: vectors purge, results identical
    LogTable.compact(spark, t, "k", targetRows = 1000000L)
    assert(LogTable.livePosDvs(t, None).isEmpty,
      "compact left positional vectors on removed files")
    assert(LogTable.read(spark, t).count() == expected2)
    // restore to the vectored version brings the vectors back with it
    LogTable.restore(t, vVectored)
    assert(LogTable.read(spark, t).count() == expected2)
    assert(LogTable.read(spark, t).filter(col("m") <= 3).count() == 0L)
    assert(LogTable.livePosDvs(t, None).nonEmpty)
    // vacuum never touches a manifest-referenced sidecar
    assert(LogTable.vacuum(t).forall(!_.endsWith(".bin")) ||
      LogTable.livePosDvs(t, None).nonEmpty)
    assert(LogTable.read(spark, t).filter(col("m") <= 3).count() == 0L)
  }

  test("cloneTableWithHistory carries positional-DV sidecars — every version reads in the clone") {
    val t = tmpTable()
    val base = (1L to 4000L).map(i => (i, i % 5)).toDF("k", "m")
      .repartitionByRange(4, col("k"))
    LogTable.create(spark, t, base, "k")
    LogTable.deleteWherePositional(spark, t, _ => true, col("m") === 0L)
    assert(LogTable.livePosDvs(t, None).nonEmpty)
    val expected = (1L to 4000L).count(_ % 5 != 0).toLong
    val vDv = LogTable.version(t)
    val dst = tmpTable()
    LogTable.cloneTableWithHistory(t, dst)
    // the latest clone version must serve with the vectors applied —
    // before the fix loadPosDv threw on the missing _dv/ sidecars
    assert(LogTable.read(spark, dst).count() == expected)
    assert(LogTable.read(spark, dst).filter(col("m") === 0L).count() == 0L)
    // full history: the pre-delete version is intact, the DV version
    // time-travels exactly like the source
    assert(LogTable.readVersion(spark, dst, 1L).count() == 4000L)
    assert(LogTable.readVersion(spark, dst, vDv).count() == expected)
  }

  test("bulk upsertDV/mergeDV stay merge-on-read via positional sidecars (no key budget)") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 5000L).map(i => (i, s"b$i")).toDF("k", "v")
        .repartitionByRange(4, col("k")), "k")
    val filesBefore = LogTable.read(spark, t).inputFiles.toSet
    val oldCap = sys.props.get("graft.dv.maxKeys")
    sys.props("graft.dv.maxKeys") = "50"
    try {
      // 3001 distinct keys >> the 50-key budget: the batch must land as
      // ONE positional commit — appends only, zero rewrites, no inline
      // key vectors (which would bust the manifest), keys never collect
      val batch = (1000L to 4000L).map(i => (i, s"u$i")).toDF("k", "v")
      LogTable.upsertDV(spark, t, batch, "k")
      assert(filesBefore.subsetOf(LogTable.read(spark, t).inputFiles.toSet),
        "bulk upsertDV rewrote base files")
      assert(LogTable.liveDvs(t, None).isEmpty,
        "bulk upsertDV minted inline key vectors past the budget")
      assert(LogTable.livePosDvs(t, None).nonEmpty)
      val s1 = LogTable.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val m1 = (1L to 5000L).map(i =>
        i -> (if (i >= 1000L && i <= 4000L) s"u$i" else s"b$i")).toMap
      assert(s1 == m1, s"bulk upsertDV semantics diverged: " +
        s"${(s1.toSet -- m1.toSet).take(3)} vs ${(m1.toSet -- s1.toSet).take(3)}")
      // bulk CONDITIONAL mergeDV: matched evens delete, matched odds
      // update, unmatched insert — 3501 affected keys, still positional
      val src2 = (2000L to 5500L).map(i => (i, s"m$i")).toDF("k", "v")
      LogTable.mergeDV(spark, t, src2, "k",
        updateWhen = Some("true"), deleteWhen = Some("_src_k % 2 = 0"),
        insertUnmatched = true)
      assert(filesBefore.subsetOf(LogTable.read(spark, t).inputFiles.toSet),
        "bulk mergeDV rewrote base files")
      assert(LogTable.liveDvs(t, None).isEmpty)
      val s2 = LogTable.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val m2 = (m1.filterNot { case (k, _) =>
          k >= 2000L && k % 2 == 0 } // matched evens died
        ++ (2000L to 5000L).filter(_ % 2 == 1).map(i => i -> s"m$i")
        ++ (5001L to 5500L).map(i => i -> s"m$i")).toMap
      assert(s2 == m2, s"bulk mergeDV semantics diverged: " +
        s"extra=${(s2.toSet -- m2.toSet).take(3)} missing=${(m2.toSet -- s2.toSet).take(3)}")
      // compact purges; semantics stand
      LogTable.compact(spark, t, "k", targetRows = 1000000L)
      assert(LogTable.livePosDvs(t, None).isEmpty)
      assert(LogTable.read(spark, t).count() == m2.size.toLong)
    } finally oldCap match {
      case Some(v) => sys.props("graft.dv.maxKeys") = v
      case None => sys.props.remove("graft.dv.maxKeys")
    }
  }

  test("upsertDV refuses a NULL key even in a BULK batch (> DvMaxKeys distinct keys)") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, s"b$i")).toDF("k", "v"), "k")
    val v0 = LogTable.version(t)
    val oldCap = sys.props.get("graft.dv.maxKeys")
    sys.props("graft.dv.maxKeys") = "10"
    try {
      // 50 distinct keys (5x the budget) + ONE NULL: the NULLS-FIRST
      // sample ordering guarantees the NULL lands inside the bounded
      // cap+1 sample, so the NOT NULL contract fires BEFORE the batch
      // overflows into the positional bulk path — an unordered sample
      // could miss it and append an un-upsertable NULL-key row
      val batch = ((1L to 50L).map(i => (Some(i): Option[Long], s"n$i")) :+
        ((None: Option[Long]) -> "oops")).toDF("k", "v")
      val e = intercept[IllegalArgumentException](
        LogTable.upsertDV(spark, t, batch, "k"))
      assert(e.getMessage.contains("NULL key"), e.getMessage)
      assert(LogTable.version(t) == v0,
        "refused batch must not commit anything (no partial positional write)")
      assert(LogTable.read(spark, t).count() == 100L)
    } finally oldCap match {
      case Some(v) => sys.props("graft.dv.maxKeys") = v
      case None => sys.props.remove("graft.dv.maxKeys")
    }
  }

  test("positional vectors compose with column mapping: rename before and after the delete") {
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 200L).map(i => (i, s"v$i", i % 5)).toDF("k", "v", "m")
        .repartitionByRange(2, col("k")), "k")
    // rename BEFORE the vectors: the position scan reads logical names
    // over physical files and the predicate resolves under the mapping
    LogTable.renameColumn(spark, t, "m", "grp")
    LogTable.deleteWherePositional(spark, t, _ => true, col("grp") === 2L)
    val r = LogTable.read(spark, t)
    assert(r.filter(col("grp") === 2L).count() == 0L)
    assert(r.count() == 160L)
    // rename AFTER the vectors: positions are physical row indices —
    // name changes cannot skew them
    LogTable.renameColumn(spark, t, "v", "val")
    val r2 = LogTable.read(spark, t)
    assert(r2.count() == 160L)
    assert(r2.filter(col("grp") === 2L).count() == 0L)
    assert(r2.filter(col("k") === 1L).head().getAs[String]("val") == "v1")
    // the DSv2 scan composes the same way
    val c = spark.read.format("graft-log").load(t)
    assert(c.count() == 160L)
    assert(c.filter(col("grp") === 2L).count() == 0L)
  }

  test("positional delete racing a rewrite of its touched files recomputes, never mis-marks") {
    // positions are per-(file, row-index): a racer REWRITING a touched
    // file between the position scan and the commit invalidates every
    // decision (the new file's row order owes nothing to the old one).
    // The commit's requireLive rule must force a recompute — landing the
    // stale bitmap would kill arbitrary rows of the racer's file.
    val t = tmpTable()
    LogTable.create(spark, t,
      (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), "k")
    LogTable.onCommitAttempt = () => {
      LogTable.onCommitAttempt = () => ()
      LogTable.upsert(spark, t, Seq((51L, "racer")).toDF("k", "v"), "k")
    }
    try LogTable.deleteWherePositional(spark, t, _ => true, col("k") % 10 === 0)
    finally LogTable.onCommitAttempt = () => ()
    val r = LogTable.read(spark, t)
    assert(r.filter(col("k") % 10 === 0).count() == 0,
      "a predicate row survived the race")
    assert(r.count() == 90L, s"expected 90 rows, got ${r.count()}")
    assert(r.filter(col("k") === 51L).head().getString(1) == "racer",
      "the stale position bitmap killed a row of the racer's rewritten file")
  }

  test("change feed across a cyclic rename window projects all columns simultaneously") {
    val t = tmpTable()
    LogTable.create(spark, t,
      Seq((1L, "vee", "dub"), (2L, "v2", "w2")).toDF("k", "v", "w"), "k")
    val v0 = LogTable.version(t)
    // cyclic swap v<->w through a temp name: the window's rename map
    // folds to {v->w, w->v} — chained withColumnRenamed would collide
    // an intermediate rename with a still-present source column and
    // corrupt the before-snapshot diff with duplicate names
    LogTable.renameColumn(spark, t, "v", "tmp")
    LogTable.renameColumn(spark, t, "w", "v")
    LogTable.renameColumn(spark, t, "tmp", "w")
    // a data change in the window forces the key-wise diff path
    LogTable.upsert(spark, t,
      Seq((1L, "dub", "VEE")).toDF("k", "v", "w"), "k")
    val head = LogTable.version(t)
    val feed = LogTable.changes(spark, t, "k", v0, head)
    assert(feed.columns.distinct.length == feed.columns.length,
      s"duplicate columns in the feed: ${feed.columns.mkString(",")}")
    val changed = feed.collect()
    // k=1: physical v-content ("vee"->"VEE" under logical w) changed;
    // the swap itself is identity-stable so k=2 must NOT appear
    assert(changed.map(_.getAs[Long]("k")).toSet == Set(1L),
      s"rename-only rows leaked into the feed: ${changed.mkString(";")}")
    val r = changed.head
    assert(r.getAs[String]("_change_type") == "update")
    assert(r.getAs[String]("v") == "dub")
    assert(r.getAs[String]("w") == "VEE")
  }
}
