package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{IcebergSink, TableSink}

/** Iceberg v2 table format (S8): metadata chain, snapshot lineage, stable
  * field ids with legal promotions, optimistic commit races, and the
  * metadata-driven reader — all validated against the PUBLIC spec's
  * structures (format-version 2, manifest ids 500-519 / 0-4 / 100-134). */
class IcebergSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    Files.createTempDirectory("iceberg").toString + "/t"

  private def hintedVersion(table: String): Int =
    new String(Files.readAllBytes(java.nio.file.Paths.get(table, "metadata",
      "version-hint.text")), "UTF-8").trim.toInt

  test("version-hint.text names the current version after every commit kind") {
    import spark.implicits._
    val table = tmpTable()
    def current = IcebergSink.load(spark, table).get.version
    IcebergSink.append(spark, table, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    assert(hintedVersion(table) == current)
    IcebergSink.upsertAtomic(spark, table, Seq((2L, 21L), (3L, 30L)).toDF("id", "v"),
      Seq("id"))
    assert(hintedVersion(table) == current)
    val beforeCompact = current
    IcebergSink.compact(spark, table)
    assert(current > beforeCompact && hintedVersion(table) == current)
    val beforeExpire = current
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000)
    assert(current > beforeExpire && hintedVersion(table) == current)
    assert(IcebergSink.read(spark, table).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 21L), (3L, 30L)))
  }

  test("load without a version hint still returns the current metadata") {
    import spark.implicits._
    val table = tmpTable()
    (1 to 3).foreach(i => IcebergSink.append(spark, table, Seq((i.toLong, i)).toDF("id", "v")))
    val hinted = IcebergSink.load(spark, table).get
    Files.delete(java.nio.file.Paths.get(table, "metadata", "version-hint.text"))
    val probed = IcebergSink.load(spark, table).get
    assert(probed.version == hinted.version && probed.version > 1)
    assert(probed.currentSnapshotId == hinted.currentSnapshotId)
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("dynamic partition overwrite: replaces touched, keeps rest, time-travels") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val filesBefore = IcebergSink.read(spark, table).inputFiles.toSet
    val preSnap = IcebergSink.load(spark, table).get.currentSnapshotId.get

    // overwrite: partition 'a' replaced by ONE smaller row, 'd' inserted;
    // 'b' and 'c' untouched
    IcebergSink.overwritePartitions(spark, table,
      Seq((9L, "a", 90L), (5L, "d", 50L)).toDF("id", "part", "v"))

    val after = IcebergSink.read(spark, table)
    assert(after.orderBy(col("id")).select("id", "part", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((3L, "b", 30L), (4L, "c", 40L), (5L, "d", 50L), (9L, "a", 90L)))

    // untouched partitions' data FILES carry through — metadata surgery,
    // never a rewrite (the 100 TB cost contract)
    val filesAfter = after.inputFiles.toSet
    val untouched = filesBefore.filter(f => filesAfter.contains(f))
    assert(untouched.nonEmpty,
      s"b/c files must survive verbatim:\nbefore=$filesBefore\nafter=$filesAfter")
    assert(filesBefore.diff(filesAfter).nonEmpty,
      "partition a's old file must vanish from the live scan")

    // the snapshot is an `overwrite` op and prior history still reads
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.last.operation == "overwrite")
    val old = IcebergSink.read(spark, table, Some(preSnap))
    assert(old.where(col("part") === "a").count() == 2,
      "time travel must see the pre-overwrite partition")

    // idempotent backfill: re-running the same overwrite changes nothing
    IcebergSink.overwritePartitions(spark, table,
      Seq((9L, "a", 90L), (5L, "d", 50L)).toDF("id", "part", "v"))
    assert(IcebergSink.read(spark, table).count() == 4)

    // an overwrite against an unpartitioned table must refuse
    val flat = tmpTable()
    IcebergSink.append(spark, flat, Seq((1L, "x")).toDF("id", "s"))
    intercept[IllegalArgumentException] {
      IcebergSink.overwritePartitions(spark, flat, Seq((2L, "y")).toDF("id", "s"))
    }
  }

  test("overwrite guards: empty frame commits nothing; spec evolution refuses rewrite") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val before = IcebergSink.load(spark, table).get
    // an empty backfill rerun must not pollute history with a no-op
    // overwrite snapshot (append's zero-row law, mirrored)
    IcebergSink.overwritePartitions(spark, table,
      Seq.empty[(Long, String, Long)].toDF("id", "part", "v"))
    val after = IcebergSink.load(spark, table).get
    assert(after.version == before.version &&
      after.currentSnapshotId == before.currentSnapshotId,
      "empty overwrite must leave version and current untouched")

    // after partition-spec evolution, old-spec manifests store tuples in
    // a different field set — matching current-spec names against them
    // reads null and would silently keep logically-replaced rows. The
    // overwrite must refuse until a compact rewrites under the new spec.
    IcebergSink.addPartitionField(spark, table, "bucket(8, id)")
    val err = intercept[IllegalStateException] {
      IcebergSink.overwritePartitions(spark, table,
        Seq((9L, "a", 90L)).toDF("id", "part", "v"))
    }
    assert(err.getMessage.contains("partition spec"))
    // compact rewrites everything under the current default spec — the
    // overwrite is legal again (tuples now compare in one field space)
    IcebergSink.compact(spark, table)
    IcebergSink.overwritePartitions(spark, table,
      Seq((9L, "a", 90L)).toDF("id", "part", "v"))
    val rows = IcebergSink.read(spark, table)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((9L, 90L)) && rows.contains((2L, 20L)),
      s"post-compact overwrite must land 9/keep b: $rows")
  }

  test("write-audit-publish: staged commits stack on the branch, publish fast-forwards") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, "prod")).toDF("id", "s"))
    val mainBefore = IcebergSink.load(spark, table).get.currentSnapshotId.get

    // two staged commits chain on the BRANCH, main never moves
    IcebergSink.append(spark, table, Seq((2L, "staged")).toDF("id", "s"),
      branch = Some("wap"))
    IcebergSink.append(spark, table, Seq((3L, "staged2")).toDF("id", "s"),
      branch = Some("wap"))
    val m = IcebergSink.load(spark, table).get
    assert(m.currentSnapshotId.contains(mainBefore),
      "staging must never move main's current")
    assert(IcebergSink.read(spark, table).count() == 1,
      "production readers must not see unaudited rows")
    assert(IcebergSink.readRef(spark, table, "wap").count() == 3,
      "the audit view must see production + both staged commits")
    // the second staged commit parents off the FIRST (branch head), not main
    val wapHead = m.refs("wap")._1
    val head = m.snapshots.find(_.snapshotId == wapHead).get
    assert(head.parentId.exists(p =>
      m.snapshots.find(_.snapshotId == p).exists(_.parentId.contains(mainBefore))),
      "branch commits must chain on the branch, not fork off main each time")

    IcebergSink.publishBranch(spark, table, "wap")
    assert(IcebergSink.read(spark, table).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // time travel to pre-publish main still works
    assert(IcebergSink.read(spark, table, Some(mainBefore)).count() == 1)
    // publishing a tag must refuse; abandoning a branch is just dropRef
    IcebergSink.setRef(spark, table, "pin", "tag")
    intercept[IllegalArgumentException] {
      IcebergSink.publishBranch(spark, table, "pin")
    }
  }

  test("append creates v2 metadata with field ids, snapshot, manifest chain") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "name", "qty"))

    val m = IcebergSink.load(spark, table).get
    assert(m.version == 1)
    assert(m.fields.map(f => (f.id, f.name, f.typ)) ==
      Seq((1, "id", "long"), (2, "name", "string"), (3, "qty", "int")))
    assert(m.lastColumnId == 3 && m.currentSchemaId == 0)
    assert(m.snapshots.length == 1 && m.currentSnapshotId.isDefined)
    val snap = m.snapshots.head
    assert(snap.parentId.isEmpty && snap.sequenceNumber == 1)
    assert(snap.addedRecords == 2)

    // raw metadata json is spec-shaped
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(table, "metadata", "v1.metadata.json")), "UTF-8")
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(n.path("format-version").asInt() == 2)
    assert(n.path("table-uuid").asText().length == 36)
    assert(n.path("partition-specs").get(0).path("spec-id").asInt() == 0)
    assert(n.path("snapshots").size() == 1)
    assert(n.path("snapshot-log").size() == 1)

    // manifest list + manifest round-trip through avro with spec field ids
    val (listMeta, listEntries) = IcebergSink.readAvro(spark, snap.manifestList)
    assert(listMeta("format-version") == "2")
    assert(listMeta("snapshot-id") == snap.snapshotId.toString)
    assert(listEntries.length == 1)
    val lm = listEntries.head
    assert(lm.get("added_rows_count").asInstanceOf[Long] == 2L)
    assert(lm.getSchema.getField("manifest_path")
      .getObjectProp("field-id").toString == "500")
    val (mMeta, mEntries) = IcebergSink.readAvro(spark,
      lm.get("manifest_path").toString)
    assert(mMeta("format-version") == "2" && mMeta("content") == "data")
    assert(mEntries.forall(_.get("status").asInstanceOf[Int] == 1))
    val dataFile = mEntries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dataFile.get("file_format").toString == "PARQUET")
    assert(dataFile.getSchema.getField("file_path")
      .getObjectProp("field-id").toString == "100")

    // version-hint points at the current version
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(
      table, "metadata", "version-hint.text")), "UTF-8").trim == "1")
  }

  test("snapshots chain; reader sees the union; stats answer without a scan") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    IcebergSink.append(spark, table, Seq((3L, 30)).toDF("id", "v"))
    val m = IcebergSink.load(spark, table).get
    assert(m.version == 2 && m.snapshots.length == 2)
    val Seq(s1, s2) = m.snapshots
    assert(s2.parentId.contains(s1.snapshotId))
    assert(s2.sequenceNumber == 2)
    val rows = IcebergSink.read(spark, table)
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1L, 10), (2L, 20), (3L, 30)))
    assert(IcebergSink.statsRecordCount(spark, table) == 3)
  }

  test("evolution: stable ids, int->long promotion, new column; old files unrewritten") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1, "a")).toDF("qty", "name"))
    val v1Files = IcebergSink.load(spark, table).get
    assert(v1Files.fields.map(f => (f.id, f.typ)) == Seq((1, "int"), (2, "string")))

    // v2: qty widens to long, extra double column appears
    IcebergSink.append(spark, table,
      Seq((5L, "b", 1.5)).toDF("qty", "name", "score"))
    val m = IcebergSink.load(spark, table).get
    assert(m.currentSchemaId == 1) // schema evolved
    assert(m.fields.map(f => (f.id, f.name, f.typ)) ==
      Seq((1, "qty", "long"), (2, "name", "string"), (3, "score", "double")))
    // both schemas retained for old-snapshot readers
    val json = new String(Files.readAllBytes(java.nio.file.Paths.get(
      table, "metadata", "v2.metadata.json")), "UTF-8")
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(n.path("schemas").size() == 2)

    // the v1 data file was NOT rewritten (Iceberg never rewrites on
    // evolution) — reader upcasts int32 in place
    val out = IcebergSink.read(spark, table).orderBy(col("qty")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 5L))
    assert(out(0).isNullAt(2) && out(1).getDouble(2) == 1.5)

    // narrowing / incompatible change rejected
    intercept[TableSink.SchemaEvolutionException] {
      IcebergSink.append(spark, table, Seq(("not-a-number", "c"))
        .toDF("qty", "name"))
    }
  }

  test("optimistic commit: racing committers both land, versions linearize") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((0L, 0)).toDF("id", "v"))
    // two committers race for v2: exactly one wins the rename, the loser
    // re-bases onto the winner's snapshot and commits v3
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { t =>
      new Thread(() => {
        try IcebergSink.append(spark, table,
          Seq((t.toLong * 10, t)).toDF("id", "v"))
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"commit race failed: ${errs.asScala.toSeq}")
    val m = IcebergSink.load(spark, table).get
    assert(m.version == 3 && m.snapshots.length == 3)
    // lineage is a chain, not a fork: each snapshot's parent is its
    // predecessor (the loser re-based)
    assert(m.snapshots(1).parentId.contains(m.snapshots(0).snapshotId))
    assert(m.snapshots(2).parentId.contains(m.snapshots(1).snapshotId))
    assert(m.snapshots.map(_.sequenceNumber) == Seq(1L, 2L, 3L))
    val got = IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(0L, 10L, 20L))
  }

  test("time travel: old snapshots read their own rows AND their own schema") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1, "a")).toDF("qty", "name"))
    val s1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.append(spark, table,
      Seq((5L, "b", 1.5)).toDF("qty", "name", "score")) // evolves: long + score
    // current view: both rows, evolved schema
    assert(IcebergSink.read(spark, table).count() == 2)
    // snapshot 1: only its row, its ORIGINAL schema (int qty, no score)
    val old = IcebergSink.read(spark, table, snapshotId = Some(s1))
    assert(old.columns.toSeq == Seq("qty", "name"))
    assert(old.schema("qty").dataType == org.apache.spark.sql.types.IntegerType)
    assert(old.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a")))
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, snapshotId = Some(-42L)).count()
    }
  }

  test("rewrite_manifests: metadata-only merge, identical reads, time travel intact") {
    import spark.implicits._
    val table = tmpTable()
    // a streaming-lane shape: many small commits → one manifest each,
    // plus an equality delete so BOTH content groups exist
    (1 to 5).foreach(i =>
      IcebergSink.append(spark, table, Seq((i.toLong, i * 10)).toDF("id", "v")))
    IcebergSink.deleteKeys(spark, table, Seq(2L).toDF("id"))
    IcebergSink.append(spark, table, Seq((2L, 99)).toDF("id", "v"))
    val before = IcebergSink.load(spark, table).get
    val preSnap = before.currentSnapshotId.get
    val listBefore = IcebergSink.readAvro(spark,
      before.snapshots.last.manifestList)._2
    assert(listBefore.length == 7, "7 commits → 7 manifests carried")
    val dataFilesBefore = IcebergSink.read(spark, table).inputFiles.toSet
    val rowsBefore = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

    IcebergSink.rewriteManifests(spark, table)
    val after = IcebergSink.load(spark, table).get
    assert(after.snapshots.last.operation == "replace")
    val listAfter = IcebergSink.readAvro(spark,
      after.snapshots.last.manifestList)._2
    // 6 data manifests merge to 1; the delete manifest stays (different
    // content group, singleton) — 2 total
    assert(listAfter.length == 2,
      s"manifest list must collapse to one per content group: ${listAfter.length}")
    // NO data or delete file rewritten — identical file set, identical rows
    assert(IcebergSink.read(spark, table).inputFiles.toSet == dataFilesBefore,
      "rewrite_manifests must never touch a data file")
    assert(IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq == rowsBefore)
    // delete scoping preserved: id=2's re-append survives, the original dies
    assert(rowsBefore.count(_._1 == 2L) == 1 &&
      rowsBefore.find(_._1 == 2L).get._2 == 99)
    // time travel across the rewrite still reads the OLD manifest list
    assert(IcebergSink.read(spark, table, Some(preSnap))
      .orderBy(col("id")).collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      == rowsBefore)
    // a second rewrite is a no-op (nothing left to merge)
    val v = IcebergSink.load(spark, table).get.version
    IcebergSink.rewriteManifests(spark, table)
    assert(IcebergSink.load(spark, table).get.version == v,
      "rewrite with nothing to merge must not commit")
    // appends after the rewrite chain on normally
    IcebergSink.append(spark, table, Seq((7L, 70)).toDF("id", "v"))
    assert(IcebergSink.read(spark, table).count() == rowsBefore.length + 1)

    // EXPIRY INTERPLAY: expiring every pre-rewrite snapshot reclaims the
    // old per-commit manifests but NOT the data files — the merged
    // manifest (reachable from the head) still references them
    val preManifests = IcebergSink.readAvro(spark,
      before.snapshots.last.manifestList)._2
      .map(_.get("manifest_path").toString).toSet
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000L, retainLast = 1)
    val hf = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration())
    val goneManifests = preManifests.count(p =>
      !hf.exists(new org.apache.hadoop.fs.Path(p)))
    assert(goneManifests > 0,
      "expiry must reclaim the superseded per-commit manifests")
    val after2 = IcebergSink.read(spark, table)
    assert(after2.count() == rowsBefore.length + 1 &&
      after2.where(col("id") === 2L).collect().head.getInt(1) == 99,
      "data files referenced only through the merged manifest must survive expiry")

    // TARGET SIZE: a group larger than targetEntries splits into
    // ceil(n/target) manifests — never one unsplittable blob at scale
    val t2 = tmpTable()
    (1 to 5).foreach(i =>
      IcebergSink.append(spark, t2, Seq((i.toLong, i)).toDF("id", "v")))
    IcebergSink.rewriteManifests(spark, t2, targetEntries = 2)
    val m2 = IcebergSink.load(spark, t2).get
    val list2 = IcebergSink.readAvro(spark, m2.snapshots.last.manifestList)._2
    assert(list2.length == 3, s"5 entries at target 2 -> 3 manifests: ${list2.length}")
    assert(IcebergSink.read(spark, t2).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      (1 to 5).map(i => (i.toLong, i)))
  }

  test("upsertIfNewer: stale drops, newer wins, equal is stale, ties refuse") {
    import spark.implicits._
    val table = tmpTable()
    // first batch creates; in-batch the max-version row per key wins
    IcebergSink.upsertIfNewer(spark, table,
      Seq((1L, "a", 5L), (2L, "b", 3L), (2L, "early", 1L)).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    def state = IcebergSink.read(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(state == Seq((1L, "a", 5L), (2L, "b", 3L)))
    // stale (4 < 5) drops, newer (7 > 3) wins, unknown key inserts
    IcebergSink.upsertIfNewer(spark, table,
      Seq((1L, "stale", 4L), (2L, "y", 7L), (3L, "z", 1L)).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    assert(state == Seq((1L, "a", 5L), (2L, "y", 7L), (3L, "z", 1L)))
    // EQUAL version is stale too (strictly greater required): replaying
    // the same change is a no-op, the idempotence a CDC landing needs
    val v0 = IcebergSink.load(spark, table).get.version
    IcebergSink.upsertIfNewer(spark, table,
      Seq((2L, "replay", 7L)).toDF("k", "s", "ver"), Seq("k"), "ver")
    assert(state == Seq((1L, "a", 5L), (2L, "y", 7L), (3L, "z", 1L)))
    assert(IcebergSink.load(spark, table).get.version == v0,
      "an all-stale batch must not commit")
    // a tie at a key's max version is ambiguous data: refuse loudly
    val e = intercept[IllegalArgumentException] {
      IcebergSink.upsertIfNewer(spark, table,
        Seq((5L, "s", 1L), (5L, "t", 1L)).toDF("k", "s", "ver"),
        Seq("k"), "ver")
    }
    assert(e.getMessage.contains("ambiguous tie"))
    // NULL versions are never newer: a null-version row inserts when its
    // key is absent, but REPLAYING it is a no-op (a matched key only
    // loses to a strictly greater NON-NULL version), and any non-null
    // version beats a stored null
    IcebergSink.upsertIfNewer(spark, table,
      Seq((6L, "nv", Option.empty[Long])).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    val v1 = IcebergSink.load(spark, table).get.version
    IcebergSink.upsertIfNewer(spark, table,
      Seq((6L, "nv-replay", Option.empty[Long])).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    assert(IcebergSink.load(spark, table).get.version == v1,
      "replaying a null-version change must not commit again")
    IcebergSink.upsertIfNewer(spark, table,
      Seq((6L, "versioned", Option(2L))).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    assert(state.contains((6L, "versioned", 2L)),
      "a non-null version must beat a stored null")
    val v2 = IcebergSink.load(spark, table).get.version
    IcebergSink.upsertIfNewer(spark, table,
      Seq((6L, "late-null", Option.empty[Long])).toDF("k", "s", "ver"),
      Seq("k"), "ver")
    assert(IcebergSink.load(spark, table).get.version == v2,
      "a null version must never replace a stored non-null one")
    // application order is invisible: replay everything oldest-first
    // onto a fresh table and land on the same state
    val t2 = tmpTable()
    Seq(1L, 3L, 4L, 5L, 7L).foreach { v =>
      IcebergSink.upsertIfNewer(spark, t2,
        Seq((1L, s"v$v", v), (2L, s"v$v", v), (3L, s"v$v", v))
          .toDF("k", "s", "ver").where(col("ver") <= v), Seq("k"), "ver")
    }
    val highest = IcebergSink.read(spark, t2).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(highest == Seq((1L, 7L), (2L, 7L), (3L, 7L)))
  }

  test("applyChanges: tombstones delete, upserts replace, one atomic row delta") {
    import spark.implicits._
    val table = tmpTable()
    // batch 1 creates: tombstones for never-seen keys are no-ops; per key
    // the max-version change wins ('2' arrives as U@1 then D@2 -> absent)
    IcebergSink.applyChanges(spark, table,
      Seq((1L, "a", 1L, "U"), (2L, "b", 1L, "U"), (2L, "x", 2L, "D"),
        (9L, "ghost", 1L, "D")).toDF("k", "s", "ver", "op"),
      Seq("k"), "ver", "op")
    def state = IcebergSink.read(spark, table).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(state == Seq((1L, "a", 1L)))
    // batch 2: ONE commit deletes key 1 AND inserts key 3 — no
    // intermediate snapshot where 1 is gone but 3 absent
    val snapsBefore = IcebergSink.load(spark, table).get.snapshots.size
    IcebergSink.applyChanges(spark, table,
      Seq((1L, "t", 3L, "D"), (3L, "c", 3L, "U")).toDF("k", "s", "ver", "op"),
      Seq("k"), "ver", "op")
    assert(IcebergSink.load(spark, table).get.snapshots.size ==
      snapsBefore + 1, "a mixed batch must land as ONE snapshot")
    assert(state == Seq((3L, "c", 3L)))
    // a pure-tombstone batch still applies
    IcebergSink.applyChanges(spark, table,
      Seq((3L, "t", 4L, "D")).toDF("k", "s", "ver", "op"),
      Seq("k"), "ver", "op")
    assert(state.isEmpty)
    // a key deleted earlier can re-insert later (feed order wins)
    IcebergSink.applyChanges(spark, table,
      Seq((3L, "back", 5L, "U")).toDF("k", "s", "ver", "op"),
      Seq("k"), "ver", "op")
    assert(state == Seq((3L, "back", 5L)))
    // ties at the max version refuse, as in upsertIfNewer
    intercept[IllegalArgumentException] {
      IcebergSink.applyChanges(spark, table,
        Seq((7L, "p", 1L, "U"), (7L, "q", 1L, "D")).toDF("k", "s", "ver", "op"),
        Seq("k"), "ver", "op")
    }
  }

  test("remove_dangling_deletes: drops inapplicable delete files, keeps live ones") {
    import spark.implicits._
    val table = tmpTable()
    // partitioned corpus, a takedown delete, a partition-wise backfill
    // (the 100 TB compaction shape — per-partition overwrite, never a
    // whole-table rewrite), then a SECOND delete that still applies
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10), (2L, "a", 20), (3L, "b", 30), (4L, "b", 40))
        .toDF("id", "pt", "v"), partitionBy = Seq("pt")) // data seq 1
    IcebergSink.deleteKeys(spark, table, Seq(1L).toDF("id")) // delete d1 @ seq 2

    // nothing dangles yet (live data at seq 1 < d1's seq 2): no-op commit
    val v0 = IcebergSink.load(spark, table).get.version
    IcebergSink.removeDanglingDeletes(spark, table)
    assert(IcebergSink.load(spark, table).get.version == v0,
      "maintenance with nothing dangling must not commit")

    // backfill EVERY partition from the current view: all data now @ seq 3
    IcebergSink.overwritePartitions(spark, table, IcebergSink.read(spark, table))
    IcebergSink.deleteKeys(spark, table, Seq(3L).toDF("id")) // d2 @ seq 4: LIVE
    // merge the two delete manifests into ONE so maintenance must take
    // the PARTIAL-rewrite path (drop d1, keep d2 with its original seq)
    IcebergSink.rewriteManifests(spark, table)
    val preMaint = IcebergSink.load(spark, table).get.currentSnapshotId.get
    def delFiles = IcebergSink.metadataTable(spark, table, "files")
      .where(col("content") =!= 0).count()
    assert(delFiles == 2)
    val expect = Seq((2L, "a", 20), (4L, "b", 40))

    IcebergSink.removeDanglingDeletes(spark, table)
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.last.operation == "replace")
    assert(delFiles == 1,
      "d1 (seq 2 <= min data seq 3) must drop; d2 (seq 4) must survive")
    val out = IcebergSink.read(spark, table)
    assert(out.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq == expect)
    // the surviving delete still subtracts through ONE anti-join — and
    // its ORIGINAL seq must have been materialized through the rewrite
    // (a re-inherited seq would stop it from scoping over the backfill)
    assert("LeftAnti".r.findAllIn(
      out.queryExecution.executedPlan.toString).length == 1)

    // a second pass with nothing left dangling is a no-op
    val v1 = IcebergSink.load(spark, table).get.version
    IcebergSink.removeDanglingDeletes(spark, table)
    assert(IcebergSink.load(spark, table).get.version == v1)

    // time travel to the pre-maintenance snapshot still applies BOTH
    // delete files (prior snapshots keep their own manifest lists)
    val tt = IcebergSink.read(spark, table, Some(preMaint))
    assert(tt.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq == expect)
    assert("LeftAnti".r.findAllIn(
      tt.queryExecution.executedPlan.toString).length == 1,
      "pre-maintenance read folds its delete files into one anti-join")

    // once EVERYTHING is backfilled past d2, maintenance empties the
    // delete set entirely and the anti-join disappears from the plan
    IcebergSink.overwritePartitions(spark, table, IcebergSink.read(spark, table))
    IcebergSink.removeDanglingDeletes(spark, table)
    assert(delFiles == 0)
    val clean = IcebergSink.read(spark, table)
    assert(!clean.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "no delete files -> no anti-join in the plan")
    assert(clean.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq == expect)
  }

  test("lane maintenance pair: head cleans, pre-maintenance time travel still subtracts") {
    import spark.implicits._
    val table = tmpTable()
    // the streaming upsert lane's shape: N row-delta commits, each
    // leaving one equality-delete file behind
    (1 to 4).foreach { b =>
      val batch = Seq((1L, s"v$b-1", b * 10), (b.toLong + 1, s"v$b-2", b))
        .toDF("id", "v", "ver")
      IcebergSink.upsertAtomic(spark, table, batch, Seq("id"))
    }
    def delFiles = IcebergSink.metadataTable(spark, table, "files")
      .where(col("content") =!= 0).count()
    assert(delFiles >= 3, s"the lane accrues delete files: $delFiles")
    val preMaint = IcebergSink.load(spark, table).get.currentSnapshotId.get
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = rows(IcebergSink.read(spark, table))

    // the compactEvery boundary, exactly as the lane runs it
    IcebergSink.compact(spark, table)
    IcebergSink.removeDanglingDeletes(spark, table)
    assert(delFiles == 0, "the maintenance pair must clean the head")
    val head = IcebergSink.read(spark, table)
    assert(!head.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "clean head plans zero delete anti-joins")
    assert(rows(head) == expect, "maintenance is invisible to results")

    // pre-maintenance time travel still APPLIES the delete files (old
    // snapshots keep their own manifest lists): same rows, via anti-join
    val tt = IcebergSink.read(spark, table, Some(preMaint))
    assert(tt.queryExecution.executedPlan.toString.contains("LeftAnti"),
      "pre-maintenance snapshot still subtracts its delete files")
    assert(rows(tt) == expect)
  }

  test("expire honors max-ref-age-ms: aged tags unpin, fresh tags keep holding") {
    import spark.implicits._
    val table = tmpTable()
    (1 to 3).foreach(i =>
      IcebergSink.append(spark, table, Seq((i.toLong, i * 10)).toDF("id", "v")))
    val snaps = IcebergSink.load(spark, table).get.snapshots
    val Seq(s1, s2, _) = snaps.map(_.snapshotId)
    // an audit pin that expires after 1 ms, and one that holds an hour
    IcebergSink.setRef(spark, table, "old-pin", snapshotId = Some(s1),
      maxRefAgeMs = Some(1L))
    IcebergSink.setRef(spark, table, "fresh-pin", snapshotId = Some(s2),
      maxRefAgeMs = Some(3600000L))
    Thread.sleep(50) // age the 1 ms pin past its override

    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000L, retainLast = 1)
    val m = IcebergSink.load(spark, table).get
    assert(!m.refs.contains("old-pin"),
      "an aged-out ref must be removed by expiration")
    assert(m.refs.contains("fresh-pin"),
      "a ref inside its max age must keep pinning")
    // the unpinned snapshot expired; the pinned one still reads
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, Some(s1)).count()
    }
    assert(IcebergSink.readRef(spark, table, "fresh-pin").count() == 2)
    assert(IcebergSink.read(spark, table).count() == 3)
    // the age override survives serialization for the surviving ref
    assert(m.refAges.get("fresh-pin").contains(3600000L) &&
      !m.refAges.contains("old-pin"))
  }

  test("compaction commits a replace snapshot; history stays time-travelable") {
    import spark.implicits._
    val table = tmpTable()
    (1 to 3).foreach(i =>
      IcebergSink.append(spark, table, Seq((i.toLong, i * 10)).toDF("id", "v")))
    val before = IcebergSink.load(spark, table).get
    assert(before.snapshots.length == 3)
    val preCompactSnap = before.currentSnapshotId.get
    // pre-compaction manifest list carries 3 manifests
    assert(IcebergSink.readAvro(spark,
      before.snapshots.last.manifestList)._2.length == 3)

    IcebergSink.compact(spark, table)
    val after = IcebergSink.load(spark, table).get
    assert(after.snapshots.length == 4)
    assert(after.snapshots.last.operation == "replace")
    // the replace snapshot's manifest list holds ONLY the rewritten manifest
    val entries = IcebergSink.readAvro(spark,
      after.snapshots.last.manifestList)._2
    assert(entries.length == 1)
    assert(entries.head.get("added_rows_count").asInstanceOf[Long] == 3L)
    // data identical through the new snapshot
    assert(IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30)))
    assert(IcebergSink.statsRecordCount(spark, table) == 3)
    // time travel to the pre-compaction snapshot still reads the old files
    assert(IcebergSink.read(spark, table,
      snapshotId = Some(preCompactSnap)).count() == 3)
  }

  test("expire-snapshots reclaims unreachable files, keeps the table readable") {
    import spark.implicits._
    val table = tmpTable()
    (1 to 3).foreach(i =>
      IcebergSink.append(spark, table, Seq((i.toLong, i * 10)).toDF("id", "v")))
    IcebergSink.compact(spark, table)
    val before = IcebergSink.load(spark, table).get
    val expiredIds = before.snapshots.dropRight(1).map(_.snapshotId)
    def parquetCount(): Long = {
      val s = Files.list(java.nio.file.Paths.get(table, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    }
    assert(parquetCount() == 4) // 3 appends + 1 compacted rewrite

    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val after = IcebergSink.load(spark, table).get
    assert(after.snapshots.map(_.snapshotId) ==
      Seq(before.currentSnapshotId.get))
    assert(after.snapshots.head.parentId.isEmpty) // lineage re-rooted
    // the three pre-compaction data files are unreachable -> deleted
    assert(parquetCount() == 1)
    // current view unchanged
    assert(IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 10), (2L, 20), (3L, 30)))
    // time travel to an expired snapshot is gone, by design
    intercept[IllegalArgumentException] {
      IcebergSink.read(spark, table, snapshotId = Some(expiredIds.head)).count()
    }
    // expiring again is a no-op
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000)
    assert(IcebergSink.load(spark, table).get.snapshots.length == 1)
  }

  test("streaming pipeline lands one snapshot per micro-batch; rerun adds none") {
    import graft.etl.Pipeline
    import graft.kafsql.SchemaCol
    import graft.kfs.{KfsCodec, KfsLayout}
    val root = Files.createTempDirectory("ice_stream").toString
    (0 until 3).foreach { seg =>
      val recs = (0 until 50).map(i => KfsCodec.Record((seg * 50 + i).toLong,
        1706000000000L + seg * 50 + i, s"k$i".getBytes,
        s"""{"n":${seg * 50 + i}}""".getBytes, Nil))
      KfsLayout.writeSegment(root, "t1", 0, recs)
    }
    val table = tmpTable()
    val ckpt = Files.createTempDirectory("ice_ck").toString
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      maxSegmentsPerTrigger = Some(1), format = Pipeline.IcebergV2)
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.length == 3) // one per micro-batch
    assert(m.snapshots.map(_.sequenceNumber) == Seq(1L, 2L, 3L))
    assert(IcebergSink.read(spark, table).count() == 150)
    assert(IcebergSink.statsRecordCount(spark, table) == 150)
    // rerun with the same checkpoint: no new snapshots, no duplicates
    Pipeline.run(spark, root, table, ckpt, Seq(SchemaCol("n", "long", "$.n")),
      maxSegmentsPerTrigger = Some(1), format = Pipeline.IcebergV2)
    val m2 = IcebergSink.load(spark, table).get
    assert(m2.snapshots.length == 3)
    assert(IcebergSink.read(spark, table).count() == 150)
  }

  test("equality delete: merge-on-read subtraction, spec-shaped delete file") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("id", "cat", "v"))
    IcebergSink.deleteWhere(spark, table, col("cat") === "a", Seq("id"))

    // merge-on-read: data files untouched, rows gone
    assert(IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.length == 2 && m.snapshots.last.operation == "delete")

    // the delete manifest is spec-shaped: list entry content=1, manifest
    // meta content=deletes, data_file content=2 with equality_ids=[1]
    val listEntries = IcebergSink.readAvro(spark,
      m.snapshots.last.manifestList)._2
    val delEntry = listEntries.find(
      _.get("content").asInstanceOf[Int] == 1).get
    val (dm, dEntries) = IcebergSink.readAvro(spark,
      delEntry.get("manifest_path").toString)
    assert(dm("content") == "deletes")
    val dFile = dEntries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dFile.get("content").asInstanceOf[Int] == 2)
    assert(dFile.get("equality_ids").asInstanceOf[java.util.List[Int]]
      .asScala.toSeq == Seq(1))
    // stats exclude delete manifests (upper bound until compaction)
    assert(IcebergSink.statsRecordCount(spark, table) == 3)
    // deleting nothing commits nothing
    IcebergSink.deleteWhere(spark, table, col("cat") === "zzz", Seq("id"))
    assert(IcebergSink.load(spark, table).get.snapshots.length == 2)
  }

  test("identity partition spec: metadata + manifests carry it, reads round-trip, pruning skips files") {
    import spark.implicits._
    val table = tmpTable()
    val rows = (1L to 40L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, rows.toDF("id", "cat", "v"),
      partitionBy = Seq("cat"))

    // metadata: spec-id 0 carries the identity field with id 1000
    val m = IcebergSink.load(spark, table).get
    assert(m.specFields.map(p => (p.fieldId, p.name)) == Seq((1000, "cat")))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "metadata", s"v${m.version}.metadata.json")), "UTF-8")
    assert(json.contains("\"transform\" : \"identity\"") ||
      json.contains("\"transform\":\"identity\""))

    // manifest entries: partition struct holds the value; data files are
    // one-partition-each and do NOT contain the partition column
    val snap = m.snapshots.head
    val entries = IcebergSink.readAvro(spark, IcebergSink.readAvro(spark,
      snap.manifestList)._2.head.get("manifest_path").toString)._2
    val parts = entries.map(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("cat").toString).toSet
    assert(parts == Set("cat0", "cat1", "cat2", "cat3"))
    val onePath = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString
    assert(!spark.read.parquet(onePath).columns.contains("cat"))

    // full read re-attaches partition columns exactly
    val back = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(back.toSeq == rows)

    // partition-scoped read plans ONLY that partition's files
    val pruned = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("cat", Some("cat2"), Some("cat2"))))
    val allFiles = IcebergSink.read(spark, table).inputFiles.length
    assert(pruned.inputFiles.length < allFiles,
      s"pruned ${pruned.inputFiles.length} vs $allFiles")
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 40L).filter(_ % 4 == 2))

    // the spec is for life: appends inherit it, restating wrong cols fails
    IcebergSink.append(spark, table, Seq((41L, "cat1", 410)).toDF("id", "cat", "v"))
    intercept[IllegalArgumentException] {
      IcebergSink.append(spark, table,
        Seq((42L, "cat1", 420)).toDF("id", "cat", "v"), partitionBy = Seq("id"))
    }
    assert(IcebergSink.read(spark, table).count() == 41)

    // row-level deletes + compaction keep working on partitioned tables;
    // compaction rewrites stay partitioned
    IcebergSink.deleteWhere(spark, table, col("id") === 41L, Seq("id"))
    IcebergSink.deleteWherePositions(spark, table, col("id") === 40L)
    assert(IcebergSink.read(spark, table).count() == 39)
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 39)
    val m2 = IcebergSink.load(spark, table).get
    assert(m2.specFields == m.specFields)
    val pruned2 = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("cat", Some("cat2"), Some("cat2"))))
    assert(pruned2.inputFiles.length <
      IcebergSink.read(spark, table).inputFiles.length)

    // incremental + changelog re-attach partition columns too
    val snaps = m2.snapshots
    val inc = IcebergSink.readIncremental(spark, table,
      snaps.head.snapshotId, Some(snaps(1).snapshotId))
    assert(inc.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((41L, "cat1")))
    val log = IcebergSink.readChangelogFrom(spark, table, None,
      Some(snaps.head.snapshotId))
    assert(log.where(col("_change_type") === "insert").count() == 40)
    assert(log.where(col("cat").isNull).count() == 0)
  }

  test("explainScan estimates planned vs pruned files from metadata only") {
    import spark.implicits._
    val table = tmpTable()
    val rows = (1L to 40L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, rows.toDF("id", "cat", "v"),
      partitionBy = Seq("cat"))
    val range = Seq(IcebergSink.ColumnRange("cat", Some("cat2"), Some("cat2")))
    val sum = IcebergSink.explainScan(spark, table, range).get
    // the estimate must agree exactly with what the scans actually plan
    assert(sum.dataFiles ==
      IcebergSink.readPruned(spark, table, range).inputFiles.length)
    assert(sum.dataFiles + sum.prunedFiles ==
      IcebergSink.read(spark, table).inputFiles.length)
    assert(sum.prunedFiles > 0 && sum.dataBytes > 0 && sum.prunedBytes > 0)
    assert(sum.dataRecords == 10) // footer-exact row counts, no data read
    assert(sum.eqDeleteFiles == 0 && sum.posDeleteFiles == 0)
    IcebergSink.deleteWhere(spark, table, col("id") === 2L, Seq("id"))
    IcebergSink.deleteWherePositions(spark, table, col("id") === 3L)
    val sum2 = IcebergSink.explainScan(spark, table).get
    assert(sum2.eqDeleteFiles == 1 && sum2.posDeleteFiles == 1)
    assert(sum2.render.contains("eqDeletes=1"))
  }

  test("snapshot refs: tags pin history against expiry, round-trip metadata, read by name") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10)).toDF("id", "v"))
    val snap1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.setRef(spark, table, "corpus-v1") // tag the training corpus
    IcebergSink.append(spark, table, Seq((2L, 20)).toDF("id", "v"))
    IcebergSink.append(spark, table, Seq((3L, 30)).toDF("id", "v"))

    val m = IcebergSink.load(spark, table).get
    assert(m.refs == Map("corpus-v1" -> (snap1, "tag")))
    assert(IcebergSink.readRef(spark, table, "corpus-v1").count() == 1)

    // aggressive expiry: the TAGGED snapshot survives (plus current),
    // untagged middle history goes
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000)
    val m2 = IcebergSink.load(spark, table).get
    assert(m2.snapshots.map(_.snapshotId).contains(snap1))
    assert(m2.snapshots.length == 2, m2.snapshots.map(_.snapshotId))
    assert(IcebergSink.readRef(spark, table, "corpus-v1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(IcebergSink.read(spark, table).count() == 3)

    // idempotent re-set is a no-op (no new metadata version)
    val vBefore = IcebergSink.load(spark, table).get.version
    IcebergSink.setRef(spark, table, "corpus-v1", snapshotId = Some(snap1))
    assert(IcebergSink.load(spark, table).get.version == vBefore)

    // dropping the tag unpins: the snapshot expires on the next pass
    IcebergSink.dropRef(spark, table, "corpus-v1")
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000)
    val m3 = IcebergSink.load(spark, table).get
    assert(!m3.snapshots.map(_.snapshotId).contains(snap1))
    assert(m3.refs.isEmpty)
    intercept[IllegalArgumentException] {
      IcebergSink.readRef(spark, table, "corpus-v1")
    }
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("removeOrphanFiles deletes only old unreferenced files, never live or fresh ones") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    IcebergSink.append(spark, table, Seq((3L, 30)).toDF("id", "v"))
    val dataDir = java.nio.file.Paths.get(table, "data")
    val metaDir = java.nio.file.Paths.get(table, "metadata")
    // crash leftovers: an unreferenced data file + a stale tmp metadata file
    val orphan = dataDir.resolve("deadbeef-00000.parquet")
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val tmpMeta = metaDir.resolve("deadbeef-1.tmp.json")
    java.nio.file.Files.write(tmpMeta, "{}".getBytes)
    // a FRESH orphan (inside the safety fence) must survive
    val fresh = dataDir.resolve("fresh-orphan.parquet")
    java.nio.file.Files.write(fresh, Array[Byte](9))
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))
    java.nio.file.Files.setLastModifiedTime(tmpMeta,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 7200000L))

    val (n, bytes) = IcebergSink.removeOrphanFiles(spark, table)
    assert(n == 2 && bytes == 5, s"deleted $n/$bytes")
    assert(!java.nio.file.Files.exists(orphan) && !java.nio.file.Files.exists(tmpMeta))
    assert(java.nio.file.Files.exists(fresh))
    // the table is fully intact: both snapshots readable, time travel too
    assert(IcebergSink.read(spark, table).count() == 3)
    val m = IcebergSink.load(spark, table).get
    assert(IcebergSink.read(spark, table,
      Some(m.snapshots.head.snapshotId)).count() == 2)
    // idempotent
    assert(IcebergSink.removeOrphanFiles(spark, table)._1 == 0)
  }

  test("bucket transform hashes match the spec's published Appendix B values") {
    // iceberg.apache.org/spec Appendix B test values: ints hash as 8-byte
    // little-endian longs, strings as UTF-8 bytes, 32-bit Murmur3 seed 0
    assert(IcebergSink.murmur3x86(java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(34L).array()) == 2017239379)
    assert(IcebergSink.murmur3x86("iceberg".getBytes("UTF-8")) == 1210000089)
    assert(IcebergSink.bucketOf("long", Long.box(34L), 16) ==
      IcebergSink.bucketOf("int", Int.box(34), 16)) // ints hash as longs
    // truncate: proper modulus (negatives round toward -inf), string prefix
    assert(IcebergSink.truncateOf("int", Int.box(-1), 10) == -10)
    assert(IcebergSink.truncateOf("long", Long.box(17L), 10) == 10L)
    assert(IcebergSink.truncateOf("string", "iceberg", 3) == "ice")
  }

  test("bucket + truncate partition specs: point lookups and ranges prune to the right files") {
    import spark.implicits._
    val table = tmpTable()
    val rows = (1L to 64L).map(i => (i, s"name$i", (i * 3).toInt))
    IcebergSink.append(spark, table, rows.toDF("id", "name", "v"),
      partitionBy = Seq("bucket(8,id)", "truncate(20,v)"))

    val m = IcebergSink.load(spark, table).get
    assert(m.specFields.map(p => (p.fieldId, p.name, p.transform)) ==
      Seq((1000, "id_bucket", "bucket[8]"), (1001, "v_trunc", "truncate[20]")))

    // files keep the SOURCE columns (only identity strips them)
    val snap = m.snapshots.head
    val entries = IcebergSink.readAvro(spark, IcebergSink.readAvro(spark,
      snap.manifestList)._2.head.get("manifest_path").toString)._2
    val d0 = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(spark.read.parquet(d0.get("file_path").toString)
      .columns.toSet == Set("id", "name", "v"))
    val p0 = d0.get("partition")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(p0.getSchema.getFields.size() == 2)

    // read round-trips exactly
    val back = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(back.toSeq == rows)

    // point lookup on the bucketed key prunes to that key's bucket
    val all = IcebergSink.read(spark, table).inputFiles.length
    val point = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(7L), Some(7L))))
    assert(point.inputFiles.length < all,
      s"bucket pruning: ${point.inputFiles.length} vs $all")
    assert(point.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))

    // range on the truncated column prunes via the covered interval
    // (v in [40, 59] lives in exactly the trunc=40 partition)
    val range = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("v", Some(41), Some(58))))
    assert(range.inputFiles.length < all,
      s"truncate pruning: ${range.inputFiles.length} vs $all")
    assert(range.select("v").collect().map(_.getInt(0)).sorted.toSeq ==
      rows.map(_._3).filter(v => v >= 41 && v <= 58).sorted)

    // a RANGE on the bucketed column cannot prune (no order) but stays
    // correct
    val idRange = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(10L), Some(12L))))
    assert(idRange.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 11L, 12L))

    // restating the same spec is fine; a different one fails
    IcebergSink.append(spark, table, Seq((65L, "name65", 195)).toDF("id", "name", "v"),
      partitionBy = Seq("bucket(8,id)", "truncate(20,v)"))
    intercept[IllegalArgumentException] {
      IcebergSink.append(spark, table,
        Seq((66L, "x", 0)).toDF("id", "name", "v"),
        partitionBy = Seq("bucket(4,id)", "truncate(20,v)"))
    }
    assert(IcebergSink.read(spark, table).count() == 65)

    // deletes + compaction compose; rewrite stays bucket-partitioned
    IcebergSink.deleteWherePositions(spark, table, col("id") === 65L)
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 64)
    val point2 = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(7L), Some(7L))))
    assert(point2.inputFiles.length <
      IcebergSink.read(spark, table).inputFiles.length)
    assert(point2.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("temporal transforms: day/month/year/hour ordinals, intervals, day-scoped pruning") {
    import spark.implicits._
    // ordinal + interval laws (spec: ordinals since 1970, floor semantics)
    val µs20240115 = java.time.LocalDate.of(2024, 1, 15).toEpochDay * 86400000000L
    assert(IcebergSink.temporalOf("day", µs20240115) ==
      java.time.LocalDate.of(2024, 1, 15).toEpochDay.toInt)
    assert(IcebergSink.temporalOf("month", µs20240115) == (2024 - 1970) * 12)
    assert(IcebergSink.temporalOf("year", µs20240115) == 54)
    assert(IcebergSink.temporalOf("hour", µs20240115 + 3600000000L * 5) ==
      (µs20240115 / 3600000000L + 5).toInt)
    assert(IcebergSink.temporalOf("day", -1L) == -1) // floors toward -inf
    val (mLo, mHi) = IcebergSink.temporalInterval("month", (2024 - 1970) * 12)
    assert(mLo == java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400000000L)
    assert(mHi == java.time.LocalDate.of(2024, 2, 1).toEpochDay * 86400000000L - 1)

    val table = tmpTable()
    val base = java.time.LocalDateTime.of(2024, 1, 10, 0, 0)
    val rows = (0 until 96).map(h => (h.toLong, base.plusHours(h), h * 2))
    IcebergSink.append(spark, table, rows.toDF("id", "ts", "v"),
      partitionBy = Seq("day(ts)"))
    val m = IcebergSink.load(spark, table).get
    assert(m.specFields.map(p => (p.name, p.transform)) == Seq(("ts_day", "day")))

    // round trip
    assert(IcebergSink.read(spark, table).count() == 96)

    // a one-day _ts window prunes to that day's files (4 days on disk)
    val dayStart = java.time.LocalDate.of(2024, 1, 11).toEpochDay * 86400000000L
    val range = Seq(IcebergSink.ColumnRange("ts",
      Some(Long.box(dayStart)), Some(Long.box(dayStart + 86400000000L - 1))))
    val sum = IcebergSink.explainScan(spark, table, range).get
    assert(sum.dataFiles < sum.dataFiles + sum.prunedFiles && sum.prunedFiles > 0,
      s"got $sum")
    assert(sum.dataRecords == 24)
    val pruned = IcebergSink.readPruned(spark, table, range)
    assert(pruned.inputFiles.length == sum.dataFiles)
    // residual exactness: ids 24..47 are the Jan-11 hours
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (24L until 48L))
  }

  test("position delete: coordinate subtraction, spec-shaped file, later appends immune") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "a", 30)).toDF("id", "cat", "v"))
    IcebergSink.deleteWherePositions(spark, table, col("cat") === "a")
    assert(IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))

    // spec shape: list entry content=1 (deletes), data_file content=1
    // (POSITION deletes), no equality_ids; rows are (file_path, pos)
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.length == 2 && m.snapshots.last.operation == "delete")
    val delEntry = IcebergSink.readAvro(spark, m.snapshots.last.manifestList)
      ._2.find(_.get("content").asInstanceOf[Int] == 1).get
    val (dm, dEntries) = IcebergSink.readAvro(spark,
      delEntry.get("manifest_path").toString)
    assert(dm("content") == "deletes")
    val dFile = dEntries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dFile.get("content").asInstanceOf[Int] == 1)
    assert(dFile.get("equality_ids") == null)
    val tuples = spark.read.parquet(dFile.get("file_path").toString)
    assert(tuples.columns.toSeq == Seq("file_path", "pos"))
    assert(tuples.count() == 2)

    // a row with the same key APPENDED AFTER the positional delete is
    // immune: the delete names coordinates in old files only (and per the
    // spec applies to data seq <= delete seq)
    IcebergSink.append(spark, table, Seq((1L, "a", 11)).toDF("id", "cat", "v"))
    assert(IcebergSink.read(spark, table).orderBy(col("id")).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 11), (2L, 20)))

    // deleting nothing commits nothing
    IcebergSink.deleteWherePositions(spark, table, col("cat") === "zzz")
    assert(IcebergSink.load(spark, table).get.snapshots.length == 3)

    // time travel to the pre-delete snapshot still sees all rows
    val firstSnap = m.snapshots.head.snapshotId
    assert(IcebergSink.read(spark, table, Some(firstSnap)).count() == 3)

    // compaction materializes: replace snapshot, no delete files, same rows
    IcebergSink.compact(spark, table)
    val m2 = IcebergSink.load(spark, table).get
    assert(m2.snapshots.last.operation == "replace")
    assert(IcebergSink.read(spark, table).orderBy(col("id")).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 11), (2L, 20)))
    assert(IcebergSink.statsRecordCount(spark, table) == 2)

    // changelog: the position-delete snapshot emits FULL pre-image rows
    val log = IcebergSink.readChangelogFrom(spark, table, None,
      Some(m.snapshots.last.snapshotId))
    val dels = log.where(col("_change_type") === "delete")
      .orderBy(col("id")).collect()
    assert(dels.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "a", 10), (3L, "a", 30)))
  }

  test("position and equality deletes compose on one table") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      (1L to 6L).map(i => (i, i * 10)).toDF("id", "v"))
    IcebergSink.deleteWherePositions(spark, table, col("id") <= 2)
    IcebergSink.deleteKeys(spark, table, Seq(5L).toDF("id"))
    assert(IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L))
    // pruned read applies both delete shapes too
    val pruned = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", lower = Some(1L), upper = Some(5L))))
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L))
  }

  test("delete scope is sequence-bounded: re-appended key survives") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    IcebergSink.deleteKeys(spark, table, Seq(1L).toDF("id"))
    // the key comes BACK after the delete: the delete file's sequence
    // number is smaller than the new data file's, so it does not apply
    IcebergSink.append(spark, table, Seq((1L, 11)).toDF("id", "v"))
    val rows = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq == Seq((1L, 11), (2L, 20)))
  }

  test("deletes: time travel sees pre-delete rows; compaction materializes") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, 10), (2L, 20), (3L, 30)).toDF("id", "v"))
    val preDelete = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.deleteKeys(spark, table, Seq(2L).toDF("id"))
    assert(IcebergSink.read(spark, table).count() == 2)
    // pre-delete snapshot still sees all three rows
    assert(IcebergSink.read(spark, table,
      snapshotId = Some(preDelete)).count() == 3)

    IcebergSink.compact(spark, table)
    // the replace snapshot holds only data manifests: the anti-join is gone
    val m = IcebergSink.load(spark, table).get
    val entries = IcebergSink.readAvro(spark,
      m.snapshots.last.manifestList)._2
    assert(entries.forall(_.get("content").asInstanceOf[Int] == 0))
    assert(IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 10), (3L, 30)))
    // stats are exact again after materialization
    assert(IcebergSink.statsRecordCount(spark, table) == 2)
    // expire reclaims the delete file along with the old data files
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val dataFiles = Files.list(java.nio.file.Paths.get(table, "data"))
    val names = try dataFiles.iterator().asScala.map(_.toString).toSeq
      finally dataFiles.close()
    assert(names.count(_.endsWith(".parquet")) == 1)
    assert(IcebergSink.read(spark, table).count() == 2)
  }

  test("equality delete matches nulls null-safely; int keys delete long cols") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
        .toDF("id", "name"))
    // delete the null-id row AND id=3, passing the keys as INT (the
    // conform step casts them onto the table's long column)
    IcebergSink.deleteKeys(spark, table,
      Seq[Option[Int]](None, Some(3)).toDF("id"))
    val rows = IcebergSink.read(spark, table)
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a")))
  }

  test("clustered append tightens file bounds so a key-scoped read skips files") {
    import spark.implicits._
    val table = tmpTable()
    // interleaved keys: an UNclustered write would give every file the
    // full [0,9] bucket range and pruning could skip nothing
    val df = spark.range(0, 1000)
      .select((org.apache.spark.sql.functions.col("id") % 10).as("bucket"),
        org.apache.spark.sql.functions.col("id"))
      .repartition(4)
    // the fixture is tiny, so AQE's size-based coalescing (the right
    // production behavior) would fold everything into one file; hold it
    // off for this append so the multi-file bounds behavior is observable
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try IcebergSink.append(spark, table, df, clusterBy = Seq("bucket"))
    finally spark.conf.set(coalesceKey, prior)
    val all = IcebergSink.read(spark, table).inputFiles.toSet
    assert(all.size > 1, "fixture must produce multiple data files")
    val pruned = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("bucket", Some(3L), Some(3L))))
    assert(pruned.inputFiles.length < all.size,
      s"clustered bounds must let a point read skip files: " +
        s"${pruned.inputFiles.length} of ${all.size} planned")
    // exactness survives the pruning
    assert(pruned.count() == 100)
    assert(pruned.select("bucket").distinct().collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("manifest column bounds drive file skipping; residual keeps exactness") {
    import spark.implicits._
    val table = tmpTable()
    // three appends with disjoint id ranges -> three data files whose
    // manifest bounds partition the key space
    IcebergSink.append(spark, table,
      (1L to 10L).map(i => (i, s"a$i")).toDF("id", "name").coalesce(1))
    IcebergSink.append(spark, table,
      (11L to 20L).map(i => (i, s"b$i")).toDF("id", "name").coalesce(1))
    IcebergSink.append(spark, table,
      (21L to 30L).map(i => (i, s"c$i")).toDF("id", "name").coalesce(1))

    // bounds are in the manifests, spec-shaped: field-id keyed, 8-byte LE
    val m = IcebergSink.load(spark, table).get
    val lists = IcebergSink.readAvro(spark, m.snapshots.head.manifestList)._2
    val (_, entries) = IcebergSink.readAvro(spark,
      lists.head.get("manifest_path").toString)
    val dFile = entries.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    val lower = dFile.get("lower_bounds").asInstanceOf[java.util.List[_]]
      .asScala.map(_.asInstanceOf[org.apache.avro.generic.GenericRecord])
      .map(r => r.get("key").asInstanceOf[Int] ->
        r.get("value").asInstanceOf[java.nio.ByteBuffer])
      .toMap
    val idLo = lower(1).duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(idLo.getLong == 1L)

    // a point/range read PLANS only the covering file — the other two are
    // never opened (inputFiles is the planned scan set)
    val pruned = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(12L), Some(15L))))
    assert(pruned.inputFiles.length == 1)
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (12L to 15L).toSeq)

    // a range spanning two files keeps both, residual trims the rows
    val span = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(8L), Some(13L))))
    assert(span.inputFiles.length == 2)
    assert(span.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (8L to 13L).toSeq)

    // string bounds prune too (short strings; long ones are omitted)
    val byName = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("name", Some("c"), None)))
    assert(byName.inputFiles.length == 1)
    assert(byName.count() == 10)
  }

  test("metadata tables: snapshots/history/manifests/files describe the commit chain") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp"),
      partitionBy = Seq("grp"))
    IcebergSink.append(spark, table, Seq((4L, "b")).toDF("id", "grp"))
    IcebergSink.deleteKeys(spark, table, Seq(2L).toDF("id"))

    val snaps = IcebergSink.metadataTable(spark, table, "snapshots")
      .orderBy("sequence_number").collect()
    assert(snaps.map(r => (r.getAs[Long]("sequence_number"),
      r.getAs[String]("operation"), r.getAs[Long]("added_records"))).toSeq ==
      Seq((1L, "append", 3L), (2L, "append", 1L), (3L, "delete", 1L)))
    // parent chain: each snapshot's parent is the previous one
    assert(snaps(0).isNullAt(snaps(0).fieldIndex("parent_id")))
    assert(snaps(1).getAs[Long]("parent_id") == snaps(0).getAs[Long]("snapshot_id"))
    assert(snaps(2).getAs[Long]("parent_id") == snaps(1).getAs[Long]("snapshot_id"))

    val hist = IcebergSink.metadataTable(spark, table, "history").collect()
    assert(hist.length == 3 && hist.forall(_.getAs[Boolean]("is_current_ancestor")))

    // files: three live data files (one per partition tuple per append)
    // with partition values, plus the equality-delete file as content 2
    val files = IcebergSink.metadataTable(spark, table, "files").collect()
    val data = files.filter(_.getAs[Int]("content") == 0)
    assert(data.map(_.getAs[Long]("record_count")).sum == 4L)
    assert(data.flatMap(_.getAs[Map[String, String]]("partition").get("grp"))
      .sorted.toSeq == Seq("a", "b", "b"))
    assert(files.count(_.getAs[Int]("content") == 2) == 1)

    val manifests = IcebergSink.metadataTable(spark, table, "manifests").collect()
    assert(manifests.map(_.getAs[Int]("content")).sorted.toSeq == Seq(0, 0, 1))
    assert(manifests.map(_.getAs[Long]("added_rows_count")).sum == 5L)

    intercept[IllegalArgumentException](
      IcebergSink.metadataTable(spark, table, "nope"))
  }

  test("z-ordered layout prunes files on both interleaved dimensions") {
    import spark.implicits._
    // 4096 rows over a (u, v) grid; both layouts commit the same 16 files
    val rows = (0 until 4096).map(i => (i % 64L, i / 64L, i.toLong))
      .toDF("u", "v", "pay")
    val zTable = tmpTable()
    IcebergSink.append(spark, zTable,
      graft.ops.ZOrder.cluster(rows, Seq("u", "v"), numFiles = 16))
    val uTable = tmpTable()
    IcebergSink.append(spark, uTable,
      rows.withColumn("z", col("u"))
        .repartitionByRange(16, col("z")).sortWithinPartitions(col("z")))
    val ranges = Seq(
      IcebergSink.ColumnRange("u", Some(2L), Some(13L)),
      IcebergSink.ColumnRange("v", Some(2L), Some(13L)))
    val zScan = IcebergSink.explainScan(spark, zTable, ranges).get
    val uScan = IcebergSink.explainScan(spark, uTable, ranges).get
    // the point of the curve: a box predicate prunes on BOTH dims, so the
    // z layout must scan strictly fewer files than the u-sorted layout
    // (which serves only its own column)
    assert(zScan.prunedFiles > 0, s"z layout pruned nothing: $zScan")
    assert(zScan.dataFiles < uScan.dataFiles,
      s"z=$zScan should beat single-dim=$uScan on a 2-dim box")
    // and both layouts return identical results
    def result(t: String) = IcebergSink.readPruned(spark, t, ranges)
      .agg(org.apache.spark.sql.functions.sum("pay")).collect()(0).getLong(0)
    assert(result(zTable) == result(uTable))
  }

  test("pruned read still applies equality deletes") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      (1L to 10L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1))
    IcebergSink.append(spark, table,
      (11L to 20L).map(i => (i, i * 10)).toDF("id", "v").coalesce(1))
    IcebergSink.deleteKeys(spark, table, Seq(3L, 15L).toDF("id"))
    val out = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(1L), Some(5L))))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 4L, 5L))
  }

  test("crashed committer's version without a hint update is still found") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 1)).toDF("id", "v"))
    IcebergSink.append(spark, table, Seq((2L, 2)).toDF("id", "v"))
    // regress the hint (as if the v2 committer died before updating it)
    Files.write(java.nio.file.Paths.get(table, "metadata", "version-hint.text"),
      "1".getBytes("UTF-8"))
    val m = IcebergSink.load(spark, table).get
    assert(m.version == 2) // forward probe past the stale hint
    assert(IcebergSink.read(spark, table).count() == 2)
  }

  test("incremental read returns exactly the rows appended after the checkpoint") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    val s1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.append(spark, table, Seq((3L, 30)).toDF("id", "v"))
    IcebergSink.append(spark, table, Seq((4L, 40), (5L, 50)).toDF("id", "v"))
    val inc = IcebergSink.readIncremental(spark, table, s1)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == Seq(3L, 4L, 5L))
    // bounded to-snapshot: only the middle append
    val mid = IcebergSink.load(spark, table).get.snapshots
      .find(_.addedRecords == 1).get.snapshotId
    assert(IcebergSink.readIncremental(spark, table, s1, Some(mid))
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // from == to -> empty, with the table's schema
    val empty = IcebergSink.readIncremental(spark, table,
      IcebergSink.load(spark, table).get.currentSnapshotId.get)
    assert(empty.isEmpty && empty.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("incremental read skips replace snapshots and survives compaction in range") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10)).toDF("id", "v"))
    val s1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.append(spark, table, Seq((2L, 20)).toDF("id", "v"))
    IcebergSink.compact(spark, table) // replace: re-clusters rows 1-2
    IcebergSink.append(spark, table, Seq((3L, 30)).toDF("id", "v"))
    // row 2 must come from the PRE-compaction append's own manifests; the
    // replace contributes nothing (it would duplicate row 1 otherwise)
    val inc = IcebergSink.readIncremental(spark, table, s1)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == Seq(2L, 3L))
  }

  test("upsert replaces matched keys, inserts new ones, never loses others") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "name", "v"))
    IcebergSink.upsert(spark, table,
      Seq((2L, "B", 200), (4L, "d", 40)).toDF("id", "name", "v"), Seq("id"))
    val out = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(out == Seq((1L, "a", 10), (2L, "B", 200), (3L, "c", 30),
      (4L, "d", 40)))
    // a second upsert of the same key wins again (sequence rule chains)
    IcebergSink.upsert(spark, table,
      Seq((2L, "BB", 2000)).toDF("id", "name", "v"), Seq("id"))
    assert(IcebergSink.read(spark, table).where(col("id") === 2)
      .collect().map(r => (r.getString(1), r.getInt(2))).toSeq ==
      Seq(("BB", 2000)))
    // duplicate keys in one batch are rejected up front
    intercept[IllegalArgumentException](IcebergSink.upsert(spark, table,
      Seq((9L, "x", 1), (9L, "y", 2)).toDF("id", "name", "v"), Seq("id")))
    // compaction materializes the merge; history stays intact
    IcebergSink.compact(spark, table)
    assert(IcebergSink.read(spark, table).count() == 4)
  }

  test("write-audit-publish: failed audit leaves main clean, staged work recoverable") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    val base = IcebergSink.load(spark, table).get.currentSnapshotId.get
    // stage a bad batch (null-ish sentinel), pin to branch, hide from main
    IcebergSink.append(spark, table, Seq((3L, -1)).toDF("id", "v"))
    val staged = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.setRef(spark, table, "audit", "branch", Some(staged))
    IcebergSink.rollbackTo(spark, table, base)
    // isolation: main readers never see the staged row
    assert(IcebergSink.read(spark, table).count() == 2)
    // audit on the branch fails -> abandon: drop the ref, main untouched
    val bad = IcebergSink.readRef(spark, table, "audit")
      .where(col("v") < 0).count()
    assert(bad == 1)
    IcebergSink.dropRef(spark, table, "audit")
    assert(IcebergSink.read(spark, table).count() == 2)
    assert(IcebergSink.load(spark, table).get.refs.isEmpty)
    // the staged snapshot is still time-travelable until expiry
    assert(IcebergSink.read(spark, table, Some(staged)).count() == 3)
    // and a later good batch parents off the restored main, dead-forking it
    IcebergSink.append(spark, table, Seq((4L, 40)).toDF("id", "v"))
    val m = IcebergSink.load(spark, table).get
    val cur = m.snapshots.find(s =>
      m.currentSnapshotId.contains(s.snapshotId)).get
    assert(cur.parentId.contains(base))
    assert(IcebergSink.read(spark, table).count() == 3)
  }

  test("changelog surfaces a row delta: delete + insert, same ordinal, delete first") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "v1"), (2L, "x1")).toDF("id", "s"))
    // one upsertAtomic commit: replaces id=1, inserts id=3
    IcebergSink.upsertAtomic(spark, table,
      Seq((1L, "v2"), (3L, "new")).toDF("id", "s"), Seq("id"))
    val ch = IcebergSink.readChangelogFrom(spark, table, None)
      .select(col("id"), col("s"), col("_change_type"), col("_change_ordinal"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        r.getString(1), r.getString(2), r.getInt(3)))
    // ordinal 0: the base append; ordinal 1: the delta's retraction (key
    // pad) AND its inserts — one snapshot, both halves visible
    assert(ch.count(_._4 == 0) == 2)
    val delta = ch.filter(_._4 == 1)
    val dels = delta.filter(_._3 == "delete")
    val ins = delta.filter(_._3 == "insert").map(t => (t._1, t._2)).toSet
    assert(dels.map(_._1).toSet == Set(1L, 3L),
      s"the delta's equality-delete keys must surface: ${dels.toSeq}")
    assert(ins == Set((1L, "v2"), (3L, "new")),
      s"the delta's inserted rows must surface: $ins")
    // an SCD2 fold over this feed closes id=1's first version at the
    // delta and opens the replacement — the same-ordinal law end-to-end
    val hist = graft.ops.Scd.scd2(
      IcebergSink.readChangelogFrom(spark, table, None), Seq("id"),
      "_commit_sequence_number")
    val v1 = hist.where(col("id") === 1L).orderBy(col("valid_from"))
      .select(col("s"), col("valid_to").isNull.as("open")).collect()
    assert(v1.length == 2 && v1(0).getString(0) == "v1" && !v1(0).getBoolean(1)
      && v1(1).getString(0) == "v2" && v1(1).getBoolean(1),
      s"SCD2 over the row-delta feed must version id=1: ${v1.toSeq}")
  }

  test("changelog emits inserts and key-level deletes in commit order") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.append(spark, table, Seq((3L, "c")).toDF("id", "v"))
    IcebergSink.deleteKeys(spark, table, Seq(1L).toDF("id"))
    IcebergSink.compact(spark, table) // replace: must emit nothing
    IcebergSink.append(spark, table, Seq((4L, "d")).toDF("id", "v"))
    val cl = IcebergSink.readChangelog(spark, table, s1)
      .select(col("_change_type"), col("id"), col("v"), col("_change_ordinal"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)), r.getInt(3)))
      .sortBy(x => (x._4, x._2))
    assert(cl.toSeq == Seq(
      ("insert", 3L, Some("c"), 0),
      ("delete", 1L, None, 1), // key-only retraction: non-key cols null
      ("insert", 4L, Some("d"), 3)))
    // replaying the changelog onto the s1 state reproduces the table
    val replayed = Set(1L, 2L) ++ Set(3L, 4L) -- Set(1L)
    assert(IcebergSink.read(spark, table).select("id")
      .collect().map(_.getLong(0)).toSet == replayed)
  }

  test("incremental read rejects delete snapshots and non-ancestor anchors") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    val s1 = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.deleteKeys(spark, table, Seq(1L).toDF("id"))
    val e = intercept[IllegalStateException](
      IcebergSink.readIncremental(spark, table, s1).collect())
    assert(e.getMessage.contains("deletes"))
    intercept[IllegalArgumentException](
      IcebergSink.readIncremental(spark, table, -42L).collect())
  }

  test("changelog stream drains incrementally; crash-replay adds nothing") {
    import spark.implicits._
    import graft.etl.ChangelogStream
    val table = tmpTable()
    val base = Files.createTempDirectory("cdcstream")
    val sink = base.toString + "/sink"
    val ckpt = base.toString + "/snapshot.ckpt"

    IcebergSink.append(spark, table,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    assert(ChangelogStream.drain(spark, table, sink, ckpt) == 1) // initial load
    assert(spark.read.parquet(sink).count() == 3)
    assert(ChangelogStream.drain(spark, table, sink, ckpt) == 0) // caught up

    IcebergSink.deleteKeys(spark, table, Seq(2L).toDF("id"))
    IcebergSink.append(spark, table, Seq((4L, "d")).toDF("id", "name"))
    val ckptBefore = ChangelogStream.readCheckpoint(ckpt).get
    assert(ChangelogStream.drain(spark, table, sink, ckpt) == 2)
    val afterSecond = spark.read.parquet(sink).collect()
    assert(afterSecond.length == 5) // 3 inserts + 1 delete + 1 insert

    // simulate a crash AFTER the sink write but BEFORE the checkpoint
    // advance: roll the cursor back and drain again — the replay guard
    // (commit ids already in the sink) must make the retry a no-op
    ChangelogStream.writeCheckpoint(ckpt, ckptBefore)
    ChangelogStream.drain(spark, table, sink, ckpt)
    assert(spark.read.parquet(sink).count() == 5, "replay duplicated rows")

    // the feed content is the full CDC history
    val byType = spark.read.parquet(sink)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("insert" -> 4L, "delete" -> 1L))
    // compaction emits nothing but advances the cursor
    IcebergSink.compact(spark, table)
    assert(ChangelogStream.drain(spark, table, sink, ckpt) == 1)
    assert(spark.read.parquet(sink).count() == 5)
    assert(ChangelogStream.drain(spark, table, sink, ckpt) == 0)
    // a compaction-only (all-replace) drain appends an EMPTY frame whose
    // schema must still carry every changelog meta column — a narrower
    // empty-range schema would poison later sink reads (regression:
    // _commit_sequence_number was missing from the empty-range fallback)
    val cols = spark.read.parquet(sink).columns.toSet
    assert(Set("_change_type", "_change_ordinal", "_commit_snapshot_id",
      "_commit_sequence_number").subsetOf(cols), s"sink schema lost meta: $cols")
    assert(spark.read.parquet(sink)
      .where(col("_commit_sequence_number").isNotNull).count() == 5)
  }

  test("partition-spec evolution: old files keep their spec, new files prune, compaction unifies") {
    import spark.implicits._
    val table = tmpTable()
    // spec 0: identity on cat
    val b1 = (1L to 40L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, b1.toDF("id", "cat", "v"),
      partitionBy = Seq("cat"))

    // evolve: ADD PARTITION FIELD bucket(8, id) -> spec 1 becomes default
    IcebergSink.addPartitionField(spark, table, "bucket(8, id)")
    val m1 = IcebergSink.load(spark, table).get
    assert(m1.defaultSpecId == 1)
    assert(m1.specsById.keySet == Set(0, 1))
    assert(m1.specsById(0).map(_.name) == Seq("cat"))
    assert(m1.specsById(1).map(p => (p.fieldId, p.name)) ==
      Seq((1000, "cat"), (1001, "id_bucket")))
    // metadata-only: no new snapshot
    assert(m1.snapshots.size == 1)

    // append under spec 1 WITHOUT restating partitionBy
    val b2 = (41L to 80L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, b2.toDF("id", "cat", "v"))
    val m2 = IcebergSink.load(spark, table).get
    // manifest-list entries carry each manifest's own spec id
    val snap = m2.snapshots.last
    val specIds = IcebergSink.readAvro(spark, snap.manifestList)._2
      .map(_.get("partition_spec_id").asInstanceOf[Int]).toSet
    assert(specIds == Set(0, 1), s"got $specIds")

    // the union read is exact across both specs
    val back = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(back.toSeq == b1 ++ b2)

    // identity pruning still prunes across BOTH specs
    val catScan = IcebergSink.explainScan(spark, table,
      Seq(IcebergSink.ColumnRange("cat", Some("cat2"), Some("cat2")))).get
    assert(catScan.prunedFiles > 0)
    val catRows = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("cat", Some("cat2"), Some("cat2"))))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(catRows == (1L to 80L).filter(_ % 4 == 2))

    // bucket point-pruning applies to NEW-spec files; OLD-spec files are
    // soundly kept (they predate the bucket field)
    val full = IcebergSink.explainScan(spark, table, Nil).get
    val pt = IcebergSink.explainScan(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(41L), Some(41L)))).get
    assert(pt.dataFiles < full.dataFiles,
      s"bucket pruning planned ${pt.dataFiles} of ${full.dataFiles}")
    val ptRows = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("id", Some(41L), Some(41L))))
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ptRows == Seq(41L))

    // re-declaring the same evolution reuses spec 1, no duplicate
    intercept[IllegalArgumentException] {
      IcebergSink.addPartitionField(spark, table, "bucket(8, id)")
    }
    // a further evolution mints spec 2 with the next field id
    IcebergSink.addPartitionField(spark, table, "truncate(10, v)")
    val m3 = IcebergSink.load(spark, table).get
    assert(m3.defaultSpecId == 2)
    assert(m3.specsById(2).map(_.fieldId) == Seq(1000, 1001, 1002))

    // deletes keep working across specs
    IcebergSink.deleteWhere(spark, table, col("id") === 80L, Seq("id"))
    assert(IcebergSink.read(spark, table).count() == 79)

    // compaction rewrites everything under the CURRENT default spec,
    // unifying the table to one spec going forward
    IcebergSink.compact(spark, table)
    val m4 = IcebergSink.load(spark, table).get
    val unifiedSpecIds = IcebergSink.readAvro(spark,
      m4.snapshots.last.manifestList)._2
      .map(_.get("partition_spec_id").asInstanceOf[Int]).toSet
    assert(unifiedSpecIds == Set(2), s"got $unifiedSpecIds")
    val after = IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(after.toSeq == (b1 ++ b2).filterNot(_._1 == 80L))
    // time travel to the pre-evolution snapshot still reads spec-0 files
    val tt = IcebergSink.read(spark, table,
      snapshotId = Some(m2.snapshots.head.snapshotId))
    assert(tt.count() == 40)
  }

  test("sort orders: clusterBy appends declare the write order, metadata round-trips") {
    import spark.implicits._
    val table = tmpTable()
    // unclustered append: only the unsorted order 0 exists
    IcebergSink.append(spark, table,
      Seq((3L, "c", 30), (1L, "a", 10)).toDF("id", "name", "qty"))
    val m0 = IcebergSink.load(spark, table).get
    assert(m0.allSortOrders == Map(0 -> Nil) && m0.defaultSortOrderId == 0)
    assert(m0.writeOrderColumns.isEmpty)

    // clusterBy append DECLARES the order: order 1 = identity(id) asc
    IcebergSink.append(spark, table,
      (10L to 30L).map(i => (i, s"n$i", i.toInt)).toDF("id", "name", "qty"),
      clusterBy = Seq("id"))
    val m1 = IcebergSink.load(spark, table).get
    assert(m1.defaultSortOrderId == 1)
    assert(m1.sortOrders(1) ==
      Seq(IcebergSink.SortField(1, "identity", "asc", "nulls-first")))
    assert(m1.writeOrderColumns == Seq("id"))
    // raw JSON is spec-shaped (order-id / fields / direction / null-order)
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "metadata",
        s"v${m1.version}.metadata.json")), "UTF-8")
    assert(json.contains("\"sort-orders\""))
    assert("\"default-sort-order-id\"\\s*:\\s*1".r.findFirstIn(json).isDefined)
    assert("\"null-order\"\\s*:\\s*\"nulls-first\"".r.findFirstIn(json).isDefined)

    // identical clusterBy reuses order 1; a different one mints order 2
    IcebergSink.append(spark, table,
      Seq((31L, "x", 31)).toDF("id", "name", "qty"), clusterBy = Seq("id"))
    assert(IcebergSink.load(spark, table).get.defaultSortOrderId == 1)
    IcebergSink.append(spark, table,
      Seq((32L, "y", 32)).toDF("id", "name", "qty"), clusterBy = Seq("qty"))
    val m3 = IcebergSink.load(spark, table).get
    assert(m3.defaultSortOrderId == 2 &&
      m3.sortOrders(2).map(_.sourceId) == Seq(3))
    // an unclustered append leaves the declared default order untouched
    IcebergSink.append(spark, table,
      Seq((33L, "z", 33)).toDF("id", "name", "qty"))
    assert(IcebergSink.load(spark, table).get.defaultSortOrderId == 2)
    // explainScan reports the clustered columns
    assert(IcebergSink.explainScan(spark, table, Nil).get.writeOrder ==
      Seq("qty"))
  }

  test("analyze: statistics files round-trip, replace on re-analyze, expire with their snapshot") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      spark.range(0, 500).select(col("id"), (col("id") % 7).as("cat"),
        when(col("id") % 5 === 0, null).otherwise(col("id") % 50).as("v")))
    IcebergSink.analyze(spark, table)
    val m1 = IcebergSink.load(spark, table).get
    assert(m1.statistics.map(_.snapshotId) == Seq(m1.currentSnapshotId.get))
    // the metadata JSON carries the spec's statistics list
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(table, "metadata",
        s"v${m1.version}.metadata.json")), "UTF-8")
    assert(json.contains("\"statistics\"") && json.contains("\"statistics-path\""))
    val st = IcebergSink.tableStats(spark, table).get
    assert(st.rowCount == 500)
    assert(st.columns("cat").ndv >= 6 && st.columns("cat").ndv <= 8)
    assert(st.columns("id").nullCount == 0 && st.columns("v").nullCount == 100)
    // explainScan reports the NDVs for the analyzed snapshot
    assert(IcebergSink.explainScan(spark, table, Nil).get.ndv
      .get("cat").exists(n => n >= 6 && n <= 8))
    // a NEW snapshot has no stats (exact-match rule, no ancestor fallback)
    IcebergSink.append(spark, table,
      Seq((9999L, 99L, 1L)).toDF("id", "cat", "v"))
    assert(IcebergSink.tableStats(spark, table).isEmpty)
    assert(IcebergSink.explainScan(spark, table, Nil).get.ndv.isEmpty)
    // re-analyze: one entry per snapshot, the old current's entry retained
    IcebergSink.analyze(spark, table)
    val m2 = IcebergSink.load(spark, table).get
    assert(m2.statistics.map(_.snapshotId).toSet ==
      m2.snapshots.map(_.snapshotId).toSet)
    assert(IcebergSink.tableStats(spark, table).get.rowCount == 501)
    // re-analyzing the SAME snapshot replaces its entry and file
    val before = m2.statistics.find(st =>
      m2.currentSnapshotId.contains(st.snapshotId)).get.path
    IcebergSink.analyze(spark, table)
    val m3 = IcebergSink.load(spark, table).get
    assert(m3.statistics.count(st =>
      m3.currentSnapshotId.contains(st.snapshotId)) == 1)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(before).getPath)))
    // orphan cleanup never touches a referenced stats file
    val (deletedN, _) = IcebergSink.removeOrphanFiles(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000)
    assert(IcebergSink.tableStats(spark, table).isDefined)
    // expiring the first snapshot drops its stats entry and file
    val firstStats = m3.statistics.filterNot(st =>
      m3.currentSnapshotId.contains(st.snapshotId)).head
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    val m4 = IcebergSink.load(spark, table).get
    assert(m4.statistics.map(_.snapshotId) ==
      Seq(m4.currentSnapshotId.get))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      new java.net.URI(firstStats.path).getPath)))
  }

  test("forget-user pipeline: erased rows are physically unreachable, not just filtered") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, 7L, "secret"), (2L, 8L, "keep"), (3L, 7L, "secret2"))
        .toDF("id", "user", "payload"))
    val preDelete = IcebergSink.load(spark, table).get.currentSnapshotId.get
    IcebergSink.deleteWhere(spark, table, col("user") === 7, Seq("id"))
    IcebergSink.compact(spark, table)
    IcebergSink.expireSnapshots(spark, table,
      olderThanMs = System.currentTimeMillis() + 3600000L, retainLast = 1)
    IcebergSink.removeOrphanFiles(spark, table,
      olderThanMs = System.currentTimeMillis() + 3600000L)
    // logical erasure
    assert(IcebergSink.read(spark, table).where(col("user") === 7).count() == 0)
    // time travel to the pre-delete snapshot is IMPOSSIBLE (expired)
    intercept[Exception](
      IcebergSink.read(spark, table, Some(preDelete)).count())
    // physical erasure: no live data file byte-contains the payload
    val dataDir = java.nio.file.Paths.get(table, "data")
    val walk = java.nio.file.Files.walk(dataDir)
    val leaked =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .exists(p => new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.ISO_8859_1).contains("secret"))
      finally walk.close()
    assert(!leaked, "erased payload bytes survive on disk")
    assert(IcebergSink.read(spark, table).count() == 1)
  }

  test("analyze after schema evolution covers the new column under the new snapshot") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    IcebergSink.analyze(spark, table)
    // evolution adds a column; old rows read it as null
    IcebergSink.append(spark, table,
      Seq((3L, 30, "x"), (4L, 40, "y")).toDF("id", "v", "tag"))
    IcebergSink.analyze(spark, table)
    val st = IcebergSink.tableStats(spark, table).get
    assert(st.rowCount == 4)
    assert(st.columns.keySet == Set("id", "v", "tag"))
    assert(st.columns("tag").nullCount == 2) // pre-evolution rows
    assert(st.columns("id").ndv >= 3 && st.columns("id").ndv <= 5)
    // the pre-evolution snapshot's stats remain queryable with OLD columns
    val first = IcebergSink.load(spark, table).get.snapshots
      .minBy(_.sequenceNumber).snapshotId
    val old = IcebergSink.tableStats(spark, table, Some(first)).get
    assert(old.rowCount == 2 && old.columns.keySet == Set("id", "v"))
  }

  test("compaction honors the declared write order: rewritten files stay prunable") {
    import spark.implicits._
    val table = tmpTable()
    // three clusterBy appends, each covering the FULL key range — every
    // append's files are internally clustered but the table's files
    // overlap, and the fragmentation is what compaction must fix WITHOUT
    // losing the layout the sort-orders declaration advertises
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try (0 until 3).foreach { gen =>
      IcebergSink.append(spark, table,
        spark.range(0, 300)
          .select((col("id") % 30).as("bucket"), (col("id") + gen * 1000).as("id"))
          .repartition(4),
        clusterBy = Seq("bucket"))
    } finally spark.conf.set(coalesceKey, prior)
    IcebergSink.compact(spark, table, targetFiles = 3)
    val m = IcebergSink.load(spark, table).get
    assert(m.writeOrderColumns == Seq("bucket")) // declaration survives
    val all = IcebergSink.read(spark, table).inputFiles.toSet
    assert(all.size == 3, s"expected 3 rewritten files, got ${all.size}")
    // range-clustered rewrite => disjoint per-file bounds => a point read
    // plans exactly ONE of the three files (a coalesce would leave every
    // file spanning [0,29] and prune nothing)
    val pruned = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("bucket", Some(7L), Some(7L))))
    assert(pruned.inputFiles.length == 1,
      s"sorted rewrite must keep point reads at one file: " +
        s"${pruned.inputFiles.length} of ${all.size} planned")
    assert(pruned.count() == 30 &&
      IcebergSink.read(spark, table).count() == 900)
  }

  test("dropPartitionField: v2 field removal, spec reuse, compaction over mixed specs") {
    import spark.implicits._
    val table = tmpTable()
    // spec 0: identity(cat); spec 1 adds bucket(8, id)
    val b1 = (1L to 20L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, b1.toDF("id", "cat", "v"),
      partitionBy = Seq("cat"))
    IcebergSink.addPartitionField(spark, table, "bucket(8, id)")
    val b2 = (21L to 40L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, b2.toDF("id", "cat", "v"))

    // DROP the bucket field: the reduced field list equals spec 0, so the
    // default REUSES spec-id 0 instead of minting a new one
    IcebergSink.dropPartitionField(spark, table, "bucket(8, id)")
    val m1 = IcebergSink.load(spark, table).get
    assert(m1.defaultSpecId == 0, s"expected spec-0 reuse, got ${m1.defaultSpecId}")
    assert(m1.specsById.keySet == Set(0, 1)) // no new spec minted
    // metadata-only: no new snapshot
    assert(m1.snapshots.size == 2)
    // dropping a field the default spec lacks is an error
    intercept[IllegalArgumentException](
      IcebergSink.dropPartitionField(spark, table, "bucket(8, id)"))

    // new writes land under the reduced spec; old files keep theirs
    val b3 = (41L to 60L).map(i => (i, s"cat${i % 4}", (i * 10).toInt))
    IcebergSink.append(spark, table, b3.toDF("id", "cat", "v"))
    val m2 = IcebergSink.load(spark, table).get
    val specIds = IcebergSink.readAvro(spark, m2.snapshots.last.manifestList)._2
      .map(_.get("partition_spec_id").asInstanceOf[Int]).toSet
    assert(specIds == Set(0, 1), s"got $specIds")
    // exact union read + identity pruning still work across mixed specs
    assert(IcebergSink.read(spark, table).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .toSeq == b1 ++ b2 ++ b3)
    val catRows = IcebergSink.readPruned(spark, table,
      Seq(IcebergSink.ColumnRange("cat", Some("cat1"), Some("cat1"))))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(catRows == (1L to 60L).filter(_ % 4 == 1))

    // drop the last field: a genuinely NEW (unpartitioned) spec is minted
    IcebergSink.dropPartitionField(spark, table, "cat")
    val m3 = IcebergSink.load(spark, table).get
    assert(m3.defaultSpecId == 2 && m3.specsById(2).isEmpty)
    val b4 = Seq((61L, "cat1", 610))
    IcebergSink.append(spark, table, b4.toDF("id", "cat", "v"))
    assert(IcebergSink.read(spark, table).count() == 61)

    // compaction over the three-spec estate unifies under the CURRENT
    // default (unpartitioned spec 2) with history intact
    IcebergSink.compact(spark, table)
    val m4 = IcebergSink.load(spark, table).get
    val unified = IcebergSink.readAvro(spark, m4.snapshots.last.manifestList)._2
      .map(_.get("partition_spec_id").asInstanceOf[Int]).toSet
    assert(unified == Set(2), s"got $unified")
    assert(IcebergSink.read(spark, table).count() == 61)
    // time travel to the spec-{0,1} era still decodes those files
    assert(IcebergSink.read(spark, table,
      snapshotId = Some(m2.snapshots.last.snapshotId)).count() == 60)

    // re-adding the dropped pair REUSES its original partition field id
    // (spec rule: field identity keys on (source-id, transform))
    IcebergSink.addPartitionField(spark, table, "cat")
    IcebergSink.addPartitionField(spark, table, "bucket(8, id)")
    val m5 = IcebergSink.load(spark, table).get
    assert(m5.specsById(m5.defaultSpecId).map(p => (p.fieldId, p.name)) ==
      Seq((1000, "cat"), (1001, "id_bucket")),
      s"got ${m5.specsById(m5.defaultSpecId)}")
  }

  test("row-delta delete half lands as ONE file at any plan width (r17)") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    // a WIDE incoming batch: without the coalesce the delete half wrote
    // one parquet file per plan partition (AQE is off under streaming
    // lineage, where this primitive lives) — every later scan opens every
    // live delete file, and the e50 bound broke at sf0.1 on exactly this
    val batch = (50L to 80L).map(i => (i, s"n$i")).toDF("id", "v")
      .repartition(8)
    IcebergSink.upsertAtomic(spark, table, batch, Seq("id"))
    val delFiles = IcebergSink.metadataTable(spark, table, "files")
      .where(col("content") === 2)
    assert(delFiles.count() == 1,
      s"equality-delete half must be one file: ${delFiles.collect().toSeq}")
    // and the merge reads back correctly
    assert(IcebergSink.read(spark, table).where(col("id") === 60L)
      .select("v").collect().head.getString(0) == "n60")
    assert(IcebergSink.read(spark, table).count() == 100)
  }

  test("compact no-ops when deletes cover every row (metadata emptiness, r17)") {
    import spark.implicits._
    val table = tmpTable()
    IcebergSink.append(spark, table,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergSink.deleteWhere(spark, table, lit(true), Seq("id"))
    assert(IcebergSink.read(spark, table).count() == 0)
    val snapsBefore = IcebergSink.load(spark, table).get.snapshots.size
    // the emptiness gate is now metadata-driven + a zero-record staging
    // guard; an all-deleted table must still no-op (no replace snapshot,
    // no junk files), exactly like the old full-scan isEmpty probe
    IcebergSink.compact(spark, table)
    val m = IcebergSink.load(spark, table).get
    assert(m.snapshots.size == snapsBefore,
      "compact of an all-deleted table must not commit")
    assert(IcebergSink.read(spark, table).count() == 0)
    // and on a truly absent table it returns without touching disk
    IcebergSink.compact(spark, tmpTable())
  }
}
