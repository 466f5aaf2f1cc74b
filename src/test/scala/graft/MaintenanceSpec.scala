package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.engine.Replayer
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.{LakeTable, Maintenance}
import graft.oracle.FoldOracle

/** Vacuum / compaction: table state is invariant under maintenance, orphan
  * and superseded files are reclaimed, tombstone GC respects the watermark. */
class MaintenanceSpec extends SparkSpec {

  private val cfg = GenConfig(seed = 23L, numEvents = 3000L, numRepos = 12,
    pathsPerRepo = 30, epochSize = 500L, pctDelete = 25, pctInsert = 30,
    pctUpdate = 45)

  private def replayed(): LakeTable = {
    val table = new LakeTable(tmpDir("lake"), 4)
    Replayer.run(spark, ChangeGen.stream(spark, cfg).toDF(), table, maxEpoch = 5)
    table
  }

  test("vacuum reclaims superseded + orphan files; state digest unchanged") {
    val table = replayed()
    val before = FoldOracle.digestOfTable(table.snapshot(spark))

    // plant a crash orphan: data files written, no manifest commit
    val orphan = table.newCommitDir(table.currentVersion + 7)
    Files.createDirectories(orphan.resolve("bucket=0"))
    Files.writeString(orphan.resolve("bucket=0/part-orphan.parquet"), "junk")

    val res = Maintenance.vacuum(table, graceMillis = 0)
    assert(res.filesDeleted > 0)
    assert(res.manifestsDropped > 0)
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == before)
    assert(!Files.exists(orphan.resolve("bucket=0/part-orphan.parquet")))
    // every referenced file still present
    table.currentManifest.get.files.foreach(f =>
      assert(Files.exists(Paths.get(f.path)), f.path))
  }

  test("vacuum with retention keeps older versions readable") {
    val table = replayed()
    val head = table.currentVersion
    Maintenance.vacuum(table, retainVersions = 2, graceMillis = 0)
    // head and head-1 manifests must survive; head-2 must not
    assert(Files.exists(Paths.get(table.root, "_log", f"v$head%08d.json")))
    assert(Files.exists(Paths.get(table.root, "_log", f"v${head - 1}%08d.json")))
    assert(!Files.exists(Paths.get(table.root, "_log", f"v${head - 2}%08d.json")))
    assert(table.readManifest(head - 1).files.forall(f =>
      Files.exists(Paths.get(f.path))))
  }

  test("tombstone compaction: live state unchanged, tombstones ≤ watermark gone") {
    val table = replayed()
    val before = FoldOracle.digestOfTable(table.snapshot(spark))
    val tombsBefore = table.read(spark).filter(col("__deleted")).count()
    assert(tombsBefore > 0, "fixture must contain deletes")

    val m = Maintenance.compact(spark, table, Long.MaxValue)
    assert(m.isDefined)
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == before)
    assert(table.read(spark).filter(col("__deleted")).count() == 0)
    // one file per non-empty bucket after compaction
    val byBucket = table.currentManifest.get.files.groupBy(_.bucket)
    assert(byBucket.values.forall(_.size == 1))
  }

  test("partial watermark keeps newer tombstones (re-delivery safety)") {
    val table = replayed()
    val tombSeqs = table.read(spark).filter(col("__deleted"))
      .select("updated_seq").collect().map(_.getLong(0)).sorted
    assume(tombSeqs.length >= 2)
    val mid = tombSeqs(tombSeqs.length / 2)
    Maintenance.compact(spark, table, mid)
    val remaining = table.read(spark).filter(col("__deleted"))
      .select("updated_seq").collect().map(_.getLong(0))
    assert(remaining.forall(_ > mid))
    assert(remaining.nonEmpty)
  }

  test("replay continues correctly after vacuum + compaction") {
    val table = new LakeTable(tmpDir("lake"), 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Replayer.run(spark, events, table, maxEpoch = 5, upToEpoch = Some(2))
    Maintenance.compact(spark, table, Long.MaxValue)
    Maintenance.vacuum(table, graceMillis = 0)
    Replayer.run(spark, events, table, maxEpoch = 5)
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) ==
      FoldOracle.digestOfState(FoldOracle.expectedState(cfg)))
  }

  test("vacuum grace window protects freshly-written unreferenced files") {
    val table = replayed()
    // an in-flight commit's staging files: written, not yet referenced by
    // any manifest — default-grace vacuum must NOT touch them (ADVICE:
    // deleting them mid-commit would be data loss under concurrency)
    val staging = table.newCommitDir(table.currentVersion + 1)
    Files.createDirectories(staging.resolve("bucket=0"))
    val f = staging.resolve("bucket=0/part-inflight.parquet")
    Files.writeString(f, "in-flight bytes")
    val res = Maintenance.vacuum(table) // default graceMillis
    assert(res.filesDeleted == 0, "fresh unreferenced file must survive grace")
    assert(Files.exists(f))
    // once old (grace = 0), the same file is reclaimed (along with the
    // writes' unreferenced _SUCCESS markers)
    val res2 = Maintenance.vacuum(table, graceMillis = 0)
    assert(res2.filesDeleted >= 1)
    assert(!Files.exists(f))
  }

  test("compaction folds the delta tier into single-file-per-bucket base") {
    val table = replayed()
    val before = FoldOracle.digestOfTable(table.snapshot(spark))
    assert(table.currentManifest.get.deltaFiles.nonEmpty)
    val m = Maintenance.compact(spark, table)
    assert(m.isDefined)
    assert(m.get.deltaFiles.isEmpty)
    assert(m.get.files.forall(_.tier == "base"))
    assert(m.get.files.forall(_.rows >= 0), "base files carry footer row counts")
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == before)
    // merging continues correctly on top of the compacted base
    val more = GenConfig(seed = 77L, numEvents = 500, numRepos = 12,
      pathsPerRepo = 30, epochSize = 500L)
    graft.lake.MergeUpsert.mergeEpoch(spark, table,
      ChangeGen.stream(spark, more).toDF().withColumn("epoch", lit(6L)), 6L)
    assert(table.currentManifest.get.deltaFiles.nonEmpty)
    assert(table.snapshot(spark).count() > 0)
  }

  test("incremental per-bucket compaction: hot buckets fold, state unchanged") {
    val table = replayed()
    val before = FoldOracle.digestOfTable(table.snapshot(spark))
    val m0 = table.currentManifest.get
    val deltaBuckets = m0.deltaFiles.map(_.bucket).toSet
    assert(deltaBuckets.nonEmpty)
    // every bucket has 6 delta files (6 epochs) -> all qualify at >= 6;
    // pick a stricter subset by compacting just one bucket explicitly
    val target = Set(deltaBuckets.head)
    val m1 = Maintenance.compact(spark, table, buckets = Some(target))
    assert(m1.isDefined)
    assert(m1.get.deltaFiles.forall(f => !target.contains(f.bucket)),
      "compacted bucket must hold no delta files")
    assert(m1.get.deltaFiles.nonEmpty, "other buckets' deltas untouched")
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == before)
    // the threshold-driven driver folds the rest
    val m2 = Maintenance.compactHotBuckets(spark, table, minDeltaFiles = 2)
    assert(m2.isDefined)
    assert(m2.get.deltaFiles.isEmpty, "all hot buckets folded")
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) == before)
    // nothing left to compact -> None
    assert(Maintenance.compactHotBuckets(spark, table, minDeltaFiles = 2).isEmpty)
  }
}
