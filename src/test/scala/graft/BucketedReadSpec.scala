package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import graft.engine.Replayer
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.{LakeTable, Maintenance, MergeUpsert}
import graft.model.ChangeEvent
import graft.oracle.FoldOracle
import graft.streaming.ChangeFeed

/** Bucketed merge-on-read: a lake read declares the table's hash
  * bucketing to Spark, so the latest-wins collapse over it runs without
  * an exchange. Differential: every read, lookup, change stream and
  * compaction equals the same operation with Spark's bucketed scans
  * switched off (`spark.sql.sources.bucketing.enabled=false`), on NULL key
  * parts and tombstones, on a table whose bucket count differs from the
  * shuffle partitions, on a mirror whose bucket count differs from its
  * source's, and on files named before the bucket suffix existed. */
class BucketedReadSpec extends SparkSpec {

  private val Bucketing = "spark.sql.sources.bucketing.enabled"

  private def withBucketing[T](enabled: Boolean)(f: => T): T = {
    val prior = spark.conf.get(Bucketing)
    spark.conf.set(Bucketing, enabled.toString)
    try f finally spark.conf.set(Bucketing, prior)
  }

  /** `f` with Spark's bucketed scans on, then off; each result is planned
    * and executed inside its setting. */
  private def bothWays[T](f: => T): (T, T) =
    (withBucketing(true)(f), withBucketing(false)(f))

  /** Digest of every row and column (tombstones, seqs and NULLs too). */
  private def digest(df: DataFrame): String =
    FoldOracle.sha256Hex(df.collect().map(_.toString).sorted.mkString("\n"))

  private def isBucketed(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution.executedPlan.toString.contains("Bucketed: true")
  }

  private def assertSame(what: String, r: (String, String)): Unit =
    assert(r._1 == r._2, s"$what: bucketed and plain reads differ")

  // ---------------- the (repo, path) source ----------------

  private val cfg = GenConfig(seed = 57L, numEvents = 3000L, numRepos = 10,
    pathsPerRepo = 40, epochSize = 500L, pctInsert = 40, pctUpdate = 35,
    pctDelete = 25, duplicateRate = 50)

  /** Keys with a NULL part, updated, deleted and re-inserted across the
    * six epochs. */
  private val nullKeyEvents: Seq[ChangeEvent] = (0 until 6).flatMap { e =>
    val s = 1000000L + e * 10
    def ev(i: Int, op: String, repo: String, path: String) =
      ChangeEvent(s + i, e.toLong, op, repo, path, s"n$e-$i", "scala",
        s"body $e $i", 1)
    Seq(ev(0, "U", null, s"nullrepo/f${e % 2}"),
      ev(1, if (e == 3) "D" else "U", "repo-nullpath", null),
      ev(2, if (e == 4) "D" else "U", null, null))
  }

  private def sourceEvents: DataFrame = {
    import spark.implicits._
    ChangeGen.stream(spark, cfg).toDF().unionByName(nullKeyEvents.toDF())
  }

  private def allEvents: Seq[ChangeEvent] =
    (0L until cfg.numEvents).map(ChangeGen.eventAt(cfg, _)) ++ nullKeyEvents

  private def sourceTable(name: String,
                          upToEpoch: Option[Long] = None): LakeTable = {
    val t = new LakeTable(tmpDir(name), 8)
    Replayer.run(spark, sourceEvents, t, maxEpoch = 5, upToEpoch = upToEpoch)
    t
  }

  private val lookups: Seq[Seq[Any]] = Seq(
    Seq(null, "nullrepo/f1"), Seq("repo-nullpath", null), Seq(null, null),
    Seq("repo-1", "src/d01/m1/f0001.python"), Seq("no-such-repo", "x"))

  test("(repo, path) source with NULL key parts and tombstones: read, " +
      "snapshot, changesSince and lookupKeys equal the plain reads, and " +
      "the snapshot equals the fold oracle") {
    val table = sourceTable("bkt-src", upToEpoch = Some(2))
    val vMid = table.currentVersion
    Replayer.run(spark, sourceEvents, table, maxEpoch = 5)
    val m = table.currentManifest.get
    assert(m.deltaFiles.nonEmpty && m.files.forall(f => BucketingUtils
      .getBucketId(Paths.get(f.path).getFileName.toString).contains(f.bucket)))
    assert(table.read(spark).filter(col("__deleted")).count() > 0,
      "fixture must hold tombstones")
    assert(table.read(spark).filter(col("repo").isNull).count() > 0,
      "fixture must hold NULL key parts")
    assert(isBucketed(table.read(spark)))
    assert(isBucketed(table.lookupKeys(spark, lookups)))

    assertSame("read", bothWays(digest(table.read(spark))))
    assertSame("snapshot", bothWays(digest(table.snapshot(spark))))
    assertSame("pruned snapshot",
      bothWays(digest(table.snapshot(spark, Some(Set(0, 3, 5))))))
    assertSame("changesSince", bothWays(digest(table.changesSince(spark, vMid))))
    assertSame("collapsed changesSince", bothWays(digest(
      MergeUpsert.latestPerKey(table.changesSince(spark, vMid),
        Seq("updated_seq", "commit"), table.keyCols))))
    assertSame("lookupKeys", bothWays(digest(table.lookupKeys(spark, lookups))))
    assertSame("changesForKeys",
      bothWays(digest(table.changesForKeys(spark, vMid, lookups))))
    assert(table.lookupKeys(spark, lookups).count() >= 2,
      "the NULL-part keys that end live must be found")
    assert(FoldOracle.digestOfTable(table.snapshot(spark)) ==
      FoldOracle.digestOfState(FoldOracle.expectedState(allEvents)))
  }

  test("compaction with bucketed reads equals compaction with plain reads " +
      "(partial with a tombstone watermark, then full)") {
    val on = sourceTable("bkt-compact-on")
    val off = sourceTable("bkt-compact-off")
    val before = digest(on.snapshot(spark))
    val mark = on.read(spark).filter(col("__deleted"))
      .agg(max("updated_seq")).head().getLong(0) / 2
    withBucketing(true)(Maintenance.compact(spark, on, mark, Some(Set(1, 2, 6))))
    withBucketing(false)(Maintenance.compact(spark, off, mark, Some(Set(1, 2, 6))))
    assert(digest(on.read(spark)) == digest(off.read(spark)))
    withBucketing(true)(Maintenance.compact(spark, on))
    withBucketing(false)(Maintenance.compact(spark, off))
    assert(digest(on.read(spark)) == digest(off.read(spark)))
    assert(digest(on.snapshot(spark)) == before)
    // one file per non-empty bucket, each named with its bucket
    val files = on.currentManifest.get.files
    assert(files.groupBy(_.bucket).values.forall(_.size == 1))
    assert(files.forall(f => BucketingUtils
      .getBucketId(Paths.get(f.path).getFileName.toString).contains(f.bucket)))
  }

  // ---------------- a domain table keyed on nullable `lang` ----------------

  private val langs = Seq("scala", "go", "rust", "sql", "python", "java", null)

  /** 4 buckets (the session shuffles into 8), keyed on `lang`, NULL among
    * the keys; every epoch updates most groups and deletes one. */
  private def domainTable(name: String): LakeTable = {
    import spark.implicits._
    val t = new LakeTable(tmpDir(name), 4, Seq("lang"))
    (0 until 5).foreach { e =>
      val rows = langs.zipWithIndex.collect {
        case (l, i) if (i + e) % 4 != 0 =>
          (l, (e * 10 + i).toLong, (e * 100 + i * 7).toLong, e * 100L + i,
            s"c$e-$i", if ((i + 2 * e) % 5 == 0) "D" else "U")
      }
      MergeUpsert.mergeEpoch(spark, t, rows.toDF("lang", "n_code_paths",
        "total_code_chars", "seq", "commit", "op"), e.toLong)
    }
    t
  }

  test("4-bucket domain table keyed on nullable lang: reads, lookups, " +
      "changes and compaction equal the plain reads") {
    val t = domainTable("bkt-dom")
    assert(t.currentManifest.get.deltaFiles.nonEmpty)
    assert(isBucketed(t.read(spark)))
    assertSame("read", bothWays(digest(t.read(spark))))
    assertSame("snapshot", bothWays(digest(t.snapshot(spark))))
    assertSame("changesSince", bothWays(digest(t.changesSince(spark, 2))))
    // one key per lookup: a single-column bucketed scan also prunes by
    // Spark's own hash of the pushed-down key, which must agree with the
    // writer's bucket of every value
    assertSame("lookupKeys", bothWays((langs :+ "none").map(l =>
      digest(t.lookupKeys(spark, Seq(Seq(l))))).mkString(",")))
    assert(t.lookupKeys(spark, Seq(Seq[Any](null))).count() == 1)
    val on = domainTable("bkt-dom-on")
    val off = domainTable("bkt-dom-off")
    withBucketing(true)(Maintenance.compact(spark, on))
    withBucketing(false)(Maintenance.compact(spark, off))
    assert(digest(on.read(spark)) == digest(off.read(spark)))
    assert(digest(on.read(spark)) == digest(t.read(spark)))
  }

  // ---------------- a mirror with a different bucket count ----------------

  test("a 3-bucket mirror fed from the 8-bucket source equals the source") {
    val source = new LakeTable(tmpDir("bkt-mir-src"), 8)
    val mirror = new LakeTable(tmpDir("bkt-mir"), 3)
    val cursor = new ChangeFeed.Cursor(tmpDir("bkt-mir-cur") + "/cursor")
    (0L to 5L).foreach { e =>
      Replayer.run(spark, sourceEvents, source, maxEpoch = 5,
        upToEpoch = Some(e))
      ChangeFeed.drain(spark, source, cursor)(
        ChangeFeed.mirrorInto(spark, source, mirror))
      if (e == 3L) Maintenance.compact(spark, source)
    }
    val want = FoldOracle.digestOfTable(source.snapshot(spark))
    val (on, off) = bothWays(FoldOracle.digestOfTable(mirror.snapshot(spark)))
    assert(on == want && off == want)
    Maintenance.compact(spark, mirror)
    assert(FoldOracle.digestOfTable(mirror.snapshot(spark)) == want)
    assert(want == FoldOracle.digestOfState(FoldOracle.expectedState(allEvents)))
  }

  // ---------------- files named before the bucket suffix ----------------

  /** Rename every data file of `t` to its name without the bucket suffix
    * and point every retained manifest at the old name: the layout of a
    * table written before the suffix existed. */
  private def stripBucketSuffix(t: LakeTable): Unit = {
    t.versionsOnDisk.foreach { v =>
      val log = Paths.get(t.root, "_log", f"v$v%08d.json")
      var json = Files.readString(log)
      t.readManifest(v).files.foreach { f =>
        val p = Paths.get(f.path)
        val legacy = p.resolveSibling(
          p.getFileName.toString.replaceFirst("_\\d{5}(?=\\.)", ""))
        if (Files.exists(p)) Files.move(p, legacy)
        json = json.replace(f.path, legacy.toString)
      }
      Files.writeString(log, json)
    }
  }

  test("a table whose files lack the bucket suffix still reads, looks up " +
      "and compacts correctly; a full compaction names every file") {
    val t = sourceTable("bkt-legacy", upToEpoch = Some(2))
    val vMid = t.currentVersion
    Replayer.run(spark, sourceEvents, t, maxEpoch = 5)
    val read0 = digest(t.read(spark))
    val lookup0 = digest(t.lookupKeys(spark, lookups))
    val changes0 = digest(t.changesSince(spark, vMid))
    stripBucketSuffix(t)
    assert(t.currentManifest.get.files.forall(f => BucketingUtils
      .getBucketId(Paths.get(f.path).getFileName.toString).isEmpty))
    assert(!isBucketed(t.read(spark)))
    assert(digest(t.read(spark)) == read0)
    assert(digest(t.lookupKeys(spark, lookups)) == lookup0)
    assert(digest(t.changesSince(spark, vMid)) == changes0)
    // a partial compaction leaves a mix: still one plain, correct scan
    Maintenance.compact(spark, t, buckets = Some(Set(0, 4)))
    assert(!isBucketed(t.read(spark)))
    assert(digest(t.read(spark)) == read0)
    assert(digest(t.lookupKeys(spark, lookups)) == lookup0)
    Maintenance.compact(spark, t)
    val files = t.currentManifest.get.files
    assert(files.forall(f => BucketingUtils
      .getBucketId(Paths.get(f.path).getFileName.toString).contains(f.bucket)))
    assert(digest(t.read(spark)) == read0)
    assert(digest(t.lookupKeys(spark, lookups)) == lookup0)
    // new epochs on top of the compacted base read bucketed again
    Replayer.run(spark, sourceEvents.withColumn("epoch", col("epoch") + 6),
      t, maxEpoch = 11)
    assert(isBucketed(t.read(spark)))
  }
}
