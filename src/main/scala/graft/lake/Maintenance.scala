package graft.lake

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Table-maintenance operations for [[LakeTable]] — the copy-on-write half
  * of the merge-on-read design, plus garbage collection:
  *
  *  - '''compact''' — fold the delta tier into a fresh single-file-per-
  *    bucket base tier, optionally dropping delete tombstones whose seq is
  *    at or below a caller-supplied watermark. Tombstones must be RETAINED
  *    while a re-delivery of a pre-delete event is still possible (they are
  *    what keeps deleted keys dead, SURVEY.md §2.9 C5); once the event-time
  *    watermark passes they are dead weight — "the watermark only gates
  *    state GC" made concrete. Compaction also materializes any pending
  *    column renames (output files are fully canonical), so the rename
  *    mapping resets.
  *  - '''vacuum''' — delete data files that no retained manifest references
  *    AND that are older than a grace window. The grace window (Delta-style
  *    mtime retention) is what makes vacuum safe to run concurrently with
  *    ingestion: an in-flight merge's freshly-written staging files are
  *    never referenced by any manifest *yet*, and without the age check a
  *    racing vacuum would delete them mid-commit (data loss). Old manifests
  *    below the retention floor are dropped too (bounded time travel).
  *
  * Both commit through the same CAS manifest protocol as merges; every
  * writer stages into its own uniquely-named commit dir
  * ([[LakeTable.newCommitDir]]), so concurrent version-slot contenders can
  * never clobber each other's files — the CAS loser's directory is simply
  * orphaned and reclaimed by a later vacuum.
  */
object Maintenance {

  final case class VacuumResult(filesDeleted: Int, bytesReclaimed: Long,
                                manifestsDropped: Int)

  /** Default vacuum grace: files younger than this are never deleted even
    * if unreferenced — they may belong to an in-flight commit. */
  val DefaultGraceMillis: Long = 10L * 60 * 1000

  /** Vanish-tolerant recursive listing: vacuum scans the data tree WHILE
    * concurrent commits rename task files out of `_temporary`, so any
    * path may disappear between listing and visiting — `Files.walk`'s
    * fail-fast iterator would abort the whole pass (observed as
    * UncheckedIOException(NoSuchFileException) under the ConcurrencySpec
    * race). A vanished entry simply isn't vacuum's to reclaim. Recursion
    * never follows symlinks (matching `Files.walk`'s default): a link
    * loop under data/ would otherwise hang the walk, and a link pointing
    * outside the table root would pull foreign paths into the
    * deletion-candidate set. */
  private def safeWalk(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def go(p: java.nio.file.Path): Unit = {
      val children =
        try Using.resource(Files.list(p))(_.iterator().asScala.toSeq)
        catch {
          case _: java.io.IOException | _: java.io.UncheckedIOException =>
            Seq.empty
        }
      children.foreach { c =>
        out += c
        if (Files.isDirectory(c, java.nio.file.LinkOption.NOFOLLOW_LINKS)) go(c)
      }
    }
    go(root)
    out.toSeq
  }

  // Wall-clock here is OPERATIONAL (a GC grace window against in-flight
  // writers), not part of any transform: the engine's determinism rule
  // covers data transforms only — vacuum never changes table CONTENT,
  // only which unreferenced files remain on disk.
  private def mtimeOrNow(p: java.nio.file.Path): Long =
    try Files.getLastModifiedTime(p).toMillis
    catch { case _: java.io.IOException => System.currentTimeMillis() }

  /** Delete unreferenced data files older than `graceMillis` and manifests
    * older than `retainVersions` (default: current only). Safe to run
    * concurrently with ingestion: the grace window keeps in-flight staging
    * files untouchable, and the scan tolerates paths vanishing mid-pass
    * (a racing commit finalizing its write). */
  def vacuum(table: LakeTable, retainVersions: Int = 1,
             graceMillis: Long = DefaultGraceMillis): VacuumResult = {
    val head = table.currentVersion
    if (head == 0) return VacuumResult(0, 0L, 0)
    val floor = math.max(1L, head - retainVersions + 1)
    val cutoff = System.currentTimeMillis() - graceMillis

    val referenced: Set[String] = (floor to head).flatMap { v =>
      table.readManifest(v).files.map(f =>
        Paths.get(f.path).toAbsolutePath.toString)
    }.toSet

    val dataDir = Paths.get(table.root, "data")
    var files = 0; var bytes = 0L
    if (Files.exists(dataDir)) {
      val all = safeWalk(dataDir)
      all.filter(p => Files.isRegularFile(p)).foreach { p =>
        val old = mtimeOrNow(p) <= cutoff
        if (old && !referenced.contains(p.toAbsolutePath.toString)) {
          try {
            val sz = Files.size(p)
            if (Files.deleteIfExists(p)) { bytes += sz; files += 1 }
          } catch { case _: java.io.IOException => () } // vanished mid-pass
        }
      }
      // prune now-empty commit/bucket dirs (also age-gated: a freshly
      // created staging dir may be about to receive files)
      safeWalk(dataDir).reverse.foreach { p =>
        try {
          if (Files.isDirectory(p) && p != dataDir &&
              mtimeOrNow(p) <= cutoff &&
              Using.resource(Files.list(p))(!_.iterator().hasNext))
            Files.deleteIfExists(p)
        } catch { case _: java.io.IOException => () }
      }
    }

    val logDir = Paths.get(table.root, "_log")
    var dropped = 0
    (1L until floor).foreach { v =>
      val mp = logDir.resolve(f"v$v%08d.json")
      if (Files.deleteIfExists(mp)) dropped += 1
    }
    VacuumResult(files, bytes, dropped)
  }

  /** Fold deltas into a new base tier: one file per non-empty bucket, no
    * superseded row versions, tombstones with `updated_seq <= watermark`
    * dropped, pending renames materialized. Returns None if the table is
    * empty or a concurrent committer wins the CAS (safe: nothing was
    * committed; the orphaned output is vacuum-able and the caller may
    * simply retry later — compaction is advisory, never load-bearing).
    *
    * `buckets = Some(set)` compacts ONLY those buckets — at 10^10 events a
    * whole-table pass per maintenance run is itself a scale bug, so the
    * incremental form reads and rewrites just the chosen buckets' base +
    * delta files and splices them into the manifest (see
    * [[compactHotBuckets]] for the delta-count-driven picker). Pending
    * renames are only cleared by a FULL compaction (a partial one leaves
    * old-named files behind). */
  def compact(spark: SparkSession, table: LakeTable,
              tombstoneWatermark: Long = -1L,
              buckets: Option[Set[Int]] = None): Option[Manifest] = {
    val current = table.currentManifest.getOrElse(return None)
    if (current.files.isEmpty) return None
    val nb = current.numBuckets
    val version = current.version + 1

    // merged view (latest-wins collapse over base ∪ deltas, canonical
    // cols) of the very manifest this commit replaces
    val merged = table.readFrom(spark, current, buckets)
      .filter(!(col("__deleted") && col("updated_seq") <= lit(tombstoneWatermark)))

    val commitDir = table.newCommitDir(version)
    // explicit repartition on the key: one reducer per bucket, so each
    // bucket compacts to exactly one file (bucketOf == partition id). Over
    // a bucketed read the collapse is already partitioned this way and
    // Spark drops the exchange as redundant.
    merged.repartition(nb, current.keyCols.map(col): _*)
      .withColumn("bucket", MergeUpsert.bucketOf(nb, current.keyCols))
      .write.mode("overwrite").partitionBy("bucket")
      .options(MergeUpsert.ParquetWriteOptions)
      .parquet(commitDir.toString)

    val newFiles = table.listCommitFiles(commitDir, withRowCounts = true)
    val kept = buckets match {
      case Some(bs) => current.files.filterNot(f => bs.contains(f.bucket))
      case None => Seq.empty
    }
    // the lineage cap applies to maintenance commits too (epoch floor
    // unchanged — compaction entries carry no exactly-once semantics)
    val (cappedLineage, linFloor) = MergeUpsert.truncateLineage(
      current.lineage +
        (s"compact_v$version" -> (s"tombstoneWatermark=$tombstoneWatermark " +
          s"buckets=${buckets.map(_.size.toString).getOrElse("all")} " +
          s"files=${newFiles.size} rows=${newFiles.map(_.rows).sum}")),
      current.lineageEpochFloor, MergeUpsert.lineageCap)
    val manifest = current.copy(
      version = version,
      files = kept ++ newFiles,
      // a partial compaction leaves old-named files → mapping must survive
      renames = if (buckets.isEmpty) Map.empty else current.renames,
      lineage = cappedLineage,
      lineageEpochFloor = linFloor,
      // monotone: the VERSION of the newest compaction that ran with a
      // tombstone watermark. Any tombstone it dropped existed in state
      // `version - 1`, i.e. was committed at a version <= version - 1 —
      // so a feed consumer that applied the source contiguously through
      // at least version - 1 has applied every delete that may now be
      // gone from head state (ChangeFeed.mirrorInto's bootstrap guard).
      // Recorded whenever a watermark was SET, whether or not any
      // tombstone actually matched — conservative refusals are safe;
      // counting dropped rows per pass is not worth an extra aggregate
      tombstoneGcVersion = if (tombstoneWatermark >= 0L) version
        else current.tombstoneGcVersion)
    if (table.tryCommit(manifest)) Some(manifest) else None
  }

  /** Incremental maintenance driver: compact the buckets whose DELTA file
    * count reached `minDeltaFiles` (read-amplification bound). Returns the
    * committed manifest, or None if nothing qualified / CAS lost. */
  def compactHotBuckets(spark: SparkSession, table: LakeTable,
                        minDeltaFiles: Int = 4,
                        tombstoneWatermark: Long = -1L): Option[Manifest] = {
    val current = table.currentManifest.getOrElse(return None)
    val hot = current.deltaFiles.groupBy(_.bucket)
      .collect { case (b, fs) if fs.size >= minDeltaFiles => b }.toSet
    if (hot.isEmpty) None
    else compact(spark, table, tombstoneWatermark, Some(hot))
  }
}
