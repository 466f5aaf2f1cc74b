package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, MergeUpsert}

/** CDC-OUT as a live feed: tail a [[LakeTable]]'s manifest log and deliver
  * each newly-committed version range as a change batch — the streaming
  * half of [[LakeTable.changesSince]]. This is the engine analogue of the
  * reference's downstream loaders tailing the nightly pipe-delimited
  * extracts (/root/reference/Delphi/ArchitecturePlan.md:24-27: extracts
  * are produced for a separate OMOP loader to consume), re-expressed as an
  * exactly-once change stream over the lake's own commit log instead of
  * file drops.
  *
  * Delivery contract (the same shape Structured Streaming's `foreachBatch`
  * provides, here over manifest versions instead of batchIds):
  *  - [[poll]] returns the changes committed in `(cursor, head]` — every
  *    row version (upserts AND `__deleted` tombstones) of every delta
  *    commit in the interval, canonicalized to the head schema (renames
  *    mapped forward, evolved columns NULL-padded) — plus the column
  *    renames observed in the interval so a schema-tracking consumer can
  *    replay them;
  *  - delivery is at-least-once with deterministic content per version
  *    range: the durable [[Cursor]] advances only AFTER the consumer
  *    returns, so a crash re-delivers a range whose upper bound can only
  *    have GROWN. A consumer that keys idempotency on `toVersion` (e.g.
  *    [[mirrorInto]], which merges with `epoch = toVersion`) composes to
  *    exactly-once: a re-delivered identical range no-ops on the epoch
  *    watermark, and an extended range re-applies already-merged rows
  *    whose `(seq, commit)` latest-wins ordering makes them ties, not
  *    changes.
  *
  * Bootstrap and retention: a cursor of 0 (fresh consumer) receives the
  * full merged head state — including retained tombstones, so a downstream
  * copy can never resurrect keys deleted before it subscribed — as one
  * increment. A cursor that has fallen below vacuum's manifest-retention
  * floor fails loudly instead of silently skipping the reclaimed interval:
  * like any CDC system, retention must outlast consumer lag, and the
  * recovery is a fresh bootstrap into a FRESH downstream root (stale
  * downstream state may hold keys whose tombstones were GC'd past the
  * event-time watermark — folding a bootstrap over it could resurrect
  * them).
  */
object ChangeFeed {

  /** One delivered version range. `renames` lists the column renames
    * committed in `(fromVersion, toVersion]` in commit order (old → new);
    * `changes` is already canonicalized to the head-of-range names, the
    * renames are for consumers that maintain their own named schema
    * (e.g. a mirror table). */
  final case class Increment(fromVersion: Long, toVersion: Long,
                             renames: Seq[(String, String)],
                             changes: DataFrame)

  /** Durable feed cursor: one long in a file, advanced atomically
    * (temp + ATOMIC_MOVE — replace is safe because a cursor has exactly
    * one owning consumer; two consumers sharing a cursor file would each
    * see the other's progress as their own). Missing file = 0 = fresh
    * consumer (bootstrap). */
  final class Cursor(val path: String) {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    def read: Long =
      if (!Files.exists(Paths.get(path))) 0L
      else new String(Files.readAllBytes(Paths.get(path)), "UTF-8").trim.toLong
    def advance(v: Long): Unit = {
      val p = Paths.get(path)
      val cur = read // one read serves both the guard and its message
      require(v >= cur, s"cursor $path cannot move backwards ($cur -> $v)")
      val tmp = Files.createTempFile(
        Option(p.getParent).getOrElse(Paths.get(".")), ".cursor", ".tmp")
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Column renames committed in `(fromExclusive, to]`, in version order.
    * Read STRUCTURALLY from consecutive manifests' rename maps (a new
    * canonical key whose former-chain head is the immediate old name) —
    * not from lineage display strings, so neither lineage truncation nor
    * a later full compaction (which clears the head map but not the
    * per-version history) can lose one. */
  private[streaming] def renamesIn(table: LakeTable, fromExclusive: Long,
                                   to: Long): Seq[(String, String)] = {
    var prev = table.readManifest(fromExclusive).renames
    ((fromExclusive + 1) to to).flatMap { v =>
      val cur = table.readManifest(v).renames
      val added = cur.collect {
        case (canon, formers) if formers.nonEmpty && !prev.contains(canon) =>
          (formers.head, canon)
      }.toSeq.sortBy(_._2)
      prev = cur
      added
    }
  }

  /** The changes committed after `after`, or None if the head hasn't moved.
    * `after == 0` bootstraps: the full merged head state (tombstones
    * included) as one increment over (0, head]. */
  def poll(spark: SparkSession, table: LakeTable,
           after: Long): Option[Increment] = {
    // every part of the increment answers for this one head: a commit
    // landing meanwhile belongs to the next poll
    val head = table.currentVersion
    if (head <= after) return None
    if (after == 0L)
      return Some(Increment(0L, head, Seq.empty, table.readAt(spark, head)))
    if (!table.hasVersion(after))
      throw new IllegalStateException(
        s"change-feed cursor $after of ${table.root} was vacuumed past the " +
          "manifest-retention floor — the consumer lagged longer than " +
          "retention; re-bootstrap into a FRESH downstream root (folding a " +
          "bootstrap over stale state could resurrect keys whose " +
          "tombstones were GC'd)")
    Some(Increment(after, head, renamesIn(table, after, head),
      table.changesSince(spark, after, toVersion = head)))
  }

  /** Drain the feed: poll-and-consume until the head stops moving (the
    * `Trigger.AvailableNow` shape). The cursor advances after EACH
    * consumed increment, so a crash mid-drain re-delivers only the last
    * in-flight range. Returns the number of increments consumed. */
  def drain(spark: SparkSession, table: LakeTable, cursor: Cursor)
           (consumer: Increment => Unit): Int = {
    var n = 0
    var inc = poll(spark, table, cursor.read)
    while (inc.isDefined) {
      consumer(inc.get)
      cursor.advance(inc.get.toVersion)
      n += 1
      inc = poll(spark, table, cursor.read)
    }
    n
  }

  /** Tail the feed continuously: drain, sleep `pollIntervalMs`, repeat,
    * until `stop()` — and then drain ONCE more, so everything committed
    * before the stop signal is delivered (the graceful-shutdown
    * contract). Returns total increments consumed. */
  def follow(spark: SparkSession, table: LakeTable, cursor: Cursor,
             pollIntervalMs: Long = 1000L)(stop: () => Boolean)
            (consumer: Increment => Unit): Int = {
    var n = 0
    while (!stop()) {
      n += drain(spark, table, cursor)(consumer)
      Thread.sleep(pollIntervalMs)
    }
    n + drain(spark, table, cursor)(consumer)
  }

  /** The canonical exactly-once consumer: maintain a downstream MIRROR
    * [[LakeTable]] from the feed. Interval renames replay first (so the
    * mirror's schema tracks the source's), then the change rows merge with
    * `epoch = toVersion` — re-delivery of a committed range no-ops on the
    * mirror's watermark, and the mirror's final state equals the source
    * snapshot (digest-pinned in ChangeFeedSpec). Rename replay is itself
    * idempotent: a rename whose old name is already gone (applied before a
    * crash, or the column never reached this mirror) is skipped.
    *
    * Bootstrap safety (ENFORCED, not just documented): a bootstrap
    * increment (`fromVersion == 0`) carries only tombstones still
    * physically retained upstream, so folding it over a stale mirror
    * could permanently resurrect keys whose tombstones are gone. GONE has
    * two independent axes, both guarded: (a) the mirror's last applied
    * source VERSION was vacuumed past manifest retention; (b) a
    * compaction GC'd tombstones out of head state — the manifest may
    * still be on disk while the tombstones inside head state are not.
    * The safety line for (b) is VERSION-based (the manifest's monotone
    * `tombstoneGcVersion`): increments apply in contiguous version
    * order, so a mirror whose applied version is at least
    * `tombstoneGcVersion - 1` has applied every delete the GC could
    * have dropped (all committed strictly before the compaction). No
    * SEQ high-water mark can stand in for this — seqs are not
    * correlated with commit order in this engine, so a mirror's
    * `lastSeq` may exceed a GC'd tombstone's seq while the mirror never
    * applied that delete (pinned in ChangeFeedSpec's out-of-order-seq
    * case). The legal non-empty-mirror bootstraps remain: crash
    * re-delivery of the bootstrap itself, and a lost cursor whose
    * mirror is still within BOTH retention axes (the same lag contract
    * [[poll]] enforces on an incremental cursor). A lost-cursor mirror
    * whose schema predates upstream RENAMES is also handled: the
    * interval renames since its applied version replay from the
    * manifest history before the merge (a bootstrap increment itself
    * carries none). */
  def mirrorInto(spark: SparkSession, source: LakeTable, mirror: LakeTable)
                (inc: Increment): Unit = {
    var renames = inc.renames
    if (inc.fromVersion == 0L) {
      val applied = mirror.currentManifest.map(_.epochWatermark).getOrElse(-1L)
      if (applied >= 0L && !source.hasVersion(applied))
        throw new IllegalStateException(
          s"mirrorInto(${mirror.root}): refusing to fold a BOOTSTRAP over " +
            s"a mirror whose last applied source version $applied was " +
            "vacuumed past the manifest-retention floor — tombstones " +
            "committed since may be GC'd and the stale mirror rows they " +
            "deleted would resurrect; re-bootstrap into a FRESH root")
      val gcV = source.currentManifest.map(_.tombstoneGcVersion).getOrElse(-1L)
      if (applied >= 0L && gcV >= 0L && applied < gcV - 1L)
        throw new IllegalStateException(
          s"mirrorInto(${mirror.root}): refusing to fold a BOOTSTRAP over " +
            s"a mirror that applied the source only through version " +
            s"$applied while a tombstone-GC compaction committed at " +
            s"version $gcV — deletes committed in versions " +
            s"($applied, ${gcV - 1L}] may be compacted out of head state " +
            "and their stale mirror rows would resurrect; re-bootstrap " +
            "into a FRESH root")
      // a bootstrap increment carries no interval renames — replay the
      // renames committed since the mirror's applied version from the
      // manifest history (guard (a) above proved that version is still
      // retained), or a mirror whose schema predates an upstream rename
      // would schema-EVOLVE the new name as a junk extra column
      if (applied >= 1L)
        renames = renamesIn(source, applied, inc.toVersion)
    }
    renames.foreach { case (from, to) =>
      val cols = mirror.currentManifest
        .map(_.schema.fieldNames.toSet).getOrElse(Set.empty)
      if (cols.contains(from) && !cols.contains(to))
        mirror.renameColumn(from, to)
    }
    // re-shape head-schema change rows into a merge batch; mergeEpoch
    // recomputes updated_seq/__deleted/content_sha from these (identical
    // values — the sha is a pure function of content)
    val batch = inc.changes
      .withColumn("op", when(col("__deleted"), lit("D")).otherwise(lit("U")))
      .withColumnRenamed("updated_seq", "seq")
      .drop("__deleted")
    MergeUpsert.mergeEpoch(spark, mirror, batch, inc.toVersion)
    ()
  }
}
