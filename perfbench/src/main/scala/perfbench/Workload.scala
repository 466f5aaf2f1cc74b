package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.Pipeline
import graft.gen.GenConfig
import graft.lake.{LakeTable, Maintenance, MergeUpsert}
import graft.oracle.{DomainOracle, FoldOracle}
import graft.streaming.ChangeFeed

/** Input make-up and cadence of the `pipeline` workload. */
object Shape {
  /** `ChangeGen` key space: repos (Zipf) × paths per repo. */
  val Repos = 200
  val Paths = 500
  val EpochSize = 2500L
  /** Point-lookup calls after each epoch, of `KeysPerLookup` keys each. */
  val Lookups = 4
  val KeysPerLookup = 4
  /** Buckets of the source table and of the change-feed mirror. */
  val Buckets = 8
  /** Buckets of the domain table. */
  val DomainBuckets = 4
  /** A maintenance pass (hot-bucket compaction, then vacuum) runs after
    * every `Cycle` epochs, counted so that a cycle starts with the first
    * timed epoch. */
  val Cycle = 2
  /** Epochs applied untimed to the timed tables before anything is timed:
    * the first fills the empty tables, the rest warm code generation, the
    * JIT and the file cache. */
  val WarmEpochs = 5
  /** Timed epochs a run makes at least. Epoch time still falls slowly
    * after the warm-up, by a host-dependent amount; the median of five
    * epochs moves less with it than the median of three. */
  val MinEpochs = 5
}

/** Outcome of the run: operations, the checks made in this process, the
  * timings the metrics are computed from, and what the launcher checks
  * itself. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += name }
  }
  var setupS = 0.0
  val epochS = mutable.ArrayBuffer.empty[Double]
  /** lookup calls (pipeline) or query executions (suite) */
  val readS = mutable.ArrayBuffer.empty[Double]
  /** suite: each query's wall in every pass */
  val queryS = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var passes = 0
  val gcMsPerEpoch = mutable.ArrayBuffer.empty[Double]
  var heapUsedMb = 0.0
  var bytesWritten = 0L
  /** bytes written and events delivered over the first timed maintenance
    * cycle */
  var firstCycle: Option[(Long, Long)] = None
  var storedBytes = 0L
  var liveRows = 0L
  var sourceDigest = ""
  val lookupLines = mutable.ArrayBuffer.empty[String]
  val domainBytes = mutable.ArrayBuffer.empty[Double]
  val domainRows = mutable.ArrayBuffer.empty[Double]
  val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  val compactBytes = mutable.ArrayBuffer.empty[Double]
  val vacuumFiles = mutable.ArrayBuffer.empty[Double]
}

/** The `pipeline` workload, a closed loop with one client: an epoch
  * arrives, `Pipeline.run` applies it to the source and the `code_value`
  * domain table, one change-feed increment carries it into a mirror table,
  * the client issues point lookups on the source, and only then does the
  * next epoch arrive. A maintenance pass runs on every table after every
  * [[Shape.Cycle]] epochs. After [[Shape.WarmEpochs]] untimed epochs it
  * times epochs for `seconds`, at least [[Shape.MinEpochs]], then closes
  * with a full compaction and the correctness checks. */
final class Workload(spark: SparkSession, seed: Long, seconds: Int, work: Path,
                     tr: Tracer, startMs: Long) {
  private val out = new Outcome
  private val rng = new java.util.SplittableRandom(seed * 31 + 7)

  private val wal = new Wal(spark, GenConfig(seed = seed,
    numEvents = Shape.EpochSize * 1000L, numRepos = Shape.Repos,
    pathsPerRepo = Shape.Paths, epochSize = Shape.EpochSize,
    duplicateRate = 5, contentLen = 256),
    Files.createDirectories(work.resolve("wal")))
  def walDir: Path = work.resolve("wal")

  private val source = new LakeTable(work.resolve("source").toString, Shape.Buckets)
  /** the algebraic delta-fold domain: the per-language usage rollup */
  private val domains = Pipeline.omopDomainsDeep(spark).filter(_.name == "code_value")
  private val domainTables =
    Pipeline.openDomainTables(work.resolve("domains").toString, domains,
      Shape.DomainBuckets)
  private val codeValue = domainTables("code_value")
  private val mirror = new LakeTable(work.resolve("mirror").toString, Shape.Buckets)
  private val tables = Seq(source, codeValue, mirror)
  /** the source version the mirror holds */
  private var cursor = 0L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Progress line on stderr (kept in the run's log). */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - startMs) / 1e3}%8.2fs] $msg")

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def newFiles(t: LakeTable, before: Option[graft.lake.Manifest]) = {
    val had = before.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    t.currentManifest.map(_.files.filterNot(f => had.contains(f.path)))
      .getOrElse(Nil)
  }

  /** Apply epoch `e` to the source and the domain table, then carry it
    * into the mirror; returns bytes written. */
  private def applyEpoch(e: Long): Long = {
    val before = if (tr.on) tables.map(_.currentManifest) else Nil
    val rep = tr.span("engine.pipeline") {
      Pipeline.run(spark, wal.read(wal.delivered), source, domains, domainTables,
        maxEpoch = e, upToEpoch = Some(e))
    }
    require(rep.updates.forall(_.result.forall(_.committed)), s"epoch $e did not commit")
    val fed = feed()
    if (tr.on) {
      tables.zip(before).foreach { case (t, b) =>
        out.filesPerCommit += newFiles(t, b).size.toDouble
      }
      val doms = rep.updates.filter(_.table != "source").flatMap(_.result)
      out.domainBytes += doms.map(_.bytesWritten).sum.toDouble
      out.domainRows += doms.map(_.rowsWritten).sum.toDouble
      val src = rep.updates.filter(_.table == "source").flatMap(_.result)
      tr.attr("engine.pipeline", "events", wal.eventsOf(e).toDouble)
      tr.attr("engine.pipeline", "rows", src.map(_.rowsWritten).sum.toDouble)
    }
    rep.updates.flatMap(_.result).map(_.bytesWritten).sum + fed
  }

  private val RowsField = "(?:^| )rows=(\\d+)".r

  /** Drain one change-feed increment into the mirror; bytes written. */
  private def feed(): Long = {
    val inc = tr.span("streaming.poll") {
      ChangeFeed.poll(spark, source, cursor)
    }.getOrElse(throw new IllegalStateException("feed: no increment after commit"))
    val before = mirror.currentManifest
    tr.span("streaming.apply") { ChangeFeed.mirrorInto(spark, source, mirror)(inc) }
    cursor = inc.toVersion
    if (tr.on) {
      tr.attr("streaming.poll", "versions", (inc.toVersion - inc.fromVersion).toDouble)
      mirror.currentManifest.flatMap(_.lineage.get(s"epoch_${inc.toVersion}"))
        .flatMap(RowsField.findFirstMatchIn(_))
        .foreach(m => tr.attr("streaming.apply", "rows", m.group(1).toDouble))
    }
    newFiles(mirror, before).map(_.bytes).sum
  }

  private val keySchema = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType)))

  private var lookupId = 0

  /** [[Shape.Lookups]] point-lookup calls against the source table. */
  private def lookups(e: Long, record: Boolean): Unit = {
    val endSeq = (e + 1) * Shape.EpochSize
    (0 until Shape.Lookups).foreach { _ =>
      val keys = (0 until Shape.KeysPerLookup)
        .map(_ => wal.keyAt(rng.nextLong(endSeq))).distinct
      val (rows, dt) = timed(tr.span("lake.lookup") {
        source.lookupKeys(spark, keys.map(k => Seq(k._1, k._2)))
          .select("repo", "path", "commit").collect()
      })
      if (record) out.readS += dt
      // every answer is checked, the untimed ones too
      lookupId += 1
      val got = rows.groupBy(r => (r.getString(0), r.getString(1)))
      keys.foreach { k =>
        val commits = got.getOrElse(k, Array.empty).map(_.getString(2)).sorted
        out.lookupLines += s"$lookupId\t$e\t${k._1}\t${k._2}\t${commits.mkString(",")}"
      }
      if (tr.on) source.currentManifest.foreach { m =>
        val bucketOf = MergeUpsert.localBucketOf(keySchema, Seq("repo", "path"),
          m.numBuckets)
        val bs = keys.map(k => bucketOf(org.apache.spark.sql.Row(k._1, k._2))).toSet
        tr.attr("lake.lookup", "delta_files", m.deltaFiles.size.toDouble)
        tr.attr("lake.lookup", "files", m.files.count(f => bs.contains(f.bucket)).toDouble)
      }
    }
  }

  /** Hot-bucket compaction then vacuum on every table; bytes written. */
  private def maintain(): Long = tr.span("lake.maint") {
    var written = 0L
    var deleted = 0L
    tables.foreach { t =>
      val before = t.currentManifest
      tr.span("lake.compact") {
        Maintenance.compactHotBuckets(spark, t, minDeltaFiles = Shape.Cycle)
      }.foreach(_ => written += newFiles(t, before).map(_.bytes).sum)
      // retain two manifests: the change-feed cursor sits one version
      // behind the head after a compaction commit
      deleted += tr.span("lake.vacuum") {
        Maintenance.vacuum(t, retainVersions = 2, graceMillis = 0L)
      }.filesDeleted
    }
    if (tr.on) {
      out.compactBytes += written.toDouble
      out.vacuumFiles += deleted.toDouble
    }
    written
  }

  /** Close the run: fold every remaining delta into the base tier. */
  private def finalCompact(): Unit = tr.span("lake.maint") {
    tables.foreach { t =>
      if (t.currentManifest.exists(_.deltaFiles.nonEmpty))
        tr.span("lake.compact") { Maintenance.compact(spark, t) }
    }
  }

  /** Time one `LakeTable.currentManifest` call on the source (traced run). */
  private def manifestProbe(): Unit = if (tr.on) {
    val m = tr.span("lake.manifest_read") { source.currentManifest }
    m.foreach { mm =>
      val p = java.nio.file.Paths.get(source.root, "_log", f"v${mm.version}%08d.json")
      if (Files.exists(p)) tr.attr("lake.manifest_read", "bytes", Files.size(p).toDouble)
    }
  }

  /** Deliver and apply epoch `e`, read, and close a maintenance cycle
    * when one ends. Timed (and traced) only when `measured`. */
  private def epoch(e: Long, measured: Boolean): Unit = {
    if (measured) tr.op += 1
    val n = wal.deliver(e)
    val g0 = gcMs()
    val (bytes, dt) = timed(applyEpoch(e))
    log(f"epoch $e: $n events applied in $dt%.3fs${if (measured) "" else " (untimed)"}")
    out.check(s"epoch $e committed")(source.lastCommittedEpoch == e)
    // the lookup path warms up in the last warm-up epoch
    if (measured || e == Shape.WarmEpochs - 1) lookups(e, record = measured)
    if (measured) {
      out.gcMsPerEpoch += (gcMs() - g0).toDouble
      out.epochS += dt
      out.bytesWritten += bytes
      manifestProbe()
      out.heapUsedMb = math.max(out.heapUsedMb, heapMb())
    }
    if ((e + 1 - Shape.WarmEpochs) % Shape.Cycle == 0) {
      if (measured) tr.op += 1
      val written = maintain()
      if (measured) {
        out.bytesWritten += written
        if (out.firstCycle.isEmpty)
          out.firstCycle = Some((out.bytesWritten, wal.events - warmEvents))
      }
    }
  }

  private var warmEvents = 0L

  def run(): Outcome = {
    (0 until Shape.WarmEpochs).foreach(e => epoch(e.toLong, measured = false))
    warmEvents = wal.events
    log("timed phase")
    out.setupS = (System.currentTimeMillis() - startMs) / 1e3
    val deadline = System.nanoTime() + seconds * 1000000000L
    var e = Shape.WarmEpochs.toLong
    while (System.nanoTime() < deadline || e < Shape.WarmEpochs + Shape.MinEpochs) {
      epoch(e, measured = true)
      e += 1
    }
    log("final compaction")
    finalCompact()
    log("checks")
    verify(e - 1)
    log("done")
    out
  }

  private def lines(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(i =>
        Option(r.get(i)).map(_.toString).getOrElse("∅")).mkString("|"))
      .toSeq.sorted

  /** Checks made in this process. The source digest and the lookup answers
    * are checked by the launcher against its own fold of the WAL files. */
  private def verify(last: Long): Unit = {
    val head = source.currentManifest.get
    out.check("every epoch committed exactly once") {
      head.epochWatermark == last && (0L to last).forall(e =>
        e < head.lineageEpochFloor || head.lineage.contains(s"epoch_$e")) &&
        head.lineage.keys.count(_.startsWith("epoch_")) ==
          (last + 1 - head.lineageEpochFloor)
    }
    out.check("no delta files after the final compaction") {
      tables.forall(_.currentManifest.forall(_.deltaFiles.isEmpty))
    }
    val digestLines = source.snapshot(spark)
      .select(concat_ws("|", col("repo"), col("path"), col("commit"), col("lang"),
        sha2(col("content"), 256)))
      .collect().map(_.getString(0)).sorted
    out.sourceDigest = FoldOracle.sha256Hex(digestLines.mkString("\n"))
    out.liveRows = digestLines.length.toLong
    out.storedBytes = tables.flatMap(_.currentManifest).flatMap(_.files).map(_.bytes).sum

    out.check("mirror digest equals source snapshot digest") {
      FoldOracle.digestOfTable(mirror.snapshot(spark)) ==
        FoldOracle.digestOfTable(source.snapshot(spark))
    }
    val cfg = wal.cfg
    val st = FoldOracle.expectedState(
      (0L until (last + 1) * cfg.epochSize).map(graft.gen.ChangeGen.eventAt(cfg, _)))
    out.check("code_value equals its oracle") {
      lines(codeValue.snapshot(spark), "lang", "n_code_paths", "total_code_chars") ==
        DomainOracle.codeValueLines(st)
    }
  }
}
