package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

import graft.engine.Replayer
import graft.lake.LakeTable

/** Single WAL-replay→merge measurement in a FRESH JVM (launched by
  * [[Bench]] once per (parallelism, repetition) — the sandbox analogue of
  * one `spark-submit` per cluster size). A shared JVM drifts between
  * back-to-back SparkContexts (codegen caches, metaspace, shuffle dirs):
  * two identical local[32] runs measured 20.3s vs 29.3s in one JVM, which
  * would poison the scaling-efficiency number.
  *
  * argv: cpus walDir epochs warmupWalDir
  * stdout: `REPLAY_SECONDS=<wall-seconds-of-timed-replay>`
  */
object BenchReplay {
  def main(args: Array[String]): Unit = {
    val Array(cpusS, walDir, epochsS, warmWal) = args
    val cpus = cpusS.toInt
    val epochs = epochsS.toLong
    // RAM-backed scratch (tmpfs) when available: on a real cluster the
    // aggregate disk bandwidth scales with executor count; a single local
    // virtio disk does not, and its page-cache state adds ±10× noise. The
    // scaling measurement isolates CPU-parallel behavior of the PLANS.
    val scratch = sys.env.getOrElse("GRAFT_TMPDIR",
      System.getProperty("java.io.tmpdir"))
    Files.createDirectories(java.nio.file.Paths.get(scratch))
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // pinned level-independent, as on a real cluster where the setting
      // doesn't change with executor count — only core count varies.
      // 64 == numBuckets: the merge aggregate's shuffle then places every
      // row in the partition whose id equals its bucket, so the delta
      // write's partitionBy is shuffle-free and one-file-per-bucket
      .config("spark.sql.shuffle.partitions", 64)
      // AQE partition coalescing would re-map reducer ranges and break the
      // bucket==partition-id alignment (correct but multi-dir tasks)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // LatestBy runs under ObjectHashAggregate; the default sort-based
      // fallback threshold (128 in-memory groups) silently turns both the
      // partial and final aggregates into per-partition sorts — raise it so
      // the merge stays hash-based (buffers are one row per key, bounded
      // by executor memory like any hash agg)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (4 * 1024 * 1024).toString)
      // scan-side task granularity: at 128m a 1GB epoch scans as ~10
      // tasks — 2 ragged waves on 8 cores (45% idle in the tail wave) and
      // the single biggest scaling-efficiency loss measured; 32m gives
      // ≥4 waves of full-width scheduling at every level (the same
      // split-size tuning a real cluster does per executor count)
      .config("spark.sql.files.maxPartitionBytes", "32m")
      .config("spark.local.dir", scratch)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    graft.lake.FastLocalFs.sparkConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // Task-metric totals (cumulative). CPU-seconds is the window-robust
      // scaling signal: a work-conserving plan does the SAME total work at
      // every parallelism level, so flat cpu_sec across the ladder pins
      // any wall-clock efficiency loss on the host (bus contention, steal,
      // scheduling gaps) rather than on engine coordination — measurable
      // even in windows whose wall times are noise. Registered BEFORE the
      // warm-up and baselined after it: the listener bus is asynchronous,
      // so a listener attached between warm-up and the timed run could
      // still receive queued warm-up stage events and book their cpu into
      // the timed window; instead, totals are snapshotted once the queue
      // drains (stable-totals poll) and the timed window reports deltas.
      val runMs = new java.util.concurrent.atomic.AtomicLong
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      val gcMs = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = sc.stageInfo.taskMetrics
            if (m != null) {
              runMs.addAndGet(m.executorRunTime)
              cpuNs.addAndGet(m.executorCpuTime)
              gcMs.addAndGet(m.jvmGCTime)
              ()
            }
          }
        })
      // Listener events are delivered asynchronously: poll until the
      // totals are stable for two consecutive 200ms reads (bounded 5s) —
      // no private listener-bus API needed for a measurement main.
      def drainListener(): Unit = {
        var last = (-1L, -1L, -1L)
        var stable = 0
        var polls = 0
        while (stable < 2 && polls < 25) {
          // gc included: a queued stage event with zero run/cpu delta but
          // nonzero gc could otherwise be booked across the boundary
          val cur = (runMs.get, cpuNs.get, gcMs.get)
          if (cur == last) stable += 1 else { stable = 0; last = cur }
          if (stable < 2) Thread.sleep(200)
          polls += 1
        }
      }

      // JIT/codegen warm-up on a small WAL, then the timed replay
      val base = java.nio.file.Paths.get(scratch)
      val warmTable = new LakeTable(Files.createTempDirectory(base, "graft-warm-").toString, 64)
      Replayer.run(spark, spark.read.parquet(warmWal), warmTable, maxEpoch = 1,
        compactEvery = 2)
      drainListener()
      val (runMs0, cpuNs0, gcMs0) = (runMs.get, cpuNs.get, gcMs.get)

      // the timed window covers the FULL ingest contract: every epoch's
      // delta merge PLUS the final compaction folding deltas into the base
      // tier — the reported events/sec is end-state-queryable throughput,
      // not just log-append speed
      val events = spark.read.parquet(walDir)
      val table = new LakeTable(Files.createTempDirectory(base, "graft-replay-").toString, 64)
      val t0 = System.nanoTime()
      val report = Replayer.run(spark, events, table, maxEpoch = epochs - 1,
        compactEvery = epochs.toInt)
      val dt = (System.nanoTime() - t0) / 1e9
      require(report.epochs.forall(_.result.isDefined))
      require(report.compactions >= 1)
      require(table.currentManifest.exists(_.deltaFiles.isEmpty))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(table.root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(warmTable.root))
      drainListener()
      println(f"REPLAY_SECONDS=$dt%.3f")
      println(f"REPLAY_METRICS=cpu=${(cpuNs.get - cpuNs0) / 1e9}%.3f " +
        f"run=${(runMs.get - runMs0) / 1e3}%.3f " +
        f"gc=${(gcMs.get - gcMs0) / 1e3}%.3f")
    } finally spark.stop()
  }
}
