package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. Launched by `perfbench/run.py`:
  *
  *   --workload pipeline|suite --seed n --seconds s --trace 0|1
  *   --work <dir> --out <result.json> --spans <spans.jsonl>
  *   --t0-ms <launch wall clock, ms> [--data <suite tables dir>]
  *
  * Writes one JSON object to `--out`: operations attempted and failed in
  * this process, the metrics (end-to-end untraced, per-layer traced), the
  * host stamp and what the launcher checks itself: for `pipeline` against
  * its own fold of the change log (`--work`/wal), for `suite` against
  * DuckDB (`--work`/results, `--work`/oracle_sql.json).
  * Traced runs also write every span, one JSON object a line, to
  * `--spans`. */
object Main {
  /** Spark settings shared by every workload. 8 shuffle partitions equal
    * the 8 buckets of the source and mirror tables (the merge aggregate's
    * shuffle then lands every row in its bucket's partition); the 4-bucket
    * domain table pays one file per non-empty partition per commit, which
    * `lake.files_per_commit` shows. The code-generation cache holds every
    * class a run generates (about 300 on `pipeline`, 115 on `suite`): at
    * Spark's default of 100 entries both workloads evict and recompile
    * classes on every epoch or pass (60–85 and 61 compilations), and the
    * timed operations then mostly measure the JIT's pass over fresh
    * classes, which varies from one JVM to the next. The compilations left
    * are counted as `engine.codegen_compiles` and
    * `operators.codegen_compiles`. */
  def sessionConf(cpus: Int, local: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> "8",
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> (4 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> "32m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> local
  ) ++ graft.lake.FastLocalFs.sparkConf.toSeq.filterNot(_._1 == "spark.local.dir")

  /** Fixed single-threaded reference work: 64 MB through SHA-256, timed
    * on its second run. */
  def refSeconds(): Double = {
    refOnce()
    refOnce()
  }
  private def refOnce(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    (0 until 64).foreach(_ => md.update(buf))
    md.digest()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val refStart = refSeconds()
    val local = Files.createDirectories(work.resolve("spark-local")).toString
    val b = SparkSession.builder().appName(s"perfbench-$name")
    val conf = sessionConf(cpus, local)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext, trace)
    val seconds = opt("seconds").toInt
    val t0 = opt("t0-ms").toLong
    val (o, checked) =
      if (name == "suite") {
        val s = new Suite(spark, seconds, work, opt("data"), tr, t0)
        (s.run(), Seq("results_dir" -> Json.str(s.resultsDir.toString),
          "oracle_file" -> Json.str(work.resolve("oracle_sql.json").toString)))
      } else {
        val w = new Workload(spark, seed, seconds, work, tr, t0)
        val o = w.run()
        (o, Seq("source_digest" -> Json.str(o.sourceDigest),
          "wal_dir" -> Json.str(w.walDir.toString),
          "lookups" -> o.lookupLines.map(Json.str).mkString("[", ",", "]")))
      }
    val spans = tr.finish()
    val refEnd = refSeconds()
    val metrics =
      if (trace) Metrics.perLayer(spans, o) :+ ("host.ref_s" -> refEnd)
      else Metrics.endToEnd(o)
    if (trace) Files.write(Paths.get(opt("spans")),
      tr.toJsonLines(spans).mkString("", "\n", "\n").getBytes("UTF-8"))
    val host = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "master" -> Json.str(s"local[$cpus]"),
      "spark_version" -> Json.str(spark.version),
      "ref_s_start" -> f"$refStart%.4f",
      "ref_s_end" -> f"$refEnd%.4f")
    val self = tr.selfSeconds(spans).toSeq.sortBy(_._1)
    spark.stop()
    val json = Json.obj(Seq(
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "problems" -> o.problems.map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> v.toString }),
      // a traced run's own end-to-end figures: their distance from an
      // untraced run of the same seed is the tracing overhead
      "end_to_end" -> Json.obj(Metrics.endToEnd(o).map { case (k, v) => k -> v.toString }),
      "host" -> Json.obj(host),
      "session" -> Json.obj(conf.map { case (k, v) => k -> Json.str(v) }),
      "self_s" -> Json.obj(self.map { case (k, v) => k -> f"$v%.4f" })) ++ checked)
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Metric computation from the run's timings and spans. */
object Metrics {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  /** Nearest-rank percentile; 0 when there is no sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (p == 0.5 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      else s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }

  /** `op_p50_s`: the median epoch (pipeline) or, for the suite, the sum
    * over the queries of each query's median wall. */
  def endToEnd(o: Outcome): Seq[(String, Double)] = Seq(
    "setup_s" -> o.setupS,
    "op_p50_s" ->
      (if (o.queryS.nonEmpty) o.queryS.values.map(q => median(q.toSeq)).sum
       else median(o.epochS.toSeq)),
    "read_p50_s" -> median(o.readS.toSeq))

  /** Program files whose stage task time is reported on its own. */
  val CallSiteFiles = Seq("MergeUpsert", "LakeTable", "Pipeline")

  def perLayer(spans: Seq[Span], o: Outcome): Seq[(String, Double)] = {
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds)
    def med(n: String)(f: Span => Double) = median(named(n).map(f))
    def attr(n: String, k: String) = named(n).flatMap(_.attrs.get(k))
    val pipe = named("engine.pipeline")
    def fileMs(s: Span) = s.taskMsByFile.asScala.map { case (f, v) => f -> v.get.toDouble }
    val taskMs = CallSiteFiles.map { f =>
      s"engine.task_ms.$f" -> median(pipe.map(fileMs(_).getOrElse(f, 0.0)))
    } :+ ("engine.task_ms.other" -> median(pipe.map(
      fileMs(_).collect { case (f, v) if !CallSiteFiles.contains(f) => v }.sum)))
    // per maintenance pass: the outer lake.maint span
    val maint = named("lake.maint").filter(_.parent == 0)
    // suite: one suite pass is one operation
    val queries = spans.filter(_.name.startsWith("operators.query.")).groupBy(_.op).values
    Seq(
      "lake.rows_per_event" -> {
        val ev = attr("engine.pipeline", "events").sum
        if (ev == 0) 0.0 else attr("engine.pipeline", "rows").sum / ev
      },
      "lake.files_per_commit" -> median(o.filesPerCommit.toSeq),
      "lake.bytes_written_per_event" ->
        o.firstCycle.fold(0.0) { case (b, n) => b.toDouble / n },
      "lake.stored_bytes_per_row" -> o.storedBytes.toDouble / math.max(1L, o.liveRows),
      "lake.maint_s" -> median(maint.map(_.seconds)),
      "lake.compact_bytes" -> median(o.compactBytes.toSeq),
      "lake.vacuum_files" -> median(o.vacuumFiles.toSeq),
      "lake.delta_files" -> median(attr("lake.lookup", "delta_files")),
      "lake.manifest_read_s" -> median(secs("lake.manifest_read")),
      "lake.manifest_bytes" -> median(attr("lake.manifest_read", "bytes")),
      "lake.lookup_s.p50" -> pct(secs("lake.lookup"), 0.5),
      "lake.lookup_s.p90" -> pct(secs("lake.lookup"), 0.9),
      "lake.lookup_jobs" -> med("lake.lookup")(_.jobs.get.toDouble),
      "lake.lookup_files" -> median(attr("lake.lookup", "files")),
      "streaming.poll_s" -> median(secs("streaming.poll")),
      "streaming.versions_walked" -> median(attr("streaming.poll", "versions")),
      "streaming.apply_s" -> median(secs("streaming.apply")),
      "streaming.rows" -> median(attr("streaming.apply", "rows")),
      "engine.epoch_s.p50" -> pct(pipe.map(_.seconds), 0.5),
      "engine.epoch_s.p90" -> pct(pipe.map(_.seconds), 0.9),
      "engine.jobs" -> median(pipe.map(_.jobs.get.toDouble)),
      "engine.tasks" -> median(pipe.map(_.tasks.get.toDouble)),
      "engine.cpu_ms" -> median(pipe.map(_.cpuNs.get / 1e6)),
      "engine.codegen_compiles" -> median(pipe.map(_.compiles.toDouble))
    ) ++ taskMs ++ Seq(
      "engine.domain_bytes" -> median(o.domainBytes.toSeq),
      "engine.domain_rows" -> median(o.domainRows.toSeq)
    ) ++ Suite.Reported.map { q =>
      s"operators.query_s.$q" -> median(secs(s"operators.query.$q"))
    } ++ Seq(
      "operators.floor_s" -> median(secs("operators.floor")),
      "operators.jobs" -> median(queries.map(_.map(_.jobs.get.toDouble).sum).toSeq),
      "operators.tasks" -> median(queries.map(_.map(_.tasks.get.toDouble).sum).toSeq),
      "operators.codegen_compiles" -> median(queries.map(_.map(_.compiles.toDouble).sum).toSeq),
      "jvm.gc_ms" -> median(o.gcMsPerEpoch.toSeq),
      "jvm.heap_used_mb" -> o.heapUsedMb)
  }
}
