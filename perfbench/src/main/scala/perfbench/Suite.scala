package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.oracle.FoldOracle

object Suite {
  /** The timed queries. The text, sketch and similarity kernels of
    * `functions` and the `operators` layer do the work in the first nine;
    * the last is the merge path's latest-wins operator. */
  val Queries: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_embedding_cosine", "ann_lsh_bucketed",
    "ann_ivf", "text_quality", "text_fingerprint", "multimodal_features",
    "doc_parse_explode", "x2_rtf2txt", "cdc_latest_state")

  /** Queries with no DuckDB oracle, checked by properties instead: one row
    * per input document, and the same rows under two scan partition
    * counts. */
  val PropertyChecked: Seq[String] = Seq("text_fingerprint", "multimodal_features")

  /** Timed passes a run makes at least. */
  val MinPasses = 3

  /** The queries whose own time is reported per layer: all but the
    * lightest. */
  val Reported: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_embedding_cosine", "ann_lsh_bucketed",
    "ann_ivf", "text_quality", "multimodal_features", "doc_parse_explode",
    "x2_rtf2txt", "cdc_latest_state")
}

/** The `suite` workload: each query of [[Suite.Queries]] over the seeded
  * tables in `data`, once untimed with its output written as parquet for
  * the launcher's oracle compare and once untimed into Spark's noop sink
  * (the warm-up), then in whole passes over the set into the noop sink
  * until `seconds` have passed, at least [[Suite.MinPasses]]. */
final class Suite(spark: SparkSession, seconds: Int, work: Path, data: String,
                  tr: Tracer, startMs: Long) {
  private val out = new Outcome

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - startMs) / 1e3}%8.2fs] $msg")

  private def query(q: String): DataFrame = SparkEntry.queries(q)(spark, data)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resultsDir: Path = work.resolve("results")

  def run(): Outcome = {
    log("untimed pass")
    Suite.Queries.foreach { q =>
      query(q).coalesce(1).write.parquet(resultsDir.resolve(q).toString)
    }
    Suite.Queries.foreach(q => noop(query(q)))
    log("timed phase")
    out.setupS = (System.currentTimeMillis() - startMs) / 1e3
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline || out.passes < Suite.MinPasses) {
      tr.op += 1
      val g0 = gcMs()
      Suite.Queries.foreach { q =>
        val t0 = System.nanoTime()
        tr.span(s"operators.query.$q") { noop(query(q)) }
        val dt = (System.nanoTime() - t0) / 1e9
        out.queryS.getOrElseUpdate(q, mutable.ArrayBuffer.empty[Double]) += dt
        out.readS += dt
      }
      out.gcMsPerEpoch += (gcMs() - g0).toDouble
      out.heapUsedMb = math.max(out.heapUsedMb,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
      // the per-query job floor: an empty plan through the same sink
      tr.span("operators.floor") { noop(spark.range(0).toDF()) }
      out.passes += 1
      log(f"pass ${out.passes}: ${Suite.Queries.map(out.queryS(_).last).sum}%.3fs " +
        Suite.Queries.map(q => f"$q=${out.queryS(q).last}%.3f").mkString(" "))
    }
    log("checks")
    Suite.PropertyChecked.foreach(propertyCheck)
    Files.writeString(work.resolve("oracle_sql.json"), Json.obj(
      Suite.Queries.filterNot(Suite.PropertyChecked.contains)
        .map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    log("done")
    out
  }

  private def digest(df: DataFrame): (Long, Long, String) = {
    val rows = df.collect().map(_.toSeq.mkString("\u0001")).sorted
    val docs = rows.map(_.split("\u0001", 2).head).distinct.length
    (rows.length.toLong, docs.toLong, FoldOracle.sha256Hex(rows.mkString("\n")))
  }

  /** One row per document, and the same rows when the documents are
    * scanned in many small partitions instead of the session's split. */
  private def propertyCheck(q: String): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet").count()
    def scanParts = spark.read.parquet(s"$data/documents.parquet").rdd.getNumPartitions
    val (partsA, a) = (scanParts, digest(query(q)))
    val small = Seq("spark.sql.files.maxPartitionBytes" -> "16k",
      "spark.sql.files.openCostInBytes" -> "1")
    val saved = small.map { case (k, _) => k -> spark.conf.getOption(k) }
    small.foreach { case (k, v) => spark.conf.set(k, v) }
    val (partsB, b) =
      try (scanParts, digest(query(q)))
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    out.check(s"suite $q: one row per document (${a._1} rows, ${a._2} ids, $docs documents)") {
      a._1 == docs && a._2 == docs
    }
    out.check(s"suite $q: same rows under $partsA and $partsB scan partitions") {
      partsA != partsB && a == b
    }
  }
}
