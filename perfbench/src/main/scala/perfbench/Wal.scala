package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.gen.{ChangeGen, GenConfig}
import graft.model.ChangeEvent

/** The seeded change log, delivered one epoch at a time. Epoch `e` holds
  * the base events `[e·E, (e+1)·E)` of [[ChangeGen.eventAt]] plus the
  * re-deliveries that [[ChangeGen.stream]] schedules into `e` for a log of
  * `cfg.numEvents` events, so a delivered epoch is exactly the rows
  * `ChangeGen.stream(cfg)` holds for it. Each epoch lands as its own
  * parquet directory when it arrives. */
final class Wal(spark: SparkSession, val cfg: GenConfig, dir: Path) {
  private val schema = Encoders.product[ChangeEvent].schema

  private val dupsByEpoch: Map[Long, Array[Long]] = {
    val n = cfg.numEvents
    (n until n + n * cfg.duplicateRate / 1000).map { i =>
      val origin = math.abs(ChangeGen.mix64(cfg.seed ^ (~i))) % n
      (math.min(n - 1, origin + cfg.epochSize) / cfg.epochSize) -> origin
    }.groupMap(_._1)(_._2).map { case (e, os) => e -> os.toArray }
  }

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
  def delivered: Seq[String] = dirs.toSeq
  var events = 0L

  /** Write epoch `e` to its directory; returns the number of events. */
  def deliver(e: Long): Long = {
    import spark.implicits._
    val c = cfg
    val origins = dupsByEpoch.getOrElse(e, Array.empty[Long])
    val base = spark.range(e * c.epochSize, (e + 1) * c.epochSize)
      .map(i => ChangeGen.eventAt(c, i))
    val dups = origins.toSeq.toDS().map(o => ChangeGen.eventAt(c, o).copy(epoch = e))
    val out = dir.resolve(f"e$e%05d").toString
    base.union(dups).write.parquet(out)
    dirs += out
    val n = eventsOf(e)
    events += n
    n
  }

  /** Events in epoch `e`: its base events and its re-deliveries. */
  def eventsOf(e: Long): Long =
    cfg.epochSize + dupsByEpoch.getOrElse(e, Array.empty[Long]).length

  /** The delivered epochs `dirs` as one change frame. */
  def read(paths: Seq[String]): DataFrame = spark.read.schema(schema).parquet(paths: _*)

  /** The business key of the event at `seq`: keys drawn this way follow the
    * generator's skew (Zipf over repos). */
  def keyAt(seq: Long): (String, String) = {
    val ev = ChangeGen.eventAt(cfg, seq)
    (ev.repo, ev.path)
  }
}
