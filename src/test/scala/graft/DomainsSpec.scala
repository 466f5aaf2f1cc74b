package graft

import org.apache.spark.sql.functions._

import graft.engine.Replayer
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable
import graft.oracle.FoldOracle
import graft.transform.Domains

/** Domain transforms vs independent plain-Scala oracles computed from the
  * fold-oracle state (SURVEY.md §5: per-operator golden results by an
  * independent in-test implementation). */
class DomainsSpec extends SparkSpec {

  private val cfg = GenConfig(seed = 31L, numEvents = 4000L, numRepos = 10,
    pathsPerRepo = 50, epochSize = 1000L)

  // engine state: replayed lake snapshot
  private lazy val table: LakeTable = {
    val t = new LakeTable(tmpDir("lake"), 4)
    Replayer.run(spark, ChangeGen.stream(spark, cfg).toDF(), t, maxEpoch = 3)
    t
  }
  private lazy val snapshot = table.snapshot(spark)

  // oracle state: the independent fold, with each key's winning seq
  private lazy val oracleRows: Seq[(String, String, String, String, Long)] = {
    val events = (0L until cfg.numEvents).map(ChangeGen.eventAt(cfg, _))
    val m = scala.collection.mutable.Map[(String, String), (String, String, Long)]()
    events.sortBy(e => (e.seq, e.commit)).foreach { e =>
      if (e.op == "D") m.remove((e.repo, e.path))
      else m.update((e.repo, e.path), (e.commit, e.lang, e.seq))
    }
    m.toSeq.map { case ((r, p), (c, l, s)) => (r, p, c, l, s) }
  }

  test("personLike matches per-repo oracle aggregates") {
    val got = Domains.personLike(snapshot)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5))))
      .toMap
    val exp = oracleRows.groupBy(_._1).map { case (repo, rows) =>
      repo -> ((rows.size.toLong,
        rows.map(_._4).distinct.size.toLong,
        rows.map(_._4).distinct.sorted.mkString(";"),
        rows.map(_._2).min,
        rows.map(_._5).max))
    }
    assert(got == exp)
  }

  test("conditionLike start/end seq rollup matches oracle") {
    val got = Domains.conditionLike(snapshot)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    val exp = oracleRows.groupBy { case (r, p, _, _, _) =>
      (r, p.split("/").take(2).mkString("/"))
    }.map { case (k, rows) =>
      k -> ((rows.map(_._5).min, rows.map(_._5).max, rows.size.toLong))
    }
    assert(got == exp)
  }

  test("visitChain preceding_commit matches oracle lag") {
    val got = Domains.visitChain(snapshot)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        Option(r.getString(4))).toMap
    val exp = oracleRows.groupBy(_._1).flatMap { case (_, rows) =>
      val ordered = rows.sortBy(t => (t._5, t._2))
      val lagged = None +: ordered.init.map(t => Some(t._3))
      ordered.zip(lagged).map { case (t, prev) => (t._1, t._2) -> prev }
    }
    assert(got == exp)
  }

  test("drugLike unions drifted schemas by name with NULL padding") {
    val df = Domains.drugLike(snapshot)
    assert(df.columns.toSet ==
      Set("repo", "path", "exposure_concept", "updated_seq", "content_len"))
    val codeLangs = Set("scala", "java", "python", "go", "rust", "c")
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getString(2), r.isNullAt(df.columns.indexOf("content_len"))))).toMap
    val exp = oracleRows.map { case (r, p, _, l, _) =>
      (r, p) -> ((l, !codeLangs.contains(l)))
    }.toMap
    assert(got == exp)
  }

  test("measurementLike samples deterministically and resolves concepts") {
    val dim = Domains.langDimension(spark)
    val df = Domains.measurementLike(snapshot, dim)
    val got = df.select("repo", "path", "measurement_concept").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    // oracle: same murmur3 sample via Spark (the hash itself is the spec),
    // then concept names resolved in Scala
    val sampled = snapshot
      .filter(pmod(abs(hash(col("repo"), col("path"))), lit(10)) === 0)
      .select("repo", "path", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val names = dim.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val exp = sampled.map { case (k, l) => k -> names.getOrElse(l, "Unknown") }
    assert(got == exp)
    assert(got.nonEmpty && got.size < oracleRows.size) // a real subsample
  }
}
