package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators mirroring SURVEY.md §2. Each is a thin,
  * Catalyst-friendly composition over DataFrames: filters stay pushable,
  * windows carry explicit total orders (the reference's ROW_NUMBER-without-
  * ORDER-BY nondeterminism, §2.5 W3, is deliberately *not* reproduced), and
  * dimension joins broadcast.
  */
object Relational {

  /** W1 — latest-wins dedupe: keep the newest row per business key.
    * (/root/reference/Delphi/MSSQL_Vertica_Translations/
    *  Omop_Incremental_Condition_Ocurrence.sql:71-78)
    * `order` must be a total order (pass tie-breakers!) for determinism.
    * This is the engine's core merge-apply primitive. */
  def latestWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W2 — first-wins pick (earliest row per key). */
  def firstWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** W4 — LAG(1) preceding-event chain
    * (preceding_visit_occurrence_id, /root/reference/Delphi/
    *  MSSQL_Vertica_Translations/Omop_Incremental_Visit_Ocurrence.sql:117-135). */
  def precedingChain(df: DataFrame, keys: Seq[String], order: Seq[Column],
                     idCol: String, as: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(as, lag(col(idCol), 1).over(w))
  }

  /** J10 — dimension lookup join, broadcast by construction (the
    * concept-vocabulary lookup of the north star). */
  def dimLookup(fact: DataFrame, dim: DataFrame, cond: Column,
                joinType: String = "left"): DataFrame =
    fact.join(broadcast(dim), cond, joinType)

  /** P8 — deterministic hash sampling `ABS(CHECKSUM(id) % 10) = 0`
    * (/root/reference/Delphi/MSSQL_Vertica_Translations/
    *  OMOP_Incremental_Observation.sql:179). Mod-on-id keeps the sample
    * reproducible across engines and partitionings (unlike TABLESAMPLE). */
  def hashSample(df: DataFrame, idCol: String, oneIn: Int): DataFrame =
    df.filter(pmod(col(idCol), lit(oneIn)) === 0)

  /** P9 — subset semi-filter (security-review patient list):
    * left-semi join so only the probe side's columns survive. */
  def subsetFilter(df: DataFrame, subset: DataFrame, keys: Seq[String]): DataFrame =
    df.join(broadcast(subset), keys, "left_semi")

  /** Delete detection — keys present in target but absent from replay
    * (engine-internal extension; the reference never deletes). */
  def missingKeys(target: DataFrame, replay: DataFrame, keys: Seq[String]): DataFrame =
    target.join(replay, keys, "left_anti")

  /** A4 — mode-by-frequency (argmax): most frequent `valueCol` per key,
    * deterministic tie-break on the value itself.
    * (/root/reference/Delphi/MSSQL_Vertica_Translations/Omop_Provider.sql:94-122) */
  def modeBy(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val counted = df.groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__cnt").desc, col(valueCol).asc)
    counted.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__cnt")
  }

  /** A5/S11 — watermark probe: global min over per-group max(ts)
    * (/root/reference/MQ/mosaiq_current_period.sql:14-54). */
  def watermarkProbe(df: DataFrame, groupCol: String, tsCol: String): DataFrame =
    df.groupBy(groupCol).agg(max(col(tsCol)).as("__mx"))
      .agg(min(col("__mx")).as("watermark"))

  /** U1 — union of heterogeneous sub-sources with schema drift:
    * by-name, missing columns padded NULL, then dedupe. */
  def unionDrifted(dfs: Seq[DataFrame], dedupe: Boolean): DataFrame = {
    val u = dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    if (dedupe) u.distinct() else u
  }
}
