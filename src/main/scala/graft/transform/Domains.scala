package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed per-domain transforms over the merged lake state — the engine
  * mirrors of the reference's OMOP extract queries (north_star: "typed
  * Dataset transforms that mirror the repo's person / condition_occurrence
  * / measurement / drug_exposure mapping logic"). Input is the live
  * snapshot `(repo, path, commit, lang, content, content_sha,
  * updated_seq)`; each transform reproduces the operator shape of its
  * OMOP counterpart with file:line citations.
  *
  * All are pure DataFrame→DataFrame functions: projection/window/join/
  * union compositions Catalyst can push into the snapshot scan. Enrichment
  * is computed BEFORE a single output projection — the reference's
  * insert-then-update passes collapsed per SURVEY.md §2.9 C4.
  */
object Domains {

  /** PERSON — one row per identity context (`repo`), projection + dedupe +
    * aggregate enrichment. Mirrors Omop_Person.sql:19-66 (INSERT of the
    * deduped spine) with its two UPDATE enrichment passes
    * (Omop_Person.sql:72-115) precomputed as joins:
    * race-list aggregation (X1, fn_GetPatientRaces → collect_set) and
    * greatest-of-two change timestamps (F8 → max(updated_seq)). */
  def personLike(snapshot: DataFrame): DataFrame = {
    val spine = snapshot.groupBy("repo").agg(
      count(lit(1)).as("n_paths"),
      countDistinct(col("lang")).as("n_langs"),
      max(col("updated_seq")).as("modified_seq"),      // F8 greatest-of
      array_join(sort_array(collect_set(col("lang"))), ";").as("langs"), // X1
      min(col("path")).as("first_path"))
    spine.select(
      col("repo").as("person_source_value"),           // IDENTITY_CONTEXT
      col("n_paths"), col("n_langs"), col("langs"),
      col("first_path"), col("modified_seq"))
  }

  /** CONDITION_OCCURRENCE — per-group MIN/MAX-COALESCE rollup (A1):
    * start/end seq per `(repo, dir)` condition group. Mirrors
    * Omop_Incremental_Condition_Ocurrence.sql:40-57,102-111 (MIN/MAX over
    * COALESCE grouped by the business keys, MAX(UPDT_DT_TM)), with the
    * W1 latest-wins dedupe already applied upstream by the merge. */
  def conditionLike(snapshot: DataFrame): DataFrame = {
    val dir = substring_index(col("path"), "/", 2)
    snapshot
      .groupBy(col("repo"), dir.as("condition_group"))
      .agg(
        min(coalesce(col("updated_seq"), lit(0L))).as("start_seq"), // A1
        max(coalesce(col("updated_seq"), lit(0L))).as("end_seq"),
        max(col("updated_seq")).as("updt_seq"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") > 0)                 // P2 guard
  }

  /** VISIT_OCCURRENCE — LAG(1) preceding-event chain (W4): each path's
    * previous commit within its repo, ordered by change seq. Mirrors
    * preceding_visit_occurrence_id,
    * Omop_Incremental_Visit_Ocurrence.sql:117-135. */
  def visitChain(snapshot: DataFrame): DataFrame = {
    val w = Window.partitionBy("repo").orderBy(col("updated_seq").asc,
      col("path").asc)
    snapshot.select(
      col("repo"), col("path"), col("commit"), col("updated_seq"),
      lag(col("commit"), 1).over(w).as("preceding_commit"))
  }

  /** DRUG_EXPOSURE — union of heterogeneous sub-sources (U1): the
    * reference unions Pharmacy ∪ Immunization with drifted column sets and
    * post-filters NULL concepts (Omop_Incremental_Drug_Exposure.sql:125-131).
    * Here: code-like langs ∪ doc-like langs, schemas drifted by one
    * column, unioned by name. */
  def drugLike(snapshot: DataFrame): DataFrame = {
    val codeLangs = Seq("scala", "java", "python", "go", "rust", "c")
    val a = snapshot.filter(col("lang").isin(codeLangs: _*))
      .select(col("repo"), col("path"), col("lang").as("exposure_concept"),
        col("updated_seq"), length(col("content")).as("content_len"))
    val b = snapshot.filter(!col("lang").isin(codeLangs: _*))
      .select(col("repo"), col("path"), col("lang").as("exposure_concept"),
        col("updated_seq")) // drifted: no content_len
    a.unionByName(b, allowMissingColumns = true)
      .filter(col("exposure_concept").isNotNull) // U1 post-union filter
  }

  /** MEASUREMENT — broadcast concept-dimension lookup (J10) + the 10%
    * deterministic hash-mod sample (P8,
    * OMOP_Incremental_Observation.sql:179). The dimension is the engine's
    * `OMOP_CODE_VALUE` analogue (Omop_Code_Value.sql:25-62). */
  def measurementLike(snapshot: DataFrame, langDim: DataFrame): DataFrame =
    snapshot
      .filter(pmod(abs(hash(col("repo"), col("path"))), lit(10)) === 0) // P8
      .join(broadcast(langDim), Seq("lang"), "left")                    // J10
      .select(col("repo"), col("path"),
        coalesce(col("lang_name"), lit("Unknown")).as("measurement_concept"),
        col("content_sha").as("value_source_value"),
        col("updated_seq"))

  /** The built-in concept dimension (U3 row-generator shape,
    * Omop_Code_Value.sql:25-62: literal domain blocks unioned). */
  def langDimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("scala", "Scala source"), ("java", "Java source"),
      ("python", "Python source"), ("go", "Go source"),
      ("rust", "Rust source"), ("c", "C source"),
      ("sql", "SQL script"), ("shell", "Shell script"),
      ("markdown", "Markdown document"), ("yaml", "YAML config")
    ).toDF("lang", "lang_name")
  }
}
