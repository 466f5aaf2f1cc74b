package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, Maintenance, MergeUpsert}
import graft.transform.Domains

/** Dependency-ordered multi-table incremental pipeline: the engine analogue
  * of the reference's 14-target-table nightly run
  * (/root/reference/Delphi/ArchitecturePlan.md:51-68; step order
  * /root/reference/Delphi/config.yaml:226-241). One source lake table is
  * fed by the WAL replay; N derived OMOP-shaped domain tables are each an
  * incrementally-maintained [[LakeTable]] of their own, updated per epoch
  * in C3 dependency order (person → visit → {condition, drug,
  * measurement}) through the SAME delta-commit merge path as the source —
  * persisted, independently queryable, resumable.
  *
  * Maintenance strategy = '''delta-driven partial recomputation''', the
  * reference's own lookback shape made exact: each epoch touches a set of
  * change keys; every domain declares how those keys map to its GROUP key
  * (`groupExprs`), and the pipeline recomputes ONLY the affected groups
  * from the merged source state, upserting the fresh rows and emitting
  * tombstones for groups that vanished (e.g. a repo whose last path was
  * deleted). Per-epoch domain work is therefore O(rows of affected
  * groups), never O(table):
  *  - the affected-group set is distinct-projected from the epoch batch
  *    and semi-joined against both the source snapshot and the domain
  *    table (no full-table recomputation). The restriction is
  *    '''size-gated''': a normal epoch's group set is broadcast-small and
  *    plans as broadcast semi-joins (plus a LocalRelation fast path with
  *    bucket pruning when the group key IS the merge key); but the set is
  *    O(distinct group keys in the batch), and a full-refresh epoch — or
  *    the catch-up union of many missed epochs — can touch millions of
  *    groups, where a driver collect / forced broadcast becomes the
  *    bottleneck before any executor does. Above
  *    [[Pipeline.broadcastGroupLimit]] the set stays fully distributed
  *    and both restrictions plan as shuffle semi-joins (PlanSpec asserts
  *    BOTH regimes). The gate costs no Spark job: the bound is the sum of
  *    per-epoch `keys=` counts from the source manifest's lineage
  *    registry (groups are functions of the merge key, so distinct
  *    groups ≤ distinct keys);
  *  - group aggregates are partial+final hash aggregates over only the
  *    semi-filtered rows;
  *  - tombstone detection is `affected domain keys EXCEPT recomputed
  *    keys` — both sides already restricted to the affected groups.
  * At 10^10 events the dominant cost is the source-snapshot scan feeding
  * the semi-join; a production layout buckets the source by the hottest
  * group key (repo) so that scan partition-prunes too. Domain rows carry
  * `seq = epoch` so recomputation is idempotent and latest-wins across
  * epochs is total-ordered (re-running an epoch rewrites identical rows).
  *
  * Resume: every table checkpoints independently via its manifest
  * watermark. A crash mid-pipeline (source committed epoch e, person
  * committed e, visit still at e-1) resumes at the MINIMUM watermark + 1;
  * already-committed (table, epoch) pairs skip through the exactly-once
  * merge, and a domain that fell several epochs behind catches up in one
  * merge whose affected-group set unions all missed epochs' batches.
  */
object Pipeline {

  /** Affected-group sets at or below this many group keys are collected /
    * broadcast (LocalRelation fast path + bucket pruning + broadcast
    * semi-joins); above it they stay distributed and the restrictions
    * plan as shuffle semi-joins. 1 M short group keys is O(tens of MB)
    * broadcast — past that the driver materialization is the scale
    * bottleneck. Overridable for tests and tuning via
    * `-Dgraft.pipeline.broadcastGroupLimit=N`. */
  def broadcastGroupLimit: Long =
    sys.props.get("graft.pipeline.broadcastGroupLimit").map(_.toLong)
      .getOrElse(1000000L)

  /** One derived domain table.
    *
    * @param name       domain/table name
    * @param keyCols    the domain table's merge key
    * @param groupExprs recomputation-group key: name → expression over
    *                   CHANGE-EVENT/source rows; the names must also be
    *                   columns of the transform's output (they locate
    *                   existing rows of affected groups for tombstoning).
    *                   For RECOMPUTE-maintained domains these must be
    *                   FUNCTIONS OF THE SOURCE MERGE KEY — a key whose
    *                   group changed between epochs would otherwise leave
    *                   its OLD group stale (the batch only names the new
    *                   one). ALGEBRAIC domains are exempt: the delta fold
    *                   reads a key's old group from the pre-state
    *                   snapshot, so group moves decrement/increment
    *                   exactly. Either way the size gate's bound holds —
    *                   groups touched ≤ 2 × distinct keys per epoch
    * @param transform  (session, source rows restricted to affected
    *                   groups, upstream domain snapshots by name) → the
    *                   current domain rows for those groups
    * @param dependsOn  upstream domains whose epoch-e state this
    *                   transform consumes — the C3 ordering contract
    * @param algebraic  when set, per-epoch maintenance folds key-level
    *                   contribution DELTAS into the existing group rows
    *                   instead of recomputing affected groups — see
    *                   [[algebraicRollup]]
    * @param view       read-time projection from the STORED grain to the
    *                   domain's logical output (see [[readDomain]]) — lets
    *                   a domain store a finer grain than it presents, e.g.
    *                   a distinct-count rollup stored at
    *                   (group ⊗ distinct-value) sub-grain
    */
  final case class DomainDef(
      name: String,
      keyCols: Seq[String],
      groupExprs: Seq[(String, Column)],
      transform: (SparkSession, DataFrame, Map[String, DataFrame]) => DataFrame,
      dependsOn: Seq[String] = Seq.empty,
      algebraic: Option[AlgebraicSpec] = None,
      view: Option[DataFrame => DataFrame] = None)

  /** A domain's LOGICAL state: the live snapshot of its lake table, through
    * the domain's read-time view when one is declared. Consumers (and the
    * oracle assertions) read domains through this; domains without a view
    * read the stored rows directly, zero overhead. */
  def readDomain(spark: SparkSession, d: DomainDef,
                 table: graft.lake.LakeTable): DataFrame = {
    val snap = table.snapshot(spark)
    d.view.fold(snap)(v => v(snap))
  }

  /** The upstream reader handed to domain transforms: a dependency that
    * is itself a domain with a read-time view is consumed through the
    * view ([[readDomain]] — its LOGICAL output), never the stored
    * sub-grain; roots and view-less domains read their stored rows
    * directly, zero overhead. Both pipeline paths ([[epochStep]],
    * [[rebuildDomain]]) build their upstream reader here, so no consumer
    * site can forget the view. */
  private def domainReader(spark: SparkSession, domains: Seq[DomainDef],
      tables: Map[String, LakeTable])(n: String): DataFrame =
    domains.find(_.name == n) match {
      case Some(d) => readDomain(spark, d, tables(n))
      case None => tables(n).snapshot(spark)
    }

  /** Measures of an algebraically-maintained rollup: every measure is a
    * LONG-valued SUM of a per-source-row contribution (`countName` is the
    * implicit `sum(1)` row count — also the domain's liveness predicate:
    * a group folds to a delete tombstone when its count reaches 0).
    * Commutative-group measures only: each live row contributes
    * independently, so an epoch's effect is `post − pre` over the touched
    * keys alone. Extent-dependent aggregates do NOT decompose this way
    * directly: count(DISTINCT x) is recovered by storing the rollup one
    * grain finer — (group, x) with a pure count — and counting live
    * sub-rows at read time (see the `location` domain); max-under-deletes
    * has no finite-grain decomposition, so domains carrying it
    * (care_site, provider) stay on the recompute path. */
  final case class AlgebraicSpec(countName: String,
                                 sums: Seq[(String, Column)]) {
    /** The canonical per-source-row contribution columns — the SINGLE
      * definition both the generated full transform and the delta fold
      * aggregate over. NULL contributions coalesce to 0 HERE, in the one
      * shared place: `sum` ignores NULLs in a recompute while the fold
      * negates explicit values, so without the coalesce, deleting a
      * group's only non-NULL contributor folds the measure to 0 while a
      * later rebuild recomputes it to NULL — a silent drift between the
      * two maintenance paths. */
    def contribs: Seq[(String, Column)] =
      (countName -> lit(1L)) +: sums.map { case (n, c) =>
        n -> coalesce(c.cast("long"), lit(0L)) }
  }

  /** A rollup domain maintained by DELTA FOLDING (incremental algebraic
    * maintenance): per epoch, the engine computes each touched key's
    * contribution under the PRE-epoch source state (time travel to the
    * domain's watermark) and the post-epoch state, folds `post − pre`
    * into the existing group rows, and tombstones groups whose row count
    * reaches zero. Per-epoch cost is O(batch keys' buckets + touched
    * groups) — independent of group width, so a GLOBAL/hot-group rollup
    * (the worst case for recompute maintenance, see the `location`
    * scaladoc) stays O(batch). The generated full transform (used by
    * [[rebuildDomain]], fresh roots, and the vacuumed-pre-state fallback)
    * and the fold derive from the SAME measure spec, so they cannot
    * drift apart. */
  def algebraicRollup(name: String, groupExprs: Seq[(String, Column)],
                      countName: String,
                      sums: Seq[(String, Column)],
                      view: Option[DataFrame => DataFrame] = None): DomainDef = {
    val groupNames = groupExprs.map(_._1)
    val spec = AlgebraicSpec(countName, sums)
    val aggs = spec.contribs
    DomainDef(name, keyCols = groupNames, groupExprs = groupExprs,
      transform = (_, src, _) => src
        .withColumns(groupExprs.toMap)
        .groupBy(groupNames.map(col): _*)
        .agg(sum(aggs.head._2).as(aggs.head._1),
          aggs.tail.map { case (n, c) => sum(c).as(n) }: _*),
      algebraic = Some(spec),
      view = view)
  }

  /** The five OMOP-shaped domains over the source-code change feed,
    * declared in dependency order (person → visit → {condition, drug,
    * measurement}; measurement consumes person — the reference's
    * insert-then-update enrichment made an explicit upstream read). */
  def omopDomains(spark: SparkSession): Seq[DomainDef] = Seq(
    DomainDef("person", Seq("person_source_value"),
      Seq("person_source_value" -> col("repo")),
      (_, src, _) => Domains.personLike(src)),
    DomainDef("visit_occurrence", Seq("repo", "path"),
      Seq("repo" -> col("repo")),
      (_, src, _) => Domains.visitChain(src)),
    DomainDef("condition_occurrence", Seq("repo", "condition_group"),
      Seq("repo" -> col("repo"),
        "condition_group" -> substring_index(col("path"), "/", 2)),
      (_, src, _) => Domains.conditionLike(src)),
    DomainDef("drug_exposure", Seq("repo", "path"),
      Seq("repo" -> col("repo"), "path" -> col("path")),
      (_, src, _) => Domains.drugLike(src)),
    DomainDef("measurement", Seq("repo", "path"),
      Seq("repo" -> col("repo")),
      (s, src, up) => measurementDomain(s, src, up("person")),
      dependsOn = Seq("person")))

  /** The DEEP topology — the reference's FULL 14-step table list made
    * node-for-node (/root/reference/Delphi/ArchitecturePlan.md:51-68;
    * step order /root/reference/Delphi/config.yaml:226-241): the five
    * base domains plus care_site / location / provider (the no-cross-dep
    * dimensions, steps 2-4), the visit chain (6→7), procedure (9),
    * observation → observation_final (11→12 — the reference's two-stage
    * refinement, here a THREE-deep dependency chain visit_occurrence →
    * visit_detail → observation → observation_final), specimen (13,
    * hash-sampled partial membership), observation_period, and note.
    * Catch-up ordering is subtler down the chain: a domain two or three
    * links deep may be further behind than its parent, and each must
    * recompute from its upstream's CURRENT epoch state — PipelineSpec
    * drives the levels lagging by different amounts. */
  def omopDomainsDeep(spark: SparkSession): Seq[DomainDef] =
    omopDomains(spark) ++ Seq(
      DomainDef("visit_detail", Seq("repo", "path"),
        Seq("repo" -> col("repo")),
        (s, src, up) => visitDetailDomain(s, src, up("visit_occurrence")),
        dependsOn = Seq("visit_occurrence")),
      DomainDef("procedure_occurrence", Seq("repo", "path"),
        Seq("repo" -> col("repo")),
        (s, src, up) => procedureDomain(s, src, up("visit_detail")),
        dependsOn = Seq("visit_detail")),
      // OBSERVATION_PERIOD — person-grain A1 rollup (the reference's
      // Omop_Observation_Period shape: one min/max activity span per
      // person, ArchitecturePlan.md:51-68 step list)
      DomainDef("observation_period", Seq("person_source_value"),
        Seq("person_source_value" -> col("repo")),
        (_, src, _) => src.groupBy(col("repo").as("person_source_value"))
          .agg(min(col("updated_seq")).as("period_start_seq"),
            max(col("updated_seq")).as("period_end_seq"),
            count(lit(1)).as("n_observations"))),
      // NOTE — PARTIAL-membership domain: only document-like rows project
      // a note (the reference's CNExT document/notes extracts); a path
      // whose lang drifts to code must TOMBSTONE its note row — the
      // affected-keys-EXCEPT-recomputed path under partial membership
      DomainDef("note", Seq("repo", "path"),
        Seq("repo" -> col("repo"), "path" -> col("path")),
        (_, src, _) => noteDomain(src)),
      // CARE_SITE — step 2, no cross-deps: one row per (repo, top-level
      // dir) "site", a pure rollup dimension
      DomainDef("care_site", Seq("repo", "care_site_dir"),
        Seq("repo" -> col("repo"),
          "care_site_dir" -> substring_index(col("path"), "/", 1)),
        (_, src, _) => src.groupBy(col("repo"),
          substring_index(col("path"), "/", 1).as("care_site_dir"))
          .agg(count(lit(1)).as("n_site_paths"),
            countDistinct(col("lang")).as("n_site_langs"),
            max(col("updated_seq")).as("site_seq"))),
      // LOCATION — step 3, no cross-deps, and the one CROSS-repo grain:
      // logically keyed on the top-level dir alone, with a DISTINCT-COUNT
      // measure (n repos per dir). count(DISTINCT x) is not a
      // commutative-group sum, so it cannot delta-fold directly — but it
      // IS the count of LIVE sub-groups of a pure-count rollup one grain
      // finer. So the table is STORED at (dir, repo) sub-grain, maintained
      // by the standard algebraic fold (a sub-group's path count reaching
      // 0 tombstones it — exactly the "repo left the dir" transition), and
      // the logical (dir)-grain output derives at READ time: count of live
      // sub-rows = n distinct repos. Turns the engine's worst recompute
      // case (a hot dir's group ≈ the whole table) into an O(batch) fold;
      // read-time cost is a partial+final aggregate over |dirs × repos|
      // sub-rows — negligible next to the source. max-under-deletes
      // measures (care_site/provider's *_seq) have no such finite-grain
      // decomposition (a deleted max needs the full multiset) — those
      // domains stay on the recompute path by design.
      algebraicRollup("location",
        Seq("location_dir" -> substring_index(col("path"), "/", 1),
          "location_repo" -> col("repo")),
        countName = "n_location_paths",
        sums = Seq.empty,
        view = Some(df => df
          .groupBy(col("location_dir"))
          .agg(count(lit(1)).as("n_location_repos"),
            sum(col("n_location_paths")).as("n_location_paths")))),
      // PROVIDER — step 4, no cross-deps: one row per (repo, extension)
      DomainDef("provider", Seq("repo", "provider_ext"),
        Seq("repo" -> col("repo"),
          "provider_ext" -> substring_index(col("path"), ".", -1)),
        (_, src, _) => src.groupBy(col("repo"),
          substring_index(col("path"), ".", -1).as("provider_ext"))
          .agg(count(lit(1)).as("n_provider_paths"),
            max(col("updated_seq")).as("provider_seq"))),
      // OBSERVATION — step 11, under visit_detail in the reference's
      // tree: source rows enriched with the detail rank (link 3 of the
      // chain)
      DomainDef("observation", Seq("repo", "path"),
        Seq("repo" -> col("repo")),
        (s, src, up) => observationDomain(s, src, up("visit_detail")),
        dependsOn = Seq("visit_detail")),
      // OBSERVATION_FINAL — step 12: the reference's explicit two-stage
      // Observation → Observation Final refinement, a domain reading
      // ANOTHER derived domain's epoch state (chain depth 4:
      // visit_occurrence → visit_detail → observation → observation_final)
      DomainDef("observation_final", Seq("repo", "path"),
        Seq("repo" -> col("repo")),
        (s, src, up) => observationFinalDomain(s, src, up("observation")),
        dependsOn = Seq("observation")),
      // SPECIMEN — step 13: deterministic-hash-sampled PARTIAL membership
      // (crc32 of the business key, so membership is a stable function of
      // the key), enriched with the detail rank
      DomainDef("specimen", Seq("repo", "path"),
        Seq("repo" -> col("repo")),
        (s, src, up) => specimenDomain(s, src, up("visit_detail")),
        dependsOn = Seq("visit_detail")),
      // CODE_VALUE — the reference's standalone "Code Value" node
      // (ArchitecturePlan.md:51-68 dependency diagram): a per-language
      // usage dimension, and the engine's first ALGEBRAIC domain — a
      // GLOBAL rollup (10-ish groups, every epoch touches most of them)
      // where recompute maintenance would rescan near the whole source
      // table per epoch; delta folding keeps it O(batch). Note the group
      // key (`lang`) is NOT a function of the merge key — a path whose
      // lang drifts moves between groups, which the fold handles exactly
      // (the pre-state snapshot names the old group)
      algebraicRollup("code_value",
        Seq("lang" -> col("lang")),
        countName = "n_code_paths",
        sums = Seq("total_code_chars" -> length(col("content")))))

  /** VISIT_DETAIL — one detail row per live (repo, path), derived from the
    * VISIT_OCCURRENCE domain table's epoch state (not from the source):
    * the within-repo visit rank over the LAG chain (W3 ROW_NUMBER made
    * deterministic by the (source_seq, path) order). The upstream
    * snapshot is semi-restricted to the affected repos, so per-epoch work
    * stays O(affected groups) even though `up` hands over the full
    * table. */
  def visitDetailDomain(spark: SparkSession, src: DataFrame,
                        visit: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val affRepos = src.select("repo").distinct()
    val w = Window.partitionBy("repo")
      .orderBy(col("source_seq").asc, col("path").asc)
    visit.join(affRepos, Seq("repo"), "left_semi")
      .withColumn("visit_rank", row_number().over(w))
      .select(col("repo"), col("path"), col("commit"), col("source_seq"),
        col("preceding_commit"), col("visit_rank"))
  }

  /** Shared scaffold of the detail-chain consumers: restrict the
    * VISIT_DETAIL epoch state to the repos affected by `src` (the semi
    * peels below the detail table's collapse — O(affected)), then
    * left-join its rank onto the source rows by the detail's merge key. */
  private def enrichedFromDetail(src: DataFrame,
                                 detail: DataFrame): DataFrame = {
    val affRepos = src.select("repo").distinct()
    val d = detail.join(affRepos, Seq("repo"), "left_semi")
      .select(col("repo"), col("path"), col("visit_rank"))
    src.join(d, Seq("repo", "path"), "left")
  }

  /** PROCEDURE_OCCURRENCE — the second link of the chain: source rows of
    * the affected groups enriched from the VISIT_DETAIL table's epoch
    * state (FK join on the detail's own merge key), concept derived from
    * the path extension. Depends on visit_detail which depends on
    * visit_occurrence — a 2-deep domain→domain→domain chain. */
  def procedureDomain(spark: SparkSession, src: DataFrame,
                      detail: DataFrame): DataFrame =
    enrichedFromDetail(src, detail)
      .select(col("repo"), col("path"),
        substring_index(col("path"), ".", -1).as("procedure_concept"),
        col("visit_rank"),
        col("content_sha").as("procedure_source_value"))

  /** OBSERVATION — link 3 of the deep chain: source rows of the affected
    * groups enriched from the VISIT_DETAIL table's epoch state, the
    * observed value being the content length (the reference's
    * Observation step sits under Visit Detail in its dependency tree,
    * config.yaml:226-241). */
  def observationDomain(spark: SparkSession, src: DataFrame,
                        detail: DataFrame): DataFrame =
    enrichedFromDetail(src, detail)
      .select(col("repo"), col("path"),
        col("lang").as("obs_concept"),
        length(col("content")).as("obs_value"),
        col("visit_rank"))

  /** OBSERVATION_FINAL — the reference's second observation pass
    * (Observation (11) → Observation Final (12)): reads the OBSERVATION
    * domain table's epoch state for the affected repos and adds the
    * within-repo value rank — a derived table of a derived table, the
    * deepest link of the chain. */
  def observationFinalDomain(spark: SparkSession, src: DataFrame,
                             obs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val affRepos = src.select("repo").distinct()
    val w = Window.partitionBy("repo")
      .orderBy(col("obs_value").desc, col("path").asc)
    obs.join(affRepos, Seq("repo"), "left_semi")
      .withColumn("obs_rank", row_number().over(w))
      .select(col("repo"), col("path"), col("obs_concept"),
        col("obs_value"), col("obs_rank"))
  }

  /** SPECIMEN — hash-sampled partial membership (P8 made a domain): only
    * keys whose crc32 lands in the sample contribute a specimen row, so
    * membership is a STABLE function of the business key; enrichment from
    * the VISIT_DETAIL epoch state. */
  def specimenDomain(spark: SparkSession, src: DataFrame,
                     detail: DataFrame): DataFrame =
    enrichedFromDetail(
      src.filter(crc32(concat_ws(":", col("repo"), col("path"))) % 4 === 0),
      detail)
      .select(col("repo"), col("path"),
        col("lang").as("specimen_concept"),
        col("content_sha").as("specimen_source_value"),
        col("visit_rank"))

  /** NOTE — one row per live DOCUMENT-like (repo, path): title from the
    * last path segment, cleansed-length stats. Code-language paths
    * contribute no note row, so membership is partial and lang drift
    * across epochs exercises per-key tombstoning. */
  def noteDomain(src: DataFrame): DataFrame = {
    val codeLangs = Seq("scala", "java", "python", "go", "rust", "c")
    // NULL-safe membership: a NULL lang is NOT a code lang, so it keeps
    // its note row — a bare `!isin` would three-value the predicate and
    // silently drop the row (diverging from DomainOracle.noteLines'
    // filterNot, which keeps it)
    src.filter(!coalesce(col("lang"), lit("")).isin(codeLangs: _*))
      .select(col("repo"), col("path"),
        substring_index(col("path"), "/", -1).as("note_title"),
        col("lang").as("note_class"),
        // Spark length() counts CODE POINTS; the oracle mirrors with
        // codePointCount (String.length counts UTF-16 units and diverges
        // on non-BMP content)
        length(col("content")).as("note_chars"))
  }

  /** MEASUREMENT with a real upstream dependency: broadcast
    * concept-dimension lookup (J10) plus an enrichment join against the
    * PERSON domain table's epoch-state (the reference's visit_detail →
    * visit_occurrence FK chain, ArchitecturePlan.md:51-68). The person
    * snapshot is semi-restricted to the affected repos before the
    * enrichment join, so the upstream side of the join is O(affected
    * groups), never a full-table shuffle of person per epoch. */
  def measurementDomain(spark: SparkSession, src: DataFrame,
                        person: DataFrame): DataFrame = {
    val dim = Domains.langDimension(spark)
    // semi-restrict BEFORE renaming the key: the restriction condition
    // must reference the person table's own column so it can peel below
    // the snapshot's latest_by collapse (an alias above the semi blocks
    // the push — PushSemiBelowCollapse does no alias substitution)
    val affKeys = src.select(col("repo").as("person_source_value")).distinct()
    val p = person.join(affKeys, Seq("person_source_value"), "left_semi")
      .select(col("person_source_value").as("repo"),
        col("n_langs").as("repo_n_langs"))
    src.join(broadcast(dim), Seq("lang"), "left")
      .join(p, Seq("repo"), "left")
      .select(col("repo"), col("path"),
        coalesce(col("lang_name"), lit("Unknown")).as("measurement_concept"),
        col("content_sha").as("value_source_value"),
        col("repo_n_langs"))
  }

  final case class TableUpdate(table: String, epoch: Long,
                               result: Option[MergeUpsert.MergeResult])
  final case class PipelineReport(updates: Seq[TableUpdate], compactions: Int) {
    def applied(table: String): Seq[Long] =
      updates.filter(u => u.table == table && u.result.isDefined).map(_.epoch)
  }

  /** Open (or create) the domain tables under `root/<name>`. */
  def openDomainTables(root: String, domains: Seq[DomainDef],
                       numBuckets: Int): Map[String, LakeTable] =
    domains.map(d => d.name ->
      new LakeTable(java.nio.file.Paths.get(root, d.name).toString,
        numBuckets, d.keyCols)).toMap

  /** Drive the source table AND all domain tables through epochs
    * [min-watermark+1, maxEpoch] in dependency order, one [[epochStep]] per
    * epoch. `domains` must be topologically ordered (each `dependsOn` name
    * appears earlier); with none this is the plain WAL replay
    * ([[Replayer.run]]). `compactEvery = k > 0` is the read-amplification
    * dial: after every k-th epoch of the run an INCREMENTAL pass folds each
    * table's buckets holding ≥ k delta files (O(hot buckets), not
    * O(table)), and one FULL compaction of every table with a delta
    * backlog ends the run, so the final state is a pure base tier. */
  def run(spark: SparkSession, events: DataFrame, source: LakeTable,
          domains: Seq[DomainDef], tables: Map[String, LakeTable],
          maxEpoch: Long, upToEpoch: Option[Long] = None,
          compactEvery: Int = 0): PipelineReport = {
    validateTopology(domains, tables)
    val stop = upToEpoch.map(u => math.min(u, maxEpoch)).getOrElse(maxEpoch)
    val all = source +: domains.map(d => tables(d.name))
    val start = all.map(_.lastCommittedEpoch).min + 1
    // this feed only covers epochs <= maxEpoch: if an algebraic domain's
    // pinned post version runs PAST it (a concurrent writer with a LONGER
    // feed advanced the source mid-run), the interval's touched keys
    // cannot be produced from here and the fold must fall back to the
    // pinned full recompute — filtering this feed would silently miss the
    // foreign epochs' keys and commit a wrong rollup that never
    // self-heals. A head watermark <= maxEpoch stays exact even when it
    // exceeds THIS run's stop: epochs are deterministic feed slices, so a
    // concurrent driver over the same feed commits identical content
    val eventsBetween = (lo: Long, hi: Long) =>
      if (hi <= maxEpoch)
        Some(events.filter(col("epoch") > lo && col("epoch") <= hi))
      else None
    var compactions = 0
    val updates = (start to stop).flatMap { e =>
      val ups = epochStep(spark, source, domains, tables, e, eventsBetween)
      if (compactEvery > 0 && (e - start + 1) % compactEvery == 0 &&
          e < stop && foldHotBuckets(spark, all, compactEvery))
        compactions += 1
      ups
    }
    if (compactEvery > 0 && start <= stop) all.foreach { t =>
      if (t.currentManifest.exists(_.deltaFiles.nonEmpty) &&
        Maintenance.compact(spark, t).isDefined) compactions += 1
    }
    PipelineReport(updates, compactions)
  }

  /** Incremental maintenance over `tables`: fold every bucket holding ≥ k
    * delta files. True if any table committed a compaction. Failure (a
    * lost CAS) is non-fatal: the merge-on-read view is already correct. */
  private[graft] def foldHotBuckets(spark: SparkSession,
      tables: Seq[LakeTable], k: Int): Boolean =
    tables.map(t => Maintenance.compactHotBuckets(spark, t,
      minDeltaFiles = k).isDefined).contains(true)

  /** Front-door validation for every driver: dependency order (each
    * `dependsOn` declared earlier) AND DomainDef ↔ existing-table agreement
    * on the merge key — a table's committed keyCols win over the
    * constructor seed, so a changed DomainDef run against an old root
    * would otherwise silently re-key rows under the stale semantics. */
  private[graft] def validateTopology(domains: Seq[DomainDef],
                                      tables: Map[String, LakeTable]): Unit = {
    domains.foldLeft(Set.empty[String]) { (seen, d) =>
      require(d.dependsOn.forall(seen.contains),
        s"domain ${d.name} depends on ${d.dependsOn.mkString(",")} — " +
          "declare upstream domains first (dependency order)")
      seen + d.name
    }
    domains.foreach { d =>
      tables(d.name).currentManifest.foreach { m =>
        require(m.keyCols == d.keyCols,
          s"domain ${d.name}: existing table at ${tables(d.name).root} is " +
            s"keyed on (${m.keyCols.mkString(", ")}) but the DomainDef " +
            s"declares (${d.keyCols.mkString(", ")}) — a key change needs " +
            "a backfill into a fresh root, not an in-place rerun")
      }
    }
  }

  /** THE per-epoch step, shared by every driver ([[run]], hence
    * [[Replayer.run]], and both [[graft.streaming.StreamIngest]] queries):
    * merge epoch `e` into the source, then update every domain that lags
    * `e`, in dependency order.
    *
    * `eventsBetween(lo, hi)` yields the events of epochs (lo, hi], or None
    * when the caller cannot produce them. The batch driver holds its whole
    * feed up to maxEpoch; the streaming form holds only the batch at hand,
    * (e-1, e] — Structured Streaming re-executes a failed batchId with
    * identical content, so a streamed domain is never more than one epoch
    * behind. The one function gives the source batch, each lagging
    * domain's affected events (a catch-up unions every missed epoch into
    * one recomputation), and the algebraic fold's interval. A domain whose
    * missed epochs are unavailable (attached mid-stream) is refused.
    *
    * The post-merge source snapshot is materialized at most once per
    * epoch, and only when a recompute domain updates: every such domain
    * restricts the same live state, and without the cache each would
    * re-run the merge-on-read collapse (the epoch's dominant cost at
    * scale). Algebraic domains read pinned versions instead, so an epoch
    * whose lagging domains are all algebraic — or that has none, as in a
    * plain replay — never builds it. Upstream domain snapshots are NOT
    * materialized: their restriction to the affected groups pushes below
    * the latest_by collapse (see latestPerKey), so each consumer's read is
    * O(affected) — cheaper at scale than persisting O(table) upstream
    * state per epoch. For a VIEWED upstream (today only `location`) the
    * read adds the view's aggregate on top: a restriction on the view's
    * grouping columns still pushes below it and on below the collapse. */
  private[graft] def epochStep(spark: SparkSession, source: LakeTable,
      domains: Seq[DomainDef], tables: Map[String, LakeTable], e: Long,
      eventsBetween: (Long, Long) => Option[DataFrame]): Seq[TableUpdate] = {
    val batch = eventsBetween(e - 1, e).getOrElse(
      throw new IllegalArgumentException(s"no events for epoch $e"))
    // mergeEpoch commits (retrying lost CAS races internally), returns
    // None for an already-committed epoch, or throws
    val srcRes = MergeUpsert.mergeEpoch(spark, source, batch, e)
    var snap: Option[DataFrame] = None
    def sourceSnap: DataFrame = snap.getOrElse {
      val s = source.snapshot(spark)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      snap = Some(s)
      s
    }
    val upstreamSnap: String => DataFrame = domainReader(spark, domains, tables)
    val updates =
      try TableUpdate("source", e, srcRes) +: domains.map { d =>
        val dTable = tables(d.name)
        TableUpdate(d.name, e,
          if (dTable.lastCommittedEpoch >= e) None
          else updateDomain(spark, d, dTable, source, sourceSnap,
            upstreamSnap, eventsBetween, e))
      } finally snap.foreach(_.unpersist(blocking = false))
    // an uncommitted merge must fail the epoch: a streaming checkpoint
    // advancing past it would lose its events for good
    updates.foreach(u => u.result.foreach(r => if (!r.committed)
      throw new IllegalStateException(
        s"${u.table} epoch $e merged but did not commit")))
    updates
  }

  /** Upper bound on the distinct group keys touched in epochs
    * `(fromExclusive, to]` — read from the source manifest's per-epoch
    * lineage (`keys=N` = distinct merge keys after within-batch
    * compaction), costing no Spark job. Groups are functions of the merge
    * key (the DomainDef contract), so distinct groups ≤ Σ per-epoch keys.
    * Any epoch missing from the registry (truncated below the lineage
    * floor, or never committed) returns `Long.MaxValue` — unknown means
    * the scale-safe distributed regime, never a blind broadcast. A
    * PRESENT entry that fails to parse throws (format drift is loud,
    * never a silent all-distributed slowdown —
    * [[graft.lake.EpochLineage]] is the single format/parse pair). */
  private[graft] def affectedKeyBound(source: LakeTable,
      fromExclusive: Long, to: Long): Long =
    source.currentManifest match {
      case None => Long.MaxValue
      case Some(m) =>
        var sum = 0L
        var e = fromExclusive + 1
        while (e <= to) {
          m.lineage.get(s"epoch_$e") match {
            case Some(entry) => sum += graft.lake.EpochLineage.keysOf(entry)
            case None => return Long.MaxValue
          }
          e += 1
        }
        sum
    }

  /** One domain's epoch update, refused when the events it missed are
    * unavailable, then routed by maintenance strategy:
    *  - algebraic domains fold contribution deltas ([[algebraicBatchPlan]];
    *    when the fold's pinned inputs are unavailable they fall back to a
    *    FULL recompute-with-tombstones over a version-pinned snapshot —
    *    the affected-GROUP restriction of the generic path is not sound
    *    for them, since their group keys may move);
    *  - everything else recomputes affected groups ([[domainBatchPlan]])
    *    over the post-merge source snapshot `snap` (evaluated only on this
    *    path), tombstones vanished groups, and merges as epoch `e`. */
  private def updateDomain(spark: SparkSession, d: DomainDef,
                           dTable: LakeTable, source: LakeTable,
                           snap: => DataFrame,
                           upstreamSnap: String => DataFrame,
                           eventsBetween: (Long, Long) => Option[DataFrame],
                           e: Long): Option[MergeUpsert.MergeResult] = {
    val lag = dTable.lastCommittedEpoch
    val affectedEvents = eventsBetween(lag, e).getOrElse(
      throw new IllegalArgumentException(
        s"domain ${d.name} is at epoch $lag, more than one behind batch " +
          s"$e — catch it up with the batch Pipeline.run before streaming"))
    val (batch, cleanup, extraLineage): (DataFrame, () => Unit, Map[String, String]) =
      if (d.algebraic.isDefined) {
        val postV = source.currentVersion
        val rec = Map(s"srcv_v$e" -> postV.toString)
        algebraicBatchPlan(spark, d, dTable, source, postV, eventsBetween, e)
          .map { case (df, cl) => (df, cl, rec) }
          .getOrElse((fullDomainBatch(spark, d, dTable,
            source.snapshotAt(spark, postV), upstreamSnap, e), () => (), rec))
      } else (domainBatchPlan(spark, d, dTable, snap, upstreamSnap,
        affectedEvents, e, affectedKeyBound(source, lag, e)), () => (),
        Map.empty[String, String])
    try MergeUpsert.mergeEpoch(spark, dTable, batch, e, extraLineage)
    catch {
      case scala.util.control.NonFatal(ex) => throw new RuntimeException(
        s"domain ${d.name} failed at epoch $e: ${ex.getMessage}", ex)
    } finally cleanup()
  }

  /** Full recompute-with-tombstones of one domain from a source snapshot,
    * committed at epoch `e`: the TRUNCATE-reload shape shared by
    * [[rebuildDomain]] and the algebraic fallback path. O(table) by
    * design. */
  private def fullDomainBatch(spark: SparkSession, d: DomainDef,
                              dTable: LakeTable, snap: DataFrame,
                              upstreamSnap: String => DataFrame,
                              e: Long): DataFrame = {
    val upstream = d.dependsOn.map(n => n -> upstreamSnap(n)).toMap
    val fresh = reserveSeqName(d.transform(spark, snap, upstream))
    val existing = dTable.snapshot(spark)
    val dels =
      if (existing.columns.isEmpty) fresh.select(d.keyCols.map(col): _*).limit(0)
      else existing.select(d.keyCols.map(col): _*)
        .except(fresh.select(d.keyCols.map(col): _*))
    withMergeOrdering(fresh, dels, e)
  }

  /** The DELTA-FOLD batch for an algebraic domain at epoch `e`, or None if
    * the fold's inputs are unavailable — the caller then takes the
    * (version-pinned) full-recompute path. Unavailable means: the
    * pre-state manifest was vacuumed, the source schema changed inside
    * the interval, or the caller cannot produce the interval's events
    * (the streaming form holds only one batch).
    *
    * VERSION PINNING — the fold's exactness invariant. Both reads are
    * pinned to explicit manifest versions, never "current state":
    * post = `readAt(postV)` (the version the caller sampled), pre =
    * `readAt(the version recorded when the domain committed its own
    * watermark epoch)`. Every algebraic commit records its post version
    * in the domain's lineage (`srcv_v<e>`), so the invariant
    * "domain@L == rollup(source@srcv_v L)" survives the two cases where
    * `versionAtEpoch(L)` would lie:
    *  - catch-up after the source ran AHEAD: the first catch-up epoch
    *    folds to rollup(head) using every key touched up to the PINNED
    *    head watermark (`eventsInRange(L, srcE)`), and the remaining
    *    catch-up epochs fold zero deltas — exact, and cheaper than
    *    re-folding per epoch;
    *  - a CONCURRENT driver advancing the source mid-update (the raced
    *    duplicate-pipeline scenario): the pinned post version makes the
    *    recorded state self-describing regardless of interleaving.
    * `versionAtEpoch(L)` remains the fallback pre-resolution for tables
    * whose epoch L predates lineage recording.
    *
    * Shape (and why it is O(batch) even for a global rollup):
    *  1. the touched keys are the interval's distinct merge keys; their
    *     BUCKET set is collected (bounded by the table's bucket count in
    *     every regime — never key-grain data) to prune both source scans;
    *  2. each touched key's live row contributes `(+1 count, +sums)`
    *     under post and negated under pre; one partial+final hash
    *     aggregate per group key yields the per-group delta. A key whose
    *     GROUP MOVED (e.g. lang drift) appears under its old group in pre
    *     and its new group in post — decrement and increment both land;
    *  3. zero-delta groups drop out (no rewrite of probed-but-unchanged
    *     groups); existing domain rows of the remaining groups are
    *     semi-join-restricted and folded in with a second group-grain
    *     aggregate; count ≤ 0 with an existing row → delete tombstone.
    * The delta frame is persisted for the duration of the merge (it feeds
    * both the restriction and the fold — without the cache the pre/post
    * scans would run twice); the returned cleanup unpersists it. Both
    * semi-joins follow the same broadcast-vs-distributed size gate as the
    * recompute path. */
  /** left_semi restriction on `names` with NULL-SAFE key equality. A
    * usingColumns semi-join compiles to EqualTo, which never matches a
    * NULL key — but `groupBy` treats NULL as a real group (code_value's
    * `lang` is nullable), so an EqualTo restriction silently drops the
    * NULL group from the affected set while the recompute/fold semantics
    * include it: the fold would overwrite the NULL group's existing row
    * with the bare delta. `<=>` keeps restriction and aggregation
    * semantics aligned; Spark still plans a (broadcast) hash join —
    * ExtractEquiJoinKeys accepts EqualNullSafe as an equi-key. Aliased
    * sides make the condition robust when both frames scan the same
    * table (shared-lineage attribute ids). */
  private def nullSafeSemi(left: DataFrame, right: DataFrame,
                           names: Seq[String], bcast: Boolean): DataFrame = {
    val l = left.alias("__semi_l")
    val r0 = right.select(names.map(col): _*).alias("__semi_r")
    val r = if (bcast) broadcast(r0) else r0
    l.join(r, names.map(n => col(s"__semi_l.$n") <=> col(s"__semi_r.$n"))
      .reduce(_ && _), "left_semi")
  }

  private[graft] def algebraicBatchPlan(spark: SparkSession, d: DomainDef,
      dTable: LakeTable, source: LakeTable, postV: Long,
      eventsInRange: (Long, Long) => Option[DataFrame],
      e: Long): Option[(DataFrame, () => Unit)] = {
    val spec = d.algebraic.get
    val groupNames = d.groupExprs.map(_._1)
    val srcKeys = source.keyCols
    val contribs: Seq[(String, Column)] = spec.contribs
    val measureNames = contribs.map(_._1)

    val L = dTable.lastCommittedEpoch
    // the pinned post watermark: on catch-up this may exceed `e`, and the
    // key restriction must cover everything up to IT (domain@e will equal
    // rollup(source@postV) — the engine's catch-up convention: a lagging
    // domain's intermediate epochs may reflect newer source state)
    val srcE = source.readManifest(postV).epochWatermark
    val affectedEvents = eventsInRange(L, srcE).getOrElse(return None)
    val preV: Option[Long] =
      if (L < 0) None // fresh domain: pre = ∅
      else {
        val recorded = dTable.currentManifest
          .flatMap(_.lineage.get(s"srcv_v$L")).flatMap(_.toLongOption)
        val v = recorded.orElse(source.versionAtEpoch(L))
          .filter(source.hasVersion)
        if (v.isEmpty) return None // vacuumed/unknown → full recompute
        v
      }

    val bound = affectedKeyBound(source, L, srcE)
    val small = bound <= broadcastGroupLimit
    val keys0 = affectedEvents.select(srcKeys.map(col): _*).distinct()
    // bucket pruning for BOTH source scans: the collect is bounded by the
    // table's bucket count in every regime (never key-grain data)
    val nb = source.numBuckets
    val buckets: Option[Set[Int]] = {
      val bs = keys0.select(MergeUpsert.bucketOf(nb, srcKeys).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      if (bs.size >= nb) None else Some(bs)
    }
    def contributions(df: DataFrame, sign: Long): DataFrame =
      nullSafeSemi(df, keys0, srcKeys, small)
        .withColumns(d.groupExprs.toMap)
        .select(groupNames.map(col) ++ contribs.map { case (n, c) =>
          (c * lit(sign)).as(n) }: _*)

    val postSnap = source.snapshotAt(spark, postV, buckets)
    val post = contributions(postSnap, 1L)
    val preOpt: Option[Option[DataFrame]] = preV match {
      case None => Some(None)
      case Some(v) =>
        val preSnap = source.snapshotAt(spark, v, buckets)
        // schema drift inside the interval (rename/evolution between the
        // domain's watermark and now) → conservative full recompute
        if (preSnap.columns.toSet != postSnap.columns.toSet) None
        else Some(Some(contributions(preSnap, -1L)))
    }
    preOpt.map { pre =>
      val delta = pre.map(p => post.unionByName(p)).getOrElse(post)
        .groupBy(groupNames.map(col): _*)
        .agg(sum(col(measureNames.head)).as(measureNames.head),
          measureNames.tail.map(n => sum(col(n)).as(n)): _*)
        .filter(measureNames.map(n => col(n) =!= 0L).reduce(_ || _))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deltaKeys = delta.select(groupNames.map(col): _*)
      val existing0 = dTable.snapshot(spark)
      val tagged = delta.withColumn("__existed", lit(0))
      val folded0 =
        if (existing0.columns.isEmpty) tagged
        else tagged.unionByName(
          nullSafeSemi(existing0, deltaKeys, groupNames, small)
          .select(groupNames.map(col) ++ measureNames.map(col): _*)
          .withColumn("__existed", lit(1)))
      val folded = folded0.groupBy(groupNames.map(col): _*)
        .agg(sum(col(measureNames.head)).as(measureNames.head),
          (measureNames.tail.map(n => sum(col(n)).as(n)) :+
            max(col("__existed")).as("__existed")): _*)
      val fresh = folded.filter(col(spec.countName) > 0).drop("__existed")
      val dels = folded
        .filter(col(spec.countName) <= 0 && col("__existed") === 1)
        .select(d.keyCols.map(col): _*)
      (withMergeOrdering(fresh, dels, e), () => {
        delta.unpersist(blocking = false); ()
      })
    }
  }

  /** The (lazy) domain-update batch for epoch `e` — exposed separately
    * from the merge so its physical plan is assertable in PlanSpec.
    * `affectedBound` ≤ [[broadcastGroupLimit]] (a normal epoch): both
    * restrictions are broadcast semi-joins on the affected-group set,
    * never a shuffle of the source or domain table. Above the limit (a
    * full-refresh-scale epoch or a deep catch-up): the group set is never
    * driver-collected and both restrictions plan as shuffle semi-joins —
    * O(batch + affected rows) exchanged, nothing forced through the
    * driver. */
  private[graft] def domainBatchPlan(spark: SparkSession, d: DomainDef,
                           dTable: LakeTable, snap: DataFrame,
                           upstreamSnap: String => DataFrame,
                           affectedEvents: DataFrame,
                           e: Long,
                           affectedBound: Long): DataFrame = {
    val groupNames = d.groupExprs.map(_._1)
    val aff0 = affectedEvents
      .select(d.groupExprs.map { case (n, ex) => ex.as(n) }: _*).distinct()
    val small = affectedBound <= broadcastGroupLimit

    // When the set is gate-small AND the group key IS the table's merge
    // key (person, condition, drug), collect it ONCE — both semi-joins
    // broadcast it anyway — so the bucket-ID derivation and both joins
    // work from a LocalRelation instead of re-scanning the epoch batch
    // per consumer, and the tombstone probe can scan only the buckets
    // those keys hash to.
    val (aff, prunedBuckets): (DataFrame, Option[Set[Int]]) =
      if (small && groupNames == dTable.keyCols &&
          dTable.currentManifest.isDefined) {
        import scala.jdk.CollectionConverters._
        val rows = aff0.collect()
        val local = spark.createDataFrame(rows.toList.asJava, aff0.schema)
        val nb = dTable.numBuckets
        // driver-side: the rows are already local, and the previous
        // distinct+collect over the LocalRelation cost two Spark stages
        // per domain-epoch for <= numBuckets integers
        val bucketFn = MergeUpsert.localBucketOf(aff0.schema, groupNames, nb)
        (local, Some(rows.iterator.map(bucketFn).toSet))
      } else (aff0, None)

    // source rows of the affected groups only (semi-join over the
    // caller's per-epoch materialized snapshot)
    val snapRestricted = nullSafeSemi(
        snap.withColumns(d.groupExprs.toMap), aff, groupNames, small)
      .select(snap.columns.toIndexedSeq.map(col): _*)

    val upstream: Map[String, DataFrame] =
      d.dependsOn.map(n => n -> upstreamSnap(n)).toMap
    val fresh = reserveSeqName(d.transform(spark, snapRestricted, upstream))

    // groups that vanished: previously-present domain keys of affected
    // groups with no recomputed row → delete tombstones; scanned with the
    // bucket pruning derived above where the group key is the merge key
    val existing = dTable.snapshot(spark, prunedBuckets)
    val dels =
      if (existing.columns.isEmpty) fresh.select(d.keyCols.map(col): _*).limit(0)
      else nullSafeSemi(existing, aff, groupNames, small)
        .select(d.keyCols.map(col): _*)
        .except(fresh.select(d.keyCols.map(col): _*))
    withMergeOrdering(fresh, dels, e)
  }

  /** `updated_seq` is the lake's reserved merge-ordering column; a domain
    * attribute carrying that name (visitChain/drugLike expose the source
    * row's seq) is preserved under `source_seq`. */
  private def reserveSeqName(fresh0: DataFrame): DataFrame =
    if (fresh0.columns.contains("updated_seq"))
      fresh0.withColumnRenamed("updated_seq", "source_seq") else fresh0

  /** Domain rows order on (seq = epoch, commit): recomputation is
    * deterministic, so re-merging an epoch rewrites identical rows. */
  private def withMergeOrdering(fresh: DataFrame, delKeys: DataFrame,
                                e: Long): DataFrame = {
    val batch = fresh.withColumn("op", lit("U"))
      .unionByName(delKeys.withColumn("op", lit("D")),
        allowMissingColumns = true)
    val withOrd = batch.withColumn("seq", lit(e))
    if (withOrd.columns.contains("commit")) withOrd
    else withOrd.withColumn("commit", lit(""))
  }

  /** DOMAIN BACKFILL — the reference's TRUNCATE-reload full refresh (S8)
    * applied to ONE derived table: recompute the domain's FULL state from
    * the current source snapshot (every group affected, no restriction)
    * and commit it at the source's watermark epoch, tombstoning stale
    * keys. This is the API the [[validateTopology]] re-key error points
    * at: a DomainDef whose key or semantics changed rebuilds into a fresh
    * root, then resumes normal incremental maintenance from the shared
    * watermark (also covers corruption recovery). The target's watermark
    * must be BEHIND the source's — an in-place rebuild of an up-to-date
    * table would have to overwrite its own committed epoch. Upstream
    * domains must be caught up to the source watermark, since the
    * transform reads their CURRENT state. O(table) by design — one
    * full-refresh epoch, exactly the reference's full-refresh day. */
  def rebuildDomain(spark: SparkSession, source: LakeTable, d: DomainDef,
                    tables: Map[String, LakeTable],
                    topology: Seq[DomainDef] = Seq.empty)
      : Option[MergeUpsert.MergeResult] = {
    // `topology` resolves d's upstream DomainDefs so a viewed dependency
    // is consumed through its logical output ([[readDomain]]); a
    // dependency whose def is absent is refused rather than silently fed
    // the stored sub-grain — the def is what says whether a view exists
    d.dependsOn.foreach { n =>
      require(topology.exists(_.name == n),
        s"rebuildDomain(${d.name}): upstream $n's DomainDef is not in " +
          "`topology` — pass the pipeline's domain list so a viewed " +
          "upstream is read through its view, never at stored sub-grain")
    }
    val e = source.lastCommittedEpoch
    require(e >= 0, "rebuildDomain: source table has no committed epochs")
    d.dependsOn.foreach { n =>
      require(tables(n).lastCommittedEpoch == e,
        s"rebuildDomain(${d.name}): upstream $n is at epoch " +
          s"${tables(n).lastCommittedEpoch}, not the source watermark $e " +
          "— catch upstreams up first (the transform reads their current " +
          "state)")
    }
    val dTable = tables(d.name)
    require(dTable.lastCommittedEpoch < e,
      s"rebuildDomain(${d.name}): target is already at epoch " +
        s"${dTable.lastCommittedEpoch} >= source watermark $e — a rebuild " +
        "commits AT the watermark and must go into a fresh (or lagging) " +
        "root")
    dTable.currentManifest.foreach { m =>
      require(m.keyCols == d.keyCols,
        s"rebuildDomain(${d.name}): existing table at ${dTable.root} is " +
          s"keyed on (${m.keyCols.mkString(", ")}) but the DomainDef " +
          s"declares (${d.keyCols.mkString(", ")}) — rebuild a re-keyed " +
          "domain into a fresh root")
    }
    // pin the snapshot version and (for algebraic domains) record it, so
    // incremental delta folding resumes exactly from the rebuilt state
    val postV = source.currentVersion
    MergeUpsert.mergeEpoch(spark, dTable,
      fullDomainBatch(spark, d, dTable, source.snapshotAt(spark, postV),
        domainReader(spark, topology, tables), e), e,
      if (d.algebraic.isDefined) Map(s"srcv_v$e" -> postV.toString)
      else Map.empty)
  }
}
