package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Pipeline, Replayer}
import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable
import graft.oracle.{DomainOracle, FoldOracle}

/** Multi-table incremental pipeline (the reference's dependency-ordered
  * 14-table topology, /root/reference/Delphi/ArchitecturePlan.md:51-68):
  * five persisted OMOP-shaped domain lake tables maintained per epoch by
  * delta-driven partial recomputation, each verified against an
  * independent plain-Scala fold oracle, including crash/resume
  * mid-pipeline and a domain catching up from several epochs behind.
  */
class PipelineSpec extends SparkSpec {

  private val cfg = GenConfig(seed = 21L, numEvents = 3000L, numRepos = 12,
    pathsPerRepo = 40, epochSize = 500L)
  private def oracleState = FoldOracle.expectedState(cfg)

  private def fmt(v: Any): String = Option(v).map(_.toString).getOrElse("∅")
  private def lines(df: DataFrame, cols: String*): Seq[String] =
    df.select(cols.map(col): _*).collect()
      .map(r => (0 until r.length).map(i => fmt(r.get(i))).mkString("|"))
      .toSeq.sorted

  private def assertDomains(tables: Map[String, LakeTable],
                            st: Map[(String, String), FoldOracle.State]): Unit = {
    assert(lines(tables("person").snapshot(spark), "person_source_value",
      "n_paths", "n_langs", "langs", "first_path", "modified_seq")
      == DomainOracle.personLines(st), "person")
    assert(lines(tables("visit_occurrence").snapshot(spark), "repo", "path",
      "commit", "source_seq", "preceding_commit")
      == DomainOracle.visitLines(st), "visit_occurrence")
    assert(lines(tables("condition_occurrence").snapshot(spark), "repo",
      "condition_group", "start_seq", "end_seq", "updt_seq", "n_occurrences")
      == DomainOracle.conditionLines(st), "condition_occurrence")
    assert(lines(tables("drug_exposure").snapshot(spark), "repo", "path",
      "exposure_concept", "source_seq", "content_len")
      == DomainOracle.drugLines(st), "drug_exposure")
    assert(lines(tables("measurement").snapshot(spark), "repo", "path",
      "measurement_concept", "value_source_value", "repo_n_langs")
      == DomainOracle.measurementLines(st), "measurement")
  }

  private def assertPersonAndDrug(tables: Map[String, LakeTable],
      st: Map[(String, String), FoldOracle.State]): Unit = {
    assert(lines(tables("person").snapshot(spark), "person_source_value",
      "n_paths", "n_langs", "langs", "first_path", "modified_seq")
      == DomainOracle.personLines(st), "person")
    assert(lines(tables("drug_exposure").snapshot(spark), "repo", "path",
      "exposure_concept", "source_seq", "content_len")
      == DomainOracle.drugLines(st), "drug_exposure")
  }

  private def freshPipeline(): (LakeTable, Seq[Pipeline.DomainDef],
      Map[String, LakeTable]) = {
    val source = new LakeTable(tmpDir("pipe-src"), 8)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-dom"), domains, 4)
    (source, domains, tables)
  }

  private def assertDeepDomains(tables: Map[String, LakeTable],
      st: Map[(String, String), FoldOracle.State]): Unit = {
    assertDomains(tables, st)
    assert(lines(tables("visit_detail").snapshot(spark), "repo", "path",
      "commit", "source_seq", "preceding_commit", "visit_rank")
      == DomainOracle.visitDetailLines(st), "visit_detail")
    assert(lines(tables("procedure_occurrence").snapshot(spark), "repo",
      "path", "procedure_concept", "visit_rank", "procedure_source_value")
      == DomainOracle.procedureLines(st), "procedure_occurrence")
    assert(lines(tables("observation_period").snapshot(spark),
      "person_source_value", "period_start_seq", "period_end_seq",
      "n_observations")
      == DomainOracle.observationPeriodLines(st), "observation_period")
    assert(lines(tables("note").snapshot(spark), "repo", "path",
      "note_title", "note_class", "note_chars")
      == DomainOracle.noteLines(st), "note")
    assert(lines(tables("care_site").snapshot(spark), "repo",
      "care_site_dir", "n_site_paths", "n_site_langs", "site_seq")
      == DomainOracle.careSiteLines(st), "care_site")
    // location is STORED at (dir, repo) sub-grain (distinct-count via the
    // algebraic fold); its logical output reads through the domain view
    val locDef = Pipeline.omopDomainsDeep(spark).find(_.name == "location").get
    assert(lines(Pipeline.readDomain(spark, locDef, tables("location")),
      "location_dir", "n_location_repos", "n_location_paths")
      == DomainOracle.locationLines(st), "location")
    assert(lines(tables("provider").snapshot(spark), "repo", "provider_ext",
      "n_provider_paths", "provider_seq")
      == DomainOracle.providerLines(st), "provider")
    assert(lines(tables("observation").snapshot(spark), "repo", "path",
      "obs_concept", "obs_value", "visit_rank")
      == DomainOracle.observationLines(st), "observation")
    assert(lines(tables("observation_final").snapshot(spark), "repo", "path",
      "obs_concept", "obs_value", "obs_rank")
      == DomainOracle.observationFinalLines(st), "observation_final")
    assert(lines(tables("specimen").snapshot(spark), "repo", "path",
      "specimen_concept", "specimen_source_value", "visit_rank")
      == DomainOracle.specimenLines(st), "specimen")
    assert(lines(tables("code_value").snapshot(spark), "lang",
      "n_code_paths", "total_code_chars")
      == DomainOracle.codeValueLines(st), "code_value")
  }

  test("pipeline maintains all five domain tables epoch-by-epoch " +
      "(per-domain oracle equality, mid-run compaction active)") {
    val (source, domains, tables) = freshPipeline()
    val events = ChangeGen.stream(spark, cfg).toDF()
    val report = Pipeline.run(spark, events, source, domains, tables,
      maxEpoch = 5, compactEvery = 3)
    assert(report.applied("source") == (0L to 5L))
    domains.foreach(d => assert(report.applied(d.name) == (0L to 5L), d.name))
    // final states are pure base tiers (full fold at end of drain)
    (source +: domains.map(d => tables(d.name))).foreach(t =>
      assert(t.currentManifest.get.deltaFiles.isEmpty, t.root))
    assert(FoldOracle.digestOfTable(source.snapshot(spark)) ==
      FoldOracle.digestOfState(oracleState))
    assertDomains(tables, oracleState)
  }

  test("crash mid-pipeline (between domain commits) resumes to the same state") {
    val (source, domains, tables) = freshPipeline()
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 5,
      upToEpoch = Some(2))
    // poison visit_occurrence's transform at epoch 3: source + person
    // commit epoch 3, visit and everything after it stay at epoch 2
    val poisoned = domains.map {
      case d if d.name == "visit_occurrence" =>
        d.copy(transform = (_, _, _) => sys.error("injected crash"))
      case d => d
    }
    intercept[RuntimeException] {
      Pipeline.run(spark, events, source, poisoned, tables, maxEpoch = 5,
        upToEpoch = Some(3))
    }
    assert(source.lastCommittedEpoch == 3)
    assert(tables("person").lastCommittedEpoch == 3)
    assert(tables("visit_occurrence").lastCommittedEpoch == 2)
    assert(tables("measurement").lastCommittedEpoch == 2)
    // resume with the healthy pipeline: min-watermark restart re-enters
    // epoch 3, skips the committed (table, epoch) pairs, finishes the run
    val resumed = Pipeline.run(spark, events, source, domains, tables,
      maxEpoch = 5)
    assert(resumed.applied("source") == (4L to 5L))
    assert(resumed.applied("person") == (4L to 5L))
    assert(resumed.applied("visit_occurrence") == (3L to 5L))
    assertDomains(tables, oracleState)
  }

  test("domains catch up when the source table ran ahead") {
    val (source, domains, tables) = freshPipeline()
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 5,
      upToEpoch = Some(1))
    // source advances alone (an operator replaying outside the pipeline)
    Replayer.run(spark, events, source, maxEpoch = 5)
    assert(source.lastCommittedEpoch == 5)
    assert(tables("person").lastCommittedEpoch == 1)
    val report = Pipeline.run(spark, events, source, domains, tables,
      maxEpoch = 5)
    assert(report.applied("source").isEmpty, "source already done")
    domains.foreach(d => assert(report.applied(d.name) == (2L to 5L), d.name))
    assertDomains(tables, oracleState)
  }

  test("pipeline equals the domain oracles for adversarial generator configs") {
    val configs = Seq(
      // delete-heavy churn over a tiny keyspace with re-delivery: groups
      // vanish and reappear constantly (tombstone path torture)
      GenConfig(seed = 404L, numEvents = 1200, numRepos = 3, pathsPerRepo = 6,
        epochSize = 300, pctInsert = 25, pctUpdate = 35, pctDelete = 40,
        duplicateRate = 150),
      // 40% of events on ONE (repo, path): the hot group recomputes every
      // epoch and must stay exact
      GenConfig(seed = 505L, numEvents = 1600, numRepos = 30, pathsPerRepo = 4,
        epochSize = 400, pctInsert = 60, pctUpdate = 30, pctDelete = 10,
        hotKeyPct = 40))
    configs.foreach { c =>
      val source = new LakeTable(tmpDir("pipe-prop-src"), 4)
      val domains = Pipeline.omopDomains(spark)
      val tables = Pipeline.openDomainTables(tmpDir("pipe-prop-dom"), domains, 2)
      val maxEpoch = (c.numEvents - 1) / c.epochSize
      Pipeline.run(spark, ChangeGen.stream(spark, c).toDF(), source, domains,
        tables, maxEpoch)
      assertDomains(tables, FoldOracle.expectedState(c.copy(duplicateRate = 0)))
    }
  }

  test("DEEP topology: 17 tables (source + 16 domains, the reference's " +
      "full step list incl. the standalone Code Value node) with a 3-deep " +
      "chain (visit_occurrence → visit_detail → observation → " +
      "observation_final) all oracle-match epoch-by-epoch") {
    val source = new LakeTable(tmpDir("pipe-deep-src"), 8)
    val domains = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-deep-dom"), domains, 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    val report = Pipeline.run(spark, events, source, domains, tables,
      maxEpoch = 5, compactEvery = 3)
    domains.foreach(d => assert(report.applied(d.name) == (0L to 5L), d.name))
    assertDeepDomains(tables, oracleState)
  }

  test("multi-level-lag catch-up: links of the deep chain behind by " +
      "DIFFERENT amounts resume in dependency order to the oracle state") {
    val source = new LakeTable(tmpDir("pipe-lag-src"), 8)
    val deep = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-lag-dom"), deep, 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, deep, tables, maxEpoch = 5,
      upToEpoch = Some(2))
    // the chain TAILS stall at 2 (a run that excludes them advances the
    // rest to 3)
    Pipeline.run(spark, events, source,
      deep.filterNot(d => d.name == "procedure_occurrence" ||
        d.name == "observation_final"), tables,
      maxEpoch = 5, upToEpoch = Some(3))
    // then the MIDDLE links stall at 3 (the next run excludes both levels)
    Pipeline.run(spark, events, source,
      deep.filterNot(d => Set("visit_detail", "procedure_occurrence",
        "observation", "observation_final", "specimen")(d.name)), tables,
      maxEpoch = 5, upToEpoch = Some(4))
    assert(source.lastCommittedEpoch == 4)
    assert(tables("visit_occurrence").lastCommittedEpoch == 4)
    assert(tables("visit_detail").lastCommittedEpoch == 3)
    assert(tables("observation").lastCommittedEpoch == 3)
    assert(tables("specimen").lastCommittedEpoch == 3)
    assert(tables("procedure_occurrence").lastCommittedEpoch == 2)
    assert(tables("observation_final").lastCommittedEpoch == 2)
    // full healthy resume: min-watermark restart; each link catches up
    // from its own lag, each epoch reading its upstream's CURRENT state
    val resumed = Pipeline.run(spark, events, source, deep, tables,
      maxEpoch = 5)
    assert(resumed.applied("visit_detail") == (4L to 5L))
    assert(resumed.applied("observation") == (4L to 5L))
    assert(resumed.applied("procedure_occurrence") == (3L to 5L))
    assert(resumed.applied("observation_final") == (3L to 5L))
    assertDeepDomains(tables, oracleState)
  }

  test("a full-refresh-scale run in the DISTRIBUTED regime (broadcast gate " +
      "forced closed) oracle-matches — the reference's full-refresh day, " +
      "decisions.md:43-58, where an epoch touches ~every group") {
    // gate at 0: every epoch's affected-group bound exceeds it, so every
    // domain update takes the shuffle-semi-join path (no driver collect,
    // no bucket pruning) — semantics must be identical to the broadcast
    // fast path
    System.setProperty("graft.pipeline.broadcastGroupLimit", "0")
    try {
      val (source, domains, tables) = freshPipeline()
      // small keyspace ⇒ each 500-event epoch really does touch ~all groups
      val full = cfg.copy(numRepos = 4, pathsPerRepo = 10)
      val events = ChangeGen.stream(spark, full).toDF()
      val report = Pipeline.run(spark, events, source, domains, tables,
        maxEpoch = 5, compactEvery = 3)
      domains.foreach(d => assert(report.applied(d.name) == (0L to 5L), d.name))
      assertDomains(tables, FoldOracle.expectedState(full))
    } finally System.clearProperty("graft.pipeline.broadcastGroupLimit")
  }

  test("affectedKeyBound sums per-epoch distinct-key counts from the " +
      "source lineage and returns MaxValue for unknown epochs") {
    import graft.lake.MergeUpsert
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("bound-src"), 4)
    // epoch 0: 3 distinct keys over 4 events (one within-batch dup)
    MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "x", 1),
      ChangeEvent(1, 0, "I", "r1", "b.scala", "c1", "scala", "x", 1),
      ChangeEvent(2, 0, "I", "r2", "c.go", "c2", "go", "x", 1),
      ChangeEvent(3, 0, "U", "r1", "a.scala", "c3", "scala", "y", 1)
    ).toDF(), 0L)
    // epoch 1: 2 distinct keys
    MergeUpsert.mergeEpoch(spark, source, Seq(
      ChangeEvent(4, 1, "U", "r1", "a.scala", "c4", "scala", "z", 1),
      ChangeEvent(5, 1, "I", "r2", "d.go", "c5", "go", "x", 1)
    ).toDF(), 1L)
    val m = source.currentManifest.get
    assert(Pipeline.affectedKeyBound(m, -1L, 0L) == 3L)
    assert(Pipeline.affectedKeyBound(m, -1L, 1L) == 5L)
    assert(Pipeline.affectedKeyBound(m, 0L, 1L) == 2L)
    // an epoch absent from the registry → unknown → scale-safe MaxValue
    assert(Pipeline.affectedKeyBound(m, 1L, 2L) == Long.MaxValue)
  }

  test("EpochLineage format/parse round-trips; a drifted entry is loud, " +
      "not a silent all-distributed fallback") {
    import graft.lake.EpochLineage
    // round-trip pins the format the size gate depends on: if format()
    // drifts, keysOf() must still find the count or this fails
    assert(EpochLineage.keysOf(
      EpochLineage.format(10L, 7L, 3L, 1L, 7L, 4096L, 4)) == 7L)
    assert(EpochLineage.keysOf("events=1 keys=1") == 1L)
    // a mangled PRESENT entry throws — unknown-means-distributed is for
    // MISSING epochs only, a parse failure is a defect
    val ex = intercept[IllegalStateException] {
      EpochLineage.keysOf("events=1 nkeys=1 monkeys=9")
    }
    assert(ex.getMessage.contains("format drift"))
  }

  test("lineage truncation over a gapped registry fails loudly (the floor " +
      "would otherwise vouch for never-committed epochs)") {
    val gapped = (0 to 9).filterNot(_ == 3)
      .map(e => s"epoch_$e" -> "events=1 keys=1").toMap
    val ex = intercept[IllegalArgumentException] {
      graft.lake.MergeUpsert.truncateLineage(gapped, 0L, 4)
    }
    assert(ex.getMessage.contains("gap"))
  }

  test("rebuildDomain: TRUNCATE-reload of one domain into a fresh root " +
      "reaches the mid-run oracle state and resumes incremental " +
      "maintenance from the shared watermark") {
    import graft.model.ChangeEvent
    val source = new LakeTable(tmpDir("rebuild-src"), 8)
    val deep = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("rebuild-dom"), deep, 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, deep, tables, maxEpoch = 5,
      upToEpoch = Some(3))
    // the old visit_detail root is retired (re-key / semantics-change
    // scenario); the rebuilt table lives in a FRESH root
    val d = deep.find(_.name == "visit_detail").get
    val rebuilt = new LakeTable(tmpDir("rebuild-vd"), 4, d.keyCols)
    val tables2 = tables + ("visit_detail" -> rebuilt)
    assert(Pipeline.rebuildDomain(spark, source, d, tables2, deep).isDefined)
    assert(rebuilt.lastCommittedEpoch == 3)
    // full-refresh state == fold oracle over exactly epochs 0-3
    val st3 = FoldOracle.expectedState(
      (0L until 2000L).map(graft.gen.ChangeGen.eventAt(cfg, _)))
    assert(lines(rebuilt.snapshot(spark), "repo", "path", "commit",
      "source_seq", "preceding_commit", "visit_rank")
      == DomainOracle.visitDetailLines(st3))
    // a rebuild of an already-up-to-date target is refused
    val ex = intercept[IllegalArgumentException] {
      Pipeline.rebuildDomain(spark, source, d, tables2, deep)
    }
    assert(ex.getMessage.contains("fresh (or lagging) root"))
    // incremental maintenance resumes seamlessly over the rebuilt root
    Pipeline.run(spark, events, source, deep, tables2, maxEpoch = 5)
    assertDeepDomains(tables2, oracleState)
  }

  test("algebraic fold stays exact when a concurrent writer advanced " +
      "the source past this run's feed (the foreign epochs' touched keys " +
      "come from the source's own delta commits)") {
    val source = new LakeTable(tmpDir("alg-conc-src"), 4)
    val cv = Pipeline.omopDomainsDeep(spark).find(_.name == "code_value").get
    val tables = Pipeline.openDomainTables(tmpDir("alg-conc-dom"), Seq(cv), 4)
    val events = ChangeGen.stream(spark, cfg).toDF()
    // OUR feed ends at epoch 3; the foreign writer's feed extends further
    val feedA = events.filter(col("epoch") <= 3)
    Pipeline.run(spark, feedA, source, Seq(cv), tables, maxEpoch = 3,
      upToEpoch = Some(2))
    // FOREIGN writer (a longer feed): commits source epochs 3 and 4
    graft.lake.MergeUpsert.mergeEpoch(spark, source,
      events.filter(col("epoch") === 3), 3L)
    graft.lake.MergeUpsert.mergeEpoch(spark, source,
      events.filter(col("epoch") === 4), 4L)
    // our run resumes with the SHORT feed: the pinned post version's
    // watermark (4) exceeds this feed's coverage (maxEpoch = 3), but the
    // fold reads the interval's touched keys from the source's delta
    // commits, so epoch 4's groups are folded too; folding feedA's keys
    // would silently miss them and commit a wrong rollup that never
    // self-heals
    Pipeline.run(spark, feedA, source, Seq(cv), tables, maxEpoch = 3)
    assert(tables("code_value").lastCommittedEpoch == 3)
    val expect = cv.transform(spark, source.snapshot(spark), Map.empty)
    assert(lines(tables("code_value").snapshot(spark), "lang",
      "n_code_paths", "total_code_chars")
      == lines(expect, "lang", "n_code_paths", "total_code_chars"))
  }

  test("algebraic fold and full recompute agree on NULL measure " +
      "contributions (deleting a group's only non-NULL contributor)") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val source = new LakeTable(tmpDir("alg-null-src"), 4)
    val cv = Pipeline.omopDomainsDeep(spark).find(_.name == "code_value").get
    val tables = Pipeline.openDomainTables(tmpDir("alg-null-dom"), Seq(cv), 4)
    val events = Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "abc", 1),
      ChangeEvent(1, 0, "I", "r1", "b.scala", "c1", "scala", null, 1),
      ChangeEvent(2, 1, "D", "r1", "a.scala", "c2", "scala", "", 1)
    ).toDF()
    Pipeline.run(spark, events, source, Seq(cv), tables, maxEpoch = 1)
    // sum() ignores NULLs in a recompute while the fold negates explicit
    // contributions: without the shared coalesce-to-0 the fold would
    // leave chars = 0 here and a later rebuild would recompute NULL
    val got = lines(tables("code_value").snapshot(spark), "lang",
      "n_code_paths", "total_code_chars")
    assert(got == Seq("scala|1|0"), got.toString)
    val expect = lines(cv.transform(spark, source.snapshot(spark), Map.empty),
      "lang", "n_code_paths", "total_code_chars")
    assert(got == expect)
  }

  test("a changed DomainDef merge key against an existing root fails fast") {
    val (source, domains, tables) = freshPipeline()
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 0)
    // rekeying a domain and re-running over the old root would silently
    // merge rows under the committed (stale) key — must be rejected
    val rekeyed = domains.map {
      case d if d.name == "person" =>
        d.copy(keyCols = Seq("person_source_value", "n_langs"))
      case d => d
    }
    val ex = intercept[IllegalArgumentException] {
      Pipeline.run(spark, events, source, rekeyed, tables, maxEpoch = 1)
    }
    assert(ex.getMessage.contains("keyed on"))
  }

  test("source schema evolution mid-run flows through the pipeline") {
    import spark.implicits._
    val source = new LakeTable(tmpDir("pipe-evo-src"), 4)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-evo-dom"), domains, 2)
    val v1 = Seq(
      (0L, 0L, "I", "r1", "src/a/x.scala", "c0", "scala", "b0", 1),
      (1L, 0L, "I", "r1", "src/a/y.java", "c1", "java", "b1", 1)
    ).toDF("seq", "epoch", "op", "repo", "path", "commit", "lang", "content",
      "schemaVersion")
    // epoch 1 adds a `branch` column (the reference's observed drift)
    val v2 = Seq(
      (2L, 1L, "U", "r1", "src/a/x.scala", "c2", "scala", "b2", 2, "main"),
      (3L, 1L, "I", "r2", "src/b/z.go", "c3", "go", "b3", 2, "dev")
    ).toDF("seq", "epoch", "op", "repo", "path", "commit", "lang", "content",
      "schemaVersion", "branch")
    val events = v1.unionByName(v2, allowMissingColumns = true)
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 1)
    // the evolved column lands in the source table; pre-evolution rows NULL
    val m = source.currentManifest.get
    assert(m.schema.fieldNames.contains("branch"))
    val src = source.snapshot(spark).select("path", "branch").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(src == Map("src/a/x.scala" -> Some("main"),
      "src/a/y.java" -> None, "src/b/z.go" -> Some("dev")))
    // domain tables are unaffected by source columns they do not project
    val persons = tables("person").snapshot(spark)
      .select("person_source_value", "n_paths").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(persons == Map("r1" -> 2L, "r2" -> 1L))
    assert(!tables("person").currentManifest.get.schema.fieldNames
      .contains("branch"))
  }

  test("partial-membership domain: lang drift out of the note class " +
      "tombstones the note row while the path stays live elsewhere") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val evs = Seq(
      ChangeEvent(0, 0, "I", "r1", "docs/readme.markdown", "c0", "markdown",
        "v0", 1),
      ChangeEvent(1, 0, "I", "r1", "src/a/x.scala", "c1", "scala", "v1", 1),
      // the markdown path is rewritten as scala: still a live source row,
      // but no longer a note
      ChangeEvent(2, 1, "U", "r1", "docs/readme.markdown", "c2", "scala",
        "v2", 1))
    val source = new LakeTable(tmpDir("pipe-note-src"), 4)
    val deep = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-note-dom"), deep, 2)
    Pipeline.run(spark, evs.toDF(), source, deep, tables, maxEpoch = 1)
    assert(tables("note").snapshot(spark).count() == 0,
      "drifted path must lose its note row")
    assert(tables("note").read(spark)
      .filter(col("path") === "docs/readme.markdown" && col("__deleted"))
      .count() == 1, "the note tombstone must be physical")
    assert(tables("visit_occurrence").snapshot(spark)
      .filter(col("path") === "docs/readme.markdown").count() == 1,
      "the path itself stays live in full-membership domains")
  }

  test("algebraic code_value: a lang drift moves the key between groups " +
      "(old group decremented via the pre-state snapshot) and a vanished " +
      "lang tombstones — identical in BOTH gate regimes") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val evs = Seq(
      ChangeEvent(0, 0, "I", "r1", "a.scala", "c0", "scala", "aaaa", 1),
      ChangeEvent(1, 0, "I", "r1", "b.go", "c1", "go", "bb", 1),
      ChangeEvent(2, 0, "I", "r2", "c.go", "c2", "go", "ccc", 1),
      // epoch 1: a.scala drifts to markdown — scala's count hits 0 (the
      // batch never names "scala"; only the PRE snapshot knows the old
      // group) — and c.go is deleted (go decrements, stays live)
      ChangeEvent(3, 1, "U", "r1", "a.scala", "c3", "markdown", "dddd", 1),
      ChangeEvent(4, 1, "D", "r2", "c.go", "c4", "go", "", 1))
    Seq(None, Some("0")).foreach { gate =>
      gate.foreach(System.setProperty("graft.pipeline.broadcastGroupLimit", _))
      try {
        val source = new LakeTable(tmpDir("alg-src"), 4)
        val cv = Pipeline.omopDomainsDeep(spark)
          .find(_.name == "code_value").get
        val tables = Pipeline.openDomainTables(tmpDir("alg-dom"), Seq(cv), 2)
        Pipeline.run(spark, evs.toDF(), source, Seq(cv), tables, maxEpoch = 1)
        assert(lines(tables("code_value").snapshot(spark), "lang",
          "n_code_paths", "total_code_chars")
          == Seq("go|1|2", "markdown|1|4"), s"gate=$gate")
        // the vanished group's tombstone is physical
        assert(tables("code_value").read(spark)
          .filter(col("lang") === "scala" && col("__deleted")).count() == 1,
          s"gate=$gate")
      } finally gate.foreach(_ =>
        System.clearProperty("graft.pipeline.broadcastGroupLimit"))
    }
  }

  test("algebraic code_value: NULL lang is a real group — the fold's " +
      "null-safe restriction folds its existing row and tombstones it at " +
      "zero, identical in BOTH gate regimes") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val evs = Seq(
      ChangeEvent(0, 0, "I", "r1", "a.x", "c0", null, "aa", 1),
      ChangeEvent(1, 0, "I", "r1", "b.x", "c1", null, "bbb", 1),
      ChangeEvent(2, 0, "I", "r2", "c.go", "c2", "go", "cc", 1),
      // epoch 1: one more NULL-lang path — the fold must pick up the
      // EXISTING (∅, 2) row via a NULL-matching restriction, not
      // overwrite it with the bare delta (EqualTo never matches NULL)
      ChangeEvent(3, 1, "I", "r2", "d.x", "c3", null, "d", 1),
      // epoch 2: every NULL-lang path deleted → count 0 → tombstone
      ChangeEvent(4, 2, "D", "r1", "a.x", "c4", null, "", 1),
      ChangeEvent(5, 2, "D", "r1", "b.x", "c5", null, "", 1),
      ChangeEvent(6, 2, "D", "r2", "d.x", "c6", null, "", 1))
    Seq(None, Some("0")).foreach { gate =>
      gate.foreach(System.setProperty("graft.pipeline.broadcastGroupLimit", _))
      try {
        val source = new LakeTable(tmpDir("alg-null-src"), 4)
        val cv = Pipeline.omopDomainsDeep(spark)
          .find(_.name == "code_value").get
        val tables = Pipeline.openDomainTables(tmpDir("alg-null-dom"), Seq(cv), 2)
        Pipeline.run(spark, evs.toDF(), source, Seq(cv), tables,
          maxEpoch = 2, upToEpoch = Some(1))
        assert(lines(tables("code_value").snapshot(spark), "lang",
          "n_code_paths", "total_code_chars")
          == Seq("go|1|2", "∅|3|6"), s"gate=$gate fold")
        Pipeline.run(spark, evs.toDF(), source, Seq(cv), tables, maxEpoch = 2)
        assert(lines(tables("code_value").snapshot(spark), "lang",
          "n_code_paths", "total_code_chars")
          == Seq("go|1|2"), s"gate=$gate tombstone")
        assert(tables("code_value").read(spark)
          .filter(col("lang").isNull && col("__deleted")).count() == 1,
          s"gate=$gate physical tombstone")
      } finally gate.foreach(_ =>
        System.clearProperty("graft.pipeline.broadcastGroupLimit"))
    }
  }

  test("algebraic maintenance equals the fold oracle under adversarial " +
      "churn (delete-heavy tiny keyspace with re-delivery; a hot key)") {
    val configs = Seq(
      GenConfig(seed = 404L, numEvents = 1200, numRepos = 3, pathsPerRepo = 6,
        epochSize = 300, pctInsert = 25, pctUpdate = 35, pctDelete = 40,
        duplicateRate = 150),
      GenConfig(seed = 505L, numEvents = 1600, numRepos = 30, pathsPerRepo = 4,
        epochSize = 400, pctInsert = 60, pctUpdate = 30, pctDelete = 10,
        hotKeyPct = 40))
    configs.foreach { c =>
      val source = new LakeTable(tmpDir("alg-prop-src"), 4)
      val alg = Pipeline.omopDomainsDeep(spark)
        .filter(d => d.name == "code_value" || d.name == "location")
      val tables = Pipeline.openDomainTables(tmpDir("alg-prop-dom"), alg, 2)
      val maxEpoch = (c.numEvents - 1) / c.epochSize
      Pipeline.run(spark, ChangeGen.stream(spark, c).toDF(), source, alg,
        tables, maxEpoch, compactEvery = 2)
      val st = FoldOracle.expectedState(c.copy(duplicateRate = 0))
      assert(lines(tables("code_value").snapshot(spark), "lang",
        "n_code_paths", "total_code_chars")
        == DomainOracle.codeValueLines(st), c.seed)
      // location: distinct-count via live sub-rows — the delete-heavy
      // config drives "repo's last path in a dir vanishes" transitions
      val locDef = alg.find(_.name == "location").get
      assert(lines(Pipeline.readDomain(spark, locDef, tables("location")),
        "location_dir", "n_location_repos", "n_location_paths")
        == DomainOracle.locationLines(st), c.seed)
    }
  }

  test("algebraic catch-up whose pre-state manifest was VACUUMED falls " +
      "back to the full recompute and still oracle-matches") {
    val source = new LakeTable(tmpDir("alg-vac-src"), 4)
    // recompute domains ride along: their pre-state is vacuumed too
    val doms = Pipeline.omopDomainsDeep(spark).filter(d => Set("person",
      "drug_exposure", "code_value")(d.name))
    val tables = Pipeline.openDomainTables(tmpDir("alg-vac-dom"), doms, 2)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, doms, tables, maxEpoch = 5,
      upToEpoch = Some(1))
    // source runs ahead alone, then vacuum reclaims every manifest at the
    // domain's watermark — the time-travel pre-state is gone
    Replayer.run(spark, events, source, maxEpoch = 5)
    graft.lake.Maintenance.vacuum(source, retainVersions = 1, graceMillis = 0L)
    assert(source.versionAtEpoch(1L).isEmpty, "pre-state must be vacuumed")
    Pipeline.run(spark, events, source, doms, tables, maxEpoch = 5)
    assert(lines(tables("code_value").snapshot(spark), "lang",
      "n_code_paths", "total_code_chars")
      == DomainOracle.codeValueLines(oracleState))
    assertPersonAndDrug(tables, oracleState)
  }

  test("algebraic catch-up across source compactions reads the delta " +
      "files of every version in the interval, not only the head's") {
    val source = new LakeTable(tmpDir("alg-cmp-src"), 4)
    // the recompute domains take their keys from the same delta commits
    val alg = Pipeline.omopDomainsDeep(spark).filter(d => Set("person",
      "drug_exposure", "code_value", "location")(d.name))
    val tables = Pipeline.openDomainTables(tmpDir("alg-cmp-dom"), alg, 2)
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, alg, tables, maxEpoch = 5,
      upToEpoch = Some(1))
    val preV = source.currentVersion
    // the source runs ahead alone, compacting after every epoch and fully
    // at the end: the interval's delta files are all folded into base,
    // while every version since the domains' pre-state is retained
    Replayer.run(spark, events, source, maxEpoch = 5, compactEvery = 1)
    assert(source.hasVersion(preV))
    assert(source.currentManifest.get.deltaFiles.isEmpty,
      "the head must hold no delta files")
    Pipeline.run(spark, events, source, alg, tables, maxEpoch = 5)
    assert(lines(tables("code_value").snapshot(spark), "lang",
      "n_code_paths", "total_code_chars")
      == DomainOracle.codeValueLines(oracleState), "code_value")
    val locDef = alg.find(_.name == "location").get
    assert(lines(Pipeline.readDomain(spark, locDef, tables("location")),
      "location_dir", "n_location_repos", "n_location_paths")
      == DomainOracle.locationLines(oracleState), "location")
    assertPersonAndDrug(tables, oracleState)
  }

  test("a recompute DomainDef grouping on a non-key column fails at " +
      "analysis, naming the domain (groups project from key-only rows)") {
    val source = new LakeTable(tmpDir("pipe-lang-src"), 4)
    // `lang` is no function of the merge key: a path whose lang drifts
    // would leave its old group stale, so the first incremental epoch
    // must refuse the def
    val byLang = Pipeline.DomainDef("lang_usage", Seq("lang"),
      Seq("lang" -> col("lang")),
      (_, src, _) => src.groupBy("lang").agg(count(lit(1)).as("n_paths")))
    val tables = Pipeline.openDomainTables(tmpDir("pipe-lang-dom"),
      Seq(byLang), 2)
    val events = ChangeGen.stream(spark, cfg).toDF()
    val ex = intercept[RuntimeException] {
      Pipeline.run(spark, events, source, Seq(byLang), tables, maxEpoch = 1)
    }
    assert(ex.getMessage.contains("domain lang_usage failed at epoch 1"),
      ex.getMessage)
    assert(ex.getMessage.contains("`lang`"), ex.getMessage)
    assert(tables("lang_usage").lastCommittedEpoch == 0)
  }

  test("rebuildDomain refuses a re-keyed DomainDef against an existing root") {
    val (source, domains, tables) = freshPipeline()
    val events = ChangeGen.stream(spark, cfg).toDF()
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 1,
      upToEpoch = Some(0))
    // the source moves on alone, so person lags: a legal rebuild target
    // but for its key
    Replayer.run(spark, events, source, maxEpoch = 1)
    val rekeyed = domains.find(_.name == "person").get
      .copy(keyCols = Seq("person_source_value", "n_langs"))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.rebuildDomain(spark, source, rekeyed, tables)
    }
    assert(ex.getMessage.contains("keyed on"), ex.getMessage)
    assert(tables("person").lastCommittedEpoch == 0)
  }

  test("deleting a repo's last path tombstones its derived person row") {
    import graft.model.ChangeEvent
    import spark.implicits._
    val evs = Seq(
      ChangeEvent(0, 0, "I", "r1", "src/a/x.scala", "c0", "scala", "v0", 1),
      ChangeEvent(1, 0, "I", "r1", "src/a/y.java", "c1", "java", "v1", 1),
      ChangeEvent(2, 0, "I", "r2", "src/b/z.go", "c2", "go", "v2", 1),
      ChangeEvent(3, 1, "D", "r1", "src/a/x.scala", "c3", "scala", "", 1),
      ChangeEvent(4, 1, "D", "r1", "src/a/y.java", "c4", "java", "", 1))
    val source = new LakeTable(tmpDir("pipe-del-src"), 4)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("pipe-del-dom"), domains, 2)
    Pipeline.run(spark, events = evs.toDF(), source, domains, tables,
      maxEpoch = 1)
    val persons = tables("person").snapshot(spark)
      .select("person_source_value").collect().map(_.getString(0)).toSet
    assert(persons == Set("r2"), "r1's person row must be tombstoned")
    assert(tables("visit_occurrence").snapshot(spark)
      .filter(col("repo") === "r1").count() == 0)
    assert(tables("condition_occurrence").snapshot(spark)
      .filter(col("repo") === "r1").count() == 0)
    // ... and the tombstone is retained physically (late re-delivery safety)
    val raw = tables("person").read(spark)
    assert(raw.filter(col("person_source_value") === "r1" &&
      col("__deleted")).count() == 1)
  }
}
