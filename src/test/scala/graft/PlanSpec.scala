package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan audits: the scale properties SURVEY.md §4.3 promises are
  * asserted here, not eyeballed — filter/column pushdown reaches the
  * parquet scan, dimension joins broadcast, semi/anti joins plan as such,
  * aggregates are partial+final, hot paths stay inside whole-stage
  * codegen, and the ANN "cross join" is a broadcast nested loop (a
  * streamed corpus pass), never a CartesianProduct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("s1 lookback scan: predicate and projection push into the parquet scan") {
    val p = plan("s1_lookback_scan")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("GreaterThanOrEqual(ts"), p)
    // pruned read schema — value column list, not the whole table
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("props"), "untouched column must be pruned:\n" + p)
  }

  test("j10 dimension lookup plans as a broadcast hash join") {
    val p = plan("j10_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j5 IN-subquery plans as a left-semi join") {
    val p = plan("j5_semi_join")
    assert(p.contains("LeftSemi"), p)
  }

  test("anti-join delete detection plans as left-anti") {
    val p = plan("anti_join_deletes")
    assert(p.contains("LeftAnti"), p)
  }

  test("q1 rollup uses two-phase hash aggregation inside codegen") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val p = plan("q1_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), "map-side partial agg expected:\n" + p)
    val cg = df.queryExecution.explainString(ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen subtrees"), cg.take(500))
  }

  test("ann brute force is a broadcast nested loop, never a cartesian product") {
    val p = plan("ann_brute_force")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann scoring uses the NATIVE cosine_sim expression, not interpreted HOFs") {
    // the codegen'd CosineSim cut the |Q|=500 brute rerank 35.1s -> 1.1s;
    // a regression to aggregate(zip_with(...)) would silently undo that
    Seq("ann_brute_force", "ann_lsh_bucketed").foreach { q =>
      val p = plan(q)
      assert(p.contains("cosine_sim"), s"$q lost the native expression:\n" + p)
      assert(!p.contains("zip_with"), s"$q fell back to HOF cosine:\n" + p)
    }
  }

  test("w1 latest-wins plans a single window over one shuffle") {
    val p = plan("w1_latest_wins")
    assert(p.contains("Window"), p)
    // one exchange for the window partitioning, no extra sorts/shuffles
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("merge-apply compaction is a hash aggregate (map-side combining), not a window") {
    import org.apache.spark.sql.functions._
    val ev = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 100)).toDF()
      .withColumn("__bucket", graft.lake.MergeUpsert.bucketOf(4))
    val p = graft.lake.MergeUpsert.latestPerKey(ev)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"),
      "struct-buffer max_by degrades to SortAggregate (per-partition sort):\n" + p)
    assert(!p.contains("Window"), "window would ship every duplicate to one task:\n" + p)
  }

  test("delta merge is ONE shuffle: partial agg -> exchange -> final agg") {
    import org.apache.spark.sql.functions._
    val ev = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 200)).toDF()
    val merged = graft.lake.MergeUpsert.latestPerKey(ev)
      .withColumn("content_sha", sha2(coalesce(col("content"), lit("")), 256))
      .withColumn("bucket", graft.lake.MergeUpsert.bucketOf(16))
    val p = merged.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // formatted explain lists each node twice (tree + details)
    assert("- Exchange".r.findAllIn(p).size == 1,
      "delta merge must shuffle exactly once:\n" + p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final ObjectHashAggregate:\n" + p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("bucketed merge-on-read: lookupKeys, a read with deltas and " +
      "compaction collapse latest-wins with no Exchange") {
    import graft.engine.Replayer
    import graft.lake.{LakeTable, Maintenance}
    val source = new LakeTable(tmpDir("plan-bucketed"), 8)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 400, epochSize = 200)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 1)
    assert(source.currentManifest.get.deltaFiles.nonEmpty,
      "collapse must be active for this test")
    def executed(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val keys = source.snapshot(spark).select("repo", "path").head(4)
      .map(r => Seq[Any](r.getString(0), r.getString(1))).toSeq
    Seq("lookupKeys" -> source.lookupKeys(spark, keys),
        "read" -> source.read(spark)).foreach { case (what, df) =>
      val p = executed(df)
      assert(p.contains("Bucketed: true"), s"$what:\n$p")
      assert(p.contains("latest_by"), s"$what:\n$p")
      assert(!p.contains("Exchange"), s"$what must not shuffle:\n$p")
    }
    // the compaction's write, as Spark executed it
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Maintenance.compact(spark, source).isDefined)
      val deadline = System.nanoTime() + 30000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val p = plans.peek()
    assert(p != null && p.contains("InsertIntoHadoopFsRelationCommand"), p)
    assert(p.contains("Bucketed: true"), p)
    assert(!p.contains("Exchange"), "compaction must not shuffle:\n" + p)
  }

  test("ann lsh rerank dedupes on ids only — vectors never reach an exchange") {
    val p = plan("ann_lsh_bucketed")
    // the only exchanges: pair-dedupe hash agg on (query_id, cand_id) and
    // the window's top-k partitioning; vector columns appear in no
    // hashpartitioning clause
    assert(!p.toLowerCase.contains("hashpartitioning(query_v"), p)
    assert(!p.toLowerCase.contains("hashpartitioning(cand_v"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "band join should broadcast the small query side:\n" + p)
  }

  /** The keys a domain at epoch 0 consumes to reach the source's head at
    * epoch 1, through the pipeline's own key source. */
  private def epochOneKeys(source: graft.lake.LakeTable) =
    graft.engine.Pipeline.touchedKeys(spark, source,
      source.versionAtEpoch(0L).get, source.currentVersion)

  test("pipeline domain update restricts via BROADCAST semi-joins — the " +
      "source and domain tables are never shuffled to find affected groups") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Pipeline, Replayer}
    import graft.lake.LakeTable
    val source = new LakeTable(tmpDir("plan-src"), 4)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 400, epochSize = 200)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 0)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("plan-dom"), domains, 2)
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 0)
    Replayer.run(spark, events, source, maxEpoch = 1)
    // epoch-1 update plan for condition (derived group key, non-key group)
    val d = domains.find(_.name == "condition_occurrence").get
    val batch = Pipeline.domainBatchPlan(spark, d, tables(d.name),
      tables(d.name).currentManifest, source.snapshot(spark),
      n => tables(n).snapshot(spark), epochOneKeys(source), 1L)
    val p = batch.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert("BroadcastHashJoin LeftSemi".r.findAllIn(p).size >= 2,
      "both the source-snapshot and domain-table restrictions must be " +
        "broadcast semi-joins:\n" + p)
    assert(p.contains("BroadcastHashJoin LeftAnti"),
      "tombstone detection (affected keys EXCEPT recomputed) must " +
        "broadcast too:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline domain update ABOVE the broadcast gate keeps the " +
      "affected-group set distributed — no driver collect, no forced " +
      "broadcast: shuffle semi-joins") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Pipeline, Replayer}
    import graft.lake.LakeTable
    val source = new LakeTable(tmpDir("plan-big-src"), 4)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 400, epochSize = 200)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 0)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("plan-big-dom"), domains, 2)
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 0)
    Replayer.run(spark, events, source, maxEpoch = 1)
    // person: group key == merge key, so the SMALL regime would collect a
    // LocalRelation + bucket-prune; the LARGE regime (gate closed at 0)
    // must do neither. Disable Spark's own size-estimate broadcasting so
    // the assertion sees the gate's choice, not a stats-based rescue of
    // tiny test data.
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    System.setProperty("graft.pipeline.broadcastGroupLimit", "0")
    try {
      val person = domains.find(_.name == "person").get
      val batch = Pipeline.domainBatchPlan(spark, person, tables("person"),
        tables("person").currentManifest, source.snapshot(spark),
        n => tables(n).snapshot(spark), epochOneKeys(source), 1L)
      val p = batch.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("LocalTableScan"),
        "large regime must not driver-collect the group set:\n" + p)
      assert(!p.contains("BroadcastHashJoin"),
        "large regime must not force a broadcast of the group set:\n" + p)
      assert("LeftSemi".r.findAllIn(p).size >= 2,
        "both restrictions must still be semi-joins:\n" + p)
      assert(!p.contains("CartesianProduct"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      System.clearProperty("graft.pipeline.broadcastGroupLimit")
    }
  }

  test("tombstone probe bucket-prunes the domain table when group key == merge key") {
    import org.apache.spark.sql.functions._
    import graft.engine.Pipeline
    import graft.lake.LakeTable
    import graft.model.ChangeEvent
    import spark.implicits._
    // epoch 0 spreads 16 repos over the person table's 8 buckets
    val e0 = (0 until 16).map(i => ChangeEvent(i.toLong, 0L, "I", s"repo-$i",
      s"src/a/f$i.scala", s"c$i", "scala", s"b$i", 1))
    // epoch 1 touches ONE repo
    val e1 = Seq(ChangeEvent(16L, 1L, "U", "repo-3", "src/a/f3.scala",
      "c16", "scala", "b16", 1))
    val source = new LakeTable(tmpDir("prune-src"), 4)
    val domains = Pipeline.omopDomains(spark)
    val tables = Pipeline.openDomainTables(tmpDir("prune-dom"), domains, 8)
    val events = (e0 ++ e1).toDF()
    Pipeline.run(spark, events, source, domains, tables, maxEpoch = 0)
    graft.lake.MergeUpsert.mergeEpoch(spark, source,
      events.filter(col("epoch") === 1), 1L)
    val person = domains.find(_.name == "person").get
    val pTable = tables("person")
    val allPersonFiles = pTable.currentManifest.get.files.map(_.path).toSet
    assert(allPersonFiles.size >= 4, "need multiple buckets to prune across")
    val batch = Pipeline.domainBatchPlan(spark, person, pTable,
      pTable.currentManifest, source.snapshot(spark),
      n => tables(n).snapshot(spark), epochOneKeys(source), 1L)
    val readPersonFiles = batch.inputFiles.toSet
      .map((p: String) => new java.net.URI(p).getPath)
      .filter(allPersonFiles.contains)
    assert(readPersonFiles.nonEmpty, "the tombstone probe must read the bucket")
    assert(readPersonFiles.size < allPersonFiles.size,
      s"expected a pruned scan, read all ${allPersonFiles.size} files")
    assert(readPersonFiles.map(f =>
      "bucket=\\d+".r.findFirstIn(f).get).size == 1,
      s"all files read must come from the single affected bucket: $readPersonFiles")
  }

  test("a key-restricted snapshot probe pushes the semi-join BELOW the " +
      "latest_by collapse to the scan — O(affected), never " +
      "collapse-the-world (latestPerKey projects grouping attributes)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import graft.engine.Replayer
    import graft.lake.LakeTable
    import spark.implicits._
    val source = new LakeTable(tmpDir("push-src"), 4)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 400, epochSize = 200)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 1)
    assert(source.currentManifest.get.deltaFiles.nonEmpty,
      "collapse must be active for this test")
    val aff = Seq("repo-1", "repo-2").toDF("repo")
    val restricted = source.snapshot(spark)
      .join(broadcast(aff), Seq("repo"), "left_semi")
    val opt = restricted.queryExecution.optimizedPlan
    val semis = opt.collect { case j: Join if j.joinType == LeftSemi => j }
    assert(semis.nonEmpty, "expected a LeftSemi join:\n" + opt)
    assert(semis.forall(j =>
      j.left.collect { case a: Aggregate => a }.isEmpty),
      "the semi-join must sit below the latest_by aggregate (restriction " +
        "pushed to the scan):\n" + opt)
  }

  test("PushSemiBelowCollapse preserves semantics: restricted snapshot " +
      "probes return identical rows with the rule installed and removed") {
    import org.apache.spark.sql.functions._
    import graft.engine.Replayer
    import graft.lake.LakeTable
    import spark.implicits._
    // deltas + tombstones + re-deliveries so the collapse is live and
    // picking a stale version would change visible rows
    val source = new LakeTable(tmpDir("equiv-src"), 4)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(seed = 77L, numEvents = 900, numRepos = 10,
        pathsPerRepo = 6, epochSize = 300, pctInsert = 40, pctUpdate = 35,
        pctDelete = 25, duplicateRate = 100)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 2)
    assert(source.currentManifest.get.deltaFiles.nonEmpty)
    val probes = Seq(
      Seq("repo-1", "repo-4", "repo-7"),            // partial
      (0 until 10).map(i => s"repo-$i"),            // all
      Seq("repo-nope"))                             // none
    probes.foreach { ps =>
      val aff = ps.toDF("repo")
      def probe() = source.snapshot(spark)
        .join(broadcast(aff), Seq("repo"), "left_semi")
      val withRule = probe().collect().map(_.toString).sorted.toSeq
      // build the second DataFrame BEFORE clearing the extension (the
      // lake read path re-installs it); optimization only runs at the
      // action, which executes with the rule absent
      val df2 = probe()
      val saved = spark.experimental.extraOptimizations
      spark.experimental.extraOptimizations = Seq.empty
      try {
        val withoutRule = df2.collect().map(_.toString).sorted.toSeq
        assert(withRule == withoutRule, s"probe $ps diverged")
      } finally spark.experimental.extraOptimizations = saved
    }
  }

  test("deep-chain domain update semi-restricts its UPSTREAM domain table " +
      "— observation_final reads observation via the affected-repo " +
      "semi-join, never a full-table shuffle") {
    import org.apache.spark.sql.functions._
    import graft.engine.{Pipeline, Replayer}
    import graft.lake.LakeTable
    val source = new LakeTable(tmpDir("plan-deep-src"), 4)
    val events = graft.gen.ChangeGen.stream(spark,
      graft.gen.GenConfig(numEvents = 400, epochSize = 200)).toDF()
    Replayer.run(spark, events, source, maxEpoch = 0)
    val deep = Pipeline.omopDomainsDeep(spark)
    val tables = Pipeline.openDomainTables(tmpDir("plan-deep-dom"), deep, 2)
    Pipeline.run(spark, events, source, deep, tables, maxEpoch = 0)
    Replayer.run(spark, events, source, maxEpoch = 1)
    val d = deep.find(_.name == "observation_final").get
    val batch = Pipeline.domainBatchPlan(spark, d, tables(d.name),
      tables(d.name).currentManifest, source.snapshot(spark),
      n => tables(n).snapshot(spark), epochOneKeys(source), 1L)
    val p = batch.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // three semi-restrictions: source snapshot, upstream observation
    // table, and the tombstone probe's domain table — all broadcast
    assert("BroadcastHashJoin LeftSemi".r.findAllIn(p).size >= 3,
      "source, upstream-domain and tombstone restrictions must all be " +
        "broadcast semi-joins:\n" + p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("algebraic delta-fold plan scans ONLY the touched keys' source " +
      "buckets (pre AND post reads pruned) — a hot-group epoch never " +
      "rescans the unaffected source") {
    import org.apache.spark.sql.functions._
    import graft.engine.Pipeline
    import graft.lake.LakeTable
    import graft.model.ChangeEvent
    import spark.implicits._
    // epoch 0 spreads 16 keys over the source's 8 buckets; epoch 1 touches
    // ONE key — but the code_value group ("scala") spans every bucket, so
    // RECOMPUTE maintenance would rescan them all; the fold must not
    val e0 = (0 until 16).map(i => ChangeEvent(i.toLong, 0L, "I", s"repo-$i",
      s"src/a/f$i.scala", s"c$i", "scala", "b" * (i + 1), 1))
    val e1 = Seq(ChangeEvent(16L, 1L, "U", "repo-3", "src/a/f3.scala",
      "c16", "scala", "bigger content", 1))
    val source = new LakeTable(tmpDir("alg-plan-src"), 8)
    val cv = Pipeline.omopDomainsDeep(spark).find(_.name == "code_value").get
    val tables = Pipeline.openDomainTables(tmpDir("alg-plan-dom"), Seq(cv), 2)
    // a file-backed event frame, so "the fold reads none of its files"
    // is a real check (the keys come from the source's delta commits)
    val evDir = tmpDir("alg-plan-events")
    (e0 ++ e1).toDF().write.mode("overwrite").parquet(evDir)
    val events = spark.read.parquet(evDir)
    val eventFiles = events.inputFiles.toSet
      .map((p: String) => new java.net.URI(p).getPath)
    assert(eventFiles.nonEmpty)
    Pipeline.run(spark, events, source, Seq(cv), tables, maxEpoch = 0)
    graft.lake.MergeUpsert.mergeEpoch(spark, source,
      events.filter(col("epoch") === 1), 1L)
    val srcFiles = source.currentManifest.get.files.map(_.path).toSet
    assert(srcFiles.size >= 4, "need multiple source buckets to prune across")
    val batch = Pipeline.algebraicBatchPlan(spark, cv, tables("code_value"),
      tables("code_value").currentManifest, source, epochOneKeys(source),
      1L).get
    val readFiles = batch.inputFiles.toSet
      .map((p: String) => new java.net.URI(p).getPath)
    val readSrcFiles = readFiles.filter(srcFiles.contains)
    assert(readSrcFiles.nonEmpty, "the fold must read the touched bucket")
    assert(readSrcFiles.size < srcFiles.size,
      s"expected pruned source scans, read all ${srcFiles.size} files")
    assert(readSrcFiles.forall(f =>
      "bucket=\\d+".r.findFirstIn(f) ==
        "bucket=\\d+".r.findFirstIn(readSrcFiles.head)),
      s"all source files read must come from the touched key's bucket: " +
        readSrcFiles)
    assert(readFiles.intersect(eventFiles).isEmpty,
      s"the fold must not scan the event frame: $readFiles")
    assert(batch.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isEmpty, "the fold plan must hold no cached relation")
    val p = batch.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // ... and the fold produces exactly the moved group's delta row
    val rows = batch.collect()
    assert(rows.length == 1 && rows.head.getAs[String]("lang") == "scala",
      rows.mkString(";"))
  }

  test("j2 left enrichment broadcasts the dimension side") {
    val p = plan("j2_left_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("hash sampling pushes the pmod filter below the scan output") {
    val p = plan("p8_hash_sample")
    // the filter is an expression on event_id — evaluated in the scan stage
    // within whole-stage codegen (the "[codegen id : N]" node annotation),
    // no shuffle at all
    assert(!p.contains("Exchange"), p)
    assert(p.contains("[codegen id :"), p)
  }
}
