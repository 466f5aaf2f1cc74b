package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftparquet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Relational, Similarity}
import graft.functions.{Cleansing, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data-pipeline operators), each with a
  * DuckDB-equivalent `oracleSql` where SQL-expressible.
  *
  * Numeric-determinism discipline for the oracle compare: floating-point
  * aggregates are computed as exact integer sums of per-row-rounded cents
  * (`sum(cast(round(x*100) as bigint))`), because per-row IEEE ops are
  * identical across engines while reduction order is not.
  */
object SparkEntry {

  /** A table of the suite's input directory. The schema is read from one
    * parquet footer on the driver: without it every read would run a
    * one-task Spark job to infer the same schema. */
  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    graftparquet.footerSchema(s, path)
      .fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
  }

  /** Exact money aggregate: per-row round to cents, then integer sum. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  /** Flagship: full CDC epoch replay on sf0.001 — WAL-style events table
    * tailed, latest-wins merge per user key, enrichment rollup. */
  def entry(spark: SparkSession): DataFrame =
    queries("cdc_latest_state")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- §2.1 scans / §2.2 filters ------------------------------------
    "s1_lookback_scan" -> ((s, dir) => {
      // S1: lookback-window incremental scan — predicate pushes to parquet
      t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-25 00:00:00").cast("timestamp_ntz"))
        .select("event_id", "user_id", "event_type", "value")
    }),

    "p3_inlist_filter" -> ((s, dir) => {
      // P2 + P3: PK-not-null guard, IN / NOT-IN whitelists
      t(s, dir, "events")
        .filter(col("event_id").isNotNull &&
          col("event_type").isin("click", "view") &&
          !col("user_id").isin(1L, 2L, 3L))
        .select("event_id", "user_id", "event_type")
    }),

    "p4_like_patterns" -> ((s, dir) => {
      // P4: LIKE pattern filters
      t(s, dir, "documents")
        .filter(col("text").like("%spark%") && col("source").like("src1%"))
        .select("doc_id", "source", "n_chars")
    }),

    "p8_hash_sample" -> ((s, dir) => {
      // P8: deterministic 10% mod-sampling
      Relational.hashSample(t(s, dir, "events"), "event_id", 10)
        .select("event_id", "event_type")
    }),

    // ---- §2.3 joins ----------------------------------------------------
    "j1_fk_chain" -> ((s, dir) => {
      // J1: inner equi-join FK chain customer⋈nation⋈region + rollup
      t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(cents(col("c_acctbal"))).as("acctbal_cents"))
    }),

    "j2_left_enrich" -> ((s, dir) => {
      // J2: left-outer enrichment join, dim side broadcast
      Relational.dimLookup(t(s, dir, "orders"), t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          coalesce(col("c_name"), lit("UNKNOWN")).as("cust_name"),
          coalesce(col("c_mktsegment"), lit("NONE")).as("segment"))
    }),

    "j4_range_join" -> ((s, dir) => {
      // J4: equi + BETWEEN interval join (shipped within 90 days of order)
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate").between(col("o_orderdate"),
            col("o_orderdate") + expr("INTERVAL 90 DAY")))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"))
    }),

    "j5_semi_join" -> ((s, dir) => {
      // J5 / P9: IN-subquery as left-semi join
      Relational.subsetFilter(t(s, dir, "orders"),
          t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
            .select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"))
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    }),

    "j7_self_join" -> ((s, dir) => {
      // J7: parent/child self-join — consecutive events of the same user
      val e = t(s, dir, "events")
      val a = e.select(col("event_id").as("eid"), col("user_id").as("uid"),
        col("event_type").as("etype"))
      val b = e.select(col("event_id").as("next_eid"), col("user_id").as("nuid"),
        col("event_type").as("next_etype"))
      a.join(b, col("next_eid") === col("eid") + 1 && col("nuid") === col("uid"))
        .select(col("eid"), col("uid"), col("etype"), col("next_etype"))
    }),

    "j10_broadcast_dim" -> ((s, dir) => {
      // J10: dimension lookup join (concept-vocabulary analogue), broadcast
      Relational.dimLookup(t(s, dir, "lineitem"), t(s, dir, "part"),
          col("l_partkey") === col("p_partkey"), "inner")
        .groupBy("p_brand")
        .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue_cents"))
    }),

    "anti_join_deletes" -> ((s, dir) => {
      // engine-internal left_anti (delete detection): customers w/o orders
      Relational.missingKeys(t(s, dir, "customer"),
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"))
        .select("c_custkey", "c_name")
    }),

    // ---- §2.4 aggregations ----------------------------------------------
    "q1_agg" -> ((s, dir) => {
      // A1: grouped min/max/sum rollup (TPC-H Q1 shape)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty",
          round(col("sum_qty").cast("double") / col("count_order"), 6))
    }),

    "a2_preagg_join" -> ((s, dir) => {
      // A2: pre-aggregate below join (explicit — Catalyst won't push aggs)
      val lastOrder = t(s, dir, "orders").groupBy("o_custkey")
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("n_orders"))
      t(s, dir, "customer")
        .join(lastOrder, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("last_order"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    }),

    "a3_count_distinct" -> ((s, dir) => {
      // A3: COUNT(DISTINCT) per group
      t(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n_events"))
    }),

    "a4_mode_argmax" -> ((s, dir) => {
      // A4: mode-by-frequency via window argmax
      Relational.modeBy(t(s, dir, "events"), Seq("user_id"), "event_type")
    }),

    "a6_distinct" -> ((s, dir) => {
      // A6: DISTINCT dedupe
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    }),

    // ---- §2.5 windows -----------------------------------------------------
    "w1_latest_wins" -> ((s, dir) => {
      // W1: latest-wins dedupe — the engine's core merge-apply operator
      Relational.latestWins(t(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "event_type", "value")
    }),

    "w2_first_wins" -> ((s, dir) => {
      // W2: first-wins pick (earliest purchase per user)
      Relational.firstWins(
          t(s, dir, "events").filter(col("event_type") === "purchase"),
          Seq("user_id"), Seq(col("ts"), col("event_id")))
        .select("user_id", "event_id", "value")
    }),

    "w4_lag_chain" -> ((s, dir) => {
      // W4: LAG(1) preceding-event chain
      Relational.precedingChain(t(s, dir, "events"), Seq("user_id"),
          Seq(col("ts"), col("event_id")), "event_id", "prev_event_id")
        .select("user_id", "event_id", "prev_event_id")
    }),

    // ---- §2.6 sorts / top-k ------------------------------------------------
    "o1_global_topk" -> ((s, dir) => {
      // O1/O2: global total-order sort + top-k with full tie-break
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    }),

    // ---- §2.7 set operations -------------------------------------------------
    "u1_union_dedupe" -> ((s, dir) => {
      // U1: union of heterogeneous sub-sources, dedupe
      val a = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val b = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      Relational.unionDrifted(Seq(a, b), dedupe = true)
    }),

    "u2_union_all" -> ((s, dir) => {
      // U2: UNION ALL keeping duplicates, tagged per branch
      val a = t(s, dir, "customer")
        .select(col("c_nationkey").as("nationkey"), lit("cust").as("src"))
      val b = t(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey"), lit("supp").as("src"))
      a.unionByName(b).groupBy("nationkey", "src").agg(count(lit(1)).as("n"))
    }),

    // ---- §2.8 scalar functions ----------------------------------------------
    "f6_date_functions" -> ((s, dir) => {
      // F6: date arithmetic / formatting / extraction
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        datediff(lit("2026-01-01").cast("date"), col("o_orderdate").cast("date"))
          .as("age_days"))
    }),

    "f7_conditional" -> ((s, dir) => {
      // F7: CASE / COALESCE / NULLIF chains
      t(s, dir, "events").select(
        col("event_id"),
        when(col("value") > 100, "high").when(col("value") > 50, "mid")
          .otherwise("low").as("band"),
        coalesce(nullif(col("event_type"), lit("error")), lit("unknown"))
          .as("etype"))
    }),

    "f10_concat_keys" -> ((s, dir) => {
      // F10 / §1.2 composite keys: concat_ws lineage key assembly
      t(s, dir, "lineitem").select(
        concat_ws("-", col("l_orderkey"), col("l_linenumber")).as("line_pk"),
        concat(lit("160@"), col("l_returnflag")).as("prefixed_code"))
    }),

    // ---- §2.9 CDC-shaped -------------------------------------------------------
    "cdc_latest_state" -> ((s, dir) => {
      // the engine's merge-apply shape on the driver's WAL-ish events table:
      // latest-wins state per key + enrichment rollup columns
      val ev = t(s, dir, "events")
      val latest = Relational.latestWins(ev, Seq("user_id"),
        Seq(col("ts"), col("event_id")))
      val rollup = ev.groupBy(col("user_id").as("r_uid"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("value_cents"),
          max(col("ts")).as("last_ts"))
      latest.join(rollup, col("user_id") === col("r_uid"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("n_events"),
          col("value_cents"), col("last_ts"))
    }),

    "cdc_watermark_probe" -> ((s, dir) => {
      // S11/A5: min-over-max watermark probe
      Relational.watermarkProbe(t(s, dir, "events"), "event_type", "ts")
    }),

    // ---- training-data ops -----------------------------------------------------
    "dedup_exact" -> ((s, dir) => {
      // exact dedupe: canonical doc per content digest
      t(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("content_md5"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
    }),

    "text_tokens" -> ((s, dir) => {
      // token counting (whitespace tokenizer)
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_calc"))
    }),

    "text_quality" -> ((s, dir) => {
      // quality scoring: word stats + stopword ratio
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(TextAnalysis.avgWordLen(col("text")), 6).as("avg_word_len"),
        TextAnalysis.stopwordHits(col("text"), "the").as("the_hits"))
    }),

    "lang_distribution" -> ((s, dir) => {
      // corpus language profile (heuristic lang-id validated vs label col)
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // ---- batch 2: remaining §2 inventory --------------------------------
    "p1_projection_pad" -> ((s, dir) => {
      // P1: wide projection with constant/NULL padding of missing concepts
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        lit("").as("filler"),
        lit(null).cast("string").as("missing_concept"),
        lit(0).as("zero_concept"))
    }),

    "p5_ascii_filter" -> ((s, dir) => {
      // P5: whitespace-code rejection via ASCII()
      t(s, dir, "lineitem")
        .filter(ascii(col("l_returnflag")) =!= 32)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    }),

    "p6_value_quality" -> ((s, dir) => {
      // P6: value-quality filter chain
      t(s, dir, "events")
        .filter(col("value").isNotNull && col("value") > 0 &&
          col("event_type") =!= "error" &&
          upper(col("event_type")) =!= "SIGNUP")
        .select("event_id", "event_type", "value")
    }),

    "p7_join_embedded_filter" -> ((s, dir) => {
      // P7: extra predicates inside the join ON-clause (left join, so
      // placement in ON vs WHERE changes semantics — kept in ON)
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
          col("l_quantity") > 40 && col("o_orderstatus") === "O", "left")
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("big_lines"))
    }),

    "j3_multikey_join" -> ((s, dir) => {
      // J3: multi-column equi-join (composite key)
      val e = t(s, dir, "events")
      val perKey = e.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_same"))
      e.join(perKey, Seq("user_id", "event_type"))
        .select("event_id", "user_id", "event_type", "n_same")
    }),

    "j6_top1_lookup" -> ((s, dir) => {
      // J6/O2: deterministic TOP-1 correlated lookup, decorrelated to a
      // first-wins window + join (house-style note 6 analogue)
      val firstOrder = Relational.firstWins(t(s, dir, "orders"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")))
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderkey").as("first_order"))
      t(s, dir, "customer").join(broadcast(firstOrder), Seq("c_custkey"), "left")
        .select("c_custkey", "c_name", "first_order")
    }),

    "j9_expr_join" -> ((s, dir) => {
      // J9: join on a derived expression key (compute first, then equi-join)
      t(s, dir, "events")
        .withColumn("nk", pmod(col("user_id"), lit(25)).cast("int"))
        .join(broadcast(t(s, dir, "nation")), col("nk") === col("n_nationkey"))
        .select("event_id", "user_id", "n_name")
    }),

    "a7_groupby_dedupe" -> ((s, dir) => {
      // A7: GROUP BY full select list as dedupe (no aggregates)
      t(s, dir, "events")
        .select("user_id", "event_type").distinct()
    }),

    "a8_group_daily_max" -> ((s, dir) => {
      // A8: GROUP BY with MAX over a formatted/truncated date
      t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("day"))
        .agg(max(col("value")).as("max_value"), count(lit(1)).as("n"))
    }),

    "u3_code_dimension" -> ((s, dir) => {
      // U3: UNION as row-generator for the code dimension (OMOP_CODE_VALUE)
      val a = t(s, dir, "events").select(col("event_type").as("code"),
        lit("event").as("domain")).distinct()
      val b = t(s, dir, "documents").select(col("lang").as("code"),
        lit("language").as("domain")).distinct()
      a.unionByName(b)
    }),

    "w3_deterministic_pick" -> ((s, dir) => {
      // W3: the reference's ROW_NUMBER-without-ORDER-BY, made deterministic
      // with an explicit business-key tiebreak (documented divergence)
      Relational.firstWins(t(s, dir, "documents"), Seq("source"),
          Seq(col("doc_id")))
        .select("source", "doc_id", "lang")
    }),

    "w5_multicol_rank" -> ((s, dir) => {
      // W5: multi-column ordered rank (asc + desc mixed), top-3 per group
      val w = Window.partitionBy("event_type")
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events").withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("event_type", "rank", "event_id", "value")
    }),

    "w6_alias_resolution" -> ((s, dir) => {
      // W6: canonical-row-per-entity pick (EMPI alias resolution shape)
      Relational.latestWins(t(s, dir, "events"), Seq("user_id", "event_type"),
          Seq(col("event_id")))
        .select("user_id", "event_type", "event_id")
    }),

    "x1_collect_agg" -> ((s, dir) => {
      // X1: fn_GetPatientRaces-style list aggregation — not a UDF in Spark:
      // groupBy + sorted collect_set + concat
      t(s, dir, "events").groupBy("user_id")
        .agg(array_join(sort_array(collect_set(col("event_type"))), ";")
          .as("types_seen"))
    }),

    "f2_split_part" -> ((s, dir) => {
      // F2: split_part — 27 lines of nested SUBSTRING/CHARINDEX in the
      // reference, one expression here
      t(s, dir, "documents").select(
        col("doc_id"),
        split(concat_ws(":", col("source"), col("lang")), ":").getItem(1)
          .as("part2"))
    }),

    "f3_naaccr_dates" -> ((s, dir) => {
      // F3: NAACCR sentinel-date parsing (synthesized dirty codes)
      val base = date_format(col("o_orderdate"), "yyyyMMdd")
      val raw = when(pmod(col("o_orderkey"), lit(6)) === 0, lit("00000000"))
        .when(pmod(col("o_orderkey"), lit(6)) === 1, lit("99999999"))
        .when(pmod(col("o_orderkey"), lit(6)) === 2, lit("88888888"))
        .when(pmod(col("o_orderkey"), lit(6)) === 3,
          concat(substring(base, 1, 4), lit("9999")))
        .when(pmod(col("o_orderkey"), lit(6)) === 4,
          concat(substring(base, 1, 6), lit("99")))
        .otherwise(base)
      t(s, dir, "orders").select(col("o_orderkey"), raw.as("raw_code"),
        Cleansing.parseNaaccrDate(raw).as("parsed_date"))
    }),

    "f4_code_format" -> ((s, dir) => {
      // F4: ICD-O STUFF-style code formatting + prefixed concept ids
      t(s, dir, "part").select(
        col("p_partkey"),
        Cleansing.icdDot(concat(lit("C"), col("p_partkey"))).as("site_code"),
        concat(lit("160@"), col("p_brand")).as("prefixed"))
    }),

    "f5_cleanse" -> ((s, dir) => {
      // F5: CR/LF/pipe strip + trim + ''→NULL (synthesized dirty strings)
      val dirty = concat(substring(col("text"), 1, 20), lit("\r\n|"),
        col("source"))
      t(s, dir, "documents").select(
        col("doc_id"),
        Cleansing.cleanse(dirty).as("cleaned"),
        Cleansing.emptyToNull(lit("  ")).as("emptied"))
    }),

    "f9_math_misc" -> ((s, dir) => {
      // F9: ABS/MOD/ASCII/LEN/LEFT/UPPER
      t(s, dir, "documents").select(
        col("doc_id"),
        pmod(col("doc_id"), lit(7)).as("mod7"),
        ascii(col("lang")).as("lang_ascii"),
        length(col("source")).as("src_len"),
        substring(col("source"), 1, 4).as("src_left4"),
        upper(col("lang")).as("lang_upper"))
    }),

    "f11_dim_lookup" -> ((s, dir) => {
      // F11/X3: file/UDF lookups replaced by a broadcast dimension join
      val dim = s.createDataFrame(Seq(
        ("en", "English"), ("es", "Spanish"), ("de", "German"),
        ("fr", "French"), ("zh", "Chinese"))).toDF("lang", "lang_name")
      Relational.dimLookup(t(s, dir, "documents").alias("d"), dim.alias("m"),
          col("d.lang") === col("m.lang"))
        .select(col("doc_id"), col("lang_name"))
    }),

    "try_cast_soft" -> ((s, dir) => {
      // §1.2 soft casts: NULL on failure, never error (Vertica ::!).
      // FirstDigitRun ≡ regexp_extract(props, "(\d+)", 1) (the form the
      // DuckDB oracle still runs) without the per-row Matcher/String/
      // MatchResult allocation chain — measured ~2× on this query.
      t(s, dir, "events").select(
        col("event_id"),
        Cleansing.softCast(graft.functions.FirstDigitRun(col("props")), "int")
          .as("prop_k"),
        Cleansing.softCast(col("event_type"), "int").as("bad_cast"))
    }),

    "s6_pipe_extract" -> ((s, dir) => {
      // S6: pipe-delimited extract line assembly (header trick = CSV header)
      t(s, dir, "lineitem").select(
        concat_ws("|", col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")).as("line"))
    }),

    "s4_csv_source" -> ((s, dir) => {
      // S4: delimited-file ingest — pipe-delimited seed CSV with header,
      // quoted embedded delimiters, ''→NULL (the reference's EDW care-site
      // seed, /root/reference/Delphi/OMOP_CARESITE_FROM_EDW.csv +
      // step_02_care_site.py:38-53). The UTF-16 encoding knob is exercised
      // in CsvSourceSpec (DuckDB 1.0 read_csv cannot decode UTF-16).
      s.read.option("sep", "|").option("header", "true")
        .option("quote", "\"").option("encoding", "UTF-8")
        .csv("/root/repo/fixtures/care_site_seed.csv")
        .select(col("care_site_id").cast("int").as("care_site_id"),
          col("care_site_name"), col("place_of_service"),
          col("location_id").cast("int").as("location_id"),
          col("source_value"))
    }),

    "doc_parse_explode" -> ((s, dir) => {
      // S5/X4: document parser UDTF — one block document → header +
      // observation rows via a typed flatMap state machine, with the
      // reference's last-wins dedupe (parseFmiXmls2PreOMOP.pl:602-644).
      // The oracle reconstructs the expected rows RELATIONALLY from the
      // base columns — an independent path from the build→parse roundtrip.
      val blocks = operators.DocParse.composeBlocks(
        t(s, dir, "documents"), "doc_id", "lang", "source", "text", maxObs = 8)
      operators.DocParse.parse(blocks, "block").toDF()
    }),

    "x2_rtf2txt" -> ((s, dir) => {
      // X2: RTF → plain text (the reference's dbo.RTF2TXT UDF,
      // /root/reference/MQ/mosaiq_note.sql:76) as a codegen'd regexp chain
      val rtf = concat(lit("{\\rtf1\\ansi\\deff0 {\\fonttbl {\\f0 Times;}}\\f0\\fs24 "),
        substring(col("text"), 1, 40), lit("\\par}"))
      t(s, dir, "documents").select(col("doc_id"), rtf.as("rtf"),
        Cleansing.rtfToText(rtf).as("plain"))
    }),

    "f8_latest_timestamp" -> ((s, dir) => {
      // F8: greatest-of-two-timestamps modified-date pick, null-safe
      // (/root/reference/MQ/mosaiq_person.sql:151-155's CASE over joined
      // Edit_DtTm values)
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(max(col("ts")).as("last_click"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_uid")).agg(max(col("ts")).as("last_view"))
      clicks.join(views, col("user_id") === col("v_uid"), "full")
        .select(coalesce(col("user_id"), col("v_uid")).as("uid"),
          col("last_click"), col("last_view"),
          Cleansing.latestOf(col("last_click"), col("last_view"))
            .as("last_activity"))
    }),

    "j8_merge_coalesce" -> ((s, dir) => {
      // J8: UPDATE-target-from-derived with COALESCE(new, old) — the
      // merge-enrichment shape (Omop_Incremental_Measurement.sql:157-166)
      val newVals = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("new_spend_cents"))
      t(s, dir, "customer")
        .join(newVals, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("new_spend_cents"), cents(col("c_acctbal")))
            .as("spend_cents"),
          col("new_spend_cents").isNotNull.as("updated"))
    }),

    // ---- training-data ops batch 2 ----------------------------------------
    "ann_brute_force" -> ((s, dir) => {
      // brute-force cosine top-k: query set broadcast, corpus streamed once
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = emb.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
      val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .withColumn("cos", round(Similarity.cosine(col("qv"), col("cv")), 6))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("cand_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("cand_id"), col("cos"), col("rank"))
    }),

    "ann_lsh_bucketed" -> ((s, dir) => {
      // LSH (signed-random-projection) ANN — the 100-TB scale path;
      // recall vs ann_brute_force measured in SimilaritySpec
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, dims = 64, nPlanes = 32, bands = 8)
        .withColumn("cos", round(col("cos"), 6))
    }),

    "ann_ivf" -> ((s, dir) => {
      // IVF (inverted-file) ANN — the structural sub-linear path beside
      // the probabilistic LSH one: nearest-of-16 sampled centroids as the
      // coarse quantizer, 4 probed cells per query, exact-cosine rerank.
      // DuckDB-ORACLED end-to-end: the centroid sample (vec_id % 31,
      // lowest 16) is recomputed in SQL from the same table, and
      // assignment/probe argmax over index-order double cosines is
      // arithmetic both engines share (same precedent as the SRP sign
      // decisions in duckAnnLshSql).
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
          sampleMod = 31)
        .withColumn("cos", round(col("cos"), 6))
    }),

    "dedup_embedding_cosine" -> ((s, dir) => {
      // embedding-cosine near-dup pairs, exact on a deterministic subset
      // (DuckDB-oracled). The sub-quadratic scale path for the same
      // predicate is the SRP-banded join (ann_lsh_bucketed /
      // SimilaritySpec); this query pins the exact semantics. The 0.4
      // threshold reflects this synthetic corpus's similarity range
      // (max pairwise cos ≈ 0.5).
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      val a = sub.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = sub.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 6))
        .filter(col("cos") >= 0.4)
        .select("id_a", "id_b", "cos")
    }),

    "dedup_minhash_lsh" -> ((s, dir) => {
      // MinHash+LSH near-duplicate candidate pairs. bands=8 (r=2): for
      // J≥0.8 pairs, P(≥1 band collision) = 1-(1-J²)⁸ ≥ 0.9997.
      // DuckDB-ORACLED: the full minHashLsh code path — coefficients,
      // signature fold, banding algebra, bucket caps — with md5-derived
      // base/bucket hashes both engines compute identically (xxhash64's
      // seeding is not expressible in DuckDB). The library DEFAULT stays
      // seeded xxhash64 (cheaper + better-distributed at 100 TB); that
      // path keeps its golden recall pins vs brute-force ground truth in
      // DedupSpec. Docs with an EMPTY shingle set are excluded up front
      // on both sides: Spark would band their sentinel signature, SQL's
      // unnest would drop them — the restriction makes the surfaces equal
      // by construction.
      val docs = t(s, dir, "documents")
        .filter(size(TextAnalysis.shingles(col("text"), 3)) > 0)
      Dedup.minHashLsh(docs, "doc_id", "text", k = 3, numHashes = 16,
          bands = 8, baseHash = md5Hash32Array, bucketHash = md5Hash60)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_simhash" -> ((s, dir) => {
      // SimHash banded near-dup candidates w/ exact Hamming distance.
      // 64-bit hash + hamming ≤ 8 (the web-dedup convention): a 32-bit
      // hash at ≤6 admitted ~8% of ALL pairs as "near-dups" on this
      // corpus. DuckDB-ORACLED like dedup_minhash_lsh above: same
      // simHashPairs code path and production band geometry (64 bits,
      // 8 chunks), base hash = a 60-bit md5-derived integer — bits 60-63
      // degenerate to 0 identically on both engines; the seeded-xxhash64
      // library default keeps its precision/recall pins in DedupSpec.
      // Empty-shingle docs excluded as above.
      val docs = t(s, dir, "documents")
        .filter(size(TextAnalysis.shingles(col("text"), 2)) > 0)
      Dedup.simHashPairs(docs, "doc_id", "text", nBits = 64, chunks = 8,
          baseHash = md5Hash60Array)
        .filter(col("hamming") <= 8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_ngram_jaccard" -> ((s, dir) => {
      // exact n-gram Jaccard over shingle equi-join (never cross join)
      Dedup.ngramJaccard(t(s, dir, "documents"), "doc_id", "text",
          k = 3, minJaccard = 0.8)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "text_fingerprint" -> ((s, dir) => {
      // 64-bit normalized-content fingerprint (xxhash64; seeds pinned by
      // golden values in TextAnalysisSpec — not DuckDB-expressible)
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp64"))
    }),

    "text_fingerprint_md5" -> ((s, dir) => {
      // md5 twin of the normalized-content fingerprint — DuckDB-oracled
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(lower(regexp_replace(trim(col("text")), "\\s+", " "))
          .cast("binary")).as("fp_md5"))
    }),

    "lang_id_heuristic" -> ((s, dir) => {
      // n-gram-heuristic language ID vs the labeled lang column
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
    }),

    "multimodal_meta" -> ((s, dir) => {
      // multimodal plumbing: binary payload + typed metadata (no decode)
      Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("kind"),
          length(col("payload")).as("byte_len"),
          sha2(col("payload"), 256).as("payload_sha"))
    }),

    "multimodal_features" -> ((s, dir) => {
      // decode → feature extraction via mapPartitions (batch shape).
      // These payloads are text bytes, so they exercise the non-image
      // fallback path; the REAL ImageIO decode path is pinned against a
      // PNG fixture in MultimodalSpec. The features themselves ARE part
      // of the output (rounded, as a canonical string) so the rows/hash
      // check pins the decoder; exact values golden-tested in
      // MultimodalSpec.
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, dims = 8).toDF()
        .select(col("media_id"), col("kind"), col("byte_len"),
          col("payload_sha"),
          concat_ws(",", transform(col("features"),
            f => format_number(f.cast("double"), 3))).as("features_sig"))
    }),

    "pipeline_person_table" -> ((s, dir) => {
      // C3 multi-table pipeline end-to-end: drive the FULL
      // dependency-ordered pipeline (source + five OMOP-shaped domain
      // lake tables, epoch by epoch, mid-run compaction active) over the
      // derived changelog into a scratch lake, then read back the
      // PERSISTED person domain table.
      val changes = derivedChangelog(s, dir)
      val root = scratchTempDir("graft-pipe-q")
      val source = new graft.lake.LakeTable(s"$root/source", 8)
      val domains = graft.engine.Pipeline.omopDomains(s)
      val tables = graft.engine.Pipeline.openDomainTables(
        s"$root/domains", domains, 4)
      // merge-on-read serves the final read; compaction itself is pinned
      // in PipelineSpec/MaintenanceSpec (here it would only add ~12 toy
      // jobs to every suite run)
      graft.engine.Pipeline.run(s, changes, source, domains, tables,
        maxEpoch = 2)
      // localize the (tiny — one row per distinct repo, ≤ a few hundred)
      // result so the scratch lake can be deleted before returning; the
      // returned frame must stay valid after this function exits
      val out = tables("person").snapshot(s).select("person_source_value",
        "n_paths", "n_langs", "langs", "first_path", "modified_seq")
      val rows = out.collect().toList
      val schema = out.schema
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    }),

    "pipeline_code_value" -> ((s, dir) => {
      // The ALGEBRAIC maintenance path end-to-end: the same derived
      // changelog drives the delta-fold code_value rollup epoch-by-epoch
      // (pre/post pinned-version contribution deltas folded into the
      // persisted table — never a recompute of unaffected groups), then
      // the final table is read back; the oracle recomputes the rollup
      // from scratch as latest-wins SQL, so the fold's exactness
      // invariant (domain == rollup(source head)) is driver-checked.
      val changes = derivedChangelog(s, dir)
      val root = scratchTempDir("graft-pipe-cv")
      val source = new graft.lake.LakeTable(s"$root/source", 8)
      val cv = graft.engine.Pipeline.omopDomainsDeep(s)
        .filter(_.name == "code_value")
      val tables = graft.engine.Pipeline.openDomainTables(
        s"$root/domains", cv, 4)
      graft.engine.Pipeline.run(s, changes, source, cv, tables, maxEpoch = 2)
      val out = tables("code_value").snapshot(s)
        .select("lang", "n_code_paths", "total_code_chars")
      val rows = out.collect().toList
      val schema = out.schema
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      import scala.jdk.CollectionConverters._
      s.createDataFrame(rows.asJava, schema)
    })
  )

  /** The deterministic changelog both pipeline probes replay: derived from
    * the events table, 'error' events are deletes, epochs deliberately
    * uncorrelated with seq order (pmod(event_id, 3)) — the
    * retained-tombstone rule makes replay order-insensitive, which is
    * exactly what the oracles' pure latest-wins SQL assumes. */
  private def derivedChangelog(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(pmod(col("event_id"), lit(4L)) === 0) // keep the smoke cheap
      .select(
        col("event_id").as("seq"),
        pmod(col("event_id"), lit(3L)).as("epoch"),
        when(col("event_type") === "error", "D").otherwise("U").as("op"),
        concat(lit("r"), pmod(col("user_id"), lit(37L))).as("repo"),
        concat(lit("p"), col("user_id")).as("path"),
        col("event_id").cast("string").as("commit"),
        col("event_type").as("lang"),
        concat(lit("c:"), col("event_id")).as("content"),
        lit(1).as("schemaVersion"))

  /** RAM-backed scratch root for the pipeline probes' throwaway lakes —
    * the shuffle scratch rule of [[graft.lake.FastLocalFs.localScratch]],
    * else java.io.tmpdir: the probes replay ~20 tiny Spark jobs
    * whose wall is dominated by small-file create/close churn, which on
    * the single local disk measures 2-3× tmpfs. Placement only — the
    * probe still computes everything from the parquet inputs. */
  private def scratchTempDir(prefix: String): String = {
    val base = graft.lake.FastLocalFs.localScratch
      .getOrElse(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix).toString
  }

  /** Whole-SYSTEM probes registered in [[queries]] (end-to-end pipeline
    * replays spanning many Spark jobs). Bench times them in a separate
    * `system` section, OUTSIDE the per-query suite total — one such entry
    * would otherwise dominate the suite number and bury per-query
    * regressions. Membership is explicit here, at the registration site:
    * an ordinary query is never excluded by accident of its name. */
  val systemProbes: Set[String] = Set("pipeline_person_table",
    "pipeline_code_value")

  /** 32-/60-bit non-negative integers from an md5 hex prefix — base
    * hashes a DuckDB twin oracle recomputes exactly as
    * `CAST('0x' || substr(md5(x), 1, n) AS BIGINT)`. 15 hex chars = 60
    * bits keeps every derived sum/product inside a signed 64-bit long.
    * The `Array` forms hash a whole shingle array per row through the
    * native [[graft.functions.Md5PrefixLongArray]] kernel
    * (value-identical; one codegen'd loop instead of an interpreted
    * `transform` lambda per element). */
  private def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  private def md5Hash32Array(arr: Column): Column =
    graft.functions.Md5PrefixLongArray(arr, 8)
  private def md5Hash60Array(arr: Column): Column =
    graft.functions.Md5PrefixLongArray(arr, 15)

  private def duckMd5(expr: String, hexChars: Int): String =
    s"CAST('0x' || substr(md5($expr), 1, $hexChars) AS BIGINT)"

  /** DuckDB mirror of TextAnalysis.shingles(text, k): split on \s+ of the
    * lower/trimmed text, then k-word windows joined by single spaces
    * (list slice bounds are 1-based inclusive). Proven hash-exact against
    * the Spark form by the dedup_ngram_jaccard oracle since round 3. */
  private def duckShingleWords: String =
    s"""SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
           FROM documents"""
  private def duckShingles(k: Int): String =
    s"list_transform(range(1, greatest(len(l)-${k - 2}, 1)), " +
      s"i -> array_to_string(l[i:i+${k - 1}], ' '))"

  /** Oracle for dedup_minhash_md5 — the EXACT MinHashSig + banding
    * algebra (31-bit-masked universal hashes mod the Mersenne prime,
    * per-band bucket hash of the comma-joined slots) over md5-derived
    * base hashes, interpolating the same (a_i, b_i) literals the Spark
    * expression uses. */
  private def duckMinHashMd5Sql: String = {
    val (as, bs) = Dedup.minHashCoefficients(16)
    val slots = (0 until 16).map(i =>
      s"list_min(list_transform(hs, h -> (${as(i)} * (h & 2147483647) + " +
        s"${bs(i)}) % 2147483647))").mkString(",\n                  ")
    s"""WITH words AS ($duckShingleWords),
         sh AS (SELECT doc_id, ${duckShingles(3)} AS sh FROM words),
         hashed AS (SELECT doc_id,
                  list_transform(sh, g -> ${duckMd5("g", 8)}) AS hs
                FROM sh WHERE len(sh) >= 1),
         sigs AS (SELECT doc_id, [$slots] AS sig FROM hashed),
         banded AS (SELECT doc_id, sig, b.band,
                  ${duckMd5("sig[b.band*2+1]::VARCHAR || ',' || sig[b.band*2+2]::VARCHAR", 15)} AS bucket
                FROM sigs, (SELECT unnest(range(8)) AS band) b),
         ok AS (SELECT banded.* FROM banded
                JOIN (SELECT band, bucket FROM banded GROUP BY 1, 2
                      HAVING count(*) <= 1000) c USING (band, bucket)),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_filter(list_zip(a.sig, b.sig),
                    p -> p[1] = p[2])) AS DOUBLE) / 16.0 AS est_jaccard
                FROM ok a JOIN ok b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, est_jaccard FROM pairs
         WHERE est_jaccard >= 0.5"""
  }

  /** Oracle for dedup_simhash_md5 — the EXACT SimHashBits sign-vote fold
    * (per bit: +1 if set else -1 across shingle hashes; bit set iff votes
    * > 0) and chunk banding, over 60-bit md5-derived base hashes. */
  private def duckSimHashMd5Sql: String =
    s"""WITH words AS ($duckShingleWords),
         sh AS (SELECT doc_id, ${duckShingles(2)} AS sh FROM words),
         ex AS (SELECT doc_id, ${duckMd5("g", 15)} AS h
                FROM (SELECT doc_id, unnest(sh) AS g FROM sh
                      WHERE len(sh) >= 1)),
         votes AS (SELECT doc_id, t.b AS b,
                  sum(CASE WHEN (h >> t.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                FROM ex, (SELECT unnest(range(64)) AS b) t
                GROUP BY 1, 2),
         sigs AS (SELECT doc_id,
                  CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b)
                           ELSE 0 END) AS BIGINT) AS sh
                FROM votes GROUP BY doc_id),
         banded AS (SELECT doc_id, sh, c.chunk,
                  (sh >> (c.chunk * 8)) & 255 AS bucket
                FROM sigs, (SELECT unnest(range(8)) AS chunk) c),
         ok AS (SELECT banded.* FROM banded
                JOIN (SELECT chunk, bucket FROM banded GROUP BY 1, 2
                      HAVING count(*) <= 1000) c USING (chunk, bucket)),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
                FROM ok a JOIN ok b
                  ON a.chunk = b.chunk AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8"""

  /** Oracle for ann_lsh_bucketed — the REAL production query, fully
    * SQL-expressible because the SRP hyperplane matrix is a plan-time
    * constant: the SAME 32×64 literal matrix is interpolated here, so the
    * signature is plain arithmetic both engines share (index-order double
    * sums, sign at >= 0), and the rerank reuses the proven cosine shape
    * from dedup_embedding_cosine's oracle. */
  private def duckAnnLshSql: String = {
    val planes = Similarity.planeMatrix(64, 32, 42)
    val sigTerms = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString(", ")
      s"(CASE WHEN list_sum(list_transform(list_zip(v, [$lits]), " +
        s"z -> z[1]*z[2])) >= 0 THEN ${1L << i}::BIGINT ELSE 0 END)"
    }.mkString("\n                + ")
    s"""WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         sigs AS (SELECT vec_id, v, $sigTerms AS sig FROM e),
         bc AS (SELECT vec_id AS cand_id, v AS cv, b.band,
                  (sig >> (b.band * 4)) & 15 AS bucket
                FROM sigs, (SELECT unnest(range(8)) AS band) b),
         bq AS (SELECT vec_id AS query_id, v AS qv, b.band,
                  (sig >> (b.band * 4)) & 15 AS bucket
                FROM sigs, (SELECT unnest(range(8)) AS band) b
                WHERE vec_id < 5),
         scored AS (SELECT query_id, cand_id,
                  ${duckCos("qv", "cv")} AS cos
                FROM bc JOIN bq USING (band, bucket)
                WHERE cand_id <> query_id),
         cand AS (SELECT query_id, cand_id, max(cos) AS cos
                FROM scored GROUP BY 1, 2),
         ranked AS (SELECT query_id, cand_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, cand_id) AS rank
                FROM cand)
         SELECT query_id, cand_id, round(cos, 6) AS cos,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 10"""
  }

  /** Index-order double cosine as DuckDB SQL over two DOUBLE-list exprs —
    * the exact arithmetic [[graft.functions.CosineSim]] compiles
    * (sequential element order, `nn == 0 → 0.0`), shared by the ANN/IVF
    * oracles. */
  private def duckCos(a: String, b: String): String =
    s"""CASE WHEN sqrt(list_sum(list_transform($a, x -> x*x))) *
              sqrt(list_sum(list_transform($b, x -> x*x))) = 0
         THEN 0.0
         ELSE list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) /
              (sqrt(list_sum(list_transform($a, x -> x*x))) *
               sqrt(list_sum(list_transform($b, x -> x*x))))
         END"""

  /** Oracle for ann_ivf — the REAL production query, fully
    * SQL-expressible because the centroid sample is deterministic and
    * data-derived (vec_id % 31, lowest 16, id order): DuckDB recomputes
    * the identical centroid set from the same parquet, then mirrors the
    * assignment argmax (cos DESC, cell ASC — [[Similarity.ivfAssign]]'s
    * `(cos, -cell)` struct max), the nProbe=4 probe ranking, and the
    * exact-cosine rerank. Raw-double comparisons are safe for the same
    * reason as duckAnnLshSql's sign decisions: both engines compute
    * index-order double sums. */
  private def duckAnnIvfSql: String =
    s"""WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                    v AS cv
                FROM (SELECT vec_id, v FROM e WHERE vec_id % 31 = 0
                      ORDER BY vec_id LIMIT 16)),
         ac AS (SELECT e.vec_id, e.v, c.cell,
                  ${duckCos("e.v", "c.cv")} AS cos
                FROM e, cents c),
         assign AS (SELECT vec_id AS cand_id, v AS cv, cell FROM
                (SELECT vec_id, v, cell, row_number() OVER
                   (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
                 FROM ac) x WHERE rn = 1),
         probe AS (SELECT vec_id AS query_id, v AS qv, cell FROM
                (SELECT vec_id, v, cell, row_number() OVER
                   (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
                 FROM ac WHERE vec_id < 5) x WHERE rn <= 4),
         scored AS (SELECT query_id, cand_id,
                  ${duckCos("qv", "cv")} AS cos
                FROM assign JOIN probe USING (cell)
                WHERE cand_id <> query_id),
         ranked AS (SELECT query_id, cand_id, cos,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, cand_id) AS rank
                FROM scored)
         SELECT query_id, cand_id, round(cos, 6) AS cos,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 10"""

  /** DuckDB mirror of TextAnalysis.stopwordHits(padded, word): the Spark
    * side pads once in langIdHeuristic and once in stopwordHits, hence the
    * double pad here. Markers are alphanumeric/CJK — no regex escaping
    * needed in either dialect. */
  private def duckHits(word: String): String =
    s"(len(string_split_regex('  ' || lower(text) || '  ', '\\s$word\\s')) - 1)"
  private def duckLangScore(markers: Seq[String]): String =
    markers.map(duckHits).mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "s1_lookback_scan" ->
      """SELECT event_id, user_id, event_type, value FROM events
         WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'""",

    "p3_inlist_filter" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE event_id IS NOT NULL AND event_type IN ('click','view')
           AND user_id NOT IN (1,2,3)""",

    "p4_like_patterns" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE text LIKE '%spark%' AND source LIKE 'src1%'""",

    "p8_hash_sample" ->
      "SELECT event_id, event_type FROM events WHERE event_id % 10 = 0",

    "j1_fk_chain" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
                CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS acctbal_cents
         FROM customer JOIN nation ON c_nationkey=n_nationkey
                       JOIN region ON n_regionkey=r_regionkey
         GROUP BY r_name, n_name""",

    "j2_left_enrich" ->
      """SELECT o_orderkey, coalesce(c_name,'UNKNOWN') AS cust_name,
                coalesce(c_mktsegment,'NONE') AS segment
         FROM orders LEFT JOIN customer ON o_custkey=c_custkey""",

    "j4_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_lines
         FROM orders JOIN lineitem
           ON o_orderkey=l_orderkey
          AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
         GROUP BY o_orderpriority""",

    "j5_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
         WHERE o_custkey IN
           (SELECT c_custkey FROM customer WHERE c_mktsegment='BUILDING')""",

    "j7_self_join" ->
      """SELECT a.event_id AS eid, a.user_id AS uid, a.event_type AS etype,
                b.event_type AS next_etype
         FROM events a JOIN events b
           ON b.event_id = a.event_id + 1 AND b.user_id = a.user_id""",

    "j10_broadcast_dim" ->
      """SELECT p_brand,
                CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents
         FROM lineitem JOIN part ON l_partkey=p_partkey
         GROUP BY p_brand""",

    "anti_join_deletes" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c_custkey)""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS price_cents,
                CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_cents,
                count(*) AS count_order,
                round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)/count(*), 6) AS avg_qty
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "a2_preagg_join" ->
      """SELECT c_custkey, lo.last_order,
                coalesce(lo.n_orders, 0) AS n_orders
         FROM customer LEFT JOIN
           (SELECT o_custkey, max(o_orderdate) AS last_order,
                   count(*) AS n_orders
            FROM orders GROUP BY o_custkey) lo
           ON c_custkey = lo.o_custkey""",

    "a3_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS users,
                count(*) AS n_events
         FROM events GROUP BY event_type""",

    "a4_mode_argmax" ->
      """SELECT user_id, event_type FROM (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY count(*) DESC, event_type ASC) AS rn
           FROM events GROUP BY user_id, event_type) x
         WHERE rn = 1""",

    "a6_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "w1_latest_wins" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn FROM events) x
         WHERE rn = 1""",

    "w2_first_wins" ->
      """SELECT user_id, event_id, value FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC) AS rn
           FROM events WHERE event_type='purchase') x
         WHERE rn = 1""",

    "w4_lag_chain" ->
      """SELECT user_id, event_id,
                lag(event_id,1) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC) AS prev_event_id
         FROM events""",

    "o1_global_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",

    "u1_union_dedupe" ->
      """SELECT DISTINCT nationkey FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL SELECT s_nationkey FROM supplier)""",

    "u2_union_all" ->
      """SELECT nationkey, src, count(*) AS n FROM (
           SELECT c_nationkey AS nationkey, 'cust' AS src FROM customer
           UNION ALL SELECT s_nationkey, 'supp' FROM supplier)
         GROUP BY nationkey, src""",

    "f6_date_functions" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS yr,
                CAST(month(o_orderdate) AS INT) AS mo,
                strftime(o_orderdate, '%Y-%m') AS ym,
                CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2026-01-01') AS INT) AS age_days
         FROM orders""",

    "f7_conditional" ->
      """SELECT event_id,
                CASE WHEN value > 100 THEN 'high'
                     WHEN value > 50 THEN 'mid' ELSE 'low' END AS band,
                coalesce(nullif(event_type,'error'),'unknown') AS etype
         FROM events""",

    "f10_concat_keys" ->
      """SELECT l_orderkey || '-' || l_linenumber AS line_pk,
                '160@' || l_returnflag AS prefixed_code
         FROM lineitem""",

    "cdc_latest_state" ->
      """WITH latest AS (
           SELECT user_id, event_id, event_type FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn FROM events) x
           WHERE rn = 1),
         rollup AS (
           SELECT user_id, count(*) AS n_events,
                  CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents,
                  max(ts) AS last_ts
           FROM events GROUP BY user_id)
         SELECT l.user_id, l.event_id AS last_event_id,
                l.event_type AS last_event_type, r.n_events, r.value_cents,
                r.last_ts
         FROM latest l JOIN rollup r ON l.user_id = r.user_id""",

    "cdc_watermark_probe" ->
      """SELECT min(mx) AS watermark FROM
           (SELECT max(ts) AS mx FROM events GROUP BY event_type)""",

    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS doc_id,
                count(*) AS dup_count
         FROM documents GROUP BY md5(text)""",

    "text_tokens" ->
      """SELECT doc_id,
                CAST(CASE WHEN length(trim(text))=0 THEN 0
                     ELSE len(string_split_regex(trim(text),'\s+')) END AS INT) AS n_tokens,
                CAST(length(text) AS INT) AS n_chars_calc
         FROM documents""",

    "text_quality" ->
      """SELECT doc_id,
                CAST(CASE WHEN length(trim(text))=0 THEN 0
                     ELSE len(string_split_regex(trim(text),'\s+')) END AS INT) AS n_tokens,
                round(CASE WHEN length(trim(text))=0 THEN 0.0
                      ELSE CAST(length(regexp_replace(trim(text),'\s+','','g')) AS DOUBLE)
                           / len(string_split_regex(trim(text),'\s+')) END, 6) AS avg_word_len,
                CAST(len(string_split_regex(' ' || text || ' ', '\sthe\s')) - 1 AS INT) AS the_hits
         FROM documents""",

    "lang_distribution" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang""",

    "p1_projection_pad" ->
      """SELECT l_orderkey, l_linenumber, '' AS filler,
                CAST(NULL AS VARCHAR) AS missing_concept, 0 AS zero_concept
         FROM lineitem""",

    "p5_ascii_filter" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
         WHERE ascii(l_returnflag) <> 32 GROUP BY l_returnflag""",

    "p6_value_quality" ->
      """SELECT event_id, event_type, value FROM events
         WHERE value IS NOT NULL AND value > 0 AND event_type <> 'error'
           AND upper(event_type) <> 'SIGNUP'""",

    "p7_join_embedded_filter" ->
      """SELECT o_orderkey, count(l_orderkey) AS big_lines
         FROM orders LEFT JOIN lineitem
           ON o_orderkey = l_orderkey AND l_quantity > 40
          AND o_orderstatus = 'O'
         GROUP BY o_orderkey""",

    "j3_multikey_join" ->
      """SELECT event_id, e.user_id, e.event_type, n_same
         FROM events e JOIN
           (SELECT user_id, event_type, count(*) AS n_same
            FROM events GROUP BY user_id, event_type) k
           ON e.user_id = k.user_id AND e.event_type = k.event_type""",

    "j6_top1_lookup" ->
      """SELECT c_custkey, c_name, fo.first_order
         FROM customer LEFT JOIN
           (SELECT o_custkey, o_orderkey AS first_order FROM
             (SELECT *, row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn FROM orders) x
            WHERE rn = 1) fo
           ON c_custkey = fo.o_custkey""",

    "j9_expr_join" ->
      """SELECT event_id, user_id, n_name
         FROM events JOIN nation ON user_id % 25 = n_nationkey""",

    "a7_groupby_dedupe" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "a8_group_daily_max" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                max(value) AS max_value, count(*) AS n
         FROM events GROUP BY user_id, date_trunc('day', ts)""",

    "u3_code_dimension" ->
      """SELECT DISTINCT event_type AS code, 'event' AS domain FROM events
         UNION
         SELECT DISTINCT lang, 'language' FROM documents""",

    "w3_deterministic_pick" ->
      """SELECT source, doc_id, lang FROM (
           SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY doc_id ASC) AS rn FROM documents) x
         WHERE rn = 1""",

    "w5_multicol_rank" ->
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, value FROM (
           SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY value DESC, event_id ASC) AS rn FROM events) x
         WHERE rn <= 3""",

    "w6_alias_resolution" ->
      """SELECT user_id, event_type, event_id FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             ORDER BY event_id DESC) AS rn FROM events) x
         WHERE rn = 1""",

    "x1_collect_agg" ->
      """SELECT user_id,
                string_agg(DISTINCT event_type, ';' ORDER BY event_type)
                  AS types_seen
         FROM events GROUP BY user_id""",

    "f2_split_part" ->
      """SELECT doc_id,
                string_split(concat_ws(':', source, lang), ':')[2] AS part2
         FROM documents""",

    "f3_naaccr_dates" ->
      """WITH coded AS (
           SELECT o_orderkey,
                  CASE CAST(o_orderkey % 6 AS INT)
                    WHEN 0 THEN '00000000'
                    WHEN 1 THEN '99999999'
                    WHEN 2 THEN '88888888'
                    WHEN 3 THEN substr(strftime(o_orderdate,'%Y%m%d'),1,4) || '9999'
                    WHEN 4 THEN substr(strftime(o_orderdate,'%Y%m%d'),1,6) || '99'
                    ELSE strftime(o_orderdate,'%Y%m%d') END AS raw_code
           FROM orders)
         SELECT o_orderkey, raw_code,
                CAST(CASE WHEN raw_code IN ('00000000','99999999','88888888') THEN NULL
                     WHEN substr(raw_code,1,4) IN ('9999','0000') THEN NULL
                     ELSE strptime(substr(raw_code,1,4) ||
                       CASE WHEN substr(raw_code,5,2) IN ('99','00') THEN '01'
                            ELSE substr(raw_code,5,2) END ||
                       CASE WHEN substr(raw_code,7,2) IN ('99','00') THEN '01'
                            ELSE substr(raw_code,7,2) END, '%Y%m%d')
                END AS DATE) AS parsed_date
         FROM coded""",

    "f4_code_format" ->
      """SELECT p_partkey,
                CASE WHEN length('C' || p_partkey) > 3
                     THEN substr('C' || p_partkey,1,3) || '.' ||
                          substr('C' || p_partkey,4,64)
                     ELSE 'C' || p_partkey END AS site_code,
                '160@' || p_brand AS prefixed
         FROM part""",

    "f5_cleanse" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(
                  substr(text,1,20) || chr(13) || chr(10) || '|' || source,
                  '[\r\n]', '', 'g'), '\|', '-', 'g')) AS cleaned,
                nullif(trim('  '), '') AS emptied
         FROM documents""",

    "f9_math_misc" ->
      """SELECT doc_id, doc_id % 7 AS mod7,
                CAST(ascii(lang) AS INT) AS lang_ascii,
                CAST(length(source) AS INT) AS src_len,
                substr(source,1,4) AS src_left4,
                upper(lang) AS lang_upper
         FROM documents""",

    "f11_dim_lookup" ->
      """WITH m(lang, lang_name) AS (VALUES
           ('en','English'),('es','Spanish'),('de','German'),
           ('fr','French'),('zh','Chinese'))
         SELECT doc_id, lang_name
         FROM documents d LEFT JOIN m ON d.lang = m.lang""",

    "try_cast_soft" ->
      """SELECT event_id,
                TRY_CAST(regexp_extract(props,'(\d+)',1) AS INT) AS prop_k,
                TRY_CAST(event_type AS INT) AS bad_cast
         FROM events""",

    "s6_pipe_extract" ->
      """SELECT concat_ws('|', l_orderkey, l_linenumber, l_quantity,
                l_returnflag, strftime(l_shipdate,'%Y-%m-%d %H:%M:%S')) AS line
         FROM lineitem""",

    "ann_brute_force" ->
      """WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cand_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings),
         s AS (SELECT query_id, cand_id,
                 round(CASE WHEN sqrt(list_sum(list_transform(qv, x -> x*x))) *
                            sqrt(list_sum(list_transform(cv, x -> x*x))) = 0
                       THEN 0.0
                       ELSE list_sum(list_transform(list_zip(qv, cv),
                              p -> p[1]*p[2])) /
                            (sqrt(list_sum(list_transform(qv, x -> x*x))) *
                             sqrt(list_sum(list_transform(cv, x -> x*x))))
                       END, 6) AS cos
               FROM c, q WHERE cand_id <> query_id)
         SELECT query_id, cand_id, cos, CAST(rn AS INT) AS rank FROM
           (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id ASC) AS rn FROM s) x
         WHERE rn <= 10""",

    "s4_csv_source" ->
      """SELECT CAST(care_site_id AS INT) AS care_site_id, care_site_name,
                place_of_service, CAST(location_id AS INT) AS location_id,
                source_value
         FROM read_csv('/root/repo/fixtures/care_site_seed.csv', delim='|',
                       header=true, all_varchar=true, nullstr='')""",

    "doc_parse_explode" ->
      """WITH w AS (
           SELECT doc_id, CAST(i AS INT) AS idx, l[i] AS value FROM (
             SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
             FROM documents) d,
           UNNEST(generate_series(1, least(8, len(l)))) AS t(i))
         SELECT doc_id, 'header' AS record_type, 0 AS idx,
                lang || '|' || source AS value
         FROM documents
         UNION ALL
         SELECT doc_id, 'observation' AS record_type,
                CAST(max(idx) AS INT) AS idx, value
         FROM w GROUP BY doc_id, value""",

    "x2_rtf2txt" ->
      """WITH c AS (
           SELECT doc_id,
             '{\rtf1\ansi\deff0 {\fonttbl {\f0 Times;}}\f0\fs24 ' ||
               substr(text,1,40) || '\par}' AS rtf
           FROM documents)
         SELECT doc_id, rtf,
                trim(regexp_replace(regexp_replace(regexp_replace(rtf,
                  '\\[a-zA-Z]+-?[0-9]* ?', ' ', 'g'),
                  '[{}]', '', 'g'), '\s+', ' ', 'g')) AS plain
         FROM c""",

    "f8_latest_timestamp" ->
      """WITH c AS (SELECT user_id, max(ts) AS last_click FROM events
                    WHERE event_type='click' GROUP BY user_id),
              v AS (SELECT user_id, max(ts) AS last_view FROM events
                    WHERE event_type='view' GROUP BY user_id)
         SELECT coalesce(c.user_id, v.user_id) AS uid, last_click, last_view,
                CASE WHEN last_click IS NULL THEN last_view
                     WHEN last_view IS NULL THEN last_click
                     WHEN last_click >= last_view THEN last_click
                     ELSE last_view END AS last_activity
         FROM c FULL JOIN v ON c.user_id = v.user_id""",

    "j8_merge_coalesce" ->
      """SELECT c_custkey,
                coalesce(n.new_spend_cents,
                         CAST(round(c_acctbal*100,0) AS BIGINT)) AS spend_cents,
                n.new_spend_cents IS NOT NULL AS updated
         FROM customer LEFT JOIN
           (SELECT o_custkey,
                   CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
                     AS new_spend_cents
            FROM orders GROUP BY o_custkey) n
           ON c_custkey = n.o_custkey""",

    "text_fingerprint_md5" ->
      """SELECT doc_id,
                md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_md5
         FROM documents""",

    "lang_id_heuristic" ->
      s"""WITH s AS (
           SELECT doc_id, lang,
             unnest([
               {'l': 'en', 'sc': ${duckLangScore(Seq("the", "and", "of"))}},
               {'l': 'es', 'sc': ${duckLangScore(Seq("el", "la", "que"))}},
               {'l': 'de', 'sc': ${duckLangScore(Seq("der", "und", "die"))}},
               {'l': 'fr', 'sc': ${duckLangScore(Seq("le", "la", "et"))}},
               {'l': 'zh', 'sc': ${duckLangScore(Seq("的", "是", "在"))}}
             ]) AS c
           FROM documents)
         SELECT doc_id, lang, l AS lang_pred FROM (
           SELECT doc_id, lang, c.l AS l,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY c.sc DESC, c.l DESC) AS rn FROM s) x
         WHERE rn = 1""",

    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings WHERE vec_id < 300),
         s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(CASE WHEN sqrt(list_sum(list_transform(a.v, x -> x*x))) *
                            sqrt(list_sum(list_transform(b.v, x -> x*x))) = 0
                       THEN 0.0
                       ELSE list_sum(list_transform(list_zip(a.v, b.v),
                              p -> p[1]*p[2])) /
                            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
                             sqrt(list_sum(list_transform(b.v, x -> x*x))))
                       END, 6) AS cos
               FROM e a JOIN e b ON a.vec_id < b.vec_id)
         SELECT id_a, id_b, cos FROM s WHERE cos >= 0.4""",

    "dedup_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(l)-1, 1)),
                    i -> array_to_string(l[i:i+2], ' '))) AS sh
           FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
                 FROM documents)),
         ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sh),
         freq AS (SELECT g FROM ex GROUP BY g HAVING count(*) <= 100),
         pruned AS (SELECT ex.* FROM ex JOIN freq USING (g)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
                  count(*) AS inter
           FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1,2,3,4)
         SELECT id_a, id_b,
                round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
         FROM pairs
         WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.8""",

    // no oracles (driver records rows-only checks) for exactly TWO rows:
    // text_fingerprint (xxhash64's seeding is not expressible in DuckDB;
    // pinned values in TextAnalysisSpec + the fully-oracled
    // text_fingerprint_md5 twin of the same code path) and
    // multimodal_features (an image decoder has no SQL oracle; pinned
    // PNG-decode + fallback features and partition-invariance in
    // MultimodalSpec). dedup_minhash_lsh / dedup_simhash /
    // ann_lsh_bucketed are fully oracled below: the sketch algebra runs
    // over md5-derived hashes both engines compute identically, and the
    // SRP hyperplane matrix is a plan-time constant interpolated into the
    // SQL; the seeded-xxhash64 library defaults keep golden recall pins
    // in DedupSpec.
    "dedup_minhash_lsh" -> duckMinHashMd5Sql,
    "dedup_simhash" -> duckSimHashMd5Sql,
    "ann_lsh_bucketed" -> duckAnnLshSql,
    "ann_ivf" -> duckAnnIvfSql,
    "multimodal_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
                CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                CAST(strlen(text) AS INT) AS byte_len,
                sha256(text) AS payload_sha
         FROM documents""",

    // the Spark side replays the derived changelog through the persisted
    // multi-table pipeline; the oracle computes the same final person
    // state as pure latest-wins SQL over the same derivation
    "pipeline_person_table" ->
      """WITH ch AS (
           SELECT event_id AS seq,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                  'r' || (user_id % 37) AS repo,
                  'p' || user_id AS path,
                  event_type AS lang
           FROM events WHERE event_id % 4 = 0),
         w AS (SELECT *, row_number() OVER (PARTITION BY repo, path
                 ORDER BY seq DESC) AS rn FROM ch),
         live AS (SELECT * FROM w WHERE rn = 1 AND op <> 'D')
         SELECT repo AS person_source_value,
                count(*) AS n_paths,
                count(DISTINCT lang) AS n_langs,
                array_to_string(list_sort(list(DISTINCT lang)), ';') AS langs,
                min(path) AS first_path,
                max(seq) AS modified_seq
         FROM live GROUP BY repo""",

    // the Spark side maintains the rollup INCREMENTALLY (per-epoch
    // delta folds); the oracle recomputes it from scratch over the head
    // state — equality is the fold's exactness invariant
    "pipeline_code_value" ->
      """WITH ch AS (
           SELECT event_id AS seq,
                  CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                  'r' || (user_id % 37) AS repo,
                  'p' || user_id AS path,
                  event_type AS lang,
                  'c:' || event_id AS content
           FROM events WHERE event_id % 4 = 0),
         w AS (SELECT *, row_number() OVER (PARTITION BY repo, path
                 ORDER BY seq DESC) AS rn FROM ch),
         live AS (SELECT * FROM w WHERE rn = 1 AND op <> 'D')
         SELECT lang,
                count(*) AS n_code_paths,
                CAST(sum(length(content)) AS BIGINT) AS total_code_chars
         FROM live GROUP BY lang"""
  )
}
