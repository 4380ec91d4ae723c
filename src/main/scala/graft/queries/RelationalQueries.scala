package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * SURVEY.md §2 operator inventory expressed over the driver's testdata
 * tables, each with a DuckDB oracle (SparkEntry.oracleSql). Numeric outputs
 * follow the determinism contract: sums over doubles go through exact
 * DECIMAL accumulation, then cast to double — identical bits in both
 * engines regardless of partial-aggregation order.
 */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2: grouped aggregation with decimal-exact money math
    // (reference analog: per-filetype count/size sums,
    // scripts/reports/bucket_summary/main.py:130-157)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") -
              col("l_discount").cast("decimal(18,2)")))
            .cast("decimal(28,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // A3: distinct aggregation (unique study-id counts,
    // manifest_summary/main.py:140-147)
    "a3_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }),

    // A1 grouping-sets form: per-(source, lang) counts with ROLLUP
    // subtotals (whole-bucket + per-flagship + per-(flagship, type)
    // report levels in one pass, bucket_summary/main.py:130-157)
    "a1_rollup" -> ((s, dir) => {
      s.read.parquet(s"$dir/documents.parquet")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          grouping_id().cast("long").as("gid"))
    }),

    // J1: anti join — declared-but-missing (submission_data.py:133-137)
    "j1_anti" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey"))
      o.join(l, Seq("o_orderkey"), "left_anti").select("o_orderkey")
    }),

    // J3: semi join — matched set (submission_data.py:143-165)
    "j3_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi").select("c_custkey")
    }),

    // J2: undeclared-key anti join from the FACT side with row counts —
    // data present that no dimension entry declares, reported with volume
    // (undeclared-source warning, submission_data.py:139-141; engine form:
    // RuleEngine.refViolationsFromAgg's None-expected branch)
    "j2_undeclared_anti" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      t(s, dir, "orders")
        .join(dim, Seq("o_custkey"), "left_anti")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_rows"))
    }),

    // J5: SECOND-dimension lookup — fact enriched through two broadcast
    // dims in one plan (file manifest + study manifest,
    // validation_manager.py:156-193 second lookup)
    "j5_second_dim" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("total_bal"))
    }),

    // J4: broadcast dimension equi-join + grouped rollup
    // (per-file manifest lookup, validation_manager.py:156-169)
    "j4_dim_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // J7: full-outer diff with presence indicator
    // (old2new_store_consitency_check.py:295-338)
    "j7_full_outer_diff" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .distinct().withColumn("in_cust", lit(1))
      val o = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
        .distinct().withColumn("in_ord", lit(1))
      c.join(o, Seq("custkey"), "full_outer")
        .select(
          col("custkey"),
          coalesce(col("in_cust"), lit(0)).as("in_cust"),
          coalesce(col("in_ord"), lit(0)).as("in_ord"))
    }),

    // J8: compensated anti join — missing, unless forgiven by a derived
    // condition (manifest.orig compensation, batch.py:285-337)
    "j8_compensated_anti" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val signup = e.filter(col("event_type") === "error" && col("value") > 300)
        .select("user_id").distinct()
      val purchase = e.filter(col("event_type") === "purchase" && col("value") > 300)
        .select("user_id").distinct()
      val heavyViewers = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(count(lit(1)).as("nv"))
        .filter(col("nv") >= 25).select("user_id")
      signup
        .join(purchase, Seq("user_id"), "left_anti")
        .join(heavyViewers, Seq("user_id"), "left_anti")
    }),

    // J9-ish: completeness anti join from the dimension side
    // (batch.py:232-282)
    "j9_completeness_anti" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
        .select(col("c_nationkey").as("n_nationkey")).distinct()
      n.join(c, Seq("n_nationkey"), "left_anti")
        .select("n_nationkey", "n_name")
    }),

    // A5: keep-first dedup via window (find_and_delete_duplicates.py:76-124)
    "a5_dedup_keepfirst" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
      d.select(col("doc_id"), col("text"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy(col("text"))).as("grp"))
        .filter(col("rn") === 1 && col("grp") > 1)
        .select(col("doc_id"), col("grp"))
    }),

    // A6: duplicate-membership filter (find_and_delete_duplicates.py:78-82)
    "a6_dup_membership" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val w = Window.partitionBy(col("text"))
      d.select(col("doc_id"), count(lit(1)).over(w).as("grp"))
        .filter(col("grp") > 1)
    }),

    // A7: count-reconciliation — expected vs actual membership per group,
    // with an INCOMPLETE/COMPLETE status (expected_docs vs actual count,
    // batch_notification.py:126-186; engine form: refViolationsFromAgg)
    "a7_count_reconciliation" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val active = t(s, dir, "orders").select(col("o_custkey")).distinct()
      c.join(active, c("c_custkey") === active("o_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n_customers"),
          sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L))
            .as("n_with_orders"))
        .select(
          col("c_nationkey"),
          col("n_customers"),
          col("n_with_orders"),
          (col("n_customers") - col("n_with_orders")).as("n_missing"),
          when(col("n_customers") =!= col("n_with_orders"),
            lit("INCOMPLETE")).otherwise(lit("COMPLETE")).as("status"))
    }),

    // A8: group-to-map / capped evidence collection — per group, the
    // FIRST-k ordered member ids plus the exact total (duplicate-location
    // evidence capped at k, manifest_processor.py:293-305; engine form:
    // RuleEngine.uniquePasses' capped collect). Emitted as a "|"-joined
    // scalar, not an array: the evidence payload is a display string (the
    // reference stores it as a message field), and scalars keep the row
    // sortable/hashable by any downstream consumer.
    "a8_group_evidence" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(
          concat_ws("|", transform(
            slice(sort_array(collect_list(struct(col("ts"),
              col("event_id")))), 1, 5),
            x => x("event_id").cast("string"))).as("first_events"),
          count(lit(1)).as("n_events"))
    }),

    // A9: verdict roll-up — partition passes iff zero violating rows
    // (batch.py:191-229)
    "a9_verdict_rollup" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("source")
        .agg(
          sum(when(col("n_chars") < lit(50), 1L).otherwise(0L)).as("n_bad"),
          count(lit(1)).as("n_docs"))
        .select(
          col("source"),
          when(col("n_bad") > 0, lit("FAIL")).otherwise(lit("PASS"))
            .as("status"),
          col("n_bad"), col("n_docs"))
    }),

    // KEY-SKEW audit — the introspection behind every salting decision
    // this engine makes (RuleEngine's salted dedup, AQE skew joins): per
    // candidate shuffle key, the heavy hitters with their share of the
    // table and the salt factor that would level them across 32
    // partitions (ceil(n·32/total), integer-exact). The per-key count
    // table is |keys| rows (one hash agg with map-side combine); the
    // global top-5 is a bounded TopK aggregate (≤5 state map-side — no
    // global sort); total rides a 1-row broadcast.
    "skew_audit" -> ((s, dir) => {
      import graft.functions.TopKByScoreAggregate
      val counts = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val total = counts.agg(sum("n").as("total"))
      counts
        .groupBy()
        .agg(TopKByScoreAggregate
          .topK(col("n").cast("double"), col("user_id"), 5).as("tk"))
        .select(posexplode(col("tk")).as(Seq("r0", "e")))
        .select((col("r0") + 1).cast("int").as("rank"),
          col("e")("neighbor_id").as("user_id"),
          col("e")("cos").cast("long").as("n"))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("user_id"), col("n"),
          (col("n").cast("double") / col("total").cast("double"))
            .as("share"),
          expr("CAST((n*32 + total - 1) div total AS BIGINT)")
            .as("salt_factor"))
    }),

    // O-ops: deterministic top-k with tie-break
    "o_topk_users" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
        .orderBy(col("total_value").desc, col("user_id").asc)
        .limit(10)
    }),

    // Window: first-3-per-key (O1/A5 ordering machinery)
    "w_first_per_key" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), col("event_id"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
    }),

    // F3: classifier when/otherwise chain (agha.py:94-126)
    "f3_classifier" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          when(col("n_chars") < 100, lit("short"))
            .when(col("n_chars") < 300, lit("medium"))
            .otherwise(lit("long")).as("size_class"))
        .groupBy("size_class").agg(count(lit(1)).as("n"))
    }),

    // F5: regex field validation (submission_data.py:18-22, 210-229)
    "f5_regex_valid" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(
          sum(when(col("text").rlike("^[a-z ]+$"), 1L).otherwise(0L))
            .as("n_valid"),
          count(lit(1)).as("n"))
    }),

    // §2.7 scalar functions: json extraction, path construction, basename
    "f_scalar_path" -> ((s, dir) => {
      t(s, dir, "events")
        .filter(col("event_id") < 100)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"),
          concat(col("event_type"), lit("/"), col("user_id"),
            lit("/"), col("event_id"), lit(".json")).as("path"))
        .select(
          col("event_id"), col("k"),
          regexp_extract(col("path"), "([^/]+)$", 1).as("basename"),
          regexp_extract(col("path"), "^([^/]+)/", 1).as("topdir"))
    }),

    // F1: include/exclude filename filter — whitelist XOR blacklist
    // (validation_manager.py:451-488)
    "f1_include_exclude" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val include = d.filter(col("lang").isin("en", "fr"))
        .select("doc_id", "lang")
      val exclude = d.filter(!col("source").isin("src0", "src1"))
        .select(col("doc_id").as("kept_doc_id"))
      include.join(exclude,
        include("doc_id") === exclude("kept_doc_id"), "left_semi")
        .select("doc_id", "lang")
    }),

    // F2: skip-file predicate — endswith disjunction + exception list
    // (submission_data.py:263-287)
    "f2_skip_predicate" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          (col("text").endsWith("table") || col("text").endsWith("row") ||
            col("text").endsWith("scan")).as("skip"))
        .filter(col("skip"))
        .select("doc_id")
    }),

    // §2.6 set ops: except
    "set_except" -> ((s, dir) => {
      val e = t(s, dir, "events")
      e.filter(col("event_type") === "error" && col("value") > 200)
        .select("user_id").distinct()
        .except(
          e.filter(col("event_type") === "purchase" && col("value") > 200)
            .select("user_id").distinct())
    }),

    // COHORT retention matrix — the week-over-week "do users come back"
    // table every event-analytics engine ships: users grouped by
    // first-seen week (integer week = epoch_days DIV 7 — no calendar
    // WEEK() semantics, which differ across engines), and per
    // (cohort, week) the count still active with the exact retention
    // share. Plan: the corpus collapses to DISTINCT (user, week) rows
    // (one exchange, map-side distinct partials); first-seen
    // re-aggregates those rows (user-keyed, no second scan); the
    // activity⟗first-seen join is user-keyed UNHINTED (open user
    // domain — the lm_* discipline); everything after is the
    // |cohorts|×|weeks| grid.
    "events_cohort_retention" -> ((s, dir) => {
      val uw = t(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000 DIV 7")
            .as("wk"))
        .distinct()
      val first = uw.groupBy("user_id").agg(min("wk").as("cohort"))
      val cohorts = first.groupBy("cohort").agg(count(lit(1)).as("n_cohort"))
      uw.join(first, Seq("user_id"))
        .groupBy("cohort", "wk").agg(count(lit(1)).as("n_active"))
        .join(cohorts, Seq("cohort"))
        .select(col("cohort"), col("wk"), col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort").cast("double"))
            .as("retention"))
    }),

    // Ordered FUNNEL: view → click → purchase, each step's timestamp
    // strictly after the previous step's FIRST occurrence per user (the
    // min-ts formulation — deterministic, one pass, no per-user event
    // sort). Emits one row per step with the user count and share of
    // step-1 reachers. Plan: corpus collapses to per-(user, step) MIN
    // ts (one exchange, map-side min partials), per-user pivot via
    // conditional aggregation, three integer comparisons, a 3-row
    // stack; |users|-bounded nothing — all aggregates.
    "events_funnel" -> ((s, dir) => {
      val m = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "view",
            expr("unix_micros(CAST(ts AS TIMESTAMP))"))).as("t1"),
          min(when(col("event_type") === "click",
            expr("unix_micros(CAST(ts AS TIMESTAMP))"))).as("t2"),
          min(when(col("event_type") === "purchase",
            expr("unix_micros(CAST(ts AS TIMESTAMP))"))).as("t3"))
      val agg = m.agg(
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("s1"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1"), 1L)
          .otherwise(0L)).as("s2"),
        sum(when(col("t1").isNotNull && col("t2") > col("t1")
          && col("t3") > col("t2"), 1L).otherwise(0L)).as("s3"))
      agg.select(explode(array(
          struct(lit(1L).as("step"), lit("view").as("event_type"),
            col("s1").as("n_users"), col("s1").as("base")),
          struct(lit(2L).as("step"), lit("click").as("event_type"),
            col("s2").as("n_users"), col("s1").as("base")),
          struct(lit(3L).as("step"), lit("purchase").as("event_type"),
            col("s3").as("n_users"), col("s1").as("base")))).as("r"))
        .select(col("r.step"), col("r.event_type"), col("r.n_users"),
          (col("r.n_users").cast("double") / col("r.base").cast("double"))
            .as("share_of_entry"))
    }),

    // Streaming-analog: tumbling 1h window counts (batch equivalent of the
    // Structured Streaming ingestion, SURVEY.md §2.8)
    "st_tumbling_counts" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    }),

    // Sessionization: 30-min-gap sessions per user (stateful-stream analog,
    // mapGroupsWithState semantics in batch form)
    "st_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      e.select(col("user_id"), col("ts"),
          lag(col("ts"), 1).over(w).as("prev_ts"))
        .select(col("user_id"),
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
            1L).otherwise(0L).as("new_session"))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("n_sessions"))
    }),

    // J13: INTERVAL (range) join — per session window of the first 40
    // users, how many events (any user) fall inside [start, end]. Spark
    // has no native band join; the scale plan is time-BUCKETING: windows
    // explode to the hour buckets they span, events key to their one
    // bucket, and the range predicate refines an ordinary shuffled
    // equi-join on the bucket — no broadcast-nested-loop, no cartesian,
    // and each event matches a window's bucket list at most once (its own
    // bucket), so no post-join dedup is needed. Bucket width trades
    // explode fan-out (≤ span/width + 1 rows per window) against per-
    // bucket candidate count; sessions are 30-min-gap bounded, so hours
    // keep the fan-out tiny.
    "j13_interval_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sessions = e
        .select(col("user_id"), col("ts"),
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_timestamp(col("ts")) -
              unix_timestamp(lag(col("ts"), 1).over(w)) > 1800,
            1L).otherwise(0L).as("new_s"),
          col("event_id"))
        .select(col("user_id"), col("ts"),
          sum(col("new_s")).over(
            Window.partitionBy(col("user_id"))
              .orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("session_id"))
        .groupBy("user_id", "session_id")
        .agg(unix_timestamp(min(col("ts"))).as("s_start"),
          unix_timestamp(max(col("ts"))).as("s_end"))
        .filter(col("user_id") < 40)
      val bucketed = sessions.withColumn("bucket",
        explode(sequence(floor(col("s_start") / 3600L),
          floor(col("s_end") / 3600L))))
      val ev = e.select(unix_timestamp(col("ts")).as("t"))
        .withColumn("bucket", floor(col("t") / 3600L))
      bucketed.join(ev,
          bucketed("bucket") === ev("bucket") &&
            col("t") >= col("s_start") && col("t") <= col("s_end"))
        .groupBy("user_id", "session_id", "s_start", "s_end")
        .agg(count(lit(1)).as("n_in_window"))
    })
  )

  val oracles: Map[String, String] = Map(
    "skew_audit" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
          t AS (SELECT SUM(n) AS total FROM c),
          r AS (SELECT user_id, n,
                       ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC)
                         AS rank
                FROM c)
          SELECT CAST(rank AS INT) AS rank, user_id,
                 CAST(n AS BIGINT) AS n,
                 CAST(n AS DOUBLE)/CAST(total AS DOUBLE) AS share,
                 CAST((n*32 + total - 1) // total AS BIGINT) AS salt_factor
          FROM r, t WHERE rank <= 5""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
         COUNT(*) AS n
         FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "a3_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem GROUP BY 1""",
    "a1_rollup" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(GROUPING(source, lang) AS BIGINT) AS gid
         FROM documents GROUP BY ROLLUP (source, lang)""",
    "j1_anti" ->
      """SELECT o_orderkey FROM orders o WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)""",
    "j3_semi" ->
      """SELECT c_custkey FROM customer c WHERE EXISTS
         (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""",
    "j2_undeclared_anti" ->
      """SELECT o_custkey, COUNT(*) AS n_rows FROM orders
         WHERE o_custkey NOT IN
           (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
         GROUP BY 1""",
    "j5_second_dim" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""",
    "a7_count_reconciliation" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers,
         CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
           AS BIGINT) AS n_with_orders,
         COUNT(*) - CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL THEN 1
           ELSE 0 END) AS BIGINT) AS n_missing,
         CASE WHEN COUNT(*) <> SUM(CASE WHEN o.o_custkey IS NOT NULL
           THEN 1 ELSE 0 END) THEN 'INCOMPLETE' ELSE 'COMPLETE' END AS status
         FROM customer c
         LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
           ON c.c_custkey = o.o_custkey
         GROUP BY 1""",
    "a8_group_evidence" ->
      """SELECT user_id,
         array_to_string((list(event_id ORDER BY ts, event_id))[1:5], '|')
           AS first_events,
         COUNT(*) AS n_events
         FROM events GROUP BY 1""",
    "j4_dim_join" ->
      """SELECT p_brand,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""",
    "j7_full_outer_diff" ->
      """SELECT COALESCE(c.custkey, o.custkey) AS custkey,
         CASE WHEN c.custkey IS NULL THEN 0 ELSE 1 END AS in_cust,
         CASE WHEN o.custkey IS NULL THEN 0 ELSE 1 END AS in_ord
         FROM (SELECT DISTINCT c_custkey AS custkey FROM customer) c
         FULL OUTER JOIN (SELECT DISTINCT o_custkey AS custkey FROM orders) o
         USING (custkey)""",
    "j8_compensated_anti" ->
      """WITH s AS (SELECT DISTINCT user_id FROM events WHERE event_type='error' AND value > 300),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type='purchase' AND value > 300),
         hv AS (SELECT user_id FROM events WHERE event_type='view'
                GROUP BY 1 HAVING COUNT(*) >= 25)
         SELECT user_id FROM s
         WHERE user_id NOT IN (SELECT user_id FROM p)
           AND user_id NOT IN (SELECT user_id FROM hv)""",
    "j9_completeness_anti" ->
      """SELECT n_nationkey, n_name FROM nation n WHERE NOT EXISTS
         (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey)""",
    "a5_dedup_keepfirst" ->
      """SELECT doc_id, grp FROM (
           SELECT doc_id,
                  ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn,
                  COUNT(*) OVER (PARTITION BY text) AS grp
           FROM documents) WHERE rn = 1 AND grp > 1""",
    "a6_dup_membership" ->
      """SELECT doc_id, grp FROM (
           SELECT doc_id, COUNT(*) OVER (PARTITION BY text) AS grp
           FROM documents) WHERE grp > 1""",
    "a9_verdict_rollup" ->
      """SELECT source,
         CASE WHEN SUM(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) > 0
              THEN 'FAIL' ELSE 'PASS' END AS status,
         CAST(SUM(CASE WHEN n_chars < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         COUNT(*) AS n_docs
         FROM documents GROUP BY source""",
    "o_topk_users" ->
      """SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1
         ORDER BY total_value DESC, user_id ASC LIMIT 10""",
    "w_first_per_key" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn <= 3""",
    "f3_classifier" ->
      """SELECT CASE WHEN n_chars < 100 THEN 'short'
                     WHEN n_chars < 300 THEN 'medium'
                     ELSE 'long' END AS size_class, COUNT(*) AS n
         FROM documents GROUP BY 1""",
    "f5_regex_valid" ->
      """SELECT lang,
         CAST(SUM(CASE WHEN regexp_matches(text, '^[a-z ]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
         COUNT(*) AS n
         FROM documents GROUP BY 1""",
    "f_scalar_path" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k,
         regexp_extract(event_type || '/' || user_id || '/' || event_id || '.json', '([^/]+)$', 1) AS basename,
         regexp_extract(event_type || '/' || user_id || '/' || event_id || '.json', '^([^/]+)/', 1) AS topdir
         FROM events WHERE event_id < 100""",
    "f1_include_exclude" ->
      """SELECT doc_id, lang FROM documents
         WHERE lang IN ('en','fr')
           AND doc_id IN (SELECT doc_id FROM documents
                          WHERE source NOT IN ('src0','src1'))""",
    "f2_skip_predicate" ->
      """SELECT doc_id FROM documents
         WHERE text LIKE '%table' OR text LIKE '%row' OR text LIKE '%scan'""",
    "set_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type='error' AND value > 200
         EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type='purchase' AND value > 200""",
    "events_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 // 7 AS wk
           FROM events),
         first AS (SELECT user_id, CAST(MIN(wk) AS BIGINT) AS cohort
                   FROM uw GROUP BY 1),
         cs AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_cohort
                FROM first GROUP BY 1),
         act AS (SELECT cohort, wk, CAST(COUNT(*) AS BIGINT) AS n_active
                 FROM uw JOIN first USING (user_id) GROUP BY 1, 2)
         SELECT cohort, CAST(wk AS BIGINT) AS wk, n_active, n_cohort,
                CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)
                  AS retention
         FROM act JOIN cs USING (cohort)""",
    "events_funnel" ->
      """WITH m AS (SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t2,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS t3
           FROM events
           WHERE event_type IN ('view', 'click', 'purchase')
           GROUP BY 1),
         a AS (SELECT
             CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1
                      THEN 1 ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
                      THEN 1 ELSE 0 END) AS BIGINT) AS s3
           FROM m)
         SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type,
                s1 AS n_users,
                CAST(s1 AS DOUBLE)/CAST(s1 AS DOUBLE) AS share_of_entry
         FROM a
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'click', s2,
                CAST(s2 AS DOUBLE)/CAST(s1 AS DOUBLE) FROM a
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'purchase', s3,
                CAST(s3 AS DOUBLE)/CAST(s1 AS DOUBLE) FROM a""",
    "st_tumbling_counts" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
         FROM events GROUP BY 1,2""",
    "st_sessionize" ->
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions FROM (
           SELECT user_id,
                  CASE WHEN prev_ts IS NULL
                            OR epoch(ts) - epoch(prev_ts) > 1800
                       THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts,
                        LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_ts
                 FROM events)) GROUP BY 1""",
    "j13_interval_join" ->
      // floor(epoch(..)) everywhere: Spark's unix_timestamp FLOORS the
      // sub-second part, DuckDB's CAST(double AS BIGINT) would round
      """WITH marked AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN prev_ts IS NULL
                            OR floor(epoch(ts)) - floor(epoch(prev_ts))
                               > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM (SELECT user_id, ts, event_id,
                        LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_ts
                 FROM events)),
         numbered AS (
           SELECT user_id, ts,
                  CAST(SUM(new_s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
           FROM marked),
         sess AS (
           SELECT user_id, session_id,
                  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_start,
                  CAST(floor(epoch(MAX(ts))) AS BIGINT) AS s_end
           FROM numbered GROUP BY 1, 2
           HAVING user_id < 40)
         SELECT s.user_id, s.session_id, s.s_start, s.s_end,
                COUNT(*) AS n_in_window
         FROM sess s
         JOIN (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events) e
           ON e.t BETWEEN s.s_start AND s.s_end
         GROUP BY 1, 2, 3, 4"""
  )
}
