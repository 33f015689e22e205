package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}

import graft.Tables

/** The engine's SQL entry point (SURVEY §1.5). The reference's whole
  * downstream tier is SQL strings run by Athena over Glue-cataloged
  * parquet (/root/reference/addons.tf:259-263 provisions the
  * athena-queries/ prefix; addons.tf:299-365 declares the table DDL) —
  * a user arriving from the reference writes SQL, not Scala. Here the
  * catalog is session temp views over the same parquet scans the
  * DataFrame API uses, and q37/q38 run the pricing-summary and rollup
  * workloads as ANSI SQL text end-to-end through `spark.sql`, hints
  * included — same Catalyst plans as their DataFrame twins (q06/q12),
  * so everything pushdown/broadcast-related carries over unchanged.
  */
object SqlSurface {

  /** Register every driver table as a session temp view (idempotent).
    * Views wrap the plain parquet scans, so SQL text gets the same
    * pushdown/pruning as the DataFrame surface. Memoized per session via
    * a conf marker: re-registration re-reads ten parquet footers for
    * nothing, so repeat SQL queries against the same data dir skip it
    * (a new dir re-registers — the views must track the data). */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val marker = "graft.sql.viewsDir"
    if (spark.conf.getOption(marker).contains(sfDir)) return
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.table(spark, sfDir, t).createOrReplaceTempView(t))
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark.conf.set(marker, sfDir)
  }

  /** q37 — the TPC-H-Q1-shaped pricing summary as SQL text (q06's twin).
    * Exact decimal accumulators spelled directly in SQL. */
  val q37 = QuerySpec(
    "q37_sql_pricing_agg",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT l_returnflag, l_linestatus,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
              |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
              |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
              |  count(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP_NTZ '1998-12-01 00:00:00'
              |GROUP BY l_returnflag, l_linestatus
              |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    },
    Some(s"""SELECT l_returnflag, l_linestatus,
            |  ${Det.sqlDsum("l_quantity", 2)} AS sum_qty,
            |  ${Det.sqlDsum("l_extendedprice", 2)} AS sum_base_price,
            |  ${Det.sqlDsum("l_extendedprice * (1.0 - l_discount)", 6)} AS sum_disc_price,
            |  count(*) AS count_order
            |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-12-01'
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus""".stripMargin),
  )

  /** q38 — ROLLUP over the 3-table join as SQL text (q12's twin), with a
    * BROADCAST hint proving hint syntax rides through the SQL surface. */
  val q38 = QuerySpec(
    "q38_sql_rollup",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT /*+ BROADCAST(nation) */
              |  coalesce(n_name, '(all)') AS nation,
              |  coalesce(o_orderpriority, '(all)') AS priority,
              |  count(*) AS n_orders,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY ROLLUP (n_name, o_orderpriority)
              |ORDER BY nation, priority""".stripMargin)
    },
    Some(s"""SELECT coalesce(n_name, '(all)') AS nation,
            |  coalesce(o_orderpriority, '(all)') AS priority,
            |  count(*) AS n_orders, ${Det.sqlDsum("o_totalprice", 2)} AS total
            |FROM orders JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |GROUP BY ROLLUP (n_name, o_orderpriority)
            |ORDER BY nation, priority""".stripMargin),
  )

  /** q48 — CUBE over the same join as q38's rollup: all four grouping
    * combinations (both, each, grand total), distinguished via
    * grouping() so the '(all)' placeholder can't collide with data.
    * Same Expand-based plan family as rollup; at scale the Expand
    * multiplies shuffle rows by the grouping-set count — the reason to
    * pin the sets you need rather than defaulting to CUBE. */
  val q48 = QuerySpec(
    "q48_sql_cube",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT /*+ BROADCAST(nation) */
              |  CASE WHEN grouping(n_name) = 1 THEN '(all)' ELSE n_name END AS nation,
              |  CASE WHEN grouping(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
              |  count(*) AS n_orders,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |GROUP BY CUBE (n_name, o_orderstatus)
              |ORDER BY nation, status""".stripMargin)
    },
    Some(s"""SELECT
            |  CASE WHEN grouping(n_name) = 1 THEN '(all)' ELSE n_name END AS nation,
            |  CASE WHEN grouping(o_orderstatus) = 1 THEN '(all)' ELSE o_orderstatus END AS status,
            |  count(*) AS n_orders, ${Det.sqlDsum("o_totalprice", 2)} AS total
            |FROM orders JOIN customer ON o_custkey = c_custkey
            |JOIN nation ON c_nationkey = n_nationkey
            |GROUP BY CUBE (n_name, o_orderstatus)
            |ORDER BY nation, status""".stripMargin),
  )

  /** q51 — correlated scalar subquery through the SQL surface: orders
    * priced above 1.5× their customer's average order price. Catalyst
    * decorrelates this into an aggregate + join (no per-row subquery
    * execution — the thing a naive engine would do and die at scale).
    * The average is spelled as exact-decimal-sum ÷ count rather than
    * avg(): Spark's avg over DECIMAL rounds to scale+4 before the double
    * cast while DuckDB's keeps full precision, a ~5e-7 divergence that
    * could flip the 1.5× threshold on an unlucky order; sum-then-divide
    * is the same IEEE division of identical operands on both engines. */
  val q51 = QuerySpec(
    "q51_sql_correlated_subquery",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT o_custkey, o_orderkey, o_totalprice
              |FROM orders o
              |WHERE o_totalprice > 1.5 * (
              |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / count(*)
              |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
              |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice
           |FROM orders o
           |WHERE o_totalprice > 1.5 * (
           |  SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,2))) AS DOUBLE) / count(*)
           |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
           |ORDER BY o_custkey, o_orderkey""".stripMargin),
  )

  /** q56 — ordered string aggregation (listagg WITHIN GROUP — new in
    * Spark 4; Athena/Trino's listagg, DuckDB's string_agg): comma-joined
    * nation rosters per region. The explicit WITHIN GROUP ordering is
    * what makes a concatenation aggregate deterministic — unordered
    * string_agg output depends on shuffle arrival order. */
  val q56 = QuerySpec(
    "q56_sql_listagg",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT r_regionkey,
              |  listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
              |  count(*) AS n_nations
              |FROM nation JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_regionkey ORDER BY r_regionkey""".stripMargin)
    },
    Some("""SELECT r_regionkey,
           |  string_agg(n_name, ',' ORDER BY n_name) AS nations,
           |  count(*) AS n_nations
           |FROM nation JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_regionkey ORDER BY r_regionkey""".stripMargin),
  )

  /** q71 — SQL-surface table generator: LATERAL VIEW explode over the
    * embeddings array column (the UDTF/generator category through SQL
    * text, where q19 covers it via the DataFrame API). The generator
    * runs inside the scan's codegen stage; the aggregate above it is the
    * usual two-phase hash agg. Oracle is DuckDB's unnest of the same
    * array, with the exact-decimal sum pattern on both engines. */
  val q71 = QuerySpec(
    "q71_sql_lateral_explode",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT label, count(*) AS n_pos,
              |  CAST(sum(CAST(cast(x AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS x_sum
              |FROM embeddings LATERAL VIEW explode(embedding) t AS x
              |WHERE x > 0 GROUP BY label ORDER BY label""".stripMargin)
    },
    Some("""SELECT label, count(*) AS n_pos,
           |  CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS x_sum
           |FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
           |WHERE x > 0 GROUP BY label ORDER BY label""".stripMargin),
  )

  /** q72 — explicit GROUPING SETS via SQL text, completing the grouped-
    * aggregation family (q12 rollup, q48 cube): exactly the three sets
    * the report needs — (flag,status), (flag), grand total — instead of
    * cube's 2ⁿ. At scale the Expand multiplies shuffle rows by the SET
    * COUNT, which is why pinning sets beats defaulting to cube.
    * grouping() disambiguates placeholder rows, as in q48. */
  val q72 = QuerySpec(
    "q72_sql_grouping_sets",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT
              |  CASE WHEN grouping(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS flag,
              |  CASE WHEN grouping(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS status,
              |  count(*) AS n_items,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty_sum
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
              |ORDER BY flag, status""".stripMargin)
    },
    Some("""SELECT
           |  CASE WHEN grouping(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS flag,
           |  CASE WHEN grouping(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS status,
           |  count(*) AS n_items,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS qty_sum
           |FROM lineitem
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
           |ORDER BY flag, status""".stripMargin),
  )

  /** q83 — correlated EXISTS / NOT EXISTS through the SQL surface,
    * completing q51's scalar-subquery family: customers with at least
    * one big order and no order still in 'F' status. Catalyst
    * decorrelates the pair into a left-semi plus a left-anti join on
    * c_custkey — set-membership tests as joins, never a per-row probe
    * (the thing that separates a planner from a row-at-a-time
    * interpreter at 100 TB). Both subqueries share the orders scan. */
  val q83 = QuerySpec(
    "q83_sql_exists_subquery",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT c_custkey, c_name
              |FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
              |  AND NOT EXISTS (SELECT 1 FROM orders o
              |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
              |ORDER BY c_custkey""".stripMargin)
    },
    Some("""SELECT c_custkey, c_name
           |FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
           |  AND NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
           |ORDER BY c_custkey""".stripMargin),
  )

  /** q93 — explicit Bloom semi-join reduction: build a Bloom filter
    * over the selective side's join keys (a scalar subquery — one tiny
    * mergeable aggregate), pre-filter the fact scan with
    * graft_might_contain BEFORE the shuffle, then run the exact join.
    * This is the hand-rolled form of Spark's own runtime join filters
    * (the expressions ship in Catalyst but aren't SQL-registered;
    * GraftExtensions injects them) — at 100 TB it's the difference
    * between shuffling the whole fact table and shuffling the ~1% that
    * can possibly match. False positives are REMOVED by the exact join,
    * so the result — and the oracle, which is the plain join — is
    * byte-identical to the unfiltered plan. */
  val q93 = QuerySpec(
    "q93_sql_bloom_semi_reduction",
    (s, d) => {
      registerViews(s, d)
      s.sql(s"""SELECT o_orderpriority, count(*) AS n_items,
               |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS revenue
               |FROM (SELECT l_orderkey, l_extendedprice FROM lineitem
               |      WHERE graft_might_contain(
               |        (SELECT graft_bloom_agg(xxhash64(o_orderkey), 50000L, 400000L)
               |         FROM orders WHERE o_totalprice > 400000),
               |        xxhash64(l_orderkey))) l
               |JOIN orders o ON l.l_orderkey = o.o_orderkey
               |WHERE o.o_totalprice > 400000
               |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n_items,
            |  ${Det.sqlDsum("l_extendedprice", 2)} AS revenue
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |WHERE o_totalprice > 400000
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
  )

  /** q97 — UNPIVOT through the SQL surface: the wide hourly matrix
    * (q46's pivot shape, rebuilt inline as conditional decimal sums)
    * melted back to long form with ANSI UNPIVOT — the wide→long half of
    * the reshaping pair, which Spark plans as an Expand (each input row
    * fans to one row per measure column, nulls excluded by default).
    * The oracle spells the same melt as UNION ALL branches — semantics,
    * not syntax, are what's gated. Exact decimal sums carried through
    * the unpivot, cast to double only at the end. */
  val q97 = QuerySpec(
    "q97_sql_unpivot",
    (s, d) => {
      registerViews(s, d)
      s.sql("""WITH wide AS (
              |  SELECT CAST(extract(HOUR FROM ts) AS INT) AS h,
              |    sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,4)) END) AS click,
              |    sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(30,4)) END) AS view,
              |    sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(30,4)) END) AS purchase
              |  FROM events GROUP BY 1)
              |SELECT h, event_type, CAST(value_sum AS DOUBLE) AS value_sum
              |FROM wide UNPIVOT (value_sum FOR event_type IN (click, view, purchase))
              |ORDER BY h, event_type""".stripMargin)
    },
    Some("""WITH wide AS (
           |  SELECT CAST(extract(HOUR FROM ts) AS INT) AS h,
           |    sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(30,4)) END) AS click,
           |    sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(30,4)) END) AS view,
           |    sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(30,4)) END) AS purchase
           |  FROM events GROUP BY 1),
           |long AS (
           |  SELECT h, 'click' AS event_type, click AS v FROM wide
           |  UNION ALL SELECT h, 'view', view FROM wide
           |  UNION ALL SELECT h, 'purchase', purchase FROM wide)
           |SELECT h, event_type, CAST(v AS DOUBLE) AS value_sum
           |FROM long WHERE v IS NOT NULL
           |ORDER BY h, event_type""".stripMargin),
  )

  /** q103 — recursive CTE through the SQL surface (WITH RECURSIVE, new
    * in Spark 4 — planned as UnionLoopExec): an exponential moving
    * average of quarterly order volume, EMA_i = (7·EMA_{i-1} + 3·x_i)/10.
    * An EMA is *inherently sequential* — each quarter depends on the
    * previous quarter's state — so it cannot be a window frame or a
    * plain aggregate; recursion (or q44-style stateful streaming) is
    * the only declarative form. Integer ppm arithmetic end-to-end: the
    * update is exact floor division on both engines, zero float drift
    * (the q64/q70 integer-ratio pattern).
    *
    * Two costs shape the plan. (1) UnionLoopExec re-plans and re-runs
    * the recursive branch EVERY iteration, so the quarter rollup is
    * materialized ONCE into a local-relation temp view before the
    * recursion — a plain CTE over the orders scan would re-run the
    * fact-table aggregate per step (68 scans, 23 s at sf0.1 when first
    * measured); the rollup is calendar-bounded (one row per quarter at
    * any corpus size), so driver-side materialization is O(quarters).
    * (2) Each iteration is a fixed-overhead Spark job (~0.1 s
    * regardless of data volume — same economics as q59's propagation
    * rounds), so recursion DEPTH is the real budget: quarterly
    * granularity (depth ~23) keeps the full date range at a third of
    * monthly's depth. Profiled in isolation (BASELINE.md "q103
    * recursive-CTE cold-path profile"): cold ≈ 14 s / warm ≈ 3.5 s
    * IDENTICAL at sf0.01 and sf0.1 — all fixed UnionLoopExec
    * re-planning overhead, zero data-volume term; codegen and AQE
    * each contribute only ~2 s cold, so no config flag moves the
    * floor. Accepted as the Spark 4 recursive-CTE tax. */
  val q103 = QuerySpec(
    "q103_sql_recursive_ema",
    (s, d) => {
      registerViews(s, d)
      val m = s.sql(
        """SELECT CAST(row_number() OVER (ORDER BY qtr) AS BIGINT) AS i, qtr, cnt
          |FROM (SELECT date_trunc('quarter', o_orderdate) AS qtr, count(*) AS cnt
          |      FROM orders
          |      WHERE o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          |      GROUP BY 1)""".stripMargin)
      val quarters = Eager(m) // one row per calendar quarter — bounded at any SF
      quarters.createOrReplaceTempView("graft_quarter_counts")
      // r13 (guide §2.2/§2.4, round-12 verdict ask #5): every
      // UnionLoopExec iteration is a fixed-overhead Spark job over
      // O(quarters) rows, and at the session width each level's
      // join/exchange schedules a full session's worth of near-empty
      // tasks × depth ≈ 23 — the per-iteration surface ambient load
      // multiplies (the contract's worst 8c/32c ratio). The frame is
      // CALENDAR-bounded at any corpus size, so the recursion rides the
      // derived-width rule (resolves to its floor here — a data-volume
      // bound, not a local-core tune). Eager'd inside the scope so the
      // iterations actually execute at this width; the readout is
      // O(quarters) rows.
      // AQE off for the recursion only: UnionLoopExec re-optimizes the
      // loop body EVERY iteration, and over a calendar-bounded local
      // relation that re-optimization is the iteration's dominant cost
      // (A/B: warm 3.4 s → 2.8 s at sf0.1). The frame is O(quarters)
      // at any corpus size, so AQE can never help this query at any
      // scale — placement/planning only, results identical.
      graft.Confs.withShufflePartitions(s,
        graft.Confs.derivedWidth(s, quarters.count(), 8)) {
        graft.Confs.withConf(s, "spark.sql.adaptive.enabled", "false") {
        Eager(s.sql("""WITH RECURSIVE ema(i, qtr, cnt, ema_ppm) AS (
              |  SELECT i, qtr, cnt, cnt * 1000000L FROM graft_quarter_counts WHERE i = 1
              |  UNION ALL
              |  SELECT m.i, m.qtr, m.cnt, (e.ema_ppm * 7L + m.cnt * 3000000L) div 10L
              |  FROM ema e JOIN graft_quarter_counts m ON m.i = e.i + 1)
              |SELECT date_format(qtr, 'yyyy-MM') AS quarter, cnt AS n_orders, ema_ppm
              |FROM ema ORDER BY quarter""".stripMargin))
        }
      }
    },
    Some("""WITH RECURSIVE m AS (
           |  SELECT CAST(row_number() OVER (ORDER BY qtr) AS BIGINT) AS i, qtr, cnt
           |  FROM (SELECT date_trunc('quarter', o_orderdate) AS qtr, count(*) AS cnt
           |        FROM orders
           |        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           |        GROUP BY 1)),
           |ema(i, qtr, cnt, ema_ppm) AS (
           |  SELECT i, qtr, cnt, cnt * 1000000 FROM m WHERE i = 1
           |  UNION ALL
           |  SELECT m.i, m.qtr, m.cnt, (e.ema_ppm * 7 + m.cnt * 3000000) // 10
           |  FROM ema e JOIN m ON m.i = e.i + 1)
           |SELECT strftime(qtr, '%Y-%m') AS quarter, cnt AS n_orders,
           |  CAST(ema_ppm AS BIGINT) AS ema_ppm
           |FROM ema ORDER BY quarter""".stripMargin),
  )

  /** q116 — the VARIANT semi-structured type (new in Spark 4): event
    * props parsed ONCE into variant (a typed binary encoding — cheaper
    * than per-access JSON string re-parsing, the engine-native
    * answer to schemaless columns), then typed extraction via
    * variant_get with a cast in the path. Where q18's from_json needs
    * the schema declared up front, variant defers typing to the access
    * site — the lakehouse pattern for heterogeneous event payloads.
    * Parse + extract are per-row codegen-adjacent expressions; the
    * aggregate above is the ordinary two-phase hash agg. */
  val q116 = QuerySpec(
    "q116_variant_json",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT event_type, count(*) AS n_events,
              |  CAST(sum(variant_get(parse_json(props), '$.k', 'bigint')) AS BIGINT) AS k_sum
              |FROM events
              |GROUP BY event_type ORDER BY event_type""".stripMargin)
    },
    Some("""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
           |FROM events
           |GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q129 — SQL-defined scalar function (Spark 4 `CREATE TEMPORARY
    * FUNCTION ... RETURN expr`): the quality-score heuristic packaged
    * as a catalog function a SQL-only user can call — the Athena-style
    * answer to "share scoring logic without shipping a jar". The body
    * INLINES into the caller's plan (no UDF boundary, stays inside
    * whole-stage codegen), so it costs the same as writing the
    * expression by hand; the oracle states exactly that inlined
    * expression. Everything is cast to DOUBLE before dividing — Spark
    * and DuckDB disagree on decimal-literal division scales, doubles
    * are IEEE-identical. */
  val q129 = QuerySpec(
    "q129_sql_udf_scalar",
    (s, d) => {
      registerViews(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_qscore(n_chars BIGINT, n_toks INT)
              |RETURNS DOUBLE
              |RETURN round(least(CAST(1.0 AS DOUBLE), CAST(n_toks AS DOUBLE) / 100.0)
              |  * (CAST(n_chars AS DOUBLE) / greatest(n_toks, 1) / 8.0), 6)""".stripMargin)
      s.sql("""SELECT doc_id,
              |  graft_qscore(n_chars, size(split(lower(text), '\\s+'))) AS qscore
              |FROM documents ORDER BY doc_id""".stripMargin)
    },
    Some("""SELECT doc_id,
           |  round(least(CAST(1.0 AS DOUBLE),
           |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS DOUBLE) / 100.0)
           |  * (CAST(n_chars AS DOUBLE)
           |     / greatest(len(regexp_split_to_array(lower(text), '\s+')), 1) / 8.0), 6)
           |    AS qscore
           |FROM documents ORDER BY doc_id""".stripMargin),
  )

  /** q130 — SQL table-valued function + correlated LATERAL: a chunking
    * TVF (64-char stride) applied per document row — the SQL twin of
    * q67's DataFrame chunker, and the first-class way a SQL user fans
    * one row out to N. The TVF body is `explode(sequence(...))`, so the
    * plan is a Generate over the scan — identical to hand-written
    * explode, one task-local fan-out, no shuffle. greatest(n-1, 0)
    * keeps empty documents at one chunk on BOTH engines (Spark's int
    * `/` is truncating-toward-zero double division, DuckDB's `//`
    * floors — they disagree at -1/64, agree at 0). */
  val q130 = QuerySpec(
    "q130_sql_table_function",
    (s, d) => {
      registerViews(s, d)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_chunks(n BIGINT)
              |RETURNS TABLE(chunk_id INT)
              |RETURN SELECT explode(sequence(0, CAST(greatest(n - 1, 0) / 64 AS INT)))""".stripMargin)
      s.sql("""SELECT d.doc_id, count(*) AS n_chunks, max(t.chunk_id) AS last_chunk
              |FROM documents d, LATERAL graft_chunks(d.n_chars) t
              |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)
    },
    Some("""SELECT doc_id,
           |  CAST(greatest(n_chars - 1, 0) // 64 AS BIGINT) + 1 AS n_chunks,
           |  CAST(greatest(n_chars - 1, 0) // 64 AS INT) AS last_chunk
           |FROM documents ORDER BY doc_id""".stripMargin),
  )

  /** q135 — SQL pipe syntax (Spark 4 `|>` operators): the pricing
    * rollup written as a linear pipeline — FROM |> WHERE |> AGGREGATE
    * |> ORDER BY — the readability-first SQL dialect for multi-step
    * transforms (each stage parses to exactly the clause it names, so
    * the plan is identical to the nested-SELECT form; the oracle states
    * that equivalent standard SQL). */
  val q135 = QuerySpec(
    "q135_sql_pipe_syntax",
    (s, d) => {
      registerViews(s, d)
      s.sql("""FROM lineitem
              ||> WHERE l_quantity >= 30.0
              ||> AGGREGATE
              |     CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
              |     count(*) AS n
              |   GROUP BY l_returnflag
              ||> ORDER BY l_returnflag""".stripMargin)
    },
    Some(s"""SELECT l_returnflag, ${Det.sqlDsum("l_quantity", 2)} AS sum_qty,
            |  count(*) AS n
            |FROM lineitem WHERE l_quantity >= 30.0
            |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )

  /** q142 — TPC-H-Q11-shaped value concentration via SQL text: revenue
    * per part type, keeping only types whose total clears a fraction of
    * the GLOBAL total — a HAVING predicate against an uncorrelated
    * scalar subquery. Catalyst plans the scalar as its own aggregate
    * subtree and broadcasts the single value into the filter; the fact
    * scan is shared via the CTE. Revenue stays in exact DECIMAL through
    * the comparison (both engines multiply the same decimal operands),
    * and the emitted total is integer cents — no float in the gate. */
  val q142 = QuerySpec(
    "q142_sql_having_scalar",
    (s, d) => {
      registerViews(s, d)
      s.sql("""WITH r AS (
              |  SELECT p_type,
              |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)) AS rev6
              |  FROM lineitem JOIN part ON l_partkey = p_partkey)
              |SELECT p_type, CAST(floor(sum(rev6) * 100) AS BIGINT) AS rev_cents
              |FROM r GROUP BY p_type
              |HAVING sum(rev6) > (SELECT sum(rev6) FROM r) * 0.17
              |ORDER BY rev_cents DESC, p_type""".stripMargin)
    },
    Some("""WITH r AS (
           |  SELECT p_type,
           |    CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)) AS rev6
           |  FROM lineitem JOIN part ON l_partkey = p_partkey)
           |SELECT p_type, CAST(floor(sum(rev6) * 100) AS BIGINT) AS rev_cents
           |FROM r GROUP BY p_type
           |HAVING sum(rev6) > (SELECT sum(rev6) FROM r) * 0.17
           |ORDER BY rev_cents DESC, p_type""".stripMargin),
  )

  /** q151 — GROUP BY ALL / ORDER BY ALL: the analyst-ergonomics SQL
    * sugar (group by every non-aggregate select item; order by every
    * output column left-to-right) that Spark and DuckDB both speak —
    * the resolver expands ALL at analysis time, so the plan is
    * identical to the explicit form. ORDER BY ALL also makes the
    * total-order determinism rule self-enforcing: every column is a
    * sort key. */
  val q151 = QuerySpec(
    "q151_sql_group_by_all",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
              |  count(*) AS n,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
              |FROM lineitem
              |GROUP BY ALL ORDER BY ALL""".stripMargin)
    },
    Some(s"""SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
            |  count(*) AS n, ${Det.sqlDsum("l_quantity", 2)} AS sum_qty
            |FROM lineitem
            |GROUP BY ALL ORDER BY ALL""".stripMargin),
  )

  /** q154 — the standard aggregate FILTER clause: per-group conditional
    * aggregation without CASE scaffolding, one scan feeding all four
    * filtered aggregates (Catalyst compiles each FILTER into the
    * aggregate's own predicate — no extra pass, partial aggregation
    * intact). */
  val q154 = QuerySpec(
    "q154_sql_agg_filter",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT l_returnflag,
              |  count(*) AS n_all,
              |  count(*) FILTER (WHERE l_quantity >= 25.0) AS n_big,
              |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE)
              |    AS qty_discounted,
              |  count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F') AS n_supp_finished
              |FROM lineitem
              |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    },
    Some("""SELECT l_returnflag,
           |  count(*) AS n_all,
           |  count(*) FILTER (WHERE l_quantity >= 25.0) AS n_big,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE)
           |    AS qty_discounted,
           |  count(DISTINCT l_suppkey) FILTER (WHERE l_linestatus = 'F') AS n_supp_finished
           |FROM lineitem
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )

  /** q167 — IN / NOT IN subqueries, including the NULL trap: IN
    * decorrelates to a semi join, null-free NOT IN to an anti join, and
    * NOT IN against a subquery that CAN yield NULL must evaluate under
    * three-valued logic (one NULL in the list makes NOT IN never-true →
    * zero rows) — Spark plans the null-aware anti join for exactly this
    * case, and the gate pins that both engines agree the count is 0.
    * Misreading that semantics silently drops or keeps entire
    * populations in retention queries, which is why it's pinned here. */
  val q167 = QuerySpec(
    "q167_sql_in_notin",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT
              |  (SELECT count(*) FROM customer WHERE c_custkey IN
              |    (SELECT o_custkey FROM orders
              |     WHERE o_orderdate >= TIMESTAMP_NTZ '2000-01-01')) AS n_recent_buyers,
              |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
              |    (SELECT o_custkey FROM orders
              |     WHERE o_orderdate >= TIMESTAMP_NTZ '2000-01-01')) AS n_quiet,
              |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
              |    (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
              |            ELSE o_custkey END FROM orders)) AS n_not_in_nullable""".stripMargin)
    },
    Some("""SELECT
           |  (SELECT count(*) FROM customer WHERE c_custkey IN
           |    (SELECT o_custkey FROM orders
           |     WHERE o_orderdate >= TIMESTAMP '2000-01-01')) AS n_recent_buyers,
           |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
           |    (SELECT o_custkey FROM orders
           |     WHERE o_orderdate >= TIMESTAMP '2000-01-01')) AS n_quiet,
           |  (SELECT count(*) FROM customer WHERE c_custkey NOT IN
           |    (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
           |            ELSE o_custkey END FROM orders)) AS n_not_in_nullable""".stripMargin),
  )

  /** q183 — SQL LATERAL correlated subquery join: each customer row
    * drives an aggregate over its own orders, and the empty group
    * still yields one row (count 0, NULL max) — the per-entity-profile
    * idiom SQL users reach for before learning groupBy+outer-join.
    * Catalyst decorrelates it into exactly that (one aggregate + one
    * join, no per-row re-execution), so it scales as a plain shuffled
    * join at 100 TB. */
  val q183 = QuerySpec(
    "q183_sql_lateral_join",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT c.c_custkey, t.n_orders, t.max_price
              |FROM customer c,
              |LATERAL (SELECT count(*) AS n_orders,
              |                max(o_totalprice) AS max_price
              |         FROM orders o WHERE o.o_custkey = c.c_custkey) t
              |WHERE c.c_custkey <= 300
              |ORDER BY c.c_custkey""".stripMargin)
    },
    Some("""SELECT c.c_custkey, CAST(t.n_orders AS BIGINT) AS n_orders, t.max_price
           |FROM customer c,
           |LATERAL (SELECT count(*) AS n_orders,
           |                max(o_totalprice) AS max_price
           |         FROM orders o WHERE o.o_custkey = c.c_custkey) t
           |WHERE c.c_custkey <= 300
           |ORDER BY c.c_custkey""".stripMargin),
  )

  /** q219 — parameterized SQL (named markers) + lateral column aliases:
    * `spark.sql(text, args)` binds `:cut` as a LITERAL in the analyzed
    * plan — injection-proof by construction and plan-cache-friendly
    * (the parameter is a literal, so pushdown sees a plain predicate);
    * the projection chains aliases laterally (n → n_doubled → n_plus,
    * Spark 3.4 lateral column alias resolution) instead of repeating the
    * aggregate expression. DuckDB supports the same lateral alias
    * reuse, so the oracle is nearly the same text with the parameter
    * inlined — which is exactly the semantic claim: binding ≡ inlining. */
  val q219 = QuerySpec(
    "q219_parameterized_sql",
    (s, d) => {
      registerViews(s, d)
      s.sql(
        """SELECT o_orderpriority, count(*) AS n, n * 2 AS n_doubled,
          |  n_doubled + 1 AS n_plus
          |FROM orders WHERE o_orderdate >= :cut
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
        Map("cut" -> "1997-06-01"))
    },
    Some("""SELECT o_orderpriority, count(*) AS n, n * 2 AS n_doubled,
           |  n_doubled + 1 AS n_plus
           |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-06-01'
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
  )

  /** q220 — DDL column DEFAULTs: a catalog parquet table declared with
    * per-column defaults, filled by INSERTs that OMIT columns — the
    * schema-evolution idiom that lets a 100 TB table gain a column
    * without rewriting history (new writes carry the default; the
    * old-file read path fills it at scan). Two partial-column INSERT
    * ... SELECTs exercise both the all-defaults and the
    * partial-override paths; the gate restates the expected
    * (status, score) blocks from the same key filters. Catalog state
    * is session-scoped and dropped in finally (q187's discipline). */
  val q220 = QuerySpec(
    "q220_column_defaults",
    (s, d) => {
      import s.implicits._
      registerViews(s, d)
      val tmp = java.nio.file.Files.createTempDirectory("graft_dflt_q220").toString
      val tbl = "graft_defaults_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      try {
        s.sql(s"""CREATE TABLE $tbl (
                 |  k BIGINT,
                 |  status STRING DEFAULT 'NEW',
                 |  score BIGINT DEFAULT 100)
                 |USING parquet LOCATION '$tmp/t'""".stripMargin)
        s.sql(s"INSERT INTO $tbl (k) SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0")
        s.sql(s"INSERT INTO $tbl (k, status) SELECT o_orderkey, 'OLD' FROM orders WHERE o_orderkey % 89 = 0")
        Eager(s.table(tbl)
          .groupBy($"status", $"score")
          .agg(count(lit(1)).as("n"), sum($"k").as("k_checksum"))
          .orderBy($"status", $"score"))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Fs.deleteTree(tmp)
      }
    },
    Some("""SELECT 'NEW' AS status, CAST(100 AS BIGINT) AS score, count(*) AS n,
           |  CAST(sum(o_orderkey) AS BIGINT) AS k_checksum
           |FROM orders WHERE o_orderkey % 97 = 0
           |UNION ALL
           |SELECT 'OLD', 100, count(*), CAST(sum(o_orderkey) AS BIGINT)
           |FROM orders WHERE o_orderkey % 89 = 0
           |ORDER BY status, score""".stripMargin),
  )

  /** q231 — SQL cache surface (CACHE TABLE ... AS SELECT / UNCACHE):
    * the interactive-session idiom for pinning a hot projection in
    * executor memory; the rollup reads the cached relation (the plan
    * audit pins InMemoryTableScan — columnar cache, not a re-scan).
    * Cache lifetime is scoped in finally: UNCACHE + drop, so the bench
    * loop never accumulates cached copies. At 100 TB the same statement
    * pins a dimension or a hot day-partition, not the fact table —
    * cache what gets re-read, spill the rest (MEMORY_AND_DISK is the
    * CACHE TABLE default). */
  val q231 = QuerySpec(
    "q231_sql_cache_table",
    (s, d) => {
      registerViews(s, d)
      val cname = "graft_cached_rev_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      s.sql(s"""CACHE TABLE $cname AS
               |SELECT o_orderpriority, o_totalprice FROM orders
               |WHERE o_orderstatus = 'F'""".stripMargin)
      try Eager(s.sql(
        s"""SELECT o_orderpriority, count(*) AS n,
           |  ${Det.sqlDsum("o_totalprice", 2)} AS price_sum
           |FROM $cname GROUP BY o_orderpriority
           |ORDER BY o_orderpriority""".stripMargin))
      finally {
        s.sql(s"UNCACHE TABLE IF EXISTS $cname")
        s.catalog.dropTempView(cname)
        ()
      }
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
            |  ${Det.sqlDsum("o_totalprice", 2)} AS price_sum
            |FROM orders WHERE o_orderstatus = 'F'
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
  )

  /** q241 — SQL PIVOT syntax (q97's UNPIVOT inverse as TEXT — the
    * DataFrame pivots q46/q181 don't exercise the parser clause):
    * counts and exact-decimal sums pivoted FOR l_linestatus IN ('F',
    * 'O'), with the q181 NULL convention handled by coalescing the
    * count cells to 0 in the projection. Multi-agg PIVOT names cells
    * `<value>_<aggAlias>` — the projection pins that contract too. */
  val q241 = QuerySpec(
    "q241_sql_pivot",
    (s, d) => {
      registerViews(s, d)
      s.sql(s"""SELECT l_returnflag,
               |  coalesce(F_n, 0) AS f_n, coalesce(O_n, 0) AS o_n,
               |  coalesce(F_qty, 0) AS f_qty, coalesce(O_qty, 0) AS o_qty
               |FROM (
               |  SELECT l_returnflag, l_linestatus,
               |    CAST(l_quantity AS BIGINT) AS q
               |  FROM lineitem)
               |PIVOT (
               |  count(*) AS n, CAST(sum(q) AS BIGINT) AS qty
               |  FOR l_linestatus IN ('F', 'O'))
               |ORDER BY l_returnflag""".stripMargin)
    },
    Some("""SELECT l_returnflag,
           |  CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS f_n,
           |  CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS o_n,
           |  CAST(coalesce(sum(CAST(l_quantity AS BIGINT))
           |    FILTER (WHERE l_linestatus = 'F'), 0) AS BIGINT) AS f_qty,
           |  CAST(coalesce(sum(CAST(l_quantity AS BIGINT))
           |    FILTER (WHERE l_linestatus = 'O'), 0) AS BIGINT) AS o_qty
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
  )

  /** q242 — catalog introspection as DATA: SHOW PARTITIONS over a
    * lang-partitioned catalog table (q79 writes the layout; here the
    * CATALOG enumerates it — the metadata read every pruning decision
    * starts from), queried through IDENTIFIER() parameter binding (the
    * injection-safe dynamic-table idiom, q219's rule applied to
    * identifiers). The partition list must equal the distinct lang
    * domain, and the IDENTIFIER-bound rollup must match the plain one.
    * Catalog state is scoped and dropped in finally (q187). */
  val q242 = QuerySpec(
    "q242_show_partitions_identifier",
    (s, d) => {
      import org.apache.spark.sql.functions._
      registerViews(s, d)
      val tmp = java.nio.file.Files.createTempDirectory("graft_shpt_q242").toString
      val tbl = "graft_parts_" +
        java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      try {
        s.sql(s"""CREATE TABLE $tbl (doc_id BIGINT, n_chars BIGINT)
                 |USING parquet PARTITIONED BY (lang STRING)
                 |LOCATION '$tmp/t'""".stripMargin)
        s.sql(s"INSERT INTO $tbl PARTITION (lang) SELECT doc_id, n_chars, lang FROM documents")
        val parts = s.sql(s"SHOW PARTITIONS $tbl")
          .select(regexp_replace(col("partition"), "^lang=", "").as("lang"))
        val rollup = s.sql(
          "SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum " +
            "FROM IDENTIFIER(:tab) GROUP BY lang",
          Map("tab" -> tbl))
        Eager(parts.join(rollup, Seq("lang"), "full_outer")
          .select(col("lang"), col("n_docs"), col("chars_sum"))
          .orderBy(col("lang")))
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        graft.Fs.deleteTree(tmp)
      }
    },
    Some("""SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
  )

  /** q251 — VARIANT semi-structured round trip (Spark 4's open-schema
    * type): each lineitem row is serialized to a nested JSON document
    * (scalar + nested object + array), parsed to VARIANT once, and all
    * downstream access is typed path extraction — `variant_get` for
    * present paths (object field, nested field, array index) and
    * `try_variant_get` for an absent path, which must be NULL, never an
    * error (the open-schema contract: readers survive writers adding or
    * dropping fields). The oracle rebuilds the same JSON with DuckDB's
    * json type and extracts the same paths — value equality pins that
    * both engines' JSON round trip is lossless for BIGINT/DOUBLE/STRING.
    * Scale: parse_json is a per-row codegen'd expression — no UDF;
    * VARIANT's binary encoding decodes each path without re-parsing
    * the text, which is the point at 100 TB: parse once at ingest,
    * bind schema lazily at query time. The REPARTITION hint spreads
    * the parse across the cluster when the input arrives in few
    * splits (one 128 MB split would otherwise serialize it — the
    * bench read cpu/wall ≈ 1.6 on 32 cores before the hint). */
  val q251 = QuerySpec(
    "q251_variant_extract",
    (s, d) => {
      registerViews(s, d)
      s.sql("""WITH r AS (
              |  SELECT /*+ REPARTITION(32, l_orderkey) */
              |    l_quantity, l_orderkey, l_partkey, l_returnflag, l_linestatus
              |  FROM lineitem),
              |j AS (
              |  SELECT parse_json(to_json(named_struct(
              |    'qty', l_quantity,
              |    'keys', named_struct('ok', l_orderkey, 'pk', l_partkey),
              |    'tags', array(l_returnflag, l_linestatus)))) AS v
              |  FROM r)
              |SELECT
              |  variant_get(v, '$.tags[1]', 'string') AS status_tag,
              |  count(*) AS n,
              |  CAST(sum(CAST(variant_get(v, '$.keys.ok', 'bigint') AS DECIMAL(30,0))) AS BIGINT) AS ok_sum,
              |  CAST(sum(CAST(variant_get(v, '$.qty', 'double') AS DECIMAL(30,2))) AS DOUBLE) AS qty_sum,
              |  count(*) FILTER (WHERE try_variant_get(v, '$.absent', 'bigint') IS NULL) AS n_absent_null
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
    },
    Some("""WITH j AS (
           |  SELECT to_json(struct_pack(
           |    qty := l_quantity,
           |    keys := struct_pack(ok := l_orderkey, pk := l_partkey),
           |    tags := [l_returnflag, l_linestatus])) AS v
           |  FROM lineitem)
           |SELECT
           |  json_extract_string(v, '$.tags[1]') AS status_tag,
           |  count(*) AS n,
           |  CAST(sum(CAST(json_extract(v, '$.keys.ok') AS BIGINT)) AS BIGINT) AS ok_sum,
           |  CAST(sum(CAST(CAST(json_extract(v, '$.qty') AS DOUBLE) AS DECIMAL(30,2))) AS DOUBLE) AS qty_sum,
           |  CAST(count(*) FILTER (WHERE json_extract(v, '$.absent') IS NULL) AS BIGINT) AS n_absent_null
           |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q252 — EXECUTE IMMEDIATE with named parameter binding: the
    * dynamic-SQL entry point (Spark 4 / ISO SQL/PSM) — a statement
    * STRING executed with `USING (expr AS name)` arguments bound to
    * `:name` markers. The gate is binding ≡ inlining: the oracle runs
    * the same statement with the parameters spliced as literals, so any
    * divergence in how the binder types or coerces the arguments fails
    * the hash. Binding composes with q219's spark.sql(args) surface;
    * this is the TEXT form a SQL-only client (the reference's Athena
    * tier) would reach for. Plan-wise the bound statement is analyzed
    * exactly like the inlined one — same pushdown, same agg. */
  val q252 = QuerySpec(
    "q252_execute_immediate",
    (s, d) => {
      registerViews(s, d)
      s.sql("""EXECUTE IMMEDIATE
              |  'SELECT o_orderpriority, count(*) AS n,
              |     CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS rev,
              |     count(*) FILTER (WHERE o_orderstatus = :st) AS n_status
              |   FROM orders WHERE o_orderdate < :cutoff
              |   GROUP BY o_orderpriority ORDER BY o_orderpriority'
              |USING (TIMESTAMP '1997-06-01 00:00:00' AS cutoff, 'F' AS st)""".stripMargin)
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
            |  ${Det.sqlDsum("o_totalprice", 2)} AS rev,
            |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_status
            |FROM orders WHERE o_orderdate < TIMESTAMP '1997-06-01'
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
  )

  /** q253 — SQL session variables: DECLARE VARIABLE + SET VAR with a
    * scalar-subquery initializer, then a query that references the
    * variable twice (predicate + projection). The variable holds the
    * exact-decimal mean balance (Det discipline — a FP-ordered avg
    * would be engine-dependent); the readout pins both the threshold
    * value itself and the above/below split per segment, so a binder
    * that re-evaluated the subquery per reference (or coerced the
    * DOUBLE) would fail. `EXECUTE IMMEDIATE ... INTO` covers the
    * variable-as-result-target direction. Variables are session-scoped
    * driver state — zero executor footprint; at scale they replace the
    * collect-then-format-into-SQL-text round trip. */
  val q253 = QuerySpec(
    "q253_sql_session_variables",
    (s, d) => {
      registerViews(s, d)
      s.sql("DECLARE OR REPLACE VARIABLE graft_avg_bal DOUBLE")
      s.sql("""SET VAR graft_avg_bal =
              |  (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / count(*)
              |   FROM customer)""".stripMargin)
      s.sql("DECLARE OR REPLACE VARIABLE graft_n_cust BIGINT")
      s.sql("EXECUTE IMMEDIATE 'SELECT count(*) FROM customer' INTO graft_n_cust")
      s.sql("""SELECT c_mktsegment,
              |  count(*) FILTER (WHERE c_acctbal > graft_avg_bal) AS n_above,
              |  count(*) FILTER (WHERE c_acctbal <= graft_avg_bal) AS n_below,
              |  graft_avg_bal AS threshold,
              |  graft_n_cust AS n_total
              |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },
    Some("""WITH t AS (
           |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / count(*) AS thr,
           |    count(*) AS n_total
           |  FROM customer)
           |SELECT c_mktsegment,
           |  CAST(count(*) FILTER (WHERE c_acctbal > thr) AS BIGINT) AS n_above,
           |  CAST(count(*) FILTER (WHERE c_acctbal <= thr) AS BIGINT) AS n_below,
           |  thr AS threshold, CAST(n_total AS BIGINT) AS n_total
           |FROM customer, t GROUP BY c_mktsegment, thr, n_total
           |ORDER BY c_mktsegment""".stripMargin),
  )

  /** q271 — VARIANT schema inference (q251's metadata half): a corpus
    * of heterogeneous JSON documents — three deterministic shape
    * variants (scalar-only, +nested object, +array) — parsed to
    * VARIANT, then `schema_of_variant` per row and
    * `schema_of_variant_agg` per group infer the merged open schema:
    * the widest structure any reader must tolerate, with absent fields
    * widened in and conflicting numeric widths promoted. This is the
    * discovery step a semi-structured ingest runs BEFORE declaring a
    * table over loosely-typed data. The inferred schema STRINGS are the
    * gate (exact text match against the documented expectation in the
    * oracle — engine-independent because the expectation is spelled
    * out, not recomputed). Scale: per-row schema_of_variant is
    * codegen'd; the agg merges bounded schema trees, not data. */
  val q271 = QuerySpec(
    "q271_variant_schema_infer",
    (s, d) => {
      registerViews(s, d)
      s.sql("""WITH r AS (
              |  SELECT /*+ REPARTITION(32, l_orderkey) */
              |    l_orderkey, l_quantity, l_returnflag
              |  FROM lineitem),
              |j AS (
              |  SELECT l_orderkey % 3 AS shape,
              |    parse_json(CASE l_orderkey % 3
              |      WHEN 0 THEN '{"qty": ' || CAST(CAST(l_quantity AS BIGINT) AS STRING) || '}'
              |      WHEN 1 THEN '{"qty": ' || CAST(CAST(l_quantity AS BIGINT) AS STRING)
              |        || ', "keys": {"ok": ' || CAST(l_orderkey AS STRING) || '}}'
              |      ELSE '{"qty": ' || CAST(CAST(l_quantity AS BIGINT) AS STRING)
              |        || ', "tags": ["' || l_returnflag || '"]}'
              |    END) AS v
              |  FROM r)
              |SELECT shape, count(*) AS n,
              |  count(DISTINCT schema_of_variant(v)) AS n_row_schemas,
              |  schema_of_variant_agg(v) AS merged_schema
              |FROM j GROUP BY shape ORDER BY shape""".stripMargin)
    },
    // The expectation is DOCUMENTED, not recomputed: quantities are forced integral (a dotted
    // literal would parse as DECIMAL and make row schemas value-dependent), shape 1 adds a
    // nested object, shape 2 a BIGINT qty and a string array. The agg
    // merges each group's rows to one stable OBJECT<...> string
    // (Spark's variant schema dialect — OBJECT, not STRUCT).
    Some("""SELECT shape, count(*) AS n,
           |  CAST(1 AS BIGINT) AS n_row_schemas,
           |  CASE shape
           |    WHEN 0 THEN 'OBJECT<qty: BIGINT>'
           |    WHEN 1 THEN 'OBJECT<keys: OBJECT<ok: BIGINT>, qty: BIGINT>'
           |    ELSE 'OBJECT<qty: BIGINT, tags: ARRAY<STRING>>'
           |  END AS merged_schema
           |FROM (SELECT l_orderkey % 3 AS shape FROM lineitem)
           |GROUP BY shape ORDER BY shape""".stripMargin),
  )

  /** q313 — named WINDOW clause reuse: five window functions over ONE
    * shared `WINDOW w AS (...)` spec. The semantic surface is ANSI
    * (both engines accept the identical text); the ENGINE claim is
    * plan-shaped and CI-pinned: Catalyst collapses same-spec functions
    * into a single Window operator over a single sort-exchange — five
    * analytics for the partition/sort cost of one. (The anti-pattern —
    * five inline OVER clauses with subtly different specs — plans five
    * Window stages at 100 TB.) Frame note: with ORDER BY present the
    * ANSI default frame is RANGE UNBOUNDED PRECEDING..CURRENT ROW on
    * both engines (o_orderkey is unique per customer, so no peer-row
    * ambiguity); the running sum uses a second
    * named window with the SAME partition/order and an explicit ROWS
    * frame (Spark's parser takes no inline `OVER (w ROWS...)`
    * extension) — same sort, still one Window stage. */
  val q313 = QuerySpec(
    "q313_sql_named_window",
    (s, d) => {
      registerViews(s, d)
      s.sql("""SELECT o_custkey, o_orderkey,
              |  rank() OVER w AS rk,
              |  lag(o_orderkey) OVER w AS prev_order,
              |  count(*) OVER w AS n_so_far,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
              |    OVER w2 AS DOUBLE) AS run_rev,
              |  first_value(o_orderkey) OVER w AS first_order
              |FROM orders WHERE o_custkey < 200
              |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
              |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderkey
              |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |ORDER BY o_custkey, o_orderkey""".stripMargin)
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  rank() OVER w AS rk,
           |  lag(o_orderkey) OVER w AS prev_order,
           |  count(*) OVER w AS n_so_far,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2)))
           |    OVER w2 AS DOUBLE) AS run_rev,
           |  first_value(o_orderkey) OVER w AS first_order
           |FROM orders WHERE o_custkey < 200
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey),
           |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderkey
           |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |ORDER BY o_custkey, o_orderkey""".stripMargin),
  )

  val all: Seq[QuerySpec] = Seq(q37, q38, q48, q51, q56, q71, q72, q83, q93,
    q97, q103, q116, q129, q130, q135, q142, q151, q154, q167, q183,
    q219, q220, q231, q241, q242, q251, q252, q253, q271, q313)
}
