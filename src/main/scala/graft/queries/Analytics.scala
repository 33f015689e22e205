package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Det._

/** Round-4 analytics additions: mergeable distinct-count sketches, a
  * type-2 slowly-changing dimension build, an event funnel, and linear
  * gap interpolation. Reference scope: the reference's Athena/Glue layer
  * (SURVEY §3.3) implies exactly this class of warehouse-side analytics
  * over the ETL output (`workflow-examples/pyspark-taxi-trip.py:40-51`
  * produces the table they query).
  */
object Analytics {

  /** q118 — mergeable distinct-count sketches: per-nation Apache
    * DataSketches HLL sketches of the market segments present
    * (`hll_sketch_agg`), then a REGION-level `hll_union_agg` that merges
    * the nation sketches WITHOUT touching the raw rows again, plus the
    * raw-row estimate for cross-checking.
    *
    * This two-level shape is the canonical 100 TB distinct-count
    * pattern: daily/partition-level sketches are tiny (≤ 2^lgK bytes),
    * persistable, and re-aggregable along any rollup dimension — the
    * raw data is scanned once ever. The segment universe is 5 values,
    * far below the sketch's coupon-list threshold, so the estimate is
    * exact and the DuckDB count(DISTINCT) oracle hash-matches; at real
    * cardinalities the same plan yields ±2% estimates at unchanged
    * cost. */
  val q118 = QuerySpec(
    "q118_hll_sketch_union",
    (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
      val nation = Tables.nation(s, d)
      // Level 1: one small sketch per nation (map-side partial agg).
      val perNation = cust
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_regionkey", $"n_nationkey")
        .agg(hll_sketch_agg($"c_mktsegment").as("sketch"))
      // Level 2: merge nation sketches up to region — no raw-row rescan.
      perNation
        .groupBy($"n_regionkey")
        .agg(
          hll_sketch_estimate(hll_union_agg($"sketch")).as("n_segments"),
          count(lit(1)).as("n_nation_sketches"))
        .orderBy($"n_regionkey")
    },
    Some("""SELECT n_regionkey,
           |  count(DISTINCT c_mktsegment) AS n_segments,
           |  count(DISTINCT n_nationkey) AS n_nation_sketches
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),
  )

  /** q119 — type-2 slowly-changing dimension build from a change
    * stream: each user's event stream is collapsed to contiguous runs
    * of the same event_type; each run becomes one SCD2 row with
    * effective_from / effective_to (next run's start, NULL while
    * current) and a version number.
    *
    * Plan shape: one shuffle on user_id feeds BOTH windows (run
    * detection via lag, then lead over the runs) — Catalyst reuses the
    * hash partitioning across the two window operators because their
    * partition keys match. At 100 TB the state per key is a single
    * pass's worth of that user's rows (bounded per user), and the
    * output is runs, typically ≪ input rows. */
  val q119 = QuerySpec(
    "q119_scd2_dimension",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val runs = Tables.events(s, d)
        .withColumn("chg",
          when(lag($"event_type", 1).over(byUser).isNull.or(
            lag($"event_type", 1).over(byUser) =!= $"event_type"), 1L).otherwise(0L))
        .withColumn("version", sum($"chg").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .where($"chg" === 1L)
      val byUserRuns = Window.partitionBy($"user_id").orderBy($"version")
      runs
        .select(
          $"user_id", $"version", $"event_type",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("effective_from"),
          date_format(lead($"ts", 1).over(byUserRuns), "yyyy-MM-dd HH:mm:ss")
            .as("effective_to"),
          lead($"ts", 1).over(byUserRuns).isNull.as("is_current"))
        .orderBy($"user_id", $"version")
    },
    Some("""WITH marked AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN lag(event_type) OVER w IS NULL
           |           OR lag(event_type) OVER w <> event_type
           |         THEN 1 ELSE 0 END AS chg
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), runs AS (
           |  SELECT user_id, event_type, ts,
           |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                   ROWS UNBOUNDED PRECEDING) AS version, chg
           |  FROM marked
           |)
           |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS effective_from,
           |  strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS effective_to,
           |  lead(ts) OVER w2 IS NULL AS is_current
           |FROM runs WHERE chg = 1
           |WINDOW w2 AS (PARTITION BY user_id ORDER BY version)
           |ORDER BY user_id, version""".stripMargin),
  )

  /** q120 — ordered event funnel (view → click → purchase): per user,
    * the earliest view, the earliest click AFTER that view, the
    * earliest purchase AFTER that click; rolled up to users-reaching-
    * each-step plus median hours from view to purchase for converters.
    *
    * Implementation is one conditional aggregation per user — min(ts)
    * FILTER per step with the ordering enforced by a second pass over
    * the same grouped rows (self-joins would re-shuffle the event table
    * three times; this shape shuffles once on user_id). The per-user
    * collapse means the rollup input is |users|, not |events| — at
    * 100 TB the funnel costs one shuffle of the filtered event stream. */
  val q120 = QuerySpec(
    "q120_event_funnel",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .where($"event_type".isin("view", "click", "purchase"))
      // Pass 1: per-user earliest view; earliest click after the view
      // needs the view time first, so compute in two grouped steps over
      // one shuffle: collect the per-user sorted (ts, type) pairs is
      // overkill — instead aggregate min view, then min click > view via
      // a rejoin-free window-less trick: min(CASE WHEN type='click' AND
      // ts > first_view ...) requires first_view per row → one window.
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy($"user_id")
      val staged = ev
        .withColumn("first_view",
          min(when($"event_type" === "view", $"ts")).over(byUser))
        .withColumn("first_click",
          min(when($"event_type" === "click" && $"ts" > $"first_view", $"ts"))
            .over(byUser))
      val perUser = staged
        .groupBy($"user_id")
        .agg(
          min($"first_view").as("v"),
          min($"first_click").as("c"),
          min(when($"event_type" === "purchase" && $"ts" > $"first_click", $"ts"))
            .as("p"))
      perUser.agg(
        count($"v").as("n_viewed"),
        count($"c").as("n_clicked"),
        count($"p").as("n_purchased"),
        dsum(when($"p".isNotNull,
          ($"p".cast("double") - $"v".cast("double")) / 3600.0), 6)
          .as("purchase_hours_sum"))
    },
    Some("""WITH staged AS (
           |  SELECT user_id, ts, event_type,
           |    min(CASE WHEN event_type = 'view' THEN ts END)
           |      OVER (PARTITION BY user_id) AS first_view
           |  FROM events WHERE event_type IN ('view','click','purchase')
           |), staged2 AS (
           |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > first_view
           |                     THEN ts END)
           |              OVER (PARTITION BY user_id) AS first_click
           |  FROM staged
           |), per_user AS (
           |  SELECT user_id, min(first_view) AS v, min(first_click) AS c,
           |    min(CASE WHEN event_type = 'purchase' AND ts > first_click
           |             THEN ts END) AS p
           |  FROM staged2 GROUP BY user_id
           |)
           |SELECT count(v) AS n_viewed, count(c) AS n_clicked,
           |  count(p) AS n_purchased,
           |  CAST(sum(CAST(CASE WHEN p IS NOT NULL THEN
           |    epoch(p - v) / 3600.0 END AS DECIMAL(30,6))) AS DOUBLE)
           |    AS purchase_hours_sum
           |FROM per_user""".stripMargin),
  )

  /** q121 — linear-interpolation gap fill: where q58 marks missing
    * hours with zeros, this estimates them — each absent hour's value
    * is lerped between the nearest observed hour before and after
    * (ends stay NULL: extrapolation is a modeling choice, not a fill).
    *
    * Shape: hour spine (sequence() on a 1-row bound agg, broadcast) →
    * left join observed hourly means → one window pass computing LOCF
    * value+position forward and backward → codegen'd lerp arithmetic.
    * All window work happens on the HOURLY rollup (one row per hour),
    * never the raw events — at 100 TB the interpolation stage is
    * O(hours), effectively free next to the one events shuffle. */
  val q121 = QuerySpec(
    "q121_interpolate_linear",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).where($"event_type" === "purchase")
      val bounds = ev.agg(
        date_trunc("hour", min($"ts")).as("lo"),
        date_trunc("hour", max($"ts")).as("hi"))
      val spine = bounds.select(
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("h"))
      val hourly = ev
        .groupBy(date_trunc("hour", $"ts").as("h"))
        .agg(davg($"value", 4).as("v"))
      val joined = spine.join(broadcast(hourly), Seq("h"), "left")
        .withColumn("pos", unix_timestamp($"h"))
      // Hour count is tiny post-rollup; a single unpartitioned window
      // is fine here (document the caveat for multi-year spines: key
      // the window by coarse date bucket and stitch the seams).
      val asc = Window.orderBy($"pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val desc = Window.orderBy($"pos".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      joined
        .withColumn("pv", last($"v", ignoreNulls = true).over(asc))
        .withColumn("pp", last(when($"v".isNotNull, $"pos"), ignoreNulls = true).over(asc))
        .withColumn("nv", last($"v", ignoreNulls = true).over(desc))
        .withColumn("np", last(when($"v".isNotNull, $"pos"), ignoreNulls = true).over(desc))
        .select(
          date_format($"h", "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"v".isNotNull.as("observed"),
          round(
            when($"v".isNotNull, $"v")
              .when($"pv".isNotNull && $"nv".isNotNull,
                $"pv" + ($"nv" - $"pv") * ($"pos" - $"pp") / ($"np" - $"pp")),
            6).as("value_filled"))
        .orderBy($"hour")
    },
    Some("""WITH ev AS (
           |  SELECT * FROM events WHERE event_type = 'purchase'
           |), bounds AS (
           |  SELECT date_trunc('hour', min(ts)) AS lo,
           |         date_trunc('hour', max(ts)) AS hi FROM ev
           |), spine AS (
           |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
           |  FROM bounds
           |), hourly AS (
           |  SELECT date_trunc('hour', ts) AS h,
           |    CAST(sum(CAST(value AS DECIMAL(30,4))) AS DOUBLE) / count(*) AS v
           |  FROM ev GROUP BY 1
           |), joined AS (
           |  SELECT spine.h, hourly.v, epoch(spine.h) AS pos
           |  FROM spine LEFT JOIN hourly ON spine.h = hourly.h
           |), filled AS (
           |  SELECT h, v, pos,
           |    last_value(v IGNORE NULLS) OVER wa AS pv,
           |    last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
           |      OVER wa AS pp,
           |    last_value(v IGNORE NULLS) OVER wd AS nv,
           |    last_value(CASE WHEN v IS NOT NULL THEN pos END IGNORE NULLS)
           |      OVER wd AS np
           |  FROM joined
           |  WINDOW wa AS (ORDER BY pos ROWS UNBOUNDED PRECEDING),
           |         wd AS (ORDER BY pos DESC ROWS UNBOUNDED PRECEDING)
           |)
           |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           |  v IS NOT NULL AS observed,
           |  round(CASE WHEN v IS NOT NULL THEN v
           |             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
           |               pv + (nv - pv) * (pos - pp) / (np - pp) END, 6)
           |    AS value_filled
           |FROM filled ORDER BY hour""".stripMargin),
  )

  /** q123 — Count-Min heavy hitters: one global CMS over event_type
    * (`count_min_sketch` — partial-aggregated map-side, the merge ships
    * one ~100 KB sketch per partition), probed per candidate with the
    * engine's [[graft.functions.CmsEstimate]] expression (Spark ships
    * the sketch builder but no SQL-surface reader).
    *
    * The candidate set comes from a cheap exact pass here (5 values); at
    * 100 TB candidates come from a sample or a prior day's list, and the
    * sketch answers "how often does X occur" without regrouping the
    * corpus — the sketch is reusable across any candidate list, which
    * is the whole point over a plain groupBy. Width 2/eps ≫ distinct
    * items ⇒ no collisions ⇒ estimates are exact and the count(*)
    * oracle hash-matches; at real cardinalities the same plan gives
    * ε-bounded overcounts at unchanged cost. */
  val q123 = QuerySpec(
    "q123_cms_heavy_hitters",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val sketch = ev.agg(
        count_min_sketch($"event_type", lit(0.0001d), lit(0.999d), lit(42)).as("sk"))
      val candidates = ev.select($"event_type").distinct()
      candidates.join(broadcast(sketch))
        .select($"event_type",
          graft.functions.CmsProbe.cmsEstimate($"sk", $"event_type").as("est_count"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS est_count
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q124 — referential-integrity audit across the star schema: orphan
    * counts for every FK edge (lineitem→orders, lineitem→part,
    * lineitem→supplier, orders→customer, customer→nation) in one
    * result — the load-time data-quality gate every warehouse ETL runs
    * before publishing a batch.
    *
    * Each edge is a LEFT ANTI join counting FK values with no parent.
    * Dimension sides (nation/customer/supplier/part) broadcast; the two
    * lineitem-keyed fact edges shuffle the fact's FK COLUMN only
    * (project-before-join). n_checked counts non-null FKs so the
    * orphan rate is well-defined under nullable keys. */
  val q124 = QuerySpec(
    "q124_referential_audit",
    (s, d) => {
      import s.implicits._
      def edge(tag: String, fact: org.apache.spark.sql.DataFrame, fk: String,
          dim: org.apache.spark.sql.DataFrame, pk: String,
          broadcastDim: Boolean) = {
        val keys = fact.select(col(fk)).where(col(fk).isNotNull)
        val dimKeys = dim.select(col(pk))
        val orphans = keys.join(
          if (broadcastDim) broadcast(dimKeys) else dimKeys,
          col(fk) === col(pk), "left_anti")
        keys.agg(count(lit(1)).as("n_checked"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(tag).as("fk_edge"), $"n_checked", $"n_orphans")
      }
      val li = Tables.lineitem(s, d)
      edge("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey", broadcastDim = true)
        .unionAll(edge("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", broadcastDim = false))
        .unionAll(edge("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey", broadcastDim = true))
        .unionAll(edge("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", broadcastDim = true))
        .unionAll(edge("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", broadcastDim = true))
        .orderBy($"fk_edge")
    },
    Some("""SELECT 'customer->nation' AS fk_edge,
           |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL) AS n_checked,
           |  (SELECT count(*) FROM customer WHERE c_nationkey IS NOT NULL
           |     AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans
           |UNION ALL SELECT 'lineitem->orders',
           |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
           |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
           |     AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
           |UNION ALL SELECT 'lineitem->part',
           |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
           |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
           |     AND l_partkey NOT IN (SELECT p_partkey FROM part))
           |UNION ALL SELECT 'lineitem->supplier',
           |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL),
           |  (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
           |     AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
           |UNION ALL SELECT 'orders->customer',
           |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL),
           |  (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
           |     AND o_custkey NOT IN (SELECT c_custkey FROM customer))
           |ORDER BY fk_edge""".stripMargin),
  )

  /** q127 — `approx_top_k` (Spark 4.1's frequent-items sketch,
    * Misra-Gries style: deterministic, mergeable, no randomness): top
    * event types with estimated counts, exploded to rows. With
    * maxItemsTracked ≥ the distinct universe the estimates are exact,
    * so the count(*) oracle hash-matches; at real cardinality the same
    * plan returns ε-bounded counts for the true heavy hitters. k spans
    * the full universe here so a count tie at the k-boundary can't make
    * the returned SET nondeterministic (ordering is re-imposed by the
    * query, not taken from the sketch). */
  val q127 = QuerySpec(
    "q127_approx_top_k",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .agg(expr("approx_top_k(event_type, 5, 100)").as("tk"))
        .select(explode($"tk").as("e"))
        .select($"e.item".as("event_type"), $"e.count".as("est_count"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS est_count
           |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q128 — error-safe scalar surface (`try_divide` / `try_cast`): the
    * ingest-cleaning contract that malformed values become NULL instead
    * of failing the job. Division by a zero bucket, a never-numeric
    * string, a round-trip numeric string, and a synthesized date that
    * is invalid for part of the domain (Feb 29-39) all flow through
    * per-row codegen'd expressions — no shuffle, scan-shaped, trivially
    * scale-safe. The DuckDB mirror states the same semantics with
    * nullif/try_cast (fractional-string→int and overflow corners are
    * deliberately excluded: the two engines genuinely disagree there,
    * and a portability gate can only pin the agreed surface). */
  val q128 = QuerySpec(
    "q128_try_error_safe",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .filter($"user_id" < 30)
        .select(
          $"event_id",
          round(expr("try_divide(value, user_id % 3)"), 6).as("per_bucket"),
          expr("try_cast(event_type AS INT)").as("never_int"),
          expr("try_cast(cast(event_id AS STRING) AS INT)").as("roundtrip_int"),
          expr("""try_cast(concat('2026-02-', lpad(cast(event_id % 40 AS STRING), 2, '0'))
                 AS DATE)""").as("maybe_date"))
        .orderBy($"event_id")
    },
    Some("""SELECT event_id,
           |  round(value / nullif(user_id % 3, 0), 6) AS per_bucket,
           |  try_cast(event_type AS INT) AS never_int,
           |  try_cast(CAST(event_id AS VARCHAR) AS INT) AS roundtrip_int,
           |  try_cast('2026-02-' || lpad(CAST(event_id % 40 AS VARCHAR), 2, '0')
           |    AS DATE) AS maybe_date
           |FROM events WHERE user_id < 30 ORDER BY event_id""".stripMargin),
  )

  /** q131 — 2-D Pareto skyline (orders maximizing totalprice while
    * minimizing orderdate: "the frontier of big-and-early"): a point
    * survives iff no other order has ≥ price AND ≤ date with one strict.
    *
    * The naive formulation is an O(n²) dominance anti-join; the 2-D
    * skyline collapses to ONE window pass: sort by date (ties by price
    * desc), keep rows strictly above the running price max of all
    * earlier rows. That's a sort + linear scan — at 100 TB,
    * range-partition by date and carry each partition's prefix-max as a
    * tiny broadcast to stitch boundaries (the window here; the oracle
    * spells the same semantics as the quadratic NOT EXISTS to prove the
    * rewrite exact). Ties: equal (date, price) rows are mutually
    * non-dominating — both survive — so the running-max comparison uses
    * the PREVIOUS date's max only (range frame < current date on price
    * max of earlier dates + intra-date max handling via two-level
    * grouping: per-date max first — dominated intra-date rows fall to
    * the per-date reduction, which is also what bounds the window state). */
  val q131 = QuerySpec(
    "q131_pareto_skyline",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // Per-date reduction first: within a date only the max price can
      // be on the frontier (strictly-lower same-date rows are dominated).
      val perDate = Tables.orders(s, d)
        .groupBy($"o_orderdate".as("odate"))
        .agg(max($"o_totalprice").as("best_price"))
      val w = Window.orderBy($"odate")
        .rowsBetween(Window.unboundedPreceding, -1)
      perDate
        .withColumn("earlier_max", max($"best_price").over(w))
        .where($"earlier_max".isNull || $"best_price" > $"earlier_max")
        .select(dstr($"odate").as("order_date"), $"best_price")
        .orderBy($"order_date")
    },
    Some("""WITH pd AS (
           |  SELECT o_orderdate AS odate, max(o_totalprice) AS best_price
           |  FROM orders GROUP BY 1
           |)
           |SELECT strftime(a.odate, '%Y-%m-%d') AS order_date, a.best_price
           |FROM pd a
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM pd b
           |  WHERE b.odate < a.odate AND b.best_price >= a.best_price)
           |ORDER BY order_date""".stripMargin),
  )

  /** q132 — A/B experiment readout from exact sufficient statistics:
    * users split into variants by id parity, per-variant n / mean /
    * population variance of purchase value derived from (n, Σx, Σx²)
    * kept as exact decimals — ONE aggregation pass, no second moment
    * shuffle, and the derived doubles are identical on both engines
    * because the inputs to every division are identical. This is the
    * sufficient-statistics pattern that makes experiment readouts
    * mergeable across days/partitions at 100 TB (store the three sums,
    * derive forever). */
  val q132 = QuerySpec(
    "q132_abtest_stats",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .where($"event_type" === "purchase")
        .groupBy(($"user_id" % 2 === 0).as("variant_a"))
        .agg(
          count(lit(1)).as("n"),
          dsum($"value", 4).as("sum_x"),
          dsum($"value" * $"value", 8).as("sum_x2"))
        .select($"variant_a", $"n",
          round($"sum_x" / $"n", 6).as("mean"),
          round($"sum_x2" / $"n" - ($"sum_x" / $"n") * ($"sum_x" / $"n"), 6)
            .as("var_pop"))
        .orderBy($"variant_a")
    },
    Some(s"""WITH s AS (
            |  SELECT (user_id % 2 = 0) AS variant_a, count(*) AS n,
            |    ${sqlDsum("value", 4)} AS sum_x,
            |    ${sqlDsum("value * value", 8)} AS sum_x2
            |  FROM events WHERE event_type = 'purchase' GROUP BY 1
            |)
            |SELECT variant_a, n, round(sum_x / n, 6) AS mean,
            |  round(sum_x2 / n - (sum_x / n) * (sum_x / n), 6) AS var_pop
            |FROM s ORDER BY variant_a""".stripMargin),
  )

  /** q134 — point-in-time (AS OF event time) dimension join: each
    * purchase event joined to the SCD2 run (q119's dimension) that was
    * effective when the purchase happened — THE standard warehouse
    * pattern for "what did the dimension say at fact time" (q42's as-of
    * join picks the nearest prior EVENT; this picks the containing
    * VALIDITY INTERVAL). Interval semantics: [from, to) — a fact at a
    * boundary belongs to the newer run.
    *
    * Plan shape: equi-join on user_id with the interval predicate as a
    * residual — per-user run counts are small (bounded by that user's
    * type changes), so the residual scan after the hash match is short.
    * At 100 TB both sides hash on user_id once; no time-binning needed
    * unless one user's history itself is huge. */
  val q134 = QuerySpec(
    "q134_pit_dimension_join",
    (s, d) => {
      import s.implicits._
      val dim = q119.run(s, d)
        .select($"user_id".as("d_user"), $"version", $"event_type".as("run_type"),
          $"effective_from", $"effective_to")
      val purchases = Tables.events(s, d)
        .where($"event_type" === "purchase")
        .select($"event_id", $"user_id",
          date_format($"ts", "yyyy-MM-dd HH:mm:ss").as("ts_str"))
      purchases.join(dim,
          $"user_id" === $"d_user" &&
            $"ts_str" >= $"effective_from" &&
            ($"effective_to".isNull || $"ts_str" < $"effective_to"))
        .select($"event_id".as("purchase_id"), $"user_id", $"version", $"run_type")
        .orderBy($"purchase_id")
    },
    q119.oracle.map(scd2 => Seq(
      s"WITH dim AS (${scd2.replace("ORDER BY user_id, version", "")}),",
      "p AS (SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str",
      "      FROM events WHERE event_type = 'purchase')",
      "SELECT p.event_id AS purchase_id, p.user_id, dim.version,",
      "  dim.event_type AS run_type",
      "FROM p JOIN dim ON p.user_id = dim.user_id",
      " AND p.ts_str >= dim.effective_from",
      " AND (dim.effective_to IS NULL OR p.ts_str < dim.effective_to)",
      "ORDER BY purchase_id").mkString("\n")),
  )

  /** q137 — case-insensitive COLLATION grouping (Spark 4 collations):
    * market segments are case-mangled by row parity, then grouped under
    * UTF8_LCASE — the collation-aware grouping a warehouse uses for
    * messy categorical columns WITHOUT rewriting every key (at scale
    * the collated comparison happens in the shuffle/agg itself; no
    * normalized shadow column materializes). The gate emits the
    * normalized key + binary-min witness per group, which the oracle
    * reproduces with explicit lower() — proving collated grouping ==
    * normalize-then-group. */
  val q137 = QuerySpec(
    "q137_collation_group",
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .withColumn("seg_mixed",
          when($"c_custkey" % 2 === 0, upper($"c_mktsegment"))
            .otherwise(lower($"c_mktsegment")))
        .groupBy(expr("collate(seg_mixed, 'UTF8_LCASE')").as("k"))
        .agg(min($"seg_mixed").as("seg_witness"), count(lit(1)).as("n"))
        .select(lower($"k").cast("string").as("segment"), $"seg_witness", $"n")
        .orderBy($"segment")
    },
    Some("""WITH m AS (
           |  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
           |              ELSE lower(c_mktsegment) END AS seg_mixed
           |  FROM customer
           |)
           |SELECT lower(seg_mixed) AS segment, min(seg_mixed) AS seg_witness,
           |  count(*) AS n
           |FROM m GROUP BY lower(seg_mixed) ORDER BY segment""".stripMargin),
  )

  /** q139 — event-type transition matrix (first-order Markov counts):
    * per user, consecutive event pairs ordered by (ts, event_id),
    * rolled up to (from_type, to_type, n, share_ppm of the from-type's
    * outgoing edges) — the flow-mining readout behind funnel discovery
    * (q120 checks ONE known path; this surfaces which paths exist).
    * One lag window on the user_id shuffle, then a vocabulary-sized
    * rollup; shares in integer ppm (BIGINT DIV — engine-exact). */
  val q139 = QuerySpec(
    "q139_event_transitions",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .withColumn("prev_type", lag($"event_type", 1).over(byUser))
        .where($"prev_type".isNotNull)
        .groupBy($"prev_type".as("from_type"), $"event_type".as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_ppm",
          expr("(n * 1000000) DIV sum(n) OVER (PARTITION BY from_type)"))
        .orderBy($"from_type", $"to_type")
    },
    Some("""WITH p AS (
           |  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           |    AS from_type, event_type AS to_type
           |  FROM events
           |), c AS (
           |  SELECT from_type, to_type, count(*) AS n
           |  FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
           |)
           |SELECT from_type, to_type, n,
           |  CAST((n * 1000000) // (sum(n) OVER (PARTITION BY from_type)) AS BIGINT)
           |    AS share_ppm
           |FROM c ORDER BY from_type, to_type""".stripMargin),
  )

  /** q147 — per-nation OLS trend from exact sufficient statistics:
    * order value (integer cents) regressed on days-since-epoch, emitting
    * (n, Σx, Σy, Σxy, Σx²) as BIGINTs plus the slope in micro-cents/day
    * via exact integer floor division (Spark DECIMAL(38,0) DIV ≡ DuckDB
    * HUGEINT //; both truncate toward zero). The stats are MERGEABLE —
    * two partitions' (n, Σ…) tuples add — so the regression
    * distributes like a sum and never sees a float until the caller
    * divides; this is q132's sufficient-statistics discipline applied
    * to regression. Scale: one fact scan, broadcast dim join,
    * |nations| output groups. */
  val q147 = QuerySpec(
    "q147_trend_suffstats",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d).select(
        $"o_custkey",
        datediff($"o_orderdate", lit("1995-01-01")).cast("long").as("x"),
        ($"o_totalprice".cast("decimal(18,2)") * 100).cast("long").as("y"))
      o.join(broadcast(Tables.customer(s, d).select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sx2"))
        // nullif guards the zero-variance group (all of a nation's orders
        // on one date → denominator 0): slope NULL, not a DIVIDE_BY_ZERO
        // crash under ANSI mode. Mirrored in the oracle.
        .select($"c_nationkey", $"n", $"sx", $"sy", $"sxy", $"sx2",
          expr("""CAST(((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000)
                 DIV nullif(CAST(n AS DECIMAL(38,0)) * sx2 - CAST(sx AS DECIMAL(38,0)) * sx, 0) AS BIGINT)""")
            .as("slope_ucents_day"))
        .orderBy($"c_nationkey")
    },
    Some("""WITH o AS (
           |  SELECT c_nationkey,
           |    CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS x,
           |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |g AS (
           |  SELECT c_nationkey, count(*) AS n,
           |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sx2
           |  FROM o GROUP BY c_nationkey)
           |SELECT c_nationkey, n, sx, sy, sxy, sx2,
           |  CAST(((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy) * 1000000)
           |    // nullif(CAST(n AS HUGEINT) * sx2 - CAST(sx AS HUGEINT) * sx, 0) AS BIGINT)
           |    AS slope_ucents_day
           |FROM g ORDER BY c_nationkey""".stripMargin),
  )

  /** q153 — DataFrame.transpose (Spark 4's reshape API): a per-flag
    * metrics table (3 rows × 3 measures) flipped so measures become
    * rows and flag values become columns — the report orientation
    * every BI handoff asks for. Transpose is driver-side over the
    * already-aggregated relation (column names come from index VALUES,
    * so the input must be small — the aggregate-first discipline the
    * API's least-common-type contract enforces; all measures cast to
    * BIGINT before the flip). The oracle builds the same wide rows by
    * conditional aggregation. */
  val q153 = QuerySpec(
    "q153_transpose_report",
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum($"l_quantity".cast("long")).as("qty_sum"),
          countDistinct($"l_orderkey").as("n_orders"))
        .select($"l_returnflag", $"n_rows".cast("long"),
          $"qty_sum".cast("long"), $"n_orders".cast("long"))
        .transpose($"l_returnflag")
        .withColumnRenamed("key", "measure")
        .orderBy($"measure")
    },
    Some("""SELECT measure,
           |  CAST(sum(CASE WHEN l_returnflag = 'A' THEN v END) AS BIGINT) AS A,
           |  CAST(sum(CASE WHEN l_returnflag = 'N' THEN v END) AS BIGINT) AS N,
           |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN v END) AS BIGINT) AS R
           |FROM (
           |  SELECT l_returnflag, 'n_rows' AS measure, count(*) AS v
           |  FROM lineitem GROUP BY l_returnflag
           |  UNION ALL
           |  SELECT l_returnflag, 'qty_sum', CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
           |  FROM lineitem GROUP BY l_returnflag
           |  UNION ALL
           |  SELECT l_returnflag, 'n_orders', count(DISTINCT l_orderkey)
           |  FROM lineitem GROUP BY l_returnflag)
           |GROUP BY measure ORDER BY measure""".stripMargin),
  )

  /** q157 — DataFrameStatFunctions.crosstab: the exact contingency
    * table (pairwise frequency of two categorical columns, one
    * distributed pass; missing combinations zero-filled) — the
    * dependence check run before trusting a stratification key. Column
    * names come from the second column's VALUES, so the same
    * aggregate-first/bounded-domain discipline as q153's transpose
    * applies. */
  val q157 = QuerySpec(
    "q157_stat_crosstab",
    (s, d) => {
      import s.implicits._
      Tables.lineitem(s, d).stat.crosstab("l_returnflag", "l_linestatus")
        // Pin the expected column set: crosstab derives its columns from
        // the collected distinct l_linestatus VALUES, so a domain drift
        // would otherwise silently reshape the output — this select makes
        // it fail loudly at analysis time instead.
        .select($"l_returnflag_l_linestatus", $"F", $"O")
        .orderBy($"l_returnflag_l_linestatus")
    },
    Some("""SELECT l_returnflag AS l_returnflag_l_linestatus,
           |  count(*) FILTER (WHERE l_linestatus = 'F') AS F,
           |  count(*) FILTER (WHERE l_linestatus = 'O') AS O
           |FROM lineitem GROUP BY l_returnflag
           |ORDER BY l_returnflag_l_linestatus""".stripMargin),
  )

  /** q165 — rolling z-score anomaly detection with NO floats in the
    * gate: events resampled to a 15-minute spine (absent buckets are
    * honest zeros, not skipped rows), per-type trailing-8 window
    * sufficient statistics (S, S²), and the |z| > 2 test evaluated by
    * integer cross-multiplication — z² > 4 ⇔ (k·x − S)² > 4·(k·S2 − S²)
    * after clearing denominators, so the anomaly verdict is BIGINT-
    * exact on both engines (sqrt/stddev would drift). Ranked by the
    * integer margin, top-20. Scale: windows run over the bucket
    * rollup (spine-sized), partitioned by series key; raw events are
    * touched once. */
  val q165 = QuerySpec(
    "q165_anomaly_zscore",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      val bounds = ev.agg(
        expr("unix_micros(min(ts)) DIV 900000000").as("lo"),
        expr("unix_micros(max(ts)) DIV 900000000").as("hi"))
      val spine = bounds
        .select(explode(expr("sequence(lo, hi)")).as("b"))
        .crossJoin(broadcast(ev.select($"event_type").distinct()))
      val bucketed = ev
        .groupBy(expr("unix_micros(ts) DIV 900000000").as("b"), $"event_type")
        .agg(count(lit(1)).as("n0"))
      val series = spine.join(broadcast(bucketed), Seq("b", "event_type"), "left")
        .select($"event_type", $"b", coalesce($"n0", lit(0L)).as("x"))
      val w8 = Window.partitionBy($"event_type").orderBy($"b")
        .rowsBetween(-8, -1)
      val cnt = Window.partitionBy($"event_type").orderBy($"b")
        .rowsBetween(Window.unboundedPreceding, -1)
      series
        .withColumn("s", sum($"x").over(w8))
        .withColumn("s2", sum($"x" * $"x").over(w8))
        .withColumn("n_prev", count(lit(1)).over(cnt))
        .where($"n_prev" >= 8)
        .select($"event_type", $"b", $"x", $"s", $"s2",
          ((lit(8L) * $"x" - $"s") * (lit(8L) * $"x" - $"s") -
            lit(4L) * (lit(8L) * $"s2" - $"s" * $"s")).as("margin"))
        .withColumn("is_anomaly", $"margin" > 0L)
        .orderBy($"margin".desc, $"event_type", $"b")
        .limit(20)
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 900000000 AS b FROM events),
           |bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM e),
           |spine AS (
           |  SELECT unnest(generate_series(lo, hi)) AS b, et
           |  FROM bounds, (SELECT DISTINCT event_type AS et FROM e)),
           |bucketed AS (SELECT b, event_type, count(*) AS n0 FROM e GROUP BY 1, 2),
           |series AS (
           |  SELECT spine.et AS event_type, spine.b, coalesce(n0, 0) AS x
           |  FROM spine LEFT JOIN bucketed
           |    ON spine.b = bucketed.b AND spine.et = bucketed.event_type),
           |stats AS (
           |  SELECT event_type, b, x,
           |    sum(x) OVER w8 AS s, sum(x * x) OVER w8 AS s2,
           |    count(*) OVER (PARTITION BY event_type ORDER BY b
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS n_prev
           |  FROM series
           |  WINDOW w8 AS (PARTITION BY event_type ORDER BY b
           |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING))
           |SELECT event_type, CAST(b AS BIGINT) AS b, CAST(x AS BIGINT) AS x,
           |  CAST(s AS BIGINT) AS s, CAST(s2 AS BIGINT) AS s2,
           |  CAST((8 * x - s) * (8 * x - s) - 4 * (8 * s2 - s * s) AS BIGINT) AS margin,
           |  ((8 * x - s) * (8 * x - s) - 4 * (8 * s2 - s * s)) > 0 AS is_anomaly
           |FROM stats WHERE n_prev >= 8
           |ORDER BY margin DESC, event_type, b LIMIT 20""".stripMargin),
  )

  /** q191 — snapshot diff (CDC DERIVATION, the inverse of q91's CDC
    * apply): two versions of the orders table are reconciled by a full
    * outer join on the key plus a row fingerprint (md5 over the
    * stable-rendered attribute columns), classifying every key as
    * added / deleted / modified / unchanged — the change-data feed a
    * lake derives when the upstream can't emit one. v2 is built from v1
    * by deterministic arithmetic (keys ≡0 mod 97 deleted; else ≡0 mod
    * 31 status-rewritten; copies of keys ≡0 mod 89 re-keyed +10⁷ as
    * inserts), so the oracle states the expected classes straight from
    * the modulos — the join+fingerprint machinery must rediscover them.
    * Scale: one shuffle each side on the key; fingerprints are computed
    * in the scan projection, so the join carries (key, 32-byte hash),
    * not the row — the standard way to diff 100 TB snapshots without
    * moving the payload twice. Fingerprints use only int/string columns
    * (double/timestamp renderings aren't portable — the q171 rule). */
  val q191 = QuerySpec(
    "q191_snapshot_diff",
    (s, d) => {
      import s.implicits._
      def fp(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.select($"o_orderkey".as("k"),
        md5(concat_ws("|", $"o_custkey", $"o_orderstatus", $"o_orderpriority")).as("fp"))
      val v1 = Tables.orders(s, d)
      val v2base = v1.filter($"o_orderkey" % 97 =!= 0)
        .withColumn("o_orderstatus",
          when($"o_orderkey" % 31 === 0, lit("X")).otherwise($"o_orderstatus"))
      val v2adds = v1.filter($"o_orderkey" % 89 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + 10000000L)
      val v2 = v2base.unionByName(v2adds)
      val left = fp(v1).withColumnRenamed("fp", "fp1")
      val right = fp(v2).withColumnRenamed("fp", "fp2")
      left.join(right, Seq("k"), "full_outer")
        .select($"k", when($"fp1".isNull, "added")
          .when($"fp2".isNull, "deleted")
          .when($"fp1" =!= $"fp2", "modified")
          .otherwise("unchanged").as("change_type"))
        .groupBy($"change_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("key_checksum"))
        .orderBy($"change_type")
    },
    Some("""SELECT 'added' AS change_type, count(*) AS n,
           |  CAST(sum(o_orderkey + 10000000) AS BIGINT) AS key_checksum
           |FROM orders WHERE o_orderkey % 89 = 0
           |UNION ALL SELECT 'deleted', count(*), CAST(sum(o_orderkey) AS BIGINT)
           |FROM orders WHERE o_orderkey % 97 = 0
           |UNION ALL SELECT 'modified', count(*), CAST(sum(o_orderkey) AS BIGINT)
           |FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 31 = 0
           |UNION ALL SELECT 'unchanged', count(*), CAST(sum(o_orderkey) AS BIGINT)
           |FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 31 <> 0
           |ORDER BY change_type""".stripMargin),
  )

  /** q193 — cohort retention matrix: users bucketed by first-active
    * week (the cohort), then distinct-user counts per (cohort, week
    * offset) — THE product-analytics readout behind every retention
    * curve, and a shape q120's funnel doesn't cover (funnel orders
    * event TYPES; retention orders calendar RE-APPEARANCES). All-integer
    * gate: week = date_trunc (Monday-start on both engines, UTC
    * session), offset = truncated-epoch difference DIV 604800 (exact —
    * both operands are week boundaries). Scale: one (user,week)
    * distinct + one per-user min + one matrix aggregate — every shuffle
    * is key-sized; the matrix is calendar² rows at any corpus size. */
  val q193 = QuerySpec(
    "q193_cohort_retention",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"user_id", date_trunc("week", $"ts").as("w"))
      val cohorts = ev.groupBy($"user_id").agg(min($"w").as("cw"))
      val active = ev.distinct()
      active.join(cohorts, Seq("user_id"))
        .select($"cw",
          expr("(unix_timestamp(w) - unix_timestamp(cw)) div 604800").as("offset_w"),
          $"user_id")
        .groupBy($"cw", $"offset_w")
        .agg(countDistinct($"user_id").as("n_users"))
        .select(date_format($"cw", "yyyy-MM-dd").as("cohort_week"),
          $"offset_w", $"n_users")
        .orderBy($"cohort_week", $"offset_w")
    },
    Some("""WITH e AS (
           |  SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
           |  FROM events),
           |f AS (SELECT user_id, min(w) AS cw FROM e GROUP BY user_id),
           |a AS (SELECT DISTINCT user_id, w FROM e)
           |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
           |  CAST((epoch_us(w) - epoch_us(cw)) // 604800000000 AS BIGINT) AS offset_w,
           |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
           |FROM a JOIN f ON a.user_id = f.user_id
           |GROUP BY cw, (epoch_us(w) - epoch_us(cw)) // 604800000000
           |ORDER BY cohort_week, offset_w""".stripMargin),
  )

  /** q198 — incremental aggregate refresh (materialized-view
    * maintenance): yesterday's aggregate is PERSISTED to parquet, and
    * today's refresh merges it with the delta's partial aggregate —
    * touching only delta-sized input — instead of recomputing over
    * history. The gate is the algebra itself: merged(partials) must
    * equal the full recompute (the oracle aggregates the whole table).
    * The money sum stays DECIMAL(30,2) THROUGH the parquet round-trip
    * and the merge — partials cast to double would re-order IEEE
    * additions and drift off the full recompute; decimal merge is
    * associative-exact, cast to double only at the very end (Det's rule
    * applied across materialization boundaries). At 100 TB this is the
    * difference between a daily 100 TB scan and a daily 100 GB one. */
  val q198 = QuerySpec(
    "q198_incremental_agg_refresh",
    (s, d) => {
      import s.implicits._
      val cutoff = "1997-01-01"
      val tmp = java.nio.file.Files.createTempDirectory("graft_mv_q198").toString
      try {
        val part = (df: org.apache.spark.sql.DataFrame) => df
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_totalprice".cast("decimal(30,2)")).as("price_dec"))
        val mv = s"$tmp/agg_history"
        part(Tables.orders(s, d).filter($"o_orderdate" < lit(cutoff)))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(mv)
        val delta = part(Tables.orders(s, d).filter($"o_orderdate" >= lit(cutoff)))
        val refreshed = s.read.parquet(mv).unionByName(delta)
          .groupBy($"o_orderpriority")
          .agg(sum($"n_orders").as("n_orders"),
            sum($"price_dec").cast("double").as("price_sum"))
          .orderBy($"o_orderpriority")
        Eager(refreshed) // eager: tmp dir is about to be deleted
      } finally graft.Fs.deleteTree(tmp)
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n_orders,
            |  ${Det.sqlDsum("o_totalprice", 2)} AS price_sum
            |FROM orders GROUP BY o_orderpriority
            |ORDER BY o_orderpriority""".stripMargin),
  )

  /** q199 — sliding time windows (batch `window(ts, 30 min, slide 15
    * min)`): each event lands in duration/slide = 2 overlapping
    * windows — the smoothing rollup behind every rate dashboard, and a
    * semantic q35's tumbling windows don't cover. Spark expands the
    * windows with a generator at the scan (no self-join); the oracle
    * states the same containment arithmetic on truncated epochs (slide
    * divides duration, so both shifted buckets contain the event
    * unconditionally). Window identity crosses the gate as epoch
    * SECONDS — integer-exact, timezone-free. Scale: output is
    * calendar×types rows; the expansion is 2× the scan, not a join. */
  val q199 = QuerySpec(
    "q199_sliding_windows",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "30 minutes", "15 minutes"), $"event_type")
        .agg(count(lit(1)).as("n_events"))
        .select(unix_timestamp($"window.start").as("w_start_s"),
          $"event_type", $"n_events")
        .orderBy($"w_start_s", $"event_type")
    },
    Some("""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
           |b AS (
           |  SELECT event_type, (us // 900000000) * 900 AS w FROM e
           |  UNION ALL
           |  SELECT event_type, ((us // 900000000) - 1) * 900 AS w FROM e)
           |SELECT CAST(w AS BIGINT) AS w_start_s, event_type,
           |  count(*) AS n_events
           |FROM b GROUP BY w, event_type ORDER BY w_start_s, event_type""".stripMargin),
  )

  /** q217 — EXACT distinct counts via bitmap aggregates (Spark 3.5
    * bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg /
    * bitmap_or_agg / bitmap_count): q118's two-level rollup shape with
    * bitmaps instead of HLL — per-(priority, bucket) bitmaps roll up to
    * per-priority counts, and the SAME bitmaps OR-merge into the global
    * count without touching raw rows again. The trade vs HLL: exact
    * answers, state = domain/8 bits per bucket instead of a fixed
    * sketch — the right call for dense integer keys (user ids, order
    * keys) at any scale; bitmaps partial-aggregate map-side like any
    * hash agg. Gate: DuckDB count(DISTINCT) per level, 'ALL' row last
    * by ASCII order on both engines. */
  val q217 = QuerySpec(
    "q217_bitmap_distinct",
    (s, d) => {
      import s.implicits._
      val lvl1 = Tables.orders(s, d)
        .select($"o_orderpriority",
          expr("bitmap_bucket_number(o_custkey)").as("bkt"),
          expr("bitmap_bit_position(o_custkey)").as("pos"))
        .groupBy($"o_orderpriority", $"bkt")
        .agg(expr("bitmap_construct_agg(pos)").as("bm"))
        .persist()
      try {
        val per = lvl1.groupBy($"o_orderpriority")
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
        val merged = lvl1.groupBy($"bkt")
          .agg(expr("bitmap_or_agg(bm)").as("bm"))
          .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"))
          .select(lit("ALL").as("o_orderpriority"), $"n_distinct")
        Eager(per.unionByName(merged).orderBy($"o_orderpriority"))
      } finally { lvl1.unpersist(); () }
    },
    Some("""SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
           |FROM orders GROUP BY o_orderpriority
           |UNION ALL
           |SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
           |ORDER BY o_orderpriority""".stripMargin),
  )

  /** q222 — native regression/correlation aggregates (corr,
    * covar_samp, regr_slope / regr_intercept / regr_r2 / regr_count)
    * gated by q39's tolerance-boolean convention: double-sum internals
    * make the natives order-dependent in the last bits, so the gate
    * compares each against the EXACT decimal sufficient-statistics
    * computation (q147's machinery) and ships the boolean — the native
    * must sit within 1e-6 relative of the exact value (the reference's
    * own decimal rounding costs ~1e-9 under numerator cancellation, so
    * 1e-9 would gate the reference, not the native). x = hour-of-day
    * (exact small int, integer-exact moments), y = value. regr_count
    * is integer-exact and crosses directly. */
  val q222 = QuerySpec(
    "q222_regr_agg_gate",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val e = Tables.events(s, d)
        .select($"event_type", hour($"ts").cast("long").as("x"),
          $"value".as("y"), $"value".cast(DecimalType(30, 10)).as("yd"))
      val base = e.groupBy($"event_type").agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
        sum($"yd").as("sy"), sum($"yd" * $"yd").as("syy"),
        sum($"yd" * $"x").as("sxy"),
        corr($"x", $"y").as("corr_n"),
        covar_samp($"x", $"y").as("cov_n"),
        expr("regr_slope(y, x)").as("slope_n"),
        expr("regr_intercept(y, x)").as("icept_n"),
        expr("regr_r2(y, x)").as("r2_n"),
        expr("regr_count(y, x)").as("regr_n"))
      def close(native: org.apache.spark.sql.Column,
                exact: org.apache.spark.sql.Column) =
        abs(native - exact) <= lit(1e-6) * greatest(abs(exact), lit(1.0))
      base.select($"event_type", $"n", $"regr_n",
          close($"slope_n", (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).cast("double")).as("slope_ok"),
          close($"icept_n", (($"sy" - (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")) * $"sx") / $"n").cast("double"))
            .as("icept_ok"),
          close($"corr_n", (($"n" * $"sxy" - $"sx" * $"sy") /
            (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
              sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))).cast("double"))
            .as("corr_ok"),
          close($"cov_n", (($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1))
            .cast("double")).as("cov_ok"),
          ($"r2_n" >= 0.0 && $"r2_n" <= 1.0).as("r2_in_range"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, count(*) AS n, count(*) AS regr_n,
           |  true AS slope_ok, true AS icept_ok, true AS corr_ok, true AS cov_ok,
           |  true AS r2_in_range
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q227 — HLL sketch state PERSISTED through parquet (q118 merges
    * within one query; this is the cross-JOB half of the mergeable-
    * sketch contract): per-priority customer sketches land as binary
    * parquet columns, a SECOND pass reads them back, re-estimates each,
    * and union-merges them into the global estimate — raw rows are
    * never rescanned. This is the q198 materialized-view pattern with
    * sketch state instead of decimal partials: daily sketch partitions
    * at 100 TB merge along any rollup in seconds. The custkey domain
    * exceeds the coupon-exact range, so estimates gate via the ±5%
    * tolerance boolean against the exact distinct count (q39's
    * convention), which crosses the gate exactly. */
  val q227 = QuerySpec(
    "q227_hll_sketch_persist",
    (s, d) => {
      import s.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_hll_q227").toString
      try {
        Tables.orders(s, d).groupBy($"o_orderpriority")
          .agg(expr("hll_sketch_agg(o_custkey)").as("sk"),
            countDistinct($"o_custkey").as("n_exact"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$tmp/sketches")
        val back = s.read.parquet(s"$tmp/sketches")
        val per = back.select($"o_orderpriority", $"n_exact",
          expr("hll_sketch_estimate(sk)").as("est"))
        val merged = back.agg(
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"),
          sum($"n_exact").as("n_upper"))
        val globalExact = Tables.orders(s, d)
          .agg(countDistinct($"o_custkey").as("n_exact"))
        val all = per.select($"o_orderpriority", $"n_exact",
            (abs($"est" - $"n_exact") <= $"n_exact" * 0.05).as("est_ok"))
          .unionByName(merged.crossJoin(globalExact)
            .select(lit("ALL").as("o_orderpriority"), $"n_exact",
              (abs($"est" - $"n_exact") <= $"n_exact" * 0.05).as("est_ok")))
        Eager(all.orderBy($"o_orderpriority")) // eager: sketches live under tmp
      } finally graft.Fs.deleteTree(tmp)
    },
    Some("""SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           |  true AS est_ok
           |FROM orders GROUP BY o_orderpriority
           |UNION ALL
           |SELECT 'ALL', CAST(count(DISTINCT o_custkey) AS BIGINT), true FROM orders
           |ORDER BY o_orderpriority""".stripMargin),
  )

  /** q246 — median absolute deviation (robust dispersion): per-type
    * median, then the median of absolute deviations FROM that median —
    * two percentile_disc passes (value-selecting, so doubles cross the
    * gate bit-exact; q192's convention), the medians broadcast back
    * between them. MAD is the outlier-resistant sigma every robust
    * filter wants where q165's z-score is mean-based; at 100 TB each
    * pass is one aggregate over the fact table with a dimension-sized
    * frame in between. */
  val q246 = QuerySpec(
    "q246_median_abs_deviation",
    (s, d) => {
      import s.implicits._
      val med = Tables.events(s, d).groupBy($"event_type")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
      Tables.events(s, d)
        .join(broadcast(med), Seq("event_type"))
        .select($"event_type", $"med", abs($"value" - $"med").as("dev"))
        .groupBy($"event_type")
        .agg(round(max($"med"), 6).as("median"),
          round(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)"), 6).as("mad"),
          count(lit(1)).as("n"))
        .orderBy($"event_type")
    },
    Some("""WITH m AS (
           |  SELECT event_type,
           |    percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
           |  FROM events GROUP BY event_type),
           |d AS (
           |  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
           |  FROM events e JOIN m USING (event_type))
           |SELECT event_type, round(max(med), 6) AS median,
           |  round(percentile_disc(0.5) WITHIN GROUP (ORDER BY dev), 6) AS mad,
           |  count(*) AS n
           |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q247 — conditional running reset (the cumulative-with-restart
    * pattern: "balance since last signup"): the reset epoch is itself a
    * running count of reset events — one window pass assigns epochs,
    * one aggregate folds each (user, epoch) segment with exact decimal
    * sums, and the readout pins segment count, longest segment, and the
    * max segment mass in integer e4 units. q234's islands machinery
    * with a data-dependent break condition instead of an ordering
    * break. */
  val q247 = QuerySpec(
    "q247_conditional_running_reset",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val e = Tables.events(s, d)
        .select($"user_id", $"value",
          sum(when($"event_type" === "signup", 1L).otherwise(0L)).over(w).as("epoch"))
      e.groupBy($"user_id", $"epoch")
        .agg(sum($"value".cast(DecimalType(30, 4))).as("seg_sum"),
          count(lit(1)).as("seg_n"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_epochs"),
          max($"seg_n").as("longest_epoch"),
          (max($"seg_sum").cast(DecimalType(30, 4)) * 10000).cast("long")
            .as("max_seg_sum_e4"))
        .orderBy($"user_id")
    },
    Some("""WITH e AS (
           |  SELECT user_id, value,
           |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS epoch
           |  FROM events),
           |r AS (
           |  SELECT user_id, epoch,
           |    sum(CAST(value AS DECIMAL(30,4))) AS seg_sum, count(*) AS seg_n
           |  FROM e GROUP BY user_id, epoch)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_epochs,
           |  CAST(max(seg_n) AS BIGINT) AS longest_epoch,
           |  CAST(CAST(max(seg_sum) AS DECIMAL(30,4)) * 10000 AS BIGINT)
           |    AS max_seg_sum_e4
           |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin),
  )

  /** q254 — interval coalescing (merge overlapping intervals per key):
    * each lineitem contributes a service interval [shipdate, shipdate +
    * quantity days] for its supplier; overlapping/touching intervals
    * merge into islands, and the per-supplier readout is island count,
    * total covered days, and an island-boundary checksum. The classic
    * linear algorithm: sort by start within key, a row OPENS a new
    * island iff its start is strictly after the running max end of all
    * earlier rows (touching endpoints merge), island id = running sum
    * of open flags. Island identity depends only on the interval SET —
    * equal starts are order-insensitive under the running max — so the
    * hash is stable under any shuffle order.
    * Scale: one shuffle (hash by l_suppkey), per-partition sort inside
    * the window, two pure window functions then a bounded two-level
    * agg; per-key row counts bound the sort, and the output is
    * dimension-sized. No self-join — the NOT EXISTS/self-join island
    * formulations are quadratic per key and this replaces them. */
  val q254 = QuerySpec(
    "q254_interval_coalesce",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val iv = Tables.lineitem(s, d).select(
        $"l_suppkey".as("k"),
        to_date($"l_shipdate").as("ivstart"),
        date_add(to_date($"l_shipdate"), $"l_quantity".cast("int")).as("ivend"))
      val w = Window.partitionBy($"k").orderBy($"ivstart", $"ivend")
      val prevMax = max($"ivend").over(w.rowsBetween(Window.unboundedPreceding, -1))
      val flagged = iv
        .withColumn("opens", when(prevMax.isNull || $"ivstart" > prevMax, 1L).otherwise(0L))
        .withColumn("island", sum($"opens").over(w))
      flagged
        .groupBy($"k", $"island")
        .agg(min($"ivstart").as("a"), max($"ivend").as("b"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n_islands"),
          sum(datediff($"b", $"a")).as("covered_days"),
          sum(dayofyear($"a").cast("long") * $"island").as("boundary_checksum"))
        .orderBy($"k")
    },
    Some("""WITH iv AS (
           |  SELECT l_suppkey AS k, CAST(l_shipdate AS DATE) AS ivstart,
           |    CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS ivend
           |  FROM lineitem),
           |f AS (
           |  SELECT k, ivstart, ivend,
           |    CASE WHEN max(ivend) OVER (PARTITION BY k ORDER BY ivstart, ivend
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
           |      OR ivstart > max(ivend) OVER (PARTITION BY k ORDER BY ivstart, ivend
           |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           |    THEN 1 ELSE 0 END AS opens
           |  FROM iv),
           |g AS (
           |  SELECT k, ivstart, ivend,
           |    CAST(sum(opens) OVER (PARTITION BY k ORDER BY ivstart, ivend
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
           |  FROM f),
           |isl AS (
           |  SELECT k, island, min(ivstart) AS a, max(ivend) AS b
           |  FROM g GROUP BY k, island)
           |SELECT k, count(*) AS n_islands,
           |  CAST(sum(date_diff('day', a, b)) AS BIGINT) AS covered_days,
           |  CAST(sum(dayofyear(a) * island) AS BIGINT) AS boundary_checksum
           |FROM isl GROUP BY k ORDER BY k""".stripMargin),
  )

  /** q255 — skyline (Pareto frontier) per nation: customers judged on
    * two maximize-dimensions, account balance and lifetime spend (the
    * left-join/COALESCE(0) keeps order-less customers). A point is on
    * the skyline iff no other point in its nation is ≥ on both
    * dimensions and > on at least one. The distributed form is the
    * LINEAR sweep, not the quadratic NOT EXISTS: collapse to distinct
    * (bal, spend) points with multiplicity, sort each nation by bal
    * DESC, spend DESC — every potential dominator of a point precedes
    * it — and keep the point iff the running max of spend over
    * preceding rows is < its spend (strictness is exactly right at
    * ties: an equal-bal-higher-spend predecessor dominates; duplicate
    * points collapse, so equal-equal never eliminates). The oracle IS
    * the quadratic NOT EXISTS statement of the definition — two
    * formulations, one hash.
    * Scale: per-customer agg (one shuffle, map-side combine), then the
    * window runs on the DISTINCT point set (dimension-sized per
    * nation); spend is DECIMAL-exact so dominance never hinges on FP
    * summation order. */
  val q255 = QuerySpec(
    "q255_skyline_pareto",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val spend = Tables.orders(s, d)
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast("decimal(30,2)")).as("spend"))
      val pts = Tables.customer(s, d)
        .join(spend, $"c_custkey" === $"o_custkey", "left")
        .select($"c_nationkey".as("nat"), $"c_custkey",
          $"c_acctbal".as("bal"),
          coalesce($"spend", lit(0).cast("decimal(38,2)")).as("spend"))
      val grp = pts.groupBy($"nat", $"bal", $"spend")
        .agg(count(lit(1)).as("cnt"), sum($"c_custkey").as("ck_sum"))
      val w = Window.partitionBy($"nat").orderBy($"bal".desc, $"spend".desc)
      val mprev = max($"spend").over(w.rowsBetween(Window.unboundedPreceding, -1))
      grp
        .withColumn("sky", mprev.isNull || $"spend" > mprev)
        .filter($"sky")
        .groupBy($"nat")
        .agg(count(lit(1)).as("n_points"),
          sum($"cnt").as("n_customers"),
          sum($"ck_sum").as("custkey_sum"))
        .orderBy($"nat")
    },
    Some("""WITH spend AS (
           |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(30,2))) AS spend
           |  FROM orders GROUP BY o_custkey),
           |pts AS (
           |  SELECT c_nationkey AS nat, c_custkey, c_acctbal AS bal,
           |    coalesce(spend, 0) AS spend
           |  FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
           |sky AS (
           |  SELECT * FROM pts p
           |  WHERE NOT EXISTS (
           |    SELECT 1 FROM pts q
           |    WHERE q.nat = p.nat AND q.bal >= p.bal AND q.spend >= p.spend
           |      AND (q.bal > p.bal OR q.spend > p.spend)))
           |SELECT nat,
           |  CAST(count(DISTINCT (bal, spend)) AS BIGINT) AS n_points,
           |  count(*) AS n_customers,
           |  CAST(sum(c_custkey) AS BIGINT) AS custkey_sum
           |FROM sky GROUP BY nat ORDER BY nat""".stripMargin),
  )

  /** q264 — date-spine zipper: three independent daily series (orders
    * placed, lineitems shipped, events observed) aligned on a GENERATED
    * gap-free date spine — `sequence(min, max)` + explode, the
    * feature-store idiom that makes downstream windows see every day,
    * including days where a series is silent (left join + COALESCE 0).
    * A 7-day trailing total over the zipped frame (computable only
    * because the spine is gap-free — a ROWS frame over raw dates would
    * silently span gaps) is folded into a monthly checksum.
    * Scale: the spine is ~calendar-sized (thousands of rows) and
    * broadcast-joins against three pre-aggregated dimension-sized daily
    * rollups; the fact tables are each scanned once into a map-side
    * combined groupBy(day). The window runs on the spine (single
    * partition of calendar size — bounded by construction, repartition
    * by year if a spine ever spans centuries). */
  val q264 = QuerySpec(
    "q264_date_spine_zipper",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ord = Tables.orders(s, d).select(to_date($"o_orderdate").as("day"),
        $"o_totalprice")
      val bounds = ord.agg(min($"day").as("d0"), max($"day").as("d1"))
      val spine = bounds
        .select(explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
      val oDaily = ord.groupBy($"day").agg(count(lit(1)).as("o_n"))
      val lDaily = Tables.lineitem(s, d).groupBy(to_date($"l_shipdate").as("day"))
        .agg(count(lit(1)).as("l_n"))
      val eDaily = Tables.events(s, d).groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("e_n"))
      val zipped = spine
        .join(oDaily, Seq("day"), "left")
        .join(lDaily, Seq("day"), "left")
        .join(eDaily, Seq("day"), "left")
        .select($"day",
          coalesce($"o_n", lit(0L)).as("o_n"),
          coalesce($"l_n", lit(0L)).as("l_n"),
          coalesce($"e_n", lit(0L)).as("e_n"))
      val w7 = Window.orderBy($"day").rowsBetween(-6, 0)
      zipped
        .withColumn("t7", sum($"o_n" + $"l_n" + $"e_n").over(w7))
        .groupBy(date_trunc("month", $"day").cast("date").as("month"))
        .agg(count(lit(1)).as("n_days"),
          sum($"o_n").as("o_n"), sum($"l_n").as("l_n"), sum($"e_n").as("e_n"),
          sum($"t7" * dayofmonth($"day")).as("t7_checksum"))
        .orderBy($"month")
    },
    Some("""WITH b AS (
           |  SELECT min(CAST(o_orderdate AS DATE)) AS d0,
           |    max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
           |spine AS (
           |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM b),
           |od AS (SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS o_n
           |  FROM orders GROUP BY 1),
           |ld AS (SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS l_n
           |  FROM lineitem GROUP BY 1),
           |ed AS (SELECT CAST(ts AS DATE) AS day, count(*) AS e_n
           |  FROM events GROUP BY 1),
           |z AS (
           |  SELECT spine.day,
           |    coalesce(o_n, 0) AS o_n, coalesce(l_n, 0) AS l_n,
           |    coalesce(e_n, 0) AS e_n
           |  FROM spine LEFT JOIN od USING (day) LEFT JOIN ld USING (day)
           |    LEFT JOIN ed USING (day)),
           |t AS (
           |  SELECT day, o_n, l_n, e_n,
           |    sum(o_n + l_n + e_n) OVER (ORDER BY day
           |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS t7
           |  FROM z)
           |SELECT CAST(date_trunc('month', day) AS DATE) AS month,
           |  count(*) AS n_days,
           |  CAST(sum(o_n) AS BIGINT) AS o_n, CAST(sum(l_n) AS BIGINT) AS l_n,
           |  CAST(sum(e_n) AS BIGINT) AS e_n,
           |  CAST(sum(t7 * dayofmonth(day)) AS BIGINT) AS t7_checksum
           |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q272 — survivorship merge (the golden-record step master-data
    * pipelines run after duplicate clustering, field-LEVEL where q57's
    * keep-best is row-level): within each duplicate cluster (custkey
    * div 4 — deterministic ~4-member clusters), each golden field has
    * its own rule: id = oldest member (min key), balance = most
    * favorable (max), segment = FROM the best member (argmax by
    * balance, key tie-break — a value carried from the winning record,
    * not an independent aggregate), plus a conflict flag when members
    * disagree on nation. The argmax is `max(struct(bal, -key, seg))` —
    * one map-side-combinable aggregate, no window, no self-join; the
    * oracle states the same argmax as a row_number pick. Readout rolls
    * golden records up by surviving segment. Scale: one shuffle on the
    * cluster key; every rule is an associative aggregate, so partial
    * aggregation does the heavy lifting before the exchange. */
  val q272 = QuerySpec(
    "q272_survivorship_merge",
    (s, d) => {
      import s.implicits._
      Tables.customer(s, d)
        .select(expr("c_custkey div 4").as("cl"), $"c_custkey", $"c_acctbal",
          $"c_mktsegment", $"c_nationkey")
        .groupBy($"cl")
        .agg(min($"c_custkey").as("gid"),
          max($"c_acctbal").as("gbal"),
          max(struct($"c_acctbal", (-$"c_custkey").as("negk"),
            $"c_mktsegment".as("seg"))).getField("seg").as("gseg"),
          countDistinct($"c_nationkey").as("n_nat"))
        .groupBy($"gseg")
        .agg(count(lit(1)).as("n_clusters"),
          sum($"gid").as("gid_sum"),
          dsum($"gbal", 2).as("gbal_sum"),
          count(when($"n_nat" > 1, 1)).as("n_conflicted"))
        .orderBy($"gseg")
    },
    Some(s"""WITH m AS (
            |  SELECT c_custkey // 4 AS cl, c_custkey, c_acctbal, c_mktsegment,
            |    c_nationkey
            |  FROM customer),
            |g AS (
            |  SELECT cl, min(c_custkey) AS gid, max(c_acctbal) AS gbal,
            |    count(DISTINCT c_nationkey) AS n_nat
            |  FROM m GROUP BY cl),
            |best AS (
            |  SELECT cl, c_mktsegment AS gseg FROM (
            |    SELECT cl, c_mktsegment,
            |      row_number() OVER (PARTITION BY cl
            |        ORDER BY c_acctbal DESC, c_custkey) AS rn
            |    FROM m) WHERE rn = 1)
            |SELECT gseg, count(*) AS n_clusters,
            |  CAST(sum(gid) AS BIGINT) AS gid_sum,
            |  ${sqlDsum("gbal", 2)} AS gbal_sum,
            |  CAST(count(CASE WHEN n_nat > 1 THEN 1 END) AS BIGINT) AS n_conflicted
            |FROM g JOIN best USING (cl) GROUP BY gseg ORDER BY gseg""".stripMargin),
  )

  /** q276 — declarative data-quality expectations (the deequ/dbt-test
    * layer as an engine op): five rule KINDS evaluated in TWO passes
    * total — not-null, value range, accepted values, and key uniqueness
    * all fold into ONE aggregate over the fact scan (each rule is a
    * FILTER-style conditional count; uniqueness is n − distinct n), and
    * referential integrity adds one broadcast anti-join count. The
    * report is one row per rule (checked, violations, passed) — the
    * shape a quality gate consumes to block a pipeline stage. Scale:
    * rule count doesn't add passes — every scalar rule rides the same
    * scan; at 100 TB the RI check is the only join and its dimension
    * side broadcasts. */
  val q276 = QuerySpec(
    "q276_dq_expectations",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val head = o.agg(
        count(lit(1)),
        count(when($"o_custkey".isNull, 1)),
        count(when(!($"o_totalprice" > 0.0 && $"o_totalprice" <= 600000.0), 1)),
        count(when(!$"o_orderstatus".isin("F", "O", "P"), 1)),
        countDistinct($"o_orderkey")).head()
      val (n, nNull, nRange, nVals, nDist) =
        (head.getLong(0), head.getLong(1), head.getLong(2), head.getLong(3),
          head.getLong(4))
      val nOrphans = o.join(broadcast(Tables.customer(s, d).select($"c_custkey")),
        $"o_custkey" === $"c_custkey", "left_anti").count()
      val rules = Seq(
        ("accepted_values(o_orderstatus)", n, nVals),
        ("not_null(o_custkey)", n, nNull),
        ("range(o_totalprice)", n, nRange),
        ("referential(o_custkey->customer)", n, nOrphans),
        ("unique(o_orderkey)", n, n - nDist))
      s.createDataFrame(rules.map { case (r, c, v) => (r, c, v, v == 0L) })
        .toDF("rule", "n_checked", "n_violations", "passed")
        .orderBy($"rule")
    },
    Some("""WITH a AS (
           |  SELECT count(*) AS n,
           |    count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null,
           |    count(CASE WHEN NOT (o_totalprice > 0.0 AND o_totalprice <= 600000.0)
           |      THEN 1 END) AS n_range,
           |    count(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 END)
           |      AS n_vals,
           |    count(DISTINCT o_orderkey) AS n_dist
           |  FROM orders),
           |ri AS (
           |  SELECT count(*) AS n_orphans FROM orders
           |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
           |r AS (
           |  SELECT 'accepted_values(o_orderstatus)' AS rule, n,
           |    CAST(n_vals AS BIGINT) AS v FROM a
           |  UNION ALL SELECT 'not_null(o_custkey)', n, CAST(n_null AS BIGINT) FROM a
           |  UNION ALL SELECT 'range(o_totalprice)', n, CAST(n_range AS BIGINT) FROM a
           |  UNION ALL SELECT 'referential(o_custkey->customer)', n,
           |    CAST(n_orphans AS BIGINT) FROM a, ri
           |  UNION ALL SELECT 'unique(o_orderkey)', n, CAST(n - n_dist AS BIGINT) FROM a)
           |SELECT rule, n AS n_checked, v AS n_violations, v = 0 AS passed
           |FROM r ORDER BY rule""".stripMargin),
  )

  /** q280 — k-anonymity audit (the privacy gate a training-data release
    * runs before shipping): customers are grouped by their
    * quasi-identifier tuple (nation, market segment, account-balance
    * band), and the report is the GROUP-SIZE HISTOGRAM — for each
    * anonymity level k, how many QI groups and records sit at that
    * level, their corpus share in ppm, and whether the level violates
    * the k≥5 policy. The histogram (not per-group detail) is the
    * publishable artifact: it never exposes a quasi-identifier tuple,
    * and it is two map-side-combined aggregates regardless of QI
    * cardinality. Balance bands via floor(x/1000.0) — IEEE divide +
    * floor are bit-equal cross-engine, and floor (unlike integer `div`)
    * keeps negative balances in contiguous bands. */
  val q280 = QuerySpec(
    "q280_k_anonymity",
    (s, d) => {
      import s.implicits._
      val c = Tables.customer(s, d)
      val groups = c
        .withColumn("bal_band", floor($"c_acctbal" / 1000.0).cast("long"))
        .groupBy($"c_nationkey", $"c_mktsegment", $"bal_band")
        .agg(count(lit(1)).as("k"))
      val total = c.count()
      groups.groupBy($"k")
        .agg(count(lit(1)).as("n_groups"),
          sum($"k").as("n_records"))
        .withColumn("share_ppm", expr(s"n_records * 1000000L div ${total}L"))
        .withColumn("below_policy", $"k" < 5)
        .orderBy($"k")
    },
    Some("""WITH g AS (
           |  SELECT c_nationkey, c_mktsegment,
           |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           |    count(*) AS k
           |  FROM customer GROUP BY 1, 2, 3),
           |t AS (SELECT count(*) AS total FROM customer)
           |SELECT k, count(*) AS n_groups, CAST(sum(k) AS BIGINT) AS n_records,
           |  CAST(sum(k) AS BIGINT) * 1000000 // (SELECT total FROM t) AS share_ppm,
           |  k < 5 AS below_policy
           |FROM g GROUP BY k ORDER BY k""".stripMargin),
  )

  /** q281 — Benford first-digit audit (fraud/synthetic-data screening):
    * the distribution of the leading digit of o_totalprice vs Benford's
    * law, deviation reported in ppm. The expected frequencies
    * log10(1+1/d) are PINNED as integer ppm constants in both engines —
    * the only public constants in the test, so no runtime log() ever
    * runs and the hash gate holds. Digit extraction goes through
    * floor→BIGINT→string (floor of a double is exact; double→BIGINT
    * CAST would ROUND in DuckDB but truncate in Spark — the documented
    * cast trap this pipeline routes around). One scan, 9-row output. */
  val q281 = QuerySpec(
    "q281_benford_digit_audit",
    (s, d) => {
      import s.implicits._
      val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
        9 -> 45757L)
      val exp_ = broadcast(s.createDataFrame(expected).toDF("digit", "exp_ppm"))
      Tables.orders(s, d)
        .select(substring(floor($"o_totalprice").cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
        .withColumn("total", sum($"n").over(org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))))
        .withColumn("obs_ppm", expr("n * 1000000L div total"))
        .join(exp_, "digit")
        .withColumn("dev_ppm", abs($"obs_ppm" - $"exp_ppm"))
        .select($"digit", $"n", $"obs_ppm", $"exp_ppm", $"dev_ppm")
        .orderBy($"digit")
    },
    Some("""WITH e(digit, exp_ppm) AS (VALUES (1, 301030), (2, 176091),
           |  (3, 124939), (4, 96910), (5, 79181), (6, 66947), (7, 57992),
           |  (8, 51153), (9, 45757)),
           |o AS (
           |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
           |    1, 1) AS INT) AS digit, count(*) AS n
           |  FROM orders GROUP BY 1)
           |SELECT digit, n,
           |  CAST(n * 1000000 // (SELECT sum(n) FROM o) AS BIGINT) AS obs_ppm,
           |  CAST(exp_ppm AS BIGINT) AS exp_ppm,
           |  CAST(abs(n * 1000000 // (SELECT sum(n) FROM o) - exp_ppm) AS BIGINT) AS dev_ppm
           |FROM o JOIN e USING (digit) ORDER BY digit""".stripMargin),
  )

  /** q282 — RFM segmentation: per customer, recency (days since last
    * order vs the corpus max date), frequency (order count), monetary
    * (decimal-exact total), each quartiled, plus a rule-based segment
    * label. The quartiles are NOT a single-partition ntile window —
    * each dimension gets a distributed global rank via
    * [[graft.operators.StableIds.withGlobalRowIds]] (range-partitioned
    * sort + broadcast partition offsets), and the tile is computed from
    * (rank, n) by ntile's own size formula, so the plan scales to a
    * 10⁹-customer dimension while remaining value-identical to the
    * oracle's ntile(4). Ties are broken by custkey in both engines. */
  val q282 = QuerySpec(
    "q282_rfm_segmentation",
    (s, d) => {
      import s.implicits._
      val o = Tables.orders(s, d)
      val g = o.agg(max($"o_orderdate").as("gmax"),
        countDistinct($"o_custkey").as("n_cust"))
      val rfm = o.groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("last_dt"),
          count(lit(1)).as("f"),
          dsum($"o_totalprice", 2).as("m"))
        .crossJoin(broadcast(g))
        .withColumn("r_days", datediff($"gmax", $"last_dt").cast("long"))
      // ntile(4) from a 1-based global rank: q=n div 4, rem=n mod 4;
      // the first rem buckets take q+1 rows (ANSI ntile's fill rule).
      def tileOf(rank: String) =
        expr(s"""CASE WHEN $rank <= (n_cust div 4 + 1) * (n_cust % 4)
                 |  THEN ($rank - 1) div (n_cust div 4 + 1) + 1
                 |  ELSE n_cust % 4
                 |    + ($rank - (n_cust div 4 + 1) * (n_cust % 4) - 1) div (n_cust div 4) + 1
                 |END""".stripMargin).cast("int")
      val withR = graft.operators.StableIds
        .withGlobalRowIds(rfm, 8, $"r_days", $"o_custkey")
        .withColumn("r_tile", tileOf("(row_id + 1)")).drop("row_id")
      val withF = graft.operators.StableIds
        .withGlobalRowIds(withR, 8, $"f".desc, $"o_custkey")
        .withColumn("f_tile", tileOf("(row_id + 1)")).drop("row_id")
      val withM = graft.operators.StableIds
        .withGlobalRowIds(withF, 8, $"m".desc, $"o_custkey")
        .withColumn("m_tile", tileOf("(row_id + 1)")).drop("row_id")
      withM
        .withColumn("segment", expr(
          """CASE WHEN r_tile = 1 AND f_tile <= 2 AND m_tile <= 2 THEN 'champion'
            |     WHEN r_tile <= 2 AND f_tile <= 2 THEN 'loyal'
            |     WHEN r_tile >= 3 AND m_tile = 1 THEN 'big_spender_lapsing'
            |     WHEN r_tile = 4 THEN 'at_risk'
            |     ELSE 'regular' END""".stripMargin))
        .select($"o_custkey", $"r_days", $"f", $"m",
          $"r_tile", $"f_tile", $"m_tile", $"segment")
        .orderBy($"o_custkey")
    },
    Some(s"""WITH g AS (SELECT max(o_orderdate) AS gmax FROM orders),
            |rfm AS (
            |  SELECT o_custkey,
            |    date_diff('day', max(o_orderdate), (SELECT gmax FROM g)) AS r_days,
            |    count(*) AS f, ${sqlDsum("o_totalprice", 2)} AS m
            |  FROM orders GROUP BY o_custkey),
            |t AS (SELECT *,
            |    CAST(ntile(4) OVER (ORDER BY r_days, o_custkey) AS INT) AS r_tile,
            |    CAST(ntile(4) OVER (ORDER BY f DESC, o_custkey) AS INT) AS f_tile,
            |    CAST(ntile(4) OVER (ORDER BY m DESC, o_custkey) AS INT) AS m_tile
            |  FROM rfm)
            |SELECT o_custkey, r_days, f, m, r_tile, f_tile, m_tile,
            |  CASE WHEN r_tile = 1 AND f_tile <= 2 AND m_tile <= 2 THEN 'champion'
            |       WHEN r_tile <= 2 AND f_tile <= 2 THEN 'loyal'
            |       WHEN r_tile >= 3 AND m_tile = 1 THEN 'big_spender_lapsing'
            |       WHEN r_tile = 4 THEN 'at_risk'
            |       ELSE 'regular' END AS segment
            |FROM t ORDER BY o_custkey""".stripMargin),
  )

  /** q284 — frequent itemset mining, the a-priori two-pass: baskets are
    * orders, items are part "brands" (partkey div 20); pass 1 counts
    * item support, pass 2 emits within-basket pairs ONLY between items
    * that survived pass 1 (the a-priori prune — candidate pairs of an
    * infrequent item can't be frequent), counts pair support, and
    * reports lift in ppm. Scale shape: the pair emit is a per-basket
    * self-join on the basket key with `a < b`, so its output is
    * Σ C(|basket∩frequent|, 2) — bounded by basket size (≈4 here),
    * never by catalog size; the frequent-item filter is a broadcast
    * semi-join. Lift's integer form support·N·10⁶ div (cntA·cntB) stays
    * in Long while N·10⁶·support < 9·10¹⁸. */
  val q284 = QuerySpec(
    "q284_frequent_itemsets",
    (s, d) => {
      import s.implicits._
      val basketItems = Tables.lineitem(s, d)
        .select($"l_orderkey", expr("l_partkey div 20").as("item"))
        .distinct()
      val nBaskets = Tables.lineitem(s, d).select($"l_orderkey").distinct().count()
      val itemCnt = basketItems.groupBy($"item").agg(count(lit(1)).as("cnt"))
      val frequent = itemCnt.filter($"cnt" >= 100)
      val fi = basketItems.join(broadcast(frequent.select($"item")), "item")
      val pairs = fi.as("a")
        .join(fi.as("b"), $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.item" < $"b.item")
        .groupBy($"a.item".as("item_a"), $"b.item".as("item_b"))
        .agg(count(lit(1)).as("support"))
        .filter($"support" >= 30)
      pairs
        .join(broadcast(frequent.withColumnRenamed("item", "item_a")
          .withColumnRenamed("cnt", "cnt_a")), "item_a")
        .join(broadcast(frequent.withColumnRenamed("item", "item_b")
          .withColumnRenamed("cnt", "cnt_b")), "item_b")
        .withColumn("lift_ppm",
          expr(s"support * ${nBaskets}L * 1000000L div (cnt_a * cnt_b)"))
        .select($"item_a", $"item_b", $"support", $"cnt_a", $"cnt_b", $"lift_ppm")
        .orderBy($"support".desc, $"item_a", $"item_b")
    },
    Some("""WITH bi AS (
           |  SELECT DISTINCT l_orderkey, l_partkey // 20 AS item FROM lineitem),
           |n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
           |ic AS (SELECT item, count(*) AS cnt FROM bi GROUP BY item),
           |freq AS (SELECT * FROM ic WHERE cnt >= 100),
           |fi AS (SELECT bi.* FROM bi JOIN freq USING (item)),
           |p AS (
           |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
           |  FROM fi a JOIN fi b
           |    ON a.l_orderkey = b.l_orderkey AND a.item < b.item
           |  GROUP BY 1, 2 HAVING count(*) >= 30)
           |SELECT item_a, item_b, support, fa.cnt AS cnt_a, fb.cnt AS cnt_b,
           |  CAST(support * (SELECT n_baskets FROM n) * 1000000
           |    // (fa.cnt * fb.cnt) AS BIGINT) AS lift_ppm
           |FROM p
           |JOIN freq fa ON fa.item = item_a
           |JOIN freq fb ON fb.item = item_b
           |ORDER BY support DESC, item_a, item_b""".stripMargin),
  )

  /** q285 — multi-touch attribution with EXACT apportionment: every
    * purchase distributes exactly 1,000,000 ppm of credit over the
    * click/view touchpoints in its trailing 7-day window, position-based
    * (40% first / 40% last / 20% split over the middles) with
    * largest-remainder rounding — the middles get base = 200000 div
    * (n−2) each and the first `rem` of them one extra, so the per-
    * conversion credit sums to 10⁶ EXACTLY (float attribution leaks
    * credit; ad-spend reconciliation is why apportionment must be
    * integer-exact). Campaign rollup then sums credit by the touch's
    * campaign id parsed from the JSON props. Shape: the touch-to-
    * conversion match is a per-user interval join (bounded by events
    * per user-week), position/count are windows partitioned by
    * conversion — never corpus-wide; the rollup is 8 groups. */
  val q285 = QuerySpec(
    "q285_touch_attribution",
    (s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
      val conv = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("conv_id"), $"user_id", $"ts".as("conv_ts"))
      val touch = ev.filter($"event_type".isin("click", "view"))
        .select($"user_id", $"event_id".as("touch_id"), $"ts".as("touch_ts"),
          get_json_object($"props", "$.k").cast("long").as("k"))
      val matched = conv.join(touch, Seq("user_id"))
        .filter($"touch_ts" < $"conv_ts" &&
          $"touch_ts" >= $"conv_ts" - expr("INTERVAL 7 DAYS"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"conv_id")
      val wo = w.orderBy($"touch_ts", $"touch_id")
      matched
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("pos", row_number().over(wo))
        .withColumn("credit_ppm", expr(
          """CASE WHEN n = 1 THEN 1000000L
            |     WHEN n = 2 THEN 500000L
            |     WHEN pos = 1 OR pos = n THEN 400000L
            |     ELSE 200000L div (n - 2)
            |          + CASE WHEN pos - 2 < 200000L % (n - 2) THEN 1 ELSE 0 END
            |END""".stripMargin))
        .withColumn("campaign", expr("k % 8"))
        .groupBy($"campaign")
        .agg(count(lit(1)).as("n_touches"),
          sum($"credit_ppm").as("credit_ppm_sum"))
        .orderBy($"campaign")
    },
    Some("""WITH conv AS (
           |  SELECT event_id AS conv_id, user_id, ts AS conv_ts
           |  FROM events WHERE event_type = 'purchase'),
           |touch AS (
           |  SELECT user_id, event_id AS touch_id, ts AS touch_ts,
           |    CAST(props->>'$.k' AS BIGINT) AS k
           |  FROM events WHERE event_type IN ('click', 'view')),
           |m AS (
           |  SELECT conv_id, touch_id, k,
           |    count(*) OVER (PARTITION BY conv_id) AS n,
           |    row_number() OVER (PARTITION BY conv_id
           |      ORDER BY touch_ts, touch_id) AS pos
           |  FROM conv JOIN touch USING (user_id)
           |  WHERE touch_ts < conv_ts AND touch_ts >= conv_ts - INTERVAL 7 DAY)
           |SELECT k % 8 AS campaign, count(*) AS n_touches,
           |  CAST(sum(CASE WHEN n = 1 THEN 1000000
           |    WHEN n = 2 THEN 500000
           |    WHEN pos = 1 OR pos = n THEN 400000
           |    ELSE 200000 // (n - 2)
           |         + CASE WHEN pos - 2 < 200000 % (n - 2) THEN 1 ELSE 0 END
           |  END) AS BIGINT) AS credit_ppm_sum
           |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q286 — sequence-pattern detection (the MATCH_RECOGNIZE shape):
    * each user's event history becomes a compact symbol string (first
    * letter of the type — unique here: s/c/v/p/e) ordered by (ts,
    * event_id), and patterns are counted with non-overlapping regex
    * scans: `v[^p]*p` = a view that converts before any other purchase.
    * The per-user collect is the one stateful step — bounded by events-
    * per-user (sessionize first at 100 TB, q44's op, if users are
    * unbounded); the regex runs once per user on a kilobyte string, not
    * per event. Regex stays in the char-class subset where Java
    * (Spark) and RE2 (DuckDB) semantics agree. */
  val q286 = QuerySpec(
    "q286_sequence_pattern",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct($"ts", $"event_id",
              substring($"event_type", 1, 1).as("c")))),
            x => x.getField("c")), "").as("seq"))
        .select($"user_id", $"n_events",
          regexp_count($"seq", lit("p")).as("n_purchases"),
          regexp_count($"seq", lit("v[^p]*p")).as("n_view_conversions"),
          regexp_count($"seq", lit("e")).as("n_errors"))
        .orderBy($"user_id")
    },
    Some("""SELECT user_id, n_events,
           |  CAST(len(regexp_extract_all(seq, 'p')) AS INT) AS n_purchases,
           |  CAST(len(regexp_extract_all(seq, 'v[^p]*p')) AS INT)
           |    AS n_view_conversions,
           |  CAST(len(regexp_extract_all(seq, 'e')) AS INT) AS n_errors
           |FROM (
           |  SELECT user_id, count(*) AS n_events,
           |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           |      AS seq
           |  FROM events GROUP BY user_id)
           |ORDER BY user_id""".stripMargin),
  )

  /** q288 — one-pass table profiler (the deequ/Glue-crawler column
    * profile as a query): orders is MELTED to (col_name, value_str)
    * rows and every per-column statistic — count, nulls, exact
    * distinct, min/max, and the mode with deterministic (count desc,
    * value asc) tie-break — comes out of ONE shuffle keyed on (column,
    * value) plus a column-sized rollup. Adding columns widens the melt,
    * not the pass count. Values are profiled through their STRING
    * rendering; float columns are deliberately excluded (cross-engine
    * double→string rendering differs — the documented reason profilers
    * keep float lanes typed), and timestamps go through an explicit
    * yyyy-MM-dd format so both engines render identically. */
  val q288 = QuerySpec(
    "q288_table_profile",
    (s, d) => {
      import s.implicits._
      val melted = Tables.orders(s, d).select(explode(map(
        lit("o_custkey"), $"o_custkey".cast("string"),
        lit("o_orderstatus"), $"o_orderstatus",
        lit("o_orderpriority"), $"o_orderpriority",
        lit("o_orderdate"), date_format($"o_orderdate", "yyyy-MM-dd"),
      )).as(Seq("col_name", "v")))
      val perValue = melted.groupBy($"col_name", $"v")
        .agg(count(lit(1)).as("cnt"))
      val stats = perValue.groupBy($"col_name")
        .agg(sum($"cnt").as("n_rows"),
          sum(when($"v".isNull, $"cnt").otherwise(0L)).as("n_null"),
          count(when($"v".isNotNull, 1)).as("n_distinct"),
          min($"v").as("min_str"), max($"v").as("max_str"))
      val rn = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"col_name").orderBy($"cnt".desc, $"v"))
      val mode = perValue.filter($"v".isNotNull)
        .withColumn("rn", rn).filter($"rn" === 1)
        .select($"col_name", $"v".as("mode_value"), $"cnt".as("mode_n"))
      stats.join(mode, "col_name")
        .select($"col_name", $"n_rows", $"n_null", $"n_distinct",
          $"min_str", $"max_str", $"mode_value", $"mode_n")
        .orderBy($"col_name")
    },
    Some("""WITH m AS (
           |  SELECT 'o_custkey' AS col_name, CAST(o_custkey AS VARCHAR) AS v
           |    FROM orders
           |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
           |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
           |  UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d')
           |    FROM orders),
           |pv AS (SELECT col_name, v, count(*) AS cnt FROM m GROUP BY 1, 2),
           |st AS (SELECT col_name,
           |    CAST(sum(cnt) AS BIGINT) AS n_rows,
           |    CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT)
           |      AS n_null,
           |    count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_distinct,
           |    min(v) AS min_str, max(v) AS max_str
           |  FROM pv GROUP BY 1),
           |md AS (SELECT col_name, v AS mode_value, CAST(cnt AS BIGINT) AS mode_n
           |  FROM (SELECT *, row_number() OVER (PARTITION BY col_name
           |      ORDER BY cnt DESC, v) AS rn FROM pv WHERE v IS NOT NULL)
           |  WHERE rn = 1)
           |SELECT col_name, n_rows, n_null, n_distinct, min_str, max_str,
           |  mode_value, mode_n
           |FROM st JOIN md USING (col_name) ORDER BY col_name""".stripMargin),
  )

  /** q289 — time-weighted average order value over validity intervals:
    * each customer's order total is "in force" from its date until the
    * customer's next order (lead window); the per-priority rollup
    * weights every total by its validity days — the interval-algebra
    * aggregation behind "average balance over time" finance metrics.
    * Float discipline: price·days multiplies identical doubles by
    * identical exact ints on both engines, the sum goes through the
    * decimal accumulator (Det.dsum), and the final twa is ONE IEEE
    * division of two exact quantities (the davg pattern). Shape: lead
    * is a per-customer window, the rollup is priority-sized; nothing
    * shuffles twice. */
  val q289 = QuerySpec(
    "q289_time_weighted_avg",
    (s, d) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val iv = Tables.orders(s, d)
        .withColumn("next_dt", lead($"o_orderdate", 1).over(w))
        .filter($"next_dt".isNotNull)
        .withColumn("days", datediff($"next_dt", $"o_orderdate").cast("long"))
        .filter($"days" > 0)
      iv.groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_intervals"),
          sum($"days").as("days_sum"),
          dsum($"o_totalprice" * $"days".cast("double"), 2).as("pd_sum"))
        .withColumn("twa", $"pd_sum" / $"days_sum")
        .orderBy($"o_orderpriority")
    },
    Some(s"""WITH iv AS (
            |  SELECT o_orderpriority, o_totalprice,
            |    CAST(date_diff('day', o_orderdate,
            |      lead(o_orderdate, 1) OVER (PARTITION BY o_custkey
            |        ORDER BY o_orderdate, o_orderkey)) AS BIGINT) AS days
            |  FROM orders)
            |SELECT o_orderpriority, count(*) AS n_intervals,
            |  CAST(sum(days) AS BIGINT) AS days_sum,
            |  ${sqlDsum("o_totalprice * CAST(days AS DOUBLE)", 2)} AS pd_sum,
            |  ${sqlDsum("o_totalprice * CAST(days AS DOUBLE)", 2)}
            |    / CAST(sum(days) AS BIGINT) AS twa
            |FROM iv WHERE days IS NOT NULL AND days > 0
            |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
  )

  /** q291 — entity-resolution candidate scoring (Fellegi–Sunter shape):
    * link the customer feed against a deterministically-perturbed second
    * "source" of itself (name case flips, small balance drift, segment
    * loss — keyed on custkey mod, so both engines derive the identical
    * dirty copy), generate candidate pairs by BLOCKING, score field
    * agreements with fixed integer weights, and report the
    * (classification × is-true-pair) confusion counts.
    *
    * Blocking is the scale story: candidates come from an equi-join on
    * (nationkey, name-suffix) — block-bounded, never all-pairs; at
    * 100 TB the same plan holds because block cardinality grows with
    * the data while block SIZE stays set by the key design. Scoring is
    * per-pair scalar math (codegen), the confusion rollup is a 6-row
    * aggregate. Balance agreement uses |a−b| ≤ 0.1 on doubles both
    * engines computed from identical literals — no rounding function
    * (the q245 round-semantics trap) ever runs. */
  val q291 = QuerySpec(
    "q291_er_candidate_scoring",
    (s, d) => {
      import s.implicits._
      // fanOut on the PROBE side: the broadcast block-join inherits its
      // left input's partitioning, and customer arrives as one parquet
      // split — without this every block's pair fan-out and all the
      // scoring codegen lands on ONE task (9M pairs single-threaded at
      // 10× bench scale; the q26/q52 single-split lesson).
      val a = Tables.fanOut(Tables.customer(s, d), col("c_custkey")).select(
        $"c_custkey".as("a_key"), $"c_nationkey".as("nat"),
        expr("right(c_name, 2)").as("blk"),
        $"c_name".as("a_name"), $"c_acctbal".as("a_acct"),
        $"c_mktsegment".as("a_seg"))
      val b = Tables.customer(s, d).select(
        $"c_custkey".as("b_key"), $"c_nationkey".as("nat"),
        expr("right(c_name, 2)").as("blk"),
        when($"c_custkey" % 2 === 0, upper($"c_name"))
          .otherwise($"c_name").as("b_name"),
        ($"c_acctbal" + when($"c_custkey" % 3 === 0, 0.05).otherwise(0.0))
          .as("b_acct"),
        when($"c_custkey" % 10 === 7, lit("UNKNOWN"))
          .otherwise($"c_mktsegment").as("b_seg"))
      val scored = a.join(b, Seq("nat", "blk"))
        .withColumn("score",
          when(lower($"a_name") === lower($"b_name"), 50L).otherwise(0L) +
            when(abs($"a_acct" - $"b_acct") <= 0.1, 30L).otherwise(0L) +
            when($"a_seg" === $"b_seg", 20L).otherwise(0L))
        .withColumn("clazz",
          when($"score" >= 80, "match")
            .when($"score" >= 20, "possible").otherwise("non_match"))
        .withColumn("is_true", $"a_key" === $"b_key")
      scored.groupBy($"clazz", $"is_true")
        .agg(count(lit(1)).as("n_pairs"),
          min($"score").as("min_score"), max($"score").as("max_score"))
        .orderBy($"clazz", $"is_true")
    },
    Some("""WITH a AS (
           |  SELECT c_custkey AS a_key, c_nationkey AS nat,
           |    right(c_name, 2) AS blk, c_name AS a_name,
           |    c_acctbal AS a_acct, c_mktsegment AS a_seg
           |  FROM customer),
           |b AS (
           |  SELECT c_custkey AS b_key, c_nationkey AS nat,
           |    right(c_name, 2) AS blk,
           |    CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) ELSE c_name END
           |      AS b_name,
           |    c_acctbal + (CASE WHEN c_custkey % 3 = 0 THEN 0.05 ELSE 0.0 END)
           |      AS b_acct,
           |    CASE WHEN c_custkey % 10 = 7 THEN 'UNKNOWN' ELSE c_mktsegment END
           |      AS b_seg
           |  FROM customer),
           |sc AS (
           |  SELECT a_key, b_key,
           |    (CASE WHEN lower(a_name) = lower(b_name) THEN 50 ELSE 0 END)
           |    + (CASE WHEN abs(a_acct - b_acct) <= 0.1 THEN 30 ELSE 0 END)
           |    + (CASE WHEN a_seg = b_seg THEN 20 ELSE 0 END) AS score
           |  FROM a JOIN b USING (nat, blk))
           |SELECT CASE WHEN score >= 80 THEN 'match'
           |         WHEN score >= 20 THEN 'possible' ELSE 'non_match' END AS clazz,
           |  a_key = b_key AS is_true, count(*) AS n_pairs,
           |  CAST(min(score) AS BIGINT) AS min_score,
           |  CAST(max(score) AS BIGINT) AS max_score
           |FROM sc GROUP BY 1, 2 ORDER BY clazz, is_true""".stripMargin),
  )

  /** q292 — mean-shift changepoint detection over each event type's
    * hourly count series: at every hour with a FULL 24-hour history on
    * both sides, compare the trailing-24h and leading-24h totals and
    * report the hour of maximum absolute shift per type — the
    * sliding-two-window changepoint detector (CUSUM's windowed cousin,
    * chosen over CUSUM because it has no running recursion — pure
    * window frames, so the 100 TB plan is one shuffle keyed on type and
    * a sort-based window, no driver loop, no UnionLoop).
    *
    * Integer-only: both windows sum raw counts over EXACTLY 24 rows
    * (enforced by the frame-count guard), so the shift is an exact Long
    * difference — no mean, no division, no float. Buckets are observed
    * hours (no gap fill); both engines window the identical series. */
  val q292 = QuerySpec(
    "q292_changepoint_mean_shift",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hc = Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("n"))
      val ord = Window.partitionBy($"event_type").orderBy($"h")
      val trail = ord.rowsBetween(-24, -1)
      val lead_ = ord.rowsBetween(1, 24)
      val w = hc
        .withColumn("trail_sum", sum($"n").over(trail))
        .withColumn("tc", count($"n").over(trail))
        .withColumn("lead_sum", sum($"n").over(lead_))
        .withColumn("lc", count($"n").over(lead_))
        .filter($"tc" === 24 && $"lc" === 24)
        .withColumn("shift", abs($"lead_sum" - $"trail_sum"))
      val top = Window.partitionBy($"event_type")
        .orderBy($"shift".desc, $"h")
      w.withColumn("rn", row_number().over(top)).filter($"rn" === 1)
        .select($"event_type", $"h", $"trail_sum", $"lead_sum", $"shift")
        .orderBy($"event_type")
    },
    Some("""WITH hc AS (
           |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |w AS (
           |  SELECT event_type, h,
           |    CAST(sum(n) OVER tw AS BIGINT) AS trail_sum,
           |    count(n) OVER tw AS tc,
           |    CAST(sum(n) OVER lw AS BIGINT) AS lead_sum,
           |    count(n) OVER lw AS lc
           |  FROM hc
           |  WINDOW tw AS (PARTITION BY event_type ORDER BY h
           |      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING),
           |    lw AS (PARTITION BY event_type ORDER BY h
           |      ROWS BETWEEN 1 FOLLOWING AND 24 FOLLOWING))
           |SELECT event_type, h, trail_sum, lead_sum, shift FROM (
           |  SELECT *, abs(lead_sum - trail_sum) AS shift,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY abs(lead_sum - trail_sum) DESC, h) AS rn
           |  FROM w WHERE tc = 24 AND lc = 24)
           |WHERE rn = 1 ORDER BY event_type""".stripMargin),
  )

  /** FIR weights for q293: floor(α·(1−α)^i · 10⁶) for α = 0.2,
    * i = 0..15 — computed ONCE here in Scala and embedded as literal
    * constants in both engines, so no cross-engine pow() ever runs. */
  private val EmaWeightsPpm: Seq[Long] =
    (0 until 16).map(i => math.floor(0.2 * math.pow(0.8, i) * 1e6).toLong)

  /** q293 — closed-form windowed EMA: the scale-path rewrite of q103's
    * recursive EMA. ema_t = Σᵢ wᵢ·x_{t−i} with the 16-lag truncated FIR
    * kernel [[EmaWeightsPpm]] (residual mass (1−α)^16 ≈ 2.8% — the
    * documented approximation), emitted only where the full kernel fits
    * (row 16+ of each series). Where q103 pays an UnionLoopExec
    * re-plan per iteration, this is ONE sort-window over one shuffle
    * keyed on event_type — 16 lag() reads inside a single codegen'd
    * window stage, cost independent of series length per row, linear
    * overall. Integer-only: counts × ppm-weight products summed in
    * Long. */
  val q293 = QuerySpec(
    "q293_ema_closed_form",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hc = Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("n"))
      val ord = Window.partitionBy($"event_type").orderBy($"h")
      val ema = EmaWeightsPpm.zipWithIndex.map { case (wt, i) =>
        (if (i == 0) $"n" else lag($"n", i).over(ord)) * lit(wt)
      }.reduce(_ + _)
      hc
        .withColumn("rn", row_number().over(ord))
        .withColumn("ema_ppm", ema)
        .filter($"rn" >= 16)
        .select($"event_type", $"h", $"n", $"ema_ppm")
        .orderBy($"event_type", $"h")
    },
    Some {
      val terms = EmaWeightsPpm.zipWithIndex.map { case (wt, i) =>
        if (i == 0) s"n * $wt" else s"lag(n, $i) OVER w * $wt"
      }.mkString(" + ")
      s"""WITH hc AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |e AS (
         |  SELECT event_type, h, n,
         |    CAST($terms AS BIGINT) AS ema_ppm,
         |    row_number() OVER w AS rn
         |  FROM hc
         |  WINDOW w AS (PARTITION BY event_type ORDER BY h))
         |SELECT event_type, h, CAST(n AS BIGINT) AS n, ema_ppm
         |FROM e WHERE rn >= 16 ORDER BY event_type, h""".stripMargin
    },
  )

  /** q295 — l-diversity audit, the companion gate to q280's
    * k-anonymity: a quasi-identifier group can be large (k-anonymous)
    * yet still leak the sensitive attribute if every member shares one
    * value. Per QI group (nationkey × 2000-wide balance band) count the
    * DISTINCT sensitive values (mktsegment) = l, then report the
    * distribution of l with the policy flag l < 3. Same two-aggregate
    * shape as q280: the first groupBy is QI-group-sized with map-side
    * combine, the rollup is |l-domain|-sized. */
  val q295 = QuerySpec(
    "q295_l_diversity",
    (s, d) => {
      import s.implicits._
      val g = Tables.customer(s, d)
        .withColumn("bal_band", floor($"c_acctbal" / 2000.0).cast("long"))
        .groupBy($"c_nationkey", $"bal_band")
        .agg(count_distinct($"c_mktsegment").as("l"),
          count(lit(1)).as("k"))
      g.groupBy($"l")
        .agg(count(lit(1)).as("n_groups"), sum($"k").as("n_records"))
        .withColumn("below_policy", $"l" < 3)
        .orderBy($"l")
    },
    Some("""WITH g AS (
           |  SELECT c_nationkey,
           |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS bal_band,
           |    count(DISTINCT c_mktsegment) AS l, count(*) AS k
           |  FROM customer GROUP BY 1, 2)
           |SELECT l, count(*) AS n_groups, CAST(sum(k) AS BIGINT) AS n_records,
           |  l < 3 AS below_policy
           |FROM g GROUP BY l ORDER BY l""".stripMargin),
  )

  /** q297 — t-closeness audit, the third privacy gate after q280's
    * k-anonymity and q295's l-diversity: a group can be large AND
    * diverse yet still leak if its sensitive-value DISTRIBUTION sits
    * far from the table's. Sensitive attribute = ordered balance band
    * (2500-wide); distance = ordered earth-mover's EMD =
    * (1/(m−1))·Σᵢ|cumᵢ(P−Q)|. Everything integer-exact: with group
    * size k, table size N, per-band counts cntᵢ/gᵢ, the scaled diff
    * cntᵢ·N − gᵢ·k cumulated over the band order gives
    * EMD = Σ|cum| / (k·N·(m−1)), and the t>0.2 breach test is the
    * cross-multiplication 5·Σ|cum| > k·N·(m−1). Scale: group×band
    * matrix built by broadcast-crossing the QI groups with the m-row
    * band domain (both tiny after aggregation — the raw table is
    * scanned once); the cumsum window partitions by group over m rows.
    */
  val q297 = QuerySpec(
    "q297_t_closeness",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val rec = Tables.customer(s, d)
        .select($"c_nationkey".as("nat"), $"c_mktsegment".as("seg"),
          floor($"c_acctbal" / 2500.0).cast("long").as("band"))
      val glob = rec.groupBy($"band").agg(count(lit(1)).as("g"))
      val total = rec.agg(count(lit(1)).as("n_total"))
      val groups = rec.groupBy($"nat", $"seg").agg(count(lit(1)).as("k"))
      val cells = rec.groupBy($"nat", $"seg", $"band").agg(count(lit(1)).as("cnt"))
      val m = glob.agg(count(lit(1)).as("m"))
      val w = Window.partitionBy($"nat", $"seg").orderBy($"band")
      groups
        .crossJoin(broadcast(glob.crossJoin(total).crossJoin(m)))
        .join(cells, Seq("nat", "seg", "band"), "left")
        .withColumn("diff", coalesce($"cnt", lit(0L)) * $"n_total" - $"g" * $"k")
        .withColumn("cum", sum($"diff").over(w))
        .groupBy($"nat", $"seg")
        .agg(max($"k").as("k"), sum(abs($"cum")).as("emd_num"),
          (max($"k") * max($"n_total") * (max($"m") - 1L)).as("emd_den"))
        .withColumn("breach", $"emd_num" * 5L > $"emd_den")
        .orderBy($"nat", $"seg")
    },
    Some("""WITH rec AS (
           |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
           |    CAST(floor(c_acctbal / 2500.0) AS BIGINT) AS band
           |  FROM customer),
           |gdist AS (SELECT band, count(*) AS g FROM rec GROUP BY band),
           |tot AS (SELECT count(*) AS n_total, (SELECT count(*) FROM gdist) AS m FROM rec),
           |grp AS (SELECT nat, seg, count(*) AS k FROM rec GROUP BY nat, seg),
           |cell AS (SELECT nat, seg, band, count(*) AS cnt FROM rec GROUP BY nat, seg, band),
           |mat AS (
           |  SELECT g.nat, g.seg, g.k, gl.band, gl.g, t.n_total, t.m,
           |    coalesce(c.cnt, 0) * t.n_total - gl.g * g.k AS diff
           |  FROM grp g CROSS JOIN gdist gl CROSS JOIN tot t
           |  LEFT JOIN cell c ON c.nat = g.nat AND c.seg = g.seg AND c.band = gl.band),
           |cum AS (
           |  SELECT nat, seg, k, n_total, m,
           |    sum(diff) OVER (PARTITION BY nat, seg ORDER BY band) AS cum
           |  FROM mat)
           |SELECT nat, seg, CAST(max(k) AS BIGINT) AS k,
           |  CAST(sum(abs(cum)) AS BIGINT) AS emd_num,
           |  CAST(max(k) * max(n_total) * (max(m) - 1) AS BIGINT) AS emd_den,
           |  CAST(sum(abs(cum)) AS BIGINT) * 5 > max(k) * max(n_total) * (max(m) - 1) AS breach
           |FROM cum GROUP BY nat, seg ORDER BY nat, seg""".stripMargin),
  )

  /** q298 — exact AUC via the Mann-Whitney rank statistic, computed on
    * GROUPED score counts (never per-row ranks): label = returnflag 'R',
    * score = the percent discount. With per-score tie groups
    * (cum_before, n, npos) the tie-averaged doubled rank is
    * rank2 = 2·cum_before + n + 1, so 2·Σrank_pos = Σ npos_g·rank2 and
    * AUC = (2·Σrank_pos − npos(npos+1)) / (2·npos·nneg) — an exact
    * integer rational, reported with a floor-division ppm. Scale: the
    * per-row table collapses to |score domain| rows in one map-side
    * combinable aggregate; the cumsum window runs over ≤11 rows per
    * linestatus partition. This is the only AUC formulation that
    * survives 100 TB — per-row rank() would global-sort the table. */
  val q298 = QuerySpec(
    "q298_auc_mann_whitney",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sg = Tables.lineitem(s, d)
        .select($"l_linestatus".as("ls"),
          round($"l_discount" * 100).cast("long").as("score"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
        .groupBy($"ls", $"score")
        .agg(count(lit(1)).as("n"), sum($"pos").as("npos"))
      val w = Window.partitionBy($"ls").orderBy($"score")
        .rowsBetween(Window.unboundedPreceding, -1)
      sg.withColumn("cum_before", coalesce(sum($"n").over(w), lit(0L)))
        .withColumn("rank2", lit(2L) * $"cum_before" + $"n" + 1L)
        .groupBy($"ls")
        .agg(sum($"npos").as("np"), sum($"n" - $"npos").as("nn"),
          sum($"npos" * $"rank2").as("r2pos"))
        .select($"ls", $"np", $"nn",
          ($"r2pos" - $"np" * ($"np" + 1L)).as("auc_num"),
          (lit(2L) * $"np" * $"nn").as("auc_den"))
        .withColumn("auc_ppm", expr("(auc_num * 1000000L) div auc_den"))
        .orderBy($"ls")
    },
    Some("""WITH sg AS (
           |  SELECT l_linestatus AS ls,
           |    CAST(round(l_discount * 100) AS BIGINT) AS score,
           |    count(*) AS n,
           |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS npos
           |  FROM lineitem GROUP BY 1, 2),
           |r AS (
           |  SELECT ls, n, npos,
           |    coalesce(sum(n) OVER (PARTITION BY ls ORDER BY score
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM sg),
           |a AS (
           |  SELECT ls, CAST(sum(npos) AS BIGINT) AS np,
           |    CAST(sum(n - npos) AS BIGINT) AS nn,
           |    CAST(sum(npos * (2 * cum_before + n + 1)) AS BIGINT) AS r2pos
           |  FROM r GROUP BY ls)
           |SELECT ls, np, nn,
           |  r2pos - np * (np + 1) AS auc_num,
           |  2 * np * nn AS auc_den,
           |  CAST((r2pos - np * (np + 1)) * 1000000 // (2 * np * nn) AS BIGINT) AS auc_ppm
           |FROM a ORDER BY ls""".stripMargin),
  )

  /** q299 — one-pass precision/recall threshold sweep: the full PR
    * curve from a SINGLE cumulative window over score groups, not one
    * scan per threshold (the naive form reads the table |thresholds|
    * times — the difference between 1× and 100× I/O at 100 TB). Score =
    * 1000-unit extended-price bucket, predicted positive ⟺ score ≥ t for
    * every distinct bucket t descending; TP/FP are descending cumsums,
    * FN = P − TP. Precision/recall reported as exact floor-division
    * ppm of integer counts. */
  val q299 = QuerySpec(
    "q299_pr_threshold_sweep",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val sg = Tables.lineitem(s, d)
        .select((floor($"l_extendedprice" / 1000.0) * 1000).cast("long").as("t"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
        .groupBy($"t")
        .agg(count(lit(1)).as("n"), sum($"pos").as("npos"))
      val wd = Window.orderBy($"t".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Grand-total positives from the SAME window stage (unbounded
      // frame) — not a second scan of the table joined back in.
      val wAll = Window.orderBy($"t".desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      sg.withColumn("tp", sum($"npos").over(wd))
        .withColumn("pp", sum($"n").over(wd))
        .withColumn("p_all", sum($"npos").over(wAll))
        .select($"t", $"tp", ($"pp" - $"tp").as("fp"), ($"p_all" - $"tp").as("fn"),
          expr("(tp * 1000000L) div pp").as("precision_ppm"),
          expr("(tp * 1000000L) div p_all").as("recall_ppm"))
        .orderBy($"t".desc)
    },
    Some("""WITH sg AS (
           |  SELECT CAST(floor(l_extendedprice / 1000.0) * 1000 AS BIGINT) AS t,
           |    count(*) AS n,
           |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS npos
           |  FROM lineitem GROUP BY 1),
           |c AS (
           |  SELECT t,
           |    sum(npos) OVER w AS tp, sum(n) OVER w AS pp,
           |    (SELECT sum(npos) FROM sg) AS p_all
           |  FROM sg
           |  WINDOW w AS (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           |SELECT t, CAST(tp AS BIGINT) AS tp, CAST(pp - tp AS BIGINT) AS fp,
           |  CAST(p_all - tp AS BIGINT) AS fn,
           |  CAST(tp * 1000000 // pp AS BIGINT) AS precision_ppm,
           |  CAST(tp * 1000000 // p_all AS BIGINT) AS recall_ppm
           |FROM c ORDER BY t DESC""".stripMargin),
  )

  /** q300 — lag-k autocorrelation of the hourly event-count series,
    * k = 1..6, per event type — the seasonality probe run before
    * fitting any forecast. Pearson r over (xₜ, xₜ₋ₖ) pairs reported as
    * integer sufficient statistics: num = n·Σxy − Σx·Σy and the two
    * variance terms; the |r| ≥ 0.5 flag is the cross-multiplication
    * 4·num² ≥ denx·deny evaluated in DECIMAL(38,0) so nothing rounds.
    * Scale: the raw stream collapses to hourly counts in one
    * aggregate; the 6 lag() reads share one codegen'd window stage
    * over series-length rows per type — no self-joins, no k scans. */
  val q300 = QuerySpec(
    "q300_acf_lagk",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val hc = Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy($"event_type").orderBy($"h")
      val lagged = hc.select(
        Seq($"event_type", $"x") ++
          (1 to 6).map(k => lag($"x", k).over(w).as(s"x_$k")): _*)
      val per = (1 to 6).map { k =>
        val y = col(s"x_$k")
        lagged.filter(y.isNotNull)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            sum($"x").as("sx"), sum(y).as("sy"), sum($"x" * y).as("sxy"),
            sum($"x" * $"x").as("sxx"), sum(y * y).as("syy"))
          .withColumn("lag_k", lit(k))
      }.reduce(_ union _)
      per
        .select($"event_type", $"lag_k", $"n",
          ($"n" * $"sxy" - $"sx" * $"sy").as("num"),
          ($"n" * $"sxx" - $"sx" * $"sx").as("denx"),
          ($"n" * $"syy" - $"sy" * $"sy").as("deny"))
        .withColumn("strong",
          $"num".cast(DecimalType(38, 0)) * $"num" * 4 >=
            $"denx".cast(DecimalType(38, 0)) * $"deny")
        .orderBy($"event_type", $"lag_k")
    },
    Some {
      val arms = (1 to 6).map { k =>
        s"""SELECT event_type, $k AS lag_k, count(*) AS n,
           |  sum(x) AS sx, sum(x_$k) AS sy, sum(x * x_$k) AS sxy,
           |  sum(x * x) AS sxx, sum(x_$k * x_$k) AS syy
           |FROM lagged WHERE x_$k IS NOT NULL GROUP BY event_type""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH hc AS (
         |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS x
         |  FROM events GROUP BY 1, 2),
         |lagged AS (
         |  SELECT event_type, x,
         |    ${(1 to 6).map(k => s"lag(x, $k) OVER w AS x_$k").mkString(", ")}
         |  FROM hc WINDOW w AS (PARTITION BY event_type ORDER BY h)),
         |per AS ($arms)
         |SELECT event_type, CAST(lag_k AS INT) AS lag_k, n,
         |  CAST(n * sxy - sx * sy AS BIGINT) AS num,
         |  CAST(n * sxx - sx * sx AS BIGINT) AS denx,
         |  CAST(n * syy - sy * sy AS BIGINT) AS deny,
         |  CAST(4 * CAST(n * sxy - sx * sy AS HUGEINT) * (n * sxy - sx * sy) >=
         |    CAST(n * sxx - sx * sx AS HUGEINT) * (n * syy - sy * sy) AS BOOLEAN) AS strong
         |FROM per ORDER BY event_type, lag_k""".stripMargin
    },
  )

  /** q303 — calibration (reliability) bins, closing the ML-eval trio
    * with q298's AUC (discrimination) and q299's PR sweep (operating
    * points): a model can rank well yet systematically over/under-
    * predict. Predicted probability = discount-derived score mapped to
    * [0,1] in ppm (a deterministic stand-in with the exact shape of a
    * model-score column); per decile bin the mean predicted ppm and
    * the empirical positive rate ppm are integer floor-divisions, and
    * the signed calibration gap is their difference. One map-side-
    * combinable aggregate over the scan — the curve costs one pass
    * regardless of table size. */
  val q303 = QuerySpec(
    "q303_calibration_bins",
    (s, d) => {
      import s.implicits._
      val scored = Tables.lineitem(s, d)
        .select((round($"l_discount" * 100) * 100000L).cast("long").as("pred_ppm"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
        .withColumn("bin", expr("pred_ppm * 10L div 1000001L").cast("int"))
      scored.groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"pred_ppm").as("pred_sum"),
          sum($"pos").as("npos"))
        .select($"bin", $"n",
          expr("pred_sum div n").as("mean_pred_ppm"),
          expr("(npos * 1000000L) div n").as("pos_rate_ppm"))
        .withColumn("gap_ppm", $"mean_pred_ppm" - $"pos_rate_ppm")
        .orderBy($"bin")
    },
    Some("""WITH scored AS (
           |  SELECT CAST(round(l_discount * 100) * 100000 AS BIGINT) AS pred_ppm,
           |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
           |  FROM lineitem),
           |b AS (
           |  SELECT CAST(pred_ppm * 10 // 1000001 AS INT) AS bin, count(*) AS n,
           |    CAST(sum(pred_ppm) AS BIGINT) AS pred_sum,
           |    CAST(sum(pos) AS BIGINT) AS npos
           |  FROM scored GROUP BY 1)
           |SELECT bin, n, pred_sum // n AS mean_pred_ppm,
           |  (npos * 1000000) // n AS pos_rate_ppm,
           |  pred_sum // n - (npos * 1000000) // n AS gap_ppm
           |FROM b ORDER BY bin""".stripMargin),
  )

  /** q306 — Theil-Sen robust trend: per event type, the exact lower
    * median of banded pairwise slopes of the hourly-count series —
    * the outlier-resistant alternative to q147's least-squares trend
    * (one corrupted hour moves OLS arbitrarily, moves a slope median
    * not at all). Slopes are quantized to integer milli-units by
    * truncating division (identical `div`/`//` semantics on both
    * engines, negative slopes included); the band |j−i| ≤ 24 bounds
    * the self-join at O(n·24) pairs — full Theil-Sen's O(n²) pair set
    * is the textbook form, the banded estimator is the one that
    * scales (and weights recent structure, the forecasting norm).
    * Median rank (n+1)÷2 over an integer column, same convention as
    * q269. */
  val q306 = QuerySpec(
    "q306_theil_sen_slope",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hc = Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("y"))
        .withColumn("i",
          row_number().over(Window.partitionBy($"event_type").orderBy($"h")))
      val slopes = hc.as("a").join(hc.as("b"),
          $"a.event_type" === $"b.event_type" &&
            $"b.i" > $"a.i" && $"b.i" <= $"a.i" + 24)
        .select($"a.event_type".as("event_type"),
          expr("(b.y - a.y) * 1000L div (b.i - a.i)").as("slope_milli"))
      slopes
        .withColumn("rn", row_number().over(
          Window.partitionBy($"event_type").orderBy($"slope_milli")))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy($"event_type")))
        .filter(expr("rn = (n + 1L) div 2L"))
        .select($"event_type", $"n".as("n_pairs"), $"slope_milli".as("median_slope_milli"))
        .orderBy($"event_type")
    },
    Some("""WITH hc AS (
           |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS y
           |  FROM events GROUP BY 1, 2),
           |idx AS (
           |  SELECT event_type, y,
           |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS i
           |  FROM hc),
           |slopes AS (
           |  SELECT a.event_type,
           |    (b.y - a.y) * 1000 // (b.i - a.i) AS slope_milli
           |  FROM idx a JOIN idx b
           |    ON a.event_type = b.event_type AND b.i > a.i AND b.i <= a.i + 24),
           |r AS (
           |  SELECT event_type, slope_milli,
           |    row_number() OVER (PARTITION BY event_type ORDER BY slope_milli) AS rn,
           |    count(*) OVER (PARTITION BY event_type) AS n
           |  FROM slopes)
           |SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
           |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN slope_milli END) AS BIGINT)
           |    AS median_slope_milli
           |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q308 — seasonal-naive forecast backtest: ŷ(t) = y(t−24h), the
    * baseline every real forecast must beat, scored over the hourly
    * event-count series per type. Errors stay integer: MAE and bias in
    * milli-units via truncating div; the per-row percentage error is
    * floor-divided to ppm BEFORE averaging (each row's ratio is exact,
    * the mean of exact ratios is deterministic — averaging THEN
    * dividing floats is not). One window stage (lag 24) + one rollup;
    * backtest cost is one pass regardless of horizon because the
    * "forecast" is a shift, not a fit. */
  val q308 = QuerySpec(
    "q308_seasonal_naive_backtest",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"event_type").orderBy($"h")
      Tables.events(s, d)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
        .agg(count(lit(1)).as("y"))
        .withColumn("yhat", lag($"y", 24).over(w))
        .filter($"yhat".isNotNull)
        .withColumn("abs_err", abs($"y" - $"yhat"))
        .withColumn("ape_ppm",
          expr("abs(y - yhat) * 1000000L div greatest(y, 1L)"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_hours"),
          expr("sum(abs_err) * 1000L div count(1)").as("mae_milli"),
          expr("sum(y - yhat) * 1000L div count(1)").as("bias_milli"),
          expr("sum(ape_ppm) div count(1)").as("mape_ppm"))
        .orderBy($"event_type")
    },
    Some("""WITH hc AS (
           |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS y
           |  FROM events GROUP BY 1, 2),
           |f AS (
           |  SELECT event_type, y,
           |    lag(y, 24) OVER (PARTITION BY event_type ORDER BY h) AS yhat
           |  FROM hc),
           |e AS (
           |  SELECT event_type, y, yhat, abs(y - yhat) AS abs_err,
           |    abs(y - yhat) * 1000000 // greatest(y, 1) AS ape_ppm
           |  FROM f WHERE yhat IS NOT NULL)
           |SELECT event_type, count(*) AS n_hours,
           |  CAST(sum(abs_err) * 1000 // count(*) AS BIGINT) AS mae_milli,
           |  CAST(sum(y - yhat) * 1000 // count(*) AS BIGINT) AS bias_milli,
           |  CAST(sum(ape_ppm) // count(*) AS BIGINT) AS mape_ppm
           |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q311 — deterministic Poisson bootstrap: resampling-based spread
    * estimation with ZERO RNG state — resample b's multiplicity for a
    * row is read off md5(key:b) against the Poisson(1) CDF thresholds
    * (368/736/920/981/996 per mille), the standard streaming-bootstrap
    * approximation (per-row i.i.d. weights instead of an exact
    * multinomial, exchangeable at corpus scale). 16 resample means of
    * the quantity column in one pass — explode×16 then a grouped
    * integer aggregate; reproducible across engines, reruns, and
    * cluster sizes, which RNG bootstraps are not. The spread of the 16
    * means IS the standard-error readout a data-quality gate consumes.
    */
  val q311 = QuerySpec(
    "q311_hash_bootstrap_ci",
    (s, d) => {
      import s.implicits._
      val b16 = explode(sequence(lit(0), lit(15))).as("b")
      val h = conv(substring(md5(concat_ws(":",
        $"l_orderkey", $"l_linenumber", $"b").cast("binary")), 1, 6), 16, 10)
        .cast("long") % 1000L
      val wgt = when(h < 368L, 0L).when(h < 736L, 1L).when(h < 920L, 2L)
        .when(h < 981L, 3L).when(h < 996L, 4L).otherwise(5L)
      // fanOut: the 16× explode multiplies ROWS, not SPLITS — on a
      // single-file scan every hash lands in one partition and 9.6M
      // md5s serialize onto one core (measured 9 s at sf0.1 → sub-s).
      Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"))
        .select($"l_orderkey", $"l_linenumber",
          round($"l_quantity").cast("long").as("q"), b16)
        .withColumn("w", wgt)
        .groupBy($"b")
        .agg(sum($"w").as("n_eff"), sum($"w" * $"q").as("q_sum"))
        .withColumn("mean_milli", expr("q_sum * 1000L div n_eff"))
        .orderBy($"b")
    },
    Some("""WITH x AS (
           |  SELECT l_orderkey, l_linenumber,
           |    CAST(round(l_quantity) AS BIGINT) AS q, b
           |  FROM lineitem CROSS JOIN (SELECT unnest(range(16)) AS b)),
           |w AS (
           |  SELECT b, q,
           |    CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1 WHEN h < 920 THEN 2
           |         WHEN h < 981 THEN 3 WHEN h < 996 THEN 4 ELSE 5 END AS w
           |  FROM (SELECT *,
           |    CAST('0x' || substr(md5(l_orderkey || ':' || l_linenumber
           |      || ':' || b), 1, 6) AS BIGINT) % 1000 AS h
           |    FROM x))
           |SELECT CAST(b AS INT) AS b, CAST(sum(w) AS BIGINT) AS n_eff,
           |  CAST(sum(w * q) AS BIGINT) AS q_sum,
           |  CAST(sum(w * q) * 1000 // sum(w) AS BIGINT) AS mean_milli
           |FROM w GROUP BY b ORDER BY b""".stripMargin),
  )

  /** q312 — BITEMPORAL as-of resolution: valid time (when a fact was
    * true) × transaction time (when we learned it) — the second
    * dimension q119/q134's SCD2 lacks, and the one that answers "what
    * did the system believe on audit date T about validity date V"
    * (the reproducibility question every regulated pipeline gets).
    * Versions are synthesized deterministically per supplier: three
    * monthly values each recorded with a key-dependent lag, plus a
    * RETROACTIVE correction of the February value recorded in March
    * for suppliers ≡ 0 mod 5. Two probes resolve (V=Feb 15) at
    * T=Mar 1 (correction not yet known → original value) and
    * T=Apr 1 (correction visible → corrected value) — same V, same
    * rows, different knowledge. Resolution is one struct-max argmax
    * per (probe, supplier) over versions passing BOTH temporal
    * predicates (recorded_at ≤ T, valid_from ≤ V; latest valid_from
    * wins, recorded_at breaks version ties) — map-side combinable, no
    * window. */
  val q312 = QuerySpec(
    "q312_bitemporal_asof",
    (s, d) => {
      import s.implicits._
      val supp = Tables.supplier(s, d)
      val versions = supp
        .select($"s_suppkey", $"s_nationkey",
          explode(sequence(lit(0), lit(2))).as("v"))
        .select($"s_suppkey", $"s_nationkey",
          add_months(to_date(lit("2026-01-01")), $"v").as("valid_from"),
          date_add(add_months(to_date(lit("2026-01-01")), $"v"),
            ($"s_suppkey" % 3 + 1).cast("int")).as("recorded_at"),
          ($"s_suppkey" * 10L + $"v").as("value"))
      val corrections = supp.filter($"s_suppkey" % 5 === 0)
        .select($"s_suppkey", $"s_nationkey",
          to_date(lit("2026-02-01")).as("valid_from"),
          to_date(lit("2026-03-10")).as("recorded_at"),
          ($"s_suppkey" * 10L + 999L).as("value"))
      val bitemporal = versions.unionByName(corrections)
      val probes = Seq(("t_mar", "2026-03-01"), ("t_apr", "2026-04-01"))
        .toDF("probe", "t_raw")
        .select($"probe", to_date($"t_raw").as("t_know"),
          to_date(lit("2026-02-15")).as("v_at"))
      bitemporal
        .crossJoin(broadcast(probes))
        .filter($"recorded_at" <= $"t_know" && $"valid_from" <= $"v_at")
        .groupBy($"probe", $"s_suppkey", $"s_nationkey")
        .agg(max(struct($"valid_from", $"recorded_at", $"value")).as("pick"))
        .groupBy($"probe", $"s_nationkey")
        .agg(count(lit(1)).as("n_supp"), sum($"pick.value").as("value_sum"))
        .orderBy($"probe", $"s_nationkey")
    },
    Some("""WITH vers AS (
           |  SELECT s_suppkey, s_nationkey,
           |    (DATE '2026-01-01' + to_months(CAST(v AS INT))) AS valid_from,
           |    (DATE '2026-01-01' + to_months(CAST(v AS INT))
           |      + to_days(CAST(s_suppkey % 3 + 1 AS INT))) AS recorded_at,
           |    s_suppkey * 10 + v AS value
           |  FROM supplier CROSS JOIN (SELECT unnest(range(3)) AS v)
           |  UNION ALL
           |  SELECT s_suppkey, s_nationkey, DATE '2026-02-01', DATE '2026-03-10',
           |    s_suppkey * 10 + 999
           |  FROM supplier WHERE s_suppkey % 5 = 0),
           |probes AS (
           |  SELECT 't_mar' AS probe, DATE '2026-03-01' AS t_know,
           |    DATE '2026-02-15' AS v_at
           |  UNION ALL SELECT 't_apr', DATE '2026-04-01', DATE '2026-02-15'),
           |resolved AS (
           |  SELECT probe, s_suppkey, s_nationkey,
           |    max(struct_pack(valid_from := valid_from,
           |      recorded_at := recorded_at, value := value)) AS pick
           |  FROM vers CROSS JOIN probes
           |  WHERE recorded_at <= t_know AND valid_from <= v_at
           |  GROUP BY probe, s_suppkey, s_nationkey)
           |SELECT probe, s_nationkey, count(*) AS n_supp,
           |  CAST(sum(pick.value) AS BIGINT) AS value_sum
           |FROM resolved GROUP BY probe, s_nationkey
           |ORDER BY probe, s_nationkey""".stripMargin),
  )

  /** q316 — incremental JOIN-view maintenance (the join sibling of
    * q198's incremental aggregate refresh): maintain the materialized
    * segment-revenue view V = σ(orders ⋈ lineitem ⋈ customer) under
    * simultaneous deltas on BOTH fact sides using the delta-join
    * algebra Δ(L⋈O) = ΔL⋈O₀ ∪ L₀⋈ΔO ∪ ΔL⋈ΔO — three key-sized joins
    * instead of a full recompute, the difference between touching the
    * delta and re-reading 100 TB nightly. Deltas are deterministic
    * slices (late lineitems: l_linenumber > 3; late orders: o_orderkey
    * ≡ 0 mod 7 — late ORDERS bring their own lineitems too, the ΔL⋈ΔO
    * term that naive one-sided refreshes drop). The Spark side MUST
    * compute via the incremental path; the oracle recomputes the view
    * directly from the full tables — equality IS the algebra proof. */
  val q316 = QuerySpec(
    "q316_incremental_join_view",
    (s, d) => {
      import s.implicits._
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment")
      val li = Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      val ord = Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
      val ordBase = ord.filter($"o_orderkey" % 7 =!= 0)
      val ordDelta = ord.filter($"o_orderkey" % 7 === 0)
      val liBase = li.filter($"l_linenumber" <= 3)
      val liDelta = li.filter($"l_linenumber" > 3)
      def partial(l: org.apache.spark.sql.DataFrame,
          o: org.apache.spark.sql.DataFrame) =
        l.join(o, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_custkey")
          .agg(dsum($"l_extendedprice", 2).as("rev"),
            count(lit(1)).as("n_items"))
      // Base view partials + the three delta-algebra terms, merged by
      // re-aggregation (sums of partial sums — exact in DECIMAL).
      val merged = partial(liBase, ordBase)
        .unionByName(partial(liDelta, ordBase))
        .unionByName(partial(liBase, ordDelta))
        .unionByName(partial(liDelta, ordDelta))
        .groupBy($"o_custkey")
        .agg(dsum($"rev", 2).as("rev"), sum($"n_items").as("n_items"))
      merged.join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum($"rev", 2).as("revenue"),
          sum($"n_items").as("n_items"))
        .orderBy($"c_mktsegment")
    },
    Some(s"""WITH v AS (
            |  SELECT o_custkey, ${Det.sqlDsum("l_extendedprice", 2)} AS rev,
            |    count(*) AS n_items
            |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |  GROUP BY o_custkey)
            |SELECT c_mktsegment, count(*) AS n_cust,
            |  ${Det.sqlDsum("rev", 2)} AS revenue,
            |  CAST(sum(n_items) AS BIGINT) AS n_items
            |FROM v JOIN customer ON o_custkey = c_custkey
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
  )

  /** q321 — functional-dependency discovery (profiling's constraint
    * miner): a→b holds iff |distinct a| = |distinct (a,b)| — two
    * map-side-combinable distinct aggregates per candidate, no pair
    * materialization. Candidates span true FDs (orderkey→returnflag
    * is NOT one; custkey→priority is not; partkey→suppkey is not —
    * whether each holds is the DATA's answer, which is the point of
    * mining instead of assuming). violations = |distinct (a,b)| −
    * |distinct a| counts the lhs values with >1 rhs. */
  val q321 = QuerySpec(
    "q321_fd_discovery",
    (s, d) => {
      import s.implicits._
      def arm(df: org.apache.spark.sql.DataFrame, fd: String,
          a: String, b: String) =
        df.agg(
          countDistinct(col(a)).as("n_lhs"),
          countDistinct(col(a), col(b)).as("n_pairs"))
          .select(lit(fd).as("fd"), $"n_lhs", $"n_pairs",
            ($"n_pairs" - $"n_lhs").as("violations"),
            ($"n_pairs" === $"n_lhs").as("holds"))
      val li = Tables.lineitem(s, d)
      arm(Tables.nation(s, d), "nation->region", "n_nationkey", "n_regionkey")
        .unionByName(arm(Tables.orders(s, d), "order->cust", "o_orderkey", "o_custkey"))
        .unionByName(arm(li, "orderkey->returnflag", "l_orderkey", "l_returnflag"))
        .unionByName(arm(li, "partkey->suppkey", "l_partkey", "l_suppkey"))
        .unionByName(arm(Tables.customer(s, d), "custkey->segment", "c_custkey", "c_mktsegment"))
        .orderBy($"fd")
    },
    Some("""SELECT * FROM (
           |  SELECT 'nation->region' AS fd,
           |    CAST(count(DISTINCT n_nationkey) AS BIGINT) AS n_lhs,
           |    CAST(count(DISTINCT (n_nationkey, n_regionkey)) AS BIGINT) AS n_pairs,
           |    CAST(count(DISTINCT (n_nationkey, n_regionkey))
           |      - count(DISTINCT n_nationkey) AS BIGINT) AS violations,
           |    count(DISTINCT (n_nationkey, n_regionkey))
           |      = count(DISTINCT n_nationkey) AS holds
           |  FROM nation
           |  UNION ALL SELECT 'order->cust',
           |    CAST(count(DISTINCT o_orderkey) AS BIGINT),
           |    CAST(count(DISTINCT (o_orderkey, o_custkey)) AS BIGINT),
           |    CAST(count(DISTINCT (o_orderkey, o_custkey))
           |      - count(DISTINCT o_orderkey) AS BIGINT),
           |    count(DISTINCT (o_orderkey, o_custkey)) = count(DISTINCT o_orderkey)
           |  FROM orders
           |  UNION ALL SELECT 'orderkey->returnflag',
           |    CAST(count(DISTINCT l_orderkey) AS BIGINT),
           |    CAST(count(DISTINCT (l_orderkey, l_returnflag)) AS BIGINT),
           |    CAST(count(DISTINCT (l_orderkey, l_returnflag))
           |      - count(DISTINCT l_orderkey) AS BIGINT),
           |    count(DISTINCT (l_orderkey, l_returnflag)) = count(DISTINCT l_orderkey)
           |  FROM lineitem
           |  UNION ALL SELECT 'partkey->suppkey',
           |    CAST(count(DISTINCT l_partkey) AS BIGINT),
           |    CAST(count(DISTINCT (l_partkey, l_suppkey)) AS BIGINT),
           |    CAST(count(DISTINCT (l_partkey, l_suppkey))
           |      - count(DISTINCT l_partkey) AS BIGINT),
           |    count(DISTINCT (l_partkey, l_suppkey)) = count(DISTINCT l_partkey)
           |  FROM lineitem
           |  UNION ALL SELECT 'custkey->segment',
           |    CAST(count(DISTINCT c_custkey) AS BIGINT),
           |    CAST(count(DISTINCT (c_custkey, c_mktsegment)) AS BIGINT),
           |    CAST(count(DISTINCT (c_custkey, c_mktsegment))
           |      - count(DISTINCT c_custkey) AS BIGINT),
           |    count(DISTINCT (c_custkey, c_mktsegment)) = count(DISTINCT c_custkey)
           |  FROM customer)
           |ORDER BY fd""".stripMargin),
  )

  /** q314 — watermark-lateness audit: the measurement that DECIDES a
    * streaming job's watermark delay instead of guessing it. The
    * fixture's feed is perfectly ts-ordered (measured: every record
    * on time), so transport disorder is injected deterministically —
    * md5-derived 0–5-minute delivery delays (the q184 discipline:
    * synthesize the pathology, state it in the oracle) — and arrival
    * order is ts + delay. A record's lateness is how far the event-
    * time high-water mark had already advanced past it on arrival:
    * cummax(ts) − ts over arrival order. Bucketed into the candidate
    * watermark delays (0 / ≤1m / ≤5m / ≤15m / ≤1h / more), per event
    * type — the "more" row is exactly the data a 1-hour watermark
    * would drop. Scale: the cummax window partitions by the source
    * key (event_type here), matching how real watermarks advance per
    * source partition; nothing global. */
  val q314 = QuerySpec(
    "q314_watermark_lateness_audit",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val jitter = expr(
        "conv(substring(md5(cast(cast(event_id as string) as binary)), 1, 6), 16, 10) % 300")
        .cast("long") * 1000000L
      val w = Window.partitionBy($"event_type").orderBy($"arrival", $"event_id")
      val late = Tables.events(s, d)
        .select($"event_type", $"event_id", unix_micros($"ts").as("tus"))
        .withColumn("arrival", $"tus" + jitter)
        .withColumn("hwm", max($"tus").over(w))
        .withColumn("late_s", expr("(hwm - tus) div 1000000L"))
        .withColumn("bucket",
          when($"late_s" === 0L, "a_on_time")
            .when($"late_s" <= 60L, "b_1m")
            .when($"late_s" <= 300L, "c_5m")
            .when($"late_s" <= 900L, "d_15m")
            .when($"late_s" <= 3600L, "e_1h")
            .otherwise("f_dropped_at_1h"))
      late.groupBy($"event_type", $"bucket")
        .agg(count(lit(1)).as("n"), max($"late_s").as("max_late_s"))
        .orderBy($"event_type", $"bucket")
    },
    Some("""WITH ar AS (
           |  SELECT event_type, event_id, epoch_us(ts) AS tus,
           |    epoch_us(ts) + (CAST('0x' || substr(md5(event_id::VARCHAR), 1, 6)
           |      AS BIGINT) % 300) * 1000000 AS arrival
           |  FROM events),
           |late AS (
           |  SELECT event_type,
           |    (max(tus) OVER (PARTITION BY event_type ORDER BY arrival, event_id
           |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |     - tus) // 1000000 AS late_s
           |  FROM ar),
           |b AS (
           |  SELECT event_type, late_s,
           |    CASE WHEN late_s = 0 THEN 'a_on_time'
           |         WHEN late_s <= 60 THEN 'b_1m'
           |         WHEN late_s <= 300 THEN 'c_5m'
           |         WHEN late_s <= 900 THEN 'd_15m'
           |         WHEN late_s <= 3600 THEN 'e_1h'
           |         ELSE 'f_dropped_at_1h' END AS bucket
           |  FROM late)
           |SELECT event_type, bucket, count(*) AS n,
           |  CAST(max(late_s) AS BIGINT) AS max_late_s
           |FROM b GROUP BY event_type, bucket
           |ORDER BY event_type, bucket""".stripMargin),
  )

  /** q315 — multiwindow SLO burn-rate alerting (the SRE standard: a
    * short window catches the spike, a long window filters the blip —
    * alert only when BOTH burn): per 5-minute bucket and type='error'
    * share of all events, with the 1-hour rate from a trailing
    * 12-bucket range frame over the SAME bucketed frame (never a
    * second scan). Rates in exact ppm; burn threshold = 1.5× the
    * corpus-wide error share (data-derived, so the audit is
    * self-calibrating). Rolled up per day: buckets, alerts, worst
    * 5-minute burn. */
  val q315 = QuerySpec(
    "q315_slo_burn_alert",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val b = Tables.events(s, d)
        .groupBy(expr("unix_micros(ts) div 300000000L").as("b5"))
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "error", 1L).otherwise(0L)).as("nerr"))
      val w12 = Window.orderBy($"b5").rangeBetween(-11L, 0L)
      val glob = b.agg(sum($"nerr").as("ge"), sum($"n").as("gn"))
      b.withColumn("err_1h", sum($"nerr").over(w12))
        .withColumn("n_1h", sum($"n").over(w12))
        .crossJoin(broadcast(glob))
        .withColumn("rate5_ppm", expr("nerr * 1000000L div n"))
        .withColumn("rate1h_ppm", expr("err_1h * 1000000L div n_1h"))
        .withColumn("thr_ppm", expr("ge * 1500000L div gn"))
        .withColumn("burn", $"rate5_ppm" > $"thr_ppm" && $"rate1h_ppm" > $"thr_ppm")
        .groupBy(expr("b5 div 288L").as("day"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(when($"burn", 1L).otherwise(0L)).as("n_alerts"),
          max($"rate5_ppm").as("worst_5m_ppm"),
          max($"thr_ppm").as("thr_ppm"))
        .orderBy($"day")
    },
    Some("""WITH b AS (
           |  SELECT epoch_us(ts) // 300000000 AS b5, count(*) AS n,
           |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nerr
           |  FROM events GROUP BY 1),
           |g AS (SELECT CAST(sum(nerr) AS BIGINT) AS ge,
           |             CAST(sum(n) AS BIGINT) AS gn FROM b),
           |r AS (
           |  SELECT b5, n, nerr,
           |    CAST(sum(nerr) OVER w AS BIGINT) AS err_1h,
           |    CAST(sum(n) OVER w AS BIGINT) AS n_1h
           |  FROM b
           |  WINDOW w AS (ORDER BY b5 RANGE BETWEEN 11 PRECEDING AND CURRENT ROW)),
           |f AS (
           |  SELECT b5 // 288 AS day,
           |    nerr * 1000000 // n AS rate5_ppm,
           |    err_1h * 1000000 // n_1h AS rate1h_ppm,
           |    ge * 1500000 // gn AS thr_ppm
           |  FROM r CROSS JOIN g)
           |SELECT day, count(*) AS n_buckets,
           |  CAST(sum(CASE WHEN rate5_ppm > thr_ppm AND rate1h_ppm > thr_ppm
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts,
           |  CAST(max(rate5_ppm) AS BIGINT) AS worst_5m_ppm,
           |  CAST(max(thr_ppm) AS BIGINT) AS thr_ppm
           |FROM f GROUP BY day ORDER BY day""".stripMargin),
  )

  /** q319 — Gini-Simpson behavioral diversity: per user, the
    * probability two random events differ in type — the entropy-like
    * diversity measure that stays EXACT (1 − Σpᵢ² is rational;
    * Shannon's Σp·log p is not portably hashable). D_ppm =
    * (n² − Σc²)·1e6 ÷ n² from one per-user×type count frame, then the
    * user population histogrammed by diversity decile — the shape a
    * personalization team reads before segmenting. */
  val q319 = QuerySpec(
    "q319_simpson_diversity",
    (s, d) => {
      import s.implicits._
      val uc = Tables.events(s, d)
        .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
      uc.groupBy($"user_id")
        .agg(sum($"c").as("n"), sum($"c" * $"c").as("c2"))
        .withColumn("d_ppm", expr("(n * n - c2) * 1000000L div (n * n)"))
        .withColumn("decile", expr("least(d_ppm div 100000L, 9L)"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_users"), min($"d_ppm").as("min_ppm"),
          max($"d_ppm").as("max_ppm"))
        .orderBy($"decile")
    },
    Some("""WITH uc AS (
           |  SELECT user_id, event_type, count(*) AS c
           |  FROM events GROUP BY 1, 2),
           |u AS (
           |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
           |    CAST(sum(c * c) AS BIGINT) AS c2
           |  FROM uc GROUP BY 1),
           |dv AS (
           |  SELECT (n * n - c2) * 1000000 // (n * n) AS d_ppm FROM u)
           |SELECT least(d_ppm // 100000, 9) AS decile, count(*) AS n_users,
           |  CAST(min(d_ppm) AS BIGINT) AS min_ppm,
           |  CAST(max(d_ppm) AS BIGINT) AS max_ppm
           |FROM dv GROUP BY 1 ORDER BY 1""".stripMargin),
  )

  /** q323 — PORTABLE HyperLogLog built from first principles (Flajolet
    * et al. 2007) on md5 hashes, every intermediate an exact integer —
    * unlike q118/q227 (Spark's DataSketches binaries, opaque to other
    * engines), THIS sketch is recomputable bit-for-bit by any engine
    * with md5: bucket = first hex nibble (m=16), rho = 41 −
    * bitlength(40-bit suffix) (zero suffix → 41), registers = max(rho)
    * per bucket, and the harmonic mean cleared of floats by scaling:
    * Z = Σ 2^(41−Mⱼ) ≤ 2^44, estimate in exact MILLI units =
    * ⌊1000·α₁₆·m²·2^41 ÷ Z_scaled⌋ with 1000·α₁₆·m² = 673·256
    * precomputed exact. m=16 trades rsd
    * (~26%) for fitting every term in BIGINT — the POINT is the
    * portable-register mechanics (register checksum + zero-register
    * count emitted beside the estimate, the small-range-correction
    * inputs). Scale: registers are max-aggregates — map-side
    * combinable, mergeable across partitions/days like any HLL. */
  val q323 = QuerySpec(
    "q323_portable_hll",
    (s, d) => {
      import s.implicits._
      val hx = md5($"l_partkey".cast("string").cast("binary"))
      val regs = Tables.lineitem(s, d)
        .select($"l_returnflag".as("g"), hx.as("hx"))
        .select($"g",
          expr("conv(substring(hx, 1, 1), 16, 10)").cast("long").as("bucket"),
          expr("conv(substring(hx, 2, 10), 16, 10)").cast("long").as("w"))
        .withColumn("rho",
          when($"w" === 0L, 41L).otherwise(lit(41L) - length(bin($"w"))))
        .groupBy($"g", $"bucket").agg(max($"rho").as("m"))
      regs.groupBy($"g")
        .agg(count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(1L, cast(41 - m as int))")).as("z_partial"),
          sum($"bucket" * $"m").as("reg_checksum"))
        .select($"g",
          (lit(16L) - $"n_filled").as("n_zero_regs"),
          // empty buckets contribute 2^41 each to the harmonic sum
          ($"z_partial" + (lit(16L) - $"n_filled") * expr("shiftleft(1L, 41)"))
            .as("z_scaled"),
          $"reg_checksum")
        .withColumn("est_milli",
          expr(s"${673L * 256L} * shiftleft(1L, 41) div z_scaled"))
        .orderBy($"g")
    },
    Some("""WITH h AS (
           |  SELECT l_returnflag AS g, md5(l_partkey::VARCHAR) AS hx
           |  FROM lineitem),
           |b AS (
           |  SELECT g,
           |    CAST('0x' || substr(hx, 1, 1) AS BIGINT) AS bucket,
           |    CAST('0x' || substr(hx, 2, 10) AS BIGINT) AS w
           |  FROM h),
           |r AS (
           |  SELECT g, bucket,
           |    max(CASE WHEN w = 0 THEN 41 ELSE 41 - len(bin(w)) END) AS m
           |  FROM b GROUP BY g, bucket),
           |z AS (
           |  SELECT g, count(*) AS n_filled,
           |    CAST(sum(1::BIGINT << (41 - m)) AS BIGINT) AS z_partial,
           |    CAST(sum(bucket * m) AS BIGINT) AS reg_checksum
           |  FROM r GROUP BY g)
           |SELECT g, 16 - n_filled AS n_zero_regs,
           |  z_partial + (16 - n_filled) * (1::BIGINT << 41) AS z_scaled,
           |  reg_checksum,
           |  172288 * (1::BIGINT << 41)
           |    // (z_partial + (16 - n_filled) * (1::BIGINT << 41)) AS est_milli
           |FROM z ORDER BY g""".stripMargin),
  )

  /** q325 — erasure-propagation audit (right-to-be-forgotten): given a
    * deletion list (customers ≡ 0 mod 97), measure the cascade a
    * compliant erasure must reach — their orders, those orders'
    * lineitems — and prove the post-erasure referential closure (zero
    * surviving orphans) in the same pass. Each stage is a key-sized
    * semi/anti join off the previous stage's key set; nothing rescans
    * what the cascade didn't touch. The survivor-side key checksum
    * makes silent over-deletion (the opposite compliance failure)
    * equally visible. */
  val q325 = QuerySpec(
    "q325_erasure_propagation",
    (s, d) => {
      import s.implicits._
      val del = Tables.customer(s, d).filter($"c_custkey" % 97 === 0)
        .select($"c_custkey")
      val ords = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val delOrders = ords.join(del, $"o_custkey" === $"c_custkey", "left_semi")
        .select($"o_orderkey")
      def stage(tag: String, total: org.apache.spark.sql.DataFrame,
          erased: org.apache.spark.sql.DataFrame, key: String) = {
        val surv = total.join(erased, Seq(key), "left_anti")
        total.agg(count(lit(1)).as("n_total")).crossJoin(
          erased.agg(count(lit(1)).as("n_erased"))).crossJoin(
          surv.agg(sum(col(key)).as("survivor_checksum")))
          .select(lit(tag).as("stage"), $"n_total", $"n_erased",
            $"survivor_checksum")
      }
      stage("1_customer", Tables.customer(s, d).select($"c_custkey"),
          del.select($"c_custkey"), "c_custkey")
        .unionByName(stage("2_orders", ords.select($"o_orderkey"),
          delOrders, "o_orderkey"))
        .unionByName(stage("3_lineitem",
          li.select($"l_orderkey", $"l_linenumber")
            .select(($"l_orderkey" * 10L + $"l_linenumber").as("lk")),
          li.join(delOrders, $"l_orderkey" === $"o_orderkey", "left_semi")
            .select(($"l_orderkey" * 10L + $"l_linenumber").as("lk")),
          "lk"))
        .orderBy($"stage")
    },
    Some("""WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
           |delo AS (SELECT o_orderkey FROM orders
           |  WHERE o_custkey IN (SELECT c_custkey FROM del))
           |SELECT '1_customer' AS stage,
           |  (SELECT count(*) FROM customer) AS n_total,
           |  (SELECT count(*) FROM del) AS n_erased,
           |  (SELECT CAST(sum(c_custkey) AS BIGINT) FROM customer
           |    WHERE c_custkey NOT IN (SELECT c_custkey FROM del)) AS survivor_checksum
           |UNION ALL SELECT '2_orders',
           |  (SELECT count(*) FROM orders),
           |  (SELECT count(*) FROM delo),
           |  (SELECT CAST(sum(o_orderkey) AS BIGINT) FROM orders
           |    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delo))
           |UNION ALL SELECT '3_lineitem',
           |  (SELECT count(*) FROM lineitem),
           |  (SELECT count(*) FROM lineitem
           |    WHERE l_orderkey IN (SELECT o_orderkey FROM delo)),
           |  (SELECT CAST(sum(l_orderkey * 10 + l_linenumber) AS BIGINT) FROM lineitem
           |    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo))
           |ORDER BY stage""".stripMargin),
  )

  /** q331 — chi-square test of independence over the returnflag ×
    * linestatus contingency table (the inferential companion to
    * q157's descriptive crosstab): is the stratification key actually
    * independent of the outcome? Per cell the statistic is
    * (o·N − r·c)²·1e6 / (N·r·c) — the classic (o−e)²/e with
    * denominators cleared — evaluated in DECIMAL(38,0) (the square
    * overflows BIGINT) and floored to ppm; the TEST STATISTIC is
    * defined as the sum of the floored cell terms, identical on both
    * engines by construction. Verdict pinned against the dof=2,
    * α=0.05 critical value 5.991 (ppm-scaled). One scan → cell
    * counts; margins re-aggregated from the cell frame. */
  val q331 = QuerySpec(
    "q331_chi2_independence",
    (s, d) => {
      import s.implicits._
      val cells = Tables.lineitem(s, d)
        .groupBy($"l_returnflag".as("rf"), $"l_linestatus".as("ls"))
        .agg(count(lit(1)).as("o"))
      val rows = cells.groupBy($"rf").agg(sum($"o").as("r"))
      val colsm = cells.groupBy($"ls").agg(sum($"o").as("c"))
      val tot = cells.agg(sum($"o").as("nn"))
      val contrib = cells.join(broadcast(rows), "rf").join(broadcast(colsm), "ls")
        .crossJoin(broadcast(tot))
        // The square overflows BIGINT, and pow() would detour through
        // DOUBLE (inexact past 2^53) — square by DECIMAL multiplication.
        .withColumn("x",
          expr("CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c"))
        .withColumn("chi_ppm", expr(
          "CAST((x * x * 1000000) div (CAST(nn AS DECIMAL(38,0)) * r * c) AS BIGINT)"))
      contrib
        .agg(sum($"chi_ppm").as("chi2_ppm"), count(lit(1)).as("n_cells"),
          max($"nn").as("n"))
        .select(lit(2).as("dof"), $"n", $"n_cells", $"chi2_ppm",
          ($"chi2_ppm" > 5991000L).as("dependent_at_05"))
    },
    Some("""WITH cells AS (
           |  SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
           |  FROM lineitem GROUP BY 1, 2),
           |r AS (SELECT rf, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY rf),
           |c AS (SELECT ls, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY ls),
           |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
           |k AS (
           |  SELECT CAST(
           |    ((CAST(o AS HUGEINT) * nn - CAST(r.r AS HUGEINT) * c.c)
           |     * (CAST(o AS HUGEINT) * nn - CAST(r.r AS HUGEINT) * c.c)
           |     * 1000000) // (CAST(nn AS HUGEINT) * r.r * c.c) AS BIGINT)
           |    AS chi_ppm, nn
           |  FROM cells JOIN r USING (rf) JOIN c USING (ls) CROSS JOIN t)
           |SELECT 2 AS dof, max(nn) AS n, count(*) AS n_cells,
           |  CAST(sum(chi_ppm) AS BIGINT) AS chi2_ppm,
           |  CAST(sum(chi_ppm) AS BIGINT) > 5991000 AS dependent_at_05
           |FROM k""".stripMargin),
  )

  /** q332 — mergeable-sketch SET ALGEBRA on q323's portable HLL
    * registers: union = register-wise max (exact HLL property),
    * intersection = inclusion-exclusion est(A)+est(B)−est(A∪B) — the
    * canonical way two independently-built sketches answer overlap
    * questions WITHOUT revisiting raw data (cross-day audience
    * overlap, cross-source contamination). The exact distinct counts
    * are computed beside the estimates in the same pass, so the
    * output IS the sketch-error readout. All-integer mechanics (m=16,
    * Z = Σ2^(41−M)); estimates in exact milli units (q323's scaling);
    * the inclusion-exclusion estimate is signed. */
  val q332 = QuerySpec(
    "q332_hll_set_algebra",
    (s, d) => {
      import s.implicits._
      val base = Tables.lineitem(s, d)
        .filter(round($"l_quantity").isin(1, 2))
        .select(concat(lit("q"), round($"l_quantity").cast("int")).as("g"),
          $"l_partkey",
          md5($"l_partkey".cast("string").cast("binary")).as("hx"))
        .select($"g", $"l_partkey",
          expr("conv(substring(hx, 1, 1), 16, 10)").cast("long").as("bucket"),
          expr("conv(substring(hx, 2, 10), 16, 10)").cast("long").as("w"))
        .withColumn("rho",
          when($"w" === 0L, 41L).otherwise(lit(41L) - length(bin($"w"))))
      val regs = base.groupBy($"g", $"bucket").agg(max($"rho").as("m"))
      val regsU = regs.groupBy($"bucket").agg(max($"m").as("m"))
        .withColumn("g", lit("U"))
      def est(r: org.apache.spark.sql.DataFrame) = r.groupBy($"g")
        .agg(count(lit(1)).as("n_filled"),
          sum(expr("shiftleft(1L, cast(41 - m as int))")).as("zp"))
        .select($"g", expr(
          s"${673L * 256L} * shiftleft(1L, 41) div (zp + (16 - n_filled) * shiftleft(1L, 41))")
          .as("est_milli"))
      val ests = est(regs).unionByName(est(regsU))
        .groupBy().pivot("g", Seq("q1", "q2", "U")).agg(first($"est_milli"))
      val exact = base.groupBy().agg(
        countDistinct(when($"g" === "q1", $"l_partkey")).as("exact_a"),
        countDistinct(when($"g" === "q2", $"l_partkey")).as("exact_r"),
        countDistinct($"l_partkey").as("exact_u"))
      ests.crossJoin(exact)
        .select($"q1".as("est_a_milli"), $"q2".as("est_r_milli"),
          $"U".as("est_u_milli"),
          ($"q1" + $"q2" - $"U").as("est_intersect_milli"),
          $"exact_a", $"exact_r", $"exact_u",
          ($"exact_a" + $"exact_r" - $"exact_u").as("exact_intersect"))
    },
    Some("""WITH base AS (
           |  SELECT 'q' || CAST(round(l_quantity) AS INT) AS g, l_partkey,
           |    CAST('0x' || substr(md5(l_partkey::VARCHAR), 1, 1) AS BIGINT) AS bucket,
           |    CAST('0x' || substr(md5(l_partkey::VARCHAR), 2, 10) AS BIGINT) AS w
           |  FROM lineitem WHERE round(l_quantity) IN (1, 2)),
           |rho AS (SELECT g, l_partkey, bucket,
           |  CASE WHEN w = 0 THEN 41 ELSE 41 - len(bin(w)) END AS rho FROM base),
           |regs AS (SELECT g, bucket, max(rho) AS m FROM rho GROUP BY g, bucket),
           |regsu AS (SELECT 'U' AS g, bucket, max(m) AS m FROM regs GROUP BY bucket),
           |allr AS (SELECT * FROM regs UNION ALL SELECT * FROM regsu),
           |z AS (
           |  SELECT g, count(*) AS n_filled,
           |    CAST(sum(1::BIGINT << (41 - m)) AS BIGINT) AS zp
           |  FROM allr GROUP BY g),
           |e AS (
           |  SELECT g, 172288 * (1::BIGINT << 41)
           |    // (zp + (16 - n_filled) * (1::BIGINT << 41)) AS est
           |  FROM z),
           |ex AS (
           |  SELECT count(DISTINCT CASE WHEN g = 'q1' THEN l_partkey END) AS exact_a,
           |    count(DISTINCT CASE WHEN g = 'q2' THEN l_partkey END) AS exact_r,
           |    count(DISTINCT l_partkey) AS exact_u
           |  FROM base)
           |SELECT
           |  (SELECT est FROM e WHERE g = 'q1') AS est_a_milli,
           |  (SELECT est FROM e WHERE g = 'q2') AS est_r_milli,
           |  (SELECT est FROM e WHERE g = 'U') AS est_u_milli,
           |  (SELECT est FROM e WHERE g = 'q1') + (SELECT est FROM e WHERE g = 'q2')
           |    - (SELECT est FROM e WHERE g = 'U') AS est_intersect_milli,
           |  CAST(exact_a AS BIGINT) AS exact_a, CAST(exact_r AS BIGINT) AS exact_r,
           |  CAST(exact_u AS BIGINT) AS exact_u,
           |  CAST(exact_a + exact_r - exact_u AS BIGINT) AS exact_intersect
           |FROM ex""".stripMargin),
  )

  /** q333 — Brier score with Murphy decomposition (the proper-scoring
    * companion to q303's calibration bins): total = reliability −
    * resolution + uncertainty, each term computed on the SAME decile
    * frame with every mean quantized by floor-division (ppm / e12
    * scales) — the decomposition identity then holds up to a
    * deterministic quantization residual, which is EMITTED rather than
    * hidden: both engines must agree on the residual too. One scan →
    * bin frame; everything after is |bins|-sized. */
  val q333 = QuerySpec(
    "q333_brier_decomposition",
    (s, d) => {
      import s.implicits._
      val scored = Tables.lineitem(s, d)
        .select((round($"l_discount" * 100) * 100000L).cast("long").as("pred_ppm"),
          when($"l_returnflag" === "R", 1L).otherwise(0L).as("pos"))
      val bins = scored
        .withColumn("bin", expr("pred_ppm * 10L div 1000001L"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"pred_ppm").as("psum"),
          sum($"pos").as("npos"),
          sum(($"pred_ppm" - $"pos" * 1000000L) *
            ($"pred_ppm" - $"pos" * 1000000L)).as("sq_sum"))
        .withColumn("pbar", expr("psum div n"))
        .withColumn("obar", expr("(npos * 1000000L) div n"))
      bins
        .crossJoin(broadcast(bins.agg(sum($"n").as("nn"), sum($"npos").as("np"))))
        .withColumn("og", expr("np * 1000000L div nn"))
        .agg(
          expr("sum(sq_sum) div max(nn)").as("brier_e12"),
          expr("sum(n * (pbar - obar) * (pbar - obar)) div max(nn)")
            .as("reliability_e12"),
          expr("sum(n * (obar - og) * (obar - og)) div max(nn)")
            .as("resolution_e12"),
          expr("max(og) * (1000000L - max(og))").as("uncertainty_e12"))
        .withColumn("quantization_residual_e12",
          $"brier_e12" - ($"reliability_e12" - $"resolution_e12" + $"uncertainty_e12"))
    },
    Some("""WITH scored AS (
           |  SELECT CAST(round(l_discount * 100) * 100000 AS BIGINT) AS pred_ppm,
           |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos
           |  FROM lineitem),
           |bins AS (
           |  SELECT pred_ppm * 10 // 1000001 AS bin, count(*) AS n,
           |    CAST(sum(pred_ppm) AS BIGINT) AS psum,
           |    CAST(sum(pos) AS BIGINT) AS npos,
           |    CAST(sum((pred_ppm - pos * 1000000) * (pred_ppm - pos * 1000000))
           |      AS BIGINT) AS sq_sum
           |  FROM scored GROUP BY 1),
           |b2 AS (SELECT bin, n, npos, sq_sum, psum // n AS pbar,
           |         (npos * 1000000) // n AS obar FROM bins),
           |g AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
           |        CAST(sum(npos) AS BIGINT) AS np FROM b2),
           |b3 AS (SELECT b2.*, nn, np, np * 1000000 // nn AS og
           |       FROM b2 CROSS JOIN g),
           |agg AS (
           |  SELECT
           |    CAST(sum(sq_sum) AS BIGINT) // max(nn) AS brier_e12,
           |    CAST(sum(n * (pbar - obar) * (pbar - obar)) AS BIGINT) // max(nn)
           |      AS reliability_e12,
           |    CAST(sum(n * (obar - og) * (obar - og)) AS BIGINT) // max(nn)
           |      AS resolution_e12,
           |    max(og) * (1000000 - max(og)) AS uncertainty_e12
           |  FROM b3)
           |SELECT brier_e12, reliability_e12, resolution_e12, uncertainty_e12,
           |  brier_e12 - (reliability_e12 - resolution_e12 + uncertainty_e12)
           |    AS quantization_residual_e12
           |FROM agg""".stripMargin),
  )

  /** q334 — behavioral path analysis (the Sankey feed): the top
    * 3-step event-type paths per user ordered by time, with
    * conversion annotation (does the path end in a purchase). Paths
    * are trigrams from two lag() reads in one window stage — per-user
    * sequences never materialize as arrays, no collect_list state
    * (the q244 lesson); the rollup is |type³|-bounded. Top 15 by
    * frequency with full deterministic tie-break. */
  val q334 = QuerySpec(
    "q334_event_path_trigrams",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("t1", lag($"event_type", 2).over(w))
        .withColumn("t2", lag($"event_type", 1).over(w))
        .filter($"t1".isNotNull)
        .select(concat_ws(">", $"t1", $"t2", $"event_type").as("path"),
          ($"event_type" === "purchase").as("converts"))
        .groupBy($"path", $"converts")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"path", $"converts")
        .limit(15)
    },
    Some("""WITH seq AS (
           |  SELECT user_id, event_type,
           |    lag(event_type, 2) OVER w AS t1,
           |    lag(event_type, 1) OVER w AS t2
           |  FROM events
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |p AS (
           |  SELECT t1 || '>' || t2 || '>' || event_type AS path,
           |    event_type = 'purchase' AS converts
           |  FROM seq WHERE t1 IS NOT NULL)
           |SELECT path, converts, count(*) AS n
           |FROM p GROUP BY path, converts
           |ORDER BY n DESC, path, converts LIMIT 15""".stripMargin),
  )

  /** q335 — sliding-window distinct counts WITHOUT window rescans:
    * the capstone of the portable-HLL family (q323/q332). Hourly
    * register partials (bucket-wise max of rho per hour) merge into
    * each trailing-6-hour window by a window-function MAX per bucket
    * — REGISTER MERGEABILITY is exactly what makes a sketch sliding-
    * window-capable where exact distinct needs the raw window re-read.
    * The exact trailing distinct runs beside it (range self-join at
    * fixture scale) as the error readout. Scale: hourly partials are
    * 16 rows/hour forever; the window pass never touches raw events. */
  val q335 = QuerySpec(
    "q335_sliding_window_hll",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val hx = md5($"user_id".cast("string").cast("binary"))
      // fanOut: sf0.1 events fit one parquet split, which would run the
      // per-row md5/conv register math on a single task (the bench read
      // cpu/wall ≈ 1.6 on 32 cores before this).
      val hourly = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .select(date_trunc("hour", $"ts").as("h"), hx.as("hx"))
        .select($"h",
          expr("conv(substring(hx, 1, 1), 16, 10)").cast("long").as("bucket"),
          expr("conv(substring(hx, 2, 10), 16, 10)").cast("long").as("w"))
        .withColumn("rho",
          when($"w" === 0L, 41L).otherwise(lit(41L) - length(bin($"w"))))
        .groupBy($"h", $"bucket").agg(max($"rho").as("m"))
      // Densify to the full hour×bucket grid BEFORE the sliding merge:
      // a bucket with no partial THIS hour must still inherit its value
      // from earlier window hours (a sparse-bucket undercount otherwise);
      // m=0 marks truly-empty, and 2^(41−0) is exactly the empty-bucket
      // harmonic term, so one shiftleft covers both cases.
      val grid = Tables.events(s, d)
        .select(date_trunc("hour", $"ts").as("h")).distinct()
        .select($"h", explode(sequence(lit(0L), lit(15L))).as("bucket"))
      val dense = grid.join(hourly, Seq("h", "bucket"), "left")
        .withColumn("m", coalesce($"m", lit(0L)))
      val wSlide = Window.partitionBy($"bucket").orderBy($"hu")
        .rangeBetween(-5L * 3600L, 0L)
      val merged = dense
        .withColumn("hu", expr("unix_micros(h) div 1000000L"))
        .withColumn("m6", max($"m").over(wSlide))
      val est = merged.groupBy($"h")
        .agg(sum(expr("shiftleft(1L, cast(41 - m6 as int))")).as("zp"))
        .select($"h",
          expr(s"${673L * 256L} * shiftleft(1L, 41) div zp").as("est_milli"))
      // Exact side: hour-truncated `eh BETWEEN h-5h AND h` is the same
      // as h = eh + k hours, k in 0..5 — so the hours x events
      // range NLJ rewrites to a 6x explode + equi-join shape (phantom
      // hours past the corpus max fall out of the final inner join).
      val exact = Tables.fanOut(Tables.events(s, d), col("user_id"))
          .select(date_trunc("hour", $"ts").as("eh"), $"user_id")
          .withColumn("h", explode(expr(
            "sequence(eh, eh + INTERVAL 5 HOURS, INTERVAL 1 HOUR)")))
        .groupBy($"h").agg(countDistinct($"user_id").as("exact_distinct"))
      est.join(exact, Seq("h"))
        .orderBy($"h")
        .limit(48)
    },
    Some("""WITH hourly AS (
           |  SELECT date_trunc('hour', ts) AS h,
           |    CAST('0x' || substr(md5(user_id::VARCHAR), 1, 1) AS BIGINT) AS bucket,
           |    CAST('0x' || substr(md5(user_id::VARCHAR), 2, 10) AS BIGINT) AS w
           |  FROM events),
           |regs AS (
           |  SELECT h, bucket,
           |    max(CASE WHEN w = 0 THEN 41 ELSE 41 - len(bin(w)) END) AS m
           |  FROM hourly GROUP BY h, bucket),
           |grid AS (
           |  SELECT h, b.bucket FROM (SELECT DISTINCT h FROM regs)
           |  CROSS JOIN (SELECT unnest(range(16)) AS bucket) b),
           |dense AS (
           |  SELECT grid.h, grid.bucket, coalesce(regs.m, 0) AS m
           |  FROM grid LEFT JOIN regs
           |    ON regs.h = grid.h AND regs.bucket = grid.bucket),
           |merged AS (
           |  SELECT h, bucket,
           |    max(m) OVER (PARTITION BY bucket ORDER BY h
           |      RANGE BETWEEN INTERVAL 5 HOURS PRECEDING AND CURRENT ROW) AS m6
           |  FROM dense),
           |est AS (
           |  SELECT h, CAST(sum(1::BIGINT << (41 - m6)) AS BIGINT) AS zp
           |  FROM merged GROUP BY h),
           |e AS (
           |  SELECT h, 172288 * (1::BIGINT << 41) // zp AS est_milli
           |  FROM est),
           |hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
           |ex AS (
           |  SELECT hrs.h, count(DISTINCT e2.user_id) AS exact_distinct
           |  FROM hrs JOIN (SELECT date_trunc('hour', ts) AS eh, user_id
           |                 FROM events) e2
           |    ON e2.eh BETWEEN hrs.h - INTERVAL 5 HOUR AND hrs.h
           |  GROUP BY hrs.h)
           |SELECT e.h, est_milli, CAST(exact_distinct AS BIGINT) AS exact_distinct
           |FROM e JOIN ex ON e.h = ex.h
           |ORDER BY e.h LIMIT 48""".stripMargin),
  )

  /** q336 — schema-on-read TYPE INFERENCE audit (the crawler's first
    * decision, run relationally): columns arrive as strings; per
    * column, what fraction parses as integral / double / date, and
    * what type should the catalog declare? Integral-ness is a REGEX
    * (^-?[0-9]+$) rather than a cast — DuckDB's try_cast rounds
    * '12.5' to 13 where Spark nulls it, an engine divergence recorded
    * in q128; the regex pins one portable semantic. Suggestion ladder:
    * ≥999000 ppm integral → BIGINT, else double-parsable → DOUBLE,
    * else date-parsable → DATE, else STRING. One scan of the
    * string-rendered projection, melted to |columns| rows. */
  val q336 = QuerySpec(
    "q336_type_inference_audit",
    (s, d) => {
      import s.implicits._
      // fanOut: rendering + regex + try_casts are CPU-bound per row and
      // the melt multiplies rows, not splits (q311's lesson).
      val rendered = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey")).select(
        $"l_partkey".cast("string").as("c_key"),
        format_number($"l_extendedprice", 2).as("c_price"),
        date_format($"l_shipdate", "yyyy-MM-dd").as("c_date"),
        $"l_returnflag".as("c_flag"))
      val melted = rendered.select(expr(
        """stack(4, 'c_key', c_key, 'c_price', replace(c_price, ',', ''),
          |'c_date', c_date, 'c_flag', c_flag) AS (col, v)""".stripMargin))
      melted.groupBy($"col")
        .agg(count(lit(1)).as("n"),
          sum(when($"v".rlike("^-?[0-9]+$"), 1L).otherwise(0L)).as("int_ok"),
          sum(when(expr("try_cast(v AS DOUBLE)").isNotNull, 1L).otherwise(0L))
            .as("double_ok"),
          // Regex-gated: Spark's cast accepts bare integers as year
          // dates ('1999' -> 1999-01-01) where DuckDB nulls them; the
          // ISO shape + cast validation is the portable semantic.
          sum(when($"v".rlike("^\\d{4}-\\d{2}-\\d{2}$") &&
            expr("try_cast(v AS DATE)").isNotNull, 1L).otherwise(0L))
            .as("date_ok"))
        .withColumn("suggested",
          when(expr("int_ok * 1000000L div n") >= 999000L, "BIGINT")
            .when(expr("double_ok * 1000000L div n") >= 999000L, "DOUBLE")
            .when(expr("date_ok * 1000000L div n") >= 999000L, "DATE")
            .otherwise("STRING"))
        .orderBy($"col")
    },
    Some("""WITH rendered AS (
           |  SELECT CAST(l_partkey AS VARCHAR) AS c_key,
           |    printf('%.2f', l_extendedprice) AS c_price,
           |    strftime(l_shipdate, '%Y-%m-%d') AS c_date,
           |    l_returnflag AS c_flag
           |  FROM lineitem),
           |melted AS (
           |  SELECT 'c_key' AS col, c_key AS v FROM rendered
           |  UNION ALL SELECT 'c_price', c_price FROM rendered
           |  UNION ALL SELECT 'c_date', c_date FROM rendered
           |  UNION ALL SELECT 'c_flag', c_flag FROM rendered),
           |a AS (
           |  SELECT col, count(*) AS n,
           |    CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
           |      THEN 1 ELSE 0 END) AS BIGINT) AS int_ok,
           |    CAST(sum(CASE WHEN try_cast(v AS DOUBLE) IS NOT NULL
           |      THEN 1 ELSE 0 END) AS BIGINT) AS double_ok,
           |    CAST(sum(CASE WHEN regexp_matches(v, '^\d{4}-\d{2}-\d{2}$')
           |      AND try_cast(v AS DATE) IS NOT NULL
           |      THEN 1 ELSE 0 END) AS BIGINT) AS date_ok
           |  FROM melted GROUP BY col)
           |SELECT col, n, int_ok, double_ok, date_ok,
           |  CASE WHEN int_ok * 1000000 // n >= 999000 THEN 'BIGINT'
           |       WHEN double_ok * 1000000 // n >= 999000 THEN 'DOUBLE'
           |       WHEN date_ok * 1000000 // n >= 999000 THEN 'DATE'
           |       ELSE 'STRING' END AS suggested
           |FROM a ORDER BY col""".stripMargin),
  )

  /** q339 — inter-arrival overdispersion audit (the Poissonity check
    * run before trusting any rate-based alert like q315): per event
    * type, the squared coefficient of variation CV² = Var/Mean² of
    * inter-arrival gaps — the DIMENSIONLESS burstiness index (CV² = 1
    * for a Poisson process, ≫1 for bursts): cv2_milli =
    * n·(n·Σg² − (Σg)²)·1000 ÷ ((n−1)·(Σg)²), cleared to integer
    * cross-products and evaluated in DECIMAL(38,0) (the numerator
    * crosses 2⁶³ at fixture scale). One lag window for gaps, one
    * sufficient-stats aggregate. */
  val q339 = QuerySpec(
    "q339_interarrival_dispersion",
    (s, d) => {
      import s.implicits._
      Tables.events(s, d)
        .select($"event_type", $"ts", $"event_id")
        .withColumn("gap_s",
          expr("(unix_micros(ts) - lag(unix_micros(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id)) div 1000000L"))
        .filter($"gap_s".isNotNull)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"gap_s").as("sg"),
          sum($"gap_s" * $"gap_s").as("sg2"))
        .select($"event_type", $"n",
          expr("sg * 1000L div n").as("mean_gap_milli"),
          // sample variance ×1000: (n·Σg² − (Σg)²)·1000 div (n·(n−1)).
          // The n·Σg²−(Σg)² cross-product is lifted termwise into
          // DECIMAL(38,0) BEFORE the subtraction — the BIGINT inner form
          // sits one factor of n below cv2's documented 2⁶³ cliff, and a
          // parenthesized BIGINT subtree would overflow before the outer
          // decimal promotion could save it (round-6 ADVICE).
          expr("""CAST((CAST(n AS DECIMAL(38,0)) * sg2 - CAST(sg AS DECIMAL(38,0)) * sg) * 1000
                |  div (CAST(n AS DECIMAL(38,0)) * (n - 1L)) AS BIGINT)"""
            .stripMargin).as("var_milli"),
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * (CAST(n AS DECIMAL(38,0)) * sg2 - CAST(sg AS DECIMAL(38,0)) * sg) * 1000
                |  div (CAST(n - 1L AS DECIMAL(38,0)) * sg * sg) AS BIGINT)"""
            .stripMargin).as("cv2_milli"))
        .withColumn("bursty", $"cv2_milli" > 2000L)
        .orderBy($"event_type")
    },
    Some("""WITH g AS (
           |  SELECT event_type,
           |    (epoch_us(ts) - lag(epoch_us(ts))
           |      OVER (PARTITION BY event_type ORDER BY ts, event_id))
           |      // 1000000 AS gap_s
           |  FROM events),
           |st AS (
           |  SELECT event_type, count(*) AS n,
           |    CAST(sum(gap_s) AS BIGINT) AS sg,
           |    CAST(sum(gap_s * gap_s) AS BIGINT) AS sg2
           |  FROM g WHERE gap_s IS NOT NULL GROUP BY event_type)
           |SELECT event_type, n,
           |  sg * 1000 // n AS mean_gap_milli,
           |  CAST((CAST(n AS HUGEINT) * sg2 - CAST(sg AS HUGEINT) * sg) * 1000
           |    // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS var_milli,
           |  CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sg2 - CAST(sg AS HUGEINT) * sg) * 1000
           |    // (CAST(n - 1 AS HUGEINT) * sg * sg) AS BIGINT) AS cv2_milli,
           |  CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * sg2 - CAST(sg AS HUGEINT) * sg) * 1000
           |    // (CAST(n - 1 AS HUGEINT) * sg * sg) AS BIGINT) > 2000 AS bursty
           |FROM st ORDER BY event_type""".stripMargin),
  )

  /** q381 — exact Kendall tau-b rank correlation between per-user
    * activity (event count, capped at 200 — the censoring that keeps
    * the joint domain bounded BY CONSTRUCTION at any corpus size) and
    * spend intent (purchase count): the robust monotone-association
    * reading that Pearson (q147/q222) misses when the relationship is
    * nonlinear or heavy-tailed. Everything reduces to the JOINT COUNT
    * HISTOGRAM: concordant/discordant pair mass comes from a
    * cell-to-cell join on the ≤200×domain frame (never a row-level
    * pair), tie corrections from the marginal histograms, and the only
    * float op is the final sqrt of two identical BIGINTs — tau-b in
    * exact integer milli. One corpus-sized user aggregate, then
    * histogram-sized algebra. */
  val q381 = QuerySpec(
    "q381_kendall_tau_b",
    (s, d) => {
      import s.implicits._
      val per = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .groupBy($"user_id")
        .agg(least(count(lit(1)), lit(200L)).as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      val cells = per.groupBy($"x", $"y").agg(count(lit(1)).as("c"))
      val a = cells.select($"x".as("ax"), $"y".as("ay"), $"c".as("ac"))
      val b = cells.select($"x".as("bx"), $"y".as("by"), $"c".as("bc"))
      val pq = a.join(b, $"ax" < $"bx")
        .agg(
          sum(when($"ay" < $"by", $"ac" * $"bc").otherwise(0L)).as("p_conc"),
          sum(when($"ay" > $"by", $"ac" * $"bc").otherwise(0L)).as("q_disc"))
      val marg = cells.agg(
        sum($"c").as("n"),
        sum($"c" * ($"c" - 1)).as("txy2"))
      val tx = cells.groupBy($"x").agg(sum($"c").as("cx"))
        .agg(sum($"cx" * ($"cx" - 1)).as("tx2"))
      val ty = cells.groupBy($"y").agg(sum($"c").as("cy"))
        .agg(sum($"cy" * ($"cy" - 1)).as("ty2"))
      pq.crossJoin(broadcast(marg)).crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty))
        .select($"n".as("n_users"), $"p_conc", $"q_disc",
          expr("tx2 div 2").as("ties_x"), expr("ty2 div 2").as("ties_y"),
          expr("""CAST(floor(1000.0 * (p_conc - q_disc) /
            | sqrt(CAST((n * (n - 1) div 2 - tx2 div 2) AS DOUBLE)
            |   * CAST((n * (n - 1) div 2 - ty2 div 2) AS DOUBLE))) AS BIGINT)"""
            .stripMargin.replaceAll("\n", ""))
            .as("tau_b_milli"))
    },
    Some("""WITH per AS (SELECT user_id, least(count(*), 200) AS x,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
           |  FROM events GROUP BY user_id),
           |cells AS (SELECT x, y, count(*) AS c FROM per GROUP BY 1, 2),
           |pq AS (SELECT
           |    CAST(sum(CASE WHEN a.y < b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS p_conc,
           |    CAST(sum(CASE WHEN a.y > b.y THEN a.c * b.c ELSE 0 END) AS BIGINT) AS q_disc
           |  FROM cells a JOIN cells b ON a.x < b.x),
           |marg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
           |    CAST(sum(c * (c - 1)) AS BIGINT) AS txy2 FROM cells),
           |tx AS (SELECT CAST(sum(cx * (cx - 1)) AS BIGINT) AS tx2 FROM
           |  (SELECT x, sum(c) AS cx FROM cells GROUP BY x)),
           |ty AS (SELECT CAST(sum(cy * (cy - 1)) AS BIGINT) AS ty2 FROM
           |  (SELECT y, sum(c) AS cy FROM cells GROUP BY y))
           |SELECT n AS n_users, p_conc, q_disc,
           |  tx2 // 2 AS ties_x, ty2 // 2 AS ties_y,
           |  CAST(floor(1000.0 * (p_conc - q_disc) /
           |    sqrt(CAST((n * (n - 1) // 2 - tx2 // 2) AS DOUBLE)
           |      * CAST((n * (n - 1) // 2 - ty2 // 2) AS DOUBLE))) AS BIGINT)
           |    AS tau_b_milli
           |FROM pq, marg, tx, ty""".stripMargin),
  )

  /** q373 — CUPED variance-reduced experiment readout (q132's modern
    * sibling): per-user pre-period covariate x (value sum over even
    * event ids — the interleaved "before" stream) against post-period
    * metric y (odd ids), arms assigned by the deterministic md5 split.
    * The pooled adjustment θ = cov(x,y)/var(x) comes from ONE global
    * sufficient-stats frame; each arm reports its raw and
    * CUPED-adjusted mean ŷ = ȳ − θ(x̄_arm − x̄) plus the achieved
    * variance-reduction ppm, all derived from (n, Σx, Σy, Σx², Σy²,
    * Σxy) per arm. Two aggregation passes total (events→user,
    * user→arm), every float reduction through [[Det]] DECIMAL sums,
    * every division evaluated with the same operand tree on both
    * engines — the readout stays mergeable across days/partitions at
    * 100 TB exactly like q132: store six sums, derive forever. */
  val q373 = QuerySpec(
    "q373_cuped_adjusted_abtest",
    (s, d) => {
      import s.implicits._
      val per = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .groupBy($"user_id")
        .agg(
          dsum(when($"event_id" % 2 === 0, $"value").otherwise(lit(0.0)), 6)
            .as("x"),
          dsum(when($"event_id" % 2 === 1, $"value").otherwise(lit(0.0)), 6)
            .as("y"))
        .withColumn("arm",
          when(expr("substring(md5(CAST(user_id AS STRING)), 1, 1) < '8'"),
            lit("treat")).otherwise(lit("control")))
      val g = per.agg(count(lit(1)).as("n"), dsum($"x", 6).as("sx"),
          dsum($"y", 6).as("sy"), dsum($"x" * $"x", 6).as("sxx"),
          dsum($"x" * $"y", 6).as("sxy"))
        .withColumn("gmx", $"sx" / $"n")
        .withColumn("num", $"sxy" - $"sx" * $"sy" / $"n")
        .withColumn("den", $"sxx" - $"sx" * $"sx" / $"n")
        .withColumn("theta",
          when($"den" <= lit(0.000001), lit(0.0)).otherwise($"num" / $"den"))
        .select($"gmx", $"theta")
      per.groupBy($"arm")
        .agg(count(lit(1)).as("n_users"), dsum($"x", 6).as("asx"),
          dsum($"y", 6).as("asy"), dsum($"x" * $"x", 6).as("asxx"),
          dsum($"y" * $"y", 6).as("asyy"), dsum($"x" * $"y", 6).as("asxy"))
        .crossJoin(broadcast(g))
        .withColumn("mx", $"asx" / $"n_users")
        .withColumn("my", $"asy" / $"n_users")
        .withColumn("vy", $"asyy" / $"n_users" - $"my" * $"my")
        .withColumn("vx", $"asxx" / $"n_users" - $"mx" * $"mx")
        .withColumn("cxy", $"asxy" / $"n_users" - $"mx" * $"my")
        .withColumn("vadj",
          $"vy" - lit(2.0) * $"theta" * $"cxy" + $"theta" * $"theta" * $"vx")
        .select($"arm", $"n_users",
          round($"my", 6).as("mean_y"),
          round($"my" - $"theta" * ($"mx" - $"gmx"), 6).as("adj_mean_y"),
          expr("CAST(floor(theta * 1000) AS BIGINT)").as("theta_milli"),
          expr("CAST(floor((vy - vadj) * 1000000 / greatest(vy, 0.000001)) AS BIGINT)")
            .as("var_reduction_ppm"))
        .orderBy($"arm")
    },
    Some(s"""WITH per AS (
            |  SELECT user_id,
            |    ${sqlDsum("CASE WHEN event_id % 2 = 0 THEN value ELSE 0 END", 6)} AS x,
            |    ${sqlDsum("CASE WHEN event_id % 2 = 1 THEN value ELSE 0 END", 6)} AS y,
            |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
            |      THEN 'treat' ELSE 'control' END AS arm
            |  FROM events GROUP BY user_id),
            |g0 AS (SELECT count(*) AS n, ${sqlDsum("x", 6)} AS sx,
            |    ${sqlDsum("y", 6)} AS sy, ${sqlDsum("x * x", 6)} AS sxx,
            |    ${sqlDsum("x * y", 6)} AS sxy
            |  FROM per),
            |g AS (SELECT sx / n AS gmx,
            |    CASE WHEN sxx - sx * sx / n <= 0.000001 THEN 0.0
            |      ELSE (sxy - sx * sy / n) / (sxx - sx * sx / n) END AS theta
            |  FROM g0),
            |a0 AS (SELECT arm, count(*) AS n_users, ${sqlDsum("x", 6)} AS asx,
            |    ${sqlDsum("y", 6)} AS asy, ${sqlDsum("x * x", 6)} AS asxx,
            |    ${sqlDsum("y * y", 6)} AS asyy, ${sqlDsum("x * y", 6)} AS asxy
            |  FROM per GROUP BY arm),
            |a1 AS (SELECT arm, n_users, asx / n_users AS mx, asy / n_users AS my,
            |    asyy / n_users - (asy / n_users) * (asy / n_users) AS vy,
            |    asxx / n_users - (asx / n_users) * (asx / n_users) AS vx,
            |    asxy / n_users - (asx / n_users) * (asy / n_users) AS cxy,
            |    gmx, theta
            |  FROM a0, g),
            |a2 AS (SELECT *,
            |    vy - 2.0 * theta * cxy + theta * theta * vx AS vadj
            |  FROM a1)
            |SELECT arm, n_users, round(my, 6) AS mean_y,
            |  round(my - theta * (mx - gmx), 6) AS adj_mean_y,
            |  CAST(floor(theta * 1000) AS BIGINT) AS theta_milli,
            |  CAST(floor((vy - vadj) * 1000000 / greatest(vy, 0.000001)) AS BIGINT)
            |    AS var_reduction_ppm
            |FROM a2 ORDER BY arm""".stripMargin),
  )


  /** q414 — event state-machine conformance audit: the q139 transition
    * matrix turned into a VALIDATOR — a broadcast allowlist of legal
    * (prev → curr) transitions, every per-user consecutive pair checked
    * against it (lag over per-user windows: thousands of small groups,
    * the healthy window shape), and the ILLEGAL transitions rolled up
    * with how many users exhibit each and their share of all
    * transitions. The "instrumentation is emitting impossible
    * journeys" alarm a funnel owner triages from — top-15 by volume. */
  val q414 = QuerySpec(
    "q414_state_machine_audit",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val allowed = Seq(
        ("signup", "view"), ("view", "click"), ("view", "view"),
        ("click", "purchase"), ("click", "view"), ("purchase", "view"),
        ("view", "error"), ("click", "error"), ("signup", "error"),
        ("purchase", "error"), ("error", "view"))
      val al = s.createDataFrame(allowed).toDF("prev", "curr")
        .withColumn("legal", lit(true))
      val tr = Tables.events(s, d)
        .withColumn("prev", lag($"event_type", 1).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .filter($"prev".isNotNull)
        .select($"user_id", $"prev", $"event_type".as("curr"))
      val tot = tr.agg(count(lit(1)).as("n_tr"))
      tr.join(broadcast(al), Seq("prev", "curr"), "left")
        .filter($"legal".isNull)
        .groupBy($"prev".as("prev_type"), $"curr".as("curr_type"))
        .agg(count(lit(1)).as("n_invalid"), countDistinct($"user_id").as("n_users"))
        .crossJoin(broadcast(tot))
        .select($"prev_type", $"curr_type", $"n_invalid", $"n_users",
          expr("n_invalid * 1000000 div n_tr").as("share_ppm"))
        .orderBy($"n_invalid".desc, $"prev_type", $"curr_type")
        .limit(15)
    },
    Some("""WITH seq AS (SELECT user_id, event_type, ts, event_id,
           |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |      FROM events),
           |tr AS (SELECT user_id, prev, event_type AS curr FROM seq WHERE prev IS NOT NULL),
           |al(prev, curr) AS (VALUES ('signup','view'), ('view','click'), ('view','view'),
           |  ('click','purchase'), ('click','view'), ('purchase','view'),
           |  ('view','error'), ('click','error'), ('signup','error'),
           |  ('purchase','error'), ('error','view')),
           |inv AS (SELECT tr.prev, tr.curr, count(*) AS n, count(DISTINCT tr.user_id) AS n_users
           |        FROM tr LEFT JOIN al ON tr.prev = al.prev AND tr.curr = al.curr
           |        WHERE al.prev IS NULL GROUP BY 1, 2),
           |tot AS (SELECT count(*) AS n_tr FROM tr)
           |SELECT prev AS prev_type, curr AS curr_type, CAST(n AS BIGINT) AS n_invalid,
           |  CAST(n_users AS BIGINT) AS n_users,
           |  CAST(n * 1000000 // (SELECT n_tr FROM tot) AS BIGINT) AS share_ppm
           |FROM inv ORDER BY n_invalid DESC, prev_type, curr_type LIMIT 15""".stripMargin),
  )


  /** q415 — funnel time-to-convert distribution: seconds from each
    * purchase back to that user's most recent PRIOR view (the q159
    * IGNORE-NULLS forward-carry over per-user windows), histogrammed
    * into power-of-two buckets with cumulative ppm — the latency
    * distribution behind "how long does intent take to convert".
    * Buckets are ⌊log₂ gap⌋ computed EXACTLY as bit length
    * (length(bin(x))−1): libm log2 drifts a ulp across engines at
    * boundary values and floor() would amplify it into a bucket flip,
    * while the binary-string length is integer arithmetic on both.
    * Per-user windows are thousands of small groups; the histogram is
    * ≤64 rows with its cumulative window on that frame. */
  val q415 = QuerySpec(
    "q415_time_to_convert",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val conv = Tables.events(s, d)
        .withColumn("last_view", max(when($"event_type" === "view", $"ts")).over(w))
        .filter($"event_type" === "purchase" && $"last_view".isNotNull)
        .select((unix_timestamp($"ts") - unix_timestamp($"last_view")).as("gap_s"))
      val h = conv
        .select((length(expr("bin(greatest(gap_s, 1))")) - 1).cast("long").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
      val tot = h.agg(sum($"n").as("t"))
      h.crossJoin(broadcast(tot))
        .withColumn("cum", sum($"n").over(
          Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, 0)))
        .select($"bucket".as("log2_seconds_bucket"), $"n".as("n_conversions"),
          expr("cum * 1000000 div t").as("cum_ppm"))
        .orderBy($"log2_seconds_bucket")
    },
    Some("""WITH seq AS (SELECT user_id, ts, event_id, event_type,
           |        max(CASE WHEN event_type = 'view' THEN ts END)
           |          OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
           |      FROM events),
           |conv AS (SELECT user_id,
           |        CAST(epoch(ts) - epoch(last_view) AS BIGINT) AS gap_s
           |      FROM seq WHERE event_type = 'purchase' AND last_view IS NOT NULL),
           |b AS (SELECT CAST(length(bin(greatest(gap_s, 1))) - 1 AS BIGINT) AS bucket FROM conv),
           |h AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
           |tot AS (SELECT sum(n) AS t FROM h)
           |SELECT bucket AS log2_seconds_bucket, CAST(n AS BIGINT) AS n_conversions,
           |  CAST(sum(n) OVER (ORDER BY bucket) * 1000000 // (SELECT t FROM tot) AS BIGINT) AS cum_ppm
           |FROM h ORDER BY bucket""".stripMargin),
  )

  /** q451 — half-life–decayed popularity ranking: each event's weight
    * halves per week of age (the HN/Reddit-style freshness prior), with
    * the transcendental EXP dodged exactly — ages are bounded integer
    * weeks, so 2^(maxage−age) is an exact BIGINT left-shift and every
    * score is an integer in units of 2^(-maxage) (mirrored verbatim;
    * the q403 dodge-pow discipline). Per event type: decayed score,
    * raw count, and the rank flips the decay causes vs the raw-count
    * ranking — the readout that justifies the decay at all. One events
    * aggregate; the age bound comes from the data's own span. */
  val q451 = QuerySpec(
    "q451_halflife_popularity",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.fanOut(Tables.events(s, d), col("event_type"))
        .select($"event_type", expr("unix_micros(ts) div 604800000000L").as("w"))
      val span = ev.agg(max($"w").as("wmax"), min($"w").as("wmin"))
      // Exponent clamped to [0, 32]: an unclamped span (w - wmin) on
      // >=63-week data would overflow BIGINT and diverge between
      // Spark's mod-64 shift wrap and DuckDB's shift semantics. Capping
      // the decay range at 2^32 keeps sum(wt) exact for corpora up to
      // ~2^30 rows on BOTH engines; events older than 32 weeks below
      // the newest in-span week all share the floor weight 1.
      val sc = ev.crossJoin(broadcast(span))
        .select($"event_type",
          expr("shiftleft(1L, CAST(greatest(0L, least(wmax - wmin, 32L) - (wmax - w)) AS INT))")
            .as("wt"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_raw"), sum($"wt").as("score_q"))
      sc
        .withColumn("rank_decayed", row_number().over(
          Window.orderBy($"score_q".desc, $"event_type")).cast("int"))
        .withColumn("rank_raw", row_number().over(
          Window.orderBy($"n_raw".desc, $"event_type")).cast("int"))
        .withColumn("rank_shift", $"rank_raw" - $"rank_decayed")
        .orderBy($"rank_decayed")
    },
    Some("""WITH ev AS (
           |  SELECT event_type, epoch_us(ts) // 604800000000 AS w FROM events),
           |span AS (SELECT max(w) AS wmax, min(w) AS wmin FROM ev),
           |sc AS (SELECT event_type, count(*) AS n_raw,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(greatest(0,
           |      least(wmax - wmin, 32) - (wmax - w)) AS INT)) AS BIGINT) AS score_q
           |  FROM ev CROSS JOIN span GROUP BY event_type),
           |r AS (SELECT event_type, n_raw, score_q,
           |    CAST(row_number() OVER (ORDER BY score_q DESC, event_type) AS INT) AS rank_decayed,
           |    CAST(row_number() OVER (ORDER BY n_raw DESC, event_type) AS INT) AS rank_raw
           |  FROM sc)
           |SELECT event_type, n_raw, score_q, rank_decayed, rank_raw,
           |  rank_raw - rank_decayed AS rank_shift
           |FROM r ORDER BY rank_decayed""".stripMargin),
  )

  /** q453 — per-key rate-limit planner: if ingestion throttled each
    * user at r events/minute, how much traffic would each candidate r ∈
    * {5, 10, 20} reject? Overflow above r within each (user, minute)
    * cell, every r read from conditional sums over the cell histogram
    * in ONE pass (q432's sweep discipline) — the table an API quota is
    * chosen from. One (user, minute) aggregate, then a 3-row unpivot. */
  val q453 = QuerySpec(
    "q453_rate_limit_sweep",
    (s, d) => {
      import s.implicits._
      val cells = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .groupBy($"user_id", expr("unix_micros(ts) div 60000000L").as("m"))
        .agg(count(lit(1)).as("c"))
      def over(r: Long) = sum(when($"c" > r, $"c" - r).otherwise(0L))
      val one = cells.agg(sum($"c").as("n_events"),
        count(lit(1)).as("n_cells"), max($"c").as("peak_per_min"),
        over(5L).as("o5"), over(10L).as("o10"), over(20L).as("o20"))
      one.select(expr(
        """stack(3, 5L, o5, 10L, o10, 20L, o20)
          | AS (limit_per_min, n_rejected)""".stripMargin.replaceAll("\n", "")),
        $"n_events", $"peak_per_min")
        .select($"limit_per_min", $"n_rejected",
          expr("n_rejected * 1000000L div n_events").as("rejected_ppm"),
          $"peak_per_min")
        .orderBy($"limit_per_min")
    },
    Some("""WITH cells AS (
           |  SELECT user_id, epoch_us(ts) // 60000000 AS m, count(*) AS c
           |  FROM events GROUP BY 1, 2),
           |agg AS (SELECT CAST(sum(c) AS BIGINT) AS n_events,
           |    CAST(max(c) AS BIGINT) AS peak_per_min,
           |    CAST(sum(CASE WHEN c > 5 THEN c - 5 ELSE 0 END) AS BIGINT) AS o5,
           |    CAST(sum(CASE WHEN c > 10 THEN c - 10 ELSE 0 END) AS BIGINT) AS o10,
           |    CAST(sum(CASE WHEN c > 20 THEN c - 20 ELSE 0 END) AS BIGINT) AS o20
           |  FROM cells),
           |u AS (
           |  SELECT CAST(5 AS BIGINT) AS limit_per_min, o5 AS n_rejected, n_events, peak_per_min FROM agg
           |  UNION ALL SELECT 10, o10, n_events, peak_per_min FROM agg
           |  UNION ALL SELECT 20, o20, n_events, peak_per_min FROM agg)
           |SELECT limit_per_min, n_rejected,
           |  CAST(n_rejected * 1000000 // n_events AS BIGINT) AS rejected_ppm,
           |  peak_per_min
           |FROM u ORDER BY limit_per_min""".stripMargin),
  )

  /** q450 — discrete churn-hazard table (the Kaplan–Meier life table
    * WITHOUT the cumulative float product — hazards per tenure day are
    * the exact, mergeable readout; survival is their downstream
    * product): per user, tenure = last-active − first-active DAY;
    * users whose last day is the observation boundary are CENSORED
    * (still alive), everyone else churned at their tenure. at-risk(w)
    * is the suffix sum of the tenure histogram (a window over the
    * bounded day domain), hazard = churned/at-risk in exact ppm. One
    * events→user aggregate, then day-domain algebra. */
  val q450 = QuerySpec(
    "q450_churn_hazard_table",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val per = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .groupBy($"user_id")
        .agg(expr("min(unix_micros(ts) div 86400000000L)").as("first_w"),
          expr("max(unix_micros(ts) div 86400000000L)").as("last_w"))
      val bound = per.agg(max($"last_w").as("wmax"))
      val hist = per.crossJoin(broadcast(bound))
        .select(($"last_w" - $"first_w").as("tenure_d"),
          ($"last_w" === $"wmax").as("censored"))
        .groupBy($"tenure_d")
        .agg(sum(when(!$"censored", 1L).otherwise(0L)).as("churned"),
          sum(when($"censored", 1L).otherwise(0L)).as("censored"))
      val wAtRisk = Window.orderBy($"tenure_d".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("at_risk", sum($"churned" + $"censored").over(wAtRisk))
        .select($"tenure_d", $"at_risk", $"churned", $"censored",
          expr("churned * 1000000L div at_risk").as("hazard_ppm"))
        .orderBy($"tenure_d")
    },
    Some("""WITH per AS (
           |  SELECT user_id,
           |    min(epoch_us(ts) // 86400000000) AS first_w,
           |    max(epoch_us(ts) // 86400000000) AS last_w
           |  FROM events GROUP BY user_id),
           |b AS (SELECT max(last_w) AS wmax FROM per),
           |hist AS (SELECT last_w - first_w AS tenure_d,
           |    CAST(sum(CASE WHEN last_w <> wmax THEN 1 ELSE 0 END) AS BIGINT) AS churned,
           |    CAST(sum(CASE WHEN last_w = wmax THEN 1 ELSE 0 END) AS BIGINT) AS censored
           |  FROM per CROSS JOIN b GROUP BY 1)
           |SELECT tenure_d,
           |  CAST(sum(churned + censored) OVER (ORDER BY tenure_d DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS at_risk,
           |  churned, censored,
           |  CAST(churned * 1000000 // sum(churned + censored) OVER (ORDER BY tenure_d DESC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hazard_ppm
           |FROM hist ORDER BY tenure_d""".stripMargin),
  )

  /** q446 — watermark-delay drop-budget sweep: given the stream's OWN
    * measured disorder (q445), how many events would a watermark of
    * delay δ ∈ {60 s, 600 s, 3600 s} actually drop? An event is late by
    * (running-max prior ts − its ts) in ingestion order — per-key
    * (user) watermarks, the transformWithState discipline, so the
    * running max is a bounded per-user frame, never a single-partition
    * global order. One window pass; every δ reads its drop count from
    * conditional sums in one aggregate (q432's sweep discipline). The
    * curve is what spark.watermarkDelayMs is chosen from. */
  val q446 = QuerySpec(
    "q446_watermark_drop_sweep",
    (s, d) => {
      import s.implicits._
      // prior-max is NULL on a user's first event; the NULL-ness is made
      // EXPLICIT (prior IS NULL → drop) rather than left to greatest()'s
      // engine-specific null handling.
      val late = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .select($"user_id", $"event_id", $"ts")
        .withColumn("prior", expr(
          """max(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY event_id
            | ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
            .stripMargin.replaceAll("\n", "")))
        .filter($"prior".isNotNull)
        .withColumn("late_s",
          greatest(expr("(prior - unix_micros(ts)) div 1000000L"), lit(0L)))
      def dropped(delta: Long) =
        sum(when($"late_s" > delta, 1L).otherwise(0L))
      val one = late.agg(count(lit(1)).as("n_events"),
        max($"late_s").as("max_late_s"),
        dropped(60L).as("d60"), dropped(600L).as("d600"),
        dropped(3600L).as("d3600"))
      one.select(expr(
        """stack(3, 60L, d60, 600L, d600, 3600L, d3600)
          | AS (delay_s, n_dropped)""".stripMargin.replaceAll("\n", "")),
        $"n_events", $"max_late_s")
        .select($"delay_s", $"n_dropped",
          expr("n_dropped * 1000000L div n_events").as("drop_ppm"),
          $"max_late_s")
        .orderBy($"delay_s")
    },
    Some("""WITH pri AS (
           |  SELECT epoch_us(ts) AS tsu,
           |    max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior
           |  FROM events),
           |late AS (SELECT greatest((prior - tsu) // 1000000, 0) AS late_s
           |  FROM pri WHERE prior IS NOT NULL),
           |agg AS (SELECT count(*) AS n_events,
           |    CAST(max(late_s) AS BIGINT) AS max_late_s,
           |    CAST(sum(CASE WHEN late_s > 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           |    CAST(sum(CASE WHEN late_s > 600 THEN 1 ELSE 0 END) AS BIGINT) AS d600,
           |    CAST(sum(CASE WHEN late_s > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS d3600
           |  FROM late),
           |u AS (
           |  SELECT CAST(60 AS BIGINT) AS delay_s, d60 AS n_dropped, n_events, max_late_s FROM agg
           |  UNION ALL SELECT 600, d600, n_events, max_late_s FROM agg
           |  UNION ALL SELECT 3600, d3600, n_events, max_late_s FROM agg)
           |SELECT delay_s, n_dropped,
           |  CAST(n_dropped * 1000000 // n_events AS BIGINT) AS drop_ppm,
           |  max_late_s
           |FROM u ORDER BY delay_s""".stripMargin),
  )

  /** q444 — data-freshness SLA audit: per event stream (event_type),
    * how far does its newest record lag the pipeline's watermark (the
    * global max ts) — the first page of every ingestion runbook. Lag in
    * exact seconds, SLA breach flagged at 1 h. One events aggregate to
    * |types| rows; the watermark is a 1-row broadcast. */
  val q444 = QuerySpec(
    "q444_freshness_audit",
    (s, d) => {
      import s.implicits._
      val per = Tables.fanOut(Tables.events(s, d), col("event_type"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), max($"ts").as("latest"))
      per.crossJoin(broadcast(per.agg(max($"latest").as("watermark"))))
        .select($"event_type", $"n_events",
          dstr($"latest").as("latest_day"),
          expr("(unix_micros(watermark) - unix_micros(latest)) div 1000000L")
            .as("lag_s"))
        .withColumn("sla_breach", $"lag_s" > 3600L)
        .orderBy($"event_type")
    },
    Some("""WITH per AS (
           |  SELECT event_type, count(*) AS n_events, max(ts) AS latest
           |  FROM events GROUP BY event_type),
           |wm AS (SELECT max(latest) AS watermark FROM per)
           |SELECT event_type, n_events,
           |  strftime(latest, '%Y-%m-%d') AS latest_day,
           |  CAST((epoch_us(watermark) - epoch_us(latest)) // 1000000 AS BIGINT) AS lag_s,
           |  (epoch_us(watermark) - epoch_us(latest)) // 1000000 > 3600 AS sla_breach
           |FROM per CROSS JOIN wm ORDER BY event_type""".stripMargin),
  )

  /** q445 — clock-skew / out-of-order ingestion audit: how often does a
    * user's stream run BACKWARDS in event-id order (producer clock skew,
    * retried batches, device buffer flushes), and how badly — the
    * empirical bound a watermark delay (q314) is actually chosen from.
    * Regressions are lag() pairs ordered by event_id (the ingestion
    * order) whose ts goes back; per type: affected pairs, ppm, worst
    * and p-mean backwards jump in seconds. One user-partitioned window
    * pass, |types|-row readout. */
  val q445 = QuerySpec(
    "q445_clock_skew_audit",
    (s, d) => {
      import s.implicits._
      val pairs = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .select($"user_id", $"event_id", $"event_type", $"ts")
        .withColumn("skew_s",
          expr("(lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY event_id) - unix_micros(ts)) div 1000000L"))
        .filter($"skew_s".isNotNull)
      pairs.groupBy($"event_type")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when($"skew_s" > 0L, 1L).otherwise(0L)).as("n_backwards"),
          max(greatest($"skew_s", lit(0L))).as("worst_skew_s"),
          sum(when($"skew_s" > 0L, $"skew_s").otherwise(0L)).as("skew_sum"))
        .select($"event_type", $"n_pairs", $"n_backwards",
          expr("n_backwards * 1000000L div n_pairs").as("backwards_ppm"),
          $"worst_skew_s",
          expr("skew_sum div nullif(n_backwards, 0L)").as("mean_skew_s"))
        .orderBy($"event_type")
    },
    Some("""WITH pairs AS (
           |  SELECT event_type,
           |    (lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
           |      - epoch_us(ts)) // 1000000 AS skew_s
           |  FROM events),
           |p2 AS (SELECT * FROM pairs WHERE skew_s IS NOT NULL)
           |SELECT event_type, count(*) AS n_pairs,
           |  CAST(sum(CASE WHEN skew_s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_backwards,
           |  CAST(sum(CASE WHEN skew_s > 0 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS backwards_ppm,
           |  CAST(max(greatest(skew_s, 0)) AS BIGINT) AS worst_skew_s,
           |  CAST(sum(CASE WHEN skew_s > 0 THEN skew_s ELSE 0 END)
           |    // nullif(sum(CASE WHEN skew_s > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_skew_s
           |FROM p2 GROUP BY event_type ORDER BY event_type""".stripMargin),
  )

  /** q439 — subject access report (GDPR Art. 15, the read half of
    * q325's erasure): for a requested set of data subjects, enumerate
    * every table holding their rows — row counts plus an
    * ORDER-INDEPENDENT content checksum (sum of 32-bit md5 prefixes,
    * q210's mergeable-digest discipline) so two exports of the same
    * subject can be compared without sorting. Spans the key graph the
    * way a real DSAR does: customer directly, orders by custkey,
    * lineitem through its order keys. Subject set broadcasts; each
    * table contributes one semi-joined aggregate. */
  val q439 = QuerySpec(
    "q439_subject_access_report",
    (s, d) => {
      import s.implicits._
      val subjects = Seq(1L, 2L, 3L).toDF("subject")
      def digest(key: org.apache.spark.sql.Column) =
        sum(conv(substring(md5(key.cast("string").cast("binary")), 1, 8), 16, 10)
          .cast("long"))
      val cust = Tables.customer(s, d)
        .join(broadcast(subjects), $"c_custkey" === $"subject")
        .groupBy($"subject")
        .agg(count(lit(1)).as("n_rows"),
          digest(concat_ws("|", lit("c"), $"c_custkey", $"c_name")).as("checksum"))
        .select($"subject", lit("customer").as("tbl"), $"n_rows", $"checksum")
      val ord = Tables.orders(s, d)
        .join(broadcast(subjects), $"o_custkey" === $"subject")
      val ordRep = ord.groupBy($"subject")
        .agg(count(lit(1)).as("n_rows"),
          digest(concat_ws("|", lit("o"), $"o_orderkey",
            expr("CAST(round(o_totalprice * 100) AS BIGINT)"))).as("checksum"))
        .select($"subject", lit("orders").as("tbl"), $"n_rows", $"checksum")
      val li = Tables.lineitem(s, d)
        .join(broadcast(ord.select($"o_orderkey", $"subject")),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"subject")
        .agg(count(lit(1)).as("n_rows"),
          digest(concat_ws("|", lit("l"), $"l_orderkey", $"l_linenumber",
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))).as("checksum"))
        .select($"subject", lit("lineitem").as("tbl"), $"n_rows", $"checksum")
      cust.unionAll(ordRep).unionAll(li).orderBy($"subject", $"tbl")
    },
    Some {
      // Spark's conv(substr(md5, 1, 8), 16, 10) mirrored as per-char
      // arithmetic (DuckDB has no base-16 conv; ScaleOps.duckHex shape).
      def hex32(hx: String): String =
        s"""list_reduce(list_transform(generate_series(1, 8),
           |      i -> CAST(CASE WHEN ascii(substr($hx, i, 1)) >= 97
           |            THEN ascii(substr($hx, i, 1)) - 87
           |            ELSE ascii(substr($hx, i, 1)) - 48 END AS BIGINT)
           |        * CAST(power(16, 8 - i) AS BIGINT)),
           |      (a, b) -> a + b)""".stripMargin
      s"""WITH subjects(subject) AS (VALUES (CAST(1 AS BIGINT)), (2), (3)),
         |ch AS (SELECT subject, md5('c' || '|' || c_custkey || '|' || c_name) AS hx
         |  FROM customer JOIN subjects ON c_custkey = subject),
         |c AS (SELECT subject, 'customer' AS tbl, count(*) AS n_rows,
         |    CAST(sum(${hex32("hx")}) AS BIGINT) AS checksum
         |  FROM ch GROUP BY subject),
         |oh AS (SELECT subject, o_orderkey,
         |    md5('o' || '|' || o_orderkey || '|' || CAST(round(o_totalprice * 100) AS BIGINT)) AS hx
         |  FROM orders JOIN subjects ON o_custkey = subject),
         |o AS (SELECT subject, 'orders' AS tbl, count(*) AS n_rows,
         |    CAST(sum(${hex32("hx")}) AS BIGINT) AS checksum
         |  FROM oh GROUP BY subject),
         |lh AS (SELECT oh.subject,
         |    md5('l' || '|' || l_orderkey || '|' || l_linenumber || '|' || CAST(round(l_extendedprice * 100) AS BIGINT)) AS hx
         |  FROM lineitem JOIN oh ON l_orderkey = oh.o_orderkey),
         |l AS (SELECT subject, 'lineitem' AS tbl, count(*) AS n_rows,
         |    CAST(sum(${hex32("hx")}) AS BIGINT) AS checksum
         |  FROM lh GROUP BY subject)
         |SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l
         |ORDER BY subject, tbl""".stripMargin
    },
  )

  /** q441 — quantile treatment effect (QTE): an A/B readout at the
    * p25/p50/p75/p90 of per-customer activity rather than the mean —
    * where heavy-tailed metrics hide their movement. Arms by the q426
    * md5 split; quantiles are EXACT type-1 order statistics read from
    * the bounded per-arm count histogram (cumulative sums over the
    * value domain, never a row-level rank window — q419's discipline).
    * One orders→customer aggregate; everything after is
    * (arms × distinct activity values)-sized. */
  val q441 = QuerySpec(
    "q441_quantile_treatment_effect",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val per = Tables.fanOut(Tables.orders(s, d), col("o_custkey"))
        .groupBy($"o_custkey").agg(count(lit(1)).as("x"))
        .withColumn("arm",
          when(substring(md5(concat(lit("arm|"), $"o_custkey".cast("string"))
            .cast("binary")), 1, 1) < "8", "A").otherwise("B"))
      val hist = per.groupBy($"arm", $"x").agg(count(lit(1)).as("c"))
      val wc = Window.partitionBy($"arm").orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum($"c").over(wc))
        .withColumn("n", sum($"c").over(Window.partitionBy($"arm")))
      val qs = Seq(25L, 50L, 75L, 90L).toDF("q_pct")
      val vals = cum.crossJoin(broadcast(qs))
        .filter($"cum" * 100L >= $"q_pct" * $"n")
        .groupBy($"arm", $"q_pct").agg(min($"x").as("v"))
      vals.filter($"arm" === "A").select($"q_pct", $"v".as("val_a"))
        .join(vals.filter($"arm" === "B").select($"q_pct", $"v".as("val_b")),
          "q_pct")
        .withColumn("qte", $"val_a" - $"val_b")
        .orderBy($"q_pct")
    },
    Some("""WITH per AS (
           |  SELECT o_custkey, count(*) AS x,
           |    CASE WHEN substr(md5('arm|' || o_custkey), 1, 1) < '8'
           |      THEN 'A' ELSE 'B' END AS arm
           |  FROM orders GROUP BY o_custkey),
           |hist AS (SELECT arm, x, count(*) AS c FROM per GROUP BY 1, 2),
           |cum AS (SELECT arm, x, sum(c) OVER (PARTITION BY arm ORDER BY x) AS cum,
           |    sum(c) OVER (PARTITION BY arm) AS n FROM hist),
           |qs(q_pct) AS (VALUES (CAST(25 AS BIGINT)), (50), (75), (90)),
           |vals AS (SELECT arm, q_pct, CAST(min(x) AS BIGINT) AS v
           |  FROM cum CROSS JOIN qs WHERE cum * 100 >= q_pct * n GROUP BY 1, 2)
           |SELECT a.q_pct, a.v AS val_a, b.v AS val_b, a.v - b.v AS qte
           |FROM vals a JOIN vals b ON a.q_pct = b.q_pct AND a.arm = 'A' AND b.arm = 'B'
           |ORDER BY a.q_pct""".stripMargin),
  )

  /** q437 — Simpson's-paradox detector: does the experiment's OVERALL
    * direction contradict its per-stratum directions? The classic
    * aggregation trap an honest A/B readout screens for before shipping
    * a verdict: arm means are exact integer cents (sum div n, mirrored
    * floor), computed once per market segment plus the pooled row; each
    * stratum is flagged when its sign contradicts the pooled sign. Arms
    * are the q426 deterministic md5 split. One orders-sized aggregate
    * (customer segment broadcast in), then |segments|-row algebra. */
  val q437 = QuerySpec(
    "q437_simpson_paradox_audit",
    (s, d) => {
      import s.implicits._
      val base = Tables.fanOut(Tables.orders(s, d), col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")), $"o_custkey" === $"c_custkey")
        .withColumn("arm",
          when(substring(md5(concat(lit("arm|"), $"o_custkey".cast("string"))
            .cast("binary")), 1, 1) < "8", "A").otherwise("B"))
        .select($"c_mktsegment".as("segment"), $"arm",
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      def armStats(df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Column) =
        df.groupBy(key.as("segment"))
          .agg(
            expr("sum(CASE WHEN arm = 'A' THEN cents ELSE 0L END) div nullif(sum(CASE WHEN arm = 'A' THEN 1L ELSE 0L END), 0L)")
              .as("mean_a_cents"),
            expr("sum(CASE WHEN arm = 'B' THEN cents ELSE 0L END) div nullif(sum(CASE WHEN arm = 'B' THEN 1L ELSE 0L END), 0L)")
              .as("mean_b_cents"))
      val per = armStats(base, $"segment")
      val overall = armStats(base, lit("__overall__"))
      per.crossJoin(broadcast(overall
          .select($"mean_a_cents".as("oa"), $"mean_b_cents".as("ob"))))
        .select($"segment", $"mean_a_cents", $"mean_b_cents",
          signum($"mean_a_cents" - $"mean_b_cents").cast("long").as("diff_sign"),
          (signum($"mean_a_cents" - $"mean_b_cents") =!= signum($"oa" - $"ob")
            && signum($"mean_a_cents" - $"mean_b_cents") =!= 0.0)
            .as("contradicts_overall"))
        .unionAll(overall.select($"segment", $"mean_a_cents", $"mean_b_cents",
          signum($"mean_a_cents" - $"mean_b_cents").cast("long"), lit(false)))
        .orderBy($"segment")
    },
    Some("""WITH base AS (
           |  SELECT c_mktsegment AS segment,
           |    CASE WHEN substr(md5('arm|' || o_custkey), 1, 1) < '8'
           |      THEN 'A' ELSE 'B' END AS arm,
           |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           |  FROM orders JOIN customer ON o_custkey = c_custkey),
           |per AS (SELECT segment,
           |    CAST(sum(CASE WHEN arm = 'A' THEN cents ELSE 0 END)
           |      // nullif(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_a_cents,
           |    CAST(sum(CASE WHEN arm = 'B' THEN cents ELSE 0 END)
           |      // nullif(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_b_cents
           |  FROM base GROUP BY segment),
           |ov AS (SELECT '__overall__' AS segment,
           |    CAST(sum(CASE WHEN arm = 'A' THEN cents ELSE 0 END)
           |      // nullif(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_a_cents,
           |    CAST(sum(CASE WHEN arm = 'B' THEN cents ELSE 0 END)
           |      // nullif(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END), 0) AS BIGINT) AS mean_b_cents
           |  FROM base)
           |SELECT p.segment, p.mean_a_cents, p.mean_b_cents,
           |  CAST(sign(p.mean_a_cents - p.mean_b_cents) AS BIGINT) AS diff_sign,
           |  sign(p.mean_a_cents - p.mean_b_cents) <> sign(o.mean_a_cents - o.mean_b_cents)
           |    AND sign(p.mean_a_cents - p.mean_b_cents) <> 0 AS contradicts_overall
           |FROM per p CROSS JOIN ov o
           |UNION ALL
           |SELECT segment, mean_a_cents, mean_b_cents,
           |  CAST(sign(mean_a_cents - mean_b_cents) AS BIGINT), false
           |FROM ov
           |ORDER BY segment""".stripMargin),
  )

  /** q438 — weekly seasonality index: each ISO weekday's share of event
    * volume against the uniform 1/7 expectation, in exact ppm
    * (index 10⁶ = flat; the readout behind "don't compare Monday to
    * Saturday" traffic adjustments and q308's seasonal-naive choice).
    * Weekday via the q353 ISO discipline (Spark weekday()+1 ≡ DuckDB
    * isodow — dayofweek() is the documented Sunday-based trap). One
    * events-sized aggregate to 7 rows. */
  val q438 = QuerySpec(
    "q438_weekday_seasonality",
    (s, d) => {
      import s.implicits._
      val per = Tables.fanOut(Tables.events(s, d), col("event_id"))
        .select(expr("weekday(ts) + 1").as("dw"))
        .groupBy($"dw").agg(count(lit(1)).as("n"))
      per.crossJoin(broadcast(per.agg(sum($"n").as("tot"))))
        .select($"dw".cast("int").as("dw"), $"n",
          expr("n * 7L * 1000000L div tot").as("seasonal_index_ppm"))
        .withColumn("above_trend", $"seasonal_index_ppm" > 1000000L)
        .orderBy($"dw")
    },
    Some("""WITH per AS (
           |  SELECT CAST(isodow(ts) AS INT) AS dw, count(*) AS n
           |  FROM events GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM per)
           |SELECT dw, CAST(n AS BIGINT) AS n,
           |  CAST(n * 7 * 1000000 // tot AS BIGINT) AS seasonal_index_ppm,
           |  n * 7 * 1000000 // tot > 1000000 AS above_trend
           |FROM per CROSS JOIN tot ORDER BY dw""".stripMargin),
  )

  /** q432 — sessionization-timeout sensitivity sweep: how many sessions
    * does each candidate inactivity gap τ produce, and how long are
    * they — the curve a session-gap config (q43's 30-minute constant)
    * is actually chosen from. A session STARTS at a user's first event
    * or after a gap > τ, so n_sessions(τ) = Σ starts falls out of ONE
    * lag pass: each (user, gap) row contributes a conditional count to
    * every τ simultaneously (three conditional sums in one aggregate —
    * no per-τ re-scan, no crossJoin fan-out), then a 3-row unpivot.
    * Exact integers throughout. */
  val q432 = QuerySpec(
    "q432_session_timeout_sweep",
    (s, d) => {
      import s.implicits._
      val gaps = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .select($"user_id", $"ts", $"event_id")
        .withColumn("gap_s",
          expr("(unix_micros(ts) - lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) div 1000000L"))
      def starts(tau: Long) =
        sum(when($"gap_s".isNull || $"gap_s" > tau, 1L).otherwise(0L))
      val one = gaps.agg(count(lit(1)).as("n_events"),
        starts(300L).as("s300"), starts(1800L).as("s1800"),
        starts(7200L).as("s7200"))
      one.select(expr(
        """stack(3, 300L, s300, 1800L, s1800, 7200L, s7200)
          | AS (tau_s, n_sessions)""".stripMargin.replaceAll("\n", "")),
        $"n_events")
        .select($"tau_s", $"n_sessions",
          expr("n_events * 1000L div n_sessions").as("events_per_session_milli"))
        .orderBy($"tau_s")
    },
    Some("""WITH gaps AS (
           |  SELECT user_id,
           |    (epoch_us(ts) - lag(epoch_us(ts))
           |      OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
           |  FROM events),
           |agg AS (SELECT count(*) AS n_events,
           |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 300 THEN 1 ELSE 0 END) AS BIGINT) AS s300,
           |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS s1800,
           |    CAST(sum(CASE WHEN gap_s IS NULL OR gap_s > 7200 THEN 1 ELSE 0 END) AS BIGINT) AS s7200
           |  FROM gaps),
           |u AS (
           |  SELECT CAST(300 AS BIGINT) AS tau_s, s300 AS n_sessions, n_events FROM agg
           |  UNION ALL SELECT 1800, s1800, n_events FROM agg
           |  UNION ALL SELECT 7200, s7200, n_events FROM agg)
           |SELECT tau_s, n_sessions,
           |  CAST(n_events * 1000 // n_sessions AS BIGINT) AS events_per_session_milli
           |FROM u ORDER BY tau_s""".stripMargin),
  )

  /** q426 — sample-ratio-mismatch (SRM) audit, stratified: the first
    * thing a trustworthy A/B readout checks — did the 50/50 assignment
    * actually DELIVER 50/50 units, per stratum? Units are customers,
    * arms are the q373-style deterministic md5 split, strata are market
    * segments. The χ² statistic against the 1:1 expectation reduces to
    * exact integers — Σ(oᵢ−n/2)²/(n/2) = ((2a−n)² + (2b−n)²)/(2n) — so
    * chi2_milli is engine-exact, flagged against the df=1 95% critical
    * value (3.841, a precomputed constant like q343's Benford table).
    * One customer-sized aggregate to a |segments|-row frame. */
  val q426 = QuerySpec(
    "q426_srm_audit",
    (s, d) => {
      import s.implicits._
      Tables.fanOut(Tables.customer(s, d), col("c_custkey"))
        .withColumn("arm",
          when(substring(md5(concat(lit("arm|"), $"c_custkey".cast("string"))
            .cast("binary")), 1, 1) < "8", "A").otherwise("B"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(when($"arm" === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when($"arm" === "B", 1L).otherwise(0L)).as("n_b"))
        .withColumn("chi2_milli", expr(
          """1000L * ((2L * n_a - n) * (2L * n_a - n)
            | + (2L * n_b - n) * (2L * n_b - n)) div (2L * n)""".stripMargin
            .replaceAll("\n", "")))
        .withColumn("srm_flag", $"chi2_milli" > 3841L)
        .orderBy($"c_mktsegment")
    },
    Some("""WITH a AS (
           |  SELECT c_mktsegment,
           |    CASE WHEN substr(md5('arm|' || c_custkey), 1, 1) < '8'
           |      THEN 'A' ELSE 'B' END AS arm
           |  FROM customer)
           |SELECT c_mktsegment, count(*) AS n,
           |  CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           |  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           |  CAST(1000 * ((2 * sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) - count(*))
           |        * (2 * sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) - count(*))
           |      + (2 * sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) - count(*))
           |        * (2 * sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) - count(*)))
           |    // (2 * count(*)) AS BIGINT) AS chi2_milli,
           |  CAST(1000 * ((2 * sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) - count(*))
           |        * (2 * sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) - count(*))
           |      + (2 * sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) - count(*))
           |        * (2 * sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) - count(*)))
           |    // (2 * count(*)) AS BIGINT) > 3841 AS srm_flag
           |FROM a GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
  )

  /** q424 — first-order Markov next-event model, evaluated HELD-OUT:
    * the cheapest "is user behavior predictable" readout, and the
    * data-engine half of a model-eval loop done honestly — the
    * transition model is fit on TRAIN users only (q60's salted-md5
    * split membership, growth-stable) and scored on TEST users'
    * transitions, so the accuracy is a generalization number, not a
    * resubstitution one. Transitions are per-user lead() pairs
    * (user-partitioned windows, bounded state); the fitted model is a
    * ≤|types|² count frame whose per-state argmax (tie → lexically
    * smallest next event) broadcasts into the test stream; accuracy is
    * exact integer ppm per state. Two corpus passes (train pairs,
    * test pairs), both one shuffle on user_id. */
  val q424 = QuerySpec(
    "q424_markov_heldout_accuracy",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables.fanOut(Tables.events(s, d), col("user_id"))
        .select($"user_id", $"event_type".as("cur"),
          lead($"event_type", 1).over(wu).as("next"))
        .filter($"next".isNotNull)
        .withColumn("split",
          when(substring(md5($"user_id".cast("string").cast("binary")), 1, 2)
            < "cd", "train").otherwise("test"))
      val model = pairs.filter($"split" === "train")
        .groupBy($"cur", $"next").agg(count(lit(1)).as("cnt"))
      val wm = Window.partitionBy($"cur").orderBy($"cnt".desc, $"next")
      val pred = model.withColumn("rn", row_number().over(wm))
        .filter($"rn" === 1)
        .select($"cur", $"next".as("pred"))
      pairs.filter($"split" === "test")
        .join(broadcast(pred), Seq("cur"), "left")
        .groupBy($"cur")
        .agg(first($"pred").as("predicted"),
          count(lit(1)).as("n_test"),
          sum(when($"next" === $"pred", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_ppm", expr("n_correct * 1000000L div n_test"))
        .orderBy($"cur")
    },
    Some("""WITH pairs AS (
           |  SELECT user_id, event_type AS cur,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next,
           |    CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 2) < 'cd'
           |      THEN 'train' ELSE 'test' END AS split
           |  FROM events),
           |p2 AS (SELECT * FROM pairs WHERE next IS NOT NULL),
           |model AS (SELECT cur, next, count(*) AS cnt FROM p2
           |  WHERE split = 'train' GROUP BY 1, 2),
           |pred AS (SELECT cur, next AS pred FROM (
           |    SELECT cur, next, row_number() OVER
           |      (PARTITION BY cur ORDER BY cnt DESC, next) AS rn FROM model)
           |  WHERE rn = 1)
           |SELECT cur, any_value(pred) AS predicted, count(*) AS n_test,
           |  CAST(sum(CASE WHEN next = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           |  CAST(sum(CASE WHEN next = pred THEN 1 ELSE 0 END) * 1000000
           |    // count(*) AS BIGINT) AS acc_ppm
           |FROM p2 LEFT JOIN pred USING (cur)
           |WHERE split = 'test'
           |GROUP BY cur ORDER BY cur""".stripMargin),
  )

  val all: Seq[QuerySpec] =
    Seq(q118, q119, q120, q121, q123, q124, q127, q128, q131, q132, q134, q137,
      q139, q147, q153, q157, q165, q191, q193, q198, q199, q217, q222, q227,
      q246, q247, q254, q255, q264, q272, q276, q280, q281, q282, q284, q285,
      q286, q288, q289, q291, q292, q293, q295, q297, q298, q299, q300, q303,
      q306, q308, q311, q312, q314, q315, q316, q319, q321, q323, q325, q331,
      q332, q333, q334, q335, q336, q339, q373, q381, q414, q415, q424, q426,
      q432, q437, q438, q439, q441, q444, q445, q446, q450, q451, q453)
}
