package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Corr, Exact, Relational, Time}
import graft.ops.Exact.{cents, davg, dsum}
import graft.queries.{CoverageQueries, CurationQueries, LlmQueries, MediaQueries, PipelineQueries, Q}

/** Driver contract: one named query (+ DuckDB oracle SQL) per operator row
  * of SURVEY.md §2. Query names carry the inventory id (`j1_`, `w1_`, …) so
  * coverage is auditable line by line; COVERAGE.md maps rows → queries.
  *
  * Conventions shared by every query/oracle pair (driver hash-compares
  * column-sorted values):
  *   - identical column aliases on both sides;
  *   - a total ORDER BY on a unique key;
  *   - no raw timestamps in output (epoch-second bigints or formatted
  *     strings instead — avoids TIMESTAMP vs TIMESTAMPTZ schema drift);
  *   - double aggregation via exact decimal/integer arithmetic
  *     ([[graft.ops.Exact]]), rounded to 6 dp where division is involved;
  *   - predicates that bound output size with fixed constants (not scale
  *     factors), so the same query is correct at sf0.001 and cheap at
  *     sf0.1+ (pair joins never grow quadratically with SF).
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Catalog.load(s, dir, name)

  /** Epoch seconds of an ISO local datetime interpreted as UTC (matches the
    * session timezone and DuckDB's naive timestamps).
    */
  private[graft] def sec(iso: String): Long =
    java.time.LocalDateTime.parse(iso).toEpochSecond(java.time.ZoneOffset.UTC)

  private[graft] val jan1 = sec("2024-01-01T00:00:00")
  private[graft] val jan2 = sec("2024-01-02T00:00:00")
  private[graft] val jan3 = sec("2024-01-03T00:00:00")
  private[graft] val jan5 = sec("2024-01-05T00:00:00")
  private[graft] val jan8 = sec("2024-01-08T00:00:00")
  private val jan15 = sec("2024-01-15T00:00:00")
  private[graft] val jan31 = sec("2024-01-31T00:00:00")

  private[graft] def tsLit(epochSec: Long): Column = timestamp_seconds(lit(epochSec))
  /** DuckDB naive-timestamp literal for the same epoch second. Explicit
    * second-resolution pattern: LocalDateTime.toString drops ":00" seconds,
    * which DuckDB's timestamp parser rejects.
    */
  private[graft] def tsSql(epochSec: Long): String =
    "TIMESTAMP '" + java.time.LocalDateTime
      .ofEpochSecond(epochSec, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss")) + "'"

  /** DuckDB epoch-seconds of a naive timestamp (floor, integer math). */
  private[graft] val EP = "(epoch_ms(ts)//1000)"

  // ---------------------------------------------------------------- scans /
  // projections / filters (S1, P1-P10)

  private val qS1 = Q("s1_scan_project",
    (s, d) => T(s, d, "supplier")
      .select(col("s_suppkey"), col("s_name").as("supplier_name"),
        col("s_acctbal"))
      .orderBy("s_suppkey"),
    Some("""SELECT s_suppkey, s_name AS supplier_name, s_acctbal
      FROM supplier ORDER BY s_suppkey"""))

  private val qP3 = Q("p3_date_range",
    (s, d) => T(s, d, "lineitem")
      .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
             col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      ORDER BY l_orderkey, l_linenumber"""))

  private val qP4 = Q("p4_time_of_day",
    (s, d) => T(s, d, "events")
      .where(date_format(col("ts"), "HH:mm:ss")
        .between("09:30:00", "16:00:00"))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, value FROM events
      WHERE strftime(ts, '%H:%M:%S') BETWEEN '09:30:00' AND '16:00:00'
      ORDER BY event_id"""))

  private val qP5 = Q("p5_p8_inlist_prefix",
    (s, d) => T(s, d, "part")
      .where(substring(col("p_type"), 1, 1) === "E" &&
             col("p_brand").isin("Brand#13", "Brand#5", "Brand#21"))
      .select("p_partkey", "p_name", "p_brand", "p_type")
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, p_name, p_brand, p_type FROM part
      WHERE substr(p_type, 1, 1) = 'E'
        AND p_brand IN ('Brand#13', 'Brand#5', 'Brand#21')
      ORDER BY p_partkey"""))

  // Dynamic disjunction-of-conjunctions with null-normalized compare
  // (reference correlation_matrix_exporter.py:78-85 builds exactly this
  // OR-of-ANDs predicate from the ticker lookup; coalesce ≈ fillna('')).
  private val qP6 = Q("p6_null_disjunction",
    (s, d) => T(s, d, "events")
      .where((col("user_id") === 1 &&
                coalesce(col("event_type"), lit("")) === "click") ||
             (col("user_id") === 2 &&
                coalesce(col("event_type"), lit("")) === "view") ||
             (col("user_id") === 3 &&
                coalesce(col("event_type"), lit("")) === ""))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, value FROM events
      WHERE (user_id = 1 AND coalesce(event_type, '') = 'click')
         OR (user_id = 2 AND coalesce(event_type, '') = 'view')
         OR (user_id = 3 AND coalesce(event_type, '') = '')
      ORDER BY event_id"""))

  // Point-in-time universe snapshot: distinct ids active in a window (P10)
  private val qP10 = Q("p10_snapshot_distinct",
    (s, d) => T(s, d, "events")
      .where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan8))
      .select("user_id").distinct()
      .orderBy("user_id"),
    Some(s"""SELECT DISTINCT user_id FROM events
      WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan8)}
      ORDER BY user_id"""))

  // ----------------------------------------------------------------- joins

  // J1/J2/P9: inner equi+interval join — validity spells built per customer
  // from 'F' orders; 'O' orders are the dated facts falling inside them.
  private val qJ1 = Q("j1_interval_join",
    (s, d) => {
      // dim loads `orders` on its own: a second scan gets its own
      // attributes, so joinValid's fact(key) === dim(key) compares two
      // relations' keys, not one attribute with itself
      val dim = T(s, d, "orders").where(col("o_orderstatus") === "F")
        .groupBy("o_custkey")
        .agg(min("o_orderdate").as("start_dt"),
             max("o_orderdate").as("end_dt"))
      val fact = T(s, d, "orders").where(col("o_orderstatus") === "O")
      Relational.joinValid(fact, dim, "o_custkey",
          "o_orderdate", "start_dt", "end_dt")
        .groupBy(fact("o_custkey").as("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
             dsum(fact("o_totalprice")).as("spend"))
        .orderBy("o_custkey")
    },
    Some("""WITH dim AS (
        SELECT o_custkey, min(o_orderdate) AS start_dt,
               max(o_orderdate) AS end_dt
        FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
      SELECT f.o_custkey AS o_custkey, count(*) AS n_orders,
             CAST(sum(CAST(f.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS spend
      FROM orders f JOIN dim d ON f.o_custkey = d.o_custkey
        AND f.o_orderdate BETWEEN d.start_dt AND d.end_dt
      WHERE f.o_orderstatus = 'O'
      GROUP BY f.o_custkey ORDER BY o_custkey"""))

  // J3: fact × small dims, broadcast both dims (the ≤500-row ticker lookup
  // shape). Revenue in exact integer cents² to dodge double-sum drift.
  private val qJ3 = Q("j3_broadcast_lookup",
    (s, d) => {
      val li = T(s, d, "lineitem")
      val supp = T(s, d, "supplier")
      val nat = T(s, d, "nation")
      li.join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nat), supp("s_nationkey") === nat("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          (sum(cents(col("l_extendedprice")) *
               (lit(100L) - cents(col("l_discount")))) / 10000.0)
            .as("revenue"))
        .orderBy("n_name")
    },
    Some("""SELECT n_name, count(*) AS n_items,
        CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
                 (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
             AS BIGINT) / 10000.0 AS revenue
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""))

  // J5: backward as-of join — for each purchase, the latest click value at
  // or before it for the same user (scalable union-sort form, no N+1).
  private val qJ5 = Q("j5_asof_join",
    (s, d) => {
      val ev = T(s, d, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_seq"),
          col("value").as("last_click_value"))
      Relational.asofBackward(purchases, clicks, "user_id", "ts",
          "click_seq", "last_click_value")
        .select("event_id", "user_id", "value", "last_click_value")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, p.value,
        (SELECT c.value FROM events c
         WHERE c.user_id = p.user_id AND c.event_type = 'click'
           AND c.ts <= p.ts
         ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_value
      FROM events p WHERE p.event_type = 'purchase'
      ORDER BY p.event_id"""))

  // J6: sequential lag + binary label (prev vs curr close,
  // pyg_graphs.py:184-195)
  private val qJ6 = Q("j6_lag_label",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      T(s, d, "events")
        .withColumn("prev_value", lag("value", 1).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          col("prev_value"),
          (col("value") > col("prev_value")).cast("int").as("up_label"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, value, prev_value,
        CAST(value > prev_value AS INTEGER) AS up_label
      FROM (SELECT event_id, user_id, value,
              lag(value, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS prev_value
            FROM events)
      ORDER BY event_id"""))

  private val qJ7 = Q("j7_semi_join",
    (s, d) => {
      val c = T(s, d, "customer")
      val o = T(s, d, "orders").where(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      ORDER BY c_custkey"""))

  private val qJ8 = Q("j8_anti_join",
    (s, d) => {
      val c = T(s, d, "customer")
      val o = T(s, d, "orders").where(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      ORDER BY c_custkey"""))

  // ---------------------------------------------------------- aggregations

  // A1: collapse simultaneous ticks to a per-bucket mean (hash agg with
  // map-side partials — correlation_matrix_exporter.py:109)
  private val qA1 = Q("a1_group_mean",
    (s, d) => T(s, d, "events")
      .where(col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan3))
      .groupBy(Time.bucketSec(col("ts"), 60).as("bucket"), col("user_id"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("bucket", "user_id"),
    Some(s"""SELECT $EP - $EP % 60 AS bucket, user_id, count(*) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM events
      WHERE ts >= ${tsSql(jan2)} AND ts < ${tsSql(jan3)}
      GROUP BY 1, 2 ORDER BY bucket, user_id"""))

  // A2: pandas drop_duplicates(keep='first') under an explicit order
  private val qA2 = Q("a2_keep_first",
    (s, d) => Relational.keepFirst(
        T(s, d, "events"), Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id").as("first_event_id"),
        col("value").as("first_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"))
      .orderBy("user_id"),
    Some("""SELECT user_id, event_id AS first_event_id,
        value AS first_value,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn FROM events)
      WHERE rn = 1 ORDER BY user_id"""))

  // A6: long→wide pivot with a fixed key set (column names = event types)
  private val qA6 = Q("a6_pivot_wide",
    (s, d) => T(s, d, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(davg(col("value")))
      .orderBy("user_id"),
    Some {
      val cell = (t: String) =>
        s"""round(CAST(sum(CASE WHEN event_type = '$t'
             THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
           / count(CASE WHEN event_type = '$t' THEN value END), 6)
           AS "$t""""
      s"""SELECT user_id, ${Seq("click", "error", "purchase", "signup", "view")
            .map(cell).mkString(", ")}
        FROM events GROUP BY user_id ORDER BY user_id"""
    })

  // A7: keys present in every day of the window (column-set intersection
  // across groups, correlation_matrix_exporter.py:200-207)
  private val qA7 = Q("a7_presence_all_days",
    (s, d) => {
      val ev = T(s, d, "events")
        .where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan8))
        .withColumn("day", Time.bucketSec(col("ts"), 86400))
      val full = ev.groupBy("user_id")
        .agg(countDistinct("day").as("nd"))
        .where(col("nd") === 7)
        .select("user_id")
      ev.join(broadcast(full), Seq("user_id"), "left_semi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), davg(col("value")).as("avg_value"))
        .orderBy("user_id")
    },
    Some(s"""WITH w AS (
        SELECT user_id, $EP - $EP % 86400 AS day, value FROM events
        WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan8)}),
      full_users AS (
        SELECT user_id FROM w GROUP BY user_id
        HAVING count(DISTINCT day) = 7)
      SELECT w.user_id, count(*) AS n_events,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM w WHERE w.user_id IN (SELECT user_id FROM full_users)
      GROUP BY w.user_id ORDER BY user_id"""))

  // ------------------------------------------------------- sorts / set ops

  private val qO2 = Q("o2_topk",
    (s, d) => T(s, d, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""))

  private val qU1 = Q("u1_union_all",
    (s, d) => {
      val ev = T(s, d, "events")
      val a = ev.where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan3) &&
        col("event_type") === "click")
      val b = ev.where(col("ts") >= tsLit(jan5) && col("ts") < tsLit(jan8) &&
        col("event_type") === "view")
      a.unionByName(b)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("user_id", "event_type")
    },
    Some(s"""SELECT user_id, event_type, count(*) AS n FROM (
        SELECT user_id, event_type FROM events
        WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan3)}
          AND event_type = 'click'
        UNION ALL
        SELECT user_id, event_type FROM events
        WHERE ts >= ${tsSql(jan5)} AND ts < ${tsSql(jan8)}
          AND event_type = 'view')
      GROUP BY user_id, event_type ORDER BY user_id, event_type"""))

  private val qU3 = Q("u3_set_ops",
    (s, d) => {
      val ev = T(s, d, "events")
      val first = ev.where(col("ts") < tsLit(jan15)).select("user_id")
      val second = ev.where(col("ts") >= tsLit(jan15)).select("user_id")
      first.intersect(second).withColumn("tag", lit("both"))
        .unionByName(first.except(second).withColumn("tag", lit("first_only")))
        .orderBy("tag", "user_id")
    },
    Some(s"""SELECT user_id, 'both' AS tag FROM (
        SELECT user_id FROM events WHERE ts < ${tsSql(jan15)}
        INTERSECT
        SELECT user_id FROM events WHERE ts >= ${tsSql(jan15)})
      UNION ALL
      SELECT user_id, 'first_only' AS tag FROM (
        SELECT user_id FROM events WHERE ts < ${tsSql(jan15)}
        EXCEPT
        SELECT user_id FROM events WHERE ts >= ${tsSql(jan15)})
      ORDER BY tag, user_id"""))

  // ------------------------------------------------------ scalar functions

  // F2: split + element pick with null-when-absent semantics
  private val qF2 = Q("f2_string_split",
    (s, d) => T(s, d, "part")
      .select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("tok1"),
        // try_element_at: null-when-absent even under ANSI mode (plain
        // element_at throws on out-of-bounds since Spark 4); the outer
        // nullif mirrors the oracle's absent-token-as-NULL convention
        // for an EMPTY second token too (consecutive delimiters), so
        // the two engines cannot disagree on "" vs NULL
        nullif(try_element_at(split(col("p_name"), " "), lit(2)),
          lit("")).as("tok2"))
      .orderBy("p_partkey"),
    Some("""SELECT p_partkey, split_part(p_name, ' ', 1) AS tok1,
        nullif(split_part(p_name, ' ', 2), '') AS tok2
      FROM part ORDER BY p_partkey"""))

  // F4/F5: format → string → reparse round-trip (to_timestamp with
  // coerce-to-null ≈ pandas errors='coerce')
  private val qF4 = Q("f4_f5_ts_roundtrip",
    (s, d) => T(s, d, "events")
      .where(col("ts") < tsLit(jan2))
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("fmt"),
        unix_timestamp(
          to_timestamp(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")))
          .as("reparsed_epoch"))
      .orderBy("event_id"),
    Some(s"""SELECT event_id,
        strftime(ts, '%Y-%m-%d %H:%M:%S') AS fmt,
        epoch_ms(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                          '%Y-%m-%d %H:%M:%S'))//1000 AS reparsed_epoch
      FROM events WHERE ts < ${tsSql(jan2)} ORDER BY event_id"""))

  // F7/F8: generated business-day calendar (pd.bdate_range analog)
  private val qF8 = Q("f8_business_days",
    (s, d) => s.range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-12-31")),
        expr("interval 1 day"))).as("d"))
      .withColumn("dow", expr("weekday(d)"))
      .where(col("dow") < 5)
      .orderBy("d"),
    Some("""SELECT CAST(gs.g AS DATE) AS d, isodow(gs.g) - 1 AS dow
      FROM generate_series(DATE '1995-01-01', DATE '1995-12-31',
                           INTERVAL 1 DAY) gs(g)
      WHERE isodow(gs.g) - 1 < 5 ORDER BY d"""))

  // F12: wide→long melt (matrix stack, pyg_graphs.py:92-94): pivot the
  // per-user type means wide, then unpivot back to long
  private val qF12 = Q("f12_unpivot_melt",
    (s, d) => {
      val types = Seq("click", "view")
      // pivot BOTH the mean and a row count per type into struct cells:
      // post-pivot, a user with no rows of a type and a user whose rows
      // are all value-NULL both have a null MEAN cell, but only the
      // former has a null count — filtering the unpivoted cells on the
      // count keeps the oracle's GROUP BY semantics, which emits a
      // NULL-avg row for the all-null group
      val wide = T(s, d, "events")
        .groupBy("user_id").pivot("event_type", types)
        .agg(davg(col("value")).as("avg"), count(lit(1)).as("n"))
      wide.select(col("user_id") +: types.map(t =>
          struct(col(s"${t}_avg").as("avg"), col(s"${t}_n").as("n"))
            .as(t)): _*)
        .unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "cell")
        .where(col("cell.n").isNotNull)
        .select(col("user_id"), col("event_type"),
          col("cell.avg").as("avg_value"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id, event_type ORDER BY user_id, event_type"""))

  // F14: JSON scalar extraction on events.props
  private val qF14 = Q("f14_json_extract",
    (s, d) => T(s, d, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("ts") < tsLit(jan3))
      .orderBy("event_id"),
    Some(s"""SELECT event_id,
        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
      FROM events WHERE ts < ${tsSql(jan3)} ORDER BY event_id"""))

  // ----------------------------------------- resampling / windows (W1-W4)

  /** DuckDB mirror of [[Time.resampleFfill]] over events for users < nUsers
    * in [a,b) at stepSec, as a WITH-clause prefix defining `filled`.
    */
  private[graft] def ffillSqlCte(nUsers: Int, a: Long, b: Long, step: Long): String =
    s"""WITH b AS (
        SELECT $EP - $EP % $step AS bucket, user_id,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS v
        FROM events
        WHERE user_id < $nUsers AND ts >= ${tsSql(a)} AND ts < ${tsSql(b)}
        GROUP BY 1, 2),
      g AS (
        SELECT r.range AS bucket, k.user_id
        FROM range($a, $b, $step) r CROSS JOIN
             (SELECT DISTINCT user_id FROM b) k),
      filled AS (
        SELECT g.bucket, g.user_id,
          last_value(b.v IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
        FROM g LEFT JOIN b ON g.bucket = b.bucket AND g.user_id = b.user_id)"""

  private[graft] def resampled(s: SparkSession, d: String, nUsers: Int,
                        a: Long, b: Long, step: Long): DataFrame =
    resampledParts(s, d, nUsers, a, b, step)._2

  /** [[resampled]] exposing `(bucketed, filled)` — the bucketed stage is
    * the cheap cached prefix the id-universe collect should ride (see
    * [[graft.ops.Time.resampleFfillParts]]).
    */
  private[graft] def resampledParts(s: SparkSession, d: String, nUsers: Int,
                        a: Long, b: Long, step: Long): (DataFrame, DataFrame) =
    Time.resampleFfillParts(s,
      T(s, d, "events").where(col("user_id") < nUsers),
      "user_id", "ts", "value", a, b, step,
      davg(col("value")), keysHint = nUsers)

  // W1: resample to a 1-minute grid with forward fill (flagship #2 —
  // correlation_matrix_exporter.py:111-116)
  private val qW1 = Q("w1_resample_ffill",
    (s, d) => resampled(s, d, 5, jan2, jan3, 60)
      .select(col("bucket"), col("user_id"), col("value").as("price"))
      .orderBy("user_id", "bucket"),
    Some(ffillSqlCte(5, jan2, jan3, 60) +
      " SELECT bucket, user_id, price FROM filled ORDER BY user_id, bucket"))

  // W2: backward-fill variant (notebook cell 15)
  private val qW2 = Q("w2_resample_bfill",
    (s, d) => Time.resampleBfill(s,
        T(s, d, "events").where(col("user_id") < 5),
        "user_id", "ts", "value", jan2, jan3, 60, davg(col("value")),
        keysHint = 5)
      .select(col("bucket"), col("user_id"), col("value").as("next_price"))
      .orderBy("user_id", "bucket"),
    Some(s"""WITH b AS (
        SELECT $EP - $EP % 60 AS bucket, user_id,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS v
        FROM events
        WHERE user_id < 5 AND ts >= ${tsSql(jan2)} AND ts < ${tsSql(jan3)}
        GROUP BY 1, 2),
      g AS (
        SELECT r.range AS bucket, k.user_id
        FROM range($jan2, $jan3, 60) r CROSS JOIN
             (SELECT DISTINCT user_id FROM b) k)
      SELECT g.bucket, g.user_id,
        first_value(b.v IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_price
      FROM g LEFT JOIN b ON g.bucket = b.bucket AND g.user_id = b.user_id
      ORDER BY g.user_id, g.bucket"""))

  // W16 (round 12): the STREAMING resample+ffill ON THE ORACLE GATE —
  // the first streaming operator graded by the DuckDB compare rather
  // than only by stream≡batch specs. The query stages the tick slice
  // in the engine's public encoding (a stream source reads files the
  // engine itself landed — fixture-encoding quirks are the batch
  // catalog's concern), drains Streams.resampleFfillStream over the
  // [jan2, jan3) 5-minute grid, and returns the landed cell table.
  // The staged slice runs through jan8 so post-grid ticks drive the
  // watermark past the grid end — every cell finalizes and the oracle
  // is the batch w1's ffill CTE verbatim, no prefix cut. Grading this
  // on the oracle is only possible because the stream's bucket mean
  // runs Exact.davg's micro-unit kernel, bit-for-bit the batch mean
  // (Streams.FfillState). Re-runs are idempotent: the staged source
  // and checkpoint are per-JVM, so a second drain moves nothing and
  // reads back the same cells.
  private val qW16 = Q("w16_streaming_ffill",
    (s, d) => {
      val srcName = "w16_stream_src"
      // processTable/processPath, NOT table/path: these three dirs carry
      // a streaming checkpoint's lifetime, which is strictly this JVM —
      // under a shared GRAFT_SCRATCH root a stale checkpoint would
      // survive fixture regeneration and read back old cells against a
      // freshly computed oracle.
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").where(col("user_id") < 8 &&
          col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan8))
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val cells = graft.sources.Materialize.processPath(d, "w16_stream_cells")
      val ck = graft.sources.Materialize.processPath(d, "w16_stream_ck")
      graft.streaming.Streams.resampleFfillStream(s, src, cells, ck,
        jan2, jan3, 300, watermark = "30 minutes")
      s.read.parquet(cells)
        .select(col("bucket"), col("user_id"), col("value").as("price"))
        .orderBy("user_id", "bucket")
    },
    Some(ffillSqlCte(8, jan2, jan3, 300) +
      " SELECT bucket, user_id, price FROM filled ORDER BY user_id, bucket"))

  // W17 (round 14): the STREAMING per-span corr matrices ON THE ORACLE
  // GATE — w16 proved the recipe (stage the slice in the engine's own
  // encoding, drain under Trigger.AvailableNow, grade the landed table
  // on a batch-SQL oracle); this applies it to Streams.windowedCorr,
  // the continuous form of the flagship's per-window corr export. The
  // fixture's tick density (~2.2 events/user/day) defines pairwise
  // correlations only at coarse grain, so the continuous deployment
  // here is daily dedup-mean buckets × 7-day spans over 15 series —
  // most pairs co-observe 5-6 daily buckets per span, so the graded
  // matrices carry real rho values, not just nulls. The whole staged
  // slice (through Jan 30) drives the watermark a comfortable 5 days
  // past the last graded span's end (Jan 25), so every graded span has
  // finalized deterministically; rho is rounded at 4 dp on both sides
  // (the UDAF correlates 1e-6-quantized values with exact integer
  // co-moments, DuckDB's corr the raw doubles; they differ far inside
  // the rounding slack). Pairs with undefined rho
  // (fewer than two co-observed buckets, or a constant side) are
  // emitted as null by the UDAF and reinstated in the oracle by a
  // universe cross join — row sets match exactly.
  private val qW17 = Q("w17_streaming_corr",
    (s, d) => {
      val srcName = "w17_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").where(col("user_id") < 15)
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w17_stream_corr")
      val ck = graft.sources.Materialize.processPath(d, "w17_stream_ck")
      graft.streaming.Streams.windowedCorr(s, src, out, ck,
        users = (0L until 15L).toSeq, bucket = "1 day", span = "7 days",
        watermark = "1 hour")
      s.read.parquet(out)
        .where(col("window_start") <= 1705536000L)
        .select(col("window_start"), col("i"), col("j"),
          round(col("rho"), 4).as("rho"))
        .transform(Q.sortedOnce(_, "window_start", "i", "j"))
    },
    Some(s"""WITH b AS (
        SELECT $EP - $EP % 86400 AS bucket, user_id, avg(value) AS v
        FROM events WHERE user_id < 15
        GROUP BY 1, 2),
      u AS (SELECT range AS user_id FROM range(0, 15)),
      spans AS (
        SELECT DISTINCT bucket - bucket % 604800 AS window_start FROM b),
      pairs AS (
        SELECT s.window_start, a.user_id AS i, c.user_id AS j
        FROM spans s CROSS JOIN u a CROSS JOIN u c
        WHERE a.user_id < c.user_id),
      rhos AS (
        SELECT a.bucket - a.bucket % 604800 AS window_start,
          a.user_id AS i, c.user_id AS j, round(corr(a.v, c.v), 4) AS rho
        FROM b a JOIN b c ON a.bucket = c.bucket AND a.user_id < c.user_id
        GROUP BY 1, 2, 3)
      SELECT p.window_start, p.i, p.j, r.rho
      FROM pairs p LEFT JOIN rhos r USING (window_start, i, j)
      WHERE p.window_start <= 1705536000
      ORDER BY p.window_start, p.i, p.j"""))

  // W18 (round 14): the FILLED continuous-corr DEPLOYMENT on the oracle
  // gate — the two chained streaming queries windowedCorr's scaladoc
  // describes, graded end to end: resampleFfillStream lands the
  // forward-filled cell panel (w16's operator, its own oracle row), and
  // windowedCorrFromCells streams per-span corr matrices OFF THE LANDED
  // PANEL — so this row grades the composition the reference's batch
  // flagship corresponds to (ffill, then per-window corr), continuously.
  // The oracle is the batch ffill CTE (w1/w16's, verbatim) feeding a
  // per-span DuckDB corr, with a universe cross join reinstating
  // undefined pairs; 4-dp rounding absorbs the UDAF's 1e-6 input
  // quantization. Cells end AT the grid end, so the corr stream's
  // watermark (maxCellTs − 5 min) finalizes every 4-hour span except
  // the last; grading stops at the 16:00 span on both sides.
  private val qW18 = Q("w18_streaming_corr_filled",
    (s, d) => {
      import s.implicits._
      val srcName = "w18_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").where(col("user_id") < 8 &&
          col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan8))
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val cells = graft.sources.Materialize.processPath(d, "w18_stream_cells")
      val ck1 = graft.sources.Materialize.processPath(d, "w18_stream_ck")
      graft.streaming.Streams.resampleFfillStream(s, src, cells, ck1,
        jan2, jan3, 300, watermark = "30 minutes")
      // the corr universe is the GRID's series set: users with ticks
      // inside [jan2, jan3) — the same distinct the oracle's b CTE
      // carries (a user whose first tick is past the grid end has no
      // cells and no filled rows on either side)
      val users = T(s, d, "events")
        .where(col("user_id") < 8 &&
          col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan3))
        .select("user_id").distinct().as[Long].collect().sorted.toSeq
      val out = graft.sources.Materialize.processPath(d, "w18_corr_out")
      val ck2 = graft.sources.Materialize.processPath(d, "w18_corr_ck")
      graft.streaming.Streams.windowedCorrFromCells(s, cells, out, ck2,
        users, bucket = "5 minutes", span = "4 hours",
        watermark = "5 minutes")
      s.read.parquet(out)
        .where(col("window_start") <= jan2 + 57600L)
        .select(col("window_start"), col("i"), col("j"),
          round(col("rho"), 4).as("rho"))
        .transform(Q.sortedOnce(_, "window_start", "i", "j"))
    },
    Some(ffillSqlCte(8, jan2, jan3, 300) +
      s""", u AS (SELECT DISTINCT user_id FROM b),
      spans AS (
        SELECT DISTINCT bucket - bucket % 14400 AS window_start FROM g),
      pairs AS (
        SELECT s.window_start, a.user_id AS i, c.user_id AS j
        FROM spans s CROSS JOIN u a CROSS JOIN u c
        WHERE a.user_id < c.user_id),
      rhos AS (
        SELECT a.bucket - a.bucket % 14400 AS window_start,
          a.user_id AS i, c.user_id AS j,
          round(corr(a.price, c.price), 4) AS rho
        FROM filled a JOIN filled c
          ON a.bucket = c.bucket AND a.user_id < c.user_id
        GROUP BY 1, 2, 3)
      SELECT p.window_start, p.i, p.j, r.rho
      FROM pairs p LEFT JOIN rhos r USING (window_start, i, j)
      WHERE p.window_start <= ${jan2 + 57600L}
      ORDER BY p.window_start, p.i, p.j"""))

  // W19 (round 14): STREAMING SESSIONIZATION on the oracle gate — the
  // third streaming operator class graded by DuckDB (after the ffill
  // grid w16 and the corr matrices w17/w18), same staged-slice +
  // AvailableNow recipe. session_window's native merging state closes
  // a session after 30 idle minutes: start = first event, end = last
  // event + gap, a NEW session when the next event lands exactly at
  // the previous end (strict overlap merge) — the oracle mirrors that
  // boundary with a `>= gap` break in a gaps-and-islands rebuild.
  // Grading is deterministic: only sessions STARTING inside
  // [jan2, jan3) are returned, and at the fixture's tick density a
  // 30-minute-gap chain cannot reach the slice end minus the
  // watermark, so every graded session has provably closed.
  private val qW19 = Q("w19_streaming_sessions",
    (s, d) => {
      val srcName = "w19_stream_src"
      // user_id < 50 (not w16's 8): the wider slice carries multi-event
      // sessions inside the graded day, so the gap-merge logic is
      // graded on real merges, not only singleton windows
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").where(col("user_id") < 50 &&
          col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan8))
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w19_sessions")
      val ck = graft.sources.Materialize.processPath(d, "w19_sessions_ck")
      graft.streaming.Streams.sessionStream(s, src, out, ck,
        gap = "30 minutes", watermark = "1 hour")
      s.read.parquet(out)
        .where(col("session_start") >= jan2 && col("session_start") < jan3)
        .select("user_id", "session_start", "session_end", "n_events")
        .transform(Q.sortedOnce(_, "user_id", "session_start"))
    },
    Some(s"""WITH e AS (
        SELECT user_id, ts FROM events
        WHERE user_id < 50 AND ts >= ${tsSql(jan2)} AND ts < ${tsSql(jan8)}),
      m AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
            THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      si AS (
        SELECT user_id, ts,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM m),
      sess AS (
        SELECT user_id,
          epoch_ms(min(ts))//1000 AS session_start,
          epoch_ms(max(ts))//1000 + 1800 AS session_end,
          count(*) AS n_events
        FROM si GROUP BY user_id, sid)
      SELECT user_id, session_start, session_end, n_events
      FROM sess
      WHERE session_start >= $jan2 AND session_start < $jan3
      ORDER BY user_id, session_start"""))

  // W20 (round 15): the STREAM-STREAM INTERVAL JOIN on the oracle gate —
  // the fifth streaming operator class graded by DuckDB (after the
  // ffill grid w16, the corr matrices w17/w18, and sessionization w19),
  // same staged-slice + AvailableNow recipe. Streams.clickViewJoin
  // matches each click to the same user's views within ±30 minutes;
  // both sides carry watermarks and the join condition carries the time
  // bound, so buffered state is evicted once the watermark clears the
  // interval — the only unbounded-safe two-stream join shape.
  // Determinism argument: the staged slice is coalesced to ONE parquet
  // file, so the AvailableNow drain is a single micro-batch whose
  // starting watermark is 0 — no row can be classified late, and a
  // stream-stream INNER join then emits exactly the batch join's match
  // set (matches emit when both rows have arrived; state-eviction
  // timing affects only memory, never the inner-join result). The
  // oracle is the plain batch interval join over the same fixture rows.
  private val qW20 = Q("w20_streaming_interval_join",
    (s, d) => {
      val srcName = "w20_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").coalesce(1)
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w20_joined")
      val ck = graft.sources.Materialize.processPath(d, "w20_ck")
      graft.streaming.Streams.clickViewJoin(s, src, out, ck,
        window = "30 minutes", watermark = "1 hour")
      s.read.parquet(out)
        .select("event_id_c", "event_id_v", "user_id_c", "click_sec",
          "view_sec")
        .transform(Q.sortedOnce(_, "event_id_c", "event_id_v"))
    },
    Some("""SELECT c.event_id AS event_id_c, v.event_id AS event_id_v,
        c.user_id AS user_id_c,
        (epoch_ms(c.ts)//1000) AS click_sec,
        (epoch_ms(v.ts)//1000) AS view_sec
      FROM events c JOIN events v ON c.user_id = v.user_id
        AND v.ts BETWEEN c.ts - INTERVAL 30 MINUTE
                     AND c.ts + INTERVAL 30 MINUTE
      WHERE c.event_type = 'click' AND v.event_type = 'view'
      ORDER BY event_id_c, event_id_v"""))

  // W21 (round 15): STATEFUL STREAMING DEDUP on the oracle gate — the
  // sixth streaming operator class graded by DuckDB, completing the
  // set (every streaming operator Streams.scala exposes now has either
  // an oracle row or is a composition of ones that do). The staged
  // source replays the whole events slice TWICE — the second copy
  // ts-shifted +1 h but carrying the IDENTICAL (event_id, user_id,
  // value) payload, exactly the projection dedupStream emits — so the
  // drain genuinely contracts 2× input to one row per event_id through
  // flatMapGroupsWithState's first-seen state, across however many
  // micro-batches the file source schedules. Payload-identical
  // duplicates make the kept row's bytes independent of arrival order,
  // which is what puts a first-seen-wins operator on a deterministic
  // oracle; event_ids are unique in the fixture, so keep-first over the
  // doubled stream IS the original row set and the oracle is a plain
  // projection of the events table.
  private val qW21 = Q("w21_streaming_dedup",
    (s, d) => {
      val srcName = "w21_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        val e = T(s, d, "events")
        e.unionByName(
          e.withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")))
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w21_dedup")
      val ck = graft.sources.Materialize.processPath(d, "w21_ck")
      graft.streaming.Streams.dedupStream(s, src, out, ck)
      s.read.parquet(out)
        .select("event_id", "user_id", "value")
        .transform(Q.sortedOnce(_, "event_id"))
    },
    Some("SELECT event_id, user_id, value FROM events ORDER BY event_id"))

  // W24 (round 18): the WATERMARK-BOUNDED streaming dedup
  // (dropDuplicatesWithinWatermark — the continuous deployment's form
  // of w21, whose NoTimeout state is corpus-sized) on the oracle gate.
  // Staging is w21's payload-identical doubled slice with the twin
  // ts-shifted +30 min (inside the 1 h delay, so the drop is in the
  // operator's GUARANTEED regime), coalesced to ONE file like
  // w20/w22/w23: a single AvailableNow batch runs under watermark 0 —
  // no evictions, no late drops — so keep-first over the doubled
  // stream is exactly the original row set and the oracle is the same
  // plain projection as w21's. The eviction/re-emit side of the
  // bounded contract is spec-pinned (StreamsSpec), not oracle-graded:
  // it is inherently multi-batch.
  private val qW24 = Q("w24_streaming_dedup_bounded",
    (s, d) => {
      val srcName = "w24_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        val e = T(s, d, "events")
        e.unionByName(
            e.withColumn("ts", col("ts") + expr("INTERVAL 30 MINUTE")))
          .coalesce(1)
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w24_dedup")
      val ck = graft.sources.Materialize.processPath(d, "w24_ck")
      graft.streaming.Streams.dedupStreamBounded(s, src, out, ck)
      s.read.parquet(out)
        .select("event_id", "user_id", "value")
        .transform(Q.sortedOnce(_, "event_id"))
    },
    Some("SELECT event_id, user_id, value FROM events ORDER BY event_id"))

  // W23 (round 15): the windowed-means ingest — Streams' FIRST operator
  // (file-source micro-batch ingest → event-time tumbling windows →
  // date-partitioned sink) — on the oracle gate directly, closing the
  // last spec-only gap in the streaming surface (w16-w22 cover every
  // other operator). Determinism: the staged slice runs through Jan 8
  // with a 1-hour watermark, so every window starting before Jan 5 has
  // provably finalized (window end ≤ Jan 5 00:01 ≪ final watermark ≈
  // Jan 8 − 1 h) and the graded filter keeps exactly those; 4-dp
  // rounding on the mean absorbs double-sum order sensitivity (buckets
  // hold 1-3 ticks at fixture density — a 3-addend order difference is
  // ~1e-13, eight orders inside the rounding slack). The slice is
  // coalesced to ONE file like w20/w22: a multi-file drain that ever
  // split into batches could order files arbitrarily (identical
  // mtimes) and late-drop an out-of-order file's rows at the watermark
  // — the single file removes the dependence on any such scheduling.
  private val qW23 = Q("w23_streaming_windowed_means",
    (s, d) => {
      val srcName = "w23_stream_src"
      graft.sources.Materialize.processTable(s, d, srcName) {
        T(s, d, "events").where(col("user_id") < 40 &&
          col("ts") >= tsLit(jan2) && col("ts") < tsLit(jan8)).coalesce(1)
      }
      val src = graft.sources.Materialize.processPath(d, srcName)
      val out = graft.sources.Materialize.processPath(d, "w23_means")
      val ck = graft.sources.Materialize.processPath(d, "w23_ck")
      graft.streaming.Streams.windowedMeans(s, src, out, ck)
      s.read.parquet(out)
        .where(col("bucket_start") < tsLit(jan5))
        .select(unix_timestamp(col("bucket_start")).as("bucket"),
          col("user_id"), round(col("avg_value"), 4).as("avg_value"),
          col("n"))
        .transform(Q.sortedOnce(_, "bucket", "user_id"))
    },
    Some(s"""SELECT $EP - $EP % 60 AS bucket, user_id,
        round(avg(value), 4) AS avg_value, count(*) AS n
      FROM events
      WHERE user_id < 40 AND ts >= ${tsSql(jan2)} AND ts < ${tsSql(jan8)}
        AND $EP - $EP % 60 < $jan5
      GROUP BY 1, 2 ORDER BY bucket, user_id"""))

  // W9: the reference's FINEST demonstrated frequency — 250 ms resample
  // +ffill (notebook cell 15, README.md:12) over a 4-hour session. The
  // point of the row is scale posture, not new semantics: the 250 ms
  // grid is 57,600 buckets × keys (~300k filled rows at 5 users) — the
  // grid DOMINATES the ticks, so a green row proves the distributed
  // spark.range grid (Time.scala grid()) carries the panel, not the
  // tick volume; an explode(sequence(...)) grid would funnel all of it
  // through one task. Same one-shuffle resample shape as w1 at 240×
  // its grid density.
  private val qW9 = Q("w9_fine_grid_250ms",
    (s, d) => {
      val startMs = (jan2 + 34200L) * 1000L // jan2 09:30
      val endMs = startMs + 4L * 3600L * 1000L
      Time.resampleFfillMs(s,
          T(s, d, "events").where(col("user_id") < 5),
          "user_id", "ts", "value", startMs, endMs, 250L,
          davg(col("value")), keysHint = 5)
        .select(col("bucket"), col("user_id"), col("value").as("price"))
        .orderBy("user_id", "bucket")
    },
    Some {
      val startMs = (jan2 + 34200L) * 1000L
      val endMs = startMs + 4L * 3600L * 1000L
      s"""WITH b AS (
        SELECT epoch_ms(ts) - epoch_ms(ts) % 250 AS bucket, user_id,
          round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                / count(value), 6) AS v
        FROM events
        WHERE user_id < 5 AND ts >= ${tsSql(jan2 + 34200L)}
          AND ts < ${tsSql(jan2 + 34200L + 14400L)}
        GROUP BY 1, 2),
      g AS (
        SELECT r.range AS bucket, k.user_id
        FROM range($startMs, $endMs, 250) r CROSS JOIN
             (SELECT DISTINCT user_id FROM b) k)
      SELECT g.bucket, g.user_id,
        last_value(b.v IGNORE NULLS) OVER (
          PARTITION BY g.user_id ORDER BY g.bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price
      FROM g LEFT JOIN b ON g.bucket = b.bucket AND g.user_id = b.user_id
      ORDER BY g.user_id, g.bucket"""
    })

  // W12: realized variance — the quant statistic the reference's
  // resampled panel exists to feed: per series, the sum of squared
  // 5-minute price changes over one trading day (the price-DIFF form,
  // not log returns — log's last-ulp differs between libm
  // implementations and would flake a hash gate; the diff form is
  // exact decimal end to end). One resample shuffle + one lag window
  // on the same key partitioning + one aggregate.
  private val qW12 = Q("w12_realized_var",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("bucket")
      resampled(s, d, 8, jan2, jan3, 300)
        .withColumn("prev", lag("value", 1).over(w))
        .where(col("value").isNotNull && col("prev").isNotNull)
        .withColumn("diff", col("value").cast(DecimalType(18, 6)) -
          col("prev").cast(DecimalType(18, 6)))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          round(sum(col("diff") * col("diff")).cast("double"), 6)
            .as("realized_var"))
        .orderBy("user_id")
    },
    Some(ffillSqlCte(8, jan2, jan3, 300) + """,
      r AS (
        SELECT user_id, price,
          lag(price) OVER (PARTITION BY user_id ORDER BY bucket) AS prev
        FROM filled)
      SELECT user_id, count(*) AS n_intervals,
        round(CAST(sum((CAST(price AS DECIMAL(18,6)) -
                        CAST(prev AS DECIMAL(18,6))) *
                       (CAST(price AS DECIMAL(18,6)) -
                        CAST(prev AS DECIMAL(18,6)))) AS DOUBLE), 6)
          AS realized_var
      FROM r WHERE price IS NOT NULL AND prev IS NOT NULL
      GROUP BY user_id ORDER BY user_id"""))

  // W13: maximum drawdown — the running-peak statistic quant risk
  // reporting computes over every series: drawdown(t) = price(t) −
  // max(price ≤ t), reported as the deepest trough and its bucket.
  // The running max shares the resample's series-key shuffle; exact
  // decimal subtraction throughout, and the trough pick (earliest
  // bucket reaching the per-series min drawdown) is a plain
  // min-over-a-join — deterministic in both engines.
  private val qW13 = Q("w13_max_drawdown",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = resampled(s, d, 8, jan2, jan3, 300)
        .where(col("value").isNotNull)
        .withColumn("p", col("value").cast(DecimalType(18, 6)))
        .withColumn("runmax", max("p").over(w))
        .withColumn("drawdown", col("p") - col("runmax"))
      val md = dd.groupBy("user_id").agg(min("drawdown").as("md"))
      dd.join(md, Seq("user_id"))
        .groupBy("user_id", "md")
        .agg(min(when(col("drawdown") === col("md"), col("bucket")))
          .as("trough_bucket"))
        .select(col("user_id"),
          round(col("md").cast("double"), 6).as("max_drawdown"),
          col("trough_bucket"))
        .orderBy("user_id")
    },
    Some(ffillSqlCte(8, jan2, jan3, 300) + """,
      dd AS (
        SELECT user_id, bucket,
          CAST(price AS DECIMAL(18,6)) -
            max(CAST(price AS DECIMAL(18,6))) OVER (
              PARTITION BY user_id ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS drawdown
        FROM filled WHERE price IS NOT NULL),
      m AS (
        SELECT user_id, min(drawdown) AS md FROM dd GROUP BY user_id)
      SELECT dd.user_id,
        round(CAST(m.md AS DOUBLE), 6) AS max_drawdown,
        min(CASE WHEN dd.drawdown = m.md THEN dd.bucket END)
          AS trough_bucket
      FROM dd JOIN m ON dd.user_id = m.user_id
      GROUP BY dd.user_id, m.md ORDER BY dd.user_id"""))

  // W14: exponentially weighted moving average over the resampled
  // series — pandas' `.ewm(alpha=0.5).mean()` with a 10-term finite
  // tail, the standard quant smoothing every reference user runs.
  // Weights are decay^j with decay = 0.5, EXACT powers of two, and the
  // normalizer sums only the weights of PRESENT terms (pandas'
  // ignore-missing-head semantics at a series start) — so both engines
  // compute bit-comparable doubles from ten lag terms and one divide,
  // and the grade needs only the usual 6-dp boundary margin. One
  // window, ten codegen'd lag expressions, no self-join: the 100 TB
  // form is identical (a single per-key ordered window pass).
  private val EwmaN = 10
  private val qW14 = Q("w14_ewma",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("bucket")
      val terms = (0 until EwmaN).map { j =>
        (lag(col("value"), j).over(w), math.pow(0.5, j))
      }
      val num = terms.map { case (v, wt) =>
        coalesce(v * wt, lit(0.0)) }.reduce(_ + _)
      val den = terms.map { case (v, wt) =>
        when(v.isNotNull, lit(wt)).otherwise(lit(0.0)) }.reduce(_ + _)
      resampled(s, d, 8, jan2, jan3, 300)
        .select(col("user_id"), col("bucket"), col("value"))
        .withColumn("ewma",
          when(col("value").isNotNull, round(num / den, 6)))
        .where(col("ewma").isNotNull)
        .select("user_id", "bucket", "ewma")
        .orderBy("user_id", "bucket")
    },
    Some {
      val nums = (0 until EwmaN).map(j =>
        s"coalesce(lag(price, $j) OVER w * power(0.5, $j), 0)")
        .mkString(" + ")
      val dens = (0 until EwmaN).map(j =>
        s"CASE WHEN lag(price, $j) OVER w IS NOT NULL" +
          s" THEN power(0.5, $j) ELSE 0 END").mkString(" + ")
      ffillSqlCte(8, jan2, jan3, 300) + s"""
        SELECT user_id, bucket, ewma FROM (
          SELECT user_id, bucket, price,
            round(($nums) / ($dens), 6) AS ewma
          FROM filled
          WINDOW w AS (PARTITION BY user_id ORDER BY bucket))
        WHERE price IS NOT NULL AND ewma IS NOT NULL
        ORDER BY user_id, bucket"""
    })

  // W3: epoch-anchored tumbling 4h windows over the month
  private val qW3 = Q("w3_tumbling_4h",
    (s, d) => T(s, d, "events")
      .where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan31))
      .groupBy(Time.bucketSec(col("ts"), 14400).as("bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
      .orderBy("bucket", "event_type"),
    Some(s"""SELECT $EP - $EP % 14400 AS bucket, event_type, count(*) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM events
      WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan31)}
      GROUP BY 1, 2 ORDER BY bucket, event_type"""))

  // W5b: SLIDING windows — 4h width, 1h slide. The oracle replays the
  // epoch-anchored assignment arithmetically: window starts are hour
  // marks, an event joins the 4 marks at trunc(ts,1h) − k·1h. Tumbling
  // (w3) is the degenerate slide=width case; this grades the
  // overlapping case the reference's resample loop could only
  // approximate by re-scanning per offset.
  private val qW5 = Q("w5_sliding_windows",
    (s, d) => {
      // Two-level sliding aggregate (r17): `window(ts, 4h, 1h)` Expands
      // EVERY event row ×4 before the map-side partial agg — free-ish at
      // fixture scale, but 4× the scan's row stream in map CPU at 100 TB.
      // Instead: tumbling 1-hour partials straight off the scan (no
      // expansion), then each HOUR-GRAIN row (24/day/type) folds into
      // the 4 sliding windows containing it. Exactness is preserved
      // because the decimal sums davg is built on are associative: the
      // hourly DECIMAL(18,6) sums re-sum to the identical exact total,
      // and round(try_divide(cast(double), count), 6) is applied once at
      // the end exactly as Exact.davg does. Window-start set is
      // identical too (hour h belongs to starts h-3h..h, the same
      // 4-per-event set the Expand emits), so the oracle is unchanged.
      val hourly = T(s, d, "events")
        .where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan8))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("hn"),
          sum(col("value").cast(DecimalType(18, 6))).as("hsum"),
          count(col("value")).as("hnv"))
        .select(unix_timestamp(col("w.start")).as("hs"),
          col("event_type"), col("hn"), col("hsum"), col("hnv"))
      hourly
        .select(col("hs"), col("event_type"), col("hn"), col("hsum"),
          col("hnv"), explode(typedLit(Seq(0L, 1L, 2L, 3L))).as("k"))
        .select((col("hs") - col("k") * 3600L).as("ws"),
          col("event_type"), col("hn"), col("hsum"), col("hnv"))
        .groupBy("ws", "event_type")
        .agg(sum("hn").as("n"),
          round(try_divide(sum(col("hsum")).cast("double"),
            sum(col("hnv"))), 6).as("avg_value"))
        .orderBy("ws", "event_type")
    },
    Some(s"""SELECT ($EP - $EP % 3600) - k * 3600 AS ws, event_type,
        count(*) AS n,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM events, UNNEST([0, 1, 2, 3]) AS t(k)
      WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan8)}
      GROUP BY 1, 2 ORDER BY ws, event_type"""))

  // W6: SCD2 validity intervals from a change stream — the warehouse
  // dimension-build the reference hand-rolls as its universe/spell table
  // (cf. sp500ccm_generator.py's from/thru spans): compress each user's
  // event-type run into one [valid_from, valid_to) spell. Two windows
  // over ONE shuffle by user_id (lag to detect changes, lead on the
  // surviving change rows for the closing edge — same partitioning, so
  // Spark reuses the exchange); epoch-millis boundaries with event_id
  // tie-break keep the spells engine-deterministic at sub-second ties.
  // The open spell's valid_to is NULL, the SCD2 "current row" marker.
  private val qW6 = Q("w6_scd2_intervals",
    (s, d) => {
      // ONE spec for both windows: lag runs over all rows, lead over
      // the surviving change rows — that difference is where the window
      // is APPLIED, not the spec; the shared spec keeps the
      // exchange-reuse guarantee in one place
      val w = Window.partitionBy("user_id").orderBy("ems", "event_id")
      T(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ems"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .where(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ems"), 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ems").as("valid_from"), col("valid_to"))
        // event_type tie-break: two same-millisecond change events give
        // two spells sharing valid_from — without it the row order (and
        // the driver's hash compare) is engine-underdetermined
        .orderBy("user_id", "valid_from", "event_type")
    },
    Some("""WITH e AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ems, event_type
        FROM events),
      ch AS (
        SELECT *, lag(event_type) OVER (
          PARTITION BY user_id ORDER BY ems, event_id) AS prev
        FROM e),
      sp AS (
        SELECT user_id, event_id, event_type, ems
        FROM ch WHERE prev IS NULL OR prev != event_type)
      SELECT user_id, event_type, ems AS valid_from,
        lead(ems) OVER (PARTITION BY user_id ORDER BY ems, event_id)
          AS valid_to
      FROM sp ORDER BY user_id, valid_from, event_type"""))

  // W7: rolling window-frame statistics (ROWS BETWEEN 19 PRECEDING AND
  // CURRENT ROW per entity) — the rolling-mean/min/max pass of a quant
  // workflow. One shuffle by entity key, every frame computed in the
  // same sort pass; the mean goes through the exact decimal sum
  // ([[graft.ops.Exact]]'s contract applied per frame), so a 20-row
  // frame means the same bits in any engine at any partitioning.
  private val qW7 = Q("w7_rolling_stats",
    (s, d) => {
      val w20 = Window.partitionBy("user_id").orderBy("ems", "event_id")
        .rowsBetween(-19, Window.currentRow)
      T(s, d, "events")
        .where(col("ts") >= tsLit(jan1) && col("ts") < tsLit(jan8))
        .select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ems"), col("value"))
        .select(col("user_id"), col("event_id"),
          count(col("value")).over(w20).as("roll_n"),
          round(try_divide(
            sum(col("value").cast(DecimalType(18, 6))).over(w20)
              .cast("double"),
            count(col("value")).over(w20)), 6).as("roll_mean"),
          min(col("value")).over(w20).as("roll_min"),
          max(col("value")).over(w20).as("roll_max"))
        .orderBy("event_id")
    },
    Some(s"""SELECT user_id, event_id,
        count(value) OVER w AS roll_n,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
              / count(value) OVER w, 6) AS roll_mean,
        min(value) OVER w AS roll_min,
        max(value) OVER w AS roll_max
      FROM events
      WHERE ts >= ${tsSql(jan1)} AND ts < ${tsSql(jan8)}
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  // W8: cross-sectional top-k per period (daily leaderboard by value) —
  // rank within each day, keep the top 10. The `rnk <= 10` filter is
  // recognized by Spark's WindowGroupLimit rewrite: each map task keeps
  // only its local top-10 per day BEFORE the shuffle, so a day's
  // reducer receives (partitions × 10) pre-pruned rows, not the day's
  // full volume — the two-phase top-k a hand-written job would do,
  // derived from the declarative form (asserted in WindowLimitSpec).
  private val qW8 = Q("w8_cross_rank",
    (s, d) => {
      val w = Window.partitionBy("day")
        .orderBy(col("value").desc, col("event_id"))
      T(s, d, "events")
        .where(col("event_type") === "purchase")
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_id"), col("value"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 10)
        .orderBy("day", "rnk")
    },
    Some("""SELECT day, event_id, value, rnk FROM (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_id, value,
          row_number() OVER (PARTITION BY strftime(ts, '%Y-%m-%d')
            ORDER BY value DESC, event_id) AS rnk
        FROM events WHERE event_type = 'purchase')
      WHERE rnk <= 10 ORDER BY day, rnk"""))

  // W4: multi-day tumbling chunks with the reference's drop-incomplete-tail
  // semantic (correlation_matrix_exporter.py:176): only chunks fully inside
  // the observed day span survive.
  private val qW4 = Q("w4_multiday_chunks",
    (s, d) => {
      val dayStart = jan1 / 86400 // epoch day of the anchor
      val ev = T(s, d, "events")
        .withColumn("day_index",
          expr(s"unix_timestamp(ts) div 86400 - $dayStart"))
      // FLOOR division, not `div` (truncate-toward-zero): the oracle's
      // `//` floors, and an event BEFORE the anchor (negative
      // day_index) must land in chunk -1 on both sides, not chunk 0
      val withChunk = ev.withColumn("chunk",
        expr("CAST(floor(day_index / 7.0) AS BIGINT)"))
      val nChunks = ev.agg(
        expr("CAST(floor((max(day_index) + 1) / 7.0) AS BIGINT)")
          .as("n_chunks"))
      withChunk.crossJoin(broadcast(nChunks))
        .where(col("chunk") < col("n_chunks"))
        .groupBy("chunk")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          davg(col("value")).as("avg_value"))
        .orderBy("chunk")
    },
    Some(s"""WITH d AS (
        SELECT user_id, value,
          $EP//86400 - ${jan1 / 86400} AS day_index
        FROM events),
      t AS (SELECT (max(day_index) + 1)//7 AS n_chunks FROM d)
      SELECT day_index//7 AS chunk, count(*) AS n_events,
        count(DISTINCT user_id) AS n_users,
        round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
              / count(value), 6) AS avg_value
      FROM d, t WHERE day_index//7 < t.n_chunks
      GROUP BY 1 ORDER BY chunk"""))

  /** The corr-matrix oracle tail over the `filled` CTE, shared by the
    * one-pass consumers (DuckDB's `corr` is itself pairwise-complete,
    * like the co-moment aggregate). The rounding scale is a
    * real parameter: a string-replaced rounded expression would silently
    * no-op (grading 6 dp against a 4 dp result) if this snippet were
    * ever reformatted.
    */
  private[graft] def corrSqlTail(scale: Int = 6): String =
    s""" SELECT a.user_id AS i, b.user_id AS j,
          round(corr(a.price, b.price), $scale) AS rho
        FROM filled a JOIN filled b
          ON a.bucket = b.bucket AND a.user_id < b.user_id
        GROUP BY 1, 2 ORDER BY i, j"""

  /** Sorted distinct series ids of a long-form panel relation —
    * dimension metadata (k ids), collected from the panel itself (its
    * first action materializes whatever cache/lake table the consumers
    * share anyway). The sort happens on the DRIVER: k ids is a few KB,
    * and a distributed `orderBy` would add a range exchange (with its
    * boundary-sampling pass) to a job whose entire output is collected
    * two lines later.
    */
  private[graft] def sortedUsers(panel: DataFrame): Seq[Long] = {
    val s = panel.sparkSession
    import s.implicits._
    panel.select("user_id").distinct()
      .as[Long].collect().sorted.toSeq
  }

  /** The per-bucket k-wide vector assembly of [[Corr.widePanel]], factored
    * out so any long-form panel RELATION — resampleFfill's cached
    * output, or the bucketed lake table s15 materializes — feeds the
    * same chain. When the source table is bucketed by `bucket`, the
    * groupBy here plans with NO exchange: the on-disk layout is the
    * hash partitioning.
    *
    * Dense fast path: the resample grid emits EVERY (user, bucket)
    * row (missing values as null), so each bucket's user_id-sorted
    * entry list is already in `users` order — O(k log k) per bucket.
    * Gapped buckets (a producer handing a sparse per-bucket key set —
    * every bucket of the streaming deployment) ride the
    * [[graft.functions.DenseFromSortedEntries]] two-pointer merge,
    * O(k + entries) per row; it replaced an element_at map probe whose
    * linear MapData scans were O(k²) per bucket row.
    */
  private[graft] def panelOf(filled: DataFrame,
      users: Seq[Long]): DataFrame = {
    val (entries, vals) =
      panelValsExpr(users, col("user_id"), col("value"))
    // the bucket rides along so consumers can derive window keys for
    // per-window aggregation (e1b); the global-matrix consumers simply
    // aggregate over it.
    filled.groupBy("bucket").agg(entries.as("es"))
      .select(col("bucket"), vals(col("es")).as("vals"))
  }

  /** The ONE dense/sparse vector-assembly expression pair behind both
    * the batch panel ([[panelOf]]) and the streaming panel
    * ([[graft.streaming.Streams]].windowedCorrPlan) — shared so the
    * "stream ≡ batch on the same engine-side plan" contract cannot
    * drift between two copies. Returns (the per-bucket entries
    * aggregate, es-column => k-wide vals column). Null values become
    * NaN in BOTH paths; the positional alignment and the merge both
    * require the ascending universe.
    *
    * A COMPLETE bucket (every series observed) rides the O(k log k)
    * sorted-entries identity; gapped buckets — every bucket of the
    * continuous streaming deployment, since nothing ffills there — go
    * through the [[graft.functions.DenseFromSortedEntries]] two-pointer
    * merge, O(k + entries) per row. (The merge replaced a per-series
    * `element_at` map probe whose per-lookup LINEAR MapData scan made
    * gapped assembly O(k²) per bucket row — the round-14 kernel family
    * closed that class of per-slot expression cost.)
    */
  private[graft] def panelValsExpr(users: Seq[Long], key: Column,
      value: Column): (Column, Column => Column) = {
    require(users == users.sorted,
      "the series universe must be ascending-sorted (the dense path " +
        "aligns sorted entries positionally with it)")
    val entries = array_sort(collect_list(struct(key.as("k"),
      coalesce(value, lit(Double.NaN)).as("v"))))
    def vals(es: Column): Column = {
      val dense = transform(es, e => e.getField("v"))
      val sparse = call_function("dense_from_sorted_entries", es,
        typedLit(users))
      when(size(es) === users.size, dense).otherwise(sparse)
    }
    (entries, vals)
  }

  // A3 (flagship): pairwise Pearson correlation matrix in long form over
  // the resampled, forward-filled panel — pairwise-complete semantics (a
  // pair's rows are skipped only where either side is null, exactly
  // pandas DataFrame.corr / SQL corr()), from the one-pass co-moment
  // UDAF: exact integer co-moment state crosses the shuffle instead of
  // k² rows per bucket (SURVEY §2.9/§7; [[graft.functions.CorrMatrixAgg]]:
  // a non-finite value or |x| > ~9×10⁹ throws).
  private val qA3b = Q("a3b_corr_onepass",
    (s, d) => {
      val (users, panel) = Corr.widePanel(s, d, 10, jan1, jan8, 300)
      Corr.cellRows(Corr.onePass(panel, users), users)
        .select(col("i"), col("j"), round(col("rho"), 6).as("rho"))
        .orderBy("i", "j")
    },
    Some(ffillSqlCte(10, jan1, jan8, 300) + corrSqlTail()))

  // a3 is a3b (one co-moment kernel serves every full matrix); the name
  // stays because the 138-query registry is the contract.
  private val qA3 = Q("a3_corr_matrix", qA3b.fn, qA3b.oracle)

  // A3 at the reference's true panel width (it correlates k≈500 symbols,
  // correlation_matrix_exporter.py README): every fixture user (150 at
  // sf0.01; k=500 of sf0.1's 1,500) through the one-pass aggregator —
  // k(k-1)/2 ≈ 125k pairs from ONE shuffle + a ~12 MB co-moment buffer,
  // where a bucket self-join would shuffle k² rows per bucket. The
  // buffer is O(k²) longs, which caps this tier near k≈1-2k series;
  // beyond that the LSH pair-pruned tier (a3d) takes over.
  // Goes through the automatic tier selector [[Corr.panelRho]]: at
  // fixture widths (k ≤ 500) it resolves to the one-pass UDAF.
  // PlanGuardSpec pins both the narrow-side plan (co-moment aggregate,
  // no pair join) and the forced wide-side plan (LSH bucket join).
  private val qA3c = Q("a3c_corr_onepass_wide",
    (s, d) => {
      val (_, edges) = Corr.panelRho(s, d, 500, jan1, jan3, 600)
      edges
        // 4 dp, not 6: with ~11k-125k pairs (sf0.01-sf0.1), two correct
        // engines accumulating
        // in different orders land ~1e-9 apart, and at 6 dp one pair hit
        // a rounding boundary (observed live). Coarser rounding moves
        // the boundary density two orders away from the fp noise.
        .select(col("i"), col("j"), round(col("rho"), 4).as("rho"))
        // sortedOnce, not sortedSmall: the panel→UDAF→explode child is
        // linear and consumed exactly once — caching it costs ~1.7 s at
        // k=500 for no reuse (measured; see Q.scala)
        .transform(Q.sortedOnce(_, "i", "j"))
    },
    Some(ffillSqlCte(500, jan1, jan3, 600) + corrSqlTail(4)))

  // A3 tier iv: the LSH pair-pruned thresholded correlation search
  // (ops/CorrPrune) on the same wide panel as a3c — the tier that takes
  // over past the one-pass UDAF's O(k²) buffer cap. Candidate pairs come
  // from banded hyperplane buckets over the integer-exact CENTERED
  // series (Pearson = cosine of centered vectors; the sign test
  // n·Σs·xq − S·Σs is pure long arithmetic, so the DuckDB oracle
  // regenerates identical buckets), then the exact Pearson vector verify
  // (Corr.pruned: one pos-ordered vector per series, the
  // pearson_arrays kernel per candidate pair, no panel broadcast)
  // and the ρ ≥ 0.5 keep. 4-dp rounding before the threshold for the
  // same boundary-density reason as a3c.
  private val qA3d = Q("a3d_corr_pruned",
    (s, d) =>
      // resampleFfill caches the filled panel; the pos projection on top
      // is trivial, so both consumers (bucketing + the per-series
      // vectors) read the cache
      Corr.pruned(resampled(s, d, 300, jan1, jan2, 600), jan1, 600,
          dims = 144, roundThenFilter = (4, 0.5))
        .transform(Q.sortedSmall(_, "i", "j")),
    a3dOracleSql)

  /** a3d's DuckDB mirror — shared with [[qA3e]] and [[qA3f]]: the
    * auto-selector's forced wide branch passes identical geometry (300
    * series, 144 positions, 8 bands × 5 bits, ρ ≥ 0.5 post-4-dp-round)
    * through the same CorrPrune machinery, so one oracle grades every
    * route.
    */
  private lazy val a3dOracleSql: Option[String] =
    Some(ffillSqlCte(300, jan1, jan2, 600) + s""",
      pex AS (
        SELECT user_id, (bucket - $jan1)//600 + 1 AS pos,
          CAST(round(price * 1000000) AS BIGINT) AS xq
        FROM filled WHERE price IS NOT NULL),
      pstats AS (
        SELECT user_id, sum(xq) AS sx, count(*) AS nx
        FROM pex GROUP BY 1),
      cplanes AS (
        SELECT band, bit, p + 1 AS pos,
          CASE WHEN (CAST(concat('0x',
              substr(md5(band || ':' || bit || ':' || p), 1, 15)) AS BIGINT)
              & 1) = 1 THEN 1 ELSE -1 END AS s
        FROM (SELECT unnest(range(${Corr.A3dBands})) AS band) bb
        CROSS JOIN (SELECT unnest(range(${Corr.A3dBits})) AS bit) tt
        CROSS JOIN (SELECT unnest(range(144)) AS p) pp),
      cproj AS (
        SELECT x.user_id, pl.band, pl.bit,
          sum(pl.s * x.xq) AS p, sum(pl.s) AS q
        FROM pex x JOIN cplanes pl ON pl.pos = x.pos
        GROUP BY 1, 2, 3),
      cbk AS (
        SELECT c.user_id, c.band,
          sum(CASE WHEN st.nx * c.p - st.sx * c.q > 0
              THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
        FROM cproj c JOIN pstats st USING (user_id)
        GROUP BY 1, 2),
      ccand AS (
        SELECT DISTINCT a.user_id AS i, b.user_id AS j
        FROM cbk a JOIN cbk b ON a.band = b.band AND a.bucket = b.bucket
          AND a.user_id < b.user_id)
      SELECT i, j, rho FROM (
        SELECT c.i, c.j, round(corr(a.price, b.price), 4) AS rho
        FROM ccand c JOIN filled a ON a.user_id = c.i
          JOIN filled b ON b.user_id = c.j AND b.bucket = a.bucket
        GROUP BY 1, 2)
      WHERE rho >= 0.5 ORDER BY i, j""")

  // A3 tier switch, wide side ON THE ORACLE GATE: the same pruned
  // search as a3d, reached through the automatic selector with the
  // one-pass ceiling forced below k — so the driver's correctness gate
  // grades Corr.panelRho's wide branch end to end, not just its spec.
  // The oracle is a3d's verbatim (the selector hands identical geometry
  // to Corr.pruned: 300 series, 144 grid positions, 8 bands × 5 bits, and
  // the round(rho,4) >= 0.5 keep now rides INSIDE the selector in the
  // oracle's exact round-then-filter order). sortedOnce on top: the
  // selector's pruned branch already caches its survivors, so the sort
  // reads a handful of cached edges.
  private val qA3e = Q("a3e_corr_auto_pruned",
    (s, d) => {
      val (_, edges) = Corr.panelRho(s, d, 300, jan1, jan2, 600,
        roundThenFilter = Some((4, 0.5)), onePassMaxK = 1)
      edges.select("i", "j", "rho")
        .transform(Q.sortedOnce(_, "i", "j"))
    },
    a3dOracleSql)

  // a3f is a3d (the pruned tier has one verify); the name stays because
  // the 138-query registry is the contract.
  private val qA3f = Q("a3f_corr_pruned_unbroadcast", qA3d.fn, a3dOracleSql)

  // --------------------------------------------------------------- wiring

  private val all: Seq[Q] = Seq(
    qS1, qP3, qP4, qP5, qP6, qP10,
    qJ1, qJ3, qJ5, qJ6, qJ7, qJ8,
    qA1, qA2, qA6, qA7,
    qO2, qU1, qU3,
    qF2, qF4, qF8, qF12, qF14,
    qW1, qW2, qW3, qW4, qW5, qW6, qW7, qW8, qW9, qW12, qW13, qW14, qW16,
    qW17, qW18, qW19, qW20, qW21, qW23, qW24,
    qA3, qA3b, qA3c, qA3d, qA3e, qA3f) ++
    LlmQueries.all ++ PipelineQueries.all ++ CoverageQueries.all ++
    CurationQueries.all ++ MediaQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. Points at
    * the one-pass co-moment tier so the smoke path exercises the custom
    * aggregator.
    */
  def entry(spark: SparkSession): DataFrame =
    qA3b.fn(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
