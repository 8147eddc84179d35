package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Events
import QueryDef._

/** Event-time / streaming-shaped queries over the `events` table
  * (SURVEY.md §2.13 T4, §2.9 F14, §2.3 J6 as-of, §2.7 U3 last-wins).
  * Batch formulations here; streaming twins in `graft.streaming`.
  */
object EventsQ {

  private def ev(s: SparkSession, d: String) = Tables.load(s, d, "events")

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q18_scalar_funcs",
      (s, d) => ev(s, d)
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          big(year(col("ts"))).as("y"),
          big(month(col("ts"))).as("m"),
          big(dayofmonth(col("ts"))).as("dom"),
          big(hour(col("ts"))).as("h"),
          upper(col("event_type")).as("etype_u"),
          substring(col("event_type"), 1, 3).as("etype_3"),
          concat(col("event_type"), lit("/"), col("user_id").cast("string")).as("tag"),
          big(length(col("props"))).as("props_len"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"),
          big(floor(col("value"))).as("value_floor"),
          big(ceil(col("value"))).as("value_ceil"),
          abs(col("value") - 100.0).as("dist100"),
          big(col("user_id") % 7).as("user_mod"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
        |CAST(year(ts) AS BIGINT) AS y, CAST(month(ts) AS BIGINT) AS m,
        |CAST(day(ts) AS BIGINT) AS dom, CAST(hour(ts) AS BIGINT) AS h,
        |upper(event_type) AS etype_u, substr(event_type, 1, 3) AS etype_3,
        |concat(event_type, '/', CAST(user_id AS VARCHAR)) AS tag,
        |CAST(length(props) AS BIGINT) AS props_len,
        |CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
        |CAST(floor(value) AS BIGINT) AS value_floor,
        |CAST(ceil(value) AS BIGINT) AS value_ceil,
        |abs(value - 100.0) AS dist100,
        |CAST(user_id % 7 AS BIGINT) AS user_mod
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin)),

    QueryDef("q19_tumbling_window",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(fmtTs(col("w.start")).as("w_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("w_start"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |event_type, COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    QueryDef("q20_sliding_window",
      (s, d) => ev(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(fmtTs(col("w.start")).as("w_start"), col("n"), col("sum_value"))
        .orderBy(col("w_start")),
      Some("""SELECT strftime(time_bucket(INTERVAL '30 minutes', ts) - o * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS w_start,
        |COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (0), (1)) t(o)
        |GROUP BY 1 ORDER BY w_start""".stripMargin)),

    QueryDef("q21_session_window",
      (s, d) => Events.sessionize(ev(s, d), "user_id", "ts", "event_id", 1800)
        .groupBy(col("user_id"), col("session_start"))
        .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s2 AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq FROM s)
        |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM s2 GROUP BY user_id, seq ORDER BY user_id, session_start""".stripMargin)),

    QueryDef("q11_asof_marker",
      (s, d) => Events.asofMarker(ev(s, d), "user_id", "ts", "event_id",
          col("event_type") === "signup")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), fmtTs(col("ts")).as("ts_s"),
          col("asof_ts").as("last_signup"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, last_signup
        |FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |  last_value(CASE WHEN event_type = 'signup' THEN strftime(ts, '%Y-%m-%d %H:%M:%S') END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    QueryDef("q22_last_wins",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
        ev(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"), fmtTs(col("ts")).as("ts_s"), col("event_type"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    QueryDef("q70_topk_rewrite",
      // The §2.14 optimizer rules under oracle coverage: the query is the
      // PLAIN window form — row_number over (user_id ORDER BY ts DESC,
      // event_id DESC) filtered to rn <= 2. The session's GraftExtensions
      // (TopOnePerKeyRule/TopKPerKeyRule + GroupTopKStrategy) make the
      // optimizer itself swap in the heap operator (no sort of the events,
      // shuffle moves <= 2 rows per user per input partition), and the
      // driver hash-checks that the REWRITTEN plan is value-identical to
      // DuckDB's window semantics.
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        ev(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .select(col("user_id"), col("rn").cast("long").as("rn"),
            col("event_id"), fmtTs(col("ts")).as("ts_s"), col("event_type"))
          .orderBy(col("user_id"), col("rn"))
      },
      Some("""SELECT user_id, CAST(rn AS BIGINT) AS rn, event_id,
        |strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, event_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn <= 2 ORDER BY user_id, rn""".stripMargin)),

    QueryDef("q67_stream_dedup",
      // The streaming stateful dedup under oracle coverage (round-4 verdict
      // item 5): the REAL StatefulDedup.dedupStream flatMapGroupsWithState
      // lambda runs in Spark's batch execution mode (empty state, one
      // invocation per key) over the events table as a deterministic
      // replay — arrival order := event_id. The input is hash-partitioned
      // on the dedup key and sorted (key, event_id) within partitions; the
      // operator's required key-only sort is satisfied by that prefix, so
      // no re-sort happens and `rows.take(1)` is exactly the
      // first-arrival-wins the stream computes. DuckDB models it as
      // row_number()=1 over (key ORDER BY event_id). At 100 TB the same
      // shape holds: one shuffle on the short key, partition-local sort,
      // single-pass state function; the streaming deployment swaps the
      // replay source for readStream with TTL'd state.
      (s, d) => {
        val keyed = ev(s, d)
          .select(
            concat_ws("|", col("user_id"), col("event_type")).as("key"),
            concat_ws("|", col("event_id"), fmtTs(col("ts"))).as("payload"),
            col("event_id"))
          // explicit numPartitions: pin the exchange so AQE coalescing
          // can't merge away parallelism under the per-partition sort
          .repartition(s.sparkContext.defaultParallelism, col("key"))
          .sortWithinPartitions(col("key"), col("event_id"))
          .select(col("key"), col("payload"))
        graft.streaming.StatefulDedup.dedupReplay(keyed)
          // limit-2 splits: the numeric field comes first, so an
          // event_type containing '|' still round-trips intact
          .select(
            element_at(split(col("key"), "\\|", 2), 1).cast("long").as("user_id"),
            element_at(split(col("key"), "\\|", 2), 2).as("event_type"),
            element_at(split(col("payload"), "\\|", 2), 1).cast("long").as("first_event_id"),
            element_at(split(col("payload"), "\\|", 2), 2).as("ts_s"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""SELECT CAST(user_id AS BIGINT) AS user_id, event_type,
        |CAST(event_id AS BIGINT) AS first_event_id,
        |strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    QueryDef("q108_pagerank",
      // Link-graph centrality (operators/PageRank): the clickstream
      // transition graph — per-user consecutive (props.k) page visits form
      // directed edges — ranked by 5 fixed PageRank iterations in exact
      // scaled-integer arithmetic (every division integral, every sum an
      // integer hash-agg), so the oracle's chained-CTE replay of the same
      // recurrence matches bit-for-bit. Per-iteration state is node-sized;
      // hot destinations are absorbed by map-side partial sums; each
      // round's ranks are eagerly localCheckpoint'd (CC's plan-truncation
      // lesson). Dangling mass dropped (documented simplification).
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val edges = e.withColumn("pk", lag(col("k"), 1).over(w))
          .filter(col("pk").isNotNull && col("pk") =!= col("k"))
          .select(col("pk").as("src"), col("k").as("dst"))
        graft.operators.PageRank.run(edges, "src", "dst", iterations = 5)
          .select(col("node"), col("pr").as("pr_scaled"))
          .orderBy(col("node"))
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""p$i AS (SELECT n.node,
             |  CAST((SELECT tp FROM c) + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS pr
             |  FROM nd n LEFT JOIN (
             |    SELECT e.dst AS node, sum(p.pr // o.odeg) AS m
             |    FROM ed e JOIN p${i - 1} p ON e.src = p.node JOIN odeg o ON e.src = o.src
             |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id, event_id, ts,
           |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events),
           |tr AS (SELECT k, lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk FROM ev),
           |ed AS (SELECT DISTINCT pk AS src, k AS dst FROM tr WHERE pk IS NOT NULL AND pk <> k),
           |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
           |c AS (SELECT count(*) AS n,
           |  CAST(1000000000000 // count(*) AS BIGINT) AS init,
           |  CAST((15 * 1000000000000) // (100 * count(*)) AS BIGINT) AS tp FROM nd),
           |odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY 1),
           |p0 AS (SELECT node, (SELECT init FROM c) AS pr FROM nd),
           |$iters
           |SELECT node, pr AS pr_scaled FROM p5 ORDER BY node""".stripMargin
      }),

    QueryDef("q110_pagerank_dangling",
      // PageRank fidelity variant: dangling-mass REDISTRIBUTION
      // (PageRank.run redistributeDangling = true). Forward-only
      // transitions (src < dst) make the top-k pages genuine sinks, so
      // real dangling mass exists every round: its sum (one scalar
      // aggregate over node-sized state per round) is split evenly and
      // folded into the damping term — still exact scaled-integer, so the
      // oracle's chained CTEs (one dangling-sum CTE per iteration)
      // replay bit-for-bit. Early-stop (stopDelta) is spec-covered, not
      // oracled: the fixed-iteration contract stays the SQL surface.
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("ts"), col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val edges = e.withColumn("pk", lag(col("k"), 1).over(w))
          .filter(col("pk").isNotNull && col("pk") < col("k"))
          .select(col("pk").as("src"), col("k").as("dst"))
        graft.operators.PageRank.run(edges, "src", "dst", iterations = 5,
            redistributeDangling = true)
          .select(col("node"), col("pr").as("pr_scaled"))
          .orderBy(col("node"))
      },
      Some {
        val iters = (1 to 5).map { i =>
          s"""d$i AS (SELECT CAST(coalesce(sum(p.pr), 0) // (SELECT n FROM c) AS BIGINT) AS dg
             |  FROM p${i - 1} p LEFT JOIN odeg o ON p.node = o.src WHERE o.src IS NULL),
             |p$i AS (SELECT n.node,
             |  CAST((SELECT tp FROM c) + (85 * (coalesce(s.m, 0) + (SELECT dg FROM d$i))) // 100 AS BIGINT) AS pr
             |  FROM nd n LEFT JOIN (
             |    SELECT e.dst AS node, sum(p.pr // o.odeg) AS m
             |    FROM ed e JOIN p${i - 1} p ON e.src = p.node JOIN odeg o ON e.src = o.src
             |    GROUP BY 1) s ON n.node = s.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id, event_id, ts,
           |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM events),
           |tr AS (SELECT k, lag(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pk FROM ev),
           |ed AS (SELECT DISTINCT pk AS src, k AS dst FROM tr WHERE pk IS NOT NULL AND pk < k),
           |nd AS (SELECT src AS node FROM ed UNION SELECT dst FROM ed),
           |c AS (SELECT count(*) AS n,
           |  CAST(1000000000000 // count(*) AS BIGINT) AS init,
           |  CAST((15 * 1000000000000) // (100 * count(*)) AS BIGINT) AS tp FROM nd),
           |odeg AS (SELECT src, CAST(count(*) AS BIGINT) AS odeg FROM ed GROUP BY 1),
           |p0 AS (SELECT node, (SELECT init FROM c) AS pr FROM nd),
           |$iters
           |SELECT node, pr AS pr_scaled FROM p5 ORDER BY node""".stripMargin
      })
  )
}
