package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Windows, Tables => T}

/** Window / sort / top-k family W1–W7 (SURVEY.md §2.5). The events table's
  * ts column arrives as bigint epoch-nanos (Tables.events normalizes every
  * parquet ts type to that), so every time comparison is exact integer
  * arithmetic — no float truncation near the gap threshold. The µs-grid
  * truncation (`ts div 1000 * 1000`) keeps parity with DuckDB's µs
  * timestamps for any data shape: a no-op on µs-sourced files, and the
  * matching truncation when the file is true TIMESTAMP(NANOS).
  */
object WindowQueries {

  private def eventsUsGrid(s: org.apache.spark.sql.SparkSession, d: String) =
    T.events(s, d).withColumn("ts", expr("ts div 1000 * 1000"))

  /** The oracle of both gap-session forms (w2 scalable, w10 faithful). */
  private val GapSessionsOracle =
    """WITH ordered AS (
      |  SELECT epoch_ns(ts) AS tsn,
      |         row_number() OVER (ORDER BY event_id) AS rn
      |  FROM events),
      |g AS (
      |  SELECT CAST((rn - 1) // 5 AS BIGINT) AS grp, min(tsn) AS start_ns,
      |         max(tsn) AS end_ns, count(*) AS n
      |  FROM ordered GROUP BY 1),
      |w AS (
      |  SELECT grp, start_ns, end_ns, n,
      |         lead(start_ns) OVER (ORDER BY grp) AS next_start_ns,
      |         lead(n) OVER (ORDER BY grp) AS next_n
      |  FROM g)
      |SELECT grp AS group_id, start_ns, end_ns, next_start_ns,
      |       next_start_ns - end_ns AS gap_ns
      |FROM w
      |WHERE n = 5 AND next_n = 5
      |  AND next_start_ns - end_ns > 12000000000
      |ORDER BY group_id"""

  /** Below this estimated input size w2 runs the single-window form. */
  private val W2SmallBytes = 64L << 20

  def defs: Seq[QueryDef] = Seq(

    // W1: global sort by file mtime (point3d_transformation.py:24).
    QueryDef("w1_sort_mtime",
      """SELECT event_id, epoch_ns(ts) AS ts_ns FROM events
        |ORDER BY ts_ns, event_id""") { (s, d) =>
      eventsUsGrid(s, d)
        .select(col("event_id"), col("ts").as("ts_ns"))
        .orderBy("ts_ns", "event_id")
    },

    // W2: lead/lag gap detection between consecutive full groups of 5 —
    // the reference's missing-pose check (point3d_transformation.py:11-62,
    // 12 s threshold; both groups must be full, :26-46). The declared
    // query runs the scale-safe form (range-partitioned numbering + grp+1
    // self-join — no single-task Window anywhere, pinned in PlanSpec);
    // Windows.gapSessions is the faithful single-window original, proven
    // row-identical in OpsSpec. At 20M+ events the faithful form funnels
    // the whole table through one window task; the scalable form keeps
    // every stage at the session's parallelism.
    QueryDef("w2_gap_sessions", GapSessionsOracle) { (s, d) =>
      // ADAPTIVE small-input switch (r22; mirrors Dedup's cost-based
      // path choice and Bench's corpus-sized session shape): below
      // ~64 MB of estimated input the scalable form's 4 jobs (persist +
      // count + number + self-join) are pure job-floor overhead — the
      // faithful single-window form, proven row-identical in OpsSpec,
      // runs 1 job (measured: 0.32 vs 1.04 s at sf0.1, 1.11 vs 2.69 s
      // at sf1). Above the threshold the scale-safe numbering stands:
      // one window task over >64 MB is exactly the funnel it exists to
      // avoid.
      val ev = eventsUsGrid(s, d)
      val est = ev.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= W2SmallBytes)
        Windows.gapSessions(ev.select("event_id", "ts"), "event_id", "ts")
      else Windows.gapSessionsScalable(ev, "event_id", "ts")
    },

    // W10: the FAITHFUL single-ordered-window gap form (Windows.gapSessions
    // — row_number + lead over one global order, the reference's literal
    // shape) declared under its own name so BOTH twins carry oracle rows:
    // w2 above IS the scalable form (range-partitioned numbering + grp+1
    // self-join), w10 is the original. One oracle SQL for both — OpsSpec
    // additionally pins the two row-identical on a shared corpus.
    // At fact-table scale this form funnels every row through ONE window
    // task by design; skip-list it in scale sweeps (w2 is the stand-in).
    QueryDef("w10_gap_sessions_faithful", GapSessionsOracle) { (s, d) =>
      Windows.gapSessions(eventsUsGrid(s, d), "event_id", "ts")
    },

    // W3: top-k by value desc — 10 worst poses by mean error
    // (extrinsic_calibration.py:237-240). TakeOrderedAndProject at scale.
    QueryDef("w3_topk_worst",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""") { (s, d) =>
      T.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    },

    // W4: ordinal assignment / row numbering (file_rename_sort.py:7-9,
    // pose_filter.py:3146 enumerate).
    QueryDef("w4_ordinal_assign",
      """SELECT s_suppkey, s_name,
        |  CAST(row_number() OVER (ORDER BY s_name, s_suppkey) AS BIGINT) AS ord
        |FROM supplier ORDER BY s_suppkey""") { (s, d) =>
      // s_name repeats at scale (replicated suppliers keep their name), so
      // the ordinal needs the unique key as tie-break or row_number is
      // engine-dependent
      T.supplier(s, d)
        .withColumn("ord",
          row_number().over(Window.orderBy(col("s_name"), col("s_suppkey")))
            .cast("bigint"))
        .select("s_suppkey", "s_name", "ord")
        .orderBy("s_suppkey")
    },

    // W4 scale twin: the same ordinal via the range-sort + broadcast-offset
    // numbering (Windows.withGlobalRowNumbersBy) — identical output to the
    // faithful global window above (same oracle shape), but NO
    // single-partition Window task anywhere in the plan: the sort is a
    // parallel range exchange and each partition numbers itself from the
    // tiny cumulative-count array. This is the form that survives a fact
    // table at 100 TB; w4 keeps the faithful form for the dim-sized input.
    QueryDef("w9_ordinal_scalable",
      """SELECT s_suppkey, s_name,
        |  CAST(row_number() OVER (ORDER BY s_name, s_suppkey) AS BIGINT) AS ord
        |FROM supplier ORDER BY s_suppkey""") { (s, d) =>
      Windows.withGlobalRowNumbersBy(
          T.supplier(s, d).select("s_suppkey", "s_name"),
          Seq("s_name", "s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rn0") + 1).as("ord"))
        .orderBy("s_suppkey")
    },

    // W5: argmin/argmax corner-role selection via min_by/max_by
    // (pixel_processing.py:51-63: tl=min(x+y), br=max(x+y), tr=max(x-y),
    // bl=min(x-y)). Synthetic exact-integer coordinates (u in a coarse
    // grid scaled so u±v is collision-free) keep the arg keys unique —
    // min_by ties are nondeterministic in both engines otherwise.
    QueryDef("w5_argmin_corners",
      """SELECT event_type,
        |  arg_min(v, u + v) AS tl_id, arg_max(v, u + v) AS br_id,
        |  arg_max(v, u - v) AS tr_id, arg_min(v, u - v) AS bl_id
        |FROM (SELECT event_type,
        |        CAST(round(value * 100) AS BIGINT) * 1000000 AS u,
        |        event_id AS v
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""") { (s, d) =>
      T.events(s, d)
        .select(col("event_type"),
          (round(col("value") * 100).cast("bigint") * 1000000L).as("u"),
          col("event_id").as("v"))
        .groupBy("event_type")
        .agg(
          min_by(col("v"), col("u") + col("v")).as("tl_id"),
          max_by(col("v"), col("u") + col("v")).as("br_id"),
          max_by(col("v"), col("u") - col("v")).as("tr_id"),
          min_by(col("v"), col("u") - col("v")).as("bl_id"))
        .orderBy("event_type")
    },

    // W6: first element of int-sorted string keys (calculate.py:56
    // sorted(keys, key=int)[0]) — min over the numeric cast.
    QueryDef("w6_first_int_key",
      """SELECT min(CAST(string_split(c_name, '#')[2] AS BIGINT))
        |  AS first_key FROM customer""") { (s, d) =>
      T.customer(s, d)
        .agg(min(split(col("c_name"), "#").getItem(1).cast("bigint"))
          .as("first_key"))
    },

    // X4: timestamp difference in whole seconds between consecutive
    // events per user (point3d_transformation.py:22,41-43: mtime diffs).
    // Exact integer arithmetic on the µs grid — no float near the
    // threshold.
    QueryDef("x4_time_diff",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn FROM events),
        |d AS (
        |  SELECT user_id, event_id,
        |    (tsn - lag(tsn) OVER (PARTITION BY user_id ORDER BY tsn, event_id))
        |      // 1000000000 AS gap_s
        |  FROM e)
        |SELECT user_id, event_id, gap_s FROM d WHERE gap_s IS NOT NULL
        |ORDER BY user_id, event_id""") { (s, d) =>
      eventsUsGrid(s, d)
        .withColumn("gap_s",
          expr("(ts - lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) div 1000000000"))
        .filter(col("gap_s").isNotNull)
        .select("user_id", "event_id", "gap_s")
        .orderBy("user_id", "event_id")
    },

    // W8 (§2.10 batch form): event-time session windows per user with a
    // 600 s gap — Spark session_window vs the lag/cumsum formulation in
    // DuckDB. Two events `gap` apart exactly start a new session in both.
    QueryDef("w8_session_windows",
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |o AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |              >= 600000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |s AS (
        |  SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM o)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, start_us""") { (s, d) =>
      val ev = T.events(s, d)
        .withColumn("tsw", expr("timestamp_micros(ts div 1000)"))
      graft.streaming.Sessionize.sessionGaps(ev, "tsw", 600, Seq("user_id"))
        .select(col("user_id"), col("n"),
          unix_micros(col("start_ts")).as("start_us"),
          unix_micros(col("end_ts")).as("end_us"))
        .orderBy("user_id", "start_us")
    },

    // W7: deterministic sample-first-N (extrinsic_calibration.py:41-42:
    // first 20 ids; we pin the order explicitly, SURVEY §2.5 W7).
    QueryDef("w7_sample_first_n",
      """SELECT doc_id, lang, source FROM documents
        |ORDER BY doc_id LIMIT 20""") { (s, d) =>
      T.documents(s, d)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
        .limit(20)
    }
  )
}
