package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.{Joins, Sources, Tables => T}

/** Sources (S), filters/projections (P), joins (J), set ops (SO) —
  * SURVEY.md §2.1–2.3, §2.6. Reference citations on each query.
  */
object CoreQueries {

  private val missingKeys = Seq(5L, 17L, 23L, 42L, 77L)

  def defs: Seq[QueryDef] = Seq(

    // S1: distributed directory scan with path+length (camera_calib.py:46,
    // point3d_transformation.py:19-23). Oracle: DuckDB read_blob over the
    // same directory — the literal dir is spliced in for `{SF_DIR}` by
    // Verify at dump time (table functions only take constant args).
    //
    // Listing convention note: datagen writes split tables
    // (documents/embeddings at scale points) as DIRECTORIES of part
    // files. Both engines' NON-recursive listings here skip those
    // directories — Spark's binaryFile source lists only top-level
    // regular files, DuckDB's single-level glob likewise — so s1/s2/s3
    // cover the single-file tables only. That alignment is asserted,
    // not assumed: s1b_recursive_scan below lists BOTH layouts
    // recursively in both engines, so a layout or listing-convention
    // change diverges a green row instead of silently shrinking
    // coverage.
    QueryDef("s1_binary_scan",
      """SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
        |  size AS length
        |FROM read_blob('{SF_DIR}/*.parquet') ORDER BY file""") { (s, d) =>
      Sources.binaryScan(s, d)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("length"))
        .orderBy("file")
    },

    // S2: glob-filtered scan (act_img.py:267-268 "*_0*.JPG"); the same
    // glob drives both the Spark pathGlobFilter and the DuckDB pattern.
    QueryDef("s2_glob_scan",
      """SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
        |  size AS length
        |FROM read_blob('{SF_DIR}/*e*.parquet') ORDER BY file""") { (s, d) =>
      Sources.binaryScan(s, d, Some("*e*.parquet"))
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("length"))
        .orderBy("file")
    },

    // S1b: RECURSIVE corpus listing — the assertion companion to s1's
    // listing-convention note. Spark's recursiveFileLookup and DuckDB's
    // `**` glob must surface the same file set whether a table is one
    // parquet file or a datagen-sharded directory of part files (shard
    // basenames repeat across directories, so the identity key is the
    // last TWO path components — '<parent>/<name>', e.g.
    // 'documents.parquet/part_00.parquet', 'sf0.1/region.parquet').
    QueryDef("s1b_recursive_scan",
      """SELECT regexp_extract(filename, '[^/]+/[^/]+$', 0) AS file2,
        |  size AS length
        |FROM read_blob('{SF_DIR}/**/*.parquet') ORDER BY file2""") { (s, d) =>
      Sources.binaryScan(s, d, Some("*.parquet"), recursive = true)
        .select(regexp_extract(col("path"), "[^/]+/[^/]+$", 0).as("file2"),
          col("length"))
        .orderBy("file2")
    }
  ) ++
    // S3 (plumbing): expression-only binary metadata over a bounded
    // prefix scan — length, magic bytes, content fingerprint — (the
    // decode itself is the documented stub, Multimodal/Codecs). DuckDB
    // 1.0 has no md5(BLOB), so both engines checksum the hex encoding.
    // The digest is BOUNDED to the first 1 MiB (rsync-style prefix
    // fingerprint + exact length). Spark reads ONLY that prefix per file
    // (Sources.binaryPrefixScan): the binaryFile source's whole-file
    // content column dies on any file over the JVM's 2 GB array cap
    // (sf30's 4.1 GB lineitem.parquet) and costs O(file) memory where
    // the query needs O(1 MiB); the post-projection sort moves ~100-byte
    // rows either way. DuckDB can't slice BLOBs, so the oracle bounds
    // the same digest as substring(hex(content), 1, 2N) — hex-of-prefix
    // == prefix-of-hex, only the oracle pays for the full read + hex.
    // The twin's glob keeps the dimension-class single-file tables
    // (tens of MB at any scale point); the full form lists every table.
    QueryDef.withSlice("s3_binary_meta", "s3_slice_binary_meta",
        None, Some("[cnpr]*.parquet")) { (glob: Option[String]) =>
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file,
        |  size AS length,
        |  substring(hex(content), 1, 8) AS magic_hex,
        |  md5(substring(hex(content), 1, 2097152)) AS content_md5
        |FROM read_blob('{SF_DIR}/${glob.getOrElse("*.parquet")}') ORDER BY file"""
    } { glob => (s, d) =>
      Sources.binaryPrefixScan(s, d, glob)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("length"),
          hex(substring(col("prefix"), 1, 4)).as("magic_hex"),
          md5(hex(col("prefix"))).as("content_md5"))
        .orderBy("file")
    } ++ Seq(

    // S4/X2/P8: KRL text -> first 6 numbers as doubles
    // (pose_filter.py:3141-3143). Round-trips lineitem columns through a
    // formatted LIN line, then parses them back with the production parser.
    QueryDef("s4_parse_pose_text",
      """SELECT l_orderkey, l_linenumber, x, y, z, a, b, c FROM (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(nums[1] AS DOUBLE) AS x, CAST(nums[2] AS DOUBLE) AS y,
        |    CAST(nums[3] AS DOUBLE) AS z, CAST(nums[4] AS DOUBLE) AS a,
        |    CAST(nums[5] AS DOUBLE) AS b, CAST(nums[6] AS DOUBLE) AS c
        |  FROM (
        |    SELECT l_orderkey, l_linenumber,
        |      regexp_extract_all(
        |        printf('LIN {X %.3f, Y %.3f, Z %.3f, A %.3f, B %.3f, C %.3f}',
        |          l_quantity, l_extendedprice, l_discount, l_tax,
        |          CAST(l_partkey % 360 - 180 AS DOUBLE),
        |          CAST(l_suppkey % 360 - 180 AS DOUBLE)),
        |        '-?\d+\.\d+|-?\d+') AS nums
        |    FROM lineitem))
        |ORDER BY l_orderkey, l_linenumber, x, y, z, a, b, c""") { (s, d) =>
      val line = format_string(
        "LIN {X %.3f, Y %.3f, Z %.3f, A %.3f, B %.3f, C %.3f}",
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"),
        (col("l_partkey") % 360 - 180).cast("double"),
        (col("l_suppkey") % 360 - 180).cast("double"))
      // fanOut BEFORE the format+regex (the heaviest per-row chain in the
      // core family): a single-row-group source plans one scan task and
      // serializes ~8 s of parse on one core — see QueryDef.fanOut
      Sources.parsePoseLine(
          QueryDef.fanOut(T.lineitem(s, d)
              .select(col("l_orderkey"), col("l_linenumber"),
                col("l_quantity"), col("l_extendedprice"), col("l_discount"),
                col("l_tax"), col("l_partkey"), col("l_suppkey")))
            .select(col("l_orderkey"), col("l_linenumber"), line.as("line")),
          "line")
        .select("l_orderkey", "l_linenumber", "x", "y", "z", "a", "b", "c")
        .orderBy("l_orderkey", "l_linenumber", "x", "y", "z", "a", "b", "c")
    },

    // P1: suffix predicate (point3d_transformation.py:20 endswith('.JPG')).
    QueryDef("p1_suffix_filter",
      """SELECT doc_id, source FROM documents WHERE source LIKE '%1'
        |ORDER BY doc_id""") { (s, d) =>
      T.documents(s, d)
        .filter(col("source").endsWith("1"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // P2: arity guard size(pts)==4 (act_img.py:164) over collected groups.
    QueryDef("p2_arity_guard",
      """SELECT l_orderkey, array_to_string(lns, ',') AS line_numbers FROM (
        |  SELECT l_orderkey, list_sort(list(l_linenumber)) AS lns
        |  FROM lineitem GROUP BY l_orderkey)
        |WHERE len(lns) = 4 ORDER BY l_orderkey""") { (s, d) =>
      // collect_list forces ObjectHashAggregate, whose sort-based fallback
      // re-serializes every buffer at millions of keys (the x17 lesson).
      // l_linenumber is 1..7 (TPC-H spec; verified in the synthetic data,
      // which DOES repeat values per orderkey — max dup 6 at sf0.1), so a
      // packed base-8 counter (3 bits per value) holds the whole sorted
      // multiset in one LONG: count+sum stay in whole-stage codegen, and
      // the list is decoded only for groups surviving the arity guard.
      // Overflow is impossible for survivors — n==4 caps any per-value
      // count at 4 < 8 — and an overflowed counter only ever belongs to a
      // group the n==4 filter drops.
      T.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(expr("shiftleft(1L, l_linenumber * 3)")).as("code"))
        .filter(col("n") === 4)
        .select(col("l_orderkey"),
          expr("""array_join(flatten(transform(sequence(1, 7),
            x -> array_repeat(cast(x as string),
                   cast(shiftright(code, x * 3) & 7 as int)))), ',')""")
            .as("line_numbers"))
        .orderBy("l_orderkey")
    },

    // P3: magnitude predicate peri > 1000 (pixel_processing.py:32).
    QueryDef("p3_magnitude_filter",
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_extendedprice > 40000
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""") { (s, d) =>
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem:
      // the sort must be total over the OUTPUT columns or tied rows land in
      // engine-dependent order and the hash compare flips at scale
      T.lineitem(s, d)
        .filter(col("l_extendedprice") > 40000)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    },

    // P4: group-size guard count >= 5 (handlehdrgen.py:25-27).
    QueryDef("p4_group_size_guard",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events FROM events
        |GROUP BY user_id HAVING count(*) >= 5 ORDER BY user_id""") { (s, d) =>
      T.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
        .filter(col("n_events") >= 5)
        .orderBy("user_id")
    },

    // P5: dimension predicate h==800 && w==800 (cut600.py:25-27).
    QueryDef("p5_dimension_filter",
      """SELECT p_partkey, p_size, p_type FROM part
        |WHERE p_size = 25 AND p_type = 'ECONOMY' ORDER BY p_partkey""") { (s, d) =>
      T.part(s, d)
        .filter(col("p_size") === 25 && col("p_type") === "ECONOMY")
        .select("p_partkey", "p_size", "p_type")
        .orderBy("p_partkey")
    },

    // P6/X1: derived-key projection id = split(stem,'_')[0]
    // (act_img.py:169, file_rename_sort.py:8-9).
    QueryDef("p6_derived_key",
      """SELECT c_custkey,
        |  CAST(string_split(c_name, '#')[2] AS BIGINT) AS derived_id,
        |  c_custkey % 5 AS slot
        |FROM customer ORDER BY c_custkey""") { (s, d) =>
      T.customer(s, d)
        .select(col("c_custkey"),
          split(col("c_name"), "#").getItem(1).cast("bigint").as("derived_id"),
          (col("c_custkey") % 5).as("slot"))
        .orderBy("c_custkey")
    },

    // P7/X3: try_cast with failure tolerance + range validity
    // (point3d_transformation.py:150-163).
    QueryDef("p7_trycast_range",
      """SELECT event_id, k FROM (
        |  SELECT event_id,
        |    try_cast(regexp_extract(props, '[0-9]+') AS BIGINT) AS k
        |  FROM events)
        |WHERE k IS NOT NULL AND k BETWEEN 10 AND 80 ORDER BY event_id""") { (s, d) =>
      T.events(s, d)
        .select(col("event_id"),
          expr("try_cast(regexp_extract(props, '[0-9]+', 0) AS BIGINT)").as("k"))
        .filter(col("k").isNotNull && col("k").between(10, 80))
        .orderBy("event_id")
    },

    // J1: inner equi-join, small dim broadcast (act_img.py:292-295).
    QueryDef("j1_equi_join_broadcast",
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""") { (s, d) =>
      // NO broadcast() hint (removed round 19, same rationale as j2's in
      // round 18): a hint overrides the size threshold at EVERY scale,
      // and at sf100 it forces a 15M-row dim build replicated per task
      // slot — on a 1000-executor cluster that is the dim shipped 1000x.
      // The planner broadcasts customer exactly while it fits (pinned at
      // gate scale in PlanSpec) and sort-merge-joins beyond; measured at
      // sf100 the free plan ties the hinted one (~15 s, the 150M-row
      // output sort dominates both).
      T.orders(s, d)
        .join(T.customer(s, d),
          col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // J2/SO1: key-intersection semi-join (extrinsic_calibration.py:349-360).
    QueryDef("j2_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""") { (s, d) =>
      // Broadcast can only build the RIGHT side of a left-semi, and the
      // right side here is the fact table — so dedupe its key first: the
      // distinct partial-aggregates map-side (shuffles ~|customer| keys,
      // not |orders| rows). NO broadcast() hint: a hint overrides the
      // size threshold, and at sf100 it forced a 15M-key build-side
      // (collect + replicate ~120 MB per task slot — measured 15.1 s,
      // 7.7x the oracle). The planner/AQE broadcasts the deduped key set
      // exactly while it fits (pinned at gate scale in PlanSpec) and
      // shuffle-semi-joins the already-deduped keys beyond that — still
      // strictly less data moved than semi-joining raw orders.
      T.customer(s, d)
        .join(T.orders(s, d).select("o_custkey").distinct(),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // J1 on the co-bucketed layout: identical semantics and oracle to
    // j1_equi_join_broadcast, but orders (wide projection) and customer
    // are stored co-bucketed on custkey — the join runs bucket-to-bucket
    // with NO keyed Exchange (pinned in PlanSpec); the remaining
    // exchange is the range partitioning of the semantically-required
    // ORDER BY o_orderkey, which dominates j1 at every scale. The
    // oracle is layout-blind by design.
    QueryDef("j1_bucketed",
      """SELECT o_orderkey, c_name, o_totalprice FROM orders
        |JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""") { (s, d) =>
      T.bucketedDeclared(s, d, "orders_wide")
        .join(T.bucketedDeclared(s, d, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // J2 on the co-bucketed layout (A2_SF100.md §6 productized):
    // identical semantics and oracle to j2_semi_join, but customer and
    // the orders key column are stored co-bucketed on custkey — the
    // distinct() is bucket-local (the scan already satisfies its
    // clustering) and the semi join runs bucket-to-bucket with NO keyed
    // Exchange in the plan (pinned in PlanSpec); the only remaining
    // exchange is the range partitioning of the semantically-required
    // output sort. Measured at sf100: 12.8→9.0 s medians with both
    // keyed exchanges gone. The oracle is layout-blind by design.
    QueryDef("j2_bucketed",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""") { (s, d) =>
      T.bucketedDeclared(s, d, "customer")
        .join(T.bucketedDeclared(s, d, "orders_keys").distinct(),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // J3: anti-join on a literal missing-index list
    // (point3d_transformation.py:133-135, keys [51,126,722,1414,2203]).
    QueryDef("j3_anti_join_missing",
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey NOT IN (5, 17, 23, 42, 77) ORDER BY s_suppkey""") { (s, d) =>
      Joins.dropKeys(T.supplier(s, d), "s_suppkey", missingKeys)
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // J4: positional join onto the COMPACTED post-anti-join sequence
    // (point3d_transformation.py:148-156; the off-by-reindex subtlety of
    // SURVEY.md §7.4 — ordinals assigned after filtering).
    QueryDef("j4_positional_join",
      """WITH comp AS (
        |  SELECT s_suppkey, s_name,
        |    row_number() OVER (ORDER BY s_suppkey) - 1 AS idx
        |  FROM supplier WHERE s_suppkey NOT IN (5, 17, 23, 42, 77))
        |SELECT n_nationkey, n_name, s_suppkey, s_name
        |FROM nation JOIN comp ON n_nationkey = idx ORDER BY n_nationkey""") { (s, d) =>
      Joins.positionalJoin(
          T.supplier(s, d).select("s_suppkey", "s_name"), "s_suppkey",
          missingKeys, T.nation(s, d), col("n_nationkey"))
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy("n_nationkey")
    },

    // J5: cross join building the 5x5x5 pose combination grid
    // (point3d_transformation.py:66-104, itertools.product).
    QueryDef("j5_cross_grid",
      """SELECT a.r_regionkey * 25 + b.r_regionkey * 5 + c.r_regionkey AS combo_id,
        |  concat_ws('|', a.r_name, b.r_name, c.r_name) AS combo
        |FROM region a CROSS JOIN region b CROSS JOIN region c
        |ORDER BY combo_id""") { (s, d) =>
      val r = T.region(s, d)
      val a = r.select(col("r_regionkey").as("ka"), col("r_name").as("na"))
      val b = r.select(col("r_regionkey").as("kb"), col("r_name").as("nb"))
      val c = r.select(col("r_regionkey").as("kc"), col("r_name").as("nc"))
      a.crossJoin(b).crossJoin(c)
        .select((col("ka") * 25 + col("kb") * 5 + col("kc")).as("combo_id"),
          concat_ws("|", col("na"), col("nb"), col("nc")).as("combo"))
        .orderBy("combo_id")
    },

    // J6: broadcast singleton join — attach a global scalar to every row
    // (implicit in extrinsic_calibration.py:114-123: K captured per call).
    QueryDef("j6_broadcast_singleton",
      """WITH s AS (SELECT avg(o_totalprice) AS avg_price FROM orders)
        |SELECT o_orderkey, round(o_totalprice / avg_price, 6) AS price_ratio
        |FROM orders CROSS JOIN s ORDER BY o_orderkey""") { (s, d) =>
      val singleton = T.orders(s, d).agg(avg("o_totalprice").as("avg_price"))
      T.orders(s, d)
        .crossJoin(broadcast(singleton))
        .select(col("o_orderkey"),
          round(col("o_totalprice") / col("avg_price"), 6).as("price_ratio"))
        .orderBy("o_orderkey")
    },

    // X (JSON surface): id -> record serialization — the reference's
    // commented json.dump of {pose_id: pose} (pose_filter.py:9-13,
    // 3148-3152). Integer/string payload only: float JSON formatting
    // differs across engines.
    QueryDef("x16_to_json",
      """SELECT s_suppkey,
        |  to_json(struct_pack(id := s_suppkey, name := s_name,
        |                      nation := CAST(s_nationkey AS BIGINT)))
        |    AS doc
        |FROM supplier ORDER BY s_suppkey""") { (s, d) =>
      T.supplier(s, d)
        .select(col("s_suppkey"),
          to_json(struct(
            col("s_suppkey").as("id"), col("s_name").as("name"),
            col("s_nationkey").cast("bigint").as("nation"))).as("doc"))
        .orderBy("s_suppkey")
    },

    // SO1: key-set intersection (extrinsic_calibration.py:349-351).
    QueryDef("so1_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""") { (s, d) =>
      T.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(T.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    // SO2: set difference (point3d_transformation.py:133-135).
    QueryDef("so2_except",
      """SELECT n_nationkey AS nationkey FROM nation
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""") { (s, d) =>
      T.nation(s, d).select(col("n_nationkey").as("nationkey"))
        .except(T.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },

    // SO3: union of error populations (extrinsic_calibration.py:213 extend).
    QueryDef("so3_union_all",
      """SELECT * FROM (
        |  SELECT 'ev' AS src, event_id AS id, round(value, 2) AS v
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT 'li' AS src, l_orderkey * 10 + l_linenumber AS id, l_tax AS v
        |  FROM lineitem WHERE l_orderkey < 100)
        |ORDER BY src, id, v""") { (s, d) =>
      val ev = T.events(s, d).filter(col("event_type") === "error")
        .select(lit("ev").as("src"), col("event_id").as("id"),
          round(col("value"), 2).as("v"))
      val li = T.lineitem(s, d).filter(col("l_orderkey") < 100)
        .select(lit("li").as("src"),
          (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
          col("l_tax").as("v"))
      // id collides for duplicated line numbers — v completes the sort
      ev.unionByName(li).orderBy("src", "id", "v")
    }
  )
}
