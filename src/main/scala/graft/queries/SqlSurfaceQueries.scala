package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Joins
import graft.streaming.Streams

/** The scalar-function / SQL surface (SURVEY.md §2.5: the reference's only
  * expression language is user callables — Spark's `functions` library is the
  * superior native path and is part of "same capabilities, Spark-idiomatic"),
  * plus grouping sets, pivot, subqueries through `spark.sql`, entry ranges,
  * sliding windows and the salted-join skew utility.
  */
object SqlSurfaceQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // math/string/date scalar functions; transcendentals rounded to 9 digits
    // (JVM intrinsics vs libm may differ in the last ulp)
    "q_scalar_funcs" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 100)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - 25.0).as("f_abs"),
          sqrt(col("l_quantity")).as("f_sqrt"),
          round(log(col("l_extendedprice")), 9).as("f_ln"),
          round(pow(col("l_discount") + 1.0, 3), 9).as("f_pow"),
          floor(col("l_extendedprice") / 100.0).as("f_floor"),
          upper(col("l_returnflag")).as("f_upper"),
          concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("f_concat"),
          lpad(col("l_linenumber").cast("string"), 3, "0").as("f_lpad"),
          substring(col("l_returnflag"), 1, 1).as("f_substr"),
          year(col("l_shipdate")).as("f_year"),
          month(col("l_shipdate")).as("f_month"),
          dayofmonth(col("l_shipdate")).as("f_day"),
          date_trunc("month", col("l_shipdate")).as("f_trunc"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    "q_string_funcs" -> { (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(
          col("doc_id"),
          regexp_replace(col("text"), "table", "TBL").as("f_regexp_replace"),
          reverse(substring(col("text"), 1, 20)).as("f_reverse"),
          repeat(col("lang"), 3).as("f_repeat"),
          instr(col("text"), "spark").as("f_instr"),
          translate(col("lang"), "en", "EN").as("f_translate"),
          ltrim(rtrim(col("text"))).as("f_trim"),
          length(col("source")).as("f_len"))
        .orderBy(col("doc_id"))
    },

    // JSON function family over the events.props JSON column
    "q_json_funcs" -> { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") < 2000)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_value"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k_struct"),
          to_json(struct(col("event_id").as("id"))).as("j_out"))
        .orderBy(col("event_id"))
    },

    "q_grouping_sets" -> { (s, dir) =>
      // unique, dropped-after view name: a fixed name would mutate shared
      // session state and could collide across concurrent queries
      val v = s"li_gs_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      Tables.lineitem(s, dir).createOrReplaceTempView(v)
      val out = s.sql(s"""
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               count(*) AS n, sum(l_quantity) AS sum_qty
        FROM $v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rflag, lstatus""")
      s.catalog.dropTempView(v) // sql() analyzed eagerly; the plan keeps the relation
      out
    },

    "q_pivot" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_quantity")))
        .withColumnRenamed("A", "qty_a").withColumnRenamed("N", "qty_n")
        .withColumnRenamed("R", "qty_r")
        .na.fill(0.0, Seq("qty_a", "qty_n", "qty_r"))
        .orderBy(col("l_linestatus"))
    },

    // date/interval function breadth
    "q_date_funcs" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderkey") <= 200)
        .select(
          col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("f_plus30d"),
          (col("o_orderdate") - expr("INTERVAL 6 HOURS")).as("f_minus6h"),
          datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
            .as("f_days_to_98"),
          quarter(col("o_orderdate")).as("f_quarter"),
          dayofmonth(col("o_orderdate")).as("f_dom"),
          unix_timestamp(col("o_orderdate")).as("f_epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM").as("f_ym"))
        .orderBy(col("o_orderkey"))
    },

    // array function breadth over the embedding column
    "q_array_funcs" -> { (s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("vec_id") < 50)
        .withColumn("d", col("embedding").cast("array<double>"))
        .select(
          col("vec_id"),
          size(col("d")).as("f_size"),
          round(element_at(col("d"), 1), 6).as("f_first"),
          round(array_max(col("d")), 6).as("f_max"),
          round(element_at(sort_array(col("d")), 1), 6).as("f_sorted_min"),
          round(element_at(slice(col("d"), 1, 3), 2), 6).as("f_slice2"),
          size(filter(col("d"), x => x > 0.0)).as("f_npos"),
          round(aggregate(col("d"), lit(0.0), (acc, x) => acc + x), 6).as("f_sum"))
        .orderBy(col("vec_id"))
    },

    // unpivot (melt) via stack — wide metrics to long form
    "q_unpivot" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("qty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("price"),
          count(lit(1)).cast("double").as("rows"))
        .select(col("l_returnflag"), expr(
          "stack(3, 'qty', qty, 'price', CAST(price AS DOUBLE), 'rows', rows) AS (metric, value)"))
        .withColumn("value", round(col("value"), 2))
        .orderBy(col("l_returnflag"), col("metric"))
    },

    // struct/map/array construction + access
    "q_struct_funcs" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderkey") <= 100)
        .select(
          col("o_orderkey"),
          struct(col("o_custkey").as("c"), col("o_totalprice").as("p")).as("st"),
          map(lit("status"), col("o_orderstatus"), lit("prio"), col("o_orderpriority")).as("m"),
          array(col("o_orderkey"), col("o_custkey")).as("arr"))
        .select(
          col("o_orderkey"),
          col("st.c").as("st_cust"), col("st.p").as("st_price"),
          col("m")("status").as("m_status"), col("m")("prio").as("m_prio"),
          element_at(col("arr"), 2).as("arr_second"),
          size(col("arr")).as("arr_len"))
        .orderBy(col("o_orderkey"))
    },

    // correlated + IN subqueries through the engine's SQL surface
    "q_subqueries" -> { (s, dir) =>
      val sfx = java.util.UUID.randomUUID.toString.replace("-", "")
      val (cv, ov) = (s"cust_sq_$sfx", s"ord_sq_$sfx")
      Tables.customer(s, dir).createOrReplaceTempView(cv)
      Tables.orders(s, dir).createOrReplaceTempView(ov)
      val out = s.sql(s"""
        SELECT c_custkey, c_acctbal FROM $cv c
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM $cv
                           WHERE c_nationkey = c.c_nationkey)
          AND c_custkey IN (SELECT o_custkey FROM $ov WHERE o_totalprice > 200000)
        ORDER BY c_custkey""")
      s.catalog.dropTempView(cv)
      s.catalog.dropTempView(ov)
      out
    },

    // exact interpolated percentiles (integral data → exact doubles)
    "q_percentile" -> { (s, dir) =>
      Tables.lineitem(s, dir).agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.75)).as("p75"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"))
    },

    // reference planned op `Ranges` (TDFGuide.md:293-295): entry slices —
    // deterministic via total order + offset/limit
    "q_range" -> { (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .offset(500).limit(250)
    },

    // sliding event-time windows (10 min length, 5 min slide) via the real
    // streaming path
    "q_stream_sliding" -> { (s, dir) =>
      Streams.drainToMemory("complete") {
        Streams.eventStream(s, dir)
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      }.orderBy(col("window_start"), col("event_type"))
    },

    // approximate aggregates — the 100 TB scale path (sketch-based, fixed
    // memory). Sketch VALUES have no exact oracle, but their LAWS do: the
    // query compares each sketch against its exact twin in-query and emits
    // only the exact values plus 0/1 law flags; DuckDB reproduces the exact
    // values and asserts the flags are 1, so a sketch drifting out of its
    // documented error envelope breaks the hash match. (The raw-value rank
    // law lives in LawsSpec.) Tolerances: HLL++ at rsd 0.01 gets 5× the
    // target rsd; approx_percentile(accuracy=1000) guarantees rank error
    // <= n/1000, checked as the exact 0.494..0.506 quantile band (6×).
    "q_approx_sketch" -> { (s, dir) =>
      // two 1-row aggs instead of one: countDistinct next to the percentile
      // buffers forces an Expand that streams every row through the exact
      // buffers TWICE (12.8 s → ~4 s at sf0.1 when first split in r15).
      //
      // r19: the exact `percentile` itself was the next wall — on 600 k
      // rows with 583 k DISTINCT prices its ObjectHashAggregate buffer is a
      // per-partition value→count map merged and sorted on ONE thread
      // (probe: ~2/3 of the row's exec). The exact quantiles are instead
      // computed from a distributed cumulative distribution — groupBy
      // value, running count, then Spark's own Percentile.getPercentile
      // interpolation REPRODUCED EXACTLY over the cum table: position
      // (n−1)·p, lowerKey/higherKey = first values with cum > floor/ceil,
      // result (higher−pos)·lowerKey + (pos−lower)·higherKey in the same
      // IEEE order — identical doubles (oracle: DuckDB quantile_cont,
      // unchanged). The single-partition window runs over the DISTINCT-
      // value frame (583 k rows here; at 100 TB you'd pre-bucket like
      // q_sketch_quantile — this stays the exact-twin gate).
      import org.apache.spark.sql.expressions.Window
      val li = Tables.lineitem(s, dir)
      // the cumulative count runs as ONE unpartitioned window over the
      // DISTINCT-value frame (583 k rows at sf0.1, ~2.4 s single task). A
      // two-level range-partitioned cumsum was measured at this scale and
      // LOST (checkpoint + extra shuffles cost more than the single sort
      // saves, 5.5 s vs 4.5 s row total); at true corpus scale the
      // pre-bucketed q_sketch_quantile path is the scale answer, this gate
      // stays the exact twin.
      // r20: a localCheckpoint pin of the grouped (value, count) frame was
      // MEASURED and REJECTED here (A/B probe 3.42 → 3.74 s): the window
      // prunes away from the total-count consumer and exchange reuse
      // already dedups the groupBy, so the pin only added a 583 k-row
      // checkpoint copy
      val cum = li.filter(col("l_extendedprice").isNotNull)
        .groupBy(col("l_extendedprice").as("v")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = col("n").cast("double")
      val ps = Seq(0.494, 0.5, 0.506)
      def interp(p: Double): Column = {
        val pos = (n - 1.0) * lit(p)
        val lower = floor(pos)
        val higher = ceil(pos)
        val lowerKey = col(s"lk_${ps.indexOf(p)}")
        val higherKey = col(s"hk_${ps.indexOf(p)}")
        when(lower === higher, lowerKey)
          .when(lowerKey === higherKey, lowerKey)
          .otherwise((higher.cast("double") - pos) * lowerKey +
            (pos - lower.cast("double")) * higherKey)
      }
      // phase 1: total row count (exact, from the grouped counts)
      val nRow = cum.agg(sum(col("c")).as("n"))
      // phase 2: lower/higher keys per percentile — first value whose
      // running count exceeds the floor/ceil position (binarySearchCount)
      val keyAggs = ps.zipWithIndex.flatMap { case (p, i) =>
        val pos = (col("n").cast("double") - 1.0) * lit(p)
        Seq(
          min(when(col("cum") > floor(pos), col("v"))).as(s"lk_$i"),
          min(when(col("cum") > ceil(pos), col("v"))).as(s"hk_$i"))
      }
      val keys = cum.crossJoin(broadcast(nRow))
        .agg(keyAggs.head, keyAggs.tail :+ first(col("n")).as("n"): _*)
      val pcts = li.agg(
        approx_percentile(col("l_extendedprice"), lit(0.5), lit(1000)).as("__amed"))
      val parts = li.agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("__apx"))
      parts.crossJoin(pcts).crossJoin(broadcast(keys))
        .select(
          col("exact_parts"),
          (abs(col("__apx") - col("exact_parts")) / col("exact_parts") <= 0.05)
            .cast("int").as("approx_parts_ok"),
          interp(0.5).as("exact_median"),
          (col("__amed") >= interp(0.494) && col("__amed") <= interp(0.506))
            .cast("int").as("approx_median_ok"))
    },

    // deterministic hash sampling — the reproducible 100 TB sampling pattern
    // (same rows selected on any engine/cluster/run, unlike rand()-based)
    "q_sample_hash" -> { (s, dir) =>
      Tables.orders(s, dir)
        .filter(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100 < 10)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // bloom-prefiltered join equals plain join: probe rows are dropped by a
    // codegen'd Bloom membership test before the shuffle; the join removes
    // the false positives, so the oracle is simply the plain join
    "q_bloom_join" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sel = Tables.orders(s, dir)
        .filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      Joins.bloomPrefiltered(li, sel, "l_orderkey", "o_orderkey", 100000L, 0.01)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    },

    // bucketized range join: overlapping price bands × orders as a hash
    // equi-join on bucket ids (a bare range predicate would plan as a
    // nested-loop join — O(n·m), dead at 100 TB); exact vs DuckDB's BETWEEN
    "q_range_join" -> { (s, dir) =>
      val ranges = s.range(0, 100).toDF("range_id")
        .withColumn("lo", col("range_id") * 3000.0)
        .withColumn("hi", col("range_id") * 3000.0 + 8999.0)
      Joins.rangeBucketed(Tables.orders(s, dir), ranges, "o_totalprice", "lo", "hi", 3000.0)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
        .orderBy(col("range_id"))
    },

    // salted join equals plain join (skew-mitigation correctness)
    "q_salted_join" -> { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      Joins.salted(li, sup.select(col("s_suppkey").as("l_suppkey"), col("s_name")),
        "l_suppkey", 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_name"))
    }
  )

  def oracles: Map[String, String] = Map(
    "q_scalar_funcs" -> """
      SELECT l_orderkey, l_linenumber,
             abs(l_quantity - 25.0) AS f_abs,
             sqrt(l_quantity) AS f_sqrt,
             round(ln(l_extendedprice), 9) AS f_ln,
             round(pow(l_discount + 1.0, 3), 9) AS f_pow,
             CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS f_floor,
             upper(l_returnflag) AS f_upper,
             l_returnflag || '/' || l_linestatus AS f_concat,
             lpad(CAST(l_linenumber AS VARCHAR), 3, '0') AS f_lpad,
             substring(l_returnflag, 1, 1) AS f_substr,
             CAST(year(l_shipdate) AS INT) AS f_year,
             CAST(month(l_shipdate) AS INT) AS f_month,
             CAST(day(l_shipdate) AS INT) AS f_day,
             CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS f_trunc
      FROM lineitem WHERE l_orderkey <= 100
      ORDER BY l_orderkey, l_linenumber""",
    "q_string_funcs" -> """
      SELECT doc_id,
             regexp_replace(text, 'table', 'TBL', 'g') AS f_regexp_replace,
             reverse(substring(text, 1, 20)) AS f_reverse,
             repeat(lang, 3) AS f_repeat,
             strpos(text, 'spark') AS f_instr,
             translate(lang, 'en', 'EN') AS f_translate,
             ltrim(rtrim(text)) AS f_trim,
             length(source) AS f_len
      FROM documents WHERE doc_id < 100 ORDER BY doc_id""",
    "q_json_funcs" -> """
      SELECT event_id,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k_struct,
             '{"id":' || event_id || '}' AS j_out
      FROM events WHERE event_id < 2000 ORDER BY event_id""",
    "q_grouping_sets" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rflag,
             coalesce(l_linestatus, 'ALL') AS lstatus,
             count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rflag, lstatus""",
    "q_pivot" -> """
      SELECT l_linestatus,
             coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0.0) AS qty_a,
             coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0.0) AS qty_n,
             coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0.0) AS qty_r
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",
    "q_date_funcs" -> """
      SELECT o_orderkey,
             o_orderdate + INTERVAL '30 days' AS f_plus30d,
             o_orderdate - INTERVAL '6 hours' AS f_minus6h,
             datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS f_days_to_98,
             quarter(o_orderdate) AS f_quarter,
             day(o_orderdate) AS f_dom,
             epoch(o_orderdate)::BIGINT AS f_epoch_s,
             strftime(o_orderdate, '%Y-%m') AS f_ym
      FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""",
    "q_array_funcs" -> """
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS d
                 FROM embeddings WHERE vec_id < 50)
      SELECT vec_id,
             len(d)::INT AS f_size,
             round(d[1], 6) AS f_first,
             round(list_max(d), 6) AS f_max,
             round(list_sort(d)[1], 6) AS f_sorted_min,
             round(d[1:3][2], 6) AS f_slice2,
             len(list_filter(d, x -> x > 0.0))::INT AS f_npos,
             round(list_sum(d), 6) AS f_sum
      FROM e ORDER BY vec_id""",
    "q_unpivot" -> """
      WITH a AS (SELECT l_returnflag, sum(l_quantity) AS qty,
                        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price,
                        count(*)::DOUBLE AS rows FROM lineitem GROUP BY 1)
      SELECT l_returnflag, metric, round(value, 2) AS value FROM (
        SELECT l_returnflag, 'qty' AS metric, qty AS value FROM a
        UNION ALL SELECT l_returnflag, 'price', price FROM a
        UNION ALL SELECT l_returnflag, 'rows', rows FROM a)
      ORDER BY l_returnflag, metric""",
    "q_struct_funcs" -> """
      SELECT o_orderkey, o_custkey AS st_cust, o_totalprice AS st_price,
             o_orderstatus AS m_status, o_orderpriority AS m_prio,
             o_custkey AS arr_second, 2 AS arr_len
      FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey""",
    "q_subqueries" -> """
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_nationkey = c.c_nationkey)
        AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
      ORDER BY c_custkey""",
    "q_percentile" -> """
      SELECT quantile_cont(l_quantity, 0.25) AS p25,
             quantile_cont(l_quantity, 0.5) AS p50,
             quantile_cont(l_quantity, 0.75) AS p75,
             quantile_cont(l_quantity, 0.9) AS p90
      FROM lineitem""",
    "q_approx_sketch" -> """
      SELECT count(DISTINCT l_partkey) AS exact_parts,
             1 AS approx_parts_ok,
             quantile_cont(l_extendedprice, 0.5) AS exact_median,
             1 AS approx_median_ok
      FROM lineitem""",
    "q_range" -> """
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      ORDER BY l_orderkey, l_linenumber LIMIT 250 OFFSET 500""",
    "q_stream_sliding" -> """
      WITH w AS (SELECT time_bucket(INTERVAL '5 minutes', ts)
                   - to_microseconds(o * 300000000) AS window_start, event_type
                 FROM events, (SELECT unnest([0, 1]) AS o))
      SELECT window_start, event_type, count(*) AS n
      FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "q_sample_hash" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),1,8)) AS BIGINT) % 100 < 10
      ORDER BY o_orderkey""",
    "q_range_join" -> """
      WITH b AS (SELECT unnest(range(0,100)) AS range_id),
      r AS (SELECT range_id, range_id*3000.0 AS lo, range_id*3000.0+8999.0 AS hi FROM b)
      SELECT range_id, count(*) AS n_orders,
             CAST(sum(round(o_totalprice*100)::BIGINT) AS BIGINT) AS sum_cents
      FROM orders JOIN r ON o_totalprice >= lo AND o_totalprice <= hi
      GROUP BY range_id ORDER BY range_id""",
    "q_bloom_join" -> """
      SELECT o_orderkey, count(*) AS n_items, sum(l_quantity) AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_totalprice > 400000.0
      GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q_salted_join" -> """
      SELECT s_name, count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_name ORDER BY s_name"""
  )
}
