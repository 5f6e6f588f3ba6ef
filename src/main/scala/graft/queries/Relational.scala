package graft.queries

import graft.fold.FoldCol
import graft.rep.Repetition
import graft.task.PTask
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational operator surface declared in SURVEY §2.E's set:
  * scans, project/filter, flatMap, group-by aggregates, one-pass
  * multi-agg (FoldA), distinct, union (layer merge), joins, sort/limit,
  * window, repetition over index sets, partitioned-write round-trip.
  *
  * Every query is deterministic (ORDER BY a unique key; decimal-exact
  * sums) so the driver's DuckDB hash-compare is stable.
  *
  * Scale notes are per-query; the common ones: filters/projections are
  * `Column` exprs (pushed into the parquet scan), small dims are
  * broadcast, aggregates are partial (map-side combine) by construction.
  */
object Relational {
  import Star._

  /** Every query of this module, each declared once with its DuckDB
    * oracle next to its build. */
  lazy val inventory: QueryTable = QueryTable(
    // --- scan + group-by aggregate (TPC-H Q1 shape). Partial agg on
    //     6 groups => the shuffle moves ~6 rows/partition at any SF.
    Query("q01_agg", (s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sumDec($"l_quantity").as("sum_qty"),
          sumDec($"l_extendedprice").as("sum_base_price"),
          sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
            .cast("double").as("sum_disc_price"),
          (sumDec($"l_quantity") / count($"l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // --- projection + filter: both reach the parquet scan
    //     (PushedFilters / 3-column ReadSchema).
    Query("q02_project_filter", (s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .filter($"l_quantity" > 45 &&
          $"l_shipdate" >= lit("2000-01-01").cast("timestamp"))
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01'
         ORDER BY l_orderkey, l_linenumber"""),

    // --- sort + limit (top-k): Spark TakeOrderedAndProject — no global
    //     sort, each partition keeps k rows.
    Query("q03_topk", (s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(10)
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""),

    // --- broadcast join chain over the dimension tables: no shuffle of
    //     the fact side at any SF (region/nation are tiny by schema).
    Query("q04_join_broadcast", (s, dir) => {
      import s.implicits._
      val customer = table(s, dir, "customer")
      val nation = broadcast(table(s, dir, "nation"))
      val region = broadcast(table(s, dir, "region"))
      customer
        .join(nation, $"c_nationkey" === $"n_nationkey")
        .join(region, $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_customers"),
          sumDec($"c_acctbal").as("sum_acctbal"))
        .orderBy($"r_name")
    },
      """SELECT r_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name"""),

    // --- fact-to-fact shuffle join on the natural key; AQE picks the
    //     physical strategy, partial aggs on both sides of the join.
    Query("q05_join_shuffle", (s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg(
          sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"o_orderpriority")
    },
      """SELECT o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority"""),

    // --- group-by-key count: the reference example1's letter-histogram
    //     semantics (HM.fromListWith (+), Example1.hs:37-40).
    Query("q06_group_count", (s, dir) => {
      import s.implicits._
      table(s, dir, "orders")
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sumDec($"o_totalprice").as("sum_price"))
        .orderBy($"o_custkey")
    },
      """SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),

    // --- distinct (dedup of the declared set).
    Query("q07_distinct", (s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem")
        .select($"l_returnflag", $"l_linestatus").distinct()
        .orderBy($"l_returnflag", $"l_linestatus")
    },
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus"""),

    // --- union-of-layers merge (the reference's Layered read monoid,
    //     SURVEY §1.5) then aggregate; unionByName is a no-shuffle plan.
    Query("q08_union", (s, dir) => {
      import s.implicits._
      val o = table(s, dir, "orders")
      val hi = o.filter($"o_totalprice" > 150000.0)
      val ur = o.filter($"o_orderstatus" === "O")
      hi.unionByName(ur)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM (
           SELECT * FROM orders WHERE o_totalprice > 150000.0
           UNION ALL
           SELECT * FROM orders WHERE o_orderstatus = 'O'
         ) GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // --- one-pass multi-aggregate through the FoldA algebra: three
    //     folds composed applicatively run as ONE df.agg (FoldA.hs
    //     Applicative, radon foldSummary parity).
    Query("q09_fold_multiagg", (s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
      val fold = FoldCol.count
        .zip(FoldCol.countDistinctOf($"l_suppkey"))
        .zip(FoldCol.sumD(dec($"l_quantity")))
      // exercise the algebra (one pass over a collected agg row), then
      // express the same thing as a 1-row DataFrame for the oracle:
      val ((nRows, nSupp), sumQty) = fold.run(li)
      s.createDataFrame(Seq((nRows, nSupp, sumQty)))
        .toDF("n_rows", "n_supp", "sum_qty")
    },
      """SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_suppkey) AS n_supp,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem"""),

    // --- window functions: rank + running total per customer.
    Query("q10_window", (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_price",
          sum(dec($"o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .filter($"rn" <= 3)
        // row_number is int in Spark but BIGINT in DuckDB — align types
        .select($"o_custkey", $"rn".cast("long").as("rn"), $"o_orderkey",
          $"running_price")
        .orderBy($"o_custkey", $"rn")
    },
      """SELECT o_custkey, rn, o_orderkey, running_price FROM (
           SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER w AS rn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_price
           FROM orders
           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ) WHERE rn <= 3 ORDER BY o_custkey, rn"""),

    // --- semi join (EXISTS): customers with an open order.
    Query("q11_semijoin", (s, dir) => {
      import s.implicits._
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter($"o_orderstatus" === "O")
      c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey"""),

    // --- anti join (NOT EXISTS): customers with no big-ticket order.
    Query("q12_antijoin", (s, dir) => {
      import s.implicits._
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter($"o_totalprice" > 250000.0)
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_totalprice > 250000.0)
         ORDER BY c_custkey"""),

    // --- flatMap/explode (the reference's stream concatMap filters,
    //     STU:81-107): tokenize documents, top tokens.
    Query("q13_explode_tokens", (s, dir) => {
      import s.implicits._
      table(s, dir, "documents")
        .select(explode(split($"text", " ")).as("token"))
        .filter($"token" =!= "")
        .groupBy($"token")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token".asc)
        .limit(50)
    },
      """SELECT token, COUNT(*) AS n FROM (
           SELECT unnest(string_split(text, ' ')) AS token FROM documents
         ) WHERE token <> ''
         GROUP BY token ORDER BY n DESC, token ASC LIMIT 50"""),

    // --- multi-agg incl. sorted distinct-collect (radon foldSummary:
    //     count / L.nub states / distinct county count). The collected
    //     set is joined to a scalar string: the driver's comparator
    //     sorts rows in pandas, which cannot hash/sort array cells.
    Query("q14_fold_collect", (s, dir) => {
      import s.implicits._
      table(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        array_join(sort_array(collect_set($"l_returnflag")), ",").as("flags"),
        count_distinct($"l_suppkey").as("n_supp"))
    },
      """SELECT COUNT(*) AS n_rows,
           array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags,
           COUNT(DISTINCT l_suppkey) AS n_supp
         FROM lineitem"""),

    // --- repetition over an index set (parMapTask + IndexRange,
    //     REP:61-67,114-181): 5 parameterized sub-pipelines fanned out
    //     in the driver, each a lazy filtered-agg plan, unioned.
    Query("q15_rep_indexed", (s, dir) => {
      import s.implicits._
      val indices = Repetition.parseIndexRange("0..4")
      val one: PTask[String, DataFrame] = PTask.task((ctx, idx) =>
        table(s, dir, "orders")
          .filter($"o_custkey" % 5 === idx.toLong)
          .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
          .withColumn("idx", lit(idx.toLong)))
      val rep = Repetition.seqMapTask("bucket", one)
      val parts = graft.Pipeline.run(s, rep, graft.loc.Mappings.empty,
        indices.map(i => i -> i))
      parts.map(_._2).reduce(_.unionByName(_))
        .select($"idx", $"n", $"sum_price")
        .orderBy($"idx")
    },
      """SELECT o_custkey % 5 AS idx, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // --- event-time tumbling window aggregation (batch form of the
    //     streaming fold surface, SURVEY §2.J).
    Query("q16_events_hourly", (s, dir) => {
      import s.implicits._
      Star.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("n"), sumDec10($"value").as("sum_value"))
        .orderBy($"event_type", $"hour")
    },
      """SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY event_type, hour"""),

    // --- semi-structured JSON column extraction (reference aeson
    //     Value serial, SER:268-314): props -> typed field.
    Query("q17_events_json", (s, dir) => {
      import s.implicits._
      Star.events(s, dir)
        .select($"event_type",
          get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
        .orderBy($"event_type")
    },
      """SELECT event_type,
           CAST(SUM(CAST(regexp_extract(props, '"k": (-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""),

    // --- first-match multi-way split (stacked filters + Copy,
    //     STU:91-114): orders fanned into price bands over ONE cached
    //     pass, each branch aggregated, branches unioned back.
    Query("q19_split_multiway", (s, dir) => {
      import s.implicits._
      val branches = graft.access.Split.splitFirstMatch(
        table(s, dir, "orders"),
        Seq("high" -> ($"o_totalprice" > 200000.0),
          "mid" -> ($"o_totalprice" > 100000.0)),
        restName = Some("low"))
      branches.toSeq.sortBy(_._1).map { case (name, df) =>
        df.agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
          .select(lit(name).as("band"), $"n", $"sum_price")
      }.reduce(_.unionByName(_)).orderBy($"band")
    },
      """SELECT band, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM (SELECT CASE WHEN o_totalprice > 200000.0 THEN 'high'
                           WHEN o_totalprice > 100000.0 THEN 'mid'
                           ELSE 'low' END AS band, o_totalprice
               FROM orders)
         GROUP BY band ORDER BY band"""),

    // --- partitioned-write round-trip (writeDataList/partitionBy
    //     layout, VFA:156-176): write orders partitioned by status,
    //     read back, verify per-partition counts.
    Query("q18_partitioned_write", (s, dir) => {
      import s.implicits._
      val scratch = s"${graft.Scratch.root}/q18_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      // clustered partitioned write (r21): a direct write from scan
      // partitions emits tasks x values files; clusterByPartitions'
      // REBALANCE bounds it at ~one well-sized file per value with
      // AQE splitting any oversized value across tasks (the remedy
      // this comment used to only document — the read-back aggregate
      // below is layout-independent, oracle-hash-pinned).
      graft.Writes.clusterByPartitions(table(s, dir, "orders"),
          "o_orderstatus")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(scratch)
      s.read.parquet(scratch)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
        .orderBy($"o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // --- memo-served rerun (toTask' / funflow store, Caching.hs:52-123):
    //     the same cachedTask runs twice against one cache root; run 1
    //     populates the content store, run 2 RETURNS THE MEMO ENTRY (its
    //     lineage roots at the store's parquet, not the source scan) —
    //     so this oracle row exercises the cache READ path end-to-end.
    Query("q20_cached_rerun", (s, dir) => {
      import s.implicits._
      import graft.model.{Usage, VPath, VirtualFile}
      val scratch = s"${graft.Scratch.root}/q20_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val m = graft.loc.Mappings(Map(VPath("/orders") ->
        graft.loc.MappingRhs.Layers(Seq(
          graft.loc.LocTemplate(s"$dir/orders.parquet")))))
      val src = VirtualFile(VPath("/orders"), Seq("parquet"), Usage.Source)
      val t = graft.access.Access.getDataReader(src) >>>
        PTask.cachedTask[graft.access.Access.DataReader]("q20_agg_v1",
          (ctx, r) => r.paths ++ r.paths.map(ctx.cache.get.fingerprint)) {
          (_, r) =>
            r.read().groupBy($"o_orderstatus")
              .agg(count(lit(1)).as("n"),
                sumDec($"o_totalprice").as("sum_price"))
        }
      graft.Pipeline.run(s, t, m, (),
        cacheRoot = Some(s"$scratch/memo")).count()
      graft.Pipeline.run(s, t, m, (), cacheRoot = Some(s"$scratch/memo"))
        .orderBy($"o_orderstatus")
    },
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),

    // --- as-of join (union-window plan, Joins.asofJoin): every click
    //     gets the user's most recent purchase at or before it. Epoch
    //     micros on both sides keep the time arithmetic engine-exact.
    // as-of replayed with the same union-window rule (not DuckDB's
    // ASOF keyword, whose tie semantics are its own)
    Query("q21_asof_join", (s, dir) => {
      import s.implicits._
      val ev = Star.events(s, dir).withColumn("tsu", unix_micros($"ts"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"event_id", $"user_id", $"tsu")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"tsu", $"value")
      graft.rep.Joins.asofJoin(clicks, purchases, "user_id", "tsu",
          payload = Seq("value"))
        .orderBy($"event_id")
    },
      """WITH ev AS (
           SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu,
             event_type, value
           FROM events),
         u AS (
           SELECT event_id, user_id, tsu,
             NULL::DOUBLE AS pv, NULL::BIGINT AS pts, 1 AS side
           FROM ev WHERE event_type = 'click'
           UNION ALL
           SELECT NULL, user_id, tsu, value, tsu, 0
           FROM ev WHERE event_type = 'purchase'),
         c AS (
           SELECT event_id, user_id, tsu, side,
             last_value(pv IGNORE NULLS) OVER w AS asof_value,
             last_value(pts IGNORE NULLS) OVER w AS asof_ts
           FROM u
           WINDOW w AS (PARTITION BY user_id ORDER BY tsu, side
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT event_id, user_id, tsu, asof_value, asof_ts
         FROM c WHERE side = 1 ORDER BY event_id"""),

    // --- range join (grid-bucketed equi-join, Joins.rangeJoin):
    //     orders priced into non-uniform bands — the equi-joinable
    //     form of a BETWEEN predicate Spark would otherwise
    //     nested-loop.
    Query("q22_range_join", (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("small", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("large", 150000.0, 300000.0), ("huge", 300000.0, 500000.0))
        .toDF("band", "lo", "hi")
      graft.rep.Joins.rangeJoin(
          table(s, dir, "orders").select($"o_orderkey", $"o_totalprice"),
          bands, "o_totalprice", "lo", "hi", bucketWidth = 50000.0)
        .groupBy($"band")
        .agg(count(lit(1)).as("n"), sumDec($"o_totalprice").as("sum_price"))
        .orderBy($"band")
    },
      """SELECT band, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         JOIN (VALUES ('small', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
                      ('large', 150000.0, 300000.0),
                      ('huge', 300000.0, 500000.0)) v(band, lo, hi)
           ON o_totalprice >= lo AND o_totalprice < hi
         GROUP BY band ORDER BY band"""),

    // --- gap-based sessionization (Sessionize.sessionStats): 30-min
    //     inactivity gap per user over the events stream, per-session
    //     rollup.
    Query("q23_sessionize", (s, dir) => {
      import s.implicits._
      val ev = Star.events(s, dir).withColumn("tsu", unix_micros($"ts"))
        .select($"user_id", $"tsu", $"value")
      graft.streaming.Sessionize.sessionStats(ev, "user_id", "tsu",
          gap = 30L * 60 * 1000000, valueCol = "value")
        .orderBy($"user_id", $"session_idx")
    },
      """WITH e AS (
           SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, value
           FROM events),
         m AS (
           SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
                            OR tsu - lag(tsu) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu)),
         s AS (
           SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id
             ORDER BY tsu
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
             AS BIGINT) AS session_idx
           FROM m)
         SELECT user_id, session_idx, min(tsu) AS session_start,
           max(tsu) AS session_end, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""),

    // ROLLUP hierarchy totals in ONE pass (Spark expands the grouping
    // sets inside a single shuffle — no self-union of aggregates);
    // grouping() distinguishes the subtotal rows from real NULL keys.
    // ROLLUP replay: DuckDB expands the same grouping sets; GROUPING()
    // flags keep subtotal rows distinguishable and the sort total.
    Query("q24_rollup", (s, dir) => {
      import s.implicits._
      Star.table(s, dir, "lineitem")
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          Star.sumDec($"l_quantity").as("sum_qty"),
          grouping($"l_returnflag").cast("long").as("g_flag"),
          grouping($"l_linestatus").cast("long").as("g_status"))
        .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""),

    // native pivot with EXPLICIT value list (no distinct-scan job to
    // discover columns — at 100 TB the pivot values are a contract,
    // not a discovery); one shuffle, conditional partial aggregates.
    // pivot replay: conditional aggregation — identical decimal sums
    // per (flag, status) cell.
    Query("q25_pivot", (s, dir) => {
      import s.implicits._
      Star.table(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Star.sumDec($"l_quantity"))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy($"l_returnflag")
    },
      """SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F'
             THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
             AS qty_f,
           CAST(SUM(CASE WHEN l_linestatus = 'O'
             THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
             AS qty_o
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // native CUBE: all 2^k grouping sets in ONE shuffle (the expand
    // operator multiplies rows map-side; no self-union of aggregates),
    // GROUPING() flags keep the set lattice distinguishable.
    // CUBE replay: same grouping-set lattice + GROUPING() flags.
    Query("q26_cube", (s, dir) => {
      import s.implicits._
      Star.table(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          Star.sumDec($"l_quantity").as("sum_qty"),
          grouping($"l_returnflag").cast("long").as("g_flag"),
          grouping($"l_linestatus").cast("long").as("g_status"))
        .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""),

    // --- arbitrary GROUPING SETS: the three-level subtotal a cube
    // would over-produce and a rollup can't order — (flag, status),
    // (status), and the grand total, in ONE shuffle via expand.
    Query("q28_grouping_sets", (s, dir) => {
      import s.implicits._
      Star.table(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_linestatus"),
            Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
          Star.sumDec($"l_quantity").as("sum_qty"),
          grouping($"l_returnflag").cast("long").as("g_flag"),
          grouping($"l_linestatus").cast("long").as("g_status"))
        .orderBy($"g_flag", $"g_status", $"l_returnflag", $"l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
           (l_linestatus), ())
         ORDER BY g_flag, g_status, l_returnflag, l_linestatus"""),

    // --- time-RANGE rolling window: per-user trailing-1h activity
    // (sum of value + event count over a true time interval, not a
    // row count). RangeFrame on the microsecond epoch — the telemetry
    // staple q10's ROWS frame can't express. Scale: per-user window
    // partitions (bounded per key), single shuffle on user_id, frame
    // evaluated with the sliding-sum optimization; decimal sums for
    // oracle parity.
    Query("q27_rolling_range", (s, dir) => {
      import s.implicits._
      val ev = Star.events(s, dir).withColumn("tsu", unix_micros($"ts"))
      val hourUs = 3600L * 1000000L
      val w = Window.partitionBy($"user_id").orderBy($"tsu")
        .rangeBetween(-hourUs, 0L)
      ev.select($"user_id", $"event_id", $"tsu",
          sum($"value".cast("decimal(28,10)")).over(w).cast("double")
            .as("rolling_1h"),
          count(lit(1)).over(w).as("n_1h"))
        .orderBy($"user_id", $"tsu", $"event_id")
    },
      """WITH ev AS (
           SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tsu, value
           FROM events)
         SELECT user_id, event_id, tsu,
           CAST(SUM(CAST(value AS DECIMAL(28,10))) OVER (
             PARTITION BY user_id ORDER BY tsu
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS rolling_1h,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY tsu
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h
         FROM ev
         ORDER BY user_id, tsu, event_id"""),

    // --- ordered conversion funnel: per user, the longest prefix of
    // view -> click -> signup -> purchase reached IN TIMESTAMP ORDER
    // (each stage's first instant strictly after the previous
    // stage's). Expressed as 4 chained per-user min-aggregates —
    // each stage is one map-side-combined agg + a broadcast-back
    // join of a |users|-sized stage table; no per-user sort, no
    // window over the event stream, no collect. Ties at the exact
    // same microsecond do NOT advance the funnel (strict >), which
    // makes the stage definition total and replayable.
    // funnel replay: 4 chained conditional min-aggregates, strict >
    // between stages, left joins onto the user universe.
    Query("q29_funnel", (s, dir) => {
      import s.implicits._
      graft.rep.Joins.funnel(
        Star.events(s, dir).select($"user_id", $"event_type",
          unix_micros($"ts").as("tsu")),
        stages = Seq("view", "click", "signup", "purchase"))
        .orderBy($"user_id")
    },
      """WITH ev AS (
           SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tsu
           FROM events),
         u AS (SELECT DISTINCT user_id FROM ev),
         s1 AS (SELECT user_id, min(tsu) AS t_view FROM ev
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.tsu) AS t_click
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.tsu > s1.t_view
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.tsu) AS t_signup
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'signup' AND e.tsu > s2.t_click
                GROUP BY e.user_id),
         s4 AS (SELECT e.user_id, min(e.tsu) AS t_purchase
                FROM ev e JOIN s3 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.tsu > s3.t_signup
                GROUP BY e.user_id)
         SELECT u.user_id,
           CAST(CAST(t_view IS NOT NULL AS INT)
             + CAST(t_click IS NOT NULL AS INT)
             + CAST(t_signup IS NOT NULL AS INT)
             + CAST(t_purchase IS NOT NULL AS INT) AS BIGINT)
             AS funnel_stage,
           t_view, t_click, t_signup, t_purchase
         FROM u LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id)
           LEFT JOIN s3 USING (user_id)
           LEFT JOIN s4 USING (user_id)
         ORDER BY user_id"""),

    // --- cohort retention matrix: users grouped by first-activity
    // week, distinct-active counts at each week offset — the classic
    // retention triangle. Week-truncated stamps make every offset an
    // exact multiple of 7 days (floor is belt-and-braces); cohorts
    // come from one min-aggregate broadcast back onto the stream,
    // and the matrix is a (cohorts x offsets)-bounded aggregate.
    // retention replay: same week truncation (ISO Monday start in
    // both engines), min-week cohort, floor day-diff / 7 offsets.
    Query("q30_retention", (s, dir) => {
      import s.implicits._
      val ev = Star.events(s, dir)
        .select($"user_id", date_trunc("week", $"ts").as("wk"))
      val first = ev.groupBy($"user_id").agg(min($"wk").as("cohort"))
      ev.join(broadcast(first), Seq("user_id"))
        .select($"cohort",
          floor(datediff($"wk".cast("date"), $"cohort".cast("date"))
            .cast("double") / 7.0).cast("long").as("week_offset"),
          $"user_id")
        .groupBy($"cohort", $"week_offset")
        .agg(count_distinct($"user_id").as("n_active"))
        .orderBy($"cohort", $"week_offset")
    },
      """WITH ev AS (
           SELECT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
           FROM events),
         first AS (
           SELECT user_id, min(wk) AS cohort FROM ev
           GROUP BY user_id)
         SELECT f.cohort,
           CAST(floor(date_diff('day', CAST(f.cohort AS DATE),
             CAST(e.wk AS DATE)) / 7.0) AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
         FROM ev e JOIN first f USING (user_id)
         GROUP BY f.cohort, week_offset
         ORDER BY f.cohort, week_offset"""),

    // --- hourly rate anomaly: per event_type, each observed hour's
    // count z-scored against its trailing 24 OBSERVED hours (row
    // frame — empty hours are absent in both engines, so the basis
    // is identical). Decimal-exact trailing moments; z on the
    // rounded scale; hours with < 6 trailing observations report
    // z = 0 (no baseline). The telemetry burst/outage detector.
    // rate-anomaly replay: same observed-hour basis, decimal
    // trailing moments over ROWS 24 PRECEDING .. 1 PRECEDING.
    Query("q31_rate_anomaly", (s, dir) => {
      import s.implicits._
      val hourly = Star.events(s, dir)
        .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy($"event_type").orderBy($"hour")
        .rowsBetween(-24, -1)
      val cnt = count(lit(1)).over(w)
      val mu = sum($"n".cast("decimal(38,12)")).over(w)
        .cast("double") / cnt.cast("double")
      val msq = sum(($"n" * $"n").cast("decimal(38,12)")).over(w)
        .cast("double") / cnt.cast("double")
      val sg = sqrt(greatest(lit(0.0), msq - mu * mu))
      val z = when(cnt >= 6 && sg > 0.0,
        round(($"n".cast("double") - mu) / sg, 6)).otherwise(0.0)
      hourly.select($"event_type", $"hour", $"n", z.as("z"))
        .withColumn("anomalous", abs($"z") >= 3.0)
        .orderBy($"event_type", $"hour")
    },
      """WITH hourly AS (
           SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             count(*) AS n
           FROM events GROUP BY event_type, hour),
         m AS (
           SELECT event_type, hour, n,
             COUNT(*) OVER tw AS cnt,
             CAST(SUM(CAST(n AS DECIMAL(38,12))) OVER tw AS DOUBLE)
               AS s1,
             CAST(SUM(CAST(n * n AS DECIMAL(38,12))) OVER tw
               AS DOUBLE) AS s2
           FROM hourly
           WINDOW tw AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         zt AS (
           SELECT event_type, hour, n,
             CASE WHEN cnt >= 6 AND
               sqrt(greatest(0.0, s2 / cnt - (s1/cnt) * (s1/cnt)))
                 > 0.0
               THEN round((CAST(n AS DOUBLE) - s1 / cnt) /
                 sqrt(greatest(0.0, s2 / cnt - (s1/cnt) * (s1/cnt))),
                 6)
               ELSE 0.0 END AS z
           FROM m)
         SELECT event_type, hour, n, z, abs(z) >= 3.0 AS anomalous
         FROM zt ORDER BY event_type, hour"""),

    // --- table profiler ("ANALYZE" as an operator): per-column
    // nonnull counts + exact cardinality in one pass, with the HLL
    // estimate graded against the exact value (ndv_ok) — the catalog
    // statistics that drive broadcast/join-order decisions. At scale
    // the approx column alone is the product; the exact pass is the
    // audit harness.
    // profiler replay: exact per-column counts; ndv_ok is replayed
    // DATA-DERIVED — DuckDB grades its OWN HLL estimate against its
    // exact distinct count under the same 10% band (the
    // each-engine-checks-its-own-sketch device), so the row stays
    // green on any dataset where both engines' sketches behave,
    // rather than baking in a hardcoded `true`.
    Query("q32_profile", (s, dir) =>
      graft.functions.Profile.profile(table(s, dir, "lineitem"),
          Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
            "l_shipdate"))
        .orderBy(col("col_name")),
      """SELECT * FROM (
           SELECT 'l_orderkey' AS col_name,
             count(l_orderkey) AS n_nonnull,
             count(DISTINCT l_orderkey) AS ndv,
             abs(approx_count_distinct(l_orderkey)
               - count(DISTINCT l_orderkey))
               <= 0.1 * count(DISTINCT l_orderkey) AS ndv_ok
           FROM lineitem
           UNION ALL
           SELECT 'l_partkey', count(l_partkey),
             count(DISTINCT l_partkey),
             abs(approx_count_distinct(l_partkey)
               - count(DISTINCT l_partkey))
               <= 0.1 * count(DISTINCT l_partkey) FROM lineitem
           UNION ALL
           SELECT 'l_quantity', count(l_quantity),
             count(DISTINCT l_quantity),
             abs(approx_count_distinct(l_quantity)
               - count(DISTINCT l_quantity))
               <= 0.1 * count(DISTINCT l_quantity) FROM lineitem
           UNION ALL
           SELECT 'l_returnflag', count(l_returnflag),
             count(DISTINCT l_returnflag),
             abs(approx_count_distinct(l_returnflag)
               - count(DISTINCT l_returnflag))
               <= 0.1 * count(DISTINCT l_returnflag) FROM lineitem
           UNION ALL
           SELECT 'l_shipdate', count(l_shipdate),
             count(DISTINCT l_shipdate),
             abs(approx_count_distinct(l_shipdate)
               - count(DISTINCT l_shipdate))
               <= 0.1 * count(DISTINCT l_shipdate) FROM lineitem)
         ORDER BY col_name"""),

    // --- exact-replay Pearson matrix: one pass of decimal sums, the
    //     correlation assembled row-locally from the final integers
    //     (the built-in corr's running-double rounding depends on
    //     partitioning — this one replays bit-for-bit).
    Query("q41_corr_matrix", (s, dir) =>
      graft.functions.Profile.corrMatrix(table(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("col_a"), col("col_b")),
      corrMatrixOracle),

    // --- physical layout report: per-file row counts off
    //     input_file_name — the compaction diagnostic. (The oracle
    //     asserts the testdata layout: one file per table.)
    // layout replay: the testdata tables are single parquet FILES, so
    // the report is (basename, row count) — the engine side genuinely
    // derives both from input_file_name over the scan.
    Query("q43_layout_report", (s, dir) =>
      graft.functions.Profile.layoutReport(table(s, dir, "lineitem"))
        .orderBy(col("file_name")),
      """SELECT 'lineitem.parquet' AS file_name,
           COUNT(*) AS n_rows
         FROM lineitem"""),

    // --- key-skew report: the measurement that triggers salting —
    //     top keys by count with share + skew-vs-mean factors.
    // skew replay: per-key counts + the 1-row totals, same rounding.
    Query("q42_skew_report", (s, dir) =>
      graft.rep.Joins.skewReport(table(s, dir, "lineitem"),
          "l_suppkey", topK = 15)
        .orderBy(col("n").desc, col("key_value").asc),
      """WITH counts AS (
           SELECT COALESCE(CAST(l_suppkey AS VARCHAR), '<NULL>')
             AS key_value, COUNT(*) AS n
           FROM lineitem GROUP BY 1),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                        COUNT(*) AS nkeys FROM counts)
         SELECT key_value, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n AS DOUBLE) * nkeys / total, 6) AS skew
         FROM counts, tot
         ORDER BY n DESC, key_value ASC LIMIT 15"""),

    // --- Z-order layout audit: 32 equal Morton-curve segments over
    // (l_partkey, l_suppkey) with each segment's span in BOTH keys —
    // the per-file min/max stats a scan would prune against after an
    // OPTIMIZE-ZORDER rewrite (ZOrder.zorderLayout is the write
    // path; this is its audit. The global ntile window is the
    // bounded diagnostic — production layout uses the range
    // shuffle, never a global window).
    // zorder replay: the Morton interleave unrolled as literal bit
    // arithmetic, identical ntile order (strict (z, orderkey,
    // linenumber) total order).
    Query("q33_zorder", (s, dir) =>
      graft.functions.ZOrder.zorderAudit(table(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", nBuckets = 32,
          tieCols = Seq("l_orderkey", "l_linenumber"))
        .orderBy(col("bucket")),
      {
      def spread(x: String, sh: Int) = (0 until 16).map(i =>
        s"((((($x) % 65536) >> $i) & 1) << ${2 * i + sh})")
        .mkString(" | ")
      val z = s"(${spread("l_partkey", 0)} | ${spread("l_suppkey", 1)})"
      s"""WITH z AS (
           SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
             $z AS _z
           FROM lineitem),
         b AS (SELECT *, CAST(ntile(32) OVER (
             ORDER BY _z ASC, l_orderkey ASC, l_linenumber ASC)
             AS BIGINT) AS bucket FROM z)
         SELECT bucket, count(*) AS n_rows,
           min(l_partkey) AS min_l_partkey,
           max(l_partkey) AS max_l_partkey,
           min(l_suppkey) AS min_l_suppkey,
           max(l_suppkey) AS max_l_suppkey
         FROM b GROUP BY bucket ORDER BY bucket"""
    }),

    // --- 3-way star top-k (TPC-H Q3 shape): segment-filtered
    //     customer ⋈ date-filtered orders ⋈ date-filtered lineitem,
    //     revenue per order, top 10. All three filters are Column
    //     exprs pushed to their scans; the 1-column customer key set
    //     broadcasts (Catalyst picks it from size stats — a segment
    //     of customer keys stays the small side against the
    //     fact-fact join at any SF where it fits, and AQE demotes to
    //     shuffle when it doesn't); top-k is TakeOrderedAndProject,
    //     never a global sort. PlanSpec gates all three properties.
    // Q3-shape star replay: same three pushdown filters, same
    // decimal-exact revenue, same (revenue desc, orderkey) top-10.
    Query("q34_star_topk", (s, dir) => {
      import s.implicits._
      val cut = lit("1998-06-01").cast("timestamp")
      val c = table(s, dir, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey")
      val o = table(s, dir, "orders")
        .filter($"o_orderdate" < cut)
        .select($"o_orderkey", $"o_custkey", $"o_orderdate",
          $"o_orderpriority")
      val li = table(s, dir, "lineitem")
        .filter($"l_shipdate" > cut)
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
        .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey".asc)
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-01'
           AND l_shipdate > TIMESTAMP '1998-06-01'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""),

    // --- 4-way star with group-by (TPC-H Q10 shape): returned-item
    //     revenue per customer over a one-year order window, joined
    //     out to nation for the report column. nation (25 rows by
    //     schema) is explicitly broadcast — the genuinely
    //     always-small dimension; customer joins by shuffle on the
    //     key it shares with orders (both corpus-sized at 100 TB).
    // Q10-shape 4-way replay: returned items, one-year order window,
    // per-customer revenue with the nation report column, top 20.
    Query("q35_star_4way", (s, dir) => {
      import s.implicits._
      val li = table(s, dir, "lineitem")
        .filter($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      val o = table(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp") &&
          $"o_orderdate" < lit("2000-01-01").cast("timestamp"))
        .select($"o_orderkey", $"o_custkey")
      val c = table(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_acctbal", $"c_nationkey")
      val n = broadcast(table(s, dir, "nation"))
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(n, $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
        .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"revenue".desc, $"c_custkey".asc)
        .limit(20)
    },
      """SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1999-01-01'
           AND o_orderdate < TIMESTAMP '2000-01-01'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""),

    // --- correlated scalar subquery (TPC-H Q17 shape): small-order
    //     revenue for one brand, each lineitem gated by 20% of ITS
    //     part's average quantity. Written as the correlated form on
    //     purpose — Catalyst DECORRELATES it into a per-part
    //     aggregate joined back (PlanSpec gates: no ScalarSubquery
    //     survives to the physical plan, no cartesian, the
    //     brand-filtered part side broadcasts). Decimal-exact
    //     sum/count instead of avg() so the threshold is
    //     partition-order-free in both engines.
    // Q17-shape replay: the identical correlated form (DuckDB
    // decorrelates it the same way), decimal-exact threshold.
    Query("q37_corr_subquery", (s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("q37_lineitem")
      table(s, dir, "part").createOrReplaceTempView("q37_part")
      s.sql("""
        SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE) / 7.0, 6) AS avg_yearly,
               COUNT(*) AS n_items
        FROM q37_lineitem JOIN q37_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#4'
          AND l_quantity < (
            SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity
                     AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
            FROM q37_lineitem l2 WHERE l2.l_partkey = p_partkey)
      """)
    },
      """SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
               AS DOUBLE) / 7.0, 6) AS avg_yearly,
             COUNT(*) AS n_items
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#4'
           AND l_quantity < (
             SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity
                      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),

    // --- anti-join (TPC-H Q22 shape): customers with NO order in
    //     1999 (the lapsed-customer cut), summarized per segment.
    //     left_anti is the shuffle-pruned NOT EXISTS — no
    //     null-padding, the probe side never materializes matches;
    //     the date filter pushes to the orders scan and at 100 TB
    //     AQE turns the distinct-custkey build side into a
    //     broadcast anti join when it fits.
    // Q22-shape anti-join replay via NOT EXISTS.
    Query("q38_antijoin", (s, dir) => {
      import s.implicits._
      table(s, dir, "customer")
        .join(table(s, dir, "orders")
            .filter($"o_orderdate" >= lit("1999-01-01").cast("timestamp") &&
              $"o_orderdate" < lit("2000-01-01").cast("timestamp"))
            .select($"o_custkey").distinct(),
          $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sumDec($"c_acctbal").as("sum_acctbal"))
        .orderBy($"c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_acctbal
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '1999-01-01'
                             AND o.o_orderdate < TIMESTAMP '2000-01-01')
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // --- zlib'd-CSV round-trip (Formats.Csv + deflate codec — the
    //     reference's zlib-wraps-any-serial move, SER:703-723,
    //     through a TEXT format end-to-end): write customer as
    //     deflate-compressed CSV, read it back through the same
    //     registry entry with an explicit schema, aggregate. The
    //     oracle reads the PARQUET source — a hash match proves the
    //     values survived the text serialization + codec round-trip.
    // zlib-CSV round-trip: the oracle reads the PARQUET source.
    Query("q39_zlib_csv_roundtrip", (s, dir) => {
      import s.implicits._
      val scratch = s"${graft.Scratch.root}/q39_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val fmt = graft.serial.Formats.Csv()
      val src = table(s, dir, "customer")
      fmt.write(src, scratch, Some("deflate"))
      fmt.read(s, Seq(scratch), Some(src.schema))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sumDec($"c_acctbal").as("sum_acctbal"),
          count(when($"c_name".isNotNull, 1)).as("n_names"))
        .orderBy($"c_mktsegment")
    },
      """SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_acctbal,
           COUNT(CASE WHEN c_name IS NOT NULL THEN 1 END) AS n_names
         FROM customer
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // --- ORC round-trip (Formats.Orc end-to-end): write a lineitem
    //     projection (incl. a timestamp column) as zlib ORC, read it
    //     back through the same registry entry, aggregate. The
    //     DuckDB oracle computes the identical aggregate from the
    //     parquet source — a hash match proves the values (decimal
    //     sums, timestamps) survived the ORC write+read bit-exactly.
    // ORC round-trip: the oracle reads the PARQUET source — a hash
    // match proves the engine's ORC write+read preserved every value.
    Query("q36_orc_roundtrip", (s, dir) => {
      import s.implicits._
      val scratch = s"${graft.Scratch.root}/q36_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val src = table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity",
          $"l_extendedprice", $"l_returnflag", $"l_shipdate")
      graft.serial.Formats.Orc.write(src, scratch, Some("zlib"))
      graft.serial.Formats.Orc.read(s, Seq(scratch), None)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"),
          sumDec($"l_quantity").as("sum_qty"),
          sumDec($"l_extendedprice").as("sum_price"),
          max($"l_shipdate").as("max_shipdate"))
        .orderBy($"l_returnflag")
    },
      """SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           MAX(l_shipdate) AS max_shipdate
         FROM lineitem
         GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // --- TPC-H Q21 shape (suppliers who kept orders waiting,
    //     reference-free analog): for each supplier, count the
    //     multi-supplier orders where it is the ONLY supplier with a
    //     returned ('R') line — one EXISTS and one NOT EXISTS, both
    //     correlated on (orderkey, suppkey<>). Expressed as
    //     left-semi + left-anti joins over the DISTINCT
    //     (order, supplier) sets so the anti pair never rescans
    //     lineitem; top-10 rides TakeOrderedAndProject.
    // Q21 shape: correlated EXISTS + NOT EXISTS over the distinct
    // (order, supplier) sets; numwait desc + name asc makes the
    // top-10 deterministic.
    Query("q40_sole_offender", (s, dir) => {
      import s.implicits._
      val l = table(s, dir, "lineitem")
      val offenders = l.filter($"l_returnflag" === "R")
        .select($"l_orderkey", $"l_suppkey").distinct()
      val alls = l.select($"l_orderkey", $"l_suppkey").distinct()
      val multi = offenders.as("a").join(alls.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" &&
          $"a.l_suppkey" =!= $"b.l_suppkey", "left_semi")
      val sole = multi.as("a").join(offenders.as("c"),
        $"a.l_orderkey" === $"c.l_orderkey" &&
          $"a.l_suppkey" =!= $"c.l_suppkey", "left_anti")
      sole.groupBy($"l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(table(s, dir, "supplier"),
          $"l_suppkey" === $"s_suppkey")
        .select($"s_name", $"numwait")
        .orderBy($"numwait".desc, $"s_name".asc)
        .limit(10)
    },
      """WITH off AS (
           SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
           WHERE l_returnflag = 'R'),
         alls AS (
           SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
         SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
         FROM off a JOIN supplier s ON s.s_suppkey = a.l_suppkey
         WHERE EXISTS (
             SELECT 1 FROM alls b
             WHERE b.l_orderkey = a.l_orderkey
               AND b.l_suppkey <> a.l_suppkey)
           AND NOT EXISTS (
             SELECT 1 FROM off c
             WHERE c.l_orderkey = a.l_orderkey
               AND c.l_suppkey <> a.l_suppkey)
         GROUP BY s.s_name
         ORDER BY numwait DESC, s_name ASC LIMIT 10""")
  )

  /** [[inventory]] by name: the builds, then the oracles. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    inventory.queries

  lazy val oracleSql: Map[String, String] = inventory.oracleSql

  /** q41 replay: the same one-pass decimal sums and the same
    * double-assembly parenthesization — both engines round the same
    * exact integers the same way. */
  private def corrMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount",
      "l_tax")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    // 19 digits forces DuckDB's HUGEINT multiply path (the 18-digit
    // INT64 path overflows at runtime); result (38,12) stays exact,
    // matching Spark's (18,6)x(18,6) -> (37,12)
    def dec(c: String) = s"CAST($c AS DECIMAL(19,6))"
    val aggs = (cols.flatMap(c => Seq(
      s"SUM(${dec(c)}) AS s_$c",
      s"SUM(CAST(${dec(c)} * ${dec(c)} AS DECIMAL(38,12))) AS q_$c")) ++
      pairs.map { case (a, b) =>
        s"SUM(CAST(${dec(a)} * ${dec(b)} AS DECIMAL(38,12))) " +
          s"AS p_${a}_$b" } :+
      "COUNT(*) AS n").mkString(",\n             ")
    val rows = pairs.map { case (a, b) =>
      val (n, sx, sy, sxx, syy, sxy) = ("CAST(n AS DOUBLE)",
        s"CAST(s_$a AS DOUBLE)", s"CAST(s_$b AS DOUBLE)",
        s"CAST(q_$a AS DOUBLE)", s"CAST(q_$b AS DOUBLE)",
        s"CAST(p_${a}_$b AS DOUBLE)")
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
             round(($n * $sxy - $sx * $sy) /
               sqrt(($n * $sxx - $sx * $sx) *
                    ($n * $syy - $sy * $sy)), 6) AS corr
           FROM agg"""
    }.mkString("\n           UNION ALL ")
    val notNull = cols.map(c => s"$c IS NOT NULL").mkString(" AND ")
    s"""WITH agg AS MATERIALIZED (
           SELECT $aggs
           FROM lineitem WHERE $notNull)
         SELECT * FROM (
           $rows)
         ORDER BY col_a, col_b"""
  }

}
