package graft.queries

import graft.Tables
import graft.ops.Money
import org.apache.spark.sql.functions._

/** Second relational batch: deep star joins through broadcast dimension
  * chains, scalar/correlated subqueries, GROUPING SETS, pivot, map-typed
  * columns, and the SQL-text API over registered views. */
object Relational2Queries extends QueryRegistry {

  // ---- TPC-H Q5-style: 5-way star join, all dimensions broadcast; the
  // only large shuffle is lineitem⋈orders on orderkey.
  private val q5 = NamedQuery(
    "q5_region_revenue",
    (spark, d) => {
      val li = Tables.lineitem(spark, d)
      val ord = Tables.orders(spark, d)
      val cust = Tables.customer(spark, d)
      val nat = Tables.nation(spark, d)
      val reg = Tables.region(spark, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(Money.centsSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
    Some(s"""SELECT r_name, n_name,
        |  ${Money.centsSumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin))

  // ---- TPC-H Q17-style scalar subquery: parts whose lineitems fall
  // below 50% of that part's average quantity. Spark plans the correlated
  // aggregate as a pre-aggregated self-join (no per-row subquery loop).
  private val q17 = NamedQuery(
    "q17_small_quantity",
    (spark, d) => {
      val li = Tables.lineitem(spark, d)
      val avgQ = li.groupBy(col("l_partkey").as("ap_partkey"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      li.join(avgQ, li("l_partkey") === avgQ("ap_partkey"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg(Money.centsSum(col("l_extendedprice")).as("total_price"),
          count(lit(1)).as("n"))
    },
    Some(s"""SELECT ${Money.centsSumSql("l_extendedprice")} AS total_price, count(*) AS n
        |FROM lineitem l
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem
        |                    WHERE l_partkey = l.l_partkey)""".stripMargin))

  // ---- Explicit GROUPING SETS with grouping() disambiguation.
  private val gsets = NamedQuery(
    "q_grouping_sets",
    (spark, d) => {
      Tables.orders(spark, d).createOrReplaceTempView("gs_orders")
      spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  count(*) AS n
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
          |                        (o_orderstatus, o_orderpriority))
          |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
          |         o_orderpriority NULLS FIRST""".stripMargin)
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
        |                        (o_orderstatus, o_orderpriority))
        |ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin))

  // ---- Pivot with explicit value list (deterministic columns); the
  // oracle is the equivalent manual CASE pivot.
  private val pivot = NamedQuery(
    "q_pivot_status",
    (spark, d) => Tables.orders(spark, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  // ---- Map-typed columns: build a map, access/keys/size; emitted as
  // deterministic scalars (map columns themselves don't hash portably).
  private val maps = NamedQuery(
    "q_map_funcs",
    (spark, d) => Tables.nation(spark, d)
      .join(Tables.customer(spark, d)
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_cust"),
            Money.centsSum(col("c_acctbal")).as("bal")),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"),
        map_from_entries(array(
          struct(lit("n_cust").as("k"), col("n_cust").cast("double").as("v")),
          struct(lit("bal").as("k"), col("bal").cast("double").as("v")))).as("m"))
      .select(col("n_name"),
        element_at(col("m"), "n_cust").cast("long").as("n_cust"),
        element_at(col("m"), "bal").as("bal"),
        size(col("m")).as("m_size"),
        array_join(map_keys(col("m")), ",").as("keys"))
      .orderBy("n_name"),
    Some(s"""SELECT n_name, n_cust, bal, 2 AS m_size, 'n_cust,bal' AS keys
        |FROM (SELECT n_name, count(*) AS n_cust, ${Money.centsSumSql("c_acctbal")} AS bal
        |      FROM nation JOIN customer ON n_nationkey = c_nationkey
        |      GROUP BY n_name) t
        |ORDER BY n_name""".stripMargin))

  // ---- The SQL-text API surface: same engine, queries authored as SQL
  // over registered temp views (Tables.registerAll).
  private val sqlText = NamedQuery(
    "q_sql_text_api",
    (spark, d) => {
      graft.Tables.registerAll(spark, d)
      spark.sql(
        s"""SELECT p_brand, count(DISTINCT p_type) AS n_types,
          |  ${Money.centsMeanSparkSql("p_retailprice")} AS avg_price
          |FROM part WHERE p_size >= 10
          |GROUP BY p_brand
          |HAVING count(*) > 5
          |ORDER BY p_brand""".stripMargin)
    },
    Some(s"""SELECT p_brand, count(DISTINCT p_type) AS n_types,
        |  ${Money.centsMeanSql("p_retailprice")} AS avg_price
        |FROM part WHERE p_size >= 10
        |GROUP BY p_brand
        |HAVING count(*) > 5
        |ORDER BY p_brand""".stripMargin))

  // ---- Extended window functions: ntile, percent_rank, cume_dist,
  // nth_value, first/last over explicit frames.
  private val windows2 = NamedQuery(
    "q_window_extended",
    (spark, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(desc("c_acctbal"), col("c_custkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.customer(spark, d)
        .select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 2).over(wf).as("second_richest"),
          first(col("c_custkey")).over(wf).as("richest"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(c_custkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS second_richest,
        |  first_value(c_custkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS richest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin))

  // ---- Multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicates.
  private val setAll = NamedQuery(
    "q_set_multiset",
    (spark, d) => {
      val a = Tables.orders(spark, d).filter(col("o_orderstatus") === "O")
        .select(col("o_custkey"))
      val b = Tables.orders(spark, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      a.intersectAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n_inter"))
        .join(a.exceptAll(b).groupBy("o_custkey").agg(count(lit(1)).as("n_except")),
          Seq("o_custkey"), "full")
        .na.fill(0L, Seq("n_inter", "n_except"))
        .orderBy("o_custkey")
    },
    Some("""WITH a AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |ia AS (SELECT o_custkey, count(*) AS n_inter
        |       FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) t GROUP BY 1),
        |ea AS (SELECT o_custkey, count(*) AS n_except
        |       FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) t GROUP BY 1)
        |SELECT coalesce(ia.o_custkey, ea.o_custkey) AS o_custkey,
        |  coalesce(n_inter, 0) AS n_inter, coalesce(n_except, 0) AS n_except
        |FROM ia FULL JOIN ea ON ia.o_custkey = ea.o_custkey
        |ORDER BY o_custkey""".stripMargin))

  // ---- Bivariate statistics: Pearson correlation + sample covariance.
  private val corrQ = NamedQuery(
    "q_corr_covar",
    (spark, d) => Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_discount"), col("l_tax")), 8).as("cov_dt"))
      .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_discount, l_tax), 8) AS cov_dt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))

  // ---- Correlated EXISTS / NOT EXISTS through the SQL text API:
  // Catalyst decorrelates both subqueries into semi/anti joins (TPC-H
  // Q4's shape, adapted to the fixture columns).
  private val existsQ = NamedQuery(
    "q_exists_returns",
    (spark, d) => {
      graft.Tables.registerAll(spark, d)
      spark.sql(
        """SELECT o_orderpriority,
          |  count(*) AS n_with_returns
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
          |  AND NOT EXISTS (SELECT 1 FROM lineitem
          |                  WHERE l_orderkey = o_orderkey AND l_quantity > 49)
          |GROUP BY o_orderpriority
          |ORDER BY o_orderpriority""".stripMargin)
    },
    Some("""SELECT o_orderpriority, count(*) AS n_with_returns
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin))

  // ---- UNPIVOT (wide → long): the Dataset melt API vs DuckDB UNPIVOT.
  private val unpivotQ = NamedQuery(
    "q_unpivot_measures",
    (spark, d) => Tables.lineitem(spark, d)
      .filter(col("l_orderkey") < 100)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "measure", "value")
      // (l_orderkey, l_linenumber) is NOT unique in the fixture — `value`
      // in the sort key makes the row order engine-deterministic
      .orderBy("l_orderkey", "l_linenumber", "measure", "value"),
    Some("""SELECT l_orderkey, l_linenumber, measure, value
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
        |                      l_extendedprice, l_discount
        |               FROM lineitem WHERE l_orderkey < 100)
        |      ON l_quantity, l_extendedprice, l_discount
        |      INTO NAME measure VALUE value) t
        |ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin))

  // ---- LATERAL correlated subquery (SQL text): per-nation top spender —
  // the "top-n per group via lateral" idiom Catalyst decorrelates.
  private val lateralQ = NamedQuery(
    "q_lateral_top_spender",
    (spark, d) => {
      graft.Tables.registerAll(spark, d)
      spark.sql(
        """SELECT n.n_name, t.c_custkey AS top_custkey, t.c_acctbal AS top_acctbal
          |FROM nation n,
          |  LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
          |           FROM customer
          |           WHERE c_nationkey = n.n_nationkey
          |           ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
          |ORDER BY n.n_name""".stripMargin)
    },
    Some("""SELECT n.n_name, t.c_custkey AS top_custkey, t.c_acctbal AS top_acctbal
        |FROM nation n,
        |  LATERAL (SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
        |           FROM customer
        |           WHERE c_nationkey = n.n_nationkey
        |           ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
        |ORDER BY n.n_name""".stripMargin))

  // ---- Ordered string aggregation (listagg / string_agg WITHIN GROUP):
  // the ordered group-concat primitive as first-class SQL (the engine's
  // tagging concat is the same move via array_sort + array_join).
  private val listaggQ = NamedQuery(
    "q_listagg_types",
    (spark, d) => Tables.part(spark, d)
      .filter(col("p_size") <= 3)
      .groupBy("p_brand")
      .agg(array_join(array_sort(collect_set(col("p_type"))), ",")
        .as("types"),
        count(lit(1)).as("n"))
      .orderBy("p_brand"),
    Some("""SELECT p_brand,
        |  string_agg(DISTINCT p_type, ',' ORDER BY p_type) AS types,
        |  count(*) AS n
        |FROM part WHERE p_size <= 3
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin))

  // ---- MERGE/upsert semantics, expressed relationally: updates (matched
  // keys overwrite) + inserts (new keys append) applied to a base table
  // via FULL OUTER JOIN + coalesce — the engine-portable formulation of
  // MERGE INTO for engines without a mutable table layer. The price
  // delta is an exact double add (+10.0), so no rounding is needed until
  // the final order-dependent sum.
  private val upsertQ = NamedQuery(
    "q_upsert_merge",
    (spark, d) => {
      val base = Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val upd = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          lit("0-UPSERTED").as("o_orderpriority"),
          (col("o_totalprice") + 10.0).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 10 === 1)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            lit("9-INSERTED").as("o_orderpriority"),
            (col("o_totalprice") + 10.0).as("o_totalprice")))
      base.as("b").join(upd.as("u"),
          col("b.o_orderkey") === col("u.o_orderkey"), "full")
        .select(
          coalesce(col("u.o_orderpriority"), col("b.o_orderpriority")).as("prio"),
          coalesce(col("u.o_totalprice"), col("b.o_totalprice")).as("price"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"), Money.centsSum(col("price")).as("total"))
        .orderBy("prio")
    },
    Some(s"""WITH base AS (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders),
        |upd AS (
        |  SELECT o_orderkey, '0-UPSERTED' AS o_orderpriority,
        |         o_totalprice + 10.0 AS o_totalprice
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, '9-INSERTED', o_totalprice + 10.0
        |  FROM base WHERE o_orderkey % 10 = 1)
        |SELECT coalesce(u.o_orderpriority, b.o_orderpriority) AS prio,
        |  count(*) AS n,
        |  ${Money.centsSumSql("coalesce(u.o_totalprice, b.o_totalprice)")} AS total
        |FROM base b FULL JOIN upd u ON b.o_orderkey = u.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin))

  // ---- Exact top-3 orders per priority. Spark plans the
  // `row_number() <= k` filter as a map-side WindowGroupLimit (Partial)
  // before the exchange and a Final one after it, so the shuffle carries
  // at most k rows per group per partition, not the table (PlansSpec
  // pins the shape). Under the total order (price desc, key) the row set
  // matches the oracle's window query exactly. The cost: the map side
  // sorts its partition first, O(n log n) where a bounded heap is
  // O(n log k) — about 2x this query's wall at sf0.1 (one scan
  // partition, 4 cores), 0.32 → 0.62 s.
  private val topkPerGroup = NamedQuery(
    "q_topk_per_group",
    (spark, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(spark, d)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
        .orderBy("o_orderpriority", "o_orderkey")
    },
    Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderpriority, o_orderkey""".stripMargin))

  // ---- Bitwise function family: and/or/xor/shifts/popcount — the bit
  // arithmetic used by signature/bucket schemes throughout the engine
  // (simhash bands, LSH keys), exercised here as a function-surface
  // checklist query.
  private val bitwiseQ = NamedQuery(
    "q_bitwise_funcs",
    (spark, d) => Tables.orders(spark, d)
      .filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("k_and"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("k_or"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("k_xor"),
        shiftleft(col("o_orderkey"), 3).as("k_shl"),
        shiftright(col("o_orderkey"), 2).as("k_shr"),
        bit_count(col("o_orderkey")).as("k_pop"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
        |  o_orderkey & 255 AS k_and,
        |  o_orderkey | 4096 AS k_or,
        |  xor(o_orderkey, o_custkey) AS k_xor,
        |  o_orderkey << 3 AS k_shl,
        |  o_orderkey >> 2 AS k_shr,
        |  bit_count(o_orderkey) AS k_pop
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin))

  val all: Seq[NamedQuery] =
    Seq(q5, q17, gsets, pivot, maps, sqlText, windows2, setAll, corrQ,
      existsQ, unpivotQ, lateralQ, listaggQ, upsertQ, topkPerGroup, bitwiseQ)
}
